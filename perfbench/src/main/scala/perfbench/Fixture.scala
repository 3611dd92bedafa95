package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The small fixed tables the named queries read, generated from a
  * fixed seed so their result digests can be stored with the benchmark.
  * Same schemas as the engine's sf fixtures (`lineitem`, `documents`);
  * one parquet file per table under `dir`. */
object Fixture {
  val Seed = 20181L

  def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new java.util.Random(Seed)
    lineitem(spark, rnd).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    documents(spark, rnd).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
  }

  private def lineitem(spark: SparkSession, rnd: java.util.Random): DataFrame = {
    val day = 86400000L
    val start = java.sql.Timestamp.valueOf("1992-01-01 00:00:00").getTime
    val rows = (0 until 3000).map { i =>
      val qty = (1 + rnd.nextInt(50)).toDouble
      val cents = 90000L + rnd.nextInt(110000)
      // money is exact to the cent, as in the engine's fixtures
      Row((i / 4 + 1).toLong, (1 + rnd.nextInt(200)).toLong,
        (1 + rnd.nextInt(10)).toLong, i % 4 + 1, qty,
        BigDecimal(cents * qty.toLong, 2).toDouble,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
        new java.sql.Timestamp(start + rnd.nextInt(2525) * day))
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def documents(spark: SparkSession, rnd: java.util.Random): DataFrame = {
    val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de",
      "en", "the", "and", "of", "la", "el", "der", "zh", "qu", "st", "or")
    val vocab = (0 until 300).map(_ =>
      (1 to 2 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.size))).mkString)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 400).foreach { i =>
      // every tenth document is a near copy of one five places back, so
      // the near-dup queries have pairs to find
      val text =
        if (i % 10 == 9) {
          val w = texts(i - 5).split(' ')
          w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
          w.mkString(" ")
        } else Seq.fill(20 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      texts += text
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Seq("de", "en", "es", "fr", "zh")(rnd.nextInt(5)),
        s"src${rnd.nextInt(20)}", t.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Order-insensitive digest of a collected result: sha-256 over the
    * sorted row renderings. */
  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString.take(32)
  }
}
