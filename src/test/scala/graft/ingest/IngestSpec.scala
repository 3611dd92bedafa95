package graft.ingest

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end ingest smoke tests per SURVEY.md §5: partitioned layout,
  * committed-rows accounting, summary-line format, static vs dynamic
  * routing, bucket fan-out. */
class IngestSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp(): String =
    Files.createTempDirectory("graft-ingest").toString

  test("batch ingest writes static year=2018/month=streamIdx ORC layout") {
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 4)
    val res = Ingest.runBatch(spark, cfg, 10000)
    assert(res.rowsCommitted == 10000)
    val d = new java.io.File(dir)
    assert(new java.io.File(d, "year=2018/month=0").isDirectory)
    assert(new java.io.File(d, "year=2018/month=1").isDirectory)
    val back = spark.read.orc(dir)
    assert(back.count() == 10000)
    assert(back.columns.toSet == Set("user_id", "page_id", "ad_id", "ad_type",
      "event_type", "event_time", "ip_address", "year", "month"))
    // bucket fan-out: ≤ buckets data files per partition directory
    val files = new java.io.File(d, "year=2018/month=0")
      .listFiles().count(_.getName.endsWith(".orc"))
    assert(files <= 4 && files > 0)
  }

  test("dynamic partitioning routes by generated year/month values") {
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      dynamicPartitioning = true, buckets = 0)
    Ingest.runBatch(spark, cfg, 5000)
    val years = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("year=")).map(_.getName)
    assert(years.length > 1, "dynamic mode should produce many year= dirs")
    assert(years.forall { y =>
      val v = y.stripPrefix("year=").toInt; v >= 2000 && v <= 2049
    })
    val back = spark.read.orc(dir)
    val mm = back.agg(min("month"), max("month")).collect().head
    assert(mm.getInt(0) >= 0 && mm.getInt(1) <= 11)
  }

  test("dynamic partitioning with buckets keeps <= buckets files per dir") {
    val dir = tmp()
    Ingest.runBatch(spark, IngestConfig(outputPath = Some(dir), parallelism = 4,
      dynamicPartitioning = true, buckets = 8), 20000)
    val dirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("year="))
      .flatMap(_.listFiles()).filter(_.getName.startsWith("month="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".orc"))
      assert(files <= 8, s"${d.getName}: $files files > 8 buckets")
    }
  }

  test("summary lines match the reference format") {
    val dir = tmp()
    val res = Ingest.runBatch(spark,
      IngestConfig(outputPath = Some(dir), buckets = 0), 1000)
    assert(res.summaryLines.head == "Total rows committed: 1000")
    assert(res.summaryLines(1).matches("Throughput: \\d+ rows/second"))
  }

  test("ingested data round-trips through the query surface") {
    // the reference user's workflow: culvert writes, Hive queries —
    // here: batch ingest 60k rows, read the ORC back, and verify the
    // deterministic round-robin dictionary counts survive the
    // write+read cycle exactly
    val dir = tmp()
    Ingest.runBatch(spark,
      IngestConfig(outputPath = Some(dir), parallelism = 4, buckets = 4), 60000)
    val counts = spark.read.orc(dir)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("view" -> 20000L, "click" -> 20000L, "purchase" -> 20000L))
    val adCounts = spark.read.orc(dir)
      .groupBy("ad_type").count()
      .collect().map(r => r.getLong(1)).toSet
    assert(adCounts == Set(12000L))
  }

  test("commitBatch is idempotent: a replayed batch does not duplicate rows") {
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)
    val raw = spark.range(0, 1000, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    val first = Ingest.commitBatch(cfg, dir, raw, batchId = 7)
    val replay = Ingest.commitBatch(cfg, dir, raw, batchId = 7)
    assert(first == 1000 && replay == 0)
    assert(spark.read.orc(dir).count() == 1000)
    assert(new java.io.File(dir, "_commits/7").exists)
    assert(!new java.io.File(dir, "_staging/7").exists)
  }

  test("expectations split the commit: clean rows publish, violators quarantine with rule names") {
    val dir = tmp(); val q = tmp() + "/quarantine"
    import graft.api.Profiling.Check
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2,
      expectations = Seq(Check.InSet("event_type", Seq("view", "click"))),
      quarantinePath = Some(q))
    val raw = spark.range(0, 1000, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    val committed = Ingest.commitBatch(cfg, dir, raw, batchId = 3)
    val table = spark.read.orc(dir)
    val quar = spark.read.parquet(q)
    val nq = quar.count()
    assert(nq > 0, "the 3-value event_type dict must produce 'purchase' rows")
    assert(committed == 1000 - nq, "committed counts only clean rows")
    assert(table.count() == committed)
    assert(table.filter(col("event_type") === "purchase").count() == 0)
    assert(quar.filter(col("event_type") =!= "purchase").count() == 0)
    assert(quar.filter(col("violations") =!= "in_set(event_type)").count() == 0)
    assert(quar.filter(col("batch_token") =!= "3").count() == 0)
    // replay with the marker present: no-op on table AND quarantine
    assert(Ingest.commitBatch(cfg, dir, raw, batchId = 3) == 0)
    assert(spark.read.parquet(q).count() == nq)
    // a bad rule column fails at startup, before any batch publishes
    intercept[Exception] {
      Ingest.runBatchCommitted(spark, cfg.copy(expectations =
        Seq(Check.NotNull("nope"))), 10)
    }
    // expectations without a quarantine path fail upfront too
    intercept[Exception] {
      Ingest.runBatchCommitted(spark, cfg.copy(quarantinePath = None), 10)
    }
  }

  test("bucketed files are hash-disjoint in user_id (one bucket per file)") {
    // the `clustered by (user_id) into N buckets` contract: every data
    // file holds exactly one pmod(hash(user_id), N) value — pins the
    // salted-exchange identity routing end-to-end on real files
    val dir = tmp()
    Ingest.runBatch(spark,
      IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 4), 20000)
    val perFile = spark.read.orc(dir)
      .select(input_file_name().as("file"),
        pmod(hash(col("user_id")), lit(4)).as("bucket"))
      .groupBy("file").agg(countDistinct(col("bucket")).as("nb"))
    assert(perFile.filter(col("nb") > 1).isEmpty,
      "each file must hold exactly one user_id hash bucket")
  }

  test("a replay after a crash mid-publish does not duplicate rows") {
    // crash model: files were renamed into the destination dirs but the
    // marker was never written; the restarted query re-runs the batch.
    // Without the pre-publish scrub the old b7-* files and the replay's
    // fresh-UUID files would BOTH be visible to plain directory readers.
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)
    val raw = spark.range(0, 1000, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    assert(Ingest.commitBatch(cfg, dir, raw, batchId = 7) == 1000)
    // simulate the crash: publish happened, marker lost
    assert(new java.io.File(dir, "_commits/7").delete())
    assert(Ingest.commitBatch(cfg, dir, raw, batchId = 7) == 1000)
    assert(spark.read.orc(dir).count() == 1000,
      "replay after mid-publish crash must scrub half-published files")
    assert(new java.io.File(dir, "_commits/7").exists)
  }

  test("committedView reads only batches whose commit marker exists") {
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)
    def raw(from: Long, until: Long) = spark.range(from, until, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    assert(Ingest.commitBatch(cfg, dir, raw(0, 1000), batchId = 1) == 1000)
    assert(Ingest.commitBatch(cfg, dir, raw(1000, 1500), batchId = 2) == 500)
    // crash window: batch 2's files are published but its marker is gone
    assert(new java.io.File(dir, "_commits/2").delete())
    // a plain directory reader sees the uncommitted files...
    assert(spark.read.orc(dir).count() == 1500)
    // ...the committed view sees exactly the committed batch
    val cv = graft.core.Tables.committedView(spark, dir)
    assert(cv.count() == 1000)
    // partition columns survive path-based loading (basePath)
    assert(cv.columns.contains("year") && cv.columns.contains("month"))
  }

  test("schema evolution: merged committed view unions by name, rejects type conflicts") {
    import Gen.ColType._
    val dir = tmp()
    def raw(n: Long) = spark.range(0, n, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    val v1 = IngestConfig(outputPath = Some(dir), parallelism = 1, buckets = 2,
      columns = Some(Seq(Gen.ColSpec("user_id", StringUuidPool),
        Gen.ColSpec("amount", LongT))))
    // v2 ADDS a column — the compatible evolution every long-lived
    // table eventually needs
    val v2 = v1.copy(columns = Some(Seq(Gen.ColSpec("user_id", StringUuidPool),
      Gen.ColSpec("amount", LongT),
      Gen.ColSpec("channel", StringDict, Seq("web", "app")))))
    assert(Ingest.commitBatch(v1, dir, raw(100), batchId = 1) == 100)
    assert(Ingest.commitBatch(v2, dir, raw(50), batchId = 2) == 50)
    // default (fixed-schema) view is unchanged behavior; the merged
    // view is the union-by-name: old rows read null for the new column
    val merged = graft.core.Tables.committedView(spark, dir, mergeSchemas = true)
    assert(merged.columns.contains("channel"))
    assert(merged.count() == 150)
    assert(merged.filter(col("channel").isNull).count() == 100)
    assert(merged.filter(col("channel").isNotNull).count() == 50)
    // the snapshot read merges too
    val asOf = graft.core.Tables.committedViewAsOf(spark, dir, 2, mergeSchemas = true)
    assert(asOf.count() == 150 && asOf.columns.contains("channel"))
    // v3 REDEFINES amount at another type: the merged view must fail
    // loudly at load, not let one file's footer win silently
    val v3 = v1.copy(columns = Some(Seq(Gen.ColSpec("user_id", StringUuidPool),
      Gen.ColSpec("amount", StringDict, Seq("low", "high")))))
    assert(Ingest.commitBatch(v3, dir, raw(10), batchId = 3) == 10)
    val e = intercept[Exception] {
      graft.core.Tables.committedView(spark, dir, mergeSchemas = true).count()
    }
    assert(e.getMessage != null)
  }

  test("committedView across a crash-and-replay cycle sees exactly the committed rows") {
    // the full protocol round trip (VERDICT r5 #6): two committed
    // batches, a crash window that leaves batch 2 half-published (files
    // renamed, marker lost), the reader-side negative case, then the
    // replay — which must scrub the orphans, republish, and re-commit —
    // and the reader-side positive case, with no duplicate files left
    // for even a plain directory reader
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)
    def raw(from: Long, until: Long) = spark.range(from, until, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    assert(Ingest.commitBatch(cfg, dir, raw(0, 1000), batchId = 1) == 1000)
    assert(Ingest.commitBatch(cfg, dir, raw(1000, 1500), batchId = 2) == 500)
    assert(new java.io.File(dir, "_commits/2").delete())
    assert(graft.core.Tables.committedView(spark, dir).count() == 1000,
      "half-published batch must stay invisible to the committed view")
    assert(Ingest.commitBatch(cfg, dir, raw(1000, 1500), batchId = 2) == 500,
      "replay of the crashed batch must republish, not skip")
    assert(graft.core.Tables.committedView(spark, dir).count() == 1500)
    assert(spark.read.orc(dir).count() == 1500,
      "replay must scrub orphaned b2-* files — no duplicates for plain readers")
    assert(new java.io.File(dir, "_commits/2").exists)
  }

  test("committedView with zero committed batches still returns a typed frame") {
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)
    val raw = spark.range(0, 100, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    assert(Ingest.commitBatch(cfg, dir, raw, batchId = 1) == 100)
    // crash window: published files, marker lost — nothing is committed
    assert(new java.io.File(dir, "_commits/1").delete())
    val cv = graft.core.Tables.committedView(spark, dir)
    assert(cv.count() == 0, "uncommitted files must stay invisible")
    // downstream column references behave like the populated path
    assert(cv.columns.contains("user_id") && cv.columns.contains("year"))
    assert(cv.filter(org.apache.spark.sql.functions.col("year") === 2018).count() == 0)
    // declared-schema variant on a sink with no files at all
    val empty = tmp()
    val schema = cv.schema
    val cv2 = graft.core.Tables.committedView(spark, empty, schema = Some(schema))
    assert(cv2.count() == 0 && cv2.schema == schema)
  }

  test("concurrent commit groups keep accounting, layout, and committed view") {
    val dir = tmp()
    // 2 groups × 2 streams: group queries commit in parallel with
    // group-tagged files/markers and disjoint static month ranges
    val cfg = IngestConfig(
      outputPath = Some(dir), parallelism = 4, commitGroups = 2,
      eventsPerSecond = 2000, commitAfterNRows = 500, timeoutMs = 15000,
      buckets = 2)
    val res = Ingest.run(spark, cfg)
    assert(res.rowsCommitted > 0, "no rows committed within timeout")
    val back = spark.read.orc(dir)
    assert(back.count() == res.rowsCommitted,
      "rowsCommitted must equal rows visible in the sink")
    // global stream-index space: group 0 → months {0,1}, group 1 → {2,3}
    val months = back.select("month").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(months.subsetOf(Set(0, 1, 2, 3)), s"unexpected months $months")
    assert(months.exists(_ >= 2), "offset group must write its own month range")
    // group-tagged markers exist and the committed view honors them
    val markers = new java.io.File(dir, "_commits").list().toSeq
    assert(markers.exists(_.startsWith("g0-")) && markers.exists(_.startsWith("g1-")))
    assert(graft.core.Tables.committedView(spark, dir).count() == res.rowsCommitted)
  }

  test("group-tagged commits compose with dynamic partitioning (shared dirs, no collisions)") {
    // dynamic mode routes BOTH groups into the same year=/month= dirs by
    // generated value — only the group-tagged file names keep their
    // batches apart. Drive commitBatch directly (deterministic; a
    // streaming run would spend the whole test window exploding each
    // micro-batch into the ~600 dynamic dirs).
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      dynamicPartitioning = true, buckets = 2)
    def raw(from: Long, until: Long) = spark.range(from, until, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    // same batchId=0 in both groups — the collision case a shared
    // 0-based micro-batch counter produces
    assert(Ingest.commitBatch(cfg, dir, raw(0, 400), 0, Some("g0")) == 400)
    assert(Ingest.commitBatch(cfg, dir, raw(0, 400), 0, Some("g1")) == 400)
    // identical row ranges → identical dynamic dirs; both batches visible
    val back = spark.read.orc(dir)
    assert(back.count() == 800)
    val months = back.select("month").distinct().collect().map(_.getInt(0))
    assert(months.forall(m => m >= 0 && m <= 11))
    assert(graft.core.Tables.committedView(spark, dir).count() == 800)
    // replay of one group's batch stays idempotent, the other untouched
    assert(Ingest.commitBatch(cfg, dir, raw(0, 400), 0, Some("g0")) == 0)
    assert(spark.read.orc(dir).count() == 800)
  }

  test("a failed commit group does not take down the healthy groups") {
    val dir = tmp()
    // sabotage group 1: a plain FILE where its checkpoint dir must go —
    // that query dies; group 0 must keep committing and the run must
    // report group 0's rows (reference semantics: a dead stream thread
    // leaves the others streaming, Culvert.java:100-171)
    new java.io.File(dir, "_checkpoint").mkdirs()
    assert(new java.io.File(dir, "_checkpoint/g1").createNewFile())
    val cfg = IngestConfig(
      outputPath = Some(dir), parallelism = 2, commitGroups = 2,
      eventsPerSecond = 2000, commitAfterNRows = 500, timeoutMs = 15000,
      buckets = 2)
    val res = Ingest.run(spark, cfg)
    assert(res.rowsCommitted > 0, "healthy group must keep committing")
    assert(spark.read.orc(dir).count() == res.rowsCommitted)
    // no leaked queries after the run
    assert(spark.streams.active.isEmpty, "all queries must be stopped")
  }

  test("streaming ingest commits batches and accounts committed rows only") {
    val dir = tmp()
    // generous timeout: under heavy external machine load the first
    // micro-batch can take several seconds; a tight window makes this
    // test flaky on a contended box
    val cfg = IngestConfig(
      outputPath = Some(dir), parallelism = 2, eventsPerSecond = 2000,
      commitAfterNRows = 500, timeoutMs = 15000, buckets = 2)
    val res = Ingest.run(spark, cfg)
    assert(res.rowsCommitted > 0, "no rows committed within timeout")
    assert(res.commits > 0)
    // committed accounting == rows actually readable from the sink
    val back = spark.read.orc(dir)
    assert(back.count() == res.rowsCommitted,
      "rowsCommitted must equal rows visible in the sink")
    // static layout from the streaming path too
    assert(new java.io.File(dir, "year=2018").isDirectory)
    // throughput formula: committed rows / configured timeout seconds
    assert(res.throughputRowsPerSec == res.rowsCommitted / (cfg.timeoutMs / 1000))
  }

  test("streaming ingest honors expectations: sink clean, quarantine tagged, accounting consistent") {
    val dir = tmp(); val q = tmp() + "/quarantine"
    import graft.api.Profiling.Check
    val cfg = IngestConfig(
      outputPath = Some(dir), parallelism = 2, eventsPerSecond = 2000,
      commitAfterNRows = 500, timeoutMs = 15000, buckets = 2,
      expectations = Seq(Check.InSet("event_type", Seq("view", "click"))),
      quarantinePath = Some(q))
    val res = Ingest.run(spark, cfg)
    assert(res.rowsCommitted > 0, "no rows committed within timeout")
    val back = spark.read.orc(dir)
    assert(back.count() == res.rowsCommitted,
      "committed accounting counts only the clean slice in the sink")
    assert(back.filter(col("event_type") === "purchase").count() == 0)
    val quar = spark.read.parquet(q)
    assert(quar.count() > 0 &&
      quar.filter(col("violations") =!= "in_set(event_type)").count() == 0)
  }

  test("runBatchCommitted publishes through the commit protocol, replay-safe") {
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2)
    val res = Ingest.runBatchCommitted(spark, cfg, 5000, batches = 2)
    assert(res.rowsCommitted == 5000)
    assert(new java.io.File(dir, "_commits/0").exists)
    assert(new java.io.File(dir, "_commits/1").exists)
    assert(graft.core.Tables.committedView(spark, dir).count() == 5000)
    // a re-run is an idempotent replay: markers exist, nothing re-publishes
    val replay = Ingest.runBatchCommitted(spark, cfg, 5000, batches = 2)
    assert(replay.rowsCommitted == 0)
    assert(graft.core.Tables.committedView(spark, dir).count() == 5000)
    assert(spark.read.orc(dir).count() == 5000, "no duplicate files either")
  }

  test("commit-path PII scrub: sink redacted, ledger exact, replay idempotent") {
    val dir = tmp()
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2, redactPiiColumns = Seq("ip_address"))
    val res = Ingest.runBatchCommitted(spark, cfg, 3000, batches = 3)
    assert(res.rowsCommitted == 3000)
    val back = graft.core.Tables.committedView(spark, dir)
    // every generated row carries exactly one IPv4; the sink must
    // hold only the replacement token
    assert(back.filter(col("ip_address") =!= "<IP>").count() == 0)
    // ledger: one entry per batch, written before the marker; ip
    // totals sum to the row count, every other type zero
    val ledger = Ingest.piiLedger(spark, dir)
    assert(ledger.select("batch_token").distinct().count() == 3)
    val byType = ledger.groupBy("pii_type")
      .agg(sum("n_redacted").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("ip") == 3000L, s"ip ledger total: $byType")
    assert(byType.filter(_._1 != "ip").values.forall(_ == 0L), s"$byType")
    // replay: markers make it a 0-row no-op and the ledger stays
    // byte-stable (same tokens, same totals)
    val replay = Ingest.runBatchCommitted(spark, cfg, 3000, batches = 3)
    assert(replay.rowsCommitted == 0)
    assert(Ingest.piiLedger(spark, dir).agg(sum("n_redacted")).head.getLong(0)
      == byType.values.sum)
    assert(graft.core.Tables.committedView(spark, dir).count() == 3000)
  }

  test("PII scrub composes with expectations: quarantine is redacted too") {
    val dir = tmp(); val q = tmp() + "/quarantine"
    import graft.api.Profiling.Check
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2, redactPiiColumns = Seq("ip_address"),
      expectations = Seq(Check.InSet("event_type", Seq("view", "click"))),
      quarantinePath = Some(q))
    val res = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 1)
    val quar = spark.read.parquet(q)
    assert(quar.count() > 0, "the InSet rule should quarantine purchases")
    assert(quar.filter(col("ip_address") =!= "<IP>").count() == 0,
      "quarantined rows must be scrubbed before they persist")
    // the ledger counts the WHOLE batch (published + quarantined)
    val ipTotal = Ingest.piiLedger(spark, dir)
      .filter(col("pii_type") === "ip")
      .agg(sum("n_redacted")).head.getLong(0)
    assert(ipTotal == 2000L)
    assert(res.rowsCommitted + quar.count() == 2000L)
    // an empty batch commits 0 rows and still lands an all-zero ledger
    // entry before its marker
    val empty = spark.range(0, 0, 1, 2)
      .selectExpr("id as value", "cast(0 as int) as __pid")
    assert(Ingest.commitBatch(cfg, dir, empty, batchId = 9) == 0)
    assert(new java.io.File(dir, "_commits/9").exists)
    val emptyEntry = Ingest.piiLedger(spark, dir)
      .filter(col("batch_token") === "9").collect()
    assert(emptyEntry.map(_.getString(1)).toSet ==
      graft.api.Curation.PiiPatterns.map(_._1).toSet)
    assert(emptyEntry.forall(_.getLong(2) == 0L), emptyEntry.mkString(", "))
  }

  test("a scrubbed, expectation-checked commit runs a fixed number of Spark jobs") {
    import graft.api.Profiling.Check
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = tmp(); val q = tmp() + "/quarantine"
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2, redactPiiColumns = Seq("ip_address"),
      expectations = Seq(Check.InSet("event_type", Seq("view", "click"))),
      quarantinePath = Some(q))
    def raw(from: Long) = spark.range(from, from + 1000, 1, 2)
      .selectExpr("id as value", "cast(spark_partition_id() as int) as __pid")
    // jobs carry the submitting thread's local properties: count only
    // the ones tagged with this commit, then run a barrier job and wait
    // for its start event (the listener bus delivers in order)
    val key = "graft.test.commitJobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Ingest.commitBatch(cfg, dir, raw(0), batchId = 0) // warm-up
      sc.setLocalProperty(key, "commit")
      val committed = Ingest.commitBatch(cfg, dir, raw(1000), batchId = 1)
      sc.setLocalProperty(key, "barrier")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains("barrier") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("barrier"), "listener never saw the barrier job")
      assert(committed > 0)
      val jobs = seen.toArray.count(_ == "commit")
      // the route stage and the quarantine write, then the route stage
      // and the staging write: the batch runs once per write, and no
      // action runs only to count rows, quarantined rows or PII matches
      assert(jobs == 4, s"jobs of one scrubbed, expectation-checked commit: $jobs")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("PII scrub validates upfront: unknown or non-string column fails fast") {
    val dir = tmp()
    intercept[Exception](Ingest.runBatchCommitted(spark,
      IngestConfig(outputPath = Some(dir), parallelism = 1, buckets = 0,
        redactPiiColumns = Seq("nope")), 10))
    intercept[Exception](Ingest.runBatchCommitted(spark,
      IngestConfig(outputPath = Some(dir), parallelism = 1, buckets = 0,
        columns = Some(Seq(Gen.ColSpec("k", Gen.ColType.LongT))),
        redactPiiColumns = Seq("k")), 10))
  }

  test("commit-path near-dup suppression: keep-first, cross-batch filter, ledger, replay no-op") {
    val dir = tmp()
    val dict = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump today",
      "sphinx of black quartz judge my vow now",
      "the five boxing wizards jump quickly tonight")
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2,
      columns = Some(Seq(
        Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
        Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))),
      suppressNearDups = Some("text"))
    // batch 0 (rows 0..999): each dict text 200x, keep-first admits 5;
    // batch 1 (rows 1000..1999): the same 5 texts, all already in the
    // fingerprint filter — kept 0
    val res = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(res.rowsCommitted == 5, s"committed ${res.rowsCommitted}")
    val back = graft.core.Tables.committedView(spark, dir)
    assert(back.count() == 5)
    assert(back.select("text").distinct().count() == 5)
    val ledger = Ingest.dedupLedger(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(ledger.keySet == Set("0", "1"))
    assert(ledger("0")._1 == "none" && ledger("0")._2 == 995L &&
      ledger("0")._3 == 0L && ledger("0")._4 == 5L, s"$ledger")
    assert(ledger("1")._1 != "none" && ledger("1")._2 == 995L &&
      ledger("1")._3 == 5L && ledger("1")._4 == 0L, s"$ledger")
    // replay: marker-skipped no-op, ledger byte-stable
    val replay = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(replay.rowsCommitted == 0)
    assert(Ingest.dedupLedger(spark, dir).count() == 2)
    assert(graft.core.Tables.committedView(spark, dir).count() == 5)
  }

  test("near-dup suppression composes with expectations: committed = kept - quarantined") {
    import graft.api.Profiling.Check
    val dir = tmp(); val q = tmp() + "/quarantine"
    val dict = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump today",
      "sphinx of black quartz judge my vow now",
      "the five boxing wizards jump quickly tonight")
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2,
      columns = Some(Seq(
        Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
        Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))),
      suppressNearDups = Some("text"),
      expectations = Seq(Check.InSet("text", dict.take(3))),
      quarantinePath = Some(q))
    // batch 0 keeps one row per text (5), two of which violate the rule;
    // batch 1 keeps nothing
    val res = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    val kept = Ingest.dedupLedger(spark, dir).agg(sum("kept")).head.getLong(0)
    val quarantined = spark.read.parquet(q).count()
    assert(kept == 5L && quarantined == 2L, s"kept $kept, quarantined $quarantined")
    assert(res.rowsCommitted == kept - quarantined)
    assert(graft.core.Tables.committedView(spark, dir).count() == res.rowsCommitted)
  }

  test("near-dup suppression crash-replay reproduces the PINNED decision, no data loss") {
    val dir = tmp()
    // 3000 distinct texts: batches hit disjoint dict ranges, so batch 1
    // legitimately keeps all 1000 of its rows — whose fingerprints then
    // land in the filter. A replay of batch 1 (marker destroyed, the
    // crash-before-marker shape) consults the filter version its
    // _dedup ledger PINNED, not the current one that already contains
    // batch 1's own fingerprints — an unpinned consult would suppress
    // the entire batch and silently lose 1000 committed rows.
    // every word carries the index: texts share NO 3-word shingle, so
    // each gets a distinct min-shingle fingerprint (a shared prefix
    // like "alpha beta gamma tok$i" would make ~2/3 of texts share
    // fp = min(prefix-shingle hashes) — legitimate suppression, wrong
    // test)
    val dict = (0 until 3000).map(i => s"a$i b$i c$i d$i e$i")
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2,
      columns = Some(Seq(
        Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
        Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))),
      suppressNearDups = Some("text"))
    val res = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(res.rowsCommitted == 2000)
    val ledgerBefore = Ingest.dedupLedger(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ledgerBefore("1").getLong(4) == 1000L)
    // simulate the crash: marker 1 never landed (files + ledger +
    // filter append did)
    val marker = new java.io.File(dir, "_commits/1")
    assert(marker.exists); assert(marker.delete())
    assert(graft.core.Tables.committedView(spark, dir).count() == 1000)
    val replay = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(replay.rowsCommitted == 1000,
      s"pinned replay must re-admit batch 1's rows, got ${replay.rowsCommitted}")
    assert(graft.core.Tables.committedView(spark, dir).count() == 2000)
    val ledgerAfter = Ingest.dedupLedger(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ledgerAfter("1").getString(1) == ledgerBefore("1").getString(1),
      "replay must pin the same consulted version")
    assert(ledgerAfter("1").getLong(4) == 1000L)
  }

  test("near-dup suppression works through the STREAMING commit path") {
    // rawStream and rawBatch share the (value, __pid) shape, so the
    // suppressor composes into run() via the same commitBatch — prove
    // it end to end: a 5-text dictionary stream commits exactly the 5
    // distinct texts no matter how many micro-batches land, and the
    // ledger's kept-sum agrees.
    val dir = tmp()
    val dict = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump today",
      "sphinx of black quartz judge my vow now",
      "the five boxing wizards jump quickly tonight")
    val cfg = IngestConfig(
      outputPath = Some(dir), parallelism = 2, eventsPerSecond = 2000,
      commitAfterNRows = 500, timeoutMs = 15000, buckets = 2,
      columns = Some(Seq(
        Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
        Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))),
      suppressNearDups = Some("text"))
    val res = Ingest.run(spark, cfg)
    assert(res.commits > 0, "no commits within timeout")
    assert(res.rowsCommitted == 5,
      s"a 5-text stream must commit exactly 5 rows, got ${res.rowsCommitted}")
    val back = graft.core.Tables.committedView(spark, dir)
    assert(back.count() == 5 && back.select("text").distinct().count() == 5)
    val ledger = Ingest.dedupLedger(spark, dir)
    assert(ledger.agg(sum("kept")).head.getLong(0) == 5L)
    assert(ledger.count() >= 1)
  }

  test("vacuum collapses commit-loop filter versions; a vacuumed pinned replay fails loudly") {
    val dir = tmp()
    val dict = (0 until 3000).map(i => s"va$i vb$i vc$i vd$i ve$i")
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2,
      columns = Some(Seq(
        Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
        Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))),
      suppressNearDups = Some("text"))
    assert(Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
      .rowsCommitted == 2000)
    // every commit's fp append left a superseded Bloom version behind
    val fdir = new java.io.File(dir, "_neardup_filter")
    def versions() = fdir.listFiles().count(f =>
      f.isDirectory && !f.getName.startsWith("_"))
    assert(versions() >= 2, s"expected >=2 filter versions, got ${versions()}")
    val vacuumed = Compact.vacuum(spark, dir)
    assert(vacuumed >= 1, "vacuum must count the collapsed filter versions")
    assert(versions() == 1)
    // the surviving current version still serves new commits
    assert(Ingest.runBatchCommitted(spark, cfg, 3000, batches = 3)
      .rowsCommitted == 1000, "batch 2 commits its disjoint 1000 texts")
    // but a crash-replay pinned to a vacuumed version is LOUD, never a
    // silently different suppression decision. (This marker-deleted-
    // after-vacuum ordering is synthetic — the protocol never unwrites
    // a marker, and the torn-ledger keep-set protects every REAL
    // crash ordering — so this pins the defense-in-depth failure mode
    // of an operator vacuuming the filter directly.) The cache clear
    // simulates the fresh process a real replay runs in: in-process,
    // markSeen's pinned-version cache would otherwise serve the
    // vacuumed state and correctly reproduce the decision.
    assert(new java.io.File(dir, "_commits/1").delete())
    graft.api.Dedup.clearSeenStateCache()
    val e = intercept[Exception](
      Ingest.runBatchCommitted(spark, cfg, 3000, batches = 3))
    assert(e.getMessage.contains("no longer exists"),
      s"wanted the vacuumed-version message, got: ${e.getMessage}")
  }

  test("vacuum between a crash and its replay keeps the pinned filter version (ADVICE r16)") {
    val dir = tmp()
    val dict = (0 until 3000).map(i => s"ka$i kb$i kc$i kd$i ke$i")
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2,
      columns = Some(Seq(
        Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
        Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))),
      suppressNearDups = Some("text"))
    assert(Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
      .rowsCommitted == 2000)
    val pinned = Ingest.dedupLedger(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap.apply("1")
    assert(pinned != "none")
    // crash shape: batch 1's marker never landed (ledger + filter
    // append did) — and THEN a vacuum runs. The torn ledger's pinned
    // version must survive the filter vacuum or the replay is wedged
    // until an operator deletes the ledger (the one vacuum action that
    // could break the otherwise-automatic replay protocol).
    assert(new java.io.File(dir, "_commits/1").delete())
    Compact.vacuum(spark, dir)
    assert(new java.io.File(dir, s"_neardup_filter/$pinned").isDirectory,
      "vacuum must keep the crash-replay's pinned filter version")
    val replay = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(replay.rowsCommitted == 1000,
      s"replay after vacuum must re-admit batch 1's rows, got ${replay.rowsCommitted}")
    assert(Ingest.dedupLedger(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap.apply("1") == pinned,
      "replay must still pin the same consulted version")
    // with the marker back, the next vacuum is free to collapse it
    Compact.vacuum(spark, dir)
    val fdir = new java.io.File(dir, "_neardup_filter")
    assert(fdir.listFiles().count(f =>
      f.isDirectory && !f.getName.startsWith("_")) == 1)
  }

  test("fully-suppressed batches still enter the seen-ids filter; torn _dedup ledgers are loud") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val filter = new java.io.File(tmp(), "seen").toString
    val dict = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump today",
      "sphinx of black quartz judge my vow now",
      "the five boxing wizards jump quickly tonight")
    val cols = Seq(
      Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
      Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      buckets = 2, columns = Some(cols),
      seenFilterPath = Some(filter), seenFilterExpectedItems = 100000L,
      suppressNearDups = Some("text"))
    val res = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(res.rowsCommitted == 5) // batch 1 keeps ZERO rows
    // the seen-ids contract: batch 1's user_ids were SEEN even though
    // every row was suppressed — they must flag (review r16: the guard
    // briefly tested kept-count and skipped exactly this batch)
    val batch1Ids = spark.range(1000L, 2000L)
      .select(Gen.expr(cols.head, cfg.seed, col("id")).as("user_id"))
    assert(graft.api.Dedup.markSeen(spark, batch1Ids, "user_id", filter)
      .filter(!col("probably_seen")).isEmpty,
      "a fully-suppressed batch's ids must still enter the seen filter")
    // a truncated _dedup ledger (crash artifact with no pin line) must
    // fail the replay loudly, never silently disable suppression
    assert(new java.io.File(dir, "_commits/1").delete())
    // through the Hadoop FS (raw java.io would orphan the .crc sidecar
    // and read back as ChecksumException, not the torn-ledger path)
    val hp = new org.apache.hadoop.fs.Path(dir, "_dedup/1")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = hfs.create(hp, true)
    try torn.write("suppressed_within=995\n".getBytes("UTF-8"))
    finally torn.close()
    val e = intercept[IllegalStateException](
      Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2))
    assert(e.getMessage.contains("no basedOnVersion"),
      s"wanted the torn-ledger message, got: ${e.getMessage}")
  }

  test("near-dup suppression composes with concurrent commit groups: no double-admit") {
    // VERDICT r16 #7: two commit groups stream the SAME 5-text
    // dictionary concurrently (each group's rate source re-renders the
    // same round-robin texts). Without the per-filter-path critical
    // section both groups' first commits could pin the same filter
    // version and each admit all 5 texts — 10 committed rows. With it,
    // whichever group consults first admits; the other sees its
    // fingerprints and suppresses — exactly 5 rows, ever, regardless
    // of interleaving.
    val dir = tmp()
    val dict = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "how vexingly quick daft zebras jump today",
      "sphinx of black quartz judge my vow now",
      "the five boxing wizards jump quickly tonight")
    val cfg = IngestConfig(
      outputPath = Some(dir), parallelism = 2, commitGroups = 2,
      eventsPerSecond = 2000, commitAfterNRows = 500, timeoutMs = 15000,
      buckets = 2,
      columns = Some(Seq(
        Gen.ColSpec("user_id", Gen.ColType.StringUuidPool),
        Gen.ColSpec("text", Gen.ColType.StringDict, dict = dict))),
      suppressNearDups = Some("text"))
    val res = Ingest.run(spark, cfg)
    assert(res.commits > 0, "no commits within timeout")
    assert(res.rowsCommitted == 5,
      s"two suppressing groups over one 5-text dict must admit exactly 5 " +
        s"rows, got ${res.rowsCommitted} (a double-admit means the " +
        "critical section failed)")
    val back = graft.core.Tables.committedView(spark, dir)
    assert(back.count() == 5 && back.select("text").distinct().count() == 5)
    val ledger = Ingest.dedupLedger(spark, dir)
    assert(ledger.agg(sum("kept")).head.getLong(0) == 5L)
    // both groups must actually have committed (group-tagged ledger
    // entries) — otherwise this proved single-group behavior again
    val groups = ledger.collect().map(_.getString(0).takeWhile(_ != '-'))
      .filter(_.startsWith("g")).toSet
    assert(groups == Set("g0", "g1"),
      s"expected commits from both groups, saw tokens for: $groups")
  }

  test("near-dup suppression validates upfront: unknown or non-string column fails fast") {
    val dir = tmp()
    intercept[Exception](Ingest.runBatchCommitted(spark,
      IngestConfig(outputPath = Some(dir), parallelism = 1, buckets = 0,
        suppressNearDups = Some("nope")), 10))
    intercept[Exception](Ingest.runBatchCommitted(spark,
      IngestConfig(outputPath = Some(dir), parallelism = 1, buckets = 0,
        columns = Some(Seq(Gen.ColSpec("k", Gen.ColType.LongT))),
        suppressNearDups = Some("k")), 10))
  }

  test("commit loop maintains the seen filter: committed ids flag, others don't") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val filter = new java.io.File(tmp(), "seen").toString
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2, buckets = 2,
      seenFilterPath = Some(filter), seenFilterExpectedItems = 100000L)
    val res = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(res.rowsCommitted == 2000)
    // the filter must exist and flag EVERY committed id (user_id, the
    // first data column) — the no-false-negative guarantee wired under
    // the commit loop's natural single-writer serialization
    assert(graft.api.Dedup.seenFilterExists(spark, filter))
    val committedIds = Ingest.batchFrame(spark,
        cfg.copy(buckets = 0, seenFilterPath = None), 2000)
      .select("user_id")
    assert(graft.api.Dedup.markSeen(spark, committedIds, "user_id", filter)
      .filter(!col("probably_seen")).isEmpty,
      "every committed batch's ids must flag")
    // ids of rows NEVER ingested (pool slots 500000+, disjoint from the
    // first 2000): mostly unflagged — bounded false positives only
    val unseen = spark.range(500000L, 502000L)
      .select(graft.ingest.Gen.expr(graft.ingest.Gen.defaultColumns.head,
        cfg.seed, col("id")).as("user_id"))
    val fps = graft.api.Dedup.markSeen(spark, unseen, "user_id", filter)
      .filter(col("probably_seen")).count()
    assert(fps <= 100, s"uncommitted ids must not flag ($fps/2000 false positives)")
    // an idempotent replay (markers exist) must not re-append or error
    val replay = Ingest.runBatchCommitted(spark, cfg, 2000, batches = 2)
    assert(replay.rowsCommitted == 0)
  }

  test("concurrent streaming commit groups share one seen filter safely") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val filter = new java.io.File(tmp(), "seen").toString
    // two commit groups = two foreachBatch threads appending to the
    // SAME filter concurrently — the per-path lock serializes them;
    // a lost update would leave some committed id unflagged below
    val cfg = IngestConfig(outputPath = Some(dir), parallelism = 2,
      eventsPerSecond = 2000, commitAfterNRows = 500, timeoutMs = 15000,
      buckets = 2, commitGroups = 2,
      seenFilterPath = Some(filter), seenFilterExpectedItems = 100000L)
    val res = Ingest.run(spark, cfg)
    assert(res.rowsCommitted > 0, "no rows committed within timeout")
    assert(graft.api.Dedup.seenFilterExists(spark, filter))
    // the contract, read through the marker-honoring committedView —
    // the timeout's stop() can interrupt a commit between publish and
    // append, leaving published-but-unmarked files a plain directory
    // read would see (their ids were legitimately never appended)
    val committed = graft.core.Tables.committedView(spark, dir)
      .select("user_id")
    assert(graft.api.Dedup.markSeen(spark, committed, "user_id", filter)
      .filter(!col("probably_seen")).isEmpty,
      "a committed row's id failed to flag — an append was lost")
  }
}
