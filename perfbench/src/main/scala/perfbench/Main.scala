package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Curation, Dedup, Profiling}
import graft.core.Tables
import graft.ingest.{Gen, Ingest, IngestConfig}

/** One benchmark run in one JVM: set up, run the workload's timed part,
  * check the outputs, and write every raw measurement to a JSON file.
  * `run.py` turns that file into the metric record.
  *
  * Usage: Main --workload ingest|curated_ingest --seed N --seconds S
  *             --trace 0|1 --work DIR --out FILE [--digests FILE]
  */
object Main {
  val RowsPerCommit = 100000L
  val Streams = 4
  val Buckets = 32
  /** Nominal seconds per commit on a 4-core box; the timed commit count
    * of a run is fixed from `--seconds` with these, so every run of a
    * workload does the same work on the same table size. */
  val NominalCommitS = Map("ingest" -> 4.5, "curated_ingest" -> 10.0)
  /** Named queries replayed in the traced run of `ingest`. */
  val Queries = Seq("q01_pricing_summary", "q44_near_dup_pairs",
    "q49_text_quality", "q215_bucketed_commit_join")

  final case class ReadOutcome(resolveMs: Double, scanMs: Double, files: Int,
                               exchanges: Int)

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String,
                        digests: Option[String])

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m.get("digests"))
  }

  def config(path: String, seed: Long, curated: Boolean): IngestConfig = {
    // the reference's published shape: default 7-column schema, static
    // partitions (year=2018, month=stream), 32 buckets on user_id,
    // p = 4 streams in one commit group, lz4 ORC, 100k-row commits
    val base = IngestConfig(outputPath = Some(path), parallelism = Streams,
      buckets = Buckets, commitAfterNRows = RowsPerCommit.toInt, seed = seed)
    if (!curated) base
    else base.copy(
      seenFilterPath = Some(s"${path}_seen"), seenFilterColumn = Some("user_id"),
      // sized for the table's lifetime id count, as the knob asks
      seenFilterExpectedItems = 2000000L,
      suppressNearDups = Some("user_id"),
      redactPiiColumns = Seq("ip_address"),
      expectations = Seq(Profiling.Check.InSet("event_type", Seq("view", "click"))),
      quarantinePath = Some(s"${path}_quarantine"))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    require(NominalCommitS.contains(o.workload), s"unknown workload ${o.workload}")
    val run = new Run(o)
    val raw = try run.execute() finally run.spark.stop()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValue(new java.io.File(o.out), raw)
  }
}

final class Run(o: Main.Opts) {
  import Main._

  val spark: SparkSession = graft.core.Sessions.local("perfbench", Streams.toString)
  private val tracer = new Tracer(spark.sparkContext, o.trace)
  private val listener = if (o.trace) {
    val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l)
  } else None
  private val curated = o.workload == "curated_ingest"
  private val rnd = new java.util.Random(o.seed)

  private var attempted = 0L
  private var failed = 0L
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val layers = mutable.LinkedHashMap.empty[String, Double]

  private def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, detail) = Try(body) match {
      case Success(r) => r
      case Failure(t) => (false, s"threw ${t.getClass.getSimpleName}: ${t.getMessage}")
    }
    if (!ok) failed += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    System.err.println(s"[perfbench] check $name ${if (ok) "ok" else "FAILED"}: $detail")
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, ms(t0))
  }

  /** Heap in use right after a full collection, summed over the heap
    * pools' post-GC usage. Two collections half a second apart: the
    * first lets Spark's ContextCleaner drop the blocks of broadcasts and
    * RDDs that became unreachable, the second collects what it freed. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def dirBytes(path: String, keep: String => Boolean): (Long, Long) = {
    var files = 0L; var bytes = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(walk)
      else if (keep(f.getName)) { files += 1; bytes += f.length }
    walk(new java.io.File(path))
    (files, bytes)
  }

  /** Commit batches `from` until `from + k` of [[RowsPerCommit]] rows,
    * one public `runBatchCommitted` call per commit: the call for batch
    * j covers batches 0..j, finds 0..j-1 already committed by their
    * markers, and commits only batch j — so each call is one commit. */
  private def commitLoop(cfg: IngestConfig, from: Int, k: Int): Seq[(Double, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Long)]
    var j = from
    while (j < from + k) {
      attempted += 1
      val t0 = System.nanoTime()
      Try(tracer.span("commit") {
        Ingest.runBatchCommitted(spark, cfg, (j + 1) * RowsPerCommit, batches = j + 1)
      }) match {
        case Success(r) => out += ((ms(t0), r.rowsCommitted)); j += 1
        case Failure(t) =>
          failed += 1
          System.err.println(s"[perfbench] commit $j failed: $t")
          j = from + k
      }
    }
    out.toSeq
  }

  /** Closed-form (ad_type, event_type) counts for rows [0, n): both
    * dictionaries are round-robin on the row index. */
  private def groupCounts(n: Long): Map[(String, String), Long] = {
    val ad = Gen.defaultColumns.find(_.name == "ad_type").get.dict
    val ev = Gen.defaultColumns.find(_.name == "event_type").get.dict
    val period = ad.size * ev.size
    (0 until period).map { r =>
      (ad(r % ad.size), ev(r % ev.size)) -> (if (r < n) (n - 1 - r) / period + 1 else 0L)
    }.toMap
  }

  private def userIdOf(cfg: IngestConfig, row: Long): String = {
    val spec = Gen.defaultColumns.head
    spark.range(row, row + 1).select(Gen.expr(spec, cfg.seed, col("id"))).head().getString(0)
  }

  private def hashExchanges(df: DataFrame): Int =
    "Exchange hashpartitioning".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size

  /** The committed reads of a table, each checked against its closed
    * form: resolve + full aggregate and the commit log; the bucketed
    * self-join on the cluster key is planned, and must plan without a
    * hash Exchange. With `full` (traced runs) the single-user_id filter
    * runs too and the self-join executes. `checked = false` makes a
    * warm-up read. */
  private def readSet(path: String, cfg: IngestConfig, rowsTotal: Long,
                      committed: Long, commits: Int, suppressed: Long,
                      full: Boolean, checked: Boolean): ReadOutcome = {
    def op[A](name: String)(body: => A): Option[A] = {
      attempted += 1
      Try(tracer.span(name)(body)) match {
        case Success(a) => Some(a)
        case Failure(t) =>
          failed += 1; System.err.println(s"[perfbench] read $name failed: $t"); None
      }
    }
    val (view, resolveMs) = timed(op("read.resolve")(Tables.committedView(spark, path)))
    val files = view.map(_.inputFiles.length).getOrElse(0)
    val (groups, scanMs) = timed(view.flatMap(v => op("read.aggregate") {
      v.groupBy("ad_type", "event_type").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }))
    val joined = op("read.bucketed_join") {
      val t = Tables.committedViewBucketed(spark, path)
      val j = t.select(col("user_id")).hint("merge")
        .join(t.select(col("user_id").as("u2")).hint("merge"), col("user_id") === col("u2"))
      (hashExchanges(j), if (full) j.agg(count(lit(1))).head().getLong(0) else -1L)
    }
    val log = op("read.commit_log") {
      val l = Tables.commitLog(spark, path)
      val rows = l.collect()
      Dedup.releaseMaterialized(l)
      rows.count(r => r.getAs[Boolean]("live") && r.getAs[String]("kind") == "commit")
    }
    // a row index whose row the table must hold: curated tables publish
    // only view/click rows (the expectation quarantines purchases)
    var probe = (rnd.nextDouble() * rowsTotal).toLong
    while (curated && probe % 3 == 2) probe = (probe + 1) % rowsTotal
    val one = if (!full) None else {
      val uid = userIdOf(cfg, probe)
      view.flatMap(v => op("read.filter")(v.filter(col("user_id") === uid).count()))
    }
    if (checked) {
      // rows < the 1M pool period, so every user_id is unique
      val expect = groupCounts(rowsTotal).filter { case ((_, e), _) => !curated || e != "purchase" }
      val got = groups.getOrElse(Map.empty)
      check("view_rows_eq_commit_rows") {
        (groups.isDefined && got.values.sum == committed, s"view=${got.values.sum} commits=$committed")
      }
      check("read.aggregate_closed_form") {
        val deficit = expect.map { case (k, n) => n - got.getOrElse(k, 0L) }
        val ok = got.keySet.subsetOf(expect.keySet) && deficit.forall(_ >= 0) &&
          deficit.sum == suppressed
        (ok, s"groups=${got.size} rows=${got.values.sum} expected=${expect.values.sum} suppressed=$suppressed")
      }
      check("read.bucketed_join_zero_exchange") {
        (joined.exists(_._1 == 0), s"hash exchanges=${joined.map(_._1).getOrElse(-1)}")
      }
      check("read.commit_log_live") {
        (log.contains(commits), s"live commits=${log.getOrElse(-1)} expected=$commits")
      }
      if (full) {
        check("read.filter_one_user") {
          (one.exists(n => n == 1 || (suppressed > 0 && n == 0)), s"row $probe -> ${one.getOrElse(-1)}")
        }
        check("read.bucketed_join_pairs") {
          (joined.exists(_._2 == committed), s"pairs=${joined.map(_._2).getOrElse(-1)} committed=$committed")
        }
      }
    }
    ReadOutcome(resolveMs, scanMs, files, joined.map(_._1).getOrElse(-1))
  }

  def execute(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new java.io.File(o.work).getAbsolutePath
    val k = math.max(1, math.round(o.seconds / NominalCommitS(o.workload)).toInt)

    // ---- set-up: the first commit of the measured table is the warm-up
    // commit. It carries the cold JVM's class loading, JIT and codegen
    // warm-up and the one-off work of a table's first commit (filter
    // builds, partition directories); none of it is timed.
    val path = s"$work/table"
    val cfg = config(path, o.seed, curated)
    val first = tracer.span("setup")(commitLoop(cfg, 0, 1))
    val setupMs = (System.currentTimeMillis() - jvmStart).toDouble

    // ---- timed part: k more commits
    val (commits, loopMs) = tracer.span("timed")(timed(commitLoop(cfg, 1, k)))
    val heap = mutable.ArrayBuffer(liveHeapMb())
    val all = first ++ commits
    val committed = all.map(_._2).sum
    val (liveFiles, liveBytes) = dirBytes(path, n => n.startsWith("b") && !n.endsWith(".crc"))

    // ---- correctness of the table: the committed reads against their
    // closed forms (a traced run reads once to warm up, then measures
    // the full read set), and the curated table's ledgers and filters
    val suppressed = if (curated) Try {
      Ingest.dedupLedger(spark, path).agg(sum(col("suppressed_within") + col("suppressed_seen")))
        .head().getLong(0)
    }.getOrElse(0L) else 0L
    val rowsTotal = all.size * RowsPerCommit
    if (o.trace) readSet(path, cfg, rowsTotal, committed, all.size, suppressed,
      full = false, checked = false)
    val read = tracer.span("reads")(readSet(path, cfg, rowsTotal, committed, all.size,
      suppressed, full = o.trace, checked = true))
    if (curated) curatedChecks(path, cfg, all)
    heap += liveHeapMb()

    // ---- traced run only: each layer's public function by itself
    if (o.trace) tracer.span("layers") {
      layerReplay(path, cfg)
      if (!curated) queryReplay(work)
    }
    listener.foreach(_ => org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext))

    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "setup_ms" -> setupMs,
      "commits" -> commits.map { case (t, n) => Map("ms" -> t, "rows" -> n) },
      "commit_loop_ms" -> loopMs,
      "rows_committed" -> commits.map(_._2).sum,
      "table_rows_committed" -> committed,
      "live_files" -> liveFiles, "live_bytes" -> liveBytes,
      "read_resolve_ms" -> read.resolveMs,
      "read_scan_ms" -> read.scanMs, "read_files" -> read.files,
      "read_join_exchanges" -> read.exchanges,
      "heap_after_gc_mb" -> heap.toSeq,
      "checks" -> checks.toSeq,
      "attempted" -> attempted, "failed" -> failed,
      "layers" -> layers.toMap,
      "spans" -> tracer.all.map(_.toMap),
      "jobs" -> listener.map(_.all.map(_.toMap)).getOrElse(Nil))
  }

  private def curatedChecks(path: String, cfg: IngestConfig,
                            commits: Seq[(Double, Long)]): Unit = {
    val committed = commits.map(_._2).sum
    val ledger = Try(Ingest.dedupLedger(spark, path).collect().toSeq)
    val kept = ledger.map(_.map(_.getAs[Long]("kept")).sum).getOrElse(-1L)
    check("ledger_accounts_every_row") {
      val rows = ledger.get
      val total = rows.map(r => r.getAs[Long]("kept") + r.getAs[Long]("suppressed_within") +
        r.getAs[Long]("suppressed_seen")).sum
      (total == commits.size * RowsPerCommit && rows.size == commits.size,
        s"ledger rows=${rows.size} accounted=$total attempted=${commits.size * RowsPerCommit}")
    }
    val quarantined = Try(spark.read.parquet(cfg.quarantinePath.get).count()).getOrElse(-1L)
    check("committed_eq_kept_minus_quarantined") {
      (committed == kept - quarantined, s"committed=$committed kept=$kept quarantined=$quarantined")
    }
    // one pass over every committed row: no IPv4 address survives the
    // scrub, and every committed user_id flags in the seen filter
    val scan = Try {
      val ipv4 = Curation.PiiPatterns.find(_._1 == "ip").get._2
      val view = Tables.committedView(spark, path).select(col("user_id"), col("ip_address"))
      Dedup.markSeen(spark, view, "user_id", cfg.seenFilterPath.get, "seen")
        .agg(count(lit(1)), sum(when(col("ip_address").rlike(ipv4), 1L).otherwise(0L)),
          sum(when(col("seen"), 0L).otherwise(1L))).head()
    }
    check("no_ipv4_published") {
      val n = scan.get.getLong(1)
      (n == 0, s"rows with an IPv4 address=$n")
    }
    check("seen_filter_flags_committed_ids") {
      val r = scan.get
      (r.getLong(0) == committed && r.getLong(2) == 0, s"rows=${r.getLong(0)} unflagged=${r.getLong(2)}")
    }
    layers("dedup.kept_ratio") = kept.toDouble / math.max(1L, commits.size * RowsPerCommit)
    layers("expect.quarantined_ratio") = quarantined.toDouble / math.max(1L, kept)
    layers("pii.redacted") = Try(Ingest.piiLedger(spark, path).agg(sum("n_redacted"))
      .head().getLong(0).toDouble).getOrElse(-1.0)
  }

  /** Replays one commit's input (rows [0, 100k) of the run's seed)
    * through each commit-path layer's public function, by itself, into
    * Spark's `noop` sink or a side directory. */
  private def layerReplay(path: String, cfg: IngestConfig): Unit = {
    val side = s"${new java.io.File(o.work).getAbsolutePath}/replay"
    def raw = spark.range(0, RowsPerCommit, 1, Streams)
      .select(col("id").as("value"), spark_partition_id().as("__pid"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def layer(name: String)(body: => Unit): Double = {
      attempted += 1
      val (r, t) = timed(Try(tracer.span(s"layer.$name")(body)))
      if (r.isFailure) { failed += 1; System.err.println(s"[perfbench] layer $name failed: ${r.failed.get}") }
      t
    }
    val gen = layer("gen")(noop(Gen.generate(raw, Gen.defaultColumns, cfg.seed)))
    layers("gen.busy_ms") = gen
    layers("gen.rows_per_s") = RowsPerCommit / (gen / 1000.0)
    layers("route.busy_ms") = layer("route")(noop(Ingest.routeAndProject(raw, cfg)))
    layers("write.busy_ms") = layer("write") {
      Ingest.runBatch(spark, cfg.copy(outputPath = Some(s"$side/write")), RowsPerCommit)
    }
    val (wf, wb) = dirBytes(s"$side/write", n => n.startsWith("part-") && !n.endsWith(".crc"))
    layers("write.files") = wf.toDouble
    layers("write.bytes") = wb.toDouble
    if (curated) {
      val projected = Ingest.routeAndProject(raw, cfg)
      val ids = Gen.generate(raw, Gen.defaultColumns.take(1), cfg.seed)
      layers("dedup.fingerprint_ms") = layer("fingerprint")(noop(ids.select(
        graft.functions.TextFunctions.minShingleHash(lower(col("user_id")), 3))))
      layers("dedup.mark_seen_ms") = layer("mark_seen")(noop(
        Dedup.markSeen(spark, ids, "user_id", cfg.seenFilterPath.get, "seen")))
      val copy = s"$side/seen"
      Dedup.buildOrAppendSeenFilter(ids.limit(1), "user_id", copy,
        expectedItems = cfg.seenFilterExpectedItems)
      layers("dedup.append_ms") = layer("append")(
        Dedup.buildOrAppendSeenFilter(ids, "user_id", copy,
          expectedItems = cfg.seenFilterExpectedItems))
      layers("dedup.filter_bytes") = (dirBytes(cfg.seenFilterPath.get, _ => true)._2 +
        dirBytes(s"$path/_neardup_filter", _ => true)._2).toDouble
      layers("pii.redact_ms") = layer("redact")(noop(Curation.redactPii(projected, "ip_address")))
      layers("expect.busy_ms") = layer("expect")(noop(
        Profiling.applyExpectations(projected, cfg.expectations)))
    }
  }

  /** The named queries on the fixed fixture: one untimed pass (fixture
    * build and index caches), then two timed passes; every result is
    * checked against the digest stored with the benchmark. */
  private def queryReplay(work: String): Unit = {
    val dir = s"$work/fixture"
    Fixture.write(spark, dir)
    val stored: Map[String, String] = o.digests.map { f =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(new java.io.File(f), classOf[java.util.Map[String, String]])
      m.asScala.toMap
    }.getOrElse(Map.empty)
    val got = mutable.LinkedHashMap.empty[String, String]
    (0 until 3).foreach { pass =>
      tracer.span(if (pass == 0) "queries.warmup" else "queries") {
        Queries.foreach { q =>
          attempted += 1
          Try(tracer.span(s"query.$q") {
            Fixture.digest(graft.SparkEntry.queries(q)(spark, dir).collect().toSeq)
          }) match {
            case Success(d) => got(q) = d
            case Failure(e) => failed += 1; System.err.println(s"[perfbench] $q failed: $e")
          }
        }
      }
      spark.catalog.clearCache()
    }
    Queries.foreach { q =>
      check(s"digest.$q") {
        (stored.get(q).exists(got.get(q).contains), s"got=${got.getOrElse(q, "-")} stored=${stored.getOrElse(q, "-")}")
      }
    }
    val out = new java.io.File(s"$work/digests.json")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writerWithDefaultPrettyPrinter().writeValue(out, got.asJava)
  }
}
