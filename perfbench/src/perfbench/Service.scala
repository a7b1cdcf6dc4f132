package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.adapter.RestServer
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.MergeConf
import graft.model.MetadataEvent.{SetPollingSource, SqlStep}
import graft.query.QueryService
import graft.sync.SyncService
import graft.transform.TransformService

/** The ODF service loop, a closed loop on one thread: each cycle
  * ingests one batch, runs the derivative transform once, runs the pinned
  * queries, makes one REST tail request over one loopback connection and
  * syncs the root to a mirror. The script has a fixed number of cycles. */
object Service {

  /** A service workload: how its feed, datasets, queries and checks look. */
  sealed trait Kind {
    def rootName: String
    def derivName: String
    /** Cycles in the timed script and in each warm-up. */
    def cycles(ctx: Ctx): Int
    def warmCycles(ctx: Ctx): Int
    def feed(ctx: Ctx, seed: Long, cycles: Int, dir: Path): Feed
    def source: SetPollingSource
    def transformSql: String
    def queries(f: Fixture, cycle: Int, prevHead: String): Seq[(String, DataFrame)]
    def checks(ctx: Ctx, f: Fixture): Seq[Check]
  }

  /** Generated inputs: one file per commit (the first `initial` of them are
    * committed during set-up) and what the checks expect of them. */
  final case class Feed(files: IndexedSeq[Path], rows: IndexedSeq[Long], initial: Int,
      freshIds: Seq[Seq[Long]] = Nil, changes: Seq[(Int, Int, Int)] = Nil, stateRows: Int = 0)

  final class Fixture(val dir: Path, val feed: Feed, val root: Dataset, val deriv: Dataset,
      val mirror: HPath, val qs: QueryService, val rest: RestServer) {
    val resolve: String => Dataset = n => Dataset.open(root.spark, dir.resolve("ws").resolve(n))
    def close(): Unit = rest.stop()
  }

  // ------------------------------------------------------------ workloads

  object Ledger extends Kind {
    val rootName = "events"; val derivName = "events_hourly"
    // one cycle per 2 s of run budget: 20 cycles at 40 s
    def cycles(ctx: Ctx): Int = if (ctx.tiny) 4 else ctx.seconds / 2
    def warmCycles(ctx: Ctx): Int = 1
    private def batchRows(ctx: Ctx) = if (ctx.tiny) 40 else 300
    def feed(ctx: Ctx, seed: Long, cycles: Int, dir: Path): Feed = {
      val fresh = Gen.ledgerBatches(seed, cycles, batchRows(ctx), dupShare = 0.15, dir, "batch")
      Feed((0 until cycles).map(i => dir.resolve(f"batch-$i%05d.ndjson")),
        IndexedSeq.fill(cycles)(batchRows(ctx).toLong), initial = 0, freshIds = fresh)
    }
    val source = SetPollingSource(readFormat = "ndjson",
      schemaDdl = Some("event_id BIGINT, event_time TIMESTAMP, user_id BIGINT, event_type STRING, value BIGINT"),
      merge = MergeConf("ledger", primaryKey = Seq("event_id")))
    val transformSql =
      "SELECT date_trunc('hour', event_time) AS event_time, event_type, " +
        "count(*) AS n, sum(value) AS total FROM events GROUP BY 1, 2"
    def queries(f: Fixture, cycle: Int, prevHead: String): Seq[(String, DataFrame)] = {
      val probe = f.feed.freshIds(cycle)((cycle * 7919) % f.feed.freshIds(cycle).size)
      Seq(
        "hourly" -> f.qs.sql("SELECT event_type, sum(n) AS n, sum(total) AS total FROM events_hourly GROUP BY event_type"),
        "point" -> f.qs.sql(s"SELECT * FROM events WHERE event_id = $probe"))
    }
    def checks(ctx: Ctx, f: Fixture): Seq[Check] = {
      val want = f.feed.freshIds.flatten.sorted
      val got = f.root.toDF().select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      val direct = f.root.toDF()
        .groupBy(date_trunc("hour", col("event_time")).as("event_time"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("total"))
      val hourly = f.deriv.toDF().select("event_time", "event_type", "n", "total")
      val diff = direct.exceptAll(hourly).count() + hourly.exceptAll(direct).count()
      Seq(
        Check("root holds exactly the unique seeded ids", got == want,
          s"${got.size} rows, ${want.size} expected"),
        Check("events_hourly equals a direct aggregation", diff == 0, s"$diff differing rows"))
    }
  }

  object Snapshot extends Kind {
    val rootName = "accounts"; val derivName = "accounts_proj"
    // one commit per 2 s of run budget: 20 at 40 s
    def cycles(ctx: Ctx): Int = if (ctx.tiny) 4 else ctx.seconds / 2
    def warmCycles(ctx: Ctx): Int = 1
    private def stateRows(ctx: Ctx) = if (ctx.tiny) 500 else 20000
    def feed(ctx: Ctx, seed: Long, cycles: Int, dir: Path): Feed = {
      val changes = Gen.snapshots(seed, cycles + 1, stateRows(ctx), changeShare = 0.02, dir, "snap")
      val files = (0 to cycles).map(i => dir.resolve(f"snap-$i%05d.csv"))
      Feed(files, files.map(p => Files.lines(p).count() - 1), initial = 1,
        changes = changes, stateRows = stateRows(ctx))
    }
    val source = SetPollingSource(readFormat = "csv",
      schemaDdl = Some("id BIGINT, region STRING, balance BIGINT"),
      merge = MergeConf("snapshot", primaryKey = Seq("id")))
    val transformSql = "SELECT op, event_time, id, region, balance * 2 AS balance2 FROM accounts"
    def queries(f: Fixture, cycle: Int, prevHead: String): Seq[(String, DataFrame)] = Seq(
      "state" -> f.qs.state("accounts").groupBy("region").agg(count(lit(1)).as("n"), sum("balance").as("total")),
      "as_of" -> f.qs.sql("SELECT op, count(*) AS n, sum(balance) AS total FROM accounts GROUP BY op",
        asOf = Map("accounts" -> prevHead)),
      "proj" -> f.qs.sql("SELECT region, count(*) AS n FROM accounts_proj WHERE balance2 > 1000000 GROUP BY region"))
    def checks(ctx: Ctx, f: Fixture): Seq[Check] = {
      val spark = f.root.spark
      val last = spark.read.option("header", "true").schema("id BIGINT, region STRING, balance BIGINT")
        .csv(f.feed.files.last.toString)
      val state = f.root.projectState().select("id", "region", "balance")
      val diff = state.exceptAll(last).count() + last.exceptAll(state).count()
      val ops = f.root.toDF().groupBy("op").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val timed = f.feed.changes.drop(1)
      val want = Map(
        graft.model.Op.Append -> (f.feed.stateRows + timed.map(_._2).sum).toLong,
        graft.model.Op.Retract -> timed.map(_._3).sum.toLong,
        graft.model.Op.CorrectFrom -> timed.map(_._1).sum.toLong,
        graft.model.Op.CorrectTo -> timed.map(_._1).sum.toLong)
      val projRows = f.deriv.toDF().count()
      val rootRows = ops.values.sum
      Seq(
        Check("state projection equals the last snapshot", diff == 0, s"$diff differing rows"),
        Check("op counts match the seeded changes", ops == want, s"got $ops, want $want"),
        Check("projection has one row per changelog row", projRows == rootRows, s"$projRows vs $rootRows"))
    }
  }

  // --------------------------------------------------------------- set-up

  private val T0 = java.time.Instant.parse("2024-06-01T00:00:00Z").toEpochMilli
  private def sysTime(cycle: Int): Long = T0 + cycle * 60000L

  /** Create the root (with its polling source), the derivative (with its
    * transform), the query service and the REST server; commit the feed's
    * initial files. */
  def build(ctx: Ctx, kind: Kind, seed: Long, cycles: Int, dir: Path): Fixture = {
    val spark = ctx.spark
    val feed = kind.feed(ctx, seed, cycles, dir.resolve("in"))
    val ws = dir.resolve("ws")
    val root = Dataset.create(spark, ws.resolve(kind.rootName), kind.rootName)
    root.chain.append(kind.source, T0)
    val deriv = Dataset.create(spark, ws.resolve(kind.derivName), kind.derivName, kind = "derivative")
    TransformService.setTransform(deriv, Seq(kind.rootName), Seq(SqlStep(None, kind.transformSql)), T0)
    val served = Map(kind.rootName -> root, kind.derivName -> deriv)
    val qs = new QueryService(spark, served)
    val f = new Fixture(dir, feed, root, deriv, new HPath(dir.resolve("mirror").resolve(kind.rootName).toUri),
      qs, new RestServer(qs, served).start())
    (0 until feed.initial).foreach { i =>
      require(IngestWriter.ingestFile(root, feed.files(i).toString, sysTime(i - feed.initial)).isDefined)
      TransformService.executeTransform(deriv, f.resolve, sysTime(i - feed.initial))
      SyncService.sync(root.chain.root, f.mirror, spark.sparkContext.hadoopConfiguration)
    }
    f
  }

  // ---------------------------------------------------------------- cycle

  private object Scans extends AdaptiveSparkPlanHelper {
    /** (files read, rows produced) over every file scan of an executed plan. */
    def apply(df: DataFrame): (Long, Long) = {
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
        scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
    }
  }

  /** Per-query figures only the traced run collects. */
  final case class QueryStat(rows: Long, filesScanned: Long, rowsScanned: Long)

  /** Runs cycles over one fixture; a `traced` loop counts its spans and
    * adds the probes. */
  final class Loop(ctx: Ctx, kind: Kind, f: Fixture, traced: Boolean) {
    private val tr = ctx.tracer
    private val conf = ctx.spark.sparkContext.hadoopConfiguration
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val tailReq = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${f.rest.boundPort}/datasets/${kind.rootName}/tail?n=20")).GET().build()
    val queryStats = mutable.ArrayBuffer.empty[QueryStat]
    val transformNewRows = mutable.ArrayBuffer.empty[Long]
    val syncObjects = mutable.ArrayBuffer.empty[Long]
    val freshness = mutable.ArrayBuffer.empty[Double]
    val tailOverhead = mutable.ArrayBuffer.empty[Double]
    val stepMs = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[Span]
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]

    private def op[T](name: String, cat: String)(body: => T): Option[(T, Span)] = {
      attempted += 1
      try Some(record(tr.span(name, cat)(body)))
      catch { case NonFatal(e) => failed += 1; errors += s"$name: ${e.getMessage}"; None }
    }
    private def record[T](r: (T, Span)): (T, Span) = { spans += r._2; r }

    /** One cycle of the loop over input file `i` (probes only when traced). */
    def cycle(i: Int): Unit = {
      tr.on = traced
      val t0 = System.nanoTime()
      val prevHead = f.root.chain.head.map(_._2).getOrElse("")
      val ingest = op("ingest", "ingest") {
        require(IngestWriter.ingestFile(f.root, f.feed.files(i).toString, sysTime(i)).isDefined,
          "batch committed nothing")
      }
      val transform = op("transform", "transform") {
        TransformService.executeTransform(f.deriv, f.resolve, sysTime(i)) match {
          case TransformService.Updated(ev) => ev.newData.map(_.numRecords).getOrElse(0L)
          case TransformService.UpToDate    => throw new IllegalStateException("transform found nothing new")
        }
      }
      transform.foreach(t => transformNewRows += t._1)
      for (a <- ingest; b <- transform) freshness += a._2.ms + b._2.ms
      kind.queries(f, i - f.feed.initial, prevHead).foreach { case (name, df) =>
        op(name, "query")(df.collect().length.toLong).foreach { case (rows, _) =>
          val (files, scanned) = if (traced) Scans(df) else (0L, 0L)
          queryStats += QueryStat(rows, files, scanned)
        }
      }
      val rest = op("tail", "tail") {
        val r = http.send(tailReq, HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"tail returned ${r.statusCode()}")
        r.body().length
      }
      op("sync", "sync") {
        SyncService.sync(f.root.chain.root, f.mirror, conf) match {
          case u: SyncService.Updated => u.numBlocks + u.dataFilesCopied
          case other                  => throw new IllegalStateException(s"sync: $other")
        }
      }.foreach(s => syncObjects += s._1)
      stepMs += (System.nanoTime() - t0) / 1e6
      if (traced) {
        record(tr.span("chain.walk", "probe")(f.root.chain.blocksWithHashes()))
        val (_, direct) = record(tr.span("tail.direct", "probe")(f.qs.tail(kind.rootName, 20).collect()))
        rest.foreach(r => tailOverhead += r._2.ms - direct.ms)
      }
      tr.on = false
    }
  }

  // ------------------------------------------------------------------ run

  /** The timed script over one fixture. */
  final class Timed(val loop: Loop) {
    def spans: Seq[Span] = loop.spans.toSeq
    def wallS: Double = loop.stepMs.sum / 1e3
  }

  /** Run every cycle over `plain`; in a traced run, also run each cycle over
    * `traced` (a second fixture of the same inputs) next to it, alternating
    * which goes first, so both halves see the same JVM warmth. */
  private def script(ctx: Ctx, kind: Kind, plain: Fixture, traced: Option[Fixture])
      : (Timed, Option[Timed], Long, Double) = {
    val a = new Loop(ctx, kind, plain, traced = false)
    val b = traced.map(new Loop(ctx, kind, _, traced = true))
    val gc0 = Tracer.gcMs()
    (plain.feed.initial until plain.feed.files.size).foreach { i =>
      val pair = a +: b.toSeq
      (if (i % 2 == 0) pair else pair.reverse).foreach(_.cycle(i))
    }
    val gcMs = Tracer.gcMs() - gc0
    (new Timed(a), b.map(new Timed(_)), gcMs, Tracer.liveHeapMb())
  }

  /** Set up, run the timed script, then check the untraced fixture. */
  def run(ctx: Ctx, kind: Kind): Outcome = {
    val passes = 3
    val (fixtures, passS) = Setup.repeated(ctx, passes)(build(ctx, kind, ctx.seed, kind.cycles(ctx), _))
    // warm-up: every kind of operation, a fixed number of times, on a
    // scratch fixture that is thrown away
    val warmS = Setup.seconds {
      val scratch = build(ctx, kind, ctx.seed ^ 0x5eedL, kind.warmCycles(ctx), ctx.work.resolve("warm"))
      val warm = new Loop(ctx, kind, scratch, traced = false)
      (scratch.feed.initial until scratch.feed.files.size).foreach(warm.cycle)
      scratch.close()
      require(warm.failed == 0, s"warm-up failed: ${warm.errors.mkString("; ")}")
    }
    val f = fixtures.last
    if (ctx.traced) ctx.tracer.install()
    ctx.tracer.spans.clear()
    Log("timed script")
    val (plain, traced, gcMs, heapMb) = script(ctx, kind, f, if (ctx.traced) Some(fixtures(1)) else None)
    Log("timed script done")
    fixtures.foreach(_.close())

    if (ctx.corrupt.contains("mirror")) {
      // self-test: drop one data object from the mirror; the checks must notice
      val data = f.dir.resolve("mirror").resolve(kind.rootName).resolve("data")
      val victim = Files.list(data).filter(p => !p.getFileName.toString.endsWith(".crc")).findFirst()
      victim.ifPresent(p => Files.delete(p))
    }
    Log("checks")
    val checksStart = System.nanoTime()
    val mirror = Dataset.open(ctx.spark, f.mirror.toString)
    // the three verifications are independent; run them side by side
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val verifies = Seq(f.root, f.deriv, mirror).map { ds =>
      val label = s"${ds.chain.root.getParent.getName}/${ds.chain.root.getName}"
      Future(safeChecks(s"verify $label") {
        val issues = Maintenance.verify(ds)
        Seq(Check(s"Maintenance.verify passes on $label", issues.isEmpty, issues.take(3).map(_.msg).mkString("; ")))
      })
    }
    val halves = plain +: traced.toSeq
    val checks = Seq.newBuilder[Check]
    checks += Check("every timed operation succeeded", halves.forall(_.loop.failed == 0),
      halves.flatMap(_.loop.errors).take(3).mkString("; "))
    checks ++= safeChecks("workload checks")(kind.checks(ctx, f))
    verifies.foreach(v => checks ++= Await.result(v, scala.concurrent.duration.Duration.Inf))
    checks += Check("mirror head equals source head", mirror.chain.head == f.root.chain.head,
      s"${mirror.chain.head} vs ${f.root.chain.head}")
    val checksS = (System.nanoTime() - checksStart) / 1e9

    val m = mutable.LinkedHashMap[String, Metric](Setup.metrics(ctx, passes, passS, warmS): _*)
    m ++= latencies(kind, f, plain) ++ Seq(
      "live_heap_mb" -> Metric(heapMb, "MB"),
      "checks_s" -> Metric(checksS, "s"))
    traced.foreach(t => m ++= counters(fixtures(1), t) ++ Seq(
      "trace.overhead_pct" -> Metric(100.0 * (t.wallS / plain.wallS - 1.0), "%")))
    Outcome(m.toMap, checks.result(), halves.map(_.loop.attempted).sum, halves.map(_.loop.failed).sum,
      series = Map("step_ms" -> plain.loop.stepMs.toSeq,
        "commit_ms" -> plain.spans.filter(_.cat == "ingest").map(_.ms),
        "gc_ms" -> Seq(gcMs.toDouble)) ++
        traced.map(t => "traced_step_ms" -> t.loop.stepMs.toSeq))
  }

  /** Wall-time metrics of the untraced script. */
  private def latencies(kind: Kind, f: Fixture, t: Timed): Seq[(String, Metric)] = {
    def cat(c: String) = t.spans.filter(_.cat == c)
    val ingest = cat("ingest"); val query = cat("query")
    val timedRows = f.feed.rows.drop(f.feed.initial).sum.toDouble
    val inputBytes = f.feed.files.map(Files.size(_)).sum.toDouble
    Seq(
      "wall_s" -> Metric(t.wallS, "s"),
      "step_ms_p50" -> Metric(Stats.median(t.loop.stepMs.toSeq), "ms", t.loop.stepMs.size),
      "commit_ms_p50" -> Stats.p50(ingest),
      "ingest_rows_per_s" -> Metric(timedRows / (ingest.map(_.ms).sum / 1e3), "1/s", ingest.size),
      "freshness_ms_p50" -> Metric(Stats.median(t.loop.freshness.toSeq), "ms", t.loop.freshness.size),
      "query_ms_p50" -> Stats.p50(query),
      "query_ms_p75" -> Stats.p75(query),
      "tail_ms_p50" -> Stats.p50(cat("tail")),
      "sync_ms_p50" -> Stats.p50(cat("sync")),
      "storage_bytes_per_input_byte" -> Metric(Files2.treeBytes(f.dir.resolve("ws")) / inputBytes, "ratio"))
  }

  /** Per-layer counts of the traced script. */
  private def counters(f: Fixture, t: Timed): Seq[(String, Metric)] = {
    def cat(c: String) = t.spans.filter(_.cat == c)
    val ingest = cat("ingest"); val transform = cat("transform")
    val query = cat("query"); val sync = cat("sync")
    val loop = t.loop
    val commits = ingest.size.toDouble
    val timedRows = f.feed.rows.drop(f.feed.initial).sum.toDouble
    def per(xs: Seq[Span], n: Double)(g: Span => Double): Double = Stats.ratio(xs.map(g).sum, n)
    val walks = t.spans.filter(_.name == "chain.walk")
    val all = t.spans.filter(_.cat != "probe")
    Seq(
      "chain.block_reads_per_commit" -> Metric(per(ingest, commits)(_.fsCount("blocks", "open")), "count"),
      "chain.list_calls_per_commit" -> Metric(per(ingest, commits)(s =>
        s.fsCount("blocks", "list") + s.fsCount("refs", "list")), "count"),
      "chain.walk_ms" -> Metric(Stats.median(walks.map(_.ms)), "ms", walks.size),
      "chain.blocks_at_end" -> Metric(f.root.chain.blocksWithHashes().size, "count"),
      "ingest.jobs_per_commit" -> Metric(per(ingest, commits)(_.jobs.size), "count"),
      "ingest.tasks_per_commit" -> Metric(per(ingest, commits)(_.tasks), "count"),
      "ingest.executor_cpu_ms_per_commit" -> Metric(per(ingest, commits)(_.cpuNs / 1e6), "ms"),
      "ingest.prior_rows_scanned_per_commit" -> Metric(
        math.max(0.0, per(ingest, commits)(_.recordsRead) - timedRows / commits), "count"),
      "ingest.shuffle_bytes_per_commit" -> Metric(per(ingest, commits)(_.shuffleWriteBytes), "bytes"),
      "ingest.bytes_written_per_commit" -> Metric(per(ingest, commits)(_.fsTotal("bytes_written")), "bytes"),
      "transform.ms_p50" -> Stats.p50(transform),
      "transform.jobs_per_run" -> Metric(per(transform, transform.size)(_.jobs.size), "count"),
      "transform.rows_scanned_per_new_row" -> Metric(
        Stats.ratio(transform.map(_.recordsRead).sum, loop.transformNewRows.sum), "ratio"),
      "transform.block_reads_per_run" -> Metric(per(transform, transform.size)(_.fsCount("blocks", "open")), "count"),
      "sync.block_reads_per_sync" -> Metric(per(sync, sync.size)(_.fsCount("blocks", "open")), "count"),
      "sync.objects_copied_per_sync" -> Metric(Stats.ratio(loop.syncObjects.sum, sync.size), "count"),
      "sync.bytes_copied_per_sync" -> Metric(per(sync, sync.size)(_.fsTotal("bytes_written")), "bytes"),
      "query.plan_ms_p50" -> Metric(Stats.median(query.map(_.planMs)), "ms", query.size),
      "query.exec_ms_p50" -> Metric(Stats.median(query.map(s => s.ms - s.planMs)), "ms", query.size),
      "query.files_scanned_per_query" -> Metric(
        Stats.ratio(loop.queryStats.map(_.filesScanned).sum, query.size), "count"),
      "query.rows_scanned_per_row_returned" -> Metric(
        Stats.ratio(loop.queryStats.map(_.rowsScanned).sum, loop.queryStats.map(_.rows).sum), "ratio"),
      "query.block_reads_per_query" -> Metric(per(query, query.size)(_.fsCount("blocks", "open")), "count"),
      "adapter.overhead_ms_p50" -> Metric(Stats.median(loop.tailOverhead.toSeq), "ms", loop.tailOverhead.size),
      "jvm.gc_ms" -> Metric(all.map(_.gcMs.toDouble).sum, "ms"),
      "spark.cpu_to_run_ratio" -> Metric(
        Stats.ratio(all.map(_.cpuNs / 1e6).sum, all.map(_.runMs.toDouble).sum), "ratio"))
  }

  /** Run checks; an exception inside counts as one failed check. */
  def safeChecks(name: String)(body: => Seq[Check]): Seq[Check] =
    try body catch { case NonFatal(e) => Seq(Check(name, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
}
