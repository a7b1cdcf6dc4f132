package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int = 1)

/** A correctness check run outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** What a workload hands back: its metrics, its checks, and how many timed
  * operations it attempted and saw fail. `oracle` lists entry outputs that
  * the runner compares against DuckDB. */
final case class Outcome(
    metrics: Map[String, Metric],
    checks: Seq[Check],
    opsAttempted: Int,
    opsFailed: Int,
    oracle: Seq[(String, String, String)] = Nil,
    tablesDir: String = "",
    series: Map[String, Seq[Double]] = Map.empty)

/** Everything a workload needs from its invocation. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val opts: Map[String, String],
    val seed: Long,
    val seconds: Int,
    val tiny: Boolean,
    val traced: Boolean,
    val corrupt: Option[String],
    val work: Path,
    val out: Path,
    val jvmStartToSessionS: Double)

/** The benchmark's JVM entry point. The Python runner (`perfbench/run.py`)
  * builds this package and the engine from source, starts this main once per
  * run, and turns its result file into the final JSON line.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir> --tiny <0|1> [--corrupt <what>]`, and for the
  * operator workload `--tables <dir>` (the test tables it reads). */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ledger_trickle" -> (c => Service.run(c, Service.Ledger)),
    "snapshot_bulk" -> (c => Service.run(c, Service.Snapshot)),
    "operator_batch" -> (c => Operators.run(c))
  )

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; known: ${Workloads.keys.mkString(", ")}")
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work); Files.createDirectories(out)

    val cpus = Runtime.getRuntime.availableProcessors()
    val builder = graft.SessionDefaults.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = (if (traced) builder
        .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalAbstractFs].getName)
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      // the FileSystem cache is keyed by scheme, not configuration: make sure
      // the cached `file` instance is the counting one
      val conf = spark.sparkContext.hadoopConfiguration
      if (!org.apache.hadoop.fs.FileSystem.getLocal(conf).isInstanceOf[CountingLocalFs])
        org.apache.hadoop.fs.FileSystem.closeAll()
      require(org.apache.hadoop.fs.FileSystem.getLocal(conf).isInstanceOf[CountingLocalFs],
        "counting file system not installed")
    }
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    Log("session ready")
    val ctx = new Ctx(spark, new Tracer(spark), opts, opts("seed").toLong, opts("seconds").toInt,
      opts.get("tiny").contains("1"), traced, opts.get("corrupt"), work, out, sessionS)
    val outcome = Workloads(workload)(ctx)
    Log(s"$workload done")
    if (traced) Files.writeString(out.resolve("trace.json"), ctx.tracer.chromeTrace())
    Files.writeString(out.resolve("result.json"), Json.outcome(workload, outcome))
    spark.stop()
    Log("stopped")
    System.exit(0)
  }
}

/** Progress lines in the JVM log, stamped with seconds since JVM start. */
object Log {
  private val start = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis() - start) / 1000.0}%8.2f s: $msg")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def outcome(workload: String, o: Outcome): String = {
    val metrics = o.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}, \"samples\": ${m.samples}}"
    }.mkString("{\n    ", ",\n    ", "\n  }")
    val checks = o.checks.map(c =>
      s"{\"name\": ${str(c.name)}, \"ok\": ${c.ok}, \"detail\": ${str(c.detail.take(500))}}")
      .mkString("[\n    ", ",\n    ", "\n  ]")
    val oracle = o.oracle.map { case (n, dir, sql) =>
      s"{\"entry\": ${str(n)}, \"dir\": ${str(dir)}, \"sql\": ${str(sql)}}"
    }.mkString("[\n    ", ",\n    ", "\n  ]")
    val series = o.series.toSeq.sortBy(_._1).map { case (k, xs) =>
      s"${str(k)}: ${xs.map(x => num(math.rint(x * 1000) / 1000)).mkString("[", ", ", "]")}"
    }.mkString("{\n    ", ",\n    ", "\n  }")
    s"""{
       |  "workload": ${str(workload)},
       |  "ops_attempted": ${o.opsAttempted},
       |  "ops_failed": ${o.opsFailed},
       |  "metrics": $metrics,
       |  "checks": $checks,
       |  "oracle": $oracle,
       |  "tables_dir": ${str(o.tablesDir)},
       |  "series": $series
       |}
       |""".stripMargin
  }
}

/** Percentiles by linear interpolation between closest ranks (the `type 7`
  * definition NumPy and R use by default). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** A p50 metric in ms over span durations. */
  def p50(spans: Seq[Span], unit: String = "ms"): Metric = Metric(median(spans.map(_.ms)), unit, spans.size)
  def p75(spans: Seq[Span]): Metric = Metric(pct(spans.map(_.ms), 0.75), "ms", spans.size)
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}

/** Bytes of all regular files under a directory. */
object Files2 {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

/** Set-up timing shared by every workload. The fixture build (service: input
  * generation and dataset creation; operators: copying the test tables) is
  * repeated `passes` times, each pass in a fresh directory doing identical
  * work, and its median is reported; the warm-up, a fixed list of throwaway
  * operations, runs once. `setup_s` is JVM-plus-session start + median pass
  * + warm-up. */
object Setup {
  def repeated[T](ctx: Ctx, passes: Int)(pass: Path => T): (Seq[T], Double) = {
    val runs = (0 until passes).map { i =>
      Log(s"set-up pass $i")
      val t0 = System.nanoTime()
      val r = pass(ctx.work.resolve(s"pass-$i"))
      (r, (System.nanoTime() - t0) / 1e9)
    }
    (runs.map(_._1), Stats.median(runs.map(_._2)))
  }

  def seconds(body: => Unit): Double = {
    Log("warm-up")
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `setup_s` and its parts. */
  def metrics(ctx: Ctx, passes: Int, passS: Double, warmS: Double): Seq[(String, Metric)] = Seq(
    "setup_s" -> Metric(ctx.jvmStartToSessionS + passS + warmS, "s", passes),
    "setup.session_s" -> Metric(ctx.jvmStartToSessionS, "s"),
    "setup.pass_s" -> Metric(passS, "s", passes),
    "setup.warmup_s" -> Metric(warmS, "s"))
}
