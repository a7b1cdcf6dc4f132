package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry

/** A fixed cross-family list of `SparkEntry` queries over the repository's
  * test tables. Each entry is materialized through a `noop` sink, which
  * consumes every row and column (a `count()` would let Catalyst prune most
  * of the plan). The list is run `reps` times, each time in an order drawn
  * from the seed, and each entry reports its median. */
object Operators {

  /** (entry, family). Entries memoized per JVM by `Fixtures.cached` (the
    * `*_stream` twins) are left out: after their first run they time a
    * parquet read, not the operator. */
  val Entries: Seq[(String, String)] = Seq(
    "q3_shipping_priority" -> "tpch",
    "q5_local_supplier_volume" -> "tpch",
    "graph_components" -> "graph",
    "pagerank_transitions" -> "graph",
    "dedup_minhash" -> "dedup",
    "corpus_filter" -> "corpus",
    "quality_classifier" -> "corpus",
    "cms_join_size" -> "sketch",
    "basket_lift" -> "sketch",
    "window_session" -> "streaming")

  val Families: Seq[String] = Entries.map(_._2).distinct

  /** One pass over the list per 20 s of run budget. */
  private def reps(ctx: Ctx): Int = if (ctx.tiny) 1 else math.max(1, ctx.seconds / 20)

  /** Entry runs of one half of the timed script. */
  final class Timed {
    private val buf = mutable.ArrayBuffer.empty[Span]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def spans: Seq[Span] = buf.toSeq
    def wallS: Double = buf.map(_.ms).sum / 1e3
    def run(ctx: Ctx, n: String, family: String, dir: Path, counted: Boolean): Unit = {
      attempted += 1
      ctx.tracer.on = counted
      try buf += ctx.tracer.span(n, family)(noop(ctx, n, dir))._2
      catch { case NonFatal(e) => errors += s"$n: ${e.getMessage}" }
      finally ctx.tracer.on = false
      ctx.spark.catalog.clearCache()
    }
  }

  /** `reps` passes over the list; in a traced run every entry also runs a
    * second time, counted, next to its untraced run (alternating which goes
    * first), so both halves see the same JVM warmth. */
  private def script(ctx: Ctx, dir: Path): (Timed, Option[Timed], Double) = {
    val plain = new Timed
    val traced = if (ctx.traced) Some(new Timed) else None
    val rng = new scala.util.Random(ctx.seed)
    (0 until reps(ctx)).foreach { _ =>
      rng.shuffle(Entries).zipWithIndex.foreach { case ((n, family), i) =>
        val pair = (plain, false) +: traced.map(_ -> true).toSeq
        (if (i % 2 == 0) pair else pair.reverse).foreach { case (t, counted) => t.run(ctx, n, family, dir, counted) }
      }
    }
    (plain, traced, Tracer.liveHeapMb())
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // set-up pass: copy the test tables into a fresh directory of the run
    val passes = 3
    val (copies, passS) = Setup.repeated(ctx, passes) { dir =>
      val src = Paths.get(ctx.opts("tables"))
      val dst = Files.createDirectories(dir.resolve("tables"))
      val listing = Files.list(src)
      try listing.forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
      finally listing.close()
      dst
    }
    val tables = copies.last
    // warm-up: one untimed run of every entry, written to parquet; that
    // output is what the runner compares with each entry's DuckDB oracle
    val errors = mutable.ArrayBuffer.empty[String]
    var oracle = Seq.empty[(String, String, String)]
    val warmS = Setup.seconds {
      oracle = Entries.flatMap { case (n, _) =>
        val out = ctx.out.resolve("oracle").resolve(n)
        try {
          SparkEntry.queries(n)(spark, tables.toString).coalesce(1)
            .write.mode("overwrite").parquet(out.toString)
          Seq((n, out.toString, SparkEntry.oracleSql(n)))
        } catch { case NonFatal(e) => errors += s"$n oracle write: ${e.getMessage}"; Nil }
        finally spark.catalog.clearCache()
      }
    }

    if (ctx.traced) ctx.tracer.install()
    ctx.tracer.spans.clear()
    Log("timed script")
    val (plain, traced, heapMb) = script(ctx, tables)
    Log("timed script done")
    val halves = plain +: traced.toSeq
    val failed = halves.map(_.errors.size).sum
    val checks = Seq(
      Check("every timed entry run succeeded", failed == 0, halves.flatMap(_.errors).take(3).mkString("; ")),
      Check("every entry wrote its oracle output", oracle.size == Entries.size, errors.take(3).mkString("; ")))

    def perEntry(t: Timed): Map[String, Double] = Entries.map { case (n, _) =>
      n -> Stats.median(t.spans.filter(_.name == n).map(_.ms / 1e3) match { case Seq() => Seq(0.0); case xs => xs })
    }.toMap
    val entries = perEntry(plain)
    val m = mutable.LinkedHashMap[String, Metric](Setup.metrics(ctx, passes, passS, warmS): _*)
    m ++= Seq(
      "wall_s" -> Metric(plain.wallS, "s"),
      "step_ms_p50" -> Stats.p50(plain.spans),
      "live_heap_mb" -> Metric(heapMb, "MB"),
      "entry_s_geomean" -> Metric(Stats.geomean(entries.values.toSeq.filter(_ > 0)), "s", plain.spans.size))
    m ++= Entries.map { case (n, _) => s"entry.${n}_s" -> Metric(entries(n), "s", reps(ctx)) }
    m ++= Families.map { fam =>
      s"family.${fam}_s" -> Metric(Entries.filter(_._2 == fam).map(e => entries(e._1)).sum, "s")
    }
    traced.foreach { t =>
      val r = reps(ctx).toDouble
      val spans = t.spans
      m ++= Seq(
        "operators.jobs_total" -> Metric(spans.map(_.jobs.size).sum / r, "count"),
        "operators.executor_cpu_s" -> Metric(spans.map(_.cpuNs / 1e9).sum / r, "s"),
        "operators.shuffle_write_mb" -> Metric(spans.map(_.shuffleWriteBytes).sum / r / (1024.0 * 1024.0), "MB"),
        "operators.spill_mb" -> Metric(spans.map(_.spillBytes).sum / r / (1024.0 * 1024.0), "MB"),
        "operators.plan_ms_total" -> Metric(spans.map(_.planMs).sum / r, "ms"),
        "jvm.gc_ms" -> Metric(spans.map(_.gcMs.toDouble).sum, "ms"),
        "spark.cpu_to_run_ratio" -> Metric(
          Stats.ratio(spans.map(_.cpuNs / 1e6).sum, spans.map(_.runMs.toDouble).sum), "ratio"),
        "trace.overhead_pct" -> Metric(100.0 * (t.wallS / plain.wallS - 1.0), "%"))
    }
    Outcome(m.toMap, checks, halves.map(_.attempted).sum, failed, oracle, tables.toString,
      Map("step_ms" -> plain.spans.map(_.ms)) ++ traced.map(t => "traced_step_ms" -> t.spans.map(_.ms)))
  }

  private def noop(ctx: Ctx, entry: String, dir: Path): Unit =
    SparkEntry.queries(entry)(ctx.spark, dir.toString).write.format("noop").mode("overwrite").save()
}
