package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span did: wall time plus the Spark and file-system work that ran
  * while it was open. */
final class Span(val name: String, val cat: String, val startNs: Long) {
  var endNs: Long = startNs
  val jobs: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  val jobsByModule: mutable.Map[String, Int] = mutable.Map.empty.withDefaultValue(0)
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var planMs = 0.0
  var gcMs = 0L
  var fs: Map[String, Map[String, Long]] = Map.empty
  def ms: Double = (endNs - startNs) / 1e6
  def fsCount(cat: String, op: String): Long = fs.get(cat).map(_(op)).getOrElse(0L)
  def fsTotal(op: String): Long = fs.values.map(_(op)).sum
}

/** Records a span around each public call the benchmark makes. Once
  * `install()`ed, spans opened while `on` is set also count, through a
  * `SparkListener` (jobs, tasks, executor CPU, shuffle, spill, input
  * records), a `QueryExecutionListener` (planning phases from
  * `QueryExecution.tracker`) and the counting file system, everything that
  * ran while they were open. Spans opened while `on` is clear keep only
  * their wall time. */
final class Tracer(spark: SparkSession) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile private var current: Span = null
  private val t0 = System.nanoTime()
  @volatile var on = false

  def install(): Unit = {
    require(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == classOf[CountingLocalFs].getName,
      "tracing needs the counting file system in the session")
    spark.sparkContext.addSparkListener(new SparkListener {
      // SQL execution id -> call site of the action, taken on the calling
      // thread; jobs that adaptive execution submits from its own threads
      // carry only the execution id
      private val sqlCallSite = mutable.Map.empty[String, String]
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sqlCallSite(x.executionId.toString) = x.details
        case _                                 => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = current
        if (s != null && on) {
          s.jobs += e.jobId
          val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(sqlCallSite.get)
            .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
          s.jobsByModule(Tracer.module(site)) += 1
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = current
        val m = e.taskMetrics
        if (s != null && on && m != null) {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val s = current
        if (s != null && on)
          s.planMs += Seq("analysis", "optimization", "planning")
            .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Time `body` as one span. A counted span drains the listener bus before
    * it opens (so events of earlier, uncounted spans are not attributed to
    * it) and before it closes (so every event of its own jobs is). */
  def span[T](name: String, cat: String)(body: => T): (T, Span) = {
    val counted = on
    if (counted) drain()
    FsCounters.on = counted
    val before = if (counted) FsCounters.snapshot() else null
    val gc0 = if (counted) Tracer.gcMs() else 0L
    val s = new Span(name, cat, System.nanoTime())
    current = s
    try {
      val r = body
      s.endNs = System.nanoTime()
      if (counted) {
        drain()
        s.fs = FsCounters.delta(before, FsCounters.snapshot())
        s.gcMs = Tracer.gcMs() - gc0
      }
      (r, s)
    } finally {
      current = null
      FsCounters.on = false
      spans += s
    }
  }

  /** Chrome trace-event JSON (opens in Perfetto): one complete event per
    * span since the last `spans.clear()`, with its Spark job ids and counts
    * as args (counted spans only). */
  def chromeTrace(): String = {
    val pid = ProcessHandle.current().pid()
    spans.map { s =>
      val args = Seq(
        "jobs" -> s.jobs.mkString("[", ",", "]"),
        "jobs_by_module" -> s.jobsByModule.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }
          .mkString("{", ",", "}"),
        "tasks" -> s.tasks.toString,
        "executor_cpu_ms" -> f"${s.cpuNs / 1e6}%.3f",
        "plan_ms" -> f"${s.planMs}%.3f",
        // file-system operations and bytes by dataset area, non-zero only
        "fs" -> s.fs.toSeq.sortBy(_._1).flatMap { case (area, ops) =>
          val nonZero = ops.toSeq.filter(_._2 != 0).sorted
          if (nonZero.isEmpty) None
          else Some(s"${Json.str(area)}:" + nonZero.map { case (o, n) => s"${Json.str(o)}:$n" }.mkString("{", ",", "}"))
        }.mkString("{", ",", "}")
      ).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"name":${Json.str(s.name)},"cat":${Json.str(s.cat)},"ph":"X",""" +
        f""""ts":${(s.startNs - t0) / 1e3}%.3f,"dur":${(s.endNs - s.startNs) / 1e3}%.3f,""" +
        s""""pid":$pid,"tid":1,"args":$args}"""
    }.mkString("{\"traceEvents\":[\n", ",\n", "\n]}\n")
  }
}

object Tracer {
  private val Frame = """graft\.([a-z]+)\.""".r

  /** The engine module a job came from: the first `graft.<module>.` frame of
    * its call site, `graft.entry` for the entry catalogue, else `bench`. */
  def module(callSite: String): String =
    Frame.findFirstMatchIn(callSite).map(m => s"graft.${m.group(1)}")
      .getOrElse(if (callSite.contains("graft.SparkEntry")) "graft.entry" else "bench")

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Live heap: used heap after explicit full collections. Repeated with a
    * short pause so Spark's ContextCleaner can release what the first
    * collection made unreachable. */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(150) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
