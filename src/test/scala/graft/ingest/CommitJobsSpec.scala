package graft.ingest

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.dataset.Dataset
import graft.model.MetadataEvent.SqlStep
import graft.operators.MergeStrategy
import graft.transform.TransformService

/** Spark jobs per slice commit. A chain commit is latency-bound by its job
  * count, so the ingest and the transform commit are pinned at the 2 jobs
  * each submits: the shuffle of the slice's rows into one task (an AQE stage
  * job) and the slice write, which also yields the offsets, stats and hash.
  * A change that adds a pass over the slice fails here.
  * A steady-state commit also compiles no code: the values that change per
  * commit (system time, start offset, offset interval) are not inlined in
  * the generated Java, so Spark's codegen cache, keyed by the source text,
  * serves the classes the previous commit compiled. */
class CommitJobsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def batch(tag: String) =
    Seq((ts("2024-01-01T00:00:00Z"), tag, 1L), (ts("2024-01-02T00:00:00Z"), tag, 2L))
      .toDF("event_time", "tag", "v")

  /** Spark jobs `body` submits. The first sleep lets the set-up's job
    * events drain before the listener is added; actions block, so every
    * job of `body` has started when it returns, and the second sleep lets
    * the async listener bus deliver their events. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Thread.sleep(1000)
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(2000); jobs.get }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Classes Spark compiles while `body` runs (each compile records one
    * compilation time; a codegen cache hit records none). */
  private def compilesOf(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Two rows with ids unseen by batches of another `i`. */
  private def keyed(i: Int) =
    Seq((ts("2024-01-01T00:00:00Z"), s"t$i", 2L * i), (ts("2024-01-02T00:00:00Z"), s"t$i", 2L * i + 1))
      .toDF("event_time", "tag", "v")

  test("the third Append and the third Ledger writeBatch compile no new class") {
    for (merge <- Seq(MergeStrategy.Append(), MergeStrategy.Ledger(Seq("v")))) {
      val ds = Dataset.create(spark, Files.createTempDirectory("graft-compiles-ingest-"), "compiles_in")
      (1 to 2).foreach(i => IngestWriter.writeBatch(ds, keyed(i), merge, 1000L * i))
      val compiled = compilesOf(IngestWriter.writeBatch(ds, keyed(3), merge, 3000L))
      assert(ds.chain.lastOffset() === Some(5L))
      assert(compiled === 0L, s"the third ${merge.getClass.getSimpleName} writeBatch compiled $compiled classes")
    }
  }

  test("the third executeTransform compiles no new class") {
    val work = Files.createTempDirectory("graft-compiles-transform-")
    val root = Dataset.create(spark, work.resolve("compiles_root"), "compiles_root")
    val d = Dataset.create(spark, work.resolve("compiles_d"), "compiles_d", kind = "derivative")
    TransformService.setTransform(d, Seq("compiles_root"),
      Seq(SqlStep(None, "SELECT event_time, tag, v * 2 AS v2 FROM compiles_root")), 0L)
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    def cycle(i: Int): Unit = {
      IngestWriter.writeBatch(root, keyed(i), MergeStrategy.Append(), 1000L * i)
      TransformService.executeTransform(d, resolve, 1000L * i + 500L)
    }
    (1 to 2).foreach(cycle)
    IngestWriter.writeBatch(root, keyed(3), MergeStrategy.Append(), 3000L)
    val compiled = compilesOf(TransformService.executeTransform(d, resolve, 3500L))
    assert(d.chain.lastOffset() === Some(5L))
    assert(compiled === 0L, s"the third executeTransform compiled $compiled classes")
  }

  test("an Append writeBatch of one new slice submits at most 2 Spark jobs") {
    val ds = Dataset.create(spark, Files.createTempDirectory("graft-jobs-ingest-"), "jobs_in")
    IngestWriter.writeBatch(ds, batch("a"), MergeStrategy.Append(), 1000L)
    val jobs = jobsOf(IngestWriter.writeBatch(ds, batch("b"), MergeStrategy.Append(), 2000L))
    assert(ds.chain.slices().size === 2)
    assert(jobs <= 2, s"writeBatch submitted $jobs jobs")
  }

  test("an executeTransform over one new input slice submits at most 2 Spark jobs") {
    val work = Files.createTempDirectory("graft-jobs-transform-")
    val root = Dataset.create(spark, work.resolve("jobs_root"), "jobs_root")
    IngestWriter.writeBatch(root, batch("a"), MergeStrategy.Append(), 1000L)
    val d = Dataset.create(spark, work.resolve("jobs_d"), "jobs_d", kind = "derivative")
    TransformService.setTransform(
      d, Seq("jobs_root"), Seq(SqlStep(None, "SELECT event_time, tag, v * 2 AS v2 FROM jobs_root")), 0L)
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    TransformService.executeTransform(d, resolve, 1500L)
    IngestWriter.writeBatch(root, batch("b"), MergeStrategy.Append(), 2000L)
    val jobs = jobsOf(TransformService.executeTransform(d, resolve, 2500L))
    assert(d.chain.slices().size === 2)
    assert(jobs <= 2, s"executeTransform submitted $jobs jobs")
  }
}
