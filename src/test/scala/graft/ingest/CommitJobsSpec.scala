package graft.ingest

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

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
  * A change that adds a pass over the slice fails here. */
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
