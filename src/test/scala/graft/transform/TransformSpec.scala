package graft.transform

import java.nio.file.Files

import graft.SparkSpec
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.model.MetadataEvent.SqlStep
import graft.operators.MergeStrategy

class TransformSpec extends SparkSpec {
  import spark.implicits._

  private def ms(s: String) = java.time.Instant.parse(s).toEpochMilli
  private def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  test("watermark propagation: derivative wm = min(input wms), clamped monotonic") {
    val work = Files.createTempDirectory("graft-wm-")
    def ingest(ds: Dataset, eventTime: String, sysTime: String): Unit =
      IngestWriter.writeBatch(
        ds,
        Seq((ts(eventTime), eventTime)).toDF("event_time", "tag"),
        MergeStrategy.Append(),
        ms(sysTime)
      )

    val a = Dataset.create(spark, work.resolve("wma"), "wma")
    val b = Dataset.create(spark, work.resolve("wmb"), "wmb")
    ingest(a, "2024-01-10T00:00:00Z", "2024-06-01T00:00:00Z")
    ingest(b, "2024-01-05T00:00:00Z", "2024-06-01T00:00:00Z")
    assert(a.chain.watermark() === Some(ms("2024-01-10T00:00:00Z")))
    assert(b.chain.watermark() === Some(ms("2024-01-05T00:00:00Z")))

    val d = Dataset.create(spark, work.resolve("wmd"), "wmd", kind = "derivative")
    TransformService.setTransform(
      d,
      Seq("wma", "wmb"),
      Seq(SqlStep(None, "SELECT event_time, tag FROM wma UNION ALL SELECT event_time, tag FROM wmb")),
      0L
    )
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))

    // round 1: wm = min(2024-01-10, 2024-01-05)
    assert(TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))
      .isInstanceOf[TransformService.Updated])
    assert(resolve("wmd").chain.watermark() === Some(ms("2024-01-05T00:00:00Z")))

    // nothing new -> UpToDate, wm untouched
    assert(TransformService.executeTransform(d, resolve, ms("2024-06-03T00:00:00Z")) ==
      TransformService.UpToDate)

    // advance only b past a: derivative wm = min(1-10, 2-01) = a's wm
    ingest(resolve("wmb"), "2024-02-01T00:00:00Z", "2024-06-04T00:00:00Z")
    TransformService.executeTransform(d, resolve, ms("2024-06-05T00:00:00Z"))
    assert(resolve("wmd").chain.watermark() === Some(ms("2024-01-10T00:00:00Z")))

    // a regresses its event times (late data): input wm clamps (stays 1-10),
    // derivative wm must not regress either
    ingest(resolve("wma"), "2024-01-01T00:00:00Z", "2024-06-06T00:00:00Z")
    TransformService.executeTransform(d, resolve, ms("2024-06-07T00:00:00Z"))
    assert(resolve("wmd").chain.watermark() === Some(ms("2024-01-10T00:00:00Z")))
  }

  test("multi-step SQL: intermediate steps become views, last step produces output") {
    val work = Files.createTempDirectory("graft-steps-")
    val a = Dataset.create(spark, work.resolve("stepa"), "stepa")
    IngestWriter.writeBatch(
      a,
      Seq((ts("2024-01-01T00:00:00Z"), "x", 10L), (ts("2024-01-01T00:00:00Z"), "y", 4L))
        .toDF("event_time", "k", "v"),
      MergeStrategy.Append(), ms("2024-06-01T00:00:00Z"))

    val d = Dataset.create(spark, work.resolve("stepd"), "stepd", kind = "derivative")
    TransformService.setTransform(
      d,
      Seq("stepa"),
      Seq(
        SqlStep(Some("doubled"), "SELECT event_time, k, v * 2 AS v2 FROM stepa"),
        SqlStep(Some("big"), "SELECT * FROM doubled WHERE v2 > 10"),
        SqlStep(None, "SELECT event_time, k, v2 FROM big")
      ),
      0L
    )
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))
    val rows = resolve("stepd").toDF().select("k", "v2").as[(String, Long)].collect().toSeq
    assert(rows === Seq(("x", 20L)))
  }

  test("incremental intervals: each run sees only (prev, new] of each input") {
    val work = Files.createTempDirectory("graft-inc-")
    val a = Dataset.create(spark, work.resolve("inca"), "inca")
    IngestWriter.writeBatch(
      a, Seq((ts("2024-01-01T00:00:00Z"), "r1a"), (ts("2024-01-01T00:00:00Z"), "r1b"))
        .toDF("event_time", "tag"),
      MergeStrategy.Append(), ms("2024-06-01T00:00:00Z"))

    val d = Dataset.create(spark, work.resolve("incd"), "incd", kind = "derivative")
    TransformService.setTransform(
      d, Seq("inca"), Seq(SqlStep(None, "SELECT event_time, tag FROM inca")), 0L)
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))

    TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))
    assert(resolve("incd").toDF().count() === 2)

    IngestWriter.writeBatch(
      resolve("inca"), Seq((ts("2024-01-02T00:00:00Z"), "r2a")).toDF("event_time", "tag"),
      MergeStrategy.Append(), ms("2024-06-03T00:00:00Z"))
    TransformService.executeTransform(d, resolve, ms("2024-06-04T00:00:00Z"))
    val out = resolve("incd").toDF().orderBy("offset").collect()
    // only ONE new row appended (the second run never re-read round 1)
    assert(out.length === 3)
    assert(out.map(_.getAs[String]("tag")).toSeq === Seq("r1a", "r1b", "r2a"))
  }

  test("derivative records an input's added column once; a retype is rejected") {
    val work = Files.createTempDirectory("graft-evolve-")
    val root = Dataset.create(spark, work.resolve("evr"), "evr")
    IngestWriter.writeBatch(root, Seq((ts("2024-01-01T00:00:00Z"), "a")).toDF("event_time", "k"),
      MergeStrategy.Append(), ms("2024-06-01T00:00:00Z"))
    val d = Dataset.create(spark, work.resolve("evd"), "evd", kind = "derivative")
    TransformService.setTransform(d, Seq("evr"), Seq(SqlStep(None, "SELECT * FROM evr")), 0L)
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    def schemaBlocks(): Int = resolve("evd").chain.blocks().count(
      _.event.isInstanceOf[graft.model.MetadataEvent.SetDataSchema])
    TransformService.executeTransform(d, resolve, ms("2024-06-02T00:00:00Z"))
    assert(schemaBlocks() === 1)

    // the root gains a column: the next run declares it, exactly once
    def ingestExtra(k: String, extra: Long, sysTime: String): Unit =
      IngestWriter.writeBatch(resolve("evr"),
        Seq((ts("2024-01-02T00:00:00Z"), k, extra)).toDF("event_time", "k", "extra"),
        MergeStrategy.Append(), ms(sysTime))
    ingestExtra("b", 7L, "2024-06-03T00:00:00Z")
    TransformService.executeTransform(d, resolve, ms("2024-06-04T00:00:00Z"))
    assert(schemaBlocks() === 2)
    val rows = resolve("evd").toDF().orderBy("offset").select("k", "extra").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toSeq
    assert(rows === Seq(("a", None), ("b", Some(7L))))

    // same schema again: no further SetDataSchema
    ingestExtra("c", 8L, "2024-06-05T00:00:00Z")
    TransformService.executeTransform(d, resolve, ms("2024-06-06T00:00:00Z"))
    assert(schemaBlocks() === 2)
    assert(resolve("evd").toDF().count() === 3)

    // an output that retypes a column is rejected before any block lands
    TransformService.setTransform(resolve("evd"), Seq("evr"),
      Seq(SqlStep(None, "SELECT event_time, length(k) AS k, extra FROM evr")), ms("2024-06-07T00:00:00Z"))
    ingestExtra("d", 9L, "2024-06-08T00:00:00Z")
    val head = resolve("evd").chain.head
    val e = intercept[IllegalArgumentException](
      TransformService.executeTransform(resolve("evd"), resolve, ms("2024-06-09T00:00:00Z")))
    assert(e.getMessage.contains("column 'k' retyped"))
    assert(resolve("evd").chain.head === head)
  }

  test("pullPlan: depth levels group independent datasets; cycles rejected") {
    val work = Files.createTempDirectory("graft-plan-pull-")
    def mk(name: String, inputs: Seq[String]): Dataset = {
      val ds = Dataset.create(spark, work.resolve(name), name,
        kind = if (inputs.isEmpty) "root" else "derivative")
      if (inputs.nonEmpty)
        TransformService.setTransform(ds, inputs,
          Seq(SqlStep(None, s"SELECT * FROM ${inputs.head}")), 0L)
      ds
    }
    // diamond: a -> (b, c) -> d ; b and c share depth 1 and are independent
    mk("a", Nil); mk("b", Seq("a")); mk("c", Seq("a")); mk("d", Seq("b", "c"))
    val resolve = (n: String) => Dataset.open(spark, work.resolve(n))
    val plan = TransformService.pullPlan(resolve("d"), resolve)
    assert(plan.map(_.map(_.name).sorted) === Seq(Seq("a"), Seq("b", "c"), Seq("d")))

    // cycle: x -> y -> x must be rejected, not loop forever
    mk("x", Seq("y")); mk("y", Seq("x"))
    val e = intercept[IllegalStateException](TransformService.pullPlan(resolve("x"), resolve))
    assert(e.getMessage.contains("cycle"))
  }
}
