package graft.operators

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.DatasetVocabulary

class WriterSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  test("assignOffsets: deterministic dense offsets from a total sort, across partitions") {
    val df = spark
      .range(0, 1000)
      .select((col("id") * 7919 % 1000).as("k"), col("id").as("v"))
      .repartition(7)
    val got = Writer.assignOffsets(df, Seq(col("k").asc), startOffset = 100L)
    val rows = got.orderBy("offset").collect()
    assert(rows.length === 1000)
    assert(rows.head.getAs[Long]("offset") === 100L)
    assert(rows.last.getAs[Long]("offset") === 1099L)
    // offsets follow the sort order
    val ks = rows.map(_.getAs[Long]("k")).toSeq
    assert(ks == ks.sorted)
    // repeatable under re-execution
    val again = Writer.assignOffsets(df, Seq(col("k").asc), startOffset = 100L)
    assertSameRows(got, again)
  }

  test("stampSystemColumns: literal system time, event time coalesced to fallback") {
    val in = Seq((1L, Some(ts("2021-03-01T00:00:00Z"))), (2L, None))
      .toDF("id", "event_time")
    val sys = ts("2022-01-01T00:00:00Z")
    val got = Writer.stampSystemColumns(in, sys, eventTimeFallback = Some(ts("2020-01-01T00:00:00Z")))
    val byId = got.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(1L).getAs[Timestamp]("event_time") === ts("2021-03-01T00:00:00Z"))
    assert(byId(2L).getAs[Timestamp]("event_time") === ts("2020-01-01T00:00:00Z"))
    assert(got.collect().forall(_.getAs[Timestamp]("system_time") === sys))
  }

  test("normalizeTimestamps truncates to millisecond precision") {
    val in = Seq(Timestamp.from(Instant.parse("2021-03-01T00:00:00.123456Z")))
      .toDF("event_time")
    val got = Writer.normalizeTimestamps(in).head().getAs[Timestamp]("event_time")
    assert(got === Timestamp.from(Instant.parse("2021-03-01T00:00:00.123Z")))
  }

  test("normalizeColumnOrder puts system columns first") {
    val in = Seq((1L, "x", 0, 0L, ts("2020-01-01T00:00:00Z"), ts("2020-01-01T00:00:00Z")))
      .toDF("a", "b", "op", "offset", "system_time", "event_time")
    assert(
      Writer.normalizeColumnOrder(in).columns.toSeq ==
        Seq("offset", "op", "system_time", "event_time", "a", "b")
    )
  }

  test("commitSlice: stats, clamped watermark, logicalHash parity") {
    val ds = Dataset.create(spark, Files.createTempDirectory("graft-writer-stats-"), "stats")
    val df = Seq(
      (0L, ts("2021-01-01T00:00:00Z")),
      (1L, ts("2021-06-01T00:00:00Z")),
      (2L, ts("2021-03-01T00:00:00Z"))
    ).toDF("k", "event_time")
    def commit(rows: org.apache.spark.sql.DataFrame) =
      IngestWriter.commitSlice(ds, DatasetVocabulary.Default, None, rows, _ => Seq(col("k")), 1000L)
    val (stats, written) = commit(df).get
    assert(stats.offsetStart === 0L && stats.offsetEnd === 2L && stats.numRecords === 3L)
    assert(stats.newWatermark === Some(ts("2021-06-01T00:00:00Z").getTime))
    // one encoding of the logical hash: the commit's equals the standalone one
    val file = ds.chain.dataFile(stats.physicalHash).toString
    assert(stats.logicalHash === IngestWriter.logicalHash(spark.read.parquet(file)))
    assert(stats.logicalHash === IngestWriter.logicalHash(written))
    assert(stats.logicalHash.endsWith("-3"))
    // previous watermark ahead of max(event_time) wins (monotonicity)
    Maintenance.setWatermark(ds, ts("2022-01-01T00:00:00Z").getTime, 1500L)
    val (clamped, _) = commit(df).get
    assert(clamped.newWatermark === Some(ts("2022-01-01T00:00:00Z").getTime))
    // empty batch -> no stats
    assert(commit(df.filter(col("k") < 0)).isEmpty)
  }

  test("tail returns last n by offset in ascending order") {
    val df = spark.range(0, 50).select(col("id").as("offset"), (col("id") * 2).as("v"))
    val got = Changelog.tail(df, 5, DatasetVocabulary.Default).collect()
    assert(got.map(_.getAs[Long]("offset")).toSeq == Seq(45L, 46L, 47L, 48L, 49L))
  }
}
