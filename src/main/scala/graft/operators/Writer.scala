package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.DatasetVocabulary

/**
 * The ingest writer tail: stamp system columns, assign offsets, normalize
 * column order, compute slice stats. Mirrors the reference's
 * `DataWriterDataFusion` staging pipeline
 * (src/infra/ingest-datafusion/src/writer.rs:274-385, 613-712) with one major
 * departure for scale:
 *
 * Offsets. The reference pins `target_partitions = 1` and uses
 * `row_number() over (order by ...)` (writer.rs:339-371), which serializes the
 * whole batch through one partition. We instead do a distributed total sort
 * (range-partitioned, spill-safe) followed by `zipWithIndex` — deterministic
 * given a deterministic sort, and parallel across the cluster. At 100 TB the
 * sort is the only global exchange; no single-partition bottleneck.
 */
object Writer {

  /** Cast every timestamp column to UTC millisecond precision semantics
    * (writer.rs:166-196). Spark's TimestampType is microsecond-precision
    * internally; we truncate sub-millisecond components for ODF parity. */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == TimestampType =>
        timestamp_millis(unix_millis(col(f.name))).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /**
   * Stamp `system_time` (literal commit time) and `event_time`
   * (coalesce(existing, fallback)) columns (writer.rs:295-337).
   */
  def stampSystemColumns(
      df: DataFrame,
      systemTime: Timestamp,
      eventTimeFallback: Option[Timestamp] = None,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val withSys = df.withColumn(vocab.systemTimeColumn, lit(systemTime))
    val fallback: Column = lit(eventTimeFallback.getOrElse(systemTime))
    if (withSys.columns.contains(vocab.eventTimeColumn))
      withSys.withColumn(vocab.eventTimeColumn, coalesce(col(vocab.eventTimeColumn), fallback))
    else withSys.withColumn(vocab.eventTimeColumn, fallback)
  }

  /**
   * Deterministic, distributed offset assignment: total sort by the merge
   * strategy's sort order, then dense offsets from per-partition row indexes
   * plus per-partition base offsets. Column order is normalized to
   * `offset, op, system_time, event_time, <data>` (writer.rs:374-383).
   *
   * Stays in the Dataset API end to end (no RDD round-trip through boxed
   * Rows): the sorted frame is localCheckpoint'd ONCE so both passes see the
   * identical partitioning (a re-executed range sort could re-sample
   * different boundaries), then `monotonically_increasing_id` encodes
   * (partitionId << 33 | rowIndexInPartition) — a documented stable layout —
   * from which a tiny per-partition count collect + broadcast base-offset
   * join produces dense offsets entirely inside whole-stage codegen. The
   * driver only ever sees one row per partition, never data.
   */
  def assignOffsets(
      df: DataFrame,
      sortOrder: Seq[Column],
      startOffset: Long = 0L,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sorted =
      (if (sortOrder.nonEmpty) df.orderBy(sortOrder: _*) else df).localCheckpoint()
    val mid = monotonically_increasing_id()
    val pid = shiftrightunsigned(col("__mid"), 33)
    val idxInPartition = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    val withMid = sorted.withColumn("__mid", mid)
    val counts = withMid
      .groupBy(pid.as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .orderBy("__pid")
      .collect()
    var acc = startOffset
    val bases = counts.map { r =>
      val b = (r.getLong(0), acc); acc += r.getLong(1); b
    }.toSeq
    val baseDf = bases.toDF("__pid", "__base")
    val out = withMid
      .withColumn("__pid", pid)
      .join(broadcast(baseDf), Seq("__pid"))
      .withColumn(vocab.offsetColumn, col("__base") + idxInPartition)
      .drop("__pid", "__mid", "__base")
    normalizeColumnOrder(Nullability.markNotNull(out, Seq(vocab.offsetColumn)), vocab)
  }

  /** `offset, op, system_time, event_time, <data cols in input order>`. */
  def normalizeColumnOrder(
      df: DataFrame,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val sys = vocab.systemColumns.filter(df.columns.contains)
    val data = df.columns.filterNot(sys.contains)
    df.select((sys ++ data).map(col): _*)
  }

  /** Slice stats the commit needs: offset interval, record count, and the new
    * watermark = max(event_time) clamped to never regress below the previous
    * watermark (writer.rs:613-712, monotonicity at :697-704). */
  final case class SliceStats(
      offsetStart: Long,
      offsetEnd: Long,
      numRecords: Long,
      newWatermark: Option[Timestamp]
  )

  /**
   * Slice stats AND the layout-independent logical hash in ONE aggregation
   * pass — the commit path needs both, and a chain commit is latency-bound
   * by its job count, so they must not be two scans. The hash is the
   * XOR-aggregate of per-row xxhash64 over all columns (order- and
   * partitioning-independent; rows are unique by offset) suffixed with the
   * row count — same encoding as [[graft.ingest.IngestWriter.logicalHash]].
   */
  def computeStatsAndHash(
      df: DataFrame,
      prevWatermark: Option[Timestamp] = None,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): Option[(SliceStats, String)] = {
    val row = df
      .withColumn("__h", xxhash64(df.columns.map(col).toSeq: _*))
      .agg(
        min(col(vocab.offsetColumn)).as("o0"),
        max(col(vocab.offsetColumn)).as("o1"),
        count(lit(1)).as("n"),
        max(col(vocab.eventTimeColumn)).as("wm"),
        expr("bit_xor(__h)").as("x")
      )
      .head()
    if (row.getAs[Long]("n") == 0L) None
    else {
      val maxEvent = Option(row.getAs[Timestamp]("wm"))
      val wm = (maxEvent, prevWatermark) match {
        case (Some(m), Some(p)) => Some(if (m.before(p)) p else m)
        case (m, p)             => m.orElse(p)
      }
      val n = row.getAs[Long]("n")
      val logical = logicalHashHex(row.getAs[Long]("x"), n)
      Some((SliceStats(row.getAs[Long]("o0"), row.getAs[Long]("o1"), n, wm), logical))
    }
  }

  /** The logical hash's text form: the XOR of the per-row hashes as 16 hex
    * digits, a dash, and the row count. */
  private[graft] def logicalHashHex(xor: Long, numRecords: Long): String =
    f"$xor%016x-$numRecords%d"
}
