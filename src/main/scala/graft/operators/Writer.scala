package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.BoundConst
import graft.model.DatasetVocabulary

/**
 * The ingest writer tail: stamp system columns, assign offsets, normalize
 * column order, and the slice stats aggregate. Mirrors the reference's
 * `DataWriterDataFusion` staging pipeline
 * (src/infra/ingest-datafusion/src/writer.rs:274-385, 613-712).
 *
 * Offsets. Like the reference, which pins `target_partitions = 1` and numbers
 * rows with `row_number() over (order by ...)` (writer.rs:339-371), a slice is
 * sorted and numbered in ONE task. ODF bounds a slice at ≤300k records
 * (compaction_planner_impl.rs:221-229), and the slice is written as one file
 * by one task anyway, so the shuffle into that task is the only exchange and
 * numbering costs no job of its own: no checkpoint, no per-partition count,
 * no base-offset join.
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
   * Stamp `system_time` (commit time) and `event_time`
   * (coalesce(existing, fallback)) columns (writer.rs:295-337). Both times
   * are [[BoundConst]]s, so a commit reuses the code the previous one
   * compiled.
   */
  def stampSystemColumns(
      df: DataFrame,
      systemTime: Timestamp,
      eventTimeFallback: Option[Timestamp] = None,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val withSys = df.withColumn(vocab.systemTimeColumn, BoundConst.of(systemTime))
    val fallback: Column = BoundConst.of(eventTimeFallback.getOrElse(systemTime))
    if (withSys.columns.contains(vocab.eventTimeColumn))
      withSys.withColumn(vocab.eventTimeColumn, coalesce(col(vocab.eventTimeColumn), fallback))
    else withSys.withColumn(vocab.eventTimeColumn, fallback)
  }

  /**
   * Dense offsets from `startOffset` in `sortOrder`: the rows are shuffled
   * into one partition, sorted there, and numbered by
   * `monotonically_increasing_id`, which in partition 0 is the row index.
   * Deterministic given a total sort order; the offset column is non-null by
   * construction; `startOffset` is a [[BoundConst]], like the stamped
   * times. Column order is normalized to
   * `offset, op, system_time, event_time, <data>` (writer.rs:374-383).
   */
  def assignOffsets(
      df: DataFrame,
      sortOrder: Seq[Column],
      startOffset: Long = 0L,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val one = df.repartition(1)
    val sorted = if (sortOrder.nonEmpty) one.sortWithinPartitions(sortOrder: _*) else one
    normalizeColumnOrder(
      sorted.withColumn(vocab.offsetColumn,
        BoundConst.of(startOffset) + monotonically_increasing_id()),
      vocab)
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
   * The slice stats aggregate: offset bounds `o0`/`o1`, row count `n`, max
   * event time `wm` and the logical hash's [[rowHashXor]] `x`. The commit
   * observes it on the slice write itself, compaction groups it by slice and
   * verify runs it over a re-read, so all three use one encoding.
   */
  private[graft] def sliceAggregate(df: DataFrame, vocab: DatasetVocabulary): Seq[Column] = Seq(
    min(col(vocab.offsetColumn)).as("o0"),
    max(col(vocab.offsetColumn)).as("o1"),
    count(lit(1)).as("n"),
    max(col(vocab.eventTimeColumn)).as("wm"),
    rowHashXor(df).as("x"))

  /** XOR-aggregate of per-row xxhash64 over all columns: order- and
    * partitioning-independent (rows are unique by offset). */
  private[graft] def rowHashXor(df: DataFrame): Column =
    bit_xor(xxhash64(df.columns.map(col).toSeq: _*))

  /** Stats and logical hash of a non-empty slice from its [[sliceAggregate]]
    * values, the watermark clamped to `prevWatermark`. */
  private[graft] def sliceStats(
      agg: Map[String, Any],
      prevWatermark: Option[Timestamp]
  ): (SliceStats, String) = {
    val maxEvent = Option(agg("wm").asInstanceOf[Timestamp])
    val wm = (maxEvent, prevWatermark) match {
      case (Some(m), Some(p)) => Some(if (m.before(p)) p else m)
      case (m, p)             => m.orElse(p)
    }
    val n = agg("n").asInstanceOf[Long]
    (SliceStats(agg("o0").asInstanceOf[Long], agg("o1").asInstanceOf[Long], n, wm),
      logicalHashHex(agg("x").asInstanceOf[Long], n))
  }

  /** The logical hash's text form: the XOR of the per-row hashes as 16 hex
    * digits, a dash, and the row count. */
  private[graft] def logicalHashHex(xor: Long, numRecords: Long): String =
    f"$xor%016x-$numRecords%d"
}
