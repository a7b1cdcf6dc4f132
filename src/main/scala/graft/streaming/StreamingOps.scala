package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.DatasetVocabulary
import graft.operators.MergeStrategy

/**
 * Structured Streaming operators for derivative pipelines — the role the
 * reference delegates to containerized Flink/RisingWave engines
 * (SURVEY §2.4). These compose on streaming DataFrames (`readStream` →
 * transform → `writeStream`); the same expressions also run in batch mode,
 * which is how the specs drive them deterministically.
 */
object StreamingOps {

  /**
   * One foreachBatch tick of the STREAMING rollup maintenance
   * ([[rollupStream]]): aggregate the micro-batch to (dims, n_rows,
   * sum_<c> decimal partials), merge with the stored table, swap through
   * a staged rename. Structured Streaming REPLAYS a batch after a failed
   * epoch, so the tick is guarded by the stored high-water batch id —
   * `batchId <= stored` is a no-op, making the maintenance exactly-once
   * end to end (the sink-side half of the exactly-once contract; the
   * checkpoint gives the source half). Public so harnesses can replay a
   * batch explicitly and assert the no-op.
   *
   * Scale shape per tick: the only batch-sized work is one map-side-
   * combinable aggregate to dim grain; the merge touches |rollup| rows.
   */
  def applyRollupBatch(
      table: String,
      dims: Seq[String],
      sumCols: Seq[String]
  )(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val tmp = s"${table}_stream_tmp"
    // Crash recovery for the swap itself: a crash BETWEEN the DROP and the
    // RENAME below leaves no main table but a fully-materialized tmp — on
    // the replayed epoch, finish the interrupted swap FIRST so the batch
    // guard consults the real accumulated state instead of silently
    // reinitializing the rollup from this one micro-batch.
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp))
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    val exists = spark.catalog.tableExists(table)
    val stored =
      if (!exists) -1L
      else // headOption: an empty first batch creates a zero-row table —
        // treat it like a missing one instead of crashing every next tick
        spark.table(table).select(col("__batch")).limit(1).collect()
          .headOption.fold(-1L)(_.getLong(0))
    if (batchId <= stored) return // replayed epoch: already merged
    val aggs = count(lit(1)).cast("long").as("n_rows") +:
      sumCols.map(c =>
        sum(col(c).cast("decimal(18,6)")).cast("decimal(38,6)").as(s"sum_$c"))
    val delta = batch.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val merged =
      if (!exists) delta
      else {
        val mAggs = sum(col("n_rows")).as("n_rows") +:
          sumCols.map(c => sum(col(s"sum_$c")).cast("decimal(38,6)").as(s"sum_$c"))
        spark.table(table).drop("__batch")
          .unionByName(delta)
          .groupBy(dims.map(col): _*)
          .agg(mAggs.head, mAggs.tail: _*)
      }
    // localCheckpoint BEFORE the swap (merged reads the table it replaces);
    // staged rename so a crash leaves the old or the new table, never a
    // torn one — the Rollup.refresh pattern.
    val out = merged.withColumn("__batch", lit(batchId)).localCheckpoint()
    graft.operators.Bucketing.materializePlain(out, tmp)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }

  /**
   * Streaming maintenance of a materialized rollup: `stream → foreachBatch
   * → merged aggregate table` — the streaming twin of [[graft.operators
   * .Rollup.refresh]]'s batch path, for sources that arrive as a stream
   * rather than a committed changelog. Counts and exact decimal sums per
   * `dims` cell advance once per micro-batch via [[applyRollupBatch]]
   * (batch-id-guarded, so failure replays cannot double-count). Read the
   * result with [[readStreamRollup]].
   */
  def rollupStream(
      stream: DataFrame,
      dims: Seq[String],
      sumCols: Seq[String],
      table: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch(applyRollupBatch(table, dims, sumCols) _)

  /**
   * One foreachBatch tick of STREAMING UpsertStream ingestion
   * ([[upsertStream]]): run the batch [[MergeStrategy.UpsertStream]]
   * against the state projected from the maintained ledger table, assign
   * the delta contiguous offsets continuing the stored high-water mark,
   * and land it as ONE `insertInto` stamped `__batch = batchId`. The tick
   * is guarded by the stored high-water batch id, so a replayed epoch
   * (Structured Streaming's at-least-once delivery after a failed commit)
   * collapses to a no-op — the sink-side half of exactly-once, same
   * contract as [[applyRollupBatch]] but for §2.2's ledger-building heart:
   * what lands is a proper RFC-015 changelog a batch reader projects with
   * [[graft.operators.Changelog.project]].
   *
   * Scale shape per tick: one key shuffle for the in-batch dedupe window,
   * one state-vs-batch CDC hash join, and the single-task offset
   * assignment — history is read (column-pruned) but never rewritten;
   * the append is O(delta).
   */
  def applyUpsertBatch(
      table: String,
      primaryKey: Seq[String],
      arrivalOrderColumn: String,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  )(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val exists = spark.catalog.tableExists(table)
    val (hwm, nextOff) =
      if (!exists) (-1L, 0L)
      else {
        val r = spark.table(table)
          .agg(max(col("__batch")), max(col(vocab.offsetColumn))).collect()(0)
        (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) 0L else r.getLong(1) + 1L)
      }
    if (batchId <= hwm) return // replayed epoch: already committed
    val strat = MergeStrategy.UpsertStream(
      primaryKey, arrivalOrderColumn = Some(arrivalOrderColumn), vocab = vocab)
    val prev = if (exists) Some(spark.table(table).drop("__batch")) else None
    val delta = strat.merge(prev, batch)
    val out = graft.operators.Writer
      .assignOffsets(delta, strat.sortOrder(delta), nextOff, vocab)
      .withColumn("__batch", lit(batchId))
      .localCheckpoint() // materialize BEFORE appending to the table it reads
    if (!exists) graft.operators.Bucketing.materializePlain(out, table)
    else out.select(spark.table(table).columns.map(col).toSeq: _*)
      .write.insertInto(table)
  }

  /**
   * Streaming UpsertStream ingestion: `stream → foreachBatch → maintained
   * changelog ledger table` — the streaming twin of the batch
   * [[MergeStrategy.UpsertStream]] ingest path, with per-epoch
   * exactly-once via [[applyUpsertBatch]]'s batch-id guard. The table is
   * an ordinary offset-stamped changelog; read the current state with
   * [[graft.operators.Changelog.project]].
   */
  def upsertStream(
      stream: DataFrame,
      primaryKey: Seq[String],
      arrivalOrderColumn: String,
      table: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch(applyUpsertBatch(table, primaryKey, arrivalOrderColumn) _)

  /**
   * One foreachBatch tick of STREAMING join-view maintenance — the
   * streaming twin of [[graft.operators.JoinView.appendToJoinView]]. The
   * micro-batch is a tagged union of both sources' inserts (`__side` =
   * "a"/"b"); the tick computes the insert-only IVM delta
   * `ΔA ⋈ (B ∪ ΔB) ∪ A ⋈ ΔB` against the PRE-batch source states and
   * lands three batch-stamped appends: the view delta, then ΔA into the
   * maintained a-table, then ΔB into the b-table. Each append carries its
   * own high-water-mark guard AND the pre-batch states are read as
   * `__batch < batchId` filters of the source tables, so a crash between
   * the three commits replays deterministically: already-committed
   * appends collapse, missing ones recompute the identical delta.
   *
   * Scale shape per tick: two delta joins keyed on the join keys with
   * O(Δ) probe sides (AQE broadcasts small deltas); history is read
   * column/filter-pruned, never rewritten.
   */
  def applyJoinViewBatch(
      view: String,
      aTable: String,
      bTable: String,
      keys: Seq[String],
      aCols: Seq[String],
      bCols: Seq[String]
  )(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    def hwm(table: String): Long =
      if (!spark.catalog.tableExists(table)) -1L
      else {
        val r = spark.table(table).agg(max(col("__batch"))).collect()(0)
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }
    val dA = batch.filter(col("__side") === "a")
      .select((keys ++ aCols).map(col): _*).localCheckpoint()
    val dB = batch.filter(col("__side") === "b")
      .select((keys ++ bCols).map(col): _*).localCheckpoint()
    val aPrev =
      if (spark.catalog.tableExists(aTable))
        spark.table(aTable).filter(col("__batch") < batchId).drop("__batch")
      else dA.limit(0)
    val bPrev =
      if (spark.catalog.tableExists(bTable))
        spark.table(bTable).filter(col("__batch") < batchId).drop("__batch")
      else dB.limit(0)
    // the view delta is computed BEFORE any commit (it must not see this
    // batch's source appends) and pinned so a partially-committed replay
    // re-derives the identical rows
    val delta = dA.join(bPrev.unionByName(dB), keys)
      .unionByName(aPrev.join(dB, keys))
      .withColumn("__batch", lit(batchId))
      .localCheckpoint()
    def land(table: String, rows: DataFrame): Unit =
      if (hwm(table) < batchId) {
        val stamped = rows.withColumn("__batch", lit(batchId))
        if (!spark.catalog.tableExists(table))
          graft.operators.Bucketing.materializePlain(stamped, table)
        else stamped.select(spark.table(table).columns.map(col).toSeq: _*)
          .write.insertInto(table)
      }
    if (hwm(view) < batchId) {
      if (!spark.catalog.tableExists(view))
        graft.operators.Bucketing.materializePlain(delta, view)
      else delta.select(spark.table(view).columns.map(col).toSeq: _*)
        .write.insertInto(view)
    }
    land(aTable, dA)
    land(bTable, dB)
  }

  /** Streaming join-view maintenance: `tagged stream → foreachBatch →
    * maintained (view, a, b) tables` via [[applyJoinViewBatch]]. */
  def joinViewStream(
      stream: DataFrame,
      view: String,
      aTable: String,
      bTable: String,
      keys: Seq[String],
      aCols: Seq[String],
      bCols: Seq[String]
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch(applyJoinViewBatch(view, aTable, bTable, keys, aCols, bCols) _)

  /** The maintained streaming rollup with sums rendered as doubles. */
  def readStreamRollup(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      sumCols: Seq[String]
  ): DataFrame = {
    val t = spark.table(table).drop("__batch")
    val keep = t.columns.filterNot(c => sumCols.map(s => s"sum_$s").contains(c))
    t.select(keep.map(col).toSeq ++
      sumCols.map(c => col(s"sum_$c").cast("double").as(s"sum_$c")): _*)
  }

  /**
   * A dataset as a STREAMING DataFrame: every committed slice is an
   * immutable, content-addressed file in `data/`, so Spark's file-stream
   * source over that directory picks each new slice up exactly once —
   * incremental derivative transforms become ordinary
   * `datasetStream(ds) → transform → writeStream` pipelines with checkpoint
   * state, the role the reference hands to containerized Flink/RisingWave
   * (SURVEY §2.4). Schema comes from the chain (schema-first, no inference).
   *
   * Caveat (same as the reference's checkpointed engines): compaction
   * rewrites slice files, so streaming consumers must be reset after a
   * compaction of their input.
   */
  def datasetStream(ds: graft.dataset.Dataset): DataFrame = {
    val ddl = ds.chain
      .schemaDdl()
      .getOrElse(throw new IllegalStateException(
        s"dataset ${ds.name} has no declared schema yet — ingest at least one slice first"))
    ds.spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .format("parquet")
      .load(ds.chain.dataDir.toString)
  }

  /**
   * Streaming exact dedup — drop arriving rows whose fingerprint was
   * already admitted within the watermark horizon: the LLM-pipeline dedup
   * stage applied AT INGEST TIME instead of as a batch sweep. Built on
   * `dropDuplicatesWithinWatermark`, so the state store holds one
   * fingerprint per admitted row and EVICTS it once the watermark passes
   * its event time + delay — state is bounded by the horizon's arrival
   * rate, never by corpus size, which is what lets this run forever.
   * Rows are emitted the moment they are admitted (no buffering).
   *
   * Horizon semantics are the contract: a duplicate arriving after its
   * original's state expired is admitted again. For dedup against ALL
   * history, probe a materialized index instead
   * ([[graft.operators.Dedup.minHashLshAgainstIndex]]) or ingest through
   * the ledger merge strategy.
   *
   * `fingerprint` is any deterministic Column over the row — e.g.
   * `Text.fingerprint(col("text"))` for content identity, or a raw key
   * column for id identity.
   */
  def dedupStream(
      df: DataFrame,
      timeCol: String,
      watermarkDelay: String,
      fingerprint: Column
  ): DataFrame =
    df.withColumn("_dedup_fp", fingerprint)
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_dedup_fp")
      .drop("_dedup_fp")

  /** Tumbling-window aggregation with a watermark
    * (examples/covid/canada.daily-cases.yaml:13-37 — `TUMBLE(...)`).
    * Pass `watermarkDelay = ""` when the stream already carries a watermark
    * (e.g. downstream of an interval join — Spark forbids redefining it). */
  def tumblingWindowAgg(
      df: DataFrame,
      timeCol: String,
      windowDuration: String,
      watermarkDelay: String,
      keys: Seq[Column],
      aggs: Seq[Column]
  ): DataFrame =
    withWm(df, timeCol, watermarkDelay)
      .groupBy((window(col(timeCol), windowDuration) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  private def withWm(df: DataFrame, timeCol: String, delay: String): DataFrame =
    if (delay.isEmpty) df else df.withWatermark(timeCol, delay)

  /** Sliding-window variant. */
  def slidingWindowAgg(
      df: DataFrame,
      timeCol: String,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String,
      keys: Seq[Column],
      aggs: Seq[Column]
  ): DataFrame =
    withWm(df, timeCol, watermarkDelay)
      .groupBy((window(col(timeCol), windowDuration, slideDuration) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session-window variant (gap-based). */
  def sessionWindowAgg(
      df: DataFrame,
      timeCol: String,
      gapDuration: String,
      watermarkDelay: String,
      keys: Seq[Column],
      aggs: Seq[Column]
  ): DataFrame =
    withWm(df, timeCol, watermarkDelay)
      .groupBy((session_window(col(timeCol), gapDuration) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /**
   * Stream-stream interval join
   * (examples/overdue_shipments/com.acme.shipments.overdue.yaml:17-30):
   * equi-keys + a bounded event-time range so state can be evicted by the
   * watermarks.
   */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftWatermark: (String, String), // (timeCol, delay)
      rightWatermark: (String, String),
      keys: Seq[(String, String)], // (leftCol, rightCol)
      range: Column, // e.g. r("ts") between l("ts") and l("ts") + interval 2 days
      joinType: String = "inner"
  ): DataFrame = {
    val l = left.withWatermark(leftWatermark._1, leftWatermark._2)
    val r = right.withWatermark(rightWatermark._1, rightWatermark._2)
    val cond = keys.map { case (lk, rk) => l(lk) === r(rk) }.reduce(_ && _) && range
    l.join(r, cond, joinType)
  }

  /**
   * Streaming top-N with retractions (examples/leaderboard/leaderboard.yaml:
   * 9-25): each micro-batch recomputes the top-N and the previous ledger is
   * CDC-diffed against it, emitting +A/-R/-C/+C changelog rows — exactly the
   * Snapshot merge operator, reused (SURVEY §7.4.6). Use from `foreachBatch`:
   * keep the returned ledger (prev ++ emitted) as the next batch's `prev`.
   */
  def topNRetractions(
      prevLedger: Option[DataFrame],
      currentState: DataFrame,
      n: Int,
      scoreOrder: Seq[Column],
      primaryKey: Seq[String],
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Scale-safe top-N: orderBy + limit plans as TakeOrderedAndProject
    // (per-partition top-N, one bounded merge) — never a state-sized
    // single-task rank window. Only the ≤n survivors then take their
    // `place` from a window, a documented bounded (≤n-row) shape.
    val topN = currentState
      .orderBy(scoreOrder: _*)
      .limit(n)
      .withColumn("place", row_number().over(Window.orderBy(scoreOrder: _*)))
    MergeStrategy.Snapshot(primaryKey, vocab = vocab).merge(prevLedger, topN)
  }

  /** Open-session state for [[sessionizeStream]]: the per-entity fold is
    * (session counter, open flag, bounds, count, micro-value sum) — O(1)
    * per entity, never a buffer of events. */
  private[streaming] case class SessionizeState(
      seq: Long, open: Boolean, startUs: Long, endUs: Long, n: Long, sumMicro: Long)

  /**
   * CONTINUOUS gap sessionization: the streaming twin of
   * [[graft.operators.Analytics.sessionize]], emitting each entity's
   * FINALIZED sessions (same schema, same 1-based per-entity ids, same
   * µs-grid gap rule) once the event-time watermark passes the session's
   * end + gap — at which point no in-watermark event can reopen it.
   * `StreamingSpec` and the shared `sessionize` oracle pin stream ≡ batch
   * on ordered replays.
   *
   * Semantics contract: events must arrive per-entity in (ts, tie) order
   * ACROSS micro-batches (within a batch any order is fine — each group
   * invocation sorts its slice); an event older than its entity's open
   * session extends that session rather than rewriting history — batch
   * equality holds exactly for in-order replays, which is what an
   * offset-ordered dataset stream ([[datasetStream]]) delivers.
   *
   * Scale shape: per-entity state is ONE fixed-size record (no event
   * buffer); emitted sessions leave via event-time timeout, and a closed
   * entity keeps only its session counter (a production deployment would
   * TTL that zombie counter with a second timeout horizon — here it is
   * the documented cost of batch-exact session numbering).
   */
  def sessionizeStream(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      gapMinutes: Int,
      watermarkDelay: String = "0 seconds"
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val slim = events
      .select(col(entityCol).cast("long").as("e"), col(tsCol).as("t"),
        col(tieCol).cast("long").as("tie"), col(valueCol).cast("double").as("v"))
      .withWatermark("t", watermarkDelay)
    val schema = slim.schema
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(schema)
    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      s"$entityCol BIGINT, session_id BIGINT, session_start TIMESTAMP, " +
        "session_end TIMESTAMP, n_events BIGINT, total_value DOUBLE")
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    def usToTs(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    def emit(e: Long, st: SessionizeState): Row = Row(
      e, st.seq, usToTs(st.startUs), usToTs(st.endUs), st.n, st.sumMicro.toDouble / 1e6)
    slim
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (e: Long, rows: Iterator[Row],
         state: org.apache.spark.sql.streaming.GroupState[SessionizeState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.update(st.copy(open = false)) // keep the counter, drop the session
            if (st.open) Iterator.single(emit(e, st)) else Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            var st = state.getOption.getOrElse(SessionizeState(0L, false, 0L, 0L, 0L, 0L))
            rows.toSeq
              .map { r =>
                val us = r.getTimestamp(1).toInstant
                (us.getEpochSecond * 1000000L + us.getNano / 1000L, r.getLong(2),
                  // the batch twin sums value as DECIMAL(18,6): round half-up
                  BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                    .underlying.unscaledValue.longValueExact)
              }
              .sortBy(t => (t._1, t._2))
              .foreach { case (us, _, micro) =>
                if (!st.open)
                  st = SessionizeState(st.seq + 1, true, us, us, 1L, micro)
                else if (us - st.endUs > gapUs) {
                  out += emit(e, st)
                  st = SessionizeState(st.seq + 1, true, us, us, 1L, micro)
                } else
                  st = st.copy(endUs = math.max(st.endUs, us), n = st.n + 1,
                    sumMicro = st.sumMicro + micro)
              }
            state.update(st)
            if (st.open) state.setTimeoutTimestamp(st.endUs / 1000L + gapUs / 1000L)
            out.iterator
          }
      }(Encoders.product[SessionizeState], outEnc)
  }

  /** SCD2 open-version state for [[scd2Stream]]: at most ONE version per
    * key, plus the zombie flag after the current-version flush. */
  private[streaming] case class Scd2State(
      open: Boolean, fromUs: Long, value: Double, flushed: Boolean)

  /**
   * Streaming SCD type-2 build: the stream twin of
   * [[graft.operators.Changelog.scd2]] — per key, O(1) state holding the
   * one OPEN version; an opening row (+A/+C) closes it (emitting the
   * finished interval immediately — `valid_to` is the new row's event
   * time, final on arrival) and opens the next; a retraction (-R) closes
   * without reopening; -C halves are skipped. The still-open CURRENT
   * version flushes via event-time timeout once the watermark passes
   * `horizonMinutes` beyond its key's last change — the same
   * correction-replay-window contract as [[dedupStream]]'s horizon
   * (changes arriving after a key's current row flushed would double-
   * report it; size the horizon to the upstream's correction window).
   * Shares the batch oracle on offset-ordered replays.
   *
   * Scale shape: one fixed-size record per LIVE key in the state store —
   * never a version history; closed versions leave the instant they
   * close.
   */
  def scd2Stream(
      ledger: DataFrame,
      pkCol: String,
      valueCol: String,
      offsetCol: String,
      opCol: String,
      etCol: String,
      horizonMinutes: Long,
      watermarkDelay: String = "0 seconds"
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.model.Op
    val slim = ledger
      .select(col(pkCol).cast("long").as("pk"), col(valueCol).cast("double").as("v"),
        col(offsetCol).cast("long").as("o"), col(opCol).cast("int").as("op"),
        col(etCol).as("et"))
      .withWatermark("et", watermarkDelay)
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(slim.schema)
    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      s"$pkCol BIGINT, $valueCol DOUBLE, valid_from TIMESTAMP, " +
        "valid_to TIMESTAMP, is_current BIGINT")
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    def usToTs(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    slim
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (pk: Long, rows: Iterator[Row],
         state: org.apache.spark.sql.streaming.GroupState[Scd2State]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.update(st.copy(flushed = true))
            if (st.open && !st.flushed)
              Iterator.single(Row(pk, st.value, usToTs(st.fromUs), null, 1L))
            else Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            var st = state.getOption.getOrElse(Scd2State(false, 0L, 0.0, false))
            var lastUs = 0L
            rows.toSeq
              .map { r =>
                val i = r.getTimestamp(4).toInstant
                (r.getLong(2), r.getInt(3), r.getDouble(1),
                  i.getEpochSecond * 1000000L + i.getNano / 1000L)
              }
              .sortBy(_._1) // offset order within the batch
              .foreach { case (_, op, v, us) =>
                lastUs = math.max(lastUs, us)
                if (op == Op.Append || op == Op.CorrectTo) {
                  if (st.open)
                    out += Row(pk, st.value, usToTs(st.fromUs), usToTs(us), 0L)
                  st = Scd2State(open = true, us, v, flushed = false)
                } else if (op == Op.Retract) {
                  if (st.open)
                    out += Row(pk, st.value, usToTs(st.fromUs), usToTs(us), 0L)
                  st = Scd2State(open = false, 0L, 0.0, flushed = false)
                } // Op.CorrectFrom: skipped
              }
            state.update(st)
            if (st.open)
              state.setTimeoutTimestamp(lastUs / 1000L + horizonMinutes * 60000L)
            out.iterator
          }
      }(Encoders.product[Scd2State], outEnc)
  }

  /** Funnel progress for [[funnelStream]]: completed-step count plus the
    * completed steps' µs timestamps — O(steps) per entity, never a buffer
    * of events. */
  private[streaming] case class FunnelState(step: Int, timesUs: Seq[Long])

  /**
   * CONTINUOUS strictly-ordered funnel: the streaming twin of
   * [[graft.operators.Analytics.funnel]] — per entity, a step-machine
   * advances on the FIRST event of the next step type strictly after the
   * previous step's timestamp, and the completed row (entity, t1..tn)
   * emits THE MOMENT the last step lands (no watermark wait: steps only
   * ever advance, so a completion is final on arrival — the greedy
   * earliest chain is exactly the batch funnel's min-after-previous
   * construction). Entities that never complete emit nothing, as in
   * batch. Shares the batch `funnel` oracle on ordered replays.
   *
   * Scale shape: per-entity state is one counter + ≤ steps timestamps in
   * the keyed state store; arrival order per entity must match (ts, tie)
   * order across micro-batches (within a batch each group invocation
   * sorts its slice) — what an offset-ordered [[datasetStream]] delivers.
   * Completed entities retain their terminal state as the dedup guard
   * (a production deployment would TTL it).
   */
  def funnelStream(
      events: DataFrame,
      entityCol: String,
      typeCol: String,
      tsCol: String,
      tieCol: String,
      steps: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(steps.nonEmpty, "need at least one funnel step")
    val n = steps.size
    val slim = events.select(
      col(entityCol).cast("long").as("e"), col(typeCol).cast("string").as("y"),
      col(tsCol).as("t"), col(tieCol).cast("long").as("tie"))
    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      s"$entityCol BIGINT, " + (1 to n).map(i => s"t$i TIMESTAMP").mkString(", "))
    val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    def usToTs(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    slim
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (e: Long, rows: Iterator[Row],
         state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Vector.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq
            .map { r =>
              val i = r.getTimestamp(2).toInstant
              (i.getEpochSecond * 1000000L + i.getNano / 1000L, r.getLong(3), r.getString(1))
            }
            .sortBy(t => (t._1, t._2))
            .foreach { case (us, _, typ) =>
              if (st.step < n && typ == steps(st.step) &&
                (st.step == 0 || us > st.timesUs.last)) {
                st = FunnelState(st.step + 1, st.timesUs :+ us)
                if (st.step == n) out += Row.fromSeq(e +: st.timesUs.map(usToTs))
              }
            }
          state.update(st)
          out.iterator
      }(Encoders.product[FunnelState], outEnc)
  }

  /** Last observed touch for [[attributionStream]] — O(1) per entity:
    * one type string + one µs timestamp. */
  private[streaming] case class TouchState(touchType: String, touchUs: Long)

  /**
   * CONTINUOUS last-touch attribution: the streaming twin of
   * [[graft.operators.Analytics.lastTouchAttribution]] — per entity the
   * state is just the most recent touch event (type + timestamp), and a
   * conversion emits its attribution row THE MOMENT it arrives (no
   * watermark wait: the carried-forward touch depends only on the past,
   * so the row is final on arrival — same reasoning as [[funnelStream]]'s
   * completions). Conversions with no prior touch emit nothing, touches
   * after a conversion re-arm the state, and the state never clears —
   * exactly the batch operator's carried-forward `last(_, ignoreNulls)`
   * frame, so the entry shares the batch oracle on ordered replays.
   *
   * Scale shape: O(1) state per entity in the keyed store (the cheapest
   * of the streaming twins); arrival order per entity must match
   * (ts, tie) order across micro-batches (within a batch each group
   * invocation sorts its slice) — what an offset-ordered
   * [[datasetStream]] delivers.
   */
  def attributionStream(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      tieCol: String,
      typeCol: String,
      conversionType: String,
      touchTypes: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "need touch types disjoint from the conversion type")
    val touches = touchTypes.toSet
    val slim = events.select(
      col(entityCol).cast("long").as("e"), col(typeCol).cast("string").as("y"),
      col(tsCol).as("t"), col(tieCol).cast("long").as("tie"))
    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      s"$entityCol BIGINT, conversion_ts TIMESTAMP, $tieCol BIGINT, " +
        "touch_type STRING, touch_ts TIMESTAMP, lag_us BIGINT")
    val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    def usToTs(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    slim
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (e: Long, rows: Iterator[Row],
         state: org.apache.spark.sql.streaming.GroupState[TouchState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq
            .map { r =>
              val i = r.getTimestamp(2).toInstant
              (i.getEpochSecond * 1000000L + i.getNano / 1000L, r.getLong(3), r.getString(1))
            }
            .sortBy(t => (t._1, t._2))
            .foreach { case (us, tie, typ) =>
              if (touches.contains(typ)) st = TouchState(typ, us)
              else if (typ == conversionType && st != null)
                out += Row(e, usToTs(us), tie, st.touchType, usToTs(st.touchUs),
                  us - st.touchUs)
            }
          if (st != null) state.update(st)
          out.iterator
      }(Encoders.product[TouchState], outEnc)
  }

  /** Ring buffer of the last `lookback` micro-quantized values for
    * [[anomalyStream]] — the per-entity state is O(lookback), never
    * O(history). */
  private[streaming] case class AnomalyState(buf: Seq[Long])

  /**
   * CONTINUOUS anomaly detection: the streaming twin of
   * [[graft.operators.Analytics.anomalies]] — each arriving event is
   * z-scored against its entity's trailing `lookback` events and flagged
   * rows emit IMMEDIATELY (no watermark wait: the baseline is strictly
   * past events, so the verdict is final the moment the event arrives —
   * this is the alerting path, vs the batch sweep's audit path). Same
   * integer-micro Σx/Σx² arithmetic and double-expression tree as the
   * batch operator, so flagged rows are bit-identical on ordered replays
   * (shared oracle + `StreamingSpec` pin).
   *
   * Scale shape: per-entity state is `lookback` longs in Spark's keyed
   * state store; arrival order per entity must match (ts, tie) order
   * across micro-batches (within a batch each group invocation sorts) —
   * what an offset-ordered [[datasetStream]] delivers.
   */
  def anomalyStream(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      lookback: Int,
      minN: Int,
      threshold: Double
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(lookback >= minN && minN >= 2 && threshold > 0,
      "need lookback >= minN >= 2 and a positive threshold")
    val threshMicro = (threshold * 1e6).toLong
    val slim = events.select(
      col(entityCol).cast("long").as("e"), col(tsCol).as("t"),
      col(tieCol).cast("long").as("tie"), col(valueCol).cast("double").as("v"))
    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      s"$entityCol BIGINT, $tsCol TIMESTAMP, $tieCol BIGINT, " +
        s"$valueCol DOUBLE, z_micro BIGINT")
    val outEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(outSchema)
    slim
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (e: Long, rows: Iterator[Row],
         state: org.apache.spark.sql.streaming.GroupState[AnomalyState]) =>
          var buf = state.getOption.map(_.buf.toVector).getOrElse(Vector.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq
            .sortBy(r => (r.getTimestamp(1).getTime, r.getTimestamp(1).getNanos, r.getLong(2)))
            .foreach { r =>
              val v = r.getDouble(3)
              val vm = math.floor(v * 1000000.0).toLong
              val n = buf.size
              if (n >= minN) {
                // the batch twin's exact double-expression tree over the
                // integer window sums
                val nd = n.toDouble
                val mean = buf.sum.toDouble / 1000000.0 / nd
                val ex2 = buf.map(x => x * x).sum.toDouble / 1000000000000.0 / nd
                val varr = (ex2 - mean * mean) * nd / (nd - 1.0)
                if (varr > 0.0) {
                  val z = (vm.toDouble / 1000000.0 - mean) / math.sqrt(varr)
                  val zMicro = math.floor(z * 1000000.0).toLong
                  if (math.abs(zMicro) > threshMicro)
                    out += Row(e, r.getTimestamp(1), r.getLong(2), v, zMicro)
                }
              }
              buf = (buf :+ vm).takeRight(lookback)
            }
          state.update(AnomalyState(buf))
          out.iterator
      }(Encoders.product[AnomalyState], outEnc)
  }

  /**
   * CONTINUOUS changelog→state projection: a streaming changelog
   * (`+A/-R/-C/+C` rows) folded into per-key state with
   * `flatMapGroupsWithState` — true streaming consumption of retractions,
   * which windowed aggregations cannot do (see the README retraction
   * matrix). Each micro-batch applies a key's new rows in offset order to
   * its `GroupState`; the output is a STATE-DELTA stream: for every key
   * that changed, the latest surviving row (upsert) or the tombstone row
   * that removed it (its `op` column says which — consumers treat
   * op ∈ {Retract, CorrectFrom} as deletion). The batch equivalent is
   * [[graft.operators.Changelog.project]]; `StreamingSpec` pins equality.
   *
   * Scale shape: state lives in Spark's keyed state store, partitioned by
   * the grouping key — per-key fold work only, no corpus-wide shuffle
   * beyond the groupByKey exchange, checkpointable and restartable like any
   * stateful query. Keys are the stringified PK, null-safe: components
   * are joined with NUL (U+0000) and a null component is marked by the
   * SOH (U+0001) sentinel — both pinned, since changing either would
   * change checkpointed state keys — so any PK arity works without a
   * bespoke encoder.
   */
  def changelogStateStream(
      changelog: DataFrame,
      primaryKey: Seq[String],
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(primaryKey.nonEmpty, "changelogStateStream requires a primary key")
    val schema = changelog.schema
    val offsetIdx = schema.fieldIndex(vocab.offsetColumn)
    val opIdx = schema.fieldIndex(vocab.operationTypeColumn)
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] = Encoders.row(schema)
    val keyIdxs = primaryKey.map(schema.fieldIndex)

    changelog
      .groupByKey { r: Row =>
        keyIdxs.map(i => if (r.isNullAt(i)) "\u0001" else String.valueOf(r.get(i)))
          .mkString("\u0000")
      }(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
         state: org.apache.spark.sql.streaming.GroupState[Row]) =>
          val ordered = rows.toSeq.sortBy(_.getLong(offsetIdx))
          if (ordered.isEmpty) Iterator.empty
          else {
            var cur: Row = state.getOption.orNull
            var last: Row = null
            ordered.foreach { r =>
              last = r
              val op = r.getInt(opIdx)
              cur = if (op == graft.model.Op.Retract || op == graft.model.Op.CorrectFrom) null
                    else r
            }
            if (cur == null) {
              state.remove()
              Iterator.single(last) // tombstone: the row that removed the key
            } else {
              state.update(cur)
              Iterator.single(cur) // upsert: the latest surviving row
            }
          }
      }(Encoders.kryo[Row], rowEnc)
  }
}
