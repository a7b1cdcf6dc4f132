package graft.ingest

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.chain.MetadataChain
import graft.dataset.Dataset
import graft.model.{DatasetVocabulary, MergeConf, Op}
import graft.model.MetadataEvent.{AddData, SetDataSchema}
import graft.operators.{MergeStrategy, RecordDigest, Writer}

/**
 * The ingest commit path: merge → stamp → offsets → normalize → single-file
 * parquet slice → stats → hashes → AddData block. Mirrors
 * `DataWriterDataFusion::{stage,write}`
 * (src/infra/ingest-datafusion/src/writer.rs:937-1135, 552-712). Everything
 * after the merge is [[commitSlice]], which batch and streaming transforms
 * commit through as well.
 *
 * Scale notes: the merge is distributed; the slice itself is sorted,
 * numbered and written as one file by ONE task (see Writer.assignOffsets) —
 * intentional, because ODF slices are bounded at ≤300k records / ≤1 GiB
 * (compaction_planner_impl.rs:221-229), so "one task per slice" is a bounded
 * cost, not a scale bottleneck. A commit is then one shuffle and one write
 * job: the slice stats and logical hash are observed on that write, not
 * computed by a second pass.
 */
object IngestWriter {

  /** Resolve a stored merge configuration to a strategy. */
  def strategyFor(conf: MergeConf, vocab: graft.model.DatasetVocabulary): MergeStrategy =
    conf.kind match {
      case "append" => MergeStrategy.Append(vocab)
      case "ledger" => MergeStrategy.Ledger(conf.primaryKey, vocab)
      case "snapshot" =>
        MergeStrategy.Snapshot(conf.primaryKey, conf.compareColumns, vocab)
      case "changelogStream" => MergeStrategy.ChangelogStream(conf.primaryKey, vocab)
      case "upsertStream" =>
        MergeStrategy.UpsertStream(conf.primaryKey, conf.arrivalOrderColumn, vocab = vocab)
      case other => throw new IllegalArgumentException(s"unknown merge strategy: $other")
    }

  /**
   * Merge a new batch into the dataset and commit it as one slice + one
   * AddData block. Returns the committed event (None when the merge produced
   * no rows — e.g. an identical snapshot).
   */
  def writeBatch(
      ds: Dataset,
      batch: DataFrame,
      merge: MergeStrategy,
      systemTime: Long,
      eventTimeFallback: Option[Long] = None,
      sourceState: Option[String] = None
  ): Option[AddData] = {
    val chain = ds.chain
    val vocab = ds.vocabulary
    val prevOffset = chain.lastOffset()

    // Snapshot/Upsert merges only need the PRIOR STATE, not the full prior
    // ledger — feed them the content-addressed state cache (O(state) per
    // ingest instead of O(history); the reference reloads all prior data,
    // writer.rs:233-272). Other strategies read the ledger as before.
    val statePk = merge match {
      case s: MergeStrategy.Snapshot      => Some(s.primaryKey)
      case u: MergeStrategy.UpsertStream  => Some(u.primaryKey)
      case _                              => None
    }
    val priorState: Option[DataFrame] =
      if (prevOffset.isEmpty) None
      else statePk.map(pk => loadPriorState(ds, pk))

    val merged = (merge, priorState) match {
      case (s: MergeStrategy.Snapshot, st @ Some(_))     => s.mergeState(st, batch)
      case (u: MergeStrategy.UpsertStream, st @ Some(_)) => u.mergeState(st, batch)
      case _ =>
        val prev = if (prevOffset.isDefined) Some(ds.toDF()) else None
        merge.merge(prev, batch)
    }
    commitSlice(ds, vocab, prevOffset, merged, merge.sortOrder, systemTime, eventTimeFallback)
      .map { case (added, written) =>
        val event = added.copy(sourceState = sourceState)
        chain.append(event, systemTime)
        // Roll the state cache forward incrementally: project(old state ∪ new
        // slice) — O(state), never O(history). Best-effort: a failure here
        // only means the next ingest rebuilds from the ledger.
        statePk.foreach { pk =>
          try updateStateCache(ds, pk, priorState, written)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        event
      }
  }

  /** The rows of a slice as committed: `op = +A` added when the rows carry
    * no op column, system columns stamped, timestamps normalized, dense
    * offsets from `startOffset` in `sortOrder` (computed over the stamped
    * rows). Transform replay re-derives a committed slice through here. */
  private[graft] def sliceRows(
      rows: DataFrame,
      sortOrder: DataFrame => Seq[Column],
      systemTime: Long,
      eventTimeFallback: Option[Long],
      startOffset: Long,
      vocab: DatasetVocabulary
  ): DataFrame = {
    val withOp =
      if (rows.columns.contains(vocab.operationTypeColumn)) rows
      else rows.withColumn(vocab.operationTypeColumn, lit(Op.Append))
    val stamped = Writer.stampSystemColumns(
      withOp, new Timestamp(systemTime), eventTimeFallback.map(new Timestamp(_)), vocab)
    Writer.assignOffsets(Writer.normalizeTimestamps(stamped), sortOrder(stamped), startOffset, vocab)
  }

  /**
   * The one slice-commit path of ingest, batch transforms and streaming
   * transforms: [[sliceRows]] after the chain's `prevOffset` → single-file
   * slice with its stats and logical hash observed on the write, a validated
   * SetDataSchema appended when the written schema changed, and the SHA3
   * record digest when [[RecordDigest]] is on. Returns the AddData, NOT yet
   * appended, with a lazy read of the written file; None when the rows are
   * empty.
   * Callers keep their own policy: ingest adds the source state, the batch
   * transform its watermark, transforms the ExecuteTransform wrapper.
   * `vocab` and `prevOffset` come from the caller, which reads them anyway:
   * every chain accessor walks the whole chain.
   */
  private[graft] def commitSlice(
      ds: Dataset,
      vocab: DatasetVocabulary,
      prevOffset: Option[Long],
      rows: DataFrame,
      sortOrder: DataFrame => Seq[Column],
      systemTime: Long,
      eventTimeFallback: Option[Long] = None
  ): Option[(AddData, DataFrame)] = {
    val chain = ds.chain
    val sliced = sliceRows(
      rows, sortOrder, systemTime, eventTimeFallback, prevOffset.map(_ + 1).getOrElse(0L), vocab)
    writeSliceFile(chain, sliced, vocab).map { case (file, physicalHash, agg) =>
      // Stats + logical hash observed on the rows as the write consumed
      // them (writer.rs:613-712); verify re-reads the file to check them.
      val (stats, logical) = Writer.sliceStats(agg, chain.watermark().map(new Timestamp(_)))
      // A parquet read reports every field nullable; reading with that
      // schema spares the footer-inference job.
      val written = ds.spark.read.schema(asNullable(sliced.schema)).parquet(file.toString)

      // First write declares the schema; a later slice whose written schema
      // differs (e.g. a new column) appends a fresh SetDataSchema — the
      // reference's schema-migration-across-slices behavior
      // (test_query_service_impl.rs:991). Schema-first reads then use the
      // DDL as of the pinned block: old slices read under a newer DDL get
      // nulls for the added columns, as-of reads see the old shape.
      // Only COMPATIBLE evolution commits: additive columns or integral/
      // float/decimal widening. A slice that drops or retypes a column is
      // rejected here, before anything lands in the chain — otherwise head
      // reads would fail on old slices (parquet type conflict) or silently
      // hide the dropped column.
      val writtenDdl = written.schema.toDDL
      val prevDdl = chain.schemaDdl()
      if (!prevDdl.contains(writtenDdl)) {
        prevDdl.foreach(validateSchemaEvolution(_, written.schema))
        chain.append(SetDataSchema(writtenDdl), systemTime)
      }

      val added = AddData(
        prevOffset = prevOffset,
        offsetStart = stats.offsetStart,
        offsetEnd = stats.offsetEnd,
        numRecords = stats.numRecords,
        physicalHash = physicalHash,
        logicalHash = logical,
        newWatermark = stats.newWatermark.map(_.getTime),
        logicalHashSha3 =
          if (RecordDigest.enabled(ds.spark))
            Some(RecordDigest.digest(written.orderBy(vocab.offsetColumn)))
          else None
      )
      (added, written)
    }
  }

  // ---------------------------------------------------------- state cache

  /** Content-addressed state cache: the changelog projection of the dataset
    * AS OF a head hash, at `stateCache/state-<headHash>`. Purely derived —
    * a missing/stale entry rebuilds from the ledger; validity is by name
    * (the head hash), so a crash mid-write at worst leaves an orphan dir
    * that the next update garbage-collects. */
  private def stateCachePath(ds: Dataset, headHash: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(ds.chain.root, "stateCache"), s"state-$headHash")

  /** Prior state for a merge: the cache as of the current head when present,
    * else a fresh projection of the ledger. */
  private[graft] def loadPriorState(ds: Dataset, pk: Seq[String]): DataFrame = {
    val cached = ds.chain.head.map(h => stateCachePath(ds, h._2)).filter(ds.chain.fs.exists)
    cached match {
      case Some(p) => ds.spark.read.parquet(p.toString)
      case None    => graft.operators.Changelog.project(ds.toDF(), pk, ds.vocabulary)
    }
  }

  private[graft] def stateCacheExists(ds: Dataset): Boolean =
    ds.chain.head.exists(h => ds.chain.fs.exists(stateCachePath(ds, h._2)))

  private def updateStateCache(
      ds: Dataset,
      pk: Seq[String],
      oldState: Option[DataFrame],
      newSlice: DataFrame
  ): Unit = {
    val vocab = ds.vocabulary
    val combined = oldState match {
      case Some(st) =>
        graft.operators.Changelog.project(
          st.unionByName(newSlice, allowMissingColumns = true), pk, vocab)
      case None => graft.operators.Changelog.project(newSlice, pk, vocab)
    }
    val fs = ds.chain.fs
    val head = ds.chain.head.get._2
    val target = stateCachePath(ds, head)
    val tmp = new org.apache.hadoop.fs.Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    combined.write.mode("overwrite").parquet(tmp.toString)
    if (!fs.exists(target)) fs.rename(tmp, target) else fs.delete(tmp, true)
    // GC superseded cache entries (older heads)
    if (fs.exists(target.getParent))
      fs.listStatus(target.getParent)
        .map(_.getPath)
        .filter(p => p.getName.startsWith("state-") && p.getName != target.getName)
        .foreach(p => fs.delete(p, true))
  }

  /** Ingest a file according to the chain's SetPollingSource declaration:
    * prep → read → optional preprocess SQL (over temp view `input`) → merge →
    * commit. This is the `kamu pull` data path
    * (polling_ingest_service_impl.rs:471+, engine_datafusion_inproc.rs:74-112). */
  def ingestFile(
      ds: Dataset,
      path: String,
      systemTime: Long,
      sourceState: Option[String] = None,
      applyPrep: Boolean = true,
      eventTimeFallback: Option[Long] = None
  ): Option[AddData] = {
    val src = ds.chain
      .pollingSource()
      .getOrElse(throw new IllegalStateException(s"dataset ${ds.name} has no polling source"))
    // Push ingest bypasses prep: the request body is already the prepared
    // payload (the reference's push path decodes by body media type, not the
    // polling fetch pipeline — ingest_handler.rs:66-175).
    val prepSteps = if (applyPrep) src.prep.getOrElse(Nil) else Nil
    val prepped = prepSteps.foldLeft(java.nio.file.Paths.get(path)) { (p, step) =>
      step.kind match {
        case "decompress" =>
          Fetch.decompress(p, step.format.getOrElse("gzip"), step.subPath)
        case "pipe" =>
          Fetch.pipe(p, step.command.getOrElse(throw new IllegalArgumentException("pipe needs a command")))
        case other => throw new IllegalArgumentException(s"unknown prep step: $other")
      }
    }
    writeBatch(
      ds,
      readPrepared(ds, src.readFormat, src.schemaDdl, src.readOptions, src.preprocessSql, prepped.toString),
      strategyFor(src.merge, ds.vocabulary),
      systemTime,
      eventTimeFallback = eventTimeFallback,
      sourceState = sourceState
    )
  }

  /** Push-ingest a file through the chain's named AddPushSource declaration:
    * read → optional preprocess → merge → commit (push_ingest_executor_impl
    * .rs:73-346). No fetch/prep — the caller already delivered the bytes. */
  def ingestPushSource(
      ds: Dataset,
      sourceName: String,
      path: String,
      systemTime: Long
  ): Option[AddData] = {
    val src = ds.chain
      .pushSource(sourceName)
      .getOrElse(throw new IllegalStateException(
        s"dataset ${ds.name} has no enabled push source '$sourceName'"))
    val prepared =
      readPrepared(ds, src.readFormat, src.schemaDdl, src.readOptions, src.preprocessSql, path)
    writeBatch(ds, prepared, strategyFor(src.merge, ds.vocabulary), systemTime)
  }

  /** Read a source file, then run the optional preprocess SQL over it as the
    * temp view `input` — the read half shared by polling and push ingest. */
  private def readPrepared(
      ds: Dataset,
      readFormat: String,
      schemaDdl: Option[String],
      readOptions: Map[String, String],
      preprocessSql: Option[String],
      path: String
  ): DataFrame = {
    val raw = Readers.forFormat(readFormat, schemaDdl, readOptions)(ds.spark, path)
    preprocessSql.fold(raw) { sql =>
      raw.createOrReplaceTempView("input")
      ds.spark.sql(sql)
    }
  }

  /**
   * One polling iteration: run the declared fetch step (with the previous
   * source state from the chain), short-circuit to None when the source is
   * unchanged, else prep/read/merge/commit each fetched payload
   * (polling_ingest_service_impl.rs:115-365).
   */
  def pollOnce(ds: Dataset, systemTime: Long): Option[AddData] = {
    val src = ds.chain
      .pollingSource()
      .getOrElse(throw new IllegalStateException(s"dataset ${ds.name} has no polling source"))
    val fetch = src.fetch.getOrElse(
      throw new IllegalStateException(s"dataset ${ds.name} has no fetch step — use ingestFile")
    )
    val prevState = ds.chain.slices().reverseIterator.collectFirst {
      case s if s.sourceState.isDefined => s.sourceState.get
    }
    fetch.kind match {
      case "url" =>
        Fetch.url(fetch.url.get, prevState) match {
          case None          => None // up to date
          case Some(fetched) => ingestFile(ds, fetched.path.toString, systemTime, fetched.sourceState)
        }
      case "filesGlob" =>
        val (files, newState) = Fetch.filesGlob(fetch.glob.get, prevState, fetch.eventTimeRegex)
        if (files.isEmpty) None
        else {
          // Each file is one batch; commit state only on the last so a crash
          // mid-way re-fetches the remainder. The event time captured from
          // the file name (EventTimeSource::FromPath) becomes the batch's
          // event-time fallback.
          def et(f: Fetch.GlobFile): Option[Long] = f.eventTimeFromPath.map(parseEventTime)
          files.init.foreach(f =>
            ingestFile(ds, f.path.toString, systemTime, eventTimeFallback = et(f)))
          ingestFile(ds, files.last.path.toString, systemTime, newState,
            eventTimeFallback = et(files.last))
        }
      case "container" =>
        val fetched = Fetch.container(fetch.command.get)
        ingestFile(ds, fetched.path.toString, systemTime)
      case other => throw new IllegalArgumentException(s"unknown fetch kind: $other")
    }
  }

  /** Event time captured from a file name: a bare date is midnight UTC,
    * anything longer must be a full ISO-8601 instant. */
  private def parseEventTime(sv: String): Long = {
    val inst =
      if (sv.length == 10) java.time.Instant.parse(sv + "T00:00:00Z")
      else java.time.Instant.parse(sv)
    inst.toEpochMilli
  }

  /** Can a column of parquet type `from` be read under declared type `to`?
    * Identical always; otherwise the lossless widenings Spark's parquet
    * readers support (SPARK-40876): integral up-casts, float→double,
    * decimal precision growth that keeps all old values representable. */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b                        => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)     => true
      case (IntegerType, LongType)                 => true
      case (FloatType, DoubleType)                 => true
      case (a: DecimalType, b: DecimalType)        =>
        b.scale >= a.scale && (b.precision - b.scale) >= (a.precision - a.scale)
      case (ArrayType(a, _), ArrayType(b, _))      => widens(a, b)
      case (StructType(af), StructType(bf))        =>
        af.forall(f => bf.find(_.name == f.name).exists(g => widens(f.dataType, g.dataType)))
      case _                                       => false
    }
  }

  /** Reject incompatible schema changes at write time: every previously
    * declared column must still exist with the same (or compatibly widened)
    * type. New columns are fine — old slices read under the new DDL yield
    * nulls for them. */
  private[graft] def validateSchemaEvolution(
      prevDdl: String,
      written: org.apache.spark.sql.types.StructType
  ): Unit = {
    val prev = org.apache.spark.sql.types.StructType.fromDDL(prevDdl)
    val problems = prev.fields.flatMap { f =>
      written.fields.find(_.name == f.name) match {
        case None => Some(s"column '${f.name}' dropped")
        case Some(g) if !widens(f.dataType, g.dataType) =>
          Some(s"column '${f.name}' retyped ${f.dataType.simpleString} -> ${g.dataType.simpleString}")
        case _ => None
      }
    }
    if (problems.nonEmpty)
      throw new IllegalArgumentException(
        s"incompatible schema evolution rejected: ${problems.mkString("; ")} " +
          s"(only additive columns or lossless type widening are allowed)")
  }

  /** `t` as a parquet read reports it: every field, element and value
    * nullable. */
  private def asNullable(t: StructType): StructType = {
    def go(d: DataType): DataType = d match {
      case s: StructType => asNullable(s)
      case ArrayType(e, _) => ArrayType(go(e), containsNull = true)
      case MapType(k, v, _) => MapType(go(k), go(v), valueContainsNull = true)
      case other => other
    }
    StructType(t.fields.map(f => f.copy(dataType = go(f.dataType), nullable = true)))
  }

  /**
   * Write a DataFrame as a single snappy parquet file under `data/<hash>`;
   * returns the final path, the physical hash and the
   * [[Writer.sliceAggregate]] values observed on the write, or None for an
   * empty input.
   * Physical hash = SHA-256 of the file bytes, streamed through the chain's
   * Hadoop FileSystem — fine to compute driver-side because slices are
   * size-bounded. It names these bytes, not the rows: the same rows written
   * in another JVM hash differently, because the parquet writer lists each
   * column chunk's encodings in the footer in the order of a `HashSet` of
   * an enum, whose hash codes are identity hashes. The logical hash is the
   * one that repeats. Staging happens in a SIBLING `staging/` dir (same
   * filesystem, so the final move is a rename — atomic on HDFS/posix, no
   * cross-store copy) and NEVER inside `data/`: the data dir is also a
   * Structured Streaming file source (StreamingOps.datasetStream), and a
   * consumer listing it mid-write must only ever see final
   * content-addressed files, not transient part files it would double-read.
   */
  private def writeSliceFile(
      chain: MetadataChain,
      df: DataFrame,
      vocab: DatasetVocabulary
  ): Option[(org.apache.hadoop.fs.Path, String, Map[String, Any])] = {
    val fs = chain.fs
    val tmp = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(chain.root, "staging"),
      s"tmp-${java.util.UUID.randomUUID()}")
    val stats = Observation()
    val aggs = Writer.sliceAggregate(df, vocab)
    df.observe(stats, aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write
      .mode("overwrite")
      .option("compression", "snappy")
      .parquet(tmp.toString)
    // An empty input still writes a footer-only file; the observed count
    // (complete once the write has returned) says whether to keep it.
    val agg = stats.get
    val part =
      if (agg("n") == 0L) None
      else fs.listStatus(tmp)
        .map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    val result = part.map { p =>
      val hash = chain.sha256HexOf(p)
      val target = chain.dataFile(hash)
      if (!fs.exists(target)) fs.rename(p, target)
      (target, hash, agg)
    }
    // clean up the tmp dir (part file moved out or empty)
    fs.delete(tmp, true)
    result
  }

  /**
   * Logical (content) hash: layout-independent digest of the slice rows.
   * XOR-aggregate of per-row xxhash64 over all columns — order- and
   * partitioning-independent (rows are unique by offset), distributed, no
   * driver materialization. Internal-consistent stand-in for the reference's
   * arrow-digest RecordDigestV0 (src/odf/data-utils/src/data/hash.rs:24-64):
   * the property that matters — stable under re-encode/repartition/compaction
   * — holds; cross-implementation interop hashes do not.
   */
  def logicalHash(df: DataFrame): String = {
    val h = df.select(Writer.rowHashXor(df).as("x"), count(lit(1)).as("n")).head()
    Writer.logicalHashHex(h.getAs[Long]("x"), h.getAs[Long]("n"))
  }
}
