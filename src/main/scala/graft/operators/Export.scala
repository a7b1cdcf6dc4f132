package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Export sinks + response encoders.
 *
 * Export: dataset → parquet / csv / ndjson files
 * (src/domain/core/src/services/export_service.rs:33-41). Distributed
 * writers — one file per partition; pass `coalesce` for a bounded file count.
 *
 * Response encoders: small paginated query results → JSON/CSV strings for
 * API surfaces (src/adapter/http/src/data/query_types.rs:361-430). These
 * collect — they are for request/response payloads bounded by pagination
 * (default limit 100), never for bulk data movement.
 */
object Export {

  def toParquet(df: DataFrame, path: String, coalesce: Option[Int] = None): Unit =
    shaped(df, coalesce).write.mode("overwrite").parquet(path)

  def toCsv(df: DataFrame, path: String, coalesce: Option[Int] = None,
      options: Map[String, String] = Map("header" -> "true")): Unit =
    shaped(df, coalesce).write.mode("overwrite").options(options).csv(path)

  def toNdjson(df: DataFrame, path: String, coalesce: Option[Int] = None): Unit =
    shaped(df, coalesce).write.mode("overwrite").json(path)

  /**
   * Training-shard sink: one `shard=N/` directory per value of `shardCol`
   * (the output of [[Corpus.packShards]]), each holding a single ndjson
   * file — the layout a training loader streams shard by shard. The
   * repartition ON the shard column routes each shard through one task, so
   * a shard is one file, not `spark.sql.shuffle.partitions` fragments;
   * distinct shards still write in parallel across tasks.
   */
  def toShardedNdjson(df: DataFrame, shardCol: String, path: String): Unit =
    df.repartition(org.apache.spark.sql.functions.col(shardCol))
      .write.mode("overwrite").partitionBy(shardCol).json(path)

  private def shaped(df: DataFrame, n: Option[Int]): DataFrame =
    n.map(df.coalesce).getOrElse(df)

  /**
   * Memory-mappable training shards: one `shard=<k>/tokens.bin` per shard
   * of little-endian int32 token ids, documents concatenated in
   * (shard, order) order — the flat-token format GPT-style data loaders
   * mmap directly — plus a `_meta.json` per shard recording token and
   * document counts.
   *
   * Scale shape: ONE repartition on the shard column routes each shard's
   * rows to the executor that writes it; `sortWithinPartitions` makes every
   * shard's rows arrive contiguously in document order, so the task streams
   * ids through a buffered writer — O(buffer) memory regardless of shard
   * size. Files land via write-temp-then-rename, so a retried task
   * overwrites its own output idempotently. (The ndjson shard sink above is
   * the record-oriented variant; this is the packed-token one.)
   */
  def toTokenBinShards(
      df: DataFrame,
      shardCol: String,
      orderCol: String,
      idsCol: String,
      path: String
  ): Unit = {
    // ids must already be integral: a silent cast("array<int>") would turn
    // unparseable/overflowing elements into nulls the writer then skips —
    // token loss with plausible-looking counts. Fail the schema mistake here.
    import org.apache.spark.sql.types._
    df.schema(idsCol).dataType match {
      case ArrayType(et, _) if Seq[DataType](ByteType, ShortType, IntegerType).contains(et) => ()
      case other =>
        throw new IllegalArgumentException(
          s"toTokenBinShards: '$idsCol' must be an array of int32-safe integers, got $other")
    }
    val base = new org.apache.hadoop.fs.Path(path)
    val conf0 = df.sparkSession.sparkContext.hadoopConfiguration
    val fs0 = base.getFileSystem(conf0)
    if (fs0.exists(base)) fs0.delete(base, true) // overwrite semantics
    fs0.mkdirs(base)
    val baseUri = fs0.makeQualified(base).toUri.toString
    // the Hadoop Configuration is not serializable: ship its ENTRIES and
    // rebuild on executors, so spark.hadoop.* / credentials / defaultFS
    // settings reach object-store writers exactly as every driver-side FS
    // access sees them
    import scala.jdk.CollectionConverters._
    val confEntries: Seq[(String, String)] =
      conf0.iterator().asScala.map(e => e.getKey -> e.getValue).toSeq
    df.select(
        col(shardCol).cast("long").as("s"),
        col(orderCol).as("o"),
        col(idsCol).cast("array<int>").as("ids"))
      .repartition(col("s"))
      .sortWithinPartitions(col("s"), col("o"))
      .foreachPartition { (it: Iterator[Row]) =>
        val conf = new org.apache.hadoop.conf.Configuration() // defaults, then overlay
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val base = new org.apache.hadoop.fs.Path(baseUri)
        val fs = base.getFileSystem(conf)
        // attempt-unique temp name: under speculation or zombie retries two
        // attempts write DISTINCT temps and the final delete+rename is a
        // whole-file last-writer-wins, never interleaved bytes
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var cur = Long.MinValue
        var out: java.io.OutputStream = null
        var tmp: org.apache.hadoop.fs.Path = null
        var nTok = 0L
        var nDoc = 0L
        def finish(): Unit = if (out != null) {
          out.close()
          val dir = new org.apache.hadoop.fs.Path(base, s"shard=$cur")
          // meta lands BEFORE the bin is renamed into place: readers keying
          // on tokens.bin presence always see a complete meta. Same
          // attempt-unique temp + whole-file rename as the bin itself —
          // a direct overwrite-create could be observed truncated by a
          // reader racing a speculative second attempt.
          val metaTmp = new org.apache.hadoop.fs.Path(dir, s"._meta.json.$attempt.inprogress")
          val meta = fs.create(metaTmp, true)
          try meta.write(s"""{"tokens":$nTok,"docs":$nDoc}""".getBytes("UTF-8"))
          finally meta.close()
          val metaFin = new org.apache.hadoop.fs.Path(dir, "_meta.json")
          fs.delete(metaFin, false)
          require(fs.rename(metaTmp, metaFin), s"rename $metaTmp -> $metaFin failed")
          val fin = new org.apache.hadoop.fs.Path(dir, "tokens.bin")
          fs.delete(fin, false)
          require(fs.rename(tmp, fin), s"rename $tmp -> $fin failed")
          out = null
        }
        it.foreach { row =>
          val s = row.getLong(0)
          if (s != cur || out == null) {
            finish()
            cur = s
            nTok = 0L; nDoc = 0L
            val dir = new org.apache.hadoop.fs.Path(base, s"shard=$cur")
            fs.mkdirs(dir)
            tmp = new org.apache.hadoop.fs.Path(dir, s".tokens.bin.$attempt.inprogress")
            out = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16)
          }
          // null ELEMENTS are corrupt members: skip them (and keep counts
          // consistent with the bytes written) instead of NPE-ing the job
          val ids = Option(row.getSeq[Any](2)).getOrElse(Seq.empty)
          ids.foreach {
            case v: Int =>
              out.write(v & 0xff); out.write((v >> 8) & 0xff)
              out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
              nTok += 1
            case _ => ()
          }
          nDoc += 1
        }
        finish()
      }
  }

  // ---------------------------------------------------------- encoders

  /** JSON array-of-structs: `[{"a":1,"b":"x"}, …]` — built Spark-side with
    * to_json (codegen'd), only the final strings are collected. */
  def jsonAoS(df: DataFrame): String =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("j"))
      .collect()
      .map(_.getString(0))
      .mkString("[", ",", "]")

  /** JSON array-of-arrays: `[[1,"x"], …]` (positional). */
  def jsonAoA(df: DataFrame): String =
    df.collect().map(encodeRowAoA).mkString("[", ",", "]")

  /** JSON struct-of-arrays: `{"a":[1,…],"b":["x",…]}` (columnar). */
  def jsonSoA(df: DataFrame): String = {
    val rows = df.collect()
    df.columns.zipWithIndex
      .map { case (c, i) =>
        s""""${escape(c)}":${rows.map(r => encodeValue(r.get(i))).mkString("[", ",", "]")}"""
      }
      .mkString("{", ",", "}")
  }

  /** CSV encoding with a header row. A null cell encodes as an EMPTY field
    * (like the reference's CSV writer, odf/data-utils/src/data/format/csv.rs)
    * so it stays distinguishable from the literal string "null". */
  def csvString(df: DataFrame): String = {
    val header = df.columns.map(csvCell).mkString(",")
    val body = df.collect().map(r =>
      r.toSeq.map {
        case null => ""
        case v    => csvCell(String.valueOf(v))
      }.mkString(","))
    (header +: body).mkString("\n")
  }

  private def encodeRowAoA(row: Row): String =
    row.toSeq.map(encodeValue).mkString("[", ",", "]")

  private def encodeValue(v: Any): String = v match {
    case null                                        => "null"
    case b: Boolean                                  => b.toString
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: Double                                   => d.toString
    case f: Float                                    => f.toString
    case d: java.math.BigDecimal                     => d.toPlainString
    case s: Seq[_]                                   => s.map(encodeValue).mkString("[", ",", "]")
    case r: Row                                      => encodeRowAoA(r)
    case other                                       => s""""${escape(String.valueOf(other))}""""
  }

  private def escape(s: String): String =
    s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }

  private def csvCell(s: String): String =
    if (s.contains(",") || s.contains("\"") || s.contains("\n"))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}
