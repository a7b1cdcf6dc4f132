package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/**
 * Layout-independent SHA3-256 record digest — the second ("logical") hash a
 * dataset commit can carry, in the construction family of the reference's
 * `get_parquet_logical_hash` (src/odf/data-utils/src/data/hash.rs:24-64:
 * RecordDigestV0<Sha3_256> = per-column digests over logical values,
 * combined with a schema digest; multicodec `arrow0-sha3-256`).
 *
 * INTEROP BOUNDARY, stated precisely: the reference's exact byte-level
 * encoding lives in the external `arrow-digest` crate, whose source is not
 * available in this environment (zero egress), so bit-exact cross-
 * verification against real kamu output cannot be golden-vectored here.
 * What IS guaranteed — and spec-pinned by frozen vectors — is this digest's
 * own contract, which is the property the chain needs:
 *
 *  - depends only on (schema, ordered logical values): identical rows in
 *    identical order produce the same digest regardless of file layout,
 *    row-group split, compression, or encoding;
 *  - any value/null/type/field-order change produces a different digest;
 *  - the canonical encoding below is fully documented, so any other engine
 *    can implement it from this scaladoc alone.
 *
 * Canonical encoding (v1 — two-level, so computation distributes):
 *  - schema digest S = SHA3-256 over UTF-8 of `name:typeDDL;` per field, in
 *    field order (the nullable FLAG is excluded — it is layout metadata that
 *    flips on a parquet round-trip; null CONTENT is captured by the per-value
 *    markers below);
 *  - the row sequence is split into CHUNKS of exactly `rowsPerChunk` rows
 *    (default 8192; the last chunk may be short). Chunk boundaries are a
 *    function of the ROW SEQUENCE alone, never of file or partition layout,
 *    so the digest stays layout-independent;
 *  - per chunk c and top-level field i, d_{i,c} = SHA3-256 over the chunk's
 *    rows in order, each encoded as
 *    null → byte 0x00; non-null → 0x01 ++ enc(value) with
 *      bool → 1 byte; integral (byte/short/int/long) → int64 LE;
 *      float/double → float64 IEEE-754 bits LE, NaN canonicalized, -0.0 → 0.0;
 *      decimal → int32 LE scale ++ int32 LE length ++ unscaled big-endian;
 *      string → int32 LE UTF-8 length ++ bytes;  binary → int32 LE len ++ bytes;
 *      timestamp → epoch micros int64 LE;  date → epoch days int64 LE;
 *      array → int32 LE length ++ element encodings (null markers included);
 *      map → int32 LE size ++ interleaved key/value encodings;
 *      struct → field encodings in order (null markers included);
 *  - per field, D_i = SHA3-256(d_{i,0} ++ d_{i,1} ++ … ++ d_{i,k-1});
 *  - result = hex(SHA3-256(S ++ D_1 ++ … ++ D_n)).
 *
 * Scale shape: executors each hash the chunks they hold after one shuffle
 * that aligns partition boundaries to chunk boundaries; the driver sees only
 * k·n 32-byte sub-digests (rows/8192 per column), combined in chunk order —
 * never the rows themselves. (v0 was a single-level digest streamed through
 * the driver via toLocalIterator: correct, but the whole corpus moved
 * through one machine; SHA3 state can't resume across partitions, so
 * distributing required the explicit chunk level.)
 */
object RecordDigest {

  /** Spark-conf switch: when "true", every slice commit (ingest, batch and
    * streaming transforms, all through `IngestWriter.commitSlice`) stamps
    * its AddData with this digest alongside the xxhash64-XOR fast hash. Off
    * by default — it costs an extra distributed pass (count + chunk-aligned
    * shuffle) per commit. */
  val ConfKey = "spark.graft.digest.sha3"

  /** Rows per chunk — part of the v1 digest definition, NOT a tuning knob:
    * changing it changes every digest. 8192 keeps one chunk's rows in a few
    * MB of executor memory while a billion-row slice still combines only
    * ~122k sub-digests per column on the driver. */
  val RowsPerChunk = 8192L

  def enabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption(ConfKey).contains("true")

  private def sha3(): MessageDigest = MessageDigest.getInstance("SHA3-256")

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  /** Digest the frame IN ITS CURRENT ROW ORDER (callers pass offset-ordered
    * data). Distributed: rows never reach the driver. */
  def digest(df: DataFrame): String = digest(df, RowsPerChunk)

  /** `rowsPerChunk` is exposed for spec-testing the multi-chunk path on
    * small frames; production callers use the canonical constant. */
  private[graft] def digest(df: DataFrame, rowsPerChunk: Long): String = {
    require(rowsPerChunk > 0, "rowsPerChunk must be positive")
    val schema = df.schema
    val fields = schema.fields
    val schemaDigest = {
      val d = sha3()
      fields.foreach { f =>
        d.update(s"${f.name}:${f.dataType.sql};".getBytes("UTF-8"))
      }
      d.digest()
    }

    // zipWithIndex fixes the global row order (one count job), then one
    // shuffle aligns partitions to chunk boundaries so every chunk's SHA3
    // runs wholly on one executor. Cached so the count and the shuffle pass
    // don't each recompute the upstream frame.
    val indexed = df.rdd.zipWithIndex().map(_.swap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = indexed.count()
    val nChunks = math.max(1L, (total + rowsPerChunk - 1) / rowsPerChunk).toInt
    val chunkDigests: Array[(Long, Array[Array[Byte]])] =
      if (total == 0) Array.empty
      else
        indexed
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = nChunks
            override def getPartition(key: Any): Int =
              (key.asInstanceOf[Long] / rowsPerChunk).toInt
          })
          .mapPartitionsWithIndex { (chunk, it) =>
            val rows = it.toArray.sortBy(_._1)
            if (rows.isEmpty) Iterator.empty
            else {
              val ds = fields.map(_ => sha3())
              rows.foreach { case (_, row) =>
                var i = 0
                while (i < ds.length) {
                  updateValue(ds(i), row.isNullAt(i),
                    if (row.isNullAt(i)) null else row.get(i), fields(i).dataType)
                  i += 1
                }
              }
              Iterator((chunk.toLong, ds.map(_.digest())))
            }
          }
          .collect()
    indexed.unpersist(blocking = false)

    val inOrder = chunkDigests.sortBy(_._1)
    val fin = sha3()
    fin.update(schemaDigest)
    var i = 0
    while (i < fields.length) {
      val di = sha3()
      inOrder.foreach { case (_, cols) => di.update(cols(i)) }
      fin.update(di.digest())
      i += 1
    }
    hex(fin.digest())
  }

  private def le64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  private def le32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def updateValue(d: MessageDigest, isNull: Boolean, v: Any, dt: DataType): Unit = {
    if (isNull) { d.update(0x00.toByte); return }
    d.update(0x01.toByte)
    dt match {
      case BooleanType => d.update(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte)
      case ByteType    => d.update(le64(v.asInstanceOf[Byte].toLong))
      case ShortType   => d.update(le64(v.asInstanceOf[Short].toLong))
      case IntegerType => d.update(le64(v.asInstanceOf[Int].toLong))
      case LongType    => d.update(le64(v.asInstanceOf[Long]))
      case FloatType   => d.update(le64(canonicalDoubleBits(v.asInstanceOf[Float].toDouble)))
      case DoubleType  => d.update(le64(canonicalDoubleBits(v.asInstanceOf[Double])))
      case _: DecimalType =>
        val dec = v.asInstanceOf[java.math.BigDecimal]
        val unscaled = dec.unscaledValue().toByteArray
        d.update(le32(dec.scale())); d.update(le32(unscaled.length)); d.update(unscaled)
      case StringType =>
        val b = v.toString.getBytes("UTF-8")
        d.update(le32(b.length)); d.update(b)
      case BinaryType =>
        val b = v.asInstanceOf[Array[Byte]]
        d.update(le32(b.length)); d.update(b)
      case TimestampType =>
        val ts = v.asInstanceOf[java.sql.Timestamp]
        d.update(le64(ts.getTime * 1000L + (ts.getNanos / 1000) % 1000))
      case TimestampNTZType =>
        d.update(le64(
          v.asInstanceOf[java.time.LocalDateTime].toInstant(java.time.ZoneOffset.UTC)
            .toEpochMilli * 1000L))
      case DateType =>
        d.update(le64(v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay))
      case ArrayType(et, _) =>
        val seq = v.asInstanceOf[scala.collection.Seq[Any]]
        d.update(le32(seq.length))
        seq.foreach(e => updateValue(d, e == null, e, et))
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[scala.collection.Map[Any, Any]]
        d.update(le32(m.size))
        m.foreach { case (k, mv) =>
          updateValue(d, k == null, k, kt)
          updateValue(d, mv == null, mv, vt)
        }
      case st: StructType =>
        val r = v.asInstanceOf[Row]
        var i = 0
        while (i < st.fields.length) {
          updateValue(d, r.isNullAt(i), if (r.isNullAt(i)) null else r.get(i), st.fields(i).dataType)
          i += 1
        }
      case other =>
        // fall back to the value's stable string form (calendar intervals …)
        val b = String.valueOf(v).getBytes("UTF-8")
        d.update(le32(b.length)); d.update(b)
    }
  }

  private def canonicalDoubleBits(x: Double): Long =
    if (x.isNaN) java.lang.Double.doubleToLongBits(Double.NaN)
    else if (x == 0.0) 0L // collapse -0.0
    else java.lang.Double.doubleToLongBits(x)
}
