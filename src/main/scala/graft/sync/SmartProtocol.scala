package graft.sync

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.{GzipCompressorInputStream, GzipCompressorOutputStream}
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.chain.MetadataChain
import graft.model.MetadataBlock

/**
 * Message model + JSON codec of the Smart Transfer Protocol — the phased
 * WebSocket negotiation the reference uses for node-to-node dataset sync
 * (reference: `src/adapter/http/src/smart_protocol/messages.rs:18-362`,
 * `phases.rs:18-38`). Wire shapes mirror the reference's serde defaults:
 * snake_case fields, `{"Ok":…}`/`{"Err":…}` result wrapping, unit enum
 * variants as bare strings (`"HttpDownload"`, `"SkipUpload"`, `"Complete"`).
 *
 * Two deliberate divergences, both documented here:
 *  - `MetadataBlocksBatch.payload` travels as a base64 STRING, not serde's
 *    JSON array-of-ints (4× smaller on the wire for the same tar.gz bytes);
 *    the decoder accepts both shapes.
 *  - tar entries are named by the chain's full block file name
 *    (`NNNNNN-<sha256>.json`) rather than a bare multihash — this chain
 *    layout carries the sequence number in the name (messages.rs:296-303
 *    names entries by hash only).
 */
object SmartProtocol {

  val ProtocolVersion = 1
  val MediaTarGz = "application/tar+gzip"
  val EncodingRaw = "raw"

  // ----------------------------------------------------------------- model

  final case class TransferPlan(
      numBlocks: Long, numObjects: Long, numRecords: Long,
      bytesInRawBlocks: Long, bytesInRawObjects: Long)

  final case class ObjectFileReference(objectType: String, physicalHash: String, size: Long)

  final case class TransferUrl(url: String, headers: Seq[(String, String)] = Nil)

  final case class PullStrategy(objectFile: ObjectFileReference, downloadFrom: TransferUrl)

  final case class PushStrategy(
      objectFile: ObjectFileReference, pushStrategy: String, uploadTo: Option[TransferUrl])

  /** (blockFileName, bytes), oldest-first. */
  final case class BlocksBatch(blocks: Seq[(String, Array[Byte])])

  /** The transfer plan of `delta` (oldest first, read from `chain`) and the
    * objects it references: each distinct data slice with its file size,
    * then each distinct checkpoint. The push request and the pull answer
    * both carry this plan. */
  private[sync] def planOf(
      chain: MetadataChain,
      delta: Seq[(MetadataBlock, String)]
  ): (TransferPlan, Seq[ObjectFileReference]) = {
    def len(p: Path): Long = chain.fs.getFileStatus(p).getLen
    val objects = delta.map(b => MetadataChain.objectsOf(b._1.event))
    val data = objects.flatMap(_._1).distinctBy(_.physicalHash)
    val refs =
      data.map(a =>
        ObjectFileReference("DataSlice", a.physicalHash, len(chain.dataFile(a.physicalHash)))) ++
        objects.flatMap(_._2).distinctBy(_.name)
          .map(c => ObjectFileReference("Checkpoint", c.name, c.sizeBytes))
    val blockBytes = delta.map { case (b, h) =>
      len(new Path(chain.blocksDir, MetadataChain.blockFileName(b.sequenceNumber, h)))
    }
    (TransferPlan(delta.size.toLong, refs.size.toLong, data.map(_.numRecords).sum,
      blockBytes.sum, refs.map(_.size).sum), refs)
  }

  // ------------------------------------------------------------------ JSON

  private def jopt(v: Option[String]): JValue = v.fold[JValue](JNull)(JString(_))

  def renderPlan(p: TransferPlan): JValue = JObject(
    "num_blocks" -> JLong(p.numBlocks), "num_objects" -> JLong(p.numObjects),
    "num_records" -> JLong(p.numRecords),
    "bytes_in_raw_blocks" -> JLong(p.bytesInRawBlocks),
    "bytes_in_raw_objects" -> JLong(p.bytesInRawObjects))

  def parsePlan(j: JValue): TransferPlan = TransferPlan(
    num(j \ "num_blocks"), num(j \ "num_objects"), num(j \ "num_records"),
    num(j \ "bytes_in_raw_blocks"), num(j \ "bytes_in_raw_objects"))

  private def num(j: JValue): Long = j match {
    case JInt(v)     => v.toLong
    case JLong(v)    => v
    case JDouble(v)  => v.toLong
    case JDecimal(v) => v.toLong
    case other       => throw new IllegalArgumentException(s"expected number, got $other")
  }

  private def str(j: JValue): String = j match {
    case JString(s) => s
    case other      => throw new IllegalArgumentException(s"expected string, got $other")
  }

  private def optStr(j: JValue): Option[String] = j match {
    case JString(s)          => Some(s)
    case JNull | JNothing    => None
    case other               => throw new IllegalArgumentException(s"expected string/null, got $other")
  }

  def renderObjectRef(o: ObjectFileReference): JValue = JObject(
    "object_type" -> JString(o.objectType),
    "physical_hash" -> JString(o.physicalHash), "size" -> JLong(o.size))

  def parseObjectRef(j: JValue): ObjectFileReference =
    ObjectFileReference(str(j \ "object_type"), str(j \ "physical_hash"), num(j \ "size"))

  def renderTransferUrl(u: TransferUrl): JValue = JObject(
    "url" -> JString(u.url),
    "headers" -> JArray(u.headers.toList.map { case (n, v) =>
      JObject("name" -> JString(n), "value" -> JString(v)) }),
    "expires_at" -> JNull)

  def parseTransferUrl(j: JValue): TransferUrl = TransferUrl(
    str(j \ "url"),
    (j \ "headers") match {
      case JArray(hs) => hs.map(h => (str(h \ "name"), str(h \ "value")))
      case _          => Nil
    })

  def ok(payload: JValue): String = compact(JObject("Ok" -> payload))
  def err(variant: String, payload: JValue = JObject()): String =
    compact(JObject("Err" -> JObject(variant -> payload)))

  def compact(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))
  def parse(s: String): JValue = JsonMethods.parse(s)

  /** Unwrap `{"Ok":…}` or raise the `{"Err":{Variant:…}}` as an exception. */
  def expectOk(raw: String, phase: String): JValue = {
    val j = parse(raw)
    (j \ "Ok") match {
      case JNothing =>
        val errBody = (j \ "Err") match { case JNothing => j; case e => e }
        throw new SmartProtocolException(phase, compact(errBody))
      case okBody => okBody
    }
  }

  final class SmartProtocolException(val phase: String, val detail: String)
      extends RuntimeException(s"smart protocol $phase refused: $detail")

  // -------------------------------------------------- metadata blocks batch

  /** Pack block files into the reference's tar.gz batch envelope
    * (protocol_dataset_helper.rs:134-181), oldest block first. */
  def renderBlocksBatch(batch: BlocksBatch): JValue = {
    val bos = new ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(bos))
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    batch.blocks.foreach { case (name, bytes) =>
      val entry = new TarArchiveEntry(name)
      entry.setSize(bytes.length.toLong)
      tar.putArchiveEntry(entry)
      tar.write(bytes)
      tar.closeArchiveEntry()
    }
    tar.finish(); tar.close()
    JObject(
      "num_blocks" -> JLong(batch.blocks.size.toLong),
      "media_type" -> JString(MediaTarGz),
      "encoding" -> JString(EncodingRaw),
      "payload" -> JString(Base64.getEncoder.encodeToString(bos.toByteArray)))
  }

  def parseBlocksBatch(j: JValue): BlocksBatch = {
    require(str(j \ "media_type") == MediaTarGz, s"unsupported media type ${j \ "media_type"}")
    require(str(j \ "encoding") == EncodingRaw, s"unsupported encoding ${j \ "encoding"}")
    val payload: Array[Byte] = (j \ "payload") match {
      case JString(b64) => Base64.getDecoder.decode(b64)
      case JArray(ints) => ints.map(num(_).toByte).toArray // serde's Vec<u8> shape
      case other        => throw new IllegalArgumentException(s"bad batch payload: $other")
    }
    val blocks = untarGz(new java.io.ByteArrayInputStream(payload))
    require(blocks.size.toLong == num(j \ "num_blocks"),
      s"batch declared ${num(j \ "num_blocks")} blocks, carried ${blocks.size}")
    BlocksBatch(blocks)
  }

  /** All regular-file entries of a tar.gz stream, in archive order. */
  def untarGz(in: java.io.InputStream): Seq[(String, Array[Byte])] = {
    val tar = new TarArchiveInputStream(new GzipCompressorInputStream(in))
    val out = Seq.newBuilder[(String, Array[Byte])]
    var entry = tar.getNextEntry
    while (entry != null) {
      if (!entry.isDirectory) out += entry.getName -> tar.readAllBytes()
      entry = tar.getNextEntry
    }
    out.result()
  }

  /** Pack a directory tree (e.g. a checkpoint dir) into a tar.gz whose entry
    * names are `/`-relative paths, sorted for determinism. Checkpoint dirs
    * are bounded streaming-state artifacts (MiBs, not data-scale), so
    * buffering the bundle is fine — data slices never travel this way. */
  def packDirTarGz(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Array[Byte] = {
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st.getPath)
      }
    val bos = new ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(bos))
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    walk(dir).foreach { p =>
      val rel = p.toUri.getPath.stripPrefix(dir.toUri.getPath).stripPrefix("/")
      val st = fs.getFileStatus(p)
      val entry = new TarArchiveEntry(rel)
      entry.setSize(st.getLen)
      tar.putArchiveEntry(entry)
      val fin = fs.open(p)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = fin.read(buf)
        while (n >= 0) { if (n > 0) tar.write(buf, 0, n); n = fin.read(buf) }
      } finally fin.close()
      tar.closeArchiveEntry()
    }
    tar.finish(); tar.close()
    bos.toByteArray
  }

  // ------------------------------------------------------- request shapes

  def renderPullRequest(beginAfter: Option[String], stopAt: Option[String], force: Boolean): String =
    compact(JObject(
      "begin_after" -> jopt(beginAfter), "stop_at" -> jopt(stopAt),
      "force_update_if_diverged" -> JBool(force)))

  def parsePullRequest(raw: String): (Option[String], Option[String], Boolean) = {
    val j = parse(raw)
    (optStr(j \ "begin_after"), optStr(j \ "stop_at"),
      (j \ "force_update_if_diverged") == JBool(true))
  }

  def renderPushRequest(
      currentHead: Option[String], plan: TransferPlan, force: Boolean): String =
    compact(JObject(
      "current_head" -> jopt(currentHead),
      "transfer_plan" -> renderPlan(plan),
      "force_update_if_diverged" -> JBool(force),
      "visibility_for_created_dataset" -> JString("Private")))

  def parsePushRequest(raw: String): (Option[String], TransferPlan, Boolean) = {
    val j = parse(raw)
    (optStr(j \ "current_head"), parsePlan(j \ "transfer_plan"),
      (j \ "force_update_if_diverged") == JBool(true))
  }

  def renderObjectsRequest(objects: Seq[ObjectFileReference], isTruncated: Option[Boolean]): String =
    compact(JObject(
      ("object_files" -> JArray(objects.toList.map(renderObjectRef))) ::
        isTruncated.map(t => "is_truncated" -> JBool(t)).toList))

  def parseObjectsRequest(raw: String): (Seq[ObjectFileReference], Boolean) = {
    val j = parse(raw)
    val objs = (j \ "object_files") match {
      case JArray(items) => items.map(parseObjectRef)
      case other         => throw new IllegalArgumentException(s"bad object_files: $other")
    }
    (objs, (j \ "is_truncated") == JBool(true))
  }
}
