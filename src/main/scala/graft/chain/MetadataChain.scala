package graft.chain

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.json4s.{Formats, ShortTypeHints}
import org.json4s.jackson.Serialization

import graft.FsAtomic
import graft.model.{DatasetVocabulary, MergeConf, MetadataBlock, MetadataEvent}
import graft.model.MetadataEvent._

/**
 * File-backed hash-linked metadata chain.
 *
 * Layout under the dataset root (mirrors
 * src/odf/dataset/src/entities/dataset_layout.rs:30-41):
 * {{{
 *   blocks/NNNNNN-<sha256>.json   one block per file, seq-prefixed
 *   refs/head                     "<seq> <hash>" of the current head
 *   data/<physicalHash>           parquet slice files
 *   checkpoints/                  engine state for streaming transforms
 * }}}
 *
 * All I/O goes through the Hadoop `FileSystem` API, so a dataset root can be
 * any supported scheme — `file://`, `hdfs://`, `s3a://`, ... — the same way
 * the reference registers object stores per session
 * (src/infra/core/src/services/session_context_builder.rs:31-76). Chain
 * membership is decided by walking `prevBlockHash` links back from the head
 * ref (git-style); the directory listing is only an index. Head moves are
 * write-temp + atomic rename — the single commit point of every mutation.
 *
 * Blocks serialize as JSON (json4s, `kind` discriminator). The block hash is
 * SHA-256 over the canonical serialized form — `prevBlockHash` inside the
 * block is what makes the chain tamper-evident, like a git history.
 */
final class MetadataChain private (val root: Path, val fs: FileSystem) {
  import MetadataChain._

  def blocksDir: Path = new Path(root, "blocks")
  private def refsDir: Path = new Path(root, "refs")
  def dataDir: Path = new Path(root, "data")
  def checkpointsDir: Path = new Path(root, "checkpoints")

  /** Absolute path of a slice data file. */
  def dataFile(physicalHash: String): Path = new Path(dataDir, physicalHash)

  // --------------------------------------------------------------- raw I/O

  /** Reads bypass FileSystem-level checksum verification (Hadoop's local FS
    * keeps .crc sidecars): the chain carries its OWN integrity hashes —
    * physical/logical slice hashes and content-addressed block files — and
    * verification must be able to READ tampered bytes to report a precise
    * hash-mismatch issue instead of dying on a ChecksumException. */
  private def readFs: FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other                                      => other
  }

  private def readString(p: Path): String = {
    val in = readFs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Block files currently on disk, sorted by name (reachable or not);
    * a file whose name is not a [[blockFileName]] is not a block. */
  def blockFiles(): Seq[Path] =
    if (!fs.exists(blocksDir)) Nil
    else
      fs.listStatus(blocksDir)
        .toSeq
        .map(_.getPath)
        .filter(p => parseBlockName(p.getName).isDefined)
        .sortBy(_.getName)

  /** (sequenceNumber, blockHash) of the head, if any block exists. */
  def head: Option[(Long, String)] =
    try {
      val Array(seq, hash) = readString(new Path(refsDir, "head")).trim.split(" ")
      Some((seq.toLong, hash))
    } catch { case _: FileNotFoundException => None }

  /** hash → block file path, from the directory listing. The listing is an
    * index, not the source of truth: chain membership is decided by walking
    * `prevBlockHash` links back from the head ref (git-style), so staged or
    * orphaned block files — e.g. a compaction rewrite in progress, or blocks
    * abandoned by a reset — are simply unreachable rather than corrupting
    * reads. */
  private def blockFilesByHash(): Map[String, Path] =
    blockFiles().map(p => parseBlockName(p.getName).get._2 -> p).toMap

  /** All blocks in sequence order (optionally only up to `asOfHash`),
    * resolved by walking prev links back from the head (or `asOfHash`). */
  def blocks(asOfHash: Option[String] = None): Seq[MetadataBlock] =
    blocksWithHashes(asOfHash).map(_._1)

  /** (block, hash) pairs in sequence order — one walk, hashes from the
    * content-addressed filenames.
    * A block hash names its whole prefix, so the blocks reachable from a
    * hash never change: the walk keeps them in a per-JVM cache ([[Walks]])
    * and reads back only to the nearest hash found there. The head ref is
    * still read on every call, so a reset, a compaction or another
    * process's commit is seen at once. [[graft.maintenance.Maintenance]]'s
    * `verify` re-hashes every block file on disk, which is what ties the
    * cached blocks to the bytes. */
  def blocksWithHashes(asOfHash: Option[String] = None): Seq[(MetadataBlock, String)] =
    asOfHash.orElse(head.map(_._2)).fold(Seq.empty[(MetadataBlock, String)])(walk(_).reverse)

  /** The blocks reachable from `hash`, newest first. */
  private def walk(hash: String): List[(MetadataBlock, String)] = {
    lazy val byHash = blockFilesByHash()
    val fresh = List.newBuilder[(MetadataBlock, String)]
    var known = List.empty[(MetadataBlock, String)]
    var cur = Option(hash)
    while (cur.isDefined) {
      val h = cur.get
      Walks.get(root, h) match {
        case Some(blocks) => known = blocks; cur = None
        case None =>
          val b = read(byHash.getOrElse(h,
            throw new IllegalStateException(s"block $h not found in chain at $root")))
          fresh += ((b, h))
          cur = b.prevBlockHash
      }
    }
    val blocks = fresh.result() ::: known
    if (blocks ne known) Walks.put(root, hash, blocks)
    blocks
  }

  /** Write a block file WITHOUT moving the head ref — the staging half of an
    * append. Returns (block, hash). Used by append and by chain rewrites
    * (compaction), which stage a whole new chain next to the old one and
    * commit with a single atomic [[setHead]]. */
  def writeDetachedBlock(
      prev: Option[(Long, String)],
      event: MetadataEvent,
      systemTime: Long
  ): (MetadataBlock, String) = {
    val block = MetadataBlock(prev.map(_._1 + 1).getOrElse(0L), prev.map(_._2), systemTime, event)
    val json = Serialization.write(block)(formats)
    val hash = sha256Hex(json.getBytes(StandardCharsets.UTF_8))
    fs.mkdirs(blocksDir)
    writeString(new Path(blocksDir, blockFileName(block.sequenceNumber, hash)), json)
    // The walk from the new block is its parent's plus the block, as a
    // read of the file would give it.
    prev.fold(Option(List.empty[(MetadataBlock, String)]))(p => Walks.get(root, p._2))
      .foreach(known => Walks.put(root, hash, (parse(json), hash) :: known))
    (block, hash)
  }

  /** Land a content-addressed object (block / slice / checkpoint file) via
    * write-temp + rename — the landing discipline every sync transport
    * shares: a crash never leaves a truncated file under its final name, and
    * a leftover target (e.g. from an interrupted copy under a non-atomic FS)
    * is replaced, not appended to. */
  def writeObjectAtomic(target: Path, bytes: Array[Byte]): Unit =
    writeObjectAtomicFrom(target, new java.io.ByteArrayInputStream(bytes), None)

  /**
   * Streaming form of [[writeObjectAtomic]]: copy `in` to the staging temp
   * in 64 KiB chunks, digesting as it flows, and only rename into place when
   * the digest matches `expectedSha256` (when given) — a mismatching upload
   * is deleted, never named. This is what keeps sync transfers O(buffer),
   * not O(object): a compacted slice is up to 1 GiB, and neither side of a
   * transfer should ever hold one in memory. Returns (bytesWritten, sha256).
   */
  def writeObjectAtomicFrom(
      target: Path,
      in: java.io.InputStream,
      expectedSha256: Option[String]
  ): (Long, String) = {
    val tmp = new Path(new Path(root, "staging"), s"obj-${java.util.UUID.randomUUID()}")
    fs.mkdirs(tmp.getParent)
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    val out = fs.create(tmp, true)
    try {
      val buf = new Array[Byte](1 << 16)
      var r = in.read(buf)
      while (r >= 0) {
        if (r > 0) { md.update(buf, 0, r); out.write(buf, 0, r); n += r }
        r = in.read(buf)
      }
    } finally out.close()
    val got = md.digest().map("%02x".format(_)).mkString
    expectedSha256.foreach { want =>
      if (got != want) {
        fs.delete(tmp, false)
        throw new IllegalArgumentException(
          s"object for $target fails its content address (hashes to $got, not $want)")
      }
    }
    if (fs.exists(target)) fs.delete(target, false)
    fs.mkdirs(target.getParent)
    require(fs.rename(tmp, target), s"rename $tmp -> $target failed")
    (n, got)
  }

  /** Atomically move the head ref (write-temp + atomic rename) — the single
    * commit point of every chain mutation: a crash before it leaves the old
    * chain fully intact (staged block files are unreachable, not corrupting),
    * a crash after it leaves the new chain fully committed. */
  def setHead(seq: Long, hash: String): Unit =
    FsAtomic.write(fs, new Path(refsDir, "head"), s"$seq $hash".getBytes(StandardCharsets.UTF_8))

  /** Append an event as a new block; returns (block, hash). */
  def append(event: MetadataEvent, systemTime: Long): (MetadataBlock, String) = {
    val (block, hash) = writeDetachedBlock(head, event, systemTime)
    setHead(block.sequenceNumber, hash)
    (block, hash)
  }

  /** Rewind the head ref to an earlier block (Reset operator,
    * src/infra/core/src/services/reset). Blocks after it stay on disk but
    * become unreachable (the head-backwards walk never sees them); a
    * subsequent append branches off the reset point with a fresh hash. */
  def reset(toHash: String): Unit = {
    val target = blocksWithHashes().find(_._2 == toHash)
    require(target.isDefined, s"block $toHash not found in chain at $root")
    setHead(target.get._1.sequenceNumber, toHash)
  }

  def blockHashes(): Seq[String] = blocksWithHashes().map(_._2)

  /** Delete block files no longer reachable from the head — the GC half of a
    * chain rewrite. Safe to run (or crash and re-run) at any time. */
  def gcUnreachableBlocks(): Unit = {
    val reachable = blocksWithHashes().map(_._2).toSet
    blockFilesByHash().foreach { case (h, p) =>
      if (!reachable.contains(h)) fs.delete(p, false)
    }
  }

  // ------------------------------------------------------------- visitors

  /** Latest declared vocabulary (SetVocab) or defaults. */
  def vocabulary(asOf: Option[String] = None): DatasetVocabulary =
    blocks(asOf).reverseIterator
      .collectFirst { case MetadataBlock(_, _, _, v: SetVocab) => v.toVocabulary }
      .getOrElse(DatasetVocabulary.Default)

  /** Latest declared schema DDL (SetDataSchema). */
  def schemaDdl(asOf: Option[String] = None): Option[String] =
    blocks(asOf).reverseIterator.collectFirst {
      case MetadataBlock(_, _, _, SetDataSchema(ddl)) => ddl
    }

  /** Latest polling source declaration; None after a DisablePollingSource
    * that follows it (dtos_generated.rs:1010). */
  def pollingSource(asOf: Option[String] = None): Option[SetPollingSource] =
    blocks(asOf).reverseIterator
      .collectFirst {
        case MetadataBlock(_, _, _, s: SetPollingSource)  => Some(s)
        case MetadataBlock(_, _, _, _: DisablePollingSource) => None
      }
      .flatten

  /** Latest declaration of the named push source; None if disabled after
    * (AddPushSource / DisablePushSource, dtos_generated.rs:880-903,1023). */
  def pushSource(sourceName: String, asOf: Option[String] = None): Option[AddPushSource] =
    blocks(asOf).reverseIterator
      .collectFirst {
        case MetadataBlock(_, _, _, s: AddPushSource) if s.sourceName == sourceName    => Some(s)
        case MetadataBlock(_, _, _, DisablePushSource(n)) if n == sourceName           => None
      }
      .flatten

  /** Latest attachments (SetAttachments). */
  def attachments(asOf: Option[String] = None): Seq[Attachment] =
    blocks(asOf).reverseIterator
      .collectFirst { case MetadataBlock(_, _, _, SetAttachments(a)) => a }
      .getOrElse(Nil)

  /** Latest transform declaration. */
  def transform(asOf: Option[String] = None): Option[SetTransform] =
    blocks(asOf).reverseIterator.collectFirst {
      case MetadataBlock(_, _, _, t: SetTransform) => t
    }

  /** Push sources currently enabled: latest AddPushSource per name, unless a
    * DisablePushSource follows it — one pass, same disable semantics as
    * `pushSource(name)`. */
  def enabledPushSources(asOf: Option[String] = None): Seq[AddPushSource] = {
    val latest = scala.collection.mutable.LinkedHashMap.empty[String, Option[AddPushSource]]
    blocks(asOf).foreach {
      case MetadataBlock(_, _, _, s: AddPushSource)     => latest(s.sourceName) = Some(s)
      case MetadataBlock(_, _, _, DisablePushSource(n)) => latest(n) = None
      case _                                            => ()
    }
    latest.values.flatten.toSeq
  }

  /** Primary key from the merge strategy — polling source first, else any
    * ENABLED push source that declares one (changelog-projection service
    * needs it — query_service_impl.rs:630-738). A disabled source's key is
    * not used, consistent with `pushSource` disable semantics. */
  def primaryKey(asOf: Option[String] = None): Seq[String] =
    pollingSource(asOf)
      .map(_.merge.primaryKey)
      .filter(_.nonEmpty)
      .orElse(
        enabledPushSources(asOf).reverseIterator
          .map(_.merge.primaryKey)
          .find(_.nonEmpty)
      )
      .getOrElse(Nil)

  /** All data-bearing slices in chain order (AddData + ExecuteTransform
    * events, see [[MetadataChain.objectsOf]]). */
  def slices(asOf: Option[String] = None): Seq[AddData] =
    blocks(asOf).flatMap(b => objectsOf(b.event)._1)

  /** Head-backwards slice selection until `lastRecords` records are covered —
    * the record-limit file pruning of kamu_table.rs:230-295. */
  def slicesForLastRecords(lastRecords: Long, asOf: Option[String] = None): Seq[AddData] = {
    val all = slices(asOf).reverse
    var acc = 0L
    val taken = all.takeWhile { s =>
      val need = acc < lastRecords
      acc += s.numRecords
      need
    }
    taken.reverse
  }

  /** Offset of the last record written, if any. */
  def lastOffset(asOf: Option[String] = None): Option[Long] =
    slices(asOf).lastOption.map(_.offsetEnd)

  /** Current watermark: latest non-empty newWatermark. Reads blocks
    * directly (not [[slices]]) so a data-less set-watermark AddData counts. */
  def watermark(asOf: Option[String] = None): Option[Long] =
    blocks(asOf).reverseIterator.collectFirst {
      case MetadataBlock(_, _, _, a: AddData) if a.newWatermark.isDefined => a.newWatermark.get
      case MetadataBlock(_, _, _, ExecuteTransform(_, Some(d), _)) if d.newWatermark.isDefined =>
        d.newWatermark.get
    }

  /** Last ExecuteTransform event (for incremental elaboration). */
  def lastExecuteTransform(asOf: Option[String] = None): Option[ExecuteTransform] =
    blocks(asOf).reverseIterator.collectFirst {
      case MetadataBlock(_, _, _, t: ExecuteTransform) => t
    }

  /** Seed event (must be block 0). */
  def seed: Seed = blocks().head.event match {
    case s: Seed => s
    case other   => throw new IllegalStateException(s"chain at $root starts with $other, not Seed")
  }

  /** Absolute paths of the given slices' data files. */
  def slicePaths(ss: Seq[AddData]): Seq[String] =
    ss.map(s => dataFile(s.physicalHash).toString)

  /** SHA-256 of a file's bytes, streamed through this chain's FileSystem
    * (raw, so tampered files hash instead of throwing — see [[readFs]]). */
  def sha256HexOf(p: Path): String = MetadataChain.sha256HexOf(readFs, p)

  private def read(p: Path): MetadataBlock = parse(readString(p))
}

object MetadataChain {

  /** json4s formats with a `kind` discriminator for the event ADT. Hint
    * names are the bare event names (Seed, AddData, …) — the default
    * ShortTypeHints would leak the `MetadataEvent$` outer-object prefix into
    * the on-disk block files. */
  val formats: Formats = Serialization.formats(
    new ShortTypeHints(
      List(
        classOf[Seed],
        classOf[SetVocab],
        classOf[SetDataSchema],
        classOf[SetPollingSource],
        classOf[SetTransform],
        classOf[AddData],
        classOf[ExecuteTransform],
        classOf[SetInfo],
        classOf[SetLicense],
        classOf[SetAttachments],
        classOf[AddPushSource],
        classOf[DisablePushSource],
        classOf[DisablePollingSource]
      ),
      "kind"
    ) {
      override def hintFor(clazz: Class[_]): Some[String] =
        Some(clazz.getSimpleName.stripSuffix("$"))
      override def classFor(hint: String, parent: Class[_]): Option[Class[_]] =
        hints.find(_.getSimpleName.stripSuffix("$") == hint)
    }
  )

  private def resolve(root: Path, conf: Configuration): (Path, FileSystem) = {
    val fs = root.getFileSystem(conf)
    (fs.makeQualified(root), fs)
  }

  def create(root: Path, conf: Configuration): MetadataChain = {
    val (qualified, fs) = resolve(root, conf)
    fs.mkdirs(new Path(qualified, "blocks"))
    fs.mkdirs(new Path(qualified, "refs"))
    fs.mkdirs(new Path(qualified, "data"))
    fs.mkdirs(new Path(qualified, "checkpoints"))
    new MetadataChain(qualified, fs)
  }

  def open(root: Path, conf: Configuration): MetadataChain = {
    val (qualified, fs) = resolve(root, conf)
    require(fs.isDirectory(new Path(qualified, "blocks")), s"no metadata chain at $root")
    new MetadataChain(qualified, fs)
  }

  def exists(root: Path, conf: Configuration): Boolean = {
    val (qualified, fs) = resolve(root, conf)
    fs.isDirectory(new Path(qualified, "blocks")) &&
    fs.exists(new Path(new Path(qualified, "refs"), "head"))
  }

  // java.nio compatibility overloads (local filesystems, default Hadoop conf)

  def create(root: java.nio.file.Path): MetadataChain =
    create(new Path(root.toUri), defaultConf)

  def open(root: java.nio.file.Path): MetadataChain =
    open(new Path(root.toUri), defaultConf)

  def exists(root: java.nio.file.Path): Boolean =
    exists(new Path(root.toUri), defaultConf)

  private def defaultConf: Configuration = new Configuration()

  private[graft] def parse(json: String): MetadataBlock =
    Serialization.read[MetadataBlock](json)(formats, manifest[MetadataBlock])

  /** Reachable block lists by (qualified root, block hash), newest first.
    * The lists of one chain share their tails, so an entry per head costs
    * one cell. Bounded; the least recently used entry goes first. */
  private object Walks {
    private val MaxEntries = 256
    private val lru =
      new java.util.LinkedHashMap[(String, String), List[(MetadataBlock, String)]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), List[(MetadataBlock, String)]]): Boolean =
          size > MaxEntries
      }
    def get(root: Path, hash: String): Option[List[(MetadataBlock, String)]] =
      lru.synchronized(Option(lru.get((root.toString, hash))))
    def put(root: Path, hash: String, blocks: List[(MetadataBlock, String)]): Unit =
      lru.synchronized { lru.put((root.toString, hash), blocks); () }
  }

  /** `blocks/` file name of the block with sequence number `seq` and hash
    * `hash`: `NNNNNN-<sha256>.json`. */
  private[graft] def blockFileName(seq: Long, hash: String): String = f"$seq%06d-$hash.json"

  private val BlockName = """(\d{6,})-([0-9a-f]{64})\.json""".r

  /** (seq, hash) of a [[blockFileName]]; None for anything else, so a name
    * that parses is one path segment and cannot point outside `blocks/`. */
  private[graft] def parseBlockName(name: String): Option[(Long, String)] = name match {
    case BlockName(seq, hash) => Some((seq.toLong, hash))
    case _                    => None
  }

  /** The objects a block's event references: its data slice and its engine
    * checkpoint. An AddData with no physical file (ODF's `new_data: None`
    * form, produced by set-watermark) carries metadata only and references
    * no slice. Every reader of the referenced objects — `slices`, gc and
    * each sync path — goes through this one match. */
  private[graft] def objectsOf(event: MetadataEvent): (Option[AddData], Option[CheckpointRef]) =
    event match {
      case a: AddData          => (Some(a).filter(_.physicalHash.nonEmpty), None)
      case e: ExecuteTransform => (e.newData, e.newCheckpoint)
      case _                   => (None, None)
    }

  /** Accept one block file from an untrusted peer: its name must be a
    * [[blockFileName]], its bytes must hash to the name's hash, they must
    * decode as a block, and the block must declare the name's sequence
    * number. Returns the block and its hash. */
  private[graft] def acceptBlock(name: String, bytes: Array[Byte]): (MetadataBlock, String) = {
    val (seq, hash) = parseBlockName(name).getOrElse(
      throw new IllegalArgumentException(s"'$name' is not a valid block name"))
    val got = sha256Hex(bytes)
    require(got == hash, s"block $name fails its content address (hashes to $got)")
    val block = parse(new String(bytes, StandardCharsets.UTF_8))
    require(block.sequenceNumber == seq,
      s"block $name declares seq ${block.sequenceNumber} but is named $seq")
    (block, hash)
  }

  /** Require `delta` (oldest first) to continue the chain whose head is
    * `head` (None: an empty chain): consecutive sequence numbers, each block
    * prev-linked to the one before. A content address proves a block's
    * bytes, not its place, so a receiver checks this before it moves a
    * head over blocks from a peer. */
  private[graft] def requireLinked(
      head: Option[(Long, String)],
      delta: Seq[(MetadataBlock, String)]
  ): Unit =
    delta.foldLeft(head) { case (prev, (b, h)) =>
      val expectSeq = prev.fold(0L)(_._1 + 1)
      require(b.sequenceNumber == expectSeq,
        s"block $h has seq ${b.sequenceNumber}, chain expects $expectSeq")
      require(b.prevBlockHash == prev.map(_._2),
        s"block $h prev-links to ${b.prevBlockHash}, chain expects ${prev.map(_._2)}")
      Some((b.sequenceNumber, h))
    }

  /** A relative path that stays under the directory it is joined to: not
    * empty, not absolute, no `.`/`..`/empty segment, no backslash and no
    * `:` (Hadoop `Path` treats a `scheme:` or `C:` child as absolute and
    * drops the parent). Checkpoint names, checkpoint file paths and bundle
    * entries from a peer all pass through it. */
  private[graft] def isSafeRelPath(s: String): Boolean =
    s.nonEmpty && !s.startsWith("/") && !s.contains("\\") && !s.contains(":") &&
      s.split("/", -1).forall(seg => seg.nonEmpty && seg != "." && seg != "..")

  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** SHA-256 streamed through a Hadoop FileSystem (no local materialize). */
  def sha256HexOf(fs: FileSystem, p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }
}
