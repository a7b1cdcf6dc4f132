package graft.sync

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.chain.MetadataChain
import graft.model.MetadataBlock

/**
 * Dataset synchronization between two Hadoop-FS locations — the role of the
 * reference's `SyncService` + Simple Transfer Protocol
 * (src/domain/core/src/services/sync_service.rs:25,
 * src/infra/core/src/utils/simple_transfer_protocol.rs:77): compare the two
 * metadata chains, transfer only the blocks the destination is missing plus
 * the data slices / checkpoints they reference, and commit by moving the
 * destination head atomically.
 *
 * Because both block files and data files are content-addressed (the block
 * hash is in the filename, the slice filename IS its sha256), the transfer is
 * naturally **resumable**: a file that already exists at the destination with
 * the right length is skipped, every copy lands via write-temp + rename (a
 * crash never leaves a truncated file under its final name), and the head ref
 * only moves after every object is in place — re-running a crashed sync
 * finishes the remainder and commits.
 *
 * Works over any `FileSystem` scheme pair (`file://`, `hdfs://`, `s3a://`,
 * the test `mock://`), so "remote repository" means "any URI the Hadoop conf
 * can resolve" — same posture as the reference's repository URLs.
 */
object SyncService {

  /** Relationship of a source chain to a destination chain — the reference's
    * `CompareChainsResult` (src/domain/core/src/utils/
    * metadata_chain_comparator.rs:281). */
  sealed trait ChainsStatus
  case object Equal extends ChainsStatus
  /** Source has `blocks` the destination is missing (fast-forward push). */
  final case class Ahead(blocks: Seq[(MetadataBlock, String)]) extends ChainsStatus
  /** Destination has `numBlocks` the source is missing. */
  final case class Behind(numBlocks: Int) extends ChainsStatus
  /** Chains share a prefix then disagree (e.g. a reset+append branch). */
  final case class Diverged(uncommonSrc: Int, uncommonDst: Int) extends ChainsStatus

  sealed trait SyncResult
  case object UpToDate extends SyncResult
  final case class Updated(
      oldHead: Option[String],
      newHead: String,
      numBlocks: Int,
      dataFilesCopied: Int
  ) extends SyncResult

  final class SyncException(msg: String, val status: ChainsStatus)
      extends RuntimeException(msg)

  /** Run independent transfer tasks on a bounded pool and return their
    * results in input order; the first failure propagates (its cause, not
    * the ExecutionException wrapper) and interrupts the rest. Safe for
    * object transfer because every copy is idempotent (content-addressed,
    * staged via temp + rename) — an interrupted copy leaves only a temp
    * file. The reference benchmarks exactly this parallel variant of its
    * simple transfer protocol
    * (src/infra/core/tests/benches/parallel_simple_transfer_protocol.rs). */
  private[sync] def inParallel[T](parallelism: Int, tasks: Seq[() => T]): Seq[T] = {
    if (tasks.isEmpty) return Nil
    if (tasks.size == 1 || parallelism <= 1) return tasks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, tasks.size))
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      futures.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  /** Compare two chains by their sequence of block hashes (block hashes chain
    * through `prevBlockHash`, so a common prefix of hashes IS a common
    * history, git-style). */
  def compare(src: MetadataChain, dst: MetadataChain): ChainsStatus =
    compareHashes(src.blocksWithHashes(), dst.blockHashes())

  private[sync] def compareHashes(
      src: Seq[(MetadataBlock, String)],
      dstHashes: Seq[String]
  ): ChainsStatus = {
    val common = src.map(_._2).zip(dstHashes).takeWhile { case (a, b) => a == b }.size
    if (common < src.size && common < dstHashes.size)
      Diverged(uncommonSrc = src.size - common, uncommonDst = dstHashes.size - common)
    else if (common < src.size) Ahead(src.drop(common))
    else if (common < dstHashes.size) Behind(dstHashes.size - common)
    else Equal
  }

  /**
   * Sync the dataset at `srcRoot` into `dstRoot` (both any Hadoop-FS URI).
   *
   * - destination missing → created (when `createIfNotExists`), full copy;
   * - destination behind → fast-forward: copy only the missing blocks and
   *   the data/checkpoint objects they reference;
   * - destination equal → `UpToDate`;
   * - destination ahead or diverged → `SyncException` unless `force`, which
   *   overwrites the destination ref with the source chain (the abandoned
   *   destination blocks stay on disk but become unreachable, exactly like a
   *   local `reset`).
   *
   * With `verify` (the reference's `trust_source = false`) every transferred
   * object's sha256 is recomputed at the destination and checked against its
   * content address before the head moves.
   */
  def sync(
      srcRoot: Path,
      dstRoot: Path,
      conf: Configuration,
      createIfNotExists: Boolean = true,
      force: Boolean = false,
      verify: Boolean = false,
      parallelism: Int = 8
  ): SyncResult = {
    val src = MetadataChain.open(srcRoot, conf)
    val dstExists = MetadataChain.exists(dstRoot, conf)
    if (!dstExists && !createIfNotExists)
      throw new IllegalArgumentException(s"no dataset at $dstRoot and createIfNotExists=false")
    val dst =
      if (dstExists) MetadataChain.open(dstRoot, conf) else MetadataChain.create(dstRoot, conf)

    val srcBlocks = src.blocksWithHashes()
    val dstHead = dst.head
    val status = compareHashes(srcBlocks, if (dstHead.isDefined) dst.blockHashes() else Nil)

    val toTransfer: Seq[(MetadataBlock, String)] = status match {
      case Equal            => return UpToDate
      case Ahead(blocks)    => blocks
      case Behind(n) if !force =>
        throw new SyncException(
          s"destination $dstRoot is ahead by $n block(s); use force to overwrite", status)
      case d: Diverged if !force =>
        throw new SyncException(
          s"chains have diverged (src +${d.uncommonSrc} / dst +${d.uncommonDst} " +
            s"past common ancestor); use force to overwrite", status)
      case _ =>
        // force: make dst mirror src — copy whatever block files dst is
        // missing; its extra blocks become unreachable after the head move.
        val have = dst.blockFiles().flatMap(p => MetadataChain.parseBlockName(p.getName))
          .map(_._2).toSet
        srcBlocks.filterNot { case (_, h) => have.contains(h) }
    }

    // Transfer plan: at 100 TB a dataset is thousands of ≤1 GiB slices, so
    // the copies — all independent content-addressed objects — run on a
    // bounded pool instead of one driver-thread loop. Ordering invariant
    // kept globally: data + checkpoints land first, block files second, the
    // head (the commit point) moves last — a crash at any point leaves only
    // objects no committed block references, and the re-run resumes.
    val objects = toTransfer.map(b => MetadataChain.objectsOf(b._1.event))
    val dataRefs = objects.flatMap(_._1).map(_.physicalHash).distinct
    val ckptRefs = objects.flatMap(_._2).map(_.name).distinct

    def listFiles(p: Path): Seq[Path] =
      if (!src.fs.exists(p)) Nil
      else src.fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) listFiles(st.getPath) else Seq(st.getPath)
      }

    val dataCopied = new java.util.concurrent.atomic.AtomicInteger(0)
    val objectCopies: Seq[() => Unit] =
      dataRefs.map { ph => () =>
        if (copyFile(src.fs, src.dataFile(ph), dst.fs, dst.dataFile(ph), dst.root)) {
          dataCopied.incrementAndGet()
          if (verify) {
            val got = MetadataChain.sha256HexOf(dst.fs, dst.dataFile(ph))
            require(got == ph, s"transferred slice $ph hashes to $got at destination")
          }
        }
      } ++
        ckptRefs.flatMap { name =>
          val srcDir = new Path(src.checkpointsDir, name)
          val dstDir = new Path(dst.checkpointsDir, name)
          listFiles(srcDir).map { p => () =>
            val rel = p.toUri.getPath.stripPrefix(srcDir.toUri.getPath).stripPrefix("/")
            copyFile(src.fs, p, dst.fs, new Path(dstDir, rel), dst.root): Unit
          }
        }
    val blockCopies: Seq[() => Unit] = toTransfer.map { case (block, hash) => () =>
      val blockName = MetadataChain.blockFileName(block.sequenceNumber, hash)
      if (copyFile(src.fs, new Path(src.blocksDir, blockName),
          dst.fs, new Path(dst.blocksDir, blockName), dst.root) && verify) {
        val in = dst.fs.open(new Path(dst.blocksDir, blockName))
        val bytes = try in.readAllBytes() finally in.close()
        val got = MetadataChain.sha256Hex(bytes)
        require(got == hash, s"transferred block $hash hashes to $got at destination")
      }
    }
    inParallel(parallelism, objectCopies)
    inParallel(parallelism, blockCopies)

    val (newSeq, newHead) = (srcBlocks.last._1.sequenceNumber, srcBlocks.last._2)
    dst.setHead(newSeq, newHead)
    Updated(dstHead.map(_._2), newHead, toTransfer.size, dataCopied.get())
  }

  /** Copy one file if the destination doesn't already have it at the same
    * length (content-addressed names make equal-length ⇒ equal-content a safe
    * resume check). Lands via a temp name + rename so a crash mid-copy never
    * leaves a truncated file under the final name. Returns true if copied. */
  private def copyFile(
      srcFs: FileSystem, srcPath: Path,
      dstFs: FileSystem, dstPath: Path,
      dstDatasetRoot: Path
  ): Boolean = {
    val srcLen = srcFs.getFileStatus(srcPath).getLen
    if (dstFs.exists(dstPath) && dstFs.getFileStatus(dstPath).getLen == srcLen) return false
    val tmp = new Path(new Path(dstDatasetRoot, "staging"),
      s"sync-${java.util.UUID.randomUUID()}")
    dstFs.mkdirs(tmp.getParent)
    val in = srcFs.open(srcPath)
    try {
      val out = dstFs.create(tmp, true)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) out.write(buf, 0, n)
          n = in.read(buf)
        }
      } finally out.close()
    } finally in.close()
    if (dstFs.exists(dstPath)) dstFs.delete(dstPath, false) // truncated leftover
    dstFs.mkdirs(dstPath.getParent)
    require(dstFs.rename(tmp, dstPath), s"rename $tmp -> $dstPath failed")
    true
  }
}
