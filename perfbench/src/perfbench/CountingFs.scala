package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide file-system counters, split by where a path sits in a
  * dataset: its metadata `blocks/`, its `refs/`, its `data/` slices, its
  * `stateCache/`, its `checkpoints/`, or anywhere else. Checksum sidecars
  * (`.crc`) are not counted. */
object FsCounters {
  val Categories: Seq[String] = Seq("blocks", "refs", "data", "stateCache", "checkpoints", "other")
  val Ops: Seq[String] = Seq("open", "list", "create", "rename", "stat", "delete", "bytes_read", "bytes_written")
  private val cells = new AtomicLongArray(Categories.size * Ops.size)
  /** Off until the traced half of a run starts. */
  @volatile var on = false

  def category(p: Path): Int = {
    val segs = p.toUri.getPath.split('/')
    val i = segs.lastIndexWhere(s => Categories.indexOf(s) >= 0 && s != "other")
    if (i < 0) Categories.size - 1 else Categories.indexOf(segs(i))
  }
  def counted(p: Path): Boolean = on && !p.getName.endsWith(".crc")
  def add(p: Path, op: Int, n: Long): Unit =
    if (counted(p)) cells.addAndGet(category(p) * Ops.size + op, n)

  /** category -> op -> count */
  def snapshot(): Map[String, Map[String, Long]] =
    Categories.zipWithIndex.map { case (c, ci) =>
      c -> Ops.zipWithIndex.map { case (o, oi) => o -> cells.get(ci * Ops.size + oi) }.toMap
    }.toMap

  def delta(a: Map[String, Map[String, Long]], b: Map[String, Map[String, Long]])
      : Map[String, Map[String, Long]] =
    b.map { case (c, ops) => c -> ops.map { case (o, v) => o -> (v - a(c)(o)) } }

  val Open = 0; val List = 1; val Create = 2; val Rename = 3; val Stat = 4; val Delete = 5
  val BytesRead = 6; val BytesWritten = 7
}

/** The local file system with every raw operation counted. Installed for the
  * `file` scheme through the session's Hadoop configuration in traced runs,
  * so the engine's chain, slice and cache I/O is measured from outside. */
final class CountingRawFs extends RawLocalFileSystem {
  import FsCounters._

  private def countedIn(p: Path, in: FSDataInputStream): FSDataInputStream =
    if (!counted(p)) in else new FSDataInputStream(new CountingInputStream(p, in))
  private def countedOut(p: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!counted(p)) out
    else new FSDataOutputStream(new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit = { out.write(b); add(p, BytesWritten, 1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add(p, BytesWritten, len)
      }
    }, null)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    add(f, Open, 1); countedIn(f, super.open(f, bufferSize))
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    add(f, Create, 1)
    countedOut(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    add(f, Create, 1)
    countedOut(f, super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    add(f, Create, 1)
    countedOut(f, super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))
  }
  override def listStatus(f: Path): Array[FileStatus] = { add(f, List, 1); super.listStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { add(dst, Rename, 1); super.rename(src, dst) }
  override def getFileStatus(f: Path): FileStatus = { add(f, Stat, 1); super.getFileStatus(f) }
  override def delete(p: Path, recursive: Boolean): Boolean = { add(p, Delete, 1); super.delete(p, recursive) }
}

private final class CountingInputStream(p: Path, in: FSDataInputStream)
    extends FSInputStream {
  import FsCounters._
  private def got(n: Int): Int = { if (n > 0) add(p, BytesRead, n); n }
  override def read(): Int = { val b = in.read(); if (b >= 0) add(p, BytesRead, 1); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = got(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = got(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len); add(p, BytesRead, len)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** `fs.file.impl`: the checksummed local FS over the counting raw FS. */
final class CountingLocalFs extends LocalFileSystem(new CountingRawFs)

/** `fs.AbstractFileSystem.file.impl`, so `FileContext` renames (the chain's
  * head move) are counted too. */
final class CountingLocalAbstractFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new CountingRawAbstractFs(uri, conf))

final class CountingRawAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingRawFs, conf, "file", false) {
  override def getUriDefaultPort(): Int = -1
}
