package graft

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path,
  RawLocalFileSystem, UnsupportedFileSystemException}

/**
 * Whole-file atomic replace over the Hadoop FileSystem API: write to a
 * UUID temp name, then rename into place. A reader sees the old file or the
 * new one, whole, and never finds the target absent. The chain's head ref
 * moves through here, and so do the workspace-level JSON registries, where
 * concurrent CLI processes (two `flow run` ticks, a webhook delivery racing
 * a subscription edit) get last-writer-wins on whole files.
 *
 * On `file://` the temp file is written and renamed by the raw local FS:
 * its rename is POSIX `rename(2)`, which replaces the target in one step.
 * (Hadoop's checksummed local FS, and `FileContext` with OVERWRITE over it,
 * delete the target first and then rename, so a reader polling the target
 * finds it missing in between.) The raw write leaves no `.crc` sidecar, and
 * a sidecar left by an earlier checksummed write is deleted before the
 * rename, while it still matches the bytes it describes.
 * Other schemes rename through `FileContext` with OVERWRITE, which is a
 * single replace where the store offers one. Schemes without an
 * `AbstractFileSystem` binding (e.g. test-only mock FSes) fall back to
 * delete + rename: still whole-file, with an absent-target window.
 */
object FsAtomic {
  def write(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    def failed(via: FileSystem, cause: Throwable = null) = {
      via.delete(tmp, false)
      new java.io.IOException(s"atomic replace of $target failed", cause)
    }
    rawLocal(fs) match {
      case Some(raw) =>
        create(raw, tmp, bytes)
        fs match {
          case c: ChecksumFileSystem => raw.delete(c.getChecksumFile(target), false)
          case _                     => ()
        }
        if (!raw.rename(tmp, target)) throw failed(raw)
      case None =>
        create(fs, tmp, bytes)
        val fc =
          try Some(FileContext.getFileContext(fs.getUri, fs.getConf))
          catch { case _: UnsupportedFileSystemException => None }
        fc match {
          case Some(ctx) =>
            try ctx.rename(tmp, target, Options.Rename.OVERWRITE)
            catch { case e: Exception => throw failed(fs, e) }
          case None =>
            fs.delete(target, false)
            if (!fs.rename(tmp, target)) throw failed(fs)
        }
    }
  }

  private def create(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  /** The raw local FS under `fs` when `fs` serves `file://`. */
  private def rawLocal(fs: FileSystem): Option[RawLocalFileSystem] =
    if (fs.getUri.getScheme != "file") None
    else fs match {
      case c: ChecksumFileSystem => Option(c.getRawFileSystem).collect { case r: RawLocalFileSystem => r }
      case r: RawLocalFileSystem => Some(r)
      case _                     => None
    }
}
