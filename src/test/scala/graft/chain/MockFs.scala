package graft.chain

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, Path, RawLocalFileSystem}

/**
 * A Hadoop `FileSystem` registered under its own `mock://` scheme, backed by
 * the local disk. Storage routing in [[MetadataChain]] is scheme-driven
 * (`Path.getFileSystem(conf)` — the object-store registry role of the
 * reference's session_context_builder.rs:31-76), and every other spec
 * resolves to `file://`'s `LocalFileSystem`, which is special in two ways a
 * real object store is not: it is a `ChecksumFileSystem` wrapper, and it is
 * the scheme Hadoop falls back to when configuration is ignored. Running the
 * full dataset lifecycle under `mock://` proves the chain, the slice
 * staging/rename path, Spark's parquet scans, compaction, and verification
 * all honor the configured scheme end-to-end — nothing silently drops to the
 * default filesystem.
 *
 * Raw (non-checksum) on purpose: object stores have no `.crc` sidecars, so
 * this also exercises the chain's own-integrity-hash reads without Hadoop's
 * checksum layer underneath.
 *
 * It counts the block files it opens, so a spec can see how many blocks a
 * chain operation reads.
 */
class MockFileSystem extends RawLocalFileSystem {
  override def getScheme: String = MockFileSystem.Scheme
  override def getUri: URI = MockFileSystem.NameUri
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getParent.getName == "blocks") MockFileSystem.blockOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object MockFileSystem {
  val Scheme = "mock"
  val NameUri: URI = URI.create(s"$Scheme:///")

  /** Block files opened through any `mock://` instance. */
  val blockOpens = new AtomicLong

  /** Registers both bindings the chain needs: the `FileSystem` one (all
    * regular I/O + Spark scans) and the `AbstractFileSystem` one (the
    * `FileContext` used for the atomic head-ref rename). */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[MockFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[MockAbstractFs].getName)
  }
}

/** `FileContext` binding for the `mock://` scheme — [[MetadataChain.setHead]]
  * renames through `FileContext` on every scheme but `file://`, and
  * `FileContext` resolves `AbstractFileSystem` implementations separately
  * from `FileSystem` ones. */
class MockAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new MockFileSystem, conf, MockFileSystem.Scheme, false)
