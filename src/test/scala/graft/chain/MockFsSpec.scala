package graft.chain

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.MetadataEvent.SetAttachments
import graft.operators.MergeStrategy

/** End-to-end dataset lifecycle on a NON-default FileSystem scheme — the
  * evidence that storage routing really is `Path.getFileSystem(conf)`-driven
  * and nothing in the chain / writer / compaction / verify path hardcodes
  * `file://` (VERDICT r4 gap: s3a-ready routing only ever exercised on the
  * local scheme). */
class MockFsSpec extends SparkSpec {
  import spark.implicits._

  test("dataset lifecycle end-to-end over mock:// — ingest, reopen, scan, compact, verify, tamper") {
    MockFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft-mockfs-")
    val root = s"mock://${local.toAbsolutePath}/ds"

    // create + two ledger ingest rounds, all through the mock scheme
    val ds = Dataset.createAt(spark, root, "mockds")
    assert(ds.chain.fs.isInstanceOf[MockFileSystem], ds.chain.fs.getClass.getName)
    assert(ds.chain.root.toUri.getScheme === "mock")

    val strat = MergeStrategy.Ledger(Seq("id"))
    val e1 = IngestWriter.writeBatch(ds, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), strat, 1000L)
    val e2 = IngestWriter.writeBatch(
      ds, Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"), strat, 2000L)
    assert(e1.get.offsetStart === 0L && e1.get.offsetEnd === 1L)
    assert(e2.get.prevOffset === Some(1L) && e2.get.offsetEnd === 3L) // (2,"b") deduped

    // reopen from the URI; Spark parquet scan over mock:// slice files
    val reopened = Dataset.open(spark, root)
    assert(reopened.chain.slices().size === 2)
    assert(reopened.chain.slices().forall(s =>
      reopened.chain.dataFile(s.physicalHash).toUri.getScheme == "mock"))
    assert(reopened.toDF().count() === 4)
    assert(reopened.tail(2).select("id").as[Long].collect().toSet === Set(3L, 4L))

    // compaction rewrites slices + chain through the same scheme
    val compacted = Maintenance.compact(reopened)
    assert(compacted.chain.slices().size === 1)
    assert(
      compacted.toDF().orderBy("offset").select("id", "v").as[(Long, String)].collect().toSeq ===
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(Maintenance.verify(compacted).isEmpty)

    // tamper with the slice bytes on the backing store: verification must
    // detect it through mock:// (reads bypass nothing — raw FS, no .crc)
    val phys = compacted.chain.slices().head.physicalHash
    val sliceLocal = local.resolve("ds").resolve("data").resolve(phys)
    Files.write(sliceLocal, Files.readAllBytes(sliceLocal) ++ Array[Byte](0))
    val issues = Maintenance.verify(compacted)
    assert(issues.exists(_.msg.contains("physical hash mismatch")), issues.mkString("; "))
  }

  test("block files opened per commit are the same at 20 and at 200 blocks") {
    MockFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft-mockfs-opens-")
    def rows(id: Long) = Seq((id, "a")).toDF("id", "v")
    def opens(body: => Unit): Long = {
      val before = MockFileSystem.blockOpens.get
      body
      MockFileSystem.blockOpens.get - before
    }
    /** Block opens of a commit right after another process appended one
      * block, and of the commit after it, on a chain of `blocks` blocks. */
    def opensPerCommit(blocks: Int): (Long, Long) = {
      val dir = local.resolve(s"ds$blocks")
      val ds = Dataset.createAt(spark, s"mock://$dir", s"opens$blocks")
      IngestWriter.writeBatch(ds, rows(0L), MergeStrategy.Append(), 1000L)
      var prev = ds.chain.head
      while (prev.get._1 < blocks - 2) {
        val (b, h) = ds.chain.writeDetachedBlock(prev, SetAttachments(Nil), 2000L)
        prev = Some((b.sequenceNumber, h))
      }
      ds.chain.setHead(prev.get._1, prev.get._2)
      // the other process: the same directory under a second name, whose
      // walks this JVM keeps apart from `ds`'s
      val alias = Files.createSymbolicLink(local.resolve(s"alias$blocks"), dir)
      MetadataChain.open(new Path(s"mock://$alias"), spark.sparkContext.hadoopConfiguration)
        .append(SetAttachments(Nil), 3000L)
      val afterForeign = opens(IngestWriter.writeBatch(ds, rows(1L), MergeStrategy.Append(), 4000L))
      val steady = opens(IngestWriter.writeBatch(ds, rows(2L), MergeStrategy.Append(), 5000L))
      assert(ds.chain.head.get._1 === blocks + 1L)
      assert(ds.toDF().count() === 3L)
      (afterForeign, steady)
    }
    val at20 = opensPerCommit(20)
    assert(at20 === opensPerCommit(200))
    // the walk reads the one block it has not seen, back to a cached head
    assert(at20 === ((1L, 0L)))
  }
}
