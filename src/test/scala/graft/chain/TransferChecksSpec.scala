package graft.chain

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.model.MetadataEvent.{Seed, SetDataSchema}

/** The checks a receiver applies to what a sync peer sends: block file
  * names, block acceptance, the link of a delta onto a head, and relative
  * paths. */
class TransferChecksSpec extends AnyFunSuite {

  private val h = "ab" * 32

  test("block file names: one formatter, one strict single-segment parser") {
    assert(MetadataChain.blockFileName(7L, h) === s"000007-$h.json")
    assert(MetadataChain.blockFileName(1234567L, h) === s"1234567-$h.json")
    for (seq <- Seq(0L, 7L, 1234567L))
      assert(MetadataChain.parseBlockName(MetadataChain.blockFileName(seq, h)) === Some((seq, h)))
    Seq(
      s"../000001-$h.json", s"x/000001-$h.json", s"00001-$h.json", s"000001-${h.toUpperCase}.json",
      s"000001-${h.drop(2)}.json", s"000001-$h.json.tmp", s"000001-$h", "000001-.json", ""
    ).foreach(n => assert(MetadataChain.parseBlockName(n) === None, n))
  }

  test("safe relative paths stay under the directory they are joined to") {
    Seq("a", "ck-1", "state/1.delta", "a/b/c").foreach(s =>
      assert(MetadataChain.isSafeRelPath(s), s))
    Seq("", "/a", ".", "..", "a/../b", "a//b", "a/", "C:x", "file:/x", "a\\b", "../../x")
      .foreach(s => assert(!MetadataChain.isSafeRelPath(s), s))
  }

  test("acceptBlock checks name, content address, decode and declared seq; requireLinked the link") {
    val chain = MetadataChain.create(Files.createTempDirectory("graft-accept-").resolve("ds"))
    chain.append(Seed("d", "root"), 1L)
    chain.append(SetDataSchema("id BIGINT"), 2L)
    val blocks = chain.blocksWithHashes()
    def bytes(seq: Long, hash: String): Array[Byte] = {
      val in = chain.fs.open(new Path(chain.blocksDir, MetadataChain.blockFileName(seq, hash)))
      try in.readAllBytes() finally in.close()
    }
    val accepted = blocks.map { case (b, hash) =>
      MetadataChain.acceptBlock(MetadataChain.blockFileName(b.sequenceNumber, hash),
        bytes(b.sequenceNumber, hash))
    }
    assert(accepted === blocks)
    val seedHash = blocks.head._2
    val seedBytes = bytes(0L, seedHash)
    def refusal(name: String, body: Array[Byte]): String =
      intercept[Exception](MetadataChain.acceptBlock(name, body)).getMessage
    assert(refusal(s"../000000-$seedHash.json", seedBytes).contains("not a valid block name"))
    assert(refusal(s"000000-$h.json", seedBytes).contains("fails its content address"))
    assert(refusal(s"000001-$seedHash.json", seedBytes).contains("declares seq 0"))
    val junk = "{not json".getBytes("UTF-8")
    intercept[Exception](
      MetadataChain.acceptBlock(MetadataChain.blockFileName(0L, MetadataChain.sha256Hex(junk)), junk))

    MetadataChain.requireLinked(None, blocks)
    MetadataChain.requireLinked(Some((0L, seedHash)), blocks.tail)
    val gap = intercept[IllegalArgumentException](MetadataChain.requireLinked(None, blocks.tail))
    assert(gap.getMessage.contains("chain expects 0"), gap.getMessage)
    val wrongPrev = intercept[IllegalArgumentException](
      MetadataChain.requireLinked(Some((0L, h)), blocks.tail))
    assert(wrongPrev.getMessage.contains("prev-links"), wrongPrev.getMessage)
  }
}
