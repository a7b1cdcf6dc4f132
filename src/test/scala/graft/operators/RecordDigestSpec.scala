package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dataset.Dataset
import graft.ingest.IngestWriter
import graft.maintenance.Maintenance
import graft.model.MetadataEvent.AddData

/** SHA3-256 record digest: golden vector (independently computed from the
  * documented encoding, in Python), layout independence, sensitivity, and
  * the chain integration (stamp on commit + verify). */
class RecordDigestSpec extends SparkSpec {
  import spark.implicits._

  private def df2 = Seq((1L, Some("a")), (2L, None: Option[String])).toDF("id", "v")

  test("golden vector: digest matches an independent implementation of the spec") {
    // hashlib.sha3_256 over the scaladoc'd v1 encoding for rows (1,'a'),
    // (2,null): S = sha3("id:BIGINT;v:STRING;"), one chunk, D_i =
    // sha3(chunk-digest), result = sha3(S ++ D_id ++ D_v)
    assert(df2.coalesce(1).digestedInOrder ===
      "e4d73fd438f78bd658557673d3068a7d9c9fffad516a5dc1620d07ced5175aa8")
  }

  test("golden vector: multi-chunk path (rowsPerChunk=1), independently computed") {
    // same rows, chunk per row: D_i = sha3(d_{i,0} ++ d_{i,1})
    assert(RecordDigest.digest(df2.orderBy("id"), rowsPerChunk = 1L) ===
      "52d34771c34a68409133691e666592a3ac15458901cf93e0a84b8b7ca81f1a51")
  }

  test("chunked digest is partition-layout independent") {
    val rows = (0L until 37L).map(i => (i, if (i % 5 == 0) None else Some(s"v$i")))
    val one = rows.toDF("id", "v").coalesce(1)
    val many = rows.toDF("id", "v").repartition(7)
    // 37 rows with rowsPerChunk=4 → 10 chunks, none aligned to partitions
    val a = RecordDigest.digest(one.orderBy("id"), rowsPerChunk = 4L)
    val b = RecordDigest.digest(many.orderBy("id"), rowsPerChunk = 4L)
    assert(a === b)
    // and the chunk level really is part of the definition
    assert(a !== RecordDigest.digest(one.orderBy("id"), rowsPerChunk = 8L))
  }

  private implicit class Ops(df: org.apache.spark.sql.DataFrame) {
    def digestedInOrder: String = RecordDigest.digest(df.orderBy("id"))
  }

  test("layout-independent: same rows through different file layouts hash equal") {
    val one = Files.createTempDirectory("rd-one-").resolve("p").toString
    val many = Files.createTempDirectory("rd-many-").resolve("p").toString
    df2.coalesce(1).write.parquet(one)
    df2.repartition(3).write.parquet(many)
    assert(spark.read.parquet(one).digestedInOrder ===
      spark.read.parquet(many).digestedInOrder)
    assert(spark.read.parquet(one).digestedInOrder === df2.digestedInOrder)
  }

  test("sensitive to values, nulls, field order, and schema names") {
    val base = df2.digestedInOrder
    assert(Seq((1L, Some("b")), (2L, None: Option[String])).toDF("id", "v")
      .digestedInOrder !== base)
    assert(Seq((1L, None: Option[String]), (2L, Some("a"))).toDF("id", "v")
      .digestedInOrder !== base)
    assert(df2.select(col("v"), col("id")).digestedInOrder !== base)
    assert(df2.withColumnRenamed("v", "w").digestedInOrder !== base)
  }

  test("covers nested, decimal, timestamp, binary, map values") {
    val rich = Seq(
      (1L, Seq(1, 2), Map("k" -> 1.5), BigDecimal("12.34"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Array[Byte](1, 2))
    ).toDF("id", "arr", "m", "dec", "ts", "bin")
    val d = RecordDigest.digest(rich)
    assert(d.length === 64 && d === RecordDigest.digest(rich))
  }

  test("chain integration: stamped when enabled, checked by verify") {
    spark.conf.set(RecordDigest.ConfKey, "true")
    try {
      val root = Files.createTempDirectory("rd-chain-")
      val ds = Dataset.create(spark, root, "rd")
      IngestWriter.writeBatch(ds, df2, graft.operators.MergeStrategy.Append(), 1000L)
      val add = ds.chain.slices().head
      assert(add.logicalHashSha3.isDefined)
      assert(Maintenance.verify(ds).isEmpty)

      // a transform commit goes through the same path: its new data carries
      // the digest too, and verify checks it
      val d = Dataset.create(spark, Files.createTempDirectory("rd-derived-"), "rd_d", kind = "derivative")
      graft.transform.TransformService.setTransform(
        d, Seq("rd"), Seq(graft.model.MetadataEvent.SqlStep(None, "SELECT id, v FROM rd")), 1500L)
      graft.transform.TransformService.executeTransform(d, _ => ds, 1600L)
      val newData = d.chain.lastExecuteTransform().flatMap(_.newData)
      assert(newData.exists(_.logicalHashSha3.isDefined))
      assert(Maintenance.verify(d).isEmpty)

      // a forged sha3 on the block must be caught by verify
      val forged = add.copy(logicalHashSha3 = Some("0" * 64))
      // rewrite the chain head block with the forged event via reset+append
      val ds2root = Files.createTempDirectory("rd-chain2-")
      val ds2 = Dataset.create(spark, ds2root, "rd2")
      IngestWriter.writeBatch(ds2, df2, graft.operators.MergeStrategy.Append(), 1000L)
      val chain = ds2.chain
      chain.reset(chain.blocksWithHashes().dropRight(1).last._2)
      chain.append(forged, 2000L)
      val issues = Maintenance.verify(Dataset.open(spark, ds2root))
      assert(issues.exists(_.toString.contains("sha3")))
    } finally spark.conf.unset(RecordDigest.ConfKey)
  }
}
