package graft.ingest

import java.nio.file.Files
import java.sql.Timestamp
import java.time.{Instant, LocalDateTime}

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.dataset.Dataset
import graft.maintenance.Maintenance
import graft.model.MetadataBlock
import graft.model.MetadataEvent.SetDataSchema
import graft.operators.MergeStrategy

/** The stats a commit observes on its slice write describe the file as
  * persisted: its logical hash, record count and schema equal what a re-read
  * of the file reports, across the column types a slice can carry. */
class SliceParitySpec extends SparkSpec {

  private val nestedType = StructType(Seq(
    StructField("a", IntegerType, nullable = false),
    StructField("b", ArrayType(StructType(Seq(StructField("c", DoubleType))), containsNull = false))))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("event_time", TimestampType),
    StructField("local_ts", TimestampNTZType),
    StructField("amount", DecimalType(12, 3)),
    StructField("blob", BinaryType),
    StructField("tags", ArrayType(StringType, containsNull = false)),
    StructField("nested", nestedType)))

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private def frame(lo: Long): DataFrame = {
    val rows = Seq(
      Row(lo, "ä-x", ts("2024-01-01T00:00:00.123456Z"), LocalDateTime.parse("2024-01-01T00:00:00.654321"),
        new java.math.BigDecimal("12345.678"), Array[Byte](1, 2, 3), Seq("a", "b"),
        Row(1, Seq(Row(1.5), Row(null)))),
      Row(lo + 1, null, null, null, null, null, Seq.empty[String], null),
      Row(lo + 2, "", ts("2024-01-02T00:00:00.000999Z"), LocalDateTime.parse("1970-01-01T00:00:00"),
        new java.math.BigDecimal("-0.001"), Array.emptyByteArray, Seq("c"), Row(-2, Seq.empty[Row])))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("observed logical hash, count and DDL equal a re-read of each written file") {
    val ds = Dataset.create(spark, Files.createTempDirectory("graft-parity-"), "parity")
    IngestWriter.writeBatch(ds, frame(0L), MergeStrategy.Append(), 1000L)
    val (added, written) = IngestWriter.commitSlice(
      ds, ds.vocabulary, ds.chain.lastOffset(), frame(10L), MergeStrategy.Append().sortOrder, 2000L).get
    ds.chain.append(added, 2000L)

    val slices = ds.chain.slices()
    assert(slices.size === 2)
    slices.foreach { s =>
      val reread = spark.read.parquet(ds.chain.dataFile(s.physicalHash).toString)
      assert(s.logicalHash === IngestWriter.logicalHash(reread))
      assert(s.numRecords === reread.count())
      assert(ds.chain.schemaDdl() === Some(reread.schema.toDDL))
    }
    // the returned frame reads the file with the schema a re-read infers
    val last = spark.read.parquet(ds.chain.dataFile(added.physicalHash).toString)
    assert(written.schema === last.schema)
    assert(IngestWriter.logicalHash(written) === added.logicalHash)
    // the second slice's schema equals the first's: no spurious SetDataSchema
    assert(ds.chain.blocks().count { case MetadataBlock(_, _, _, e) => e.isInstanceOf[SetDataSchema] } === 1)
    assert(Maintenance.verify(ds).isEmpty)
  }

  test("a map column is rejected by the logical hash before any file lands") {
    val ds = Dataset.create(spark, Files.createTempDirectory("graft-parity-map-"), "parity_map")
    val withMap = spark.sql("SELECT 1L AS id, map('k', 1) AS m")
    val head = ds.chain.head
    intercept[AnalysisException](IngestWriter.writeBatch(ds, withMap, MergeStrategy.Append(), 1000L))
    assert(ds.chain.head === head)
    assert(!ds.chain.fs.exists(ds.chain.dataDir) || ds.chain.fs.listStatus(ds.chain.dataDir).isEmpty)
  }
}
