package graft.dataset

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.chain.MetadataChain
import graft.model.DatasetVocabulary
import graft.model.MetadataEvent._
import graft.operators.Changelog

/**
 * A dataset = parquet slices + metadata chain, opened for reading.
 *
 * Reads are schema-first: the scan uses the schema recorded in the chain
 * (SetDataSchema), never inference — mirroring `KamuTable`
 * (src/infra/core/src/services/query/kamu_table.rs:161-211). File selection
 * happens at the metadata level (slice list, as-of pinning, record-limit
 * pruning) BEFORE `spark.read`, so Catalyst sees a plain multi-file parquet
 * relation and all pushdown/pruning applies normally.
 */
final class Dataset(val spark: SparkSession, val chain: MetadataChain) {

  def name: String = chain.seed.datasetName
  def kind: String = chain.seed.datasetKind

  def vocabulary: DatasetVocabulary = chain.vocabulary()

  /** The dataset as a DataFrame, optionally pinned to a block hash. Empty
    * chain → empty DataFrame with the declared schema (or empty schema). */
  def toDF(asOf: Option[String] = None): DataFrame = {
    val slices = chain.slices(asOf)
    val ddl = chain.schemaDdl(asOf)
    if (slices.isEmpty) {
      val schema = ddl.map(StructType.fromDDL).getOrElse(new StructType())
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      val reader = ddl.map(d => spark.read.schema(StructType.fromDDL(d))).getOrElse(spark.read)
      reader.parquet(chain.slicePaths(slices): _*)
    }
  }

  /** The changelog rows with offset > `prevOffset` (everything when None) —
    * the (prev, head] read every incremental consumer performs, with
    * chain-level FILE pruning first: only slices overlapping the interval
    * are handed to the parquet reader, so a consumer that is nearly caught
    * up reads O(new data), not O(history). (Same mechanism as transform
    * input slicing; exposed for rollup/index maintenance.)
    * Slices that lie wholly inside the interval need no row filter, since
    * the chain records their offsets; a bound gets a filter only when a
    * slice straddles it, so that slice's parquet row groups are still
    * skipped. A steady-state read thus carries no per-call literal, and
    * its generated code is reused from one call to the next. */
  def changesSince(prevOffset: Option[Long], upTo: Option[Long] = None): DataFrame = {
    val lo = prevOffset.map(_ + 1).getOrElse(0L)
    // `upTo` bounds the read at a head observed BEFORE the (lazy) delta
    // executes — without it, rows appended between the head read and
    // execution would be consumed yet sit above the recorded offset, so
    // the next refresh would re-apply them (double-count under a
    // concurrent writer).
    val slices = chain.slices()
      .filter(s => s.offsetEnd >= lo && upTo.forall(s.offsetStart <= _))
    if (slices.isEmpty) toDF().limit(0)
    else {
      val ddl = chain.schemaDdl()
      val reader = ddl.map(d => spark.read.schema(StructType.fromDDL(d))).getOrElse(spark.read)
      val off = org.apache.spark.sql.functions.col(vocabulary.offsetColumn)
      val bounds =
        Option.when(slices.exists(_.offsetStart < lo))(off >= lo) ++
          upTo.filter(hi => slices.exists(_.offsetEnd > hi)).map(off <= _)
      bounds.foldLeft(reader.parquet(chain.slicePaths(slices): _*))(_.filter(_))
    }
  }

  /** Last `n` records: chain-level file pruning first (only the tail slices
    * that cover `n` records are read), then the tail operator. */
  def tail(n: Int, asOf: Option[String] = None): DataFrame = {
    val slices = chain.slicesForLastRecords(n.toLong, asOf)
    if (slices.isEmpty) toDF(asOf)
    else {
      val ddl = chain.schemaDdl(asOf)
      val reader = ddl.map(d => spark.read.schema(StructType.fromDDL(d))).getOrElse(spark.read)
      Changelog.tail(reader.parquet(chain.slicePaths(slices): _*), n, vocabulary)
    }
  }

  /** Changelog→state projection using the PK recorded in the chain
    * (query_service_impl.rs:630-738). */
  def projectState(asOf: Option[String] = None): DataFrame = {
    val pk = chain.primaryKey(asOf)
    require(pk.nonEmpty, s"dataset $name has no primary key in its merge strategy")
    Changelog.project(toDF(asOf), pk, vocabulary)
  }
}

object Dataset {

  private def hpath(root: Path) = new org.apache.hadoop.fs.Path(root.toUri)
  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  def create(spark: SparkSession, root: Path, name: String, kind: String = "root",
      systemTime: Long = 0L): Dataset =
    createAt(spark, hpath(root).toString, name, kind, systemTime)

  /** Create at any Hadoop-FileSystem URI (`file://`, `hdfs://`, `s3a://`, or
    * a bare local path), resolved through the session's Hadoop configuration
    * — the object-store registry role of the reference's
    * session_context_builder.rs:31-76. */
  def createAt(spark: SparkSession, root: String, name: String, kind: String = "root",
      systemTime: Long = 0L): Dataset = {
    val p = new org.apache.hadoop.fs.Path(root)
    require(!MetadataChain.exists(p, conf(spark)), s"a dataset already exists at $root")
    val chain = MetadataChain.create(p, conf(spark))
    chain.append(Seed(name, kind), systemTime)
    new Dataset(spark, chain)
  }

  def open(spark: SparkSession, root: Path): Dataset =
    new Dataset(spark, MetadataChain.open(hpath(root), conf(spark)))

  /** Open from any Hadoop-FileSystem URI or bare local path. */
  def open(spark: SparkSession, root: String): Dataset =
    new Dataset(spark, MetadataChain.open(new org.apache.hadoop.fs.Path(root), conf(spark)))

  def exists(root: Path): Boolean = MetadataChain.exists(root)
}
