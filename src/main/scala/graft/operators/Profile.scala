package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * One-pass table profiling — the "what is actually in this table" scan a
 * 100 TB ingest runs before (and after) every pipeline change: per-column
 * row/non-null/distinct counts and min/max, computed in a SINGLE aggregate
 * job over the table (Catalyst plans the multi-distinct through one Expand
 * pass — one scan, one shuffle, map-side partials for the non-distinct
 * stats). The reference exposes the same need through its schema/stats
 * surfaces (`kamu inspect schema`, parquet footer stats); this is the
 * content-level complement.
 *
 * Distinct counts are EXACT, which is what makes the operator
 * oracle-checkable; the Expand pass multiplies scan rows by
 * (#profiled columns + 1).
 */
object Profile {

  /** Per-column profile of `columns` (default: all top-level columns).
    * Output: one row per column —
    * (col_name, n_rows, n_nonnull, n_distinct, min_value, max_value),
    * min/max rendered as strings so the schema is uniform across column
    * types. NULLs are excluded from distinct/min/max (SQL semantics). The
    * only driver-side data is the single aggregate row. */
  def profile(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val names = if (columns.nonEmpty) columns else df.columns.toSeq
    require(names.nonEmpty, "nothing to profile")
    val aggs: Seq[Column] = names.flatMap { c =>
      Seq(
        count(col(c)).as(s"__c_$c"),
        countDistinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val all = count(lit(1)).as("__n") +: aggs
    val row = df.agg(all.head, all.tail: _*).collect()(0)
    val n = row.getLong(0)
    val out = names.zipWithIndex.map { case (c, i) =>
      val base = 1 + i * 4
      (c, n, row.getLong(base), row.getLong(base + 1),
        if (row.isNullAt(base + 2)) null else row.getString(base + 2),
        if (row.isNullAt(base + 3)) null else row.getString(base + 3))
    }
    import spark.implicits._
    out.toDF("col_name", "n_rows", "n_nonnull", "n_distinct",
      "min_value", "max_value")
  }

  /**
   * EXACT quantiles of one column at arbitrary probabilities — the p50/p95
   * profile numbers approx_percentile only estimates. Selection rule:
   * value at 0-based sorted index floor(p·(n−1)) (lower interpolation —
   * a value FROM the data, never an average of two), so the result is
   * deterministic and engine-exact. One range-partitioned total sort +
   * zipWithIndex (the rankBuckets machinery — nothing single-partition),
   * then a membership filter on the target ranks; ties by value don't
   * matter because selection is by index into the sorted multiset.
   * Returns (p, value) rows.
   */
  def quantiles(df: DataFrame, valueCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0), "ps must be in [0,1]")
    val spark = df.sparkSession
    val slim = df.select(col(valueCol)).filter(col(valueCol).isNotNull)
    val n = slim.count()
    require(n > 0, "no non-null values to profile")
    val targets: Map[Long, Seq[Double]] = ps.distinct
      .groupBy(p => math.floor(p * (n - 1)).toLong)
      .map { case (i, pp) => i -> pp.sorted }
    val hit = slim
      .orderBy(col(valueCol))
      .rdd.zipWithIndex()
      .filter { case (_, i) => targets.contains(i) }
      .flatMap { case (row, i) => targets(i).map(p => org.apache.spark.sql.Row(p, row.get(0))) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "p", org.apache.spark.sql.types.DoubleType, nullable = false),
      df.schema(valueCol).copy(name = "value")))
    spark.createDataFrame(hit, schema)
  }

  /**
   * Benford first-digit profile (Benford 1938; the fraud/data-quality
   * screen): distribution of the leading digit of `floor(valueCol)` over
   * rows with value ≥ 1, against the Benford expectation
   * log₁₀(1+1∕d). The digit comes from the BIGINT's string form (never
   * from floating log₁₀, whose boundary values are ulp-fragile); expected
   * frequencies are spliced as nine exact double constants floored onto
   * the 1e-6 grid, and observed frequencies are integer floor divisions —
   * so the whole report replicates bit-for-bit. Output per digit:
   * `(digit, n, observed_micro, benford_micro, dev_micro)`.
   *
   * Scale shape: one map-side-combinable 9-group aggregate.
   */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val benford = (1 to 9).map(d =>
      d.toLong -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong).toMap
    val v = floor(col(valueCol)).cast("long")
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(v.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    val bCol = benford.tail.foldLeft(
      when(col("digit") === benford.head._1, lit(benford.head._2))) {
      case (acc, (d, m)) => acc.when(col("digit") === d, lit(m))
    }.otherwise(lit(0L))
    counts
      .join(broadcast(total))
      .withColumn("observed_micro", expr("(n * 1000000L) DIV __total"))
      .withColumn("benford_micro", bCol)
      .withColumn("dev_micro", col("observed_micro") - col("benford_micro"))
      .select(col("digit"), col("n"), col("observed_micro"),
        col("benford_micro"), col("dev_micro"))
  }

  /**
   * Shannon entropy of a categorical column per key (in micro-nats): the
   * label-diversity stat behind "is this source a monoculture" corpus
   * checks. Each category's contribution (c∕n)·(ln n − ln c) floors onto
   * the 1e-6 grid BEFORE the cross-category sum (the repo's ln-grid
   * doctrine), so the value is an order-free integer sum. Output:
   * `(key, n_rows, n_cats, entropy_micro_nats)`; a single-category key
   * scores 0, uniform over k categories scores ≈ ln(k)·10⁶.
   *
   * Scale shape: one (key, cat) aggregate then one key-grain fold —
   * nothing row-sized crosses the wire twice.
   */
  def categoryEntropy(df: DataFrame, keyCol: String, catCol: String): DataFrame = {
    val counts = df
      .filter(col(catCol).isNotNull)
      .groupBy(col(keyCol), col(catCol))
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col(keyCol))
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("n_cats"))
    counts
      .join(totals, Seq(keyCol))
      .withColumn("__term",
        floor((log(col("__n").cast("double")) - log(col("__c").cast("double"))) *
          col("__c").cast("double") / col("__n").cast("double") * lit(1000000.0))
          .cast("long"))
      .groupBy(col(keyCol))
      .agg(max(col("__n")).as("n_rows"), max(col("n_cats")).as("n_cats"),
        sum(col("__term")).as("entropy_micro_nats"))
  }
}
