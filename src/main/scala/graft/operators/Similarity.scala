package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`Array[Float]`).
 *
 * Baseline: brute-force cosine top-k — a broadcast of the query set against a
 * partition-parallel scan of the corpus; exact, and at 100 TB still the right
 * shape when the query set is small (broadcast join, no corpus shuffle).
 *
 * Scale path: sign-LSH (random hyperplanes) bucketing — corpus is shuffled
 * once on a 2^planes-ary bucket key; queries probe only their own bucket
 * (plus optional multi-probe), turning an O(|Q|·|C|) cross join into
 * bucket-local joins.
 */
object Similarity {

  /**
   * Stats-gate for the ANN query side (the discipline of
   * [[Corpus.decontaminate]]): every top-k operator broadcasts its query set
   * — the right plan when queries are a handful of probes — but a caller
   * routing a corpus-sized query batch through top-k (corpus-vs-corpus
   * joins) must get a plan downgrade, never a driver OOM. The gate estimates
   * the query side's in-flight bytes from its optimized-plan stats times the
   * operator's probe fan-out (multi-probe/nprobe explode the query side
   * BEFORE the join); over `maxBytes` the side ships with `fallbackHint`
   * instead of `broadcast`:
   *   - equi-key joins (LSH bucket, IVF cell) downgrade to `shuffle_hash` —
   *     both sides shuffle on the key, memory bounded per task;
   *   - the non-equi brute-force/SQ8 pair joins downgrade to
   *     `shuffle_replicate_nl` — the candidate set is inherently all-pairs,
   *     so the distributed cartesian is the honest plan once the probe side
   *     stops fitting on the driver.
   */
  private def gateQuerySide(
      q: DataFrame,
      fanOut: Int,
      maxBytes: Long,
      fallbackHint: String
  ): DataFrame = {
    val bytes = q.queryExecution.optimizedPlan.stats.sizeInBytes
    // Plans with no real stats (RDD-backed frames, some views/streaming
    // sources) report the spark.sql.defaultSizeInBytes sentinel, i.e.
    // "unknown", not "huge" — without this check a genuinely tiny probe set
    // would silently lose its broadcast and pay the shuffle fallback. Treat
    // unknown as small (the query side of a top-k is a probe set by
    // contract; a corpus-sized caller still downgrades whenever stats exist).
    val unknown = bytes == BigInt(
      q.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (unknown || bytes * fanOut <= BigInt(maxBytes)) broadcast(q)
    else q.hint(fallbackHint)
  }

  /** Dot product of two float-array columns, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn).otherwise(lit(0.0))
  }

  /**
   * Exact brute-force top-k: broadcast the (small) query set, score every
   * corpus row, rank per query. Ties broken by corpus id for determinism.
   */
  def bruteForceTopK(
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame, // (cid, cvec)
      qidCol: String,
      qvecCol: String,
      cidCol: String,
      cvecCol: String,
      k: Int,
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    // Norms are per-vector: compute them once per side BEFORE the pair join.
    // (Recomputing norm(a)*norm(b) per pair runs two extra interpreted
    // higher-order aggregates per candidate — a 3× slowdown at minimum, and
    // the difference between linear and quadratic total work at scale.)
    val q2 = queries.withColumn("__qn", norm(col(qvecCol)))
    val c2 = Dedup.ensureParallelism(corpus).withColumn("__cn", norm(col(cvecCol)))
    val scored = c2
      .join(
        gateQuerySide(q2, 1, broadcastMaxBytes, "shuffle_replicate_nl"),
        col(qidCol) =!= col(cidCol))
      .withColumn(
        "cos",
        when(
          col("__qn") * col("__cn") > 0,
          dot(col(qvecCol), col(cvecCol)) / (col("__qn") * col("__cn"))
        ).otherwise(lit(0.0))
      )
    twoLevelTopK(scored, qidCol, cidCol, k)
  }

  /**
   * Two-level exact top-k over a scored (qid, cid, cos) pair frame. A single
   * window partitioned by qid would gather EVERY corpus candidate of a query
   * into one task — per-task work grows with |corpus| and the plan stops
   * scaling out. Level 1 keeps the top-k per (query, input partition): the
   * global top-k is necessarily a subset of the union of per-partition
   * top-ks, so level 2 ranks only k × numPartitions rows per query. Exact,
   * and per-task work is bounded by the partition size regardless of corpus
   * scale. Ties break on ascending cid at both levels (the levels MUST
   * agree, or level 1 could prune a row level 2 would have ranked).
   */
  private def twoLevelTopK(scored: DataFrame, qidCol: String, cidCol: String, k: Int): DataFrame = {
    val w1 = Window
      .partitionBy(col(qidCol), col("__part"))
      .orderBy(col("cos").desc, col(cidCol))
    val pruned = scored
      .withColumn("__part", spark_partition_id())
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .drop("__r1", "__part")
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col(cidCol))
    pruned
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col("rnk"), col(cidCol), col("cos"))
  }

  // ------------------------------------------------------------------- SQ8

  /**
   * SQ8 scalar quantization — the FAISS-style compressed-vector scale path:
   * each dimension maps to ONE unsigned byte via a per-dimension [min, max]
   * range learned from the corpus, and vectors ship as `binary` codes — 8x
   * smaller than the long-quantized form in memory and shuffles, which at
   * 100 TB is the difference between an in-memory ANN corpus and a spilled
   * one. Distances are exact integer arithmetic over the codes
   * ([[graft.functions.ByteCodes.byteDot]], codegen'd), so the whole
   * train → encode → score → rank pipeline stays DuckDB-oracle-checkable.
   *
   * Training is ONE aggregation (dim rows collected — 2·dim doubles on the
   * driver, never data-sized). Codes use `floor(x·255/(range) + 0.5)` with
   * identical operation order in both engines — IEEE doubles make the codes
   * bit-equal, and everything after is integer.
   */
  def sq8Train(corpus: DataFrame, vecCol: String, dim: Int): (Seq[Double], Seq[Double]) = {
    val rows = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("_pos", "_val")))
      .groupBy(col("_pos"))
      .agg(min(col("_val")).as("_mn"), max(col("_val")).as("_mx"))
      .orderBy(col("_pos"))
      .collect()
    require(rows.length == dim, s"sq8Train: expected $dim dims, got ${rows.length}")
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Per-element SQ8 codes as array<long> in [0, 255] (the portable,
    * oracle-visible form; pack with [[graft.functions.ByteCodes.packBytes]]
    * for storage). A collapsed dimension (max == min) codes to 0. */
  def sq8Codes(vec: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    require(mins.length == maxs.length, "mins/maxs length mismatch")
    val mn = array(mins.map(lit): _*)
    val mx = array(maxs.map(lit): _*)
    transform(vec.cast("array<double>"), (x, i) => {
      val lo = element_at(mn, i + 1)
      val hi = element_at(mx, i + 1)
      when(hi === lo, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor((x - lo) * lit(255.0) / (hi - lo) + lit(0.5)))))
    })
  }

  /**
   * Approximate top-k over SQ8-compressed vectors: both sides encode to
   * packed byte codes, scoring is the native byte dot (one multiply-add per
   * BYTE, in whole-stage codegen), ranking is the same two-level exact
   * top-k as [[bruteForceTopK]] — per-task work bounded by partition size.
   * The query side broadcasts; the corpus never shuffles.
   */
  def sq8TopK(
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame, // (cid, cvec)
      qidCol: String,
      qvecCol: String,
      cidCol: String,
      cvecCol: String,
      k: Int,
      mins: Seq[Double],
      maxs: Seq[Double],
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    import graft.functions.ByteCodes
    val q = queries.select(
      col(qidCol),
      ByteCodes.packBytes(sq8Codes(col(qvecCol), mins, maxs)).as("__qc"))
      .withColumn("__qn", sqrt(ByteCodes.byteDot(col("__qc"), col("__qc")).cast("double")))
    val c = Dedup.ensureParallelism(corpus).select(
      col(cidCol),
      ByteCodes.packBytes(sq8Codes(col(cvecCol), mins, maxs)).as("__cc"))
      .withColumn("__cn", sqrt(ByteCodes.byteDot(col("__cc"), col("__cc")).cast("double")))
    val scored = c
      .join(
        gateQuerySide(q, 1, broadcastMaxBytes, "shuffle_replicate_nl"),
        col(qidCol) =!= col(cidCol))
      .withColumn(
        "cos",
        when(
          col("__qn") * col("__cn") > 0,
          ByteCodes.byteDot(col("__qc"), col("__cc")).cast("double") /
            (col("__qn") * col("__cn"))
        ).otherwise(lit(0.0)))
    twoLevelTopK(scored, qidCol, cidCol, k)
  }

  /**
   * The compression × layout composition — SQ8 byte codes INSIDE the
   * bucketed LSH corpus: rows are (id, packed byte code, bucket, n2) with
   * the sign-LSH bucket from the quantized vector and the exact integer
   * squared norm of the code, written `bucketBy(bucket)`. At 100 TB this
   * is the corpus ANN wants to live in: 8× smaller than long vectors (the
   * difference between an in-memory table and a spilled one), shuffled
   * ZERO times per query, buckets pruning candidates. Codes and buckets
   * are both exact-integer constructions, so the probe stays
   * DuckDB-oracle-checkable end to end.
   */
  def materializeLshCorpusSq8(
      df: DataFrame,
      idCol: String,
      vecCol: String, // raw float embedding
      planes: Seq[Array[Long]],
      mins: Seq[Double],
      maxs: Seq[Double],
      numBuckets: Int,
      table: String
  ): Unit = {
    import graft.functions.ByteCodes
    val code = ByteCodes.packBytes(sq8Codes(col(vecCol), mins, maxs))
    Bucketing.materializeBucketed(
      df.select(
        col(idCol).as("id"),
        code.as("code"),
        intPlaneBucket(quantize(col(vecCol)), planes).as("bucket"))
        .withColumn("n2", ByteCodes.byteDot(col("code"), col("code"))),
      table, "bucket", numBuckets, sortCols = Seq("bucket"))
  }

  /** SQ8 top-k against a [[materializeLshCorpusSq8]] table: the query side
    * packs its own codes and computes its own buckets map-side (same
    * planes/mins/maxs as at write); candidates are bucket matches scored
    * by the codegen'd byte dot; the corpus feeds the join straight off its
    * bucketed scan. */
  def sq8TopKFromTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame, // (qid, raw float vec)
      qidCol: String,
      qvecCol: String,
      k: Int,
      planes: Seq[Array[Long]],
      mins: Seq[Double],
      maxs: Seq[Double],
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    import graft.functions.ByteCodes
    val qb = gateQuerySide(
      queries
        .select(
          col(qidCol),
          ByteCodes.packBytes(sq8Codes(col(qvecCol), mins, maxs)).as("__qc"),
          intPlaneBucket(quantize(col(qvecCol)), planes).as("bucket"))
        .withColumn("__qn2", ByteCodes.byteDot(col("__qc"), col("__qc"))),
      fanOut = 1,
      broadcastMaxBytes,
      "shuffle_hash"
    )
    val cb = spark.table(table)
    val nn = sqrt(col("__qn2").cast("double")) * sqrt(col("n2").cast("double"))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col("id"))
    cb.join(qb, Seq("bucket"))
      .filter(col(qidCol) =!= col("id"))
      .withColumn(
        "cos",
        when(nn > 0, ByteCodes.byteDot(col("__qc"), col("code")).cast("double") / nn)
          .otherwise(lit(0.0)))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col("rnk"), col("id").as("cid"), col("cos"))
  }

  // -------------------------------------------------------------- portable
  // Quantized variants: embeddings rounded to integers make every dot
  // product exact integer arithmetic (sums stay far below 2^53), so the
  // identical numbers fall out of any engine regardless of accumulation
  // order. Float accumulation differences could otherwise flip a
  // near-zero hyperplane sign between engines — with integers, bucket
  // assignment and cosine scores are bit-reproducible, which is what lets
  // the LSH operators be hash-checked against a SQL oracle.

  /** Quantize a float vector to bigints: round(x * scale). */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => round(x.cast("double") * scale, 0).cast("long"))

  /** Deterministic integer-valued hyperplanes (seeded gaussian × scale). */
  def intPlanes(numPlanes: Int, dim: Int, seed: Long = 42L, scale: Int = 1000): Seq[Array[Long]] = {
    val rnd = new Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(math.round(rnd.nextGaussian() * scale)))
  }

  /** Exact dot product of two bigint-array columns — one tight JVM loop via
    * the native [[graft.functions.LongDotExpr]] (codegen'd). The
    * `aggregate(zip_with(...))` spelling is CodegenFallback (interpreted,
    * boxing per element) and a flat `element_at` sum blows the generated-
    * method budget at embedding dims; both measured 3.5-9x slower on the
    * near-dup verify stage. Values are identical in all three spellings, so
    * operators built on this stay DuckDB-oracle-checkable. */
  def intDot(a: Column, b: Column): Column =
    graft.functions.HashExpressions.longDot(a, b)

  /** Cosine over quantized vectors: exact integer dot/norms, then one double
    * division — bit-identical across engines. NOTE: evaluates both norms per
    * call; inside a pair join, precompute `intDot(v,v)` per side instead and
    * divide by the product of the sqrts (see the ann_lsh/embed_neardup
    * entries in SparkEntry). */
  def intCosine(a: Column, b: Column): Column = {
    val nn = sqrt(intDot(a, a).cast("double")) * sqrt(intDot(b, b).cast("double"))
    when(nn > 0, intDot(a, b).cast("double") / nn).otherwise(lit(0.0))
  }

  /**
   * Materialize a corpus as a bucket-co-located table: each row carries its
   * sign-LSH bucket and precomputed squared norm, and the table is
   * `bucketBy(numBuckets, "bucket")` + `sortBy("bucket")` — so self-joins
   * (near-dup pairing) and repeated query joins on `bucket` become
   * storage-partitioned joins with ZERO corpus shuffle per run. This is the
   * 100 TB shape: the corpus shuffles once at write time, never per query;
   * only the (small) probe side moves at query time.
   */
  def materializeLshCorpus(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Seq[Array[Long]],
      numBuckets: Int,
      table: String
  ): Unit = {
    Bucketing.materializeBucketed(
      df.select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        intPlaneBucket(col(vecCol), planes).as("bucket"),
        intDot(col(vecCol), col(vecCol)).as("n2")
      ),
      table, "bucket", numBuckets, sortCols = Seq("bucket"))
  }

  /**
   * Materialize the MULTI-TABLE LSH corpus: one row per (table, vector)
   * with the per-table bucket, written `bucketBy(numBuckets, t, bucket)` —
   * [[lshTopKMultiTableFromTable]] then probes all L tables with ZERO
   * corpus shuffle (the L× row fan-out is paid once at write time, the
   * classic multi-table space-for-recall trade made durable).
   */
  def materializeLshCorpusMultiTable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planeTables: Seq[Seq[Array[Long]]],
      numBuckets: Int,
      table: String
  ): Unit = {
    require(planeTables.nonEmpty, "need at least one plane table")
    val rows = df
      .withColumn("__tb", explode(array(
        planeTables.zipWithIndex.map { case (ps, t) =>
          struct(lit(t).as("t"), intPlaneBucket(col(vecCol), ps).as("bucket"))
        }: _*)))
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        col("__tb.t").as("t"),
        col("__tb.bucket").as("bucket"),
        intDot(col(vecCol), col(vecCol)).as("n2"))
    Bucketing.materializeBucketedBy(rows, table, Seq("t", "bucket"), numBuckets,
      sortCols = Seq("t", "bucket"))
  }

  /** Multi-table top-k against a [[materializeLshCorpusMultiTable]] table:
    * the query side computes its L (table, bucket) probes map-side and
    * joins the stored layout — no corpus shuffle, no per-query bucket
    * re-assignment; dedup + rank as in [[lshTopKMultiTable]]. */
  def lshTopKMultiTableFromTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      planeTables: Seq[Seq[Array[Long]]],
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    val qb = gateQuerySide(
      queries
        .withColumn("__tb", explode(array(
          planeTables.zipWithIndex.map { case (ps, t) =>
            struct(lit(t).as("t"), intPlaneBucket(col(qvecCol), ps).as("bucket"))
          }: _*)))
        .select(col(qidCol), col(qvecCol),
          col("__tb.t").as("t"), col("__tb.bucket").as("bucket"))
        .withColumn("__qn2", intDot(col(qvecCol), col(qvecCol))),
      fanOut = planeTables.size,
      broadcastMaxBytes,
      "shuffle_hash"
    )
    val cb = spark.table(table)
    val nn = sqrt(col("__qn2").cast("double")) * sqrt(col("n2").cast("double"))
    val scored = cb
      .join(qb, Seq("t", "bucket"))
      .filter(col(qidCol) =!= col("id"))
      .withColumn(
        "cos",
        when(nn > 0, intDot(col(qvecCol), col("v")).cast("double") / nn)
          .otherwise(lit(0.0)))
      .select(col(qidCol), col("id").as("cid"), col("cos"))
      .dropDuplicates(qidCol, "cid")
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col("cid"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col("rnk"), col("cid"), col("cos"))
  }

  /**
   * Append a new batch into a [[materializeLshCorpus]] table in place —
   * the maintenance half of the bucketed-embedding-corpus loop, the
   * vector sibling of [[Dedup.appendToMinhashIndex]]: `insertInto` writes
   * through the table's bucket spec (new bucket files land beside the old;
   * readers merge per bucket id), so an ingest tick moves O(batch) vector
   * bytes and the corpus is never re-bucketed. Ids already present are
   * skipped (idempotent re-ingest). Same `planes` as at materialization —
   * the table stores buckets, not parameters.
   */
  def appendToLshCorpus(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Seq[Array[Long]],
      table: String
  ): Unit = {
    val spark = df.sparkSession
    val known = spark.table(table).select(col("id"))
    val rows = df
      .select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        intPlaneBucket(col(vecCol), planes).as("bucket"),
        intDot(col(vecCol), col(vecCol)).as("n2"))
      .join(known, Seq("id"), "left_anti")
    rows
      .select(spark.table(table).columns.map(col).toSeq: _*)
      .write.insertInto(table)
  }

  // ------------------------------------------------------------------ IVF

  /**
   * IVF (inverted-file) coarse quantizer over QUANTIZED vectors: the
   * classic ANN scale path — partition the corpus into k cells around
   * k-means centroids, then search only the `nprobe` cells nearest each
   * query. Candidate work drops from O(|Q|·|C|) to O(|Q|·|C|·nprobe/k).
   *
   * Training is deterministic Lloyd's: init = the k lowest-id vectors,
   * fixed iteration count, centroid updates floored to integers — so the
   * same corpus trains the same centroids on any engine/run, which is what
   * lets the full train→assign→probe→rank pipeline be oracle-checked
   * (with nprobe = k it degenerates to EXACT brute force — the
   * correctness entry proves the machinery against the exhaustive oracle;
   * recall at nprobe < k is spec-tested against [[bruteForceTopK]]).
   *
   * Centroids are k·dim longs — collected to the driver and baked into the
   * assign/probe expressions as literals: no ML library, no UDFs, the
   * whole plan stays in codegen. At 100 TB the corpus-side `ivfCell`
   * assignment is the one full pass; a real pipeline materializes it
   * (bucketBy(cell)) so queries only ever shuffle probe-cell candidates.
   */
  def ivfTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2
  ): Seq[Array[Long]] = {
    var centroids: Seq[Array[Long]] = corpus
      .orderBy(col(idCol))
      .limit(k)
      .select(vecCol)
      .collect()
      .map(_.getSeq[Long](0).toArray)
      .toSeq
    for (_ <- 1 to iters) {
      val sums = corpus
        .withColumn("__cell", ivfCell(col(vecCol), centroids))
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__pos", "__val")))
        .groupBy("__cell", "__pos")
        .agg(sum("__val").as("__s"), count(lit(1)).as("__n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, ci) =>
        byCell.get(ci) match {
          case None => old // empty cell keeps its centroid
          case Some(rows) =>
            val arr = old.clone()
            rows.foreach { r =>
              // floor(sum/n): sums are exact bigints far below 2^53, so the
              // double division floors identically on any engine.
              arr(r.getInt(1)) = math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
            }
            arr
        }
      }
    }
    centroids
  }

  /** Nearest-centroid cell id by squared L2 distance (exact integer
    * arithmetic; ties break to the lowest cell id via struct ordering). */
  def ivfCell(vec: Column, centroids: Seq[Array[Long]]): Column =
    array_min(array(centroidDistances(vec, centroids): _*)).getField("c")

  // Native per-centroid kernel: a flat element_at squared-diff sum blows the
  // generated-method budget at embedding dims x centroid count and falls
  // back to interpreted evaluation (measured 2s+ on a 2000-vector corpus);
  // the literal center rides along as one codegen reference object.
  private def centroidDistances(vec: Column, centroids: Seq[Array[Long]]): Seq[Column] =
    centroids.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.HashExpressions.longSqDistLit(vec, c.toIndexedSeq).as("d"),
        lit(i).as("c"))
    }

  /**
   * IVF top-k search: corpus assigned to cells once; each query probes its
   * `nprobe` nearest cells; exact quantized cosine + rank within the probed
   * candidates. nprobe = number of centroids ⇒ exact brute force.
   */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      qidCol: String,
      qvecCol: String,
      cidCol: String,
      cvecCol: String,
      k: Int,
      dim: Int,
      centroids: Seq[Array[Long]],
      nprobe: Int,
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    val cb = Dedup
      .ensureParallelism(corpus)
      .withColumn("cell", ivfCell(col(cvecCol), centroids))
      .withColumn("cn2", intDot(col(cvecCol), col(cvecCol)))
    val probes = slice(
      array_sort(array(centroidDistances(col(qvecCol), centroids): _*)),
      1,
      nprobe
    )
    val qb = gateQuerySide(
      queries
        .withColumn("cell", explode(transform(probes, p => p.getField("c"))))
        .withColumn("qn2", intDot(col(qvecCol), col(qvecCol))),
      fanOut = nprobe,
      broadcastMaxBytes,
      "shuffle_hash"
    )
    val nn = sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col(cidCol))
    cb.join(qb, Seq("cell"))
      .filter(col(qidCol) =!= col(cidCol))
      .withColumn(
        "cos",
        when(nn > 0, intDot(col(qvecCol), col(cvecCol)).cast("double") / nn)
          .otherwise(lit(0.0))
      )
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col("rnk"), col(cidCol), col("cos"))
  }

  // -------------------------------------------------------------------- PQ

  /**
   * Product-quantization codebooks (Jégou et al. 2011, "Product
   * Quantization for Nearest Neighbor Search"): the quantized vector space
   * splits into `m` contiguous subspaces and each subspace gets its own
   * k-means codebook — a vector is then stored as m SMALL CODES (m bytes at
   * k=16..256) instead of dim longs, the compression that keeps a 100 TB
   * ANN corpus in memory (SQ8 compresses 8×; PQ at m=4 over 64 dims
   * compresses 128×, at the cost of quantization error ADC ranking
   * absorbs).
   *
   * Training REUSES [[ivfTrain]] per subspace — the same deterministic
   * integer Lloyd's (k-lowest-id init, fixed iterations, floor(sum/n)
   * updates, empty cells keep their centroid), so codebooks are a pure
   * function of the corpus and the `ann_pq` oracle RETRAINS them in SQL
   * (two unrolled iterations) rather than receiving them as literals —
   * the one ANN entry whose TRAINING is cross-engine-verified, not just
   * its search. m small aggregates per iteration; at real scale train on
   * a sample, encode everything.
   */
  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int = 16,
      iters: Int = 2
  ): Seq[Seq[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, "m must divide dim")
    val d = dim / m
    (0 until m).map { s =>
      ivfTrain(
        corpus.select(col(idCol), slice(col(vecCol), s * d + 1, d).as(vecCol)),
        idCol, vecCol, k, iters)
    }
  }

  /** PQ codes as array<int> (code s = nearest centroid of subspace s, ties
    * to the lowest index — [[ivfCell]] semantics per subspace). */
  def pqCodes(vec: Column, books: Seq[Seq[Array[Long]]], dim: Int): Column = {
    val m = books.size
    val d = dim / m
    array(books.zipWithIndex.map { case (bk, s) =>
      ivfCell(slice(vec, s * d + 1, d), bk).cast("int")
    }: _*)
  }

  /**
   * PQ top-k by ADC (asymmetric distance computation): each QUERY builds
   * its m·k lookup table of exact integer squared distances to every
   * codebook entry ONCE (a per-query-row array, never per candidate), and
   * each candidate pair costs m array lookups + m-1 adds — the corpus side
   * touches only its m-code arrays, never raw vectors. Approximate by
   * construction (distances are to codebook entries, not the true vector);
   * rank = ADC distance ascending, ties to the lowest cid — bit-exactly
   * reproducible, which is what the oracle checks. Same two-level exact
   * top-k and stats-gated query broadcast as every other ANN entry point.
   */
  def pqTopK(
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame, // (cid, cvec)
      qidCol: String,
      qvecCol: String,
      cidCol: String,
      cvecCol: String,
      k: Int,
      books: Seq[Seq[Array[Long]]],
      dim: Int,
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    val m = books.size
    val d = dim / m
    val kSub = books.head.size
    val lut = for (s <- 0 until m; j <- 0 until kSub) yield
      graft.functions.HashExpressions.longSqDistLit(
        slice(col(qvecCol), s * d + 1, d), books(s)(j).toIndexedSeq)
    val q = queries.select(col(qidCol), array(lut: _*).as("__lut"))
    val c = Dedup.ensureParallelism(corpus)
      .select(col(cidCol), pqCodes(col(cvecCol), books, dim).as("__codes"))
    val dist = (0 until m)
      .map(s => element_at(col("__lut"),
        lit(s * kSub + 1) + element_at(col("__codes"), s + 1)))
      .reduce(_ + _)
    val scored = c
      .join(
        gateQuerySide(q, 1, broadcastMaxBytes, "shuffle_replicate_nl"),
        col(qidCol) =!= col(cidCol))
      .withColumn("cos", -dist.cast("double")) // twoLevelTopK ranks desc
    twoLevelTopK(scored, qidCol, cidCol, k)
      .select(col(qidCol), col("rnk").cast("bigint").as("rnk"), col(cidCol))
  }

  /**
   * IVF-PQ corpus — the FAISS `IndexIVFPQ` layout, THE at-scale ANN
   * structure: coarse-quantizer cells bound the candidate set (bucketed
   * table, probes read a pruned no-shuffle scan) while rows store m PQ
   * CODES instead of vectors (id + cell + m small ints — at m=4 over
   * 64-dim longs, ~30× less table than the raw IVF corpus). A billion
   * vectors fit in executor memory as codes where raw vectors would
   * spill; the price is ADC-approximate ranking, which `nprobe = k`
   * reduces to plain PQ (how the oracle checks the whole composition).
   */
  def materializeIvfPqCorpus(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]],
      dim: Int,
      numBuckets: Int,
      table: String
  ): Unit =
    Bucketing.materializeBucketed(
      df.select(
        col(idCol).as("id"),
        ivfCell(col(vecCol), centroids).as("cell"),
        pqCodes(col(vecCol), books, dim).as("codes")),
      table, "cell", numBuckets, sortCols = Seq("cell"))

  /** IVF-PQ probe: queries fan out to their `nprobe` nearest cells carrying
    * their ADC lookup table; the bucketed join prunes to probed cells with
    * no corpus shuffle; candidates cost m lookups each. Rank = ADC distance
    * ascending, ties to the lowest id (per-query window — candidates are
    * already cell-bounded). */
  def ivfPqTopKFromTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      centroids: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]],
      dim: Int,
      nprobe: Int,
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    val m = books.size
    val d = dim / m
    val kSub = books.head.size
    val probes = slice(
      array_sort(array(centroidDistances(col(qvecCol), centroids): _*)),
      1, nprobe)
    val lut = for (s <- 0 until m; j <- 0 until kSub) yield
      graft.functions.HashExpressions.longSqDistLit(
        slice(col(qvecCol), s * d + 1, d), books(s)(j).toIndexedSeq)
    val qb = gateQuerySide(
      queries
        .withColumn("cell", explode(transform(probes, p => p.getField("c"))))
        .select(col(qidCol), col("cell"), array(lut: _*).as("__lut")),
      fanOut = nprobe,
      broadcastMaxBytes,
      "shuffle_hash")
    val dist = (0 until m)
      .map(s => element_at(col("__lut"),
        lit(s * kSub + 1) + element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col("id"))
    spark.table(table)
      .join(qb, Seq("cell"))
      .filter(col(qidCol) =!= col("id"))
      .withColumn("cos", -dist.cast("double"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col("rnk"), col("id").as("cid"))
  }

  /** Append new vectors into a [[materializeIvfPqCorpus]] table in place —
    * completes the index-maintenance story for the PQ family: O(batch)
    * insert through the bucket spec, idempotent on re-ingested ids, with
    * FROZEN centroids and codebooks (FAISS `IndexIVFPQ.add` semantics —
    * distribution drift is [[ivfStaleness]]/retrain's job; the table
    * shares the IVF `cell` column so the staleness gate applies as-is). */
  def appendToIvfPqCorpus(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]],
      dim: Int,
      table: String
  ): Unit = {
    val spark = df.sparkSession
    val known = spark.table(table).select(col("id"))
    df.select(
        col(idCol).as("id"),
        ivfCell(col(vecCol), centroids).as("cell"),
        pqCodes(col(vecCol), books, dim).as("codes"))
      .join(known, Seq("id"), "left_anti")
      .select(spark.table(table).columns.map(col).toSeq: _*)
      .write.insertInto(table)
  }

  /**
   * Multi-TABLE sign-LSH top-k over quantized vectors — the standard recall
   * lever a single hyperplane table lacks (one table at `p` planes recalls
   * ~(1−θ/π)^p per neighbor; L independent tables recall
   * 1−(1−(1−θ/π)^p)^L): each of `planeTables` is an independent seeded
   * plane matrix, every vector gets one bucket PER table, and a candidate
   * is any corpus row sharing a (table, bucket) cell with the query — the
   * union of per-table matches. Scoring is the exact quantized cosine.
   *
   * Scale shape: the corpus carries one row per (table, vector) — L× the
   * index footprint, the classic multi-table trade — produced map-only and
   * equi-joined on (table, bucket); no corpus shuffle in the broadcast
   * regime, stats-gated like every other query side. Duplicate candidates
   * (pairs colliding in several tables) are deduped on scored (qid, cid)
   * pairs, so the dedup shuffle carries ids + one double, never vectors.
   */
  def lshTopKMultiTable(
      queries: DataFrame,
      corpus: DataFrame,
      qidCol: String,
      qvecCol: String,
      cidCol: String,
      cvecCol: String,
      k: Int,
      planeTables: Seq[Seq[Array[Long]]],
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    require(planeTables.nonEmpty, "need at least one plane table")
    def tableBuckets(vec: Column): Column = explode(array(
      planeTables.zipWithIndex.map { case (ps, t) =>
        struct(lit(t).as("t"), intPlaneBucket(vec, ps).as("bucket"))
      }: _*))
    val qb = gateQuerySide(
      queries
        .withColumn("__tb", tableBuckets(col(qvecCol)))
        .select(col(qidCol), col(qvecCol),
          col("__tb.t").as("t"), col("__tb.bucket").as("bucket"))
        .withColumn("__qn2", intDot(col(qvecCol), col(qvecCol))),
      fanOut = planeTables.size,
      broadcastMaxBytes,
      "shuffle_hash"
    )
    val cb = Dedup.ensureParallelism(corpus)
      .withColumn("__tb", tableBuckets(col(cvecCol)))
      .select(col(cidCol), col(cvecCol),
        col("__tb.t").as("t"), col("__tb.bucket").as("bucket"))
      .withColumn("__cn2", intDot(col(cvecCol), col(cvecCol)))
    val nn = sqrt(col("__qn2").cast("double")) * sqrt(col("__cn2").cast("double"))
    val scored = cb
      .join(qb, Seq("t", "bucket"))
      .filter(col(qidCol) =!= col(cidCol))
      .withColumn(
        "cos",
        when(nn > 0, intDot(col(qvecCol), col(cvecCol)).cast("double") / nn)
          .otherwise(lit(0.0)))
      .select(col(qidCol), col(cidCol), col("cos"))
      .dropDuplicates(qidCol, cidCol)
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col(cidCol))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col("rnk"), col(cidCol), col("cos"))
  }

  /**
   * Materialize an IVF corpus as a cell-co-located bucketed table (the IVF
   * analog of [[materializeLshCorpus]]): each row carries its nearest-
   * centroid cell and squared norm, written `bucketBy(numBuckets, "cell")`.
   * [[ivfTopKFromTable]] then probes it with ZERO corpus work per query —
   * no cell re-assignment (the 100 TB full pass happens once, here) and no
   * corpus shuffle (the scan feeds the probe join directly).
   */
  def materializeIvfCorpus(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Long]],
      numBuckets: Int,
      table: String
  ): Unit = {
    Bucketing.materializeBucketed(
      df.select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        ivfCell(col(vecCol), centroids).as("cell"),
        intDot(col(vecCol), col(vecCol)).as("n2")
      ),
      table, "cell", numBuckets, sortCols = Seq("cell"))
    val spark = df.sparkSession
    // training-time cell occupancy — the reference point of the append-path
    // staleness gate. One bucketed aggregate on the just-written table (no
    // shuffle), k rows.
    Bucketing.materializePlain(
      spark.table(table).groupBy(col("cell")).agg(count(lit(1)).as("n_train")),
      s"${table}_cellstats")
  }

  /**
   * Post-append staleness of an IVF corpus: how far the CURRENT cell
   * occupancy has drifted from the TRAINING-time occupancy stored by
   * [[materializeIvfCorpus]]. `maxShareRatio` is the worst per-cell growth
   * of occupancy SHARE (add-one smoothed, so fresh mass landing in a cell
   * that was near-empty at training — the classic drift signature — shows
   * up even when absolute counts stay small); the gate `tripped` means
   * recall has likely decayed and [[retrainIvfCorpus]] should run. Indexes
   * materialized before cell stats existed report `maxShareRatio = 1` and
   * never trip.
   */
  case class IvfStaleness(
      totalTrain: Long,
      totalNow: Long,
      maxShareRatio: Double,
      tripped: Boolean)

  /** Append a new batch into a [[materializeIvfCorpus]] table in place —
    * completes the index-maintenance trio (MinHash bands, LSH buckets, IVF
    * cells): O(batch) insert through the bucket spec, idempotent on
    * re-ingested ids, same `centroids` as at materialization. Centroid
    * DRIFT is the one thing an append cannot fix — re-train + re-materialize
    * when the corpus distribution moves; between re-trains, appended
    * vectors land in their nearest EXISTING cell, exactly like FAISS
    * `IndexIVF.add`. */
  def appendToIvfCorpus(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Long]],
      table: String,
      maxSkew: Double = 4.0
  ): IvfStaleness = {
    val spark = df.sparkSession
    val known = spark.table(table).select(col("id"))
    df.select(
        col(idCol).as("id"),
        col(vecCol).as("v"),
        ivfCell(col(vecCol), centroids).as("cell"),
        intDot(col(vecCol), col(vecCol)).as("n2"))
      .join(known, Seq("id"), "left_anti")
      .select(spark.table(table).columns.map(col).toSeq: _*)
      .write.insertInto(table)
    ivfStaleness(spark, table, centroids.size, maxSkew)
  }

  /** Compute [[IvfStaleness]] of an IVF corpus vs its stored training-time
    * cell stats: one bucketed count aggregate (no corpus shuffle) collected
    * as k rows — a bounded, metadata-sized check, never a scan of vectors. */
  def ivfStaleness(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      k: Int,
      maxSkew: Double = 4.0
  ): IvfStaleness = {
    if (!spark.catalog.tableExists(s"${table}_cellstats"))
      return IvfStaleness(0L, 0L, 1.0, tripped = false)
    val rows = spark.table(table)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_now"))
      .join(spark.table(s"${table}_cellstats"), Seq("cell"), "full_outer")
      .select(
        coalesce(col("n_now"), lit(0L)).as("n_now"),
        coalesce(col("n_train"), lit(0L)).as("n_train"))
      .collect()
    val totalNow = rows.map(_.getLong(0)).sum
    val totalTrain = rows.map(_.getLong(1)).sum
    val maxRatio = rows.foldLeft(1.0) { (acc, r) =>
      val shareNow = (r.getLong(0) + 1.0) / (totalNow + k)
      val shareTrain = (r.getLong(1) + 1.0) / (totalTrain + k)
      math.max(acc, shareNow / shareTrain)
    }
    IvfStaleness(totalTrain, totalNow, maxRatio, tripped = maxRatio > maxSkew)
  }

  /**
   * Re-train the IVF centroids on the CURRENT corpus and re-materialize the
   * table + its cell stats — the O(corpus) maintenance step the staleness
   * gate triggers (FAISS re-train after heavy `add`s). The rewrite stages
   * into a temp table and renames, so a crash leaves either the old or the
   * new index. Returns the new centroids (callers must use them for every
   * later probe/append — cells are only meaningful with their centroids).
   */
  def retrainIvfCorpus(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      k: Int,
      numBuckets: Int,
      iters: Int = 2
  ): Seq[Array[Long]] = {
    // reads stay against the OLD table (dropped only after tmp is fully
    // written) — no checkpoint of the corpus needed
    val current = spark.table(table).select(col("id"), col("v"))
    val centroids = ivfTrain(current, "id", "v", k, iters)
    val tmp = s"${table}_retrain_tmp"
    materializeIvfCorpus(current, "id", "v", centroids, numBuckets, tmp)
    // cellstats of tmp was written against the tmp table name; recompute
    // both tables under the final name via rename + plain rewrite
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    Bucketing.materializePlain(
      spark.table(s"${tmp}_cellstats").localCheckpoint(),
      s"${table}_cellstats")
    spark.sql(s"DROP TABLE IF EXISTS `${tmp}_cellstats`")
    centroids
  }

  /** IVF top-k against a [[materializeIvfCorpus]] table: queries probe
    * their `nprobe` nearest cells (same `centroids` as at materialization);
    * the corpus side is a pruned bucketed scan — cells precomputed, no
    * Exchange (PlanSpec pins this). */
  def ivfTopKFromTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      centroids: Seq[Array[Long]],
      nprobe: Int,
      broadcastMaxBytes: Long = 256L << 20
  ): DataFrame = {
    val probes = slice(
      array_sort(array(centroidDistances(col(qvecCol), centroids): _*)),
      1,
      nprobe
    )
    val qb = gateQuerySide(
      queries
        .withColumn("cell", explode(transform(probes, p => p.getField("c"))))
        .withColumn("qn2", intDot(col(qvecCol), col(qvecCol))),
      fanOut = nprobe,
      broadcastMaxBytes,
      "shuffle_hash"
    )
    val cb = spark.table(table)
    val nn = sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("cos").desc, col("id"))
    cb.join(qb, Seq("cell"))
      .filter(col(qidCol) =!= col("id"))
      .withColumn(
        "cos",
        when(nn > 0, intDot(col(qvecCol), col("v")).cast("double") / nn)
          .otherwise(lit(0.0)))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col("rnk"), col("id").as("cid"), col("cos"))
  }

  /** Sign-LSH bucket from explicit integer planes over a quantized vector:
    * bit p = sign(vec · plane_p). The vector length must equal the planes'
    * dimension: a mismatched vector would silently land in a wrong bucket
    * and degrade the bucketed join, so it fails fast with `raise_error`. */
  def intPlaneBucket(vec: Column, planes: Seq[Array[Long]]): Column = {
    val dim = planes.head.length
    val bits = planes.zipWithIndex.map { case (p, i) =>
      // native literal-plane dot: value-identical to the
      // aggregate/zip_with fold, evaluated in one codegen'd JVM loop
      val d = graft.functions.HashExpressions.longDotLit(vec, p.toIndexedSeq)
      when(d > 0, shiftleft(lit(1), i)).otherwise(lit(0))
    }
    val bucket = bits.reduce((a, b) => a.bitwiseOR(b))
    when(size(vec) === dim, bucket).otherwise(
      raise_error(
        concat(lit(s"intPlaneBucket: expected embedding dim $dim, got "), size(vec))
      ).cast("int")
    )
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): merge N
   * retrieval rank lists into one — THE standard hybrid-search combiner
   * (lexical BM25 + vector ANN), robust to incomparable score scales
   * because it consumes only RANKS. Score = Σ_lists 10⁶ ∕ (k + rank)
   * (floor division — exact integers, any engine), ties broken by id.
   * Returns (id, rrf_micro, n_lists) top-`topK`.
   *
   * Scale shape: inputs are already top-N lists (tiny); the fuse is a
   * union + one groupBy — nothing retrieval-sized recomputes here.
   */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      k: Int = 60,
      topK: Int = 10
  ): DataFrame = {
    require(rankings.nonEmpty && k >= 0 && topK > 0,
      "need at least one ranking, k >= 0, topK > 0")
    rankings
      .map(r => r.select(
        col(idCol),
        expr(s"1000000L DIV (${k}L + CAST(`$rankCol` AS BIGINT))").as("__s")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__s")).as("rrf_micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_micro").desc, col(idCol))
      .limit(topK)
  }
}
