package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (10L, Array(1.0f, 0.0f, 0.0f)),
    (11L, Array(0.9f, 0.1f, 0.0f)),
    (12L, Array(0.0f, 1.0f, 0.0f)),
    (13L, Array(0.0f, 0.9f, 0.1f)),
    (14L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("cid", "cvec")

  private val queries = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f))
  ).toDF("qid", "qvec")

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val got = Similarity
      .bruteForceTopK(queries, corpus, "qid", "qvec", "cid", "cvec", k = 2)
      .select("qid", "rnk", "cid")
      .as[(Long, Int, Long)]
      .collect()
      .toSet
    assert(got === Set((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 12L), (2L, 2, 13L)))
  }

  test("cosine handles zero vectors") {
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(z.select(Similarity.cosine(col("a"), col("b")).as("c")).head().getDouble(0) === 0.0)
  }

  test("quantized path: quantize rounds half away from zero; intDot/intCosine exact") {
    val df = Seq((1L, Array(0.0015f, -0.0015f, 1.0f))).toDF("id", "vec")
    val q = df.select(Similarity.quantize(col("vec"), 1000).as("v"))
    assert(q.head().getSeq[Long](0) === Seq(2L, -2L, 1000L))
    val d = Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L))).toDF("a", "b")
      .select(
        Similarity.intDot(col("a"), col("b")).as("dot"),
        Similarity.intCosine(col("a"), col("a")).as("self")
      ).head()
    assert(d.getLong(0) === 32L)
    assert(d.getDouble(1) === 1.0)
  }

  test("IVF: deterministic training, exhaustive probing = brute force, partial probing recalls clusters") {
    // 3 well-separated clusters of quantized vectors around the axes
    val vecs = (0 until 30).map { i =>
      val base = i % 3 match {
        case 0 => Array(1000L, 0L, 0L)
        case 1 => Array(0L, 1000L, 0L)
        case _ => Array(0L, 0L, 1000L)
      }
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + ((i * 7 + j * 3) % 50) })
    }
    val c = vecs.toDF("cid", "cv")
    val q = vecs.take(3).map { case (id, v) => (id + 100L, v) }.toDF("qid", "qv")

    // training is deterministic run to run
    val cents1 = Similarity.ivfTrain(c, "cid", "cv", k = 3, iters = 2)
    val cents2 = Similarity.ivfTrain(c, "cid", "cv", k = 3, iters = 2)
    assert(cents1.map(_.toSeq) === cents2.map(_.toSeq))

    // nprobe = k (exhaustive) equals nprobe = 1 top hit for clustered data,
    // and nprobe = 1 only scans ~1/3 of the corpus per query
    val exhaustive = Similarity
      .ivfTopK(q, c, "qid", "qv", "cid", "cv", k = 3, dim = 3, cents1, nprobe = 3)
      .select("qid", "rnk", "cid").as[(Long, Long, Long)].collect().toSet
    val probed = Similarity
      .ivfTopK(q, c, "qid", "qv", "cid", "cv", k = 3, dim = 3, cents1, nprobe = 1)
      .select("qid", "rnk", "cid").as[(Long, Long, Long)].collect().toSet
    // each query's own cluster is in one cell after 2 Lloyd rounds on
    // separated clusters -> single-probe recall is total here
    assert(probed === exhaustive)
    assert(exhaustive.size === 9)
    // top hits stay within the query's cluster (ids ≡ qid mod 3)
    exhaustive.foreach { case (qid, _, cid) => assert(cid % 3 === (qid - 100) % 3) }
  }

  test("PQ: per-subspace codebooks, codes in range, clustered recall, determinism") {
    // 4 well-separated clusters in 8 dims: cluster c peaks in dims 2c, 2c+1
    val vecs = (0 until 40).map { i =>
      val cl = i % 4
      val v = Array.tabulate(8)(j =>
        if (j / 2 == cl) 1000L + ((i * 13 + j) % 40) else (i * 7 + j * 3) % 30L)
      (i.toLong, v)
    }
    val c = vecs.toDF("cid", "cv")
    val q = vecs.take(4).map { case (id, v) => (id + 100L, v) }.toDF("qid", "qv")
    val books = Similarity.pqTrain(c, "cid", "cv", dim = 8, m = 4, k = 4, iters = 2)
    // m codebooks of k centroids of dim/m values each; deterministic
    assert(books.size === 4 && books.forall(b => b.size === 4 && b.forall(_.length === 2)))
    val books2 = Similarity.pqTrain(c, "cid", "cv", dim = 8, m = 4, k = 4, iters = 2)
    assert(books.map(_.map(_.toSeq)) === books2.map(_.map(_.toSeq)))
    // codes are m small ints in [0, k)
    val codes = c.select(Similarity.pqCodes(col("cv"), books, dim = 8).as("p"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(p => p.size === 4 && p.forall(x => x >= 0 && x < 4)))
    // ADC top-k on separated clusters finds the query's own cluster
    val top = Similarity
      .pqTopK(q, c, "qid", "qv", "cid", "cv", k = 5, books, dim = 8)
      .as[(Long, Long, Long)].collect()
    assert(top.length === 20)
    top.foreach { case (qid, _, cid) => assert(cid % 4 === (qid - 100) % 4) }
    // partitioning-invariant
    val rep = Similarity
      .pqTopK(q, c.repartition(7), "qid", "qv", "cid", "cv", k = 5, books, dim = 8)
      .as[(Long, Long, Long)].collect().sorted
    assert(rep.sameElements(top.sorted))
  }

  test("PQ recall@10 vs brute force on the sf0.001 embedding fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("cv"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), Similarity.quantize(col("embedding")).as("qv"))
    val exact = Similarity
      .bruteForceTopK(q, c, "qid", "qv", "cid", "cv", k = 10)
      .select("qid", "cid").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // m=8 (8 dims/subspace) keeps enough resolution on near-uniform data
    val books = Similarity.pqTrain(c, "cid", "cv", dim = 64, m = 8, k = 16, iters = 2)
    val pq = Similarity
      .pqTopK(q, c, "qid", "qv", "cid", "cv", k = 10, books, dim = 64)
      .select("qid", "cid").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map(k => (pq(k) & exact(k)).size / 10.0).sum / exact.size
    // near-uniform fixtures are ANN's worst case (cf. the LSH tables in
    // BASELINE.md); PQ's 128x compression must still beat random chance
    // (10/500 = 0.02) by a wide margin
    assert(recall > 0.15, s"recall@10 = $recall")
  }

  test("IVF-PQ: nprobe = k equals plain PQ; partial probing stays within probed cells") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("cv"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), Similarity.quantize(col("embedding")).as("qv"))
    val cents = Similarity.ivfTrain(c, "cid", "cv", k = 4, iters = 1)
    val books = Similarity.pqTrain(c, "cid", "cv", dim = 64, m = 4, k = 8, iters = 1)
    Similarity.materializeIvfPqCorpus(c, "cid", "cv", cents, books,
      dim = 64, numBuckets = 4, table = "spec_ivfpq")
    try {
      val full = Similarity.ivfPqTopKFromTable(spark, "spec_ivfpq", q,
        "qid", "qv", k = 5, cents, books, dim = 64, nprobe = 4)
        .as[(Long, Long, Long)].collect().sorted
      val pq = Similarity.pqTopK(q, c, "qid", "qv", "cid", "cv", k = 5, books, dim = 64)
        .as[(Long, Long, Long)].collect().sorted
      assert(full.sameElements(pq))
      // nprobe = 1 candidates all come from the query's own nearest cell
      val probed = Similarity.ivfPqTopKFromTable(spark, "spec_ivfpq", q,
        "qid", "qv", k = 5, cents, books, dim = 64, nprobe = 1)
        .select("cid").as[Long].collect().toSet
      val cellOf = spark.table("spec_ivfpq").select("id", "cell")
        .as[(Long, Int)].collect().toMap
      val qCells = q.select(col("qid"),
        graft.operators.Similarity.ivfCell(col("qv"), cents).as("cell"))
        .as[(Long, Int)].collect().map(_._2).toSet
      assert(probed.forall(cid => qCells.contains(cellOf(cid))))
    } finally spark.sql("DROP TABLE IF EXISTS spec_ivfpq")
  }

  test("IVF-PQ append: appended table row-identical to fresh build; idempotent re-append") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c = emb.select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("cv"))
    val cents = Similarity.ivfTrain(c, "cid", "cv", k = 4, iters = 1)
    val books = Similarity.pqTrain(c, "cid", "cv", dim = 64, m = 4, k = 8, iters = 1)
    try {
      Similarity.materializeIvfPqCorpus(c, "cid", "cv", cents, books,
        dim = 64, numBuckets = 4, table = "spec_ivfpq_fresh")
      Similarity.materializeIvfPqCorpus(c.filter(col("cid") >= 250), "cid", "cv",
        cents, books, dim = 64, numBuckets = 4, table = "spec_ivfpq_app")
      Similarity.appendToIvfPqCorpus(c.filter(col("cid") < 250), "cid", "cv",
        cents, books, dim = 64, table = "spec_ivfpq_app")
      def rows(t: String) = spark.table(t)
        .select(col("id"), col("cell"), col("codes").cast("string"))
        .as[(Long, Int, String)].collect().sorted
      assert(rows("spec_ivfpq_app").sameElements(rows("spec_ivfpq_fresh")))
      // re-appending the same batch is a no-op (anti-join on known ids)
      Similarity.appendToIvfPqCorpus(c.filter(col("cid") < 250), "cid", "cv",
        cents, books, dim = 64, table = "spec_ivfpq_app")
      assert(spark.table("spec_ivfpq_app").count() === c.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec_ivfpq_fresh")
      spark.sql("DROP TABLE IF EXISTS spec_ivfpq_app")
    }
  }

  test("bm25SearchFromIndex equals the scan path bit-for-bit; postings scan is term-pruned") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try {
      Corpus.materializeBm25Index(docs, "doc_id", "text",
        table = "spec_bm25_idx", numBuckets = 4)
      val scan = Corpus.bm25Search(docs, "doc_id", "text",
        Seq("customer", "spark", "merge"), topK = 20)
        .as[(Long, Long)].collect()
      val idx = Corpus.bm25SearchFromIndex(spark, "spec_bm25_idx",
        Seq("customer", "spark", "merge"), topK = 20)
        .as[(Long, Long)].collect()
      assert(idx.sameElements(scan))
      // the posting scans carry the pushed term filter (EqualTo for one
      // term, In for several) — the term-sorted parquet layout turns that
      // into row-group/page pruning
      val plan1 = Corpus.bm25SearchFromIndex(spark, "spec_bm25_idx", Seq("spark"), 5)
        .queryExecution.executedPlan.toString
      assert(plan1.contains("EqualTo(term,spark)"), plan1)
      val plan3 = Corpus.bm25SearchFromIndex(spark, "spec_bm25_idx",
        Seq("customer", "spark", "merge"), 5)
        .queryExecution.executedPlan.toString
      assert(plan3.contains("In(term"), plan3)
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec_bm25_idx")
      spark.sql("DROP TABLE IF EXISTS spec_bm25_idx_stats")
    }
  }

  test("appendToBm25Index: appended index row-identical to fresh; idempotent; stats advance") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try {
      Corpus.materializeBm25Index(docs, "doc_id", "text",
        table = "spec_bm25_fresh", numBuckets = 4)
      Corpus.materializeBm25Index(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        table = "spec_bm25_app", numBuckets = 4)
      Corpus.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        table = "spec_bm25_app")
      def rows(t: String) = spark.table(t)
        .as[(String, Long, Long, Long)].collect().sorted
      assert(rows("spec_bm25_app").sameElements(rows("spec_bm25_fresh")))
      assert(spark.table("spec_bm25_app_stats").as[(Long, Long)].head() ===
        spark.table("spec_bm25_fresh_stats").as[(Long, Long)].head())
      // re-appending the same docs is a no-op for postings AND stats
      Corpus.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        table = "spec_bm25_app")
      assert(rows("spec_bm25_app").sameElements(rows("spec_bm25_fresh")))
      assert(spark.table("spec_bm25_app_stats").as[(Long, Long)].head() ===
        spark.table("spec_bm25_fresh_stats").as[(Long, Long)].head())
    } finally {
      Seq("spec_bm25_fresh", "spec_bm25_fresh_stats", "spec_bm25_app", "spec_bm25_app_stats")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bm25 stats derive from postings: zero-token docs counted; stale stats heal on append") {
    val docs = Seq(
      (1L, "alpha beta beta"), (2L, ""), (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    try {
      Corpus.materializeBm25Index(docs, "doc_id", "text", table = "spec_bm25_heal", numBuckets = 2)
      def stats = spark.table("spec_bm25_heal_stats").as[(Long, Long)].head()
      assert(stats === ((3L, 3L))) // empty/null docs count in N, add 0 tokens
      // simulate a crash that committed postings but not the stats rewrite
      Bucketing.materializePlain(
        Seq((1L, 1L)).toDF("n_docs", "total_tokens"), "spec_bm25_heal_stats")
      // the next append re-derives stats FROM the postings -> heals
      Corpus.appendToBm25Index(Seq((4L, "gamma gamma")).toDF("doc_id", "text"),
        "doc_id", "text", table = "spec_bm25_heal")
      assert(stats === ((4L, 5L)))
      // re-ingesting an empty doc is a no-op (its sentinel id is known)
      Corpus.appendToBm25Index(Seq((2L, "now has words")).toDF("doc_id", "text"),
        "doc_id", "text", table = "spec_bm25_heal")
      assert(stats === ((4L, 5L)))
    } finally {
      Seq("spec_bm25_heal", "spec_bm25_heal_stats")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("intPlaneBucket: deterministic across calls, fails fast on wrong dim") {
    val planes = Similarity.intPlanes(numPlanes = 4, dim = 3, seed = 5L)
    assert(planes.map(_.toSeq) === Similarity.intPlanes(numPlanes = 4, dim = 3, seed = 5L).map(_.toSeq))
    val df = Seq((1L, Array(10L, -3L, 7L)), (2L, Array(10L, -3L, 7L))).toDF("id", "v")
    val buckets = df.select(Similarity.intPlaneBucket(col("v"), planes)).collect().map(_.getInt(0))
    assert(buckets(0) === buckets(1)) // same vector -> same bucket
    val bad = Seq((1L, Array(1L, 2L))).toDF("id", "v")
    val ex = intercept[Exception] {
      bad.select(Similarity.intPlaneBucket(col("v"), planes)).collect()
    }
    assert(ex.getMessage.contains("expected embedding dim 3"))
  }

  test("SQ8: codes clamp to [0,255], collapsed dims code to 0, pack round-trips") {
    val df = Seq((1L, Array(0.0f, 5.0f, 7.0f)), (2L, Array(10.0f, 5.0f, 3.0f))).toDF("id", "v")
    val (mins, maxs) = Similarity.sq8Train(df, "v", dim = 3)
    assert(mins === Seq(0.0, 5.0, 3.0) && maxs === Seq(10.0, 5.0, 7.0))
    val codes = df
      .select(col("id"), Similarity.sq8Codes(col("v"), mins, maxs).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // dim 0: [0,10] -> 0 and 255; dim 1 collapsed -> 0; dim 2: [3,7] -> 255 and 0
    assert(codes(1L) === Seq(0L, 0L, 255L))
    assert(codes(2L) === Seq(255L, 0L, 0L))
    // pack -> byteDot equals the plain integer dot over the code lists
    val packed = df
      .select(graft.functions.ByteCodes
        .packBytes(Similarity.sq8Codes(col("v"), mins, maxs)).as("p"))
    val dots = packed.crossJoin(packed.select(col("p").as("p2")))
      .select(graft.functions.ByteCodes.byteDot(col("p"), col("p2")).as("d"))
      .as[Long].collect().sorted
    assert(dots === Array(0L, 0L, 255L * 255L, 255L * 255L).sorted)
  }

  test("SQ8 topK recalls brute-force exactly on well-separated fixtures") {
    val (mins, maxs) = Similarity.sq8Train(corpus, "cvec", dim = 3)
    val got = Similarity
      .sq8TopK(queries, corpus, "qid", "qvec", "cid", "cvec", k = 2, mins, maxs)
      .select("qid", "rnk", "cid")
      .as[(Long, Int, Long)]
      .collect()
      .toSet
    // same answer as bruteForceTopK on this fixture: compression is lossy
    // but the clusters are far apart
    assert(got === Set((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 12L), (2L, 2, 13L)))
  }

  test("appendToLshCorpus: appended table holds the fresh materialization's rows; idempotent") {
    val planes = Similarity.intPlanes(numPlanes = 3, dim = 4, seed = 11L)
    val all = spark.range(300).select(
      col("id"),
      array(col("id") % 7, col("id") % 5, col("id") % 3, lit(1L)).as("v"))
    Similarity.materializeLshCorpus(all.filter(col("id") < 150), "id", "v", planes,
      numBuckets = 4, table = "sim_app_corpus")
    Similarity.appendToLshCorpus(all.filter(col("id") >= 150), "id", "v", planes,
      table = "sim_app_corpus")
    Similarity.materializeLshCorpus(all, "id", "v", planes,
      numBuckets = 4, table = "sim_fresh_corpus")
    def rows(t: String) = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2), r.getLong(3))).toSet
    assert(rows("sim_app_corpus") === rows("sim_fresh_corpus"))
    // re-appending the same batch is a no-op (id anti-join)
    Similarity.appendToLshCorpus(all.filter(col("id") >= 150), "id", "v", planes,
      table = "sim_app_corpus")
    assert(spark.table("sim_app_corpus").count() === 300L)
    // and downstream pairing over the appended table == over the fresh one
    val a = Dedup.embeddingDupsFromTable(spark, "sim_app_corpus", dim = 4, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val f = Dedup.embeddingDupsFromTable(spark, "sim_fresh_corpus", dim = 4, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === f && a.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS sim_app_corpus")
    spark.sql("DROP TABLE IF EXISTS sim_fresh_corpus")

    // IVF flavor: same row-identity + idempotence contract on cells
    val cents = Similarity.ivfTrain(all, "id", "v", k = 3, iters = 1)
    Similarity.materializeIvfCorpus(all.filter(col("id") < 150), "id", "v", cents,
      numBuckets = 4, table = "sim_app_ivf")
    Similarity.appendToIvfCorpus(all.filter(col("id") >= 150), "id", "v", cents,
      table = "sim_app_ivf")
    Similarity.appendToIvfCorpus(all.filter(col("id") >= 150), "id", "v", cents,
      table = "sim_app_ivf") // idempotent
    Similarity.materializeIvfCorpus(all, "id", "v", cents,
      numBuckets = 4, table = "sim_fresh_ivf")
    assert(rows("sim_app_ivf") === rows("sim_fresh_ivf"))
    spark.sql("DROP TABLE IF EXISTS sim_app_ivf")
    spark.sql("DROP TABLE IF EXISTS sim_fresh_ivf")
  }

  test("SQ8 bucketed corpus: 8x smaller rows, candidates == LSH buckets, scores == SQ8") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes = Similarity.intPlanes(numPlanes = 4, dim = 64, seed = 42L)
    val (mins, maxs) = Similarity.sq8Train(emb, "embedding", dim = 64)
    Similarity.materializeLshCorpusSq8(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      planes, mins, maxs, numBuckets = 4, table = "sim_sq8_corpus")
    // the stored code is ONE byte per dimension
    val row = spark.table("sim_sq8_corpus").head()
    assert(row.getAs[Array[Byte]]("code").length === 64)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = Similarity.sq8TopKFromTable(spark, "sim_sq8_corpus", q, "qid", "qv",
      k = 3, planes, mins, maxs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: same buckets + same SQ8 scoring spelled with the ad-hoc
    // operators — quantized bucket filter over the sq8 pair scores
    val cb = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      Similarity.intPlaneBucket(Similarity.quantize(col("embedding")), planes).as("cb"))
    val qb = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid2"), col("embedding").as("qv2"),
        Similarity.intPlaneBucket(Similarity.quantize(col("embedding")), planes).as("qb"))
    import graft.functions.ByteCodes
    val qc = qb.withColumn("qcode", ByteCodes.packBytes(Similarity.sq8Codes(col("qv2"), mins, maxs)))
    val cc = cb.withColumn("ccode", ByteCodes.packBytes(Similarity.sq8Codes(col("cv"), mins, maxs)))
    val nn = sqrt(ByteCodes.byteDot(col("qcode"), col("qcode")).cast("double")) *
      sqrt(ByteCodes.byteDot(col("ccode"), col("ccode")).cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid2")).orderBy(col("cos").desc, col("cid"))
    val expected = cc.join(qc, col("qb") === col("cb") && col("qid2") =!= col("cid"))
      .withColumn("cos",
        when(nn > 0, ByteCodes.byteDot(col("qcode"), col("ccode")).cast("double") / nn)
          .otherwise(lit(0.0)))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select(col("qid2"), col("rnk"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected && got.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS sim_sq8_corpus")
  }

  test("multi-table LSH: recall@10 >= single-table on the sf0.1 embedding fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), Similarity.quantize(col("embedding")).as("qv"))
    val c = emb.select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("cv"))
    val tables = (0 until 3).map(t => Similarity.intPlanes(numPlanes = 6, dim = 64, seed = 42L + t))
    // exact ground truth: one cell + one probe degenerates IVF to
    // exhaustive quantized-cosine search
    val cents = Similarity.ivfTrain(c, "cid", "cv", k = 1, iters = 0)
    def top10(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.filter(col("rnk") <= 10).select(col("qid"), col("cid"))
        .as[(Long, Long)].collect().toSet
    val exact = top10(Similarity.ivfTopK(q, c, "qid", "qv", "cid", "cv",
      k = 10, dim = 64, cents, nprobe = 1))
    val single = top10(Similarity.lshTopKMultiTable(q, c, "qid", "qv", "cid", "cv",
      k = 10, planeTables = Seq(tables.head)))
    val multi = top10(Similarity.lshTopKMultiTable(q, c, "qid", "qv", "cid", "cv",
      k = 10, planeTables = tables))
    val rs = (single & exact).size.toDouble / exact.size
    val rm = (multi & exact).size.toDouble / exact.size
    // the union of 3 tables' candidates is a superset of table 0's, and a
    // true-top-10 candidate always survives the within-candidate ranking —
    // so multi-table recall dominates deterministically; the strict gap is
    // the empirical payoff on this fixture
    assert(rm >= rs, s"multi-table recall $rm must dominate single-table $rs")
    assert(rm > rs, s"fixture should show a strict recall gain ($rm vs $rs)")
    assert(rm > 0.15, s"multi-table recall@10 unexpectedly low: $rm")
  }

  test("query-side broadcast is stats-gated: oversized query sets downgrade the plan") {
    def hasBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("BroadcastExchange")

    // tiny probe sets broadcast (the default plan)…
    assert(hasBroadcast(
      Similarity.bruteForceTopK(queries, corpus, "qid", "qvec", "cid", "cvec", k = 2)))

    // …but a query side over the gate must NOT reach the driver: every ANN
    // entry point downgrades instead of OOMing. Gate forced tiny so the
    // fixture stands in for a corpus-sized probe batch.
    val tiny = 1L
    assert(!hasBroadcast(
      Similarity.bruteForceTopK(queries, corpus, "qid", "qvec", "cid", "cvec",
        k = 2, broadcastMaxBytes = tiny)))
    assert(!hasBroadcast(
      Similarity.sq8TopK(queries, corpus, "qid", "qvec", "cid", "cvec", k = 2,
        mins = Seq(0, 0, 0), maxs = Seq(1, 1, 1), broadcastMaxBytes = tiny)))
    val qq = queries.select(col("qid"), Similarity.quantize(col("qvec")).as("qvec"))
    val qc = corpus.select(col("cid"), Similarity.quantize(col("cvec")).as("cvec"))
    val tables = Seq(7L, 8L).map(seed => Similarity.intPlanes(numPlanes = 2, dim = 3, seed = seed))
    assert(hasBroadcast(
      Similarity.lshTopKMultiTable(qq, qc, "qid", "qvec", "cid", "cvec", k = 2,
        planeTables = tables)))
    assert(!hasBroadcast(
      Similarity.lshTopKMultiTable(qq, qc, "qid", "qvec", "cid", "cvec", k = 2,
        planeTables = tables, broadcastMaxBytes = tiny)))
    val cents = Similarity.ivfTrain(qc, "cid", "cvec", k = 2, iters = 0)
    assert(!hasBroadcast(
      Similarity.ivfTopK(qq, qc, "qid", "qvec", "cid", "cvec", k = 2, dim = 3,
        centroids = cents, nprobe = 1, broadcastMaxBytes = tiny)))

    // the downgraded plans still return the exact same rows
    val gated = Similarity
      .bruteForceTopK(queries, corpus, "qid", "qvec", "cid", "cvec",
        k = 2, broadcastMaxBytes = tiny)
      .select("qid", "rnk", "cid").as[(Long, Int, Long)].collect().toSet
    assert(gated === Set((1L, 1, 10L), (1L, 2, 11L), (2L, 1, 12L), (2L, 2, 13L)))
  }

  test("IVF staleness gate: skewed appends trip it; retrain matches fresh-trained recall") {
    // training corpus: 99 vectors in cluster A, 1 in cluster B (ids 0 and 1
    // seed the two centroids, so training separates A from B)
    def vec(cluster: Int, i: Long) = cluster match {
      case 0 => Array(1000L + i % 3, i % 2, 0L, 0L) // A
      case _ => Array(0L, 0L, 1000L + i % 3, i % 2) // B
    }
    val init = ((0L until 1L).map(i => (i, vec(0, i))) ++ Seq((1L, vec(1, 1L))) ++
      (2L until 100L).map(i => (i, vec(0, i)))).toDF("id", "v")
    val cents = Similarity.ivfTrain(init, "id", "v", k = 2, iters = 2)
    Similarity.materializeIvfCorpus(init, "id", "v", cents, numBuckets = 4,
      table = "sim_stale_ivf")

    // a small same-distribution append does NOT trip the gate
    val calm = Seq((100L, vec(0, 100L)), (101L, vec(0, 101L)), (102L, vec(1, 102L)))
      .toDF("id", "v")
    val s1 = Similarity.appendToIvfCorpus(calm, "id", "v", cents, table = "sim_stale_ivf")
    assert(!s1.tripped, s"calm append must not trip: $s1")

    // 300 vectors into the near-empty-at-training B cell: share explodes
    val skew = (200L until 500L).map(i => (i, vec(1, i))).toDF("id", "v")
    val s2 = Similarity.appendToIvfCorpus(skew, "id", "v", cents, table = "sim_stale_ivf")
    assert(s2.tripped && s2.maxShareRatio > 4.0, s"skewed append must trip: $s2")
    assert(s2.totalTrain === 100L && s2.totalNow === 403L)

    // retrain on the drifted corpus == fresh training on the same union
    val retrained = Similarity.retrainIvfCorpus(spark, "sim_stale_ivf", k = 2, numBuckets = 4)
    val union = init.unionByName(calm).unionByName(skew)
    val freshCents = Similarity.ivfTrain(union, "id", "v", k = 2, iters = 2)
    assert(retrained.map(_.toSeq) === freshCents.map(_.toSeq),
      "retraining reads the same rows, so centroids must match fresh training")
    Similarity.materializeIvfCorpus(union, "id", "v", freshCents, numBuckets = 4,
      table = "sim_stale_fresh")

    def recall(table: String, cents: Seq[Array[Long]]): Double = {
      val qs = union.filter(col("id") % 50 === 0)
        .select(col("id").as("qid"), col("v").as("qv"))
      val got = Similarity.ivfTopKFromTable(spark, table, qs, "qid", "qv",
        k = 3, cents, nprobe = 1)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      val truth = Similarity.bruteForceTopK(
        qs, union.select(col("id").as("cid"), col("v").as("cv")),
        "qid", "qv", "cid", "cv", k = 3)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      (got intersect truth).size.toDouble / truth.size
    }
    val rRetrained = recall("sim_stale_ivf", retrained)
    val rFresh = recall("sim_stale_fresh", freshCents)
    assert(rRetrained >= rFresh, s"retrained recall $rRetrained < fresh $rFresh")
    // and retraining resets the gate
    val s3 = Similarity.ivfStaleness(spark, "sim_stale_ivf", k = 2)
    assert(!s3.tripped && s3.totalTrain === 403L)
    spark.sql("DROP TABLE IF EXISTS sim_stale_ivf")
    spark.sql("DROP TABLE IF EXISTS sim_stale_ivf_cellstats")
    spark.sql("DROP TABLE IF EXISTS sim_stale_fresh")
    spark.sql("DROP TABLE IF EXISTS sim_stale_fresh_cellstats")
  }

  test("rrfFuse: exact integer reciprocal-rank scores, overlap boosts, id ties") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), "id", "rank", k = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1e6 DIV 61 = 16393, DIV 62 = 16129; id 2 appears in both lists
    assert(out.toSeq === Seq(
      (2L, 16393L + 16129L, 2L),
      (1L, 16393L, 1L),
      (3L, 16129L, 1L)))
  }
}
