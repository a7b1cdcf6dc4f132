package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Text

/** Corpus-composition operators: deterministic sampling, shard packing
  * (two-level prefix sum ≡ naive global window), repetition stats (native
  * kernel ≡ explode-based spec), PII scrubbing, and the plan shapes that
  * make each scale. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .cache()

  // ------------------------------------------------------------- sampling

  test("sampleBySource is a pure function of (source, id): partitioning-invariant") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.5)
    val a = Corpus.sampleBySource(docs, "doc_id", "source", rates, defaultRate = 0.2)
      .select("doc_id").as[Long].collect().sorted
    val b = Corpus.sampleBySource(docs.repartition(17, col("lang")), "doc_id", "source",
      rates, defaultRate = 0.2)
      .select("doc_id").as[Long].collect().sorted
    assert(a.sameElements(b))
    // rate 1.0 keeps every src0 row; rate 0.0 keeps none
    val src0 = docs.filter(col("source") === "src0").count()
    assert(Corpus.sampleBySource(docs, "doc_id", "source", Map("src0" -> 1.0), 0.0)
      .count() === src0)
    assert(Corpus.sampleBySource(docs, "doc_id", "source", Map.empty, 0.0).count() === 0)
    // sampling adds no shuffle: map-only plan
    val plan = Corpus.sampleBySource(docs, "doc_id", "source", rates, 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("sampleToBudget cuts each budgeted source toward its token budget") {
    val withTokens = docs.select(col("doc_id"), col("source"),
      Text.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    val totals = withTokens.groupBy("source").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = totals("src0") / 3
    val out = Corpus.sampleToBudget(withTokens, "doc_id", "source", "n_tokens",
      Map("src0" -> budget))
    // unbudgeted sources pass through untouched
    assertSameRows(
      out.filter(col("source") =!= "src0"),
      withTokens.filter(col("source") =!= "src0"))
    // the budgeted source lands near its budget (hash sampling is unbiased;
    // tolerance is wide because per-source doc counts are small here)
    val kept = out.filter(col("source") === "src0").agg(sum("n_tokens")).head().getLong(0)
    assert(kept < totals("src0"), "budget must actually cut")
    // a budget >= total keeps everything
    assert(Corpus.sampleToBudget(withTokens, "doc_id", "source", "n_tokens",
      Map("src0" -> totals("src0"))).count() === withTokens.count())
  }

  test("decontaminate drops exactly the docs sharing a word n-gram with the probes") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog at dawn"),
      (2L, "a quick brown fox jumps over the lazy dog sometimes"), // shares an 8-gram with 1
      (3L, "the quick brown fox naps beside the lazy dog at dawn"), // longest common run is 4
      (4L, "completely unrelated text about spark and data engines"),
      (5L, "short text")
    ).toDF("doc_id", "text")
    val probes = corpus.filter(col("doc_id") === 1)
    val clean = Corpus.decontaminate(corpus, "doc_id", "text", probes, "text", n = 8)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.sameElements(Array(3L, 4L, 5L)), clean.mkString(","))
    // a probe shorter than n contaminates nothing (no complete n-gram)
    val shortProbe = Seq("quick brown fox").toDF("text")
    assert(Corpus.decontaminate(corpus, "doc_id", "text", shortProbe, "text", n = 8)
      .count() === corpus.count())
    // the probe side broadcasts (document side is never shuffled whole)
    val plan = Corpus.decontaminate(corpus, "doc_id", "text", probes, "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // an oversized probe set downgrades to a shuffled gram join instead of
    // an unconditional driver-side broadcast — same rows either way
    val gated = Corpus.decontaminate(corpus, "doc_id", "text", probes, "text",
      n = 8, broadcastMaxBytes = 1L)
    assert(!gated.queryExecution.analyzed.toString.contains("broadcast"),
      gated.queryExecution.analyzed.toString)
    assert(gated.select("doc_id").as[Long].collect().sorted.sameElements(Array(3L, 4L, 5L)))
  }

  // ------------------------------------------------------------- packing

  private def naivePack(df: DataFrame, budget: Long): DataFrame =
    df.withColumn("shard",
      expr(s"coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED " +
        s"PRECEDING AND 1 PRECEDING), 0) div $budget"))

  test("packShards equals the naive global-window spelling, without its bottleneck") {
    val withTokens = docs.select(col("doc_id"),
      Text.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    val packed = Corpus.packShards(withTokens, "doc_id", "n_tokens", budget = 500L,
      numBuckets = 8)
    assertSameRows(packed, naivePack(withTokens, 500L))

    // the scale property: no single-partition exchange feeds the window
    // (the naive spelling serializes the whole corpus through one task)
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
    val naivePlan = naivePack(withTokens, 500L).queryExecution.executedPlan.toString
    assert(naivePlan.contains("SinglePartition"), naivePlan)

    // shards are contiguous, non-empty id ranges, and every non-final shard's
    // cumulative prefix crosses its upper boundary (a shard only closes once
    // the running token count passes shard_end * budget — individual shards
    // can hold fewer tokens when a straddling doc overshot the previous
    // boundary, which is inherent to never splitting documents)
    val byShard = packed.groupBy("shard")
      .agg(sum("n_tokens").as("tok"), min("doc_id").as("lo"), max("doc_id").as("hi"))
      .orderBy("shard").collect()
    var cum = 0L
    byShard.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") < b.getAs[Long]("lo")) // contiguous ranges
        cum += a.getAs[Long]("tok")
        assert(cum >= (a.getAs[Long]("shard") + 1) * 500L,
          s"shard ${a.getAs[Long]("shard")} closed before crossing its boundary")
      case _ => ()
    }
  }

  test("packShards: empty input, single bucket, and id gaps") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(Corpus.packShards(empty, "doc_id", "n_tokens", 100L).count() === 0)
    // sparse, gappy ids across one bucket == many buckets
    val gappy = Seq((5L, 60L), (900L, 60L), (90001L, 60L), (90002L, 10L), (1000000L, 200L))
      .toDF("doc_id", "n_tokens")
    assertSameRows(
      Corpus.packShards(gappy, "doc_id", "n_tokens", 100L, numBuckets = 1),
      Corpus.packShards(gappy, "doc_id", "n_tokens", 100L, numBuckets = 64))
    val shards = Corpus.packShards(gappy, "doc_id", "n_tokens", 100L, numBuckets = 64)
      .orderBy("doc_id").select("shard").as[Long].collect()
    assert(shards.sameElements(Array(0L, 0L, 1L, 1L, 1L)), shards.mkString(","))
  }

  test("upsample + shuffleOrder: epoch replication and reproducible training order") {
    val up = Corpus.upsample(docs.select("doc_id", "source"), "source",
      Map("src0" -> 3, "src1" -> 2))
    val counts = up.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("src0") === base("src0") * 3)
    assert(counts("src1") === base("src1") * 2)
    assert(counts.filterNot(k => Set("src0", "src1")(k._1)) ===
      base.filterNot(k => Set("src0", "src1")(k._1)))
    // epochs are distinct per copy
    assert(up.filter(col("source") === "src0").select("epoch").distinct().count() === 3)

    // shuffle: deterministic across partitionings, different across salts
    val a = Corpus.shuffleOrder(docs, "doc_id", salt = 1).select("doc_id")
      .as[Long].collect()
    val b = Corpus.shuffleOrder(docs.repartition(13), "doc_id", salt = 1).select("doc_id")
      .as[Long].collect()
    assert(a.sameElements(b))
    val c = Corpus.shuffleOrder(docs, "doc_id", salt = 2).select("doc_id")
      .as[Long].collect()
    assert(!a.sameElements(c) && a.sorted.sameElements(c.sorted))
  }

  test("stratifiedSample: exactly n per stratum, salt-stage-count invariant, nulls dropped") {
    val withNull = docs.select("doc_id", "source")
      .unionByName(Seq((90001L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    val out = Corpus.stratifiedSample(withNull, "doc_id", "source", n = 3)
    val perStratum = out.groupBy("source").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(perStratum.keySet.forall(_.isDefined), "null stratum must be dropped")
    assert(perStratum.values.forall(_ === 3L))
    // the two-stage salted rank composes to the plain global rank: the
    // kept set is identical at any salt count (1 = unsalted reference)
    val ref = Corpus.stratifiedSample(withNull, "doc_id", "source", n = 3, salts = 1)
      .select("doc_id").as[Long].collect().sorted
    val salted = Corpus.stratifiedSample(withNull, "doc_id", "source", n = 3, salts = 7)
      .select("doc_id").as[Long].collect().sorted
    assert(ref.sameElements(salted))
    // partitioning-invariant
    val rep = Corpus.stratifiedSample(
      withNull.repartition(13), "doc_id", "source", n = 3)
      .select("doc_id").as[Long].collect().sorted
    assert(ref.sameElements(rep))
    // a stratum smaller than n keeps all its rows
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    assert(Corpus.stratifiedSample(tiny, "doc_id", "source", n = 5).count() === 3)
  }

  test("topKPerKey: equals the plain window rank; partitioning-invariant; handles k > group size") {
    val df = (1L to 200L).map(i => (i, s"g${i % 5}", (i * 37 % 101).toDouble))
      .toDF("id", "g", "score")
    val ord = Seq(col("score").desc, col("id").asc)
    val two = Corpus.topKPerKey(df, Seq("g"), ord, k = 4)
      .select("id", "g", "rnk").as[(Long, String, Long)].collect().sorted
    val plain = df
      .withColumn("rnk", row_number().over(
        Window.partitionBy("g").orderBy(ord: _*)).cast("long"))
      .filter(col("rnk") <= 4)
      .select("id", "g", "rnk").as[(Long, String, Long)].collect().sorted
    assert(two.sameElements(plain))
    val rep = Corpus.topKPerKey(df.repartition(13), Seq("g"), ord, k = 4)
      .select("id", "g", "rnk").as[(Long, String, Long)].collect().sorted
    assert(rep.sameElements(plain))
    // k larger than any group: every row survives with its exact rank
    assert(Corpus.topKPerKey(df, Seq("g"), ord, k = 1000).count() === 200)
  }

  test("shuffleShards: a permutation cut into near-equal contiguous shards") {
    val out = Corpus.shuffleShards(docs, "doc_id", numShards = 4, salt = 9L).cache()
    val n = docs.count()
    assert(out.count() === n)
    // positions are exactly 0..n-1 (a permutation)
    assert(out.agg(min("position"), max("position"), countDistinct("position"))
      .as[(Long, Long, Long)].head() === ((0L, n - 1, n)))
    // shards are near-equal (sizes differ by at most 1) and contiguous in
    // position order
    val sizes = out.groupBy("shard").count().select("count").as[Long].collect()
    assert(sizes.length === 4 && sizes.max - sizes.min <= 1)
    val byPos = out.orderBy("position").select("shard").as[Long].collect()
    assert(byPos.sameElements(byPos.sorted))
    // deterministic across partitionings; shard matches position arithmetic
    val rep = Corpus.shuffleShards(docs.repartition(11), "doc_id", 4, salt = 9L)
      .orderBy("position").select("doc_id").as[Long].collect()
    assert(rep.sameElements(out.orderBy("position").select("doc_id").as[Long].collect()))
    assert(out.filter(
      col("shard") =!= floor(col("position") * 4 / n).cast("long")).count() === 0)
    out.unpersist()
  }

  test("Profile.benfordDigits: string-head digit, sub-1 rows dropped, exact micro freqs") {
    // 1..9 (one each), 10..19 (ten 1s), 95.5 (digit 9), 0.4 (dropped)
    val df = ((1 to 19).map(_.toDouble) ++ Seq(95.5, 0.4)).toDF("v")
    val out = Profile.benfordDigits(df, "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 === 11L) // 1 and 10..19
    assert(out(9L)._1 === 2L) // 9 and 95.5
    assert((2L to 8L).forall(d => out(d)._1 === 1L))
    assert(out(1L)._2 === 11L * 1000000L / 20L) // floor division over total=20
    // expected constant for digit 1 = floor(log10(2)*1e6)
    val b1 = Profile.benfordDigits(df, "v").filter(col("digit") === 1)
      .collect()(0).getLong(3)
    assert(b1 === 301029L)
  }

  test("Profile.categoryEntropy: uniform two-way = ln2 grid sum; monoculture = 0") {
    val df = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "x")).toDF("k", "c")
    val out = Profile.categoryEntropy(df, "k", "c")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // two terms of floor(0.5*ln2*1e6) = 346573 each
    assert(out("a") === ((2L, 2L, 693146L)))
    assert(out("b") === ((2L, 1L, 0L)))
  }

  test("Profile.profile: one-row aggregate, exact stats, null handling") {
    val df = Seq(
      (1L, Some("a"), Some(10)),
      (2L, Some("b"), None),
      (3L, None, Some(30)),
      (4L, Some("a"), Some(10))
    ).toDF("id", "s", "v")
    val p = Profile.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(1) === 4L && p("id").getLong(2) === 4L &&
      p("id").getLong(3) === 4L && p("id").getString(4) === "1" &&
      p("id").getString(5) === "4")
    assert(p("s").getLong(2) === 3L && p("s").getLong(3) === 2L &&
      p("s").getString(4) === "a" && p("s").getString(5) === "b")
    assert(p("v").getLong(2) === 3L && p("v").getLong(3) === 2L)
    // all-null column: zero nonnull/distinct, null min/max
    val alln = Profile.profile(
      Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
        .toDF("id", "s"), Seq("s")).head()
    assert(alln.getLong(2) === 0L && alln.getLong(3) === 0L &&
      alln.isNullAt(4) && alln.isNullAt(5))
  }

  test("bm25Search: tf saturation, length normalization, rare-term idf, no exchange") {
    val corpus = Seq(
      (1L, ("spark " * 5 + "filler " * 45).trim), // stuffed AND long: dl=50
      (2L, "spark merge"),                        // short doc, both terms
      (3L, "spark filler"),                       // short doc, one term
      (4L, "filler filler filler filler filler"), // no terms
      (5L, "merge")                               // rare term only
    ).toDF("doc_id", "text")
    val out = Corpus.bm25Search(corpus, "doc_id", "text",
      terms = Seq("spark", "merge"), topK = 10)
    val ranked = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    // doc 4 scores 0 and is dropped
    assert(!ranked.map(_._1).contains(4L))
    // doc 2 (both terms, short) beats everything; 3 (one common term,
    // short) beats 1 (term-stuffed but long: tf saturates, length norm
    // penalizes)
    val pos = ranked.map(_._1).zipWithIndex.toMap
    assert(pos(2L) === 0)
    assert(pos(3L) < pos(1L))
    // rare term (merge: df=2) outscores common term (spark: df=3) at tf=1
    // and equal length: docs 5 vs 3's spark summand — compare via scores
    assert(ranked.toMap.apply(5L) > 0L)
    // the top-k is a distributed TakeOrdered (each partition offers its k
    // best), never a global sort exchange — and scoring adds no exchange
    // of its own (asserted on the parquet-backed corpus: a local-relation
    // fixture constant-folds into a LocalTableScan and proves nothing)
    val plan = Corpus.bm25Search(docs, "doc_id", "text", Seq("spark"), 3)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), plan)
    // deterministic across partitionings
    val rep = Corpus.bm25Search(corpus.repartition(7), "doc_id", "text",
      Seq("spark", "merge"), 10).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rep.sameElements(ranked))
  }

  test("Profile.quantiles: exact index selection, nulls excluded, duplicate-heavy data") {
    val df = spark.range(100).select(col("id").cast("double").as("v"))
      .unionByName(Seq(null.asInstanceOf[java.lang.Double]).map(Option(_).map(_.toDouble))
        .toDF("v"))
    val q = Profile.quantiles(df, "v", Seq(0.0, 0.5, 1.0)).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(q === Map(0.0 -> 0.0, 0.5 -> 49.0, 1.0 -> 99.0)) // floor(0.5*99)=49
    // heavy duplication: selection is by index into the sorted multiset
    val dup = (Seq.fill(90)(1.0) ++ Seq.fill(10)(100.0)).toDF("v")
    val q2 = Profile.quantiles(dup, "v", Seq(0.5, 0.95)).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(q2 === Map(0.5 -> 1.0, 0.95 -> 100.0))
  }

  test("tokenDrift: ~zero on identical corpora, positive on shifted, deterministic") {
    val a = Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma delta")).toDF("id", "text")
    val same = Corpus.tokenDrift(a, a, "text", vocab = 50)
      .select("kl_ab", "kl_ba").as[(Double, Double)].head()
    // identical distributions: every per-token grid term is 0 or -1e-6
    assert(math.abs(same._1) < 1e-4 && math.abs(same._2) < 1e-4, same)
    val b = Seq((1L, "omega omega omega psi"), (2L, "omega psi chi")).toDF("id", "text")
    val diff = Corpus.tokenDrift(a, b, "text", vocab = 50)
      .select("kl_ab", "kl_ba").as[(Double, Double)].head()
    assert(diff._1 > 0.1 && diff._2 > 0.1, diff)
    // deterministic across partitionings
    val rep = Corpus.tokenDrift(a.repartition(5), b.repartition(3), "text", vocab = 50)
      .select("kl_ab", "kl_ba").as[(Double, Double)].head()
    assert(rep === diff)
  }

  test("canonicalizeUrl: case, www, default ports, tracking params, fragments") {
    val cases = Seq(
      ("HTTP://Example.COM:80/Path/X?utm_source=a&id=1#frag", "http://example.com/Path/X?id=1"),
      ("https://www.Example.com:443/a", "https://example.com/a"),
      ("https://site.org/p?utm_a=1&utm_b=2", "https://site.org/p"),
      ("https://site.org/p?id=1&gclid=xyz", "https://site.org/p?id=1"),
      ("https://site.org:8443/p", "https://site.org:8443/p"), // non-default port kept
      // params whose names merely CONTAIN a tracking name survive intact
      ("https://site.org/p?a=1&myfbclid=2", "https://site.org/p?a=1&myfbclid=2"),
      ("https://site.org/p?fbclid=x&a=1&utm_x=2&b=2", "https://site.org/p?a=1&b=2"),
      ("relative/path", ""), // non-absolute -> empty
      (null.asInstanceOf[String], "")
    )
    val got = cases.map(_._1).toDF("url")
      .select(Corpus.canonicalizeUrl(col("url"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g === e) }

    // URL dedup keeps the lowest id per canonical key
    val docs = Seq(
      (1L, "https://www.a.com/x?utm_c=1"),
      (2L, "https://a.com/x"),
      (3L, "HTTPS://A.com/x#f"),
      (4L, "https://a.com/y")
    ).toDF("doc_id", "url")
    assert(Corpus.dedupByUrl(docs, "doc_id", "url")
      .select("doc_id").as[Long].collect().sorted.sameElements(Array(1L, 4L)))
  }

  test("scriptProfile: per-script counts, dominant label, und on letterless text") {
    val rows = Seq(
      (1L, "hello world"),
      (2L, "Привет мир"),
      (3L, "你好世界"),
      (4L, "مرحبا"),
      (5L, "123 !!!"),
      (6L, "hi Привет мир") // cyrillic outnumbers latin
    ).toDF("doc_id", "text")
      .select(col("doc_id"), Text.scriptProfile(col("text")).as("sp"))
      .select(col("doc_id"), col("sp.latin"), col("sp.cyrillic"), col("sp.han"),
        col("sp.arabic"), col("sp.letters"), col("sp.script"))
      .as[(Long, Long, Long, Long, Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows(1L) === ((1L, 10L, 0L, 0L, 0L, 10L, "latin")))
    assert(rows(2L) === ((2L, 0L, 9L, 0L, 0L, 9L, "cyrillic")))
    assert(rows(3L) === ((3L, 0L, 0L, 4L, 0L, 4L, "han")))
    assert(rows(4L)._7 === "arabic" && rows(4L)._5 === 5L)
    assert(rows(5L)._7 === "und" && rows(5L)._6 === 0L)
    assert(rows(6L)._7 === "cyrillic")
  }

  test("chunkDocs: sliding windows cover every token, tails included") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "x y"),                 // shorter than one chunk
      (3L, "")                     // empty -> no chunks
    ).toDF("doc_id", "text")
    val out = Corpus.chunkDocs(corpus, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "chunk", "n_chunk_tokens")
      .as[(Long, Long, String, Long)].collect()
    // stride 3: starts 0,3,6 -> [a..d],[d..g],[g..j]; doc 2 yields itself
    assert(out.toSeq === Seq(
      (1L, 0L, "a b c d", 4L), (1L, 1L, "d e f g", 4L), (1L, 2L, "g h i j", 4L),
      (2L, 0L, "x y", 2L)))

    // invariant on the real corpus: chunk tokens sum to n + overlap*(chunks-1)
    // per doc — every token appears, overlaps counted exactly once extra
    val docs2 = docs.filter(col("doc_id") < 200) // limit() would inject its own exchange
    val chunked = Corpus.chunkDocs(docs2, "doc_id", "text", chunkTokens = 40, overlap = 8)
    val perDoc = chunked.groupBy("doc_id")
      .agg(sum("n_chunk_tokens").as("s"), count(lit(1)).as("k"))
    val base = docs2.select(col("doc_id"),
      Text.tokenCount(col("text")).cast("bigint").as("n"))
    val bad = perDoc.join(base, "doc_id")
      .filter(col("s") =!= col("n") + lit(8) * (col("k") - 1))
    assert(bad.count() === 0)
    // map-only plan: explode, no Exchange
    val plan = chunked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("packed shards round-trip through the sharded training sink") {
    val withTokens = docs.select(col("doc_id"), col("text"),
      Text.tokenCount(col("text")).cast("bigint").as("n_tokens"))
    val packed = Corpus.packShards(withTokens, "doc_id", "n_tokens", budget = 2000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-").toString
    Export.toShardedNdjson(packed, "shard", dir)
    // one shard=N directory per shard, each with a single data file
    val shardDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length === packed.select("shard").distinct().count())
    shardDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.startsWith("part-")) === 1, d.getName)
    }
    // read-back equals the packed frame (shard comes back from the dir name)
    val back = spark.read.json(dir)
      .select(col("doc_id"), col("n_tokens"), col("shard").cast("long").as("shard"))
    assertSameRows(back, packed.select("doc_id", "n_tokens", "shard"))
  }

  // ----------------------------------------------------------- repetition

  test("repetition kernel is bit-equal to the explode-based spelling on the corpus") {
    val kernel = docs.select(col("doc_id"), Corpus.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.top2").as("top2"), col("r.dup3").as("dup3"))
    val spec = Corpus.repetitionStatsExploded(docs, "doc_id", "text")
    assertSameRows(kernel, spec) // exact, not approximate: same doubles
  }

  test("repetition stats: hand-computed edge cases") {
    def stats(s: String): (Double, Double) = {
      val r = Seq(s).toDF("t").select(Corpus.repetitionStats(col("t")).as("r"))
        .select(col("r.top2"), col("r.dup3")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    assert(stats("") === ((0.0, 0.0)))
    assert(stats("one") === ((0.0, 0.0)))             // < 2 tokens
    // "a b": single bigram "a b" (len 3), denom 3 -> top2 = 1.0; < 3 tokens
    assert(stats("a b") === ((1.0, 0.0)))
    // "x y x y x": bigrams [x y, y x, x y, y x] -> top "x y" (tie broken
    // lexicographically SMALLER), count 2, len 3, denom 9 -> 6/9
    // trigrams [x y x, y x y, x y x] -> "x y x" twice, covered 2*5=10 -> 10/9
    val (t2, d3) = stats("x y x y x")
    assert(t2 === 6.0 / 9.0 && d3 === 10.0 / 9.0)
    // case/whitespace normalization: tabs+case fold into the same tokens —
    // toks [a,a,a], bigrams ["a a","a a"] count 2 len 3, denom 5 -> 6/5;
    // the single trigram can't duplicate
    assert(stats("A  a\ta") === ((6.0 / 5.0, 0.0)))
  }

  test("repetition kernel is map-only") {
    val plan = docs.select(Corpus.repetitionStats(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ------------------------------------------------------------ scrubbing

  test("scrubPii masks emails, phones, and IPv4s; leaves clean text alone") {
    val in = Seq(
      "write bob.smith+x@corp.example.org today",
      "call +1 (555) 123-4567 or 555 987 6543 now",
      "host 192.168.0.1 and 10.0.0.255 respond",
      "plain words with numbers 42 and 7 survive",
      "v1.2.3 is not an ip, nor is 1.2.3.4.5 fully one"
    ).toDF("t")
    val out = in.select(Corpus.scrubPii(col("t")).as("s")).as[String].collect()
    assert(out(0) === "write <EMAIL> today")
    assert(out(1) === "call <PHONE> or <PHONE> now")
    assert(out(2) === "host <IP> and <IP> respond")
    assert(out(3) === "plain words with numbers 42 and 7 survive")
    // 1.2.3.4.5: the \b-anchored quad matches its prefix — documented
    // behavior of the conservative regex (no lookahead, RE2-compatible)
    assert(out(4).startsWith("v1.2.3 is not an ip"))
    val plan = in.select(Corpus.scrubPii(col("t")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // -------------------------------------------------------------- splitting

  test("splitCorpus: exhaustive, deterministic, partitioning-invariant, salt-sensitive") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Corpus.splitCorpus(docs, "doc_id", splits, salt = 7L)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every row assigned to exactly one of the named splits
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(a.size === docs.count())
    // proportions in the right ballpark (hash is unbiased; fixture is small)
    val frac = a.values.count(_ == "train").toDouble / a.size
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
    // partitioning cannot change any assignment
    val b = Corpus.splitCorpus(docs.repartition(13, col("lang")), "doc_id", splits, salt = 7L)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    // a different salt draws a different split
    val c = Corpus.splitCorpus(docs, "doc_id", splits, salt = 8L)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a !== c)
    // map-only
    val plan = Corpus.splitCorpus(docs, "doc_id", splits)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // duplicate names / non-positive weights refused
    intercept[IllegalArgumentException] {
      Corpus.splitCorpus(docs, "doc_id", Seq("a" -> 1.0, "a" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Corpus.splitCorpus(docs, "doc_id", Seq("a" -> 0.0))
    }
  }

  // ---------------------------------------------------------- top n-grams

  test("topNgrams: corpus vs per-document counts, deterministic ties") {
    val in = Seq(
      (1L, "a b a b"),   // grams: "a b","b a","a b"
      (2L, "a b"),       // gram: "a b"
      (3L, "z")          // short doc: single gram "z"
    ).toDF("doc_id", "text")
    val top = Corpus.topNgrams(in, "text", n = 2, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(top.head === ("a b" -> 3L))
    assert(top.toMap === Map("a b" -> 3L, "b a" -> 1L, "z" -> 1L))
    // per-document frequency counts each gram once per doc
    val df = Corpus.topNgrams(in, "text", n = 2, k = 10, perDocument = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df === Map("a b" -> 2L, "b a" -> 1L, "z" -> 1L))
    // ties order by gram string: k=2 must take "a b" then "b a"
    val top2 = Corpus.topNgrams(in, "text", n = 2, k = 2)
      .collect().map(_.getString(0)).toSeq
    assert(top2 === Seq("a b", "b a"))
  }

  // --------------------------------------------------------- domain filter

  test("filterByDomain: suffix blocklist, parent domains, unparseable drop") {
    val in = Seq(
      (1L, "https://en.wikipedia.org/wiki/Spark"),
      (2L, "https://ads.spam.example/banner"),   // blocked via parent
      (3L, "https://spam.example/index"),        // blocked exactly
      (4L, "HTTPS://SPAM.EXAMPLE/shout"),        // case-insensitive host
      (5L, "not a url at all"),                  // unparseable -> dropped
      (6L, "https://example.net/ok"),
      (7L, "https://notspam.example.net/ok"),    // example.net NOT blocked; suffix match is label-aligned
      (8L, "HTTPS://GOOD.Example.ORG/page")      // scheme case-insensitive (RFC 3986): parses, kept
    ).toDF("doc_id", "url")
    val kept = Corpus.filterByDomain(in, "doc_id", "url", Seq("spam.example", "ads.net"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 6L, 7L, 8L))
  }

  // -------------------------------------------------- hashed linear scorer

  test("scoreHashedLinear: bag-of-words logit — multiplicity, bias, map-only") {
    val w = (0 until 16).map(i => (i - 8) / 1024.0)
    val in = Seq((1L, "alpha"), (2L, "alpha alpha"), (3L, ""), (4L, "  ")).toDF("id", "t")
    val got = in.select(col("id"),
      Corpus.scoreHashedLinear(col("t"), w, bias = 0.5).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // blank text scores exactly the bias
    assert(got(3L) === 0.5 && got(4L) === 0.5)
    // token multiplicity: doubled token moves the logit twice as far
    assert(got(2L) - 0.5 === 2 * (got(1L) - 0.5))
    // dyadic weights: the logit is an exact multiple of 2^-10 over the bias
    assert(((got(1L) - 0.5) * 1024).isWhole)
    // map-only plan, and partitioning cannot change the score
    val big = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = big.select(col("doc_id"), Corpus.scoreHashedLinear(col("text"), w).as("s"))
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"))
    val b = big.repartition(13).select(col("doc_id"),
      Corpus.scoreHashedLinear(col("text"), w).as("s"))
    assertSameRows(a.orderBy("doc_id"), b.orderBy("doc_id"), ordered = true)
  }

  // ----------------------------------------------------------- line dedup

  test("dedupLines removes corpus-duplicated lines, keeps short/unique ones") {
    val in = Seq(
      (1L, "unique alpha line\nSHARED BOILERPLATE LINE\nok\nunique beta line"),
      (2L, "SHARED BOILERPLATE LINE\nok\nanother original thought"),
      (3L, "SHARED BOILERPLATE LINE"),
      (4L, "totally original document"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupLines(in, "doc_id", "text", minDocs = 2, minLineChars = 6)
      .select("doc_id", "text", "removed_lines")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // the >=6-char line shared by docs 1,2,3 is removed everywhere
    assert(out(1L) === (("unique alpha line\nok\nunique beta line", 1L)))
    // "ok" is shared by 1 and 2 but below minLineChars: kept
    assert(out(2L) === (("ok\nanother original thought", 1L)))
    // a doc reduced to nothing becomes the empty string
    assert(out(3L) === (("", 1L)))
    assert(out(4L) === (("totally original document", 0L)))
    assert(out(5L) === (("", 0L)))
  }

  test("dedupLines map-only rewrite: no Exchange, and both paths agree") {
    val base = docs.select(col("doc_id"),
      regexp_replace(col("text"), " the ", "\n").as("text"))
    val small = Corpus.dedupLines(base, "doc_id", "text")
    // the returned (small-path) frame is scan + project — the corpus text
    // never shuffles; only the detection aggregation (already executed)
    // paid a hash-width shuffle
    val plan = small.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the explode -> anti-join -> regroup fallback computes the same corpus
    val big = Corpus.dedupLines(base, "doc_id", "text", collectMaxLines = 0L)
    assertSameRows(
      small.select("doc_id", "text", "removed_lines").orderBy("doc_id"),
      big.select("doc_id", "text", "removed_lines").orderBy("doc_id"))
    // and something was actually removed in this fixture
    assert(small.agg(sum("removed_lines")).head().getLong(0) > 0)
  }

  test("dedupLines is a no-op pass-through when nothing repeats") {
    val in = Seq((1L, "only one\ndocument here")).toDF("doc_id", "text")
    val out = Corpus.dedupLines(in, "doc_id", "text")
    assertSameRows(out.select("doc_id", "text"), in)
    assert(out.select("removed_lines").head().getLong(0) === 0L)
  }

  // ---------------------------------------------------- n-gram LM scoring

  /** Independent plain-Scala reference of train + score (same formulas,
    * different execution path — driver loops vs Catalyst expressions). */
  private def refNgramScore(
      train: Seq[String],
      doc: String,
      alpha: Double = 0.4
  ): (Long, Double) = {
    def toks(s: String) = s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val all = train.flatMap(toks)
    val uni = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bi = train
      .flatMap { t => val ts = toks(t); ts.zip(ts.drop(1)).map { case (a, b) => (a, b) } }
      .groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val (n, v) = (all.size.toLong, uni.size.toLong)
    val ts = toks(doc)
    val lps = ts.zipWithIndex.map { case (tok, i) =>
      val p1 = (uni.getOrElse(tok, 0L) + 1).toDouble / (n + v).toDouble
      val p =
        if (i == 0) p1
        else bi.get((ts(i - 1), tok)) match {
          case Some(c2) => c2.toDouble / uni(ts(i - 1))
          case None     => alpha * p1
        }
      math.floor(math.log(p) * 1000000.0).toLong
    }
    (ts.size.toLong, (lps.sum * -1L).toDouble / 1000000.0 / ts.size)
  }

  test("ngram LM: backoff paths match an independent reference, incl. OOV docs") {
    val train = Seq(
      "the cat sat on the mat",
      "the cat ate the fish",
      "a dog sat on a log"
    )
    val lm = Corpus.trainNgramLm(train.zipWithIndex.map(_.swap).toDF("id", "text"), "text")
    assert(lm.n === 17L)
    assert(lm.v === train.flatMap(_.split(" ")).distinct.size.toLong)
    val score = Seq(
      (0L, "the cat sat on the mat"), // all bigrams seen
      (1L, "the dog ate a fish"), // unseen bigrams -> backoff
      (2L, "quantum flux capacitor"), // fully OOV -> add-one unigrams
      (3L, "the") // single token: unigram path only
    ).toDF("id", "text")
    val got = Corpus
      .scoreNgramLm(score, "id", "text", lm)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    for ((id, doc) <- Seq(0L -> "the cat sat on the mat", 1L -> "the dog ate a fish",
        2L -> "quantum flux capacitor", 3L -> "the"))
      assert(got(id) === refNgramScore(train, doc), s"doc $id")
    // fluent-under-the-model text scores LOWER than OOV noise
    assert(got(0L)._2 < got(2L)._2)
  }

  test("ngram LM: scoring is partitioning-invariant and empty docs are skipped") {
    val lm = Corpus.trainNgramLm(docs, "text")
    val withEmpty = docs
      .select(col("doc_id"), when(col("doc_id") === 0L, lit("   ")).otherwise(col("text")).as("text"))
    val a = Corpus.scoreNgramLm(withEmpty, "doc_id", "text", lm)
    val b = Corpus.scoreNgramLm(withEmpty.repartition(7), "doc_id", "text", lm)
    assertSameRows(a.orderBy("doc_id"), b.orderBy("doc_id"))
    assert(!a.select("doc_id").as[Long].collect().contains(0L))
  }

  // ------------------------------------------------------ sequence packing

  test("packSequences: fixed-length cuts across document boundaries") {
    val in = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d", "e")),
      (3L, Seq.empty[String]),
      (4L, Seq("f"))
    ).toDF("doc_id", "toks").repartition(3)
    val got = Corpus.packSequences(in, "doc_id", "toks", seqLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2))).sortBy(_._1)
    assert(got === Seq(
      (0L, 2L, Seq("a", "b")), (1L, 2L, Seq("c", "d")), (2L, 2L, Seq("e", "f"))))
    val rem = Corpus.packSequences(in, "doc_id", "toks", seqLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2))).sortBy(_._1)
    assert(rem === Seq((0L, 4L, Seq("a", "b", "c", "d")), (1L, 2L, Seq("e", "f"))))
    assert(Corpus.packSequences(in.limit(0), "doc_id", "toks", 4).count() === 0)
  }

  test("packSequences equals the naive token-explode spelling; partitioning-invariant") {
    val docsT = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    def shape(df: DataFrame) = df.select(
      col("seq_id"), col("n_tokens"), array_join(col("token_ids"), " ").as("seq_text"))
    val fast = shape(Corpus.packSequences(docsT, "doc_id", "toks", seqLen = 100))
    val naive = docsT
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "tok")))
      .withColumn("off",
        row_number().over(Window.orderBy(col("doc_id"), col("i"))).cast("long") - 1)
      .withColumn("seq_id", expr("off div 100"))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("off"), col("tok")))),
            x => x.getField("tok")),
          " ").as("seq_text"))
      .select(col("seq_id"), col("n_tokens"), col("seq_text"))
    assertSameRows(fast.orderBy("seq_id"), naive.orderBy("seq_id"))
    val repart = shape(
      Corpus.packSequences(docsT.repartition(7), "doc_id", "toks", seqLen = 100))
    assertSameRows(fast.orderBy("seq_id"), repart.orderBy("seq_id"))
  }

  test("full tokenizer loop: BPE ids -> packSequences -> bin shards -> identical stream") {
    val model = Corpus.trainBpe(docs, "text", numMerges = 30)
    val ids = Corpus.encodeBpeIds(docs, "doc_id", "text", model)
    val seqs = Corpus.packSequences(ids, "doc_id", "token_ids", seqLen = 256)
    val dir = java.nio.file.Files.createTempDirectory("graft-tokloop-").toString
    // one shard per 4 sequences, then the bin files must replay the exact
    // global token stream the per-doc encoder produced
    Export.toTokenBinShards(
      seqs.withColumn("shard", expr("seq_id div 4")),
      "shard", "seq_id", "token_ids", dir)
    val expected = ids.orderBy("doc_id")
      .select("token_ids").as[Seq[Int]].collect().flatten.toSeq
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard="))
      .sortBy(f => f.getName.stripPrefix("shard=").toLong)
    val got = shardDirs.flatMap { d =>
      val bytes = java.nio.file.Files.readAllBytes(d.toPath.resolve("tokens.bin"))
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until bytes.length / 4).map(_ => bb.getInt)
    }.toSeq
    assert(got === expected)
  }

  // ----------------------------------------------------------- span dedup

  test("dedupSpans: corpus-duplicated windows keep first occurrence, cut elsewhere") {
    // shared 4-token span "w x y z" at doc 1 pos 0 and doc 2 pos 2 (stride-
    // aligned); doc 3 repeats its own first window in-doc; doc 4 too short
    val in = Seq(
      (1L, "w x y z tail one two"),
      (2L, "pre amble w x y z end"),
      (3L, "a b c d a b c d"),
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = Corpus.dedupSpans(in, "doc_id", "text", windowTokens = 4, stride = 2)
      .select("doc_id", "text", "removed_tokens")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1: first occurrence keeps everything
    assert(out(1L) === (("w x y z tail one two", 0L)))
    // doc 2: the shared window (start 2) is cut; "pre amble" and "end" stay
    assert(out(2L) === (("pre amble end", 4L)))
    // doc 3: "a b c d" at start 4 duplicates start 0 -> second one cut
    assert(out(3L) === (("a b c d", 4L)))
    // doc 4: shorter than the window, untouched (whitespace-normalized)
    assert(out(4L) === (("tiny doc", 0L)))
  }

  test("dedupSpans is partitioning-invariant and a no-op without duplication") {
    val base = docs.select(col("doc_id"), col("text"))
    val a = Corpus.dedupSpans(base, "doc_id", "text", windowTokens = 20, stride = 10)
    val b = Corpus.dedupSpans(base.repartition(7), "doc_id", "text", windowTokens = 20, stride = 10)
    assertSameRows(a.orderBy("doc_id"), b.orderBy("doc_id"))
    assert(a.agg(sum("removed_tokens")).head().getLong(0) > 0,
      "fixture should contain duplicated spans")
    val unique = Seq((1L, "all distinct tokens here never repeated anywhere else"))
      .toDF("doc_id", "text")
    val u = Corpus.dedupSpans(unique, "doc_id", "text", windowTokens = 4, stride = 2).head()
    assert(u.getAs[String]("text") === "all distinct tokens here never repeated anywhere else")
    assert(u.getAs[Long]("removed_tokens") === 0L)
  }

  // ------------------------------------------------------- DSIR selection

  /** Independent JVM replication of the portable 31-bit hash (MessageDigest
    * vs Spark's md5 expression). */
  private def refHash31(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 2147483647L
  }

  private def refDsirFeatures(text: String, buckets: Int): Seq[Int] = {
    val ts = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val uni = ts.map(t => (refHash31(t) % buckets).toInt)
    val bi = ts.zip(ts.drop(1)).map { case (a, b) => (refHash31(a + " " + b) % buckets).toInt }
    uni ++ bi
  }

  test("DSIR: scores match an independent reference; target-like text wins; empty docs 0") {
    val targetTexts = Seq("apple banana apple banana", "banana cherry apple")
    val rawTexts = targetTexts ++ Seq("zebra yak walrus zebra", "yak walrus yak zebra walrus")
    val target = targetTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val raw = rawTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val buckets = 64
    val m = Corpus.trainDsir(target, raw, "text", buckets)
    // reference weights from reference features
    val tCounts = Array.fill(buckets)(0L)
    targetTexts.flatMap(refDsirFeatures(_, buckets)).foreach(b => tCounts(b) += 1)
    val rCounts = Array.fill(buckets)(0L)
    rawTexts.flatMap(refDsirFeatures(_, buckets)).foreach(b => rCounts(b) += 1)
    val (nt, nr) = (tCounts.sum, rCounts.sum)
    val refW = Array.tabulate(buckets) { b =>
      math.floor(1000000.0 * (math.log((tCounts(b) + 1.0) / (nt + buckets.toDouble)) -
        math.log((rCounts(b) + 1.0) / (nr + buckets.toDouble)))).toLong
    }
    assert(m.weights.toSeq === refW.toSeq)
    val scoreDf = raw.union(Seq((9L, "   ")).toDF("id", "text"))
    val got = Corpus.scoreDsir(scoreDf, "id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((t, i) <- rawTexts.zipWithIndex) {
      val expect = refDsirFeatures(t, buckets).map(refW(_)).sum.toDouble / 1000000.0
      assert(got(i.toLong) === expect, s"doc $i")
    }
    assert(got(0L) > got(2L), "target-like text must outscore off-target text")
    assert(got(9L) === 0.0)
  }

  test("DSIR scoring is map-only: no Exchange in the plan") {
    val m = Corpus.DsirModel(Array.tabulate(64)(i => (i - 32) * 1000L))
    val plan = Corpus.scoreDsir(docs, "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("DSIR resampling: k-bounded, partitioning-invariant, salt-sensitive") {
    val m = Corpus.trainDsir(docs.filter(col("source") === "src0"), docs, "text", buckets = 256)
    def ids(df: DataFrame) = df.select("doc_id").as[Long].collect().toSeq
    val a = ids(Corpus.resampleDsir(docs, "doc_id", "text", m, k = 50))
    val b = ids(Corpus.resampleDsir(docs.repartition(9), "doc_id", "text", m, k = 50))
    assert(a === b)
    assert(a.size === 50 && a.distinct.size === 50)
    val c = ids(Corpus.resampleDsir(docs, "doc_id", "text", m, k = 50, salt = 1L))
    assert(c.toSet !== a.toSet, "salt must change the Gumbel draw")
  }

  // -------------------------------------------------------- BPE tokenizer

  test("BPE: hand-verified training on a tiny vocab (ties break lexicographically)") {
    // vocab: "aa" x3 = [a,a,</w>], "ab" x1 = [a,b,</w>]
    // round 1: (a,a)=3 ties (a,</w>)=3 -> lex smallest ("a","</w>") wins
    //          ("</w>" < "a"); "aa" becomes [a, a</w>]
    // round 2: (a,a</w>)=3 beats (a,b)=1, (b,</w>)=1
    val docs = Seq((0L, "aa aa aa ab")).toDF("id", "text")
    val model = Corpus.trainBpe(docs, "text", numMerges = 2)
    assert(model.merges === Seq(("a", "</w>"), ("a", "a</w>")))
    val got = Corpus.applyBpe(docs, "id", "text", model)
      .select("pieces").as[Seq[String]].head()
    assert(got === Seq("aa</w>", "aa</w>", "aa</w>", "a", "b", "</w>"))
  }

  test("packSequences doc_starts: boundary offsets per sequence, none for pure continuation") {
    // docs of 3, 5, 4 tokens packed at seqLen 4:
    // global stream offsets: d1 [0,3), d2 [3,8), d3 [8,12)
    // seq 0 = [0,4): starts d1@0, d2@3 ; seq 1 = [4,8): continuation only
    // seq 2 = [8,12): starts d3@0
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("d", "e", "f", "g", "h")),
      (3L, Seq("i", "j", "k", "l"))
    ).toDF("id", "toks")
    val got = Corpus.packSequences(df, "id", "toks", seqLen = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](2), r.getSeq[Long](3)))
      .toMap
    assert(got(0L) === (Seq("a", "b", "c", "d"), Seq(0L, 3L)))
    assert(got(1L) === (Seq("e", "f", "g", "h"), Seq.empty[Long]))
    assert(got(2L) === (Seq("i", "j", "k", "l"), Seq(0L)))
  }

  test("filterLines: word-count and alpha-fraction rules per line, map-only") {
    val df = Seq(
      (1L, "Home\nthe prose line survives here\n1 2 3 4\n$$$ xx yy zz"),
      (2L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = Corpus.filterLines(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'Home' = 1 word (drop); numbers row alpha 0 (drop); '$$$ xx yy zz' =
    // 4 words, 3 alpha = 0.75 (keep); prose keeps; null text -> ''
    assert(got(1L) === "the prose line survives here\n$$$ xx yy zz")
    assert(got(2L) === "")
    val shuffles = Corpus.filterLines(df, "id", "text")
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(shuffles.isEmpty)
  }

  test("dedupLinesInDoc: keep-first per doc, short lines always pass, map-only") {
    val df = Seq(
      (1L, "HEADER LINE\nbody one.\nHEADER LINE\nbody two.\nHEADER LINE"),
      (2L, "a\nb\na\nb\na"), // short lines: all kept
      (3L, null.asInstanceOf[String]),
      (4L, "only line")
    ).toDF("id", "text")
    val got = Corpus.dedupLinesInDoc(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "HEADER LINE\nbody one.\nbody two.")
    assert(got(2L) === "a\nb\na\nb\na")
    assert(got(3L) === "") // null text -> empty, not NPE
    assert(got(4L) === "only line")
    // map-only plan
    val shuffles = Corpus.dedupLinesInDoc(df, "id", "text")
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(shuffles.isEmpty)
  }

  test("chunkSentences: windows with overlap, tail covered, terminators kept") {
    val df = Seq(
      (1L, "One. Two! Three? Four. Five."),
      (2L, "No terminator here"),
      (3L, ""),
      (4L, "Single.")
    ).toDF("id", "text")
    val got = Corpus.chunkSentences(df, "id", "text", maxSentences = 3, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.filter(_._1 == 1L) === Seq(
      (1L, 0L, "One. Two! Three?", 3L),
      (1L, 1L, "Three? Four. Five.", 3L)))
    // terminator-less text is one sentence; empty text yields no chunks
    assert(got.filter(_._1 == 2L) === Seq((2L, 0L, "No terminator here", 1L)))
    assert(!got.exists(_._1 == 3L))
    assert(got.filter(_._1 == 4L) === Seq((4L, 0L, "Single.", 1L)))
    // every sentence of a long doc appears in at least one chunk
    val long = Seq((9L, (1 to 10).map(i => s"S$i.").mkString(" "))).toDF("id", "text")
    val chunks = Corpus.chunkSentences(long, "id", "text", maxSentences = 4, overlap = 2)
      .select("chunk").as[String].collect()
    (1 to 10).foreach(i => assert(chunks.exists(_.contains(s"S$i.")), s"S$i missing"))
  }

  test("naive Bayes classifier: separates vocabularies, OOV neutral-ish, empty doc = prior") {
    val train = Seq(
      (1L, "good clean prose with substance and depth", true),
      (2L, "more good prose with clarity and substance", true),
      (3L, "spam junk buy now cheap deal", false),
      (4L, "junk spam cheap clicks now", false)
    ).toDF("id", "text", "lbl")
    val model = Corpus.trainNaiveBayes(train, "text", "lbl")
    val test = Seq(
      (10L, "clean prose with depth"),
      (11L, "cheap spam deal now"),
      (12L, "") // no tokens: score = prior only (balanced classes -> ~0)
    ).toDF("id", "text")
    val got = Corpus.scoreNaiveBayes(test, "id", "text", model)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(got(10L)._2 === true, s"positive vocab must classify positive: ${got(10L)}")
    assert(got(11L)._2 === false, s"negative vocab must classify negative: ${got(11L)}")
    assert(math.abs(got(12L)._1) < 0.01, s"empty doc scores the prior: ${got(12L)}")
    assert(got(10L)._1 > got(11L)._1)
    // determinism across partitionings
    val again = Corpus.scoreNaiveBayes(test.repartition(7), "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === got.map { case (k, (s, _)) => k -> s })
    model.unpersist()
  }

  test("temperatureSample: alpha<1 flattens the mix toward low-resource sources") {
    // 900 docs from 'big', 100 from 'small' — proportional sampling keeps
    // 9:1; sqrt-temperature keeps 3:1 (sqrt(900):sqrt(100))
    val df = (0L until 1000L).map(i =>
      (i, if (i < 900) "big" else "small")).toDF("id", "source")
    val kept = Corpus.temperatureSample(df, "id", "source", budgetDocs = 200L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val big = kept.getOrElse("big", 0L).toDouble
    val small = kept.getOrElse("small", 0L).toDouble
    assert(small > 0, "low-resource source must survive")
    val ratio = big / small
    assert(ratio > 1.5 && ratio < 6.0, s"expect ~3:1 mix, got $ratio ($kept)")
    assert(math.abs(big + small - 200.0) < 60.0, s"expected ~200 kept, got ${big + small}")
    // deterministic: same inputs, same sample
    val again = Corpus.temperatureSample(df, "id", "source", budgetDocs = 200L)
      .select("id").as[Long].collect().sorted.toSeq
    val first = Corpus.temperatureSample(df, "id", "source", budgetDocs = 200L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(again === first)
    // alpha = 1 degenerates to proportional sampling
    val prop = Corpus.temperatureSample(df, "id", "source", budgetDocs = 200L, alpha = 1.0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pRatio = prop.getOrElse("big", 0L).toDouble / math.max(1.0, prop.getOrElse("small", 0L).toDouble)
    assert(pRatio > ratio, s"alpha=1 must be more head-heavy: $pRatio vs $ratio")
  }

  test("gopherRules: each rule trips on its own fixture; null text is the empty doc") {
    val goodBody = ("the data pipeline reads records and that process must have " +
      "finished with clean results before the next stage starts to consume them " +
      "because every batch of rows needs to be checked once more against the " +
      "expected totals that auditors have published with care and every worker " +
      "will then confirm the final ledger is complete before it reports back").trim
    val rows = Seq(
      (1L, goodBody), // passes every rule
      (2L, "short text"), // n_words < 50
      (3L, Seq.fill(60)("#").mkString(" ")), // symbol ratio 1.0, no letters
      (4L, (1 to 60).map(i => s"- bullet $i").mkString("\n")), // all bullet lines
      (5L, (1 to 60).map(i => s"trailing thought $i...").mkString("\n")), // ellipsis lines
      (6L, Seq.fill(60)("zq").mkString(" ")), // no stopwords (alpha fine)
      (7L, null.asInstanceOf[String]) // null text = empty doc
    ).toDF("id", "text")
    val got = Corpus.gopherRules(rows, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(8) === true, got(1L).toString)
    assert(got(2L).getBoolean(8) === false && got(2L).getLong(1) === 2L)
    assert(got(3L).getBoolean(8) === false && got(3L).getDouble(3) === 1.0 &&
      got(3L).getDouble(6) === 0.0)
    assert(got(4L).getBoolean(8) === false && got(4L).getDouble(4) === 1.0)
    assert(got(5L).getBoolean(8) === false && got(5L).getDouble(5) === 1.0)
    assert(got(6L).getBoolean(8) === false && got(6L).getLong(7) === 0L)
    assert(got(7L).getBoolean(8) === false && got(7L).getLong(1) === 0L &&
      !got(7L).isNullAt(8), "null text must yield a definite verdict")
  }

  test("contaminationScore: exact gram-position fractions; benchmark docs score 1.0") {
    val docs = Seq(
      (0L, "a b c d e f g h i j"), // the benchmark doc (3 8-grams)
      (1L, "a b c d e f g h x y"), // shares exactly gram positions 0 of 3
      (2L, "p q r s t u v w x y"), // disjoint
      (3L, "too short") // < 8 tokens: no grams, no row
    ).toDF("doc_id", "text")
    val got = Corpus.contaminationScore(
      docs, "doc_id", "text", probes = docs.filter(col("doc_id") === 0), "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got === Seq((0L, 3L, 3L, 1.0), (1L, 3L, 1L, 1.0 / 3), (2L, 3L, 0L, 0.0)))
  }

  test("rankBuckets: exact rank thirds, deterministic ties, degenerate sizes") {
    val df = Seq(
      (1L, 3.0), (2L, 1.0), (3L, 2.0), (4L, 1.0), (5L, 5.0), (6L, 4.0)
    ).toDF("id", "score")
    val got = Corpus.rankBuckets(df, "id", "score", numBuckets = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // sorted by (score, id): 2,4,3,1,6,5 -> buckets 0,0,1,1,2,2
    assert(got === Map(2L -> 0L, 4L -> 0L, 3L -> 1L, 1L -> 1L, 6L -> 2L, 5L -> 2L))
    // more buckets than rows: each row its own bucket, no crash
    val tiny = Corpus.rankBuckets(df.limit(2), "id", "score", numBuckets = 10)
      .select("bucket").as[Long].collect().sorted
    assert(tiny.length === 2 && tiny.distinct.length === 2)
    // empty input: empty output with the bucket column present
    val empty = Corpus.rankBuckets(df.limit(0), "id", "score", 3)
    assert(empty.columns.contains("bucket") && empty.count() === 0)
  }

  test("pplBuckets: head/middle/tail thirds ordered by perplexity") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = Corpus.trainNgramLm(real, "text")
    val b = Corpus.pplBuckets(real, "doc_id", "text", lm, numBuckets = 3).cache()
    val n = b.count()
    val sizes = b.groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === Set(0L, 1L, 2L))
    assert(sizes.values.max - sizes.values.min <= 1, s"near-equal thirds: $sizes")
    assert(sizes.values.sum === n)
    // bucket boundaries respect the score order: max(logppl) in bucket 0
    // <= min in bucket 1, etc. (ties broken by id can't cross buckets here)
    val stats = b.groupBy("bucket")
      .agg(min("logppl").as("mn"), max("logppl").as("mx"))
      .orderBy("bucket").collect()
    assert(stats(0).getDouble(2) <= stats(1).getDouble(1) + 1e-12)
    assert(stats(1).getDouble(2) <= stats(2).getDouble(1) + 1e-12)
    b.unpersist()
  }

  test("BPE: incremental merge loop is byte-identical to the naive per-round rescan") {
    // reference implementation: recount every pair from scratch each round
    // (the O(rounds × vocab × len) spelling trainBpe's incremental loop
    // replaces) — kept HERE as the equivalence oracle
    def naiveMerges(
        words: Array[(String, Long)], numMerges: Int): Vector[(String, String)] = {
      var vocab: Array[(Vector[String], Long)] =
        words.map { case (w, c) => (w.map(_.toString).toVector :+ "</w>", c) }
      val merges = Vector.newBuilder[(String, String)]
      var round = 0
      var exhausted = false
      while (round < numMerges && !exhausted) {
        val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, c) <- vocab; i <- 0 until syms.size - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
        }
        if (pairCounts.isEmpty) exhausted = true
        else {
          val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          merges += best
          vocab = vocab.map { case (syms, c) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.size) {
              if (i < syms.size - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
                out += (best._1 + best._2); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), c)
          }
          round += 1
        }
      }
      merges.result()
    }
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val words = real
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(50000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val model = Corpus.trainBpe(real, "text", numMerges = 80)
    assert(model.merges === naiveMerges(words, 80))
  }

  test("BPE: a 1000-merge train finishes in seconds (incremental pair counts)") {
    // the parquet fixtures only carry ~31 distinct words (supply exhausts
    // after ~106 merges), so build a 20k-word corpus with hex "words" —
    // deterministic, and rich enough that 1000 merges never run dry
    val corpus = spark.range(20000)
      .select((col("id") % 4000).as("id"), md5(col("id").cast("string")).as("text"))
      .groupBy("id").agg(concat_ws(" ", collect_list(col("text"))).as("text"))
    val t0 = System.nanoTime()
    val model = Corpus.trainBpe(corpus, "text", numMerges = 1000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(model.merges.size === 1000, s"only ${model.merges.size} merges learned")
    assert(model.merges.size === model.merges.distinct.size, "a pair merged twice")
    // generous bound: the driver loop itself is milliseconds; the word
    // count dominates. The naive rescan took minutes at this setting.
    assert(secs < 60.0, s"1000-merge train took ${secs}s")
  }

  test("BPE: merge-supply exhaustion stops cleanly with every word fully merged") {
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val model = Corpus.trainBpe(real, "text", numMerges = 100000)
    assert(model.merges.nonEmpty && model.merges.size < 1000,
      s"tiny-vocab fixture should exhaust early, got ${model.merges.size}")
    // exhausted = no adjacent pair left anywhere: every word is ONE piece
    val pieces = Corpus.applyBpe(real.limit(50), "doc_id", "text", model)
      .select(explode(col("pieces")).as("p"))
    assert(pieces.filter(!col("p").endsWith("</w>")).count() === 0L,
      "after exhaustion every piece must be a whole word")
  }

  test("BPE: encodeWord applies lowest-rank merges greedily, all occurrences") {
    val ranks = Map(("l", "o") -> 0, ("lo", "w") -> 1)
    assert(Corpus.encodeWord("low", ranks) === Vector("low", "</w>"))
    val ranks2 = Map(("a", "n") -> 0, ("b", "an") -> 1)
    assert(Corpus.encodeWord("banana", ranks2) === Vector("ban", "an", "a", "</w>"))
    assert(Corpus.encodeWord("x", Map.empty) === Vector("x", "</w>"))
  }

  test("BPE: id encoding is the model-stable inverse of the piece stream; OOV -> unk") {
    val docsT = Seq((0L, "aa aa aa ab")).toDF("id", "text")
    val model = Corpus.trainBpe(docsT, "text", numMerges = 2)
    // vocab layout: sorted alphabet then merge products, ids dense from 0
    assert(model.vocab.keySet === Set("a", "b", "</w>", "a</w>", "aa</w>"))
    assert(model.vocab.values.toSeq.sorted === (0 until 5))
    val inv = model.vocab.map(_.swap)
    val got = Corpus.encodeBpeIds(
      Seq((1L, "aa ab"), (2L, "aq")).toDF("id", "text"), "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // ids decode back to exactly the piece stream
    assert(got(1L).map(inv) === Seq("aa</w>", "a", "b", "</w>"))
    // 'q' never seen at training -> unk
    assert(got(2L) === Seq(model.vocab("a"), -1, model.vocab("</w>")))
  }

  test("BPE ids feed chunking/packing: tokenize -> count -> packShards composition") {
    val model = Corpus.trainBpe(docs, "text", numMerges = 40)
    val ids = Corpus.encodeBpeIds(docs, "doc_id", "text", model)
      .withColumn("n_tok", size(col("token_ids")).cast("long"))
    // every fixture doc tokenizes to something, no unk on self-encoded text
    assert(ids.filter(col("n_tok") === 0L).count() === 0L)
    assert(ids.filter(array_contains(col("token_ids"), -1)).count() === 0L)
    val packed = Corpus.packShards(ids, "doc_id", "n_tok", budget = 2000L)
    // documents are never split, so a shard can overshoot the budget by at
    // most one document; coverage is exactly once per doc
    val maxDoc = ids.agg(max("n_tok")).head().getLong(0)
    val byShard = packed.groupBy("shard")
      .agg(sum("n_tok").as("tok"), count(lit(1)).as("docs"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(byShard.forall(_._1 < 2000L + maxDoc))
    assert(byShard.size > 1)
    assert(byShard.map(_._2).sum === docs.count())
  }

  test("toTokenBinShards: mmap-ready little-endian int32 shards in doc order") {
    val in = Seq(
      (0L, 10L, Seq(1, 2, 3)),
      (1L, 10L, Seq(4)),
      (2L, 11L, Seq(5, 6)),
      (3L, 11L, Seq(7))
    ).toDF("doc_id", "shard", "token_ids").repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("graft-tokbin-").toString
    Export.toTokenBinShards(in, "shard", "doc_id", "token_ids", dir)
    def readShard(k: Long): Seq[Int] = {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, s"shard=$k", "tokens.bin"))
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until bytes.length / 4).map(_ => bb.getInt)
    }
    assert(readShard(10L) === Seq(1, 2, 3, 4))
    assert(readShard(11L) === Seq(5, 6, 7))
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "shard=10", "_meta.json")), "UTF-8")
    assert(meta === """{"tokens":4,"docs":2}""")
    // overwrite semantics: a re-run replaces, never appends
    Export.toTokenBinShards(in, "shard", "doc_id", "token_ids", dir)
    assert(readShard(10L) === Seq(1, 2, 3, 4))
    // no stray temp files (attempt-unique .inprogress names all renamed)
    assert(new java.io.File(dir, "shard=10").listFiles()
      .forall(!_.getName.contains("inprogress")))
  }

  test("toTokenBinShards writes through a NON-default FS scheme (executor conf propagation)") {
    // the executors rebuild their Hadoop conf from the session's entries;
    // a bare Configuration() would not know fs.mock.impl and the write
    // would fail — this pins the conf shipping end-to-end
    graft.chain.MockFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory("graft-tokbin-mock-")
    val dir = s"mock://${local.toAbsolutePath}/bins"
    val in = Seq((0L, 7L, Seq(1, 2)), (1L, 7L, Seq(3))).toDF("doc_id", "shard", "token_ids")
    Export.toTokenBinShards(in, "shard", "doc_id", "token_ids", dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/shard=7/tokens.bin")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = { val s = fs.open(p); try s.readAllBytes() finally s.close() }
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert((0 until bytes.length / 4).map(_ => bb.getInt) === Seq(1, 2, 3))
  }

  test("BPE: applyBpe keeps non-numeric id columns intact") {
    val docsS = Seq(("doc-a", "aa aa aa ab")).toDF("uid", "text")
    val model = Corpus.trainBpe(docsS, "text", numMerges = 2)
    val row = Corpus.applyBpe(docsS, "uid", "text", model).head()
    assert(row.getString(0) === "doc-a")
    assert(row.getSeq[String](1).nonEmpty)
  }

  test("BPE: fixture training is deterministic, compresses, and round-trips losslessly") {
    val m1 = Corpus.trainBpe(docs, "text", numMerges = 60)
    val m2 = Corpus.trainBpe(docs.repartition(7), "text", numMerges = 60)
    assert(m1.merges === m2.merges)
    assert(m1.merges.size === 60)
    val enc = Corpus.applyBpe(docs, "doc_id", "text", m1).cache()
    val stats = enc
      .select(size(col("pieces")).cast("long").as("np"))
      .agg(sum("np")).head().getLong(0)
    val chars = docs
      .select(length(col("text")).cast("long").as("nc"))
      .agg(sum("nc")).head().getLong(0)
    assert(stats < chars, s"pieces $stats should compress below $chars chars")
    // lossless: pieces rejoin to the normalized word sequence for EVERY doc
    val bad = enc
      .join(docs, "doc_id")
      .select(
        trim(regexp_replace(concat_ws("", col("pieces")), "</w>", " ")).as("rt"),
        array_join(Text.tokens(col("text")), " ").as("want"))
      .filter(col("rt") =!= col("want"))
      .count()
    assert(bad === 0L)
    enc.unpersist(blocking = false)
  }

  test("tfidfKeywords: rare terms outrank common, ubiquitous terms drop, term ties break ranks") {
    val docs = Seq(
      (1L, "the cat cat sat"),   // 'cat' tf=2, df=1 -> top; 'the' df=3 -> idf 0, dropped
      (2L, "the dog ran ran ran"), // 'ran' tf=3 df=1 beats 'dog' tf=1 df=1
      (3L, "the cow cow zed")    // 'cow' tf=2 beats 'zed' tf=1 (same df)
    ).toDF("doc_id", "text")
    val out = Corpus.tfidfKeywords(docs, "doc_id", "text", topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(out((1L, 1L)) === "cat")
    assert(out((2L, 1L)) === "ran")
    assert(out((2L, 2L)) === "dog")
    assert(out((3L, 1L)) === "cow")
    assert(out((3L, 2L)) === "zed")
    assert(!out.values.toSet.contains("the")) // idf = ln(3/3) = 0 -> score 0
    // equal (tf, df) scores tie-break by term string
    val tie = Corpus.tfidfKeywords(
      Seq((1L, "bb aa"), (2L, "zz")).toDF("doc_id", "text"), "doc_id", "text", topK = 2)
      .collect().filter(_.getLong(0) == 1L).sortBy(_.getLong(1)).map(_.getString(2)).toSeq
    assert(tie === Seq("aa", "bb"))
  }

  test("phraseSearch: adjacency only, repeated-word phrases, occurrence ranking, append idempotent") {
    val docs = Seq(
      (1L, "big cat sat"), // "big cat" once
      (2L, "big cat big cat"), // twice
      (3L, "cat big"), // reversed: no match
      (4L, "big dog cat"), // non-adjacent: no match
      (5L, "go go go") // repeated-word phrase "go go" matches at pos 0 and 1
    ).toDF("doc_id", "text")
    Corpus.materializePhraseIndex(docs, "doc_id", "text", "corpus_spec_phrase", numBuckets = 2)
    def search(ts: String*) =
      Corpus.phraseSearch(spark, "corpus_spec_phrase", ts, topK = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(search("big", "cat") === Map(2L -> 2L, 1L -> 1L))
    assert(search("go", "go") === Map(5L -> 2L))
    assert(search("big", "cat", "sat") === Map(1L -> 1L))
    assert(search("dog", "sat") === Map.empty[Long, Long])
    // append: new doc searchable; re-appending the same batch is a no-op
    val more = Seq((6L, "big cat zzz")).toDF("doc_id", "text")
    Corpus.appendToPhraseIndex(more, "doc_id", "text", "corpus_spec_phrase")
    Corpus.appendToPhraseIndex(more, "doc_id", "text", "corpus_spec_phrase")
    assert(search("big", "cat") === Map(2L -> 2L, 1L -> 1L, 6L -> 1L))
  }

  test("pmiCooccurrence: hand-computed micro-nat PMI, presence-based counts, desc order") {
    val docs = Seq(
      (1L, "x y"), (2L, "x y y"), // repeated y counts once (presence)
      (3L, "x z"), (4L, "z q")
    ).toDF("doc_id", "text")
    // n=4; c: x=3 y=2 z=2 q=1; pairs: (x,y)=2 (x,z)=1 (q,z)=1
    val out = Corpus.pmiCooccurrence(docs, "doc_id", "text",
      vocab = 10, minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      ("q", "z") -> ((1L, 693147L)),  // floor(ln(4/2)·1e6)
      ("x", "y") -> ((2L, 287682L)),  // floor(ln(8/6)·1e6)
      ("x", "z") -> ((1L, -405466L)))) // floor(ln(4/6)·1e6)
    // minCount prunes the singleton pairs
    val cut = Corpus.pmiCooccurrence(docs, "doc_id", "text",
      vocab = 10, minCount = 2L, topK = 10).collect()
    assert(cut.map(r => (r.getString(0), r.getString(1))).toSet === Set(("x", "y")))
  }
  test("kneserNeyBigrams: hand-computed interpolated KN on the micro grid") {
    // corpus: "a b a b c" + "b a" -> c12 {(a,b):2,(b,a):2,(b,c):1},
    // c1 {a:2,b:3}, N1+(w1.) {a:1,b:2}, N1+(.w2) all 1, total types 3
    val docs = Seq((1L, "a b a b c"), (2L, "b a")).toDF("doc_id", "text")
    val out = Corpus.kneserNeyBigrams(docs, "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val byPair = out
    assert(byPair(("a", "b")) === ((2L, 749999L))) // 625000 + 124999
    assert(byPair(("b", "a")) === ((2L, 583332L))) // 416666 + 166666
    assert(byPair(("b", "c")) === ((1L, 249999L))) // 83333 + 166666
    // one-token docs contribute nothing
    val out2 = Corpus.kneserNeyBigrams(
      Seq((1L, "a b a b c"), (2L, "b a"), (3L, "solo")).toDF("doc_id", "text"), "text")
      .collect()
    assert(out2.length === 3)
  }
}
