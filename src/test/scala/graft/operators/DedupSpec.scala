package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Text

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup of 0
    (3L, "completely different content about spark dataframes and catalyst optimizer rules"),
    (4L, "  The   quick brown fox jumps over the lazy dog near the river bank today "), // ws/case dup of 0
    (5L, "yet another unrelated document mentioning parquet files and shuffle partitions")
  ).toDF("doc_id", "text")

  test("exact: groups whitespace/case-normalized duplicates") {
    val got = Dedup
      .exact(docs, "doc_id", "text")
      .select(col("canonical_id"), col("dup_count"))
      .orderBy(col("canonical_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 3L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("exactKeepFirst keeps the canonical row only") {
    val got = Dedup.exactKeepFirst(docs, "doc_id", "text")
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq === Seq(0L, 2L, 3L, 5L))
  }

  test("minHashLsh: finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup
      .minHashLsh(docs, "doc_id", "text", minSim = 0.5)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(pairs.contains((0L, 1L)), s"exact dup pair missing from $pairs")
    assert(pairs.contains((0L, 4L)) && pairs.contains((1L, 4L)), s"normalized dup pairs missing from $pairs")
    assert(pairs.contains((0L, 2L)), s"near-dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc paired: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), s"unrelated doc paired: $pairs")
  }

  test("minHashLsh: est_jaccard is 1.0 for identical docs") {
    val est = Dedup
      .minHashLsh(docs, "doc_id", "text", minSim = 0.5)
      .filter(col("id_a") === 0L && col("id_b") === 1L)
      .select("est_jaccard")
      .as[Double]
      .head()
    assert(est === 1.0)
  }

  test("simHashDups: near dups within hamming budget; simhash is a 64-bit string") {
    val sh = docs.select(Dedup.simHash(col("text")).as("sh")).as[String].collect()
    assert(sh.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    val pairs = Dedup
      .simHashDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngramJaccard verifies candidate pairs exactly") {
    val pairs = Seq((0L, 1L), (0L, 3L)).toDF("id_a", "id_b")
    val got = Dedup
      .ngramJaccard(pairs, docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got((0L, 1L)) === 1.0)
    assert(got((0L, 3L)) === 0.0)
  }

  test("native portable kernels are bit-identical to the HOF spellings on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val mh = docs.select(
      col("doc_id"),
      Dedup.minHashSignature(Text.wordShingles(col("text"), 3), 64).as("native"),
      Dedup.minHashSignatureHof(Text.wordShingles(col("text"), 3), 64).as("hof"))
      .collect()
    assert(mh.nonEmpty)
    mh.foreach(r => assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}"))
    val sh = docs.select(
      col("doc_id"),
      Dedup.simHash(col("text")).as("native"),
      Dedup.simHashHof(col("text")).as("hof"))
      .collect()
    sh.foreach(r => assert(r.getString(1) === r.getString(2), s"doc ${r.getLong(0)}"))
    // edge cases: empty text (no tokens) and single-char text
    val edge = Seq((1L, ""), (2L, "x")).toDF("doc_id", "text")
    val e = edge.select(Dedup.simHash(col("text")).as("n"), Dedup.simHashHof(col("text")).as("h"),
      Dedup.minHashSignature(Text.wordShingles(col("text"), 3), 8).as("mn"),
      Dedup.minHashSignatureHof(Text.wordShingles(col("text"), 3), 8).as("mh")).collect()
    e.foreach { r =>
      assert(r.getString(0) === r.getString(1))
      assert(r.getSeq[Long](2) === r.getSeq[Long](3))
    }
  }

  test("embeddingDupsQuantized: bucketed cosine near-dups") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.01f, 0.0f)), // near dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("id", "vec").select(col("id"), Similarity.quantize(col("vec")).as("vec"))
    val planes = Similarity.intPlanes(numPlanes = 2, dim = 3)
    val got = Dedup
      .embeddingDupsQuantized(vecs, "id", "vec", planes, dim = 3, minCos = 0.99)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(got === Set((0L, 1L)))
  }

  test("embeddingDupsQuantized: maxBucket caps a degenerate bucket's quadratic pair-up") {
    // 6 identical vectors land in one bucket; uncapped that is C(6,2)=15
    // pairs, capped at 3 members it is C(3,2)=3 — and the kept members are
    // the lowest ids (row_number ordered by id), chaining the cluster.
    val vecs = (0L until 6L).map(i => (i, Array(1000L, 0L, 0L))).toDF("id", "vec")
    val planes = Similarity.intPlanes(numPlanes = 2, dim = 3)
    val uncapped = Dedup.embeddingDupsQuantized(vecs, "id", "vec", planes, dim = 3, minCos = 0.99)
    assert(uncapped.count() === 15)
    val capped = Dedup.embeddingDupsQuantized(vecs, "id", "vec", planes, dim = 3, minCos = 0.99,
      maxBucket = 3)
    val got = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("portable hashes match the DuckDB formulation (precomputed)") {
    // Precomputed with duckdb:
    //   SELECT ('0x'||substring(md5('hello'),1,8))::BIGINT % 2147483647  -> 1564557354
    //   SELECT lpad(bin(('0x'||substring(md5('hello'),1,16))::UBIGINT),64,'0')
    //     -> 0101110101000001010000000010101010111100010010110010101001110110
    val row = Seq("hello")
      .toDF("s")
      .select(Text.portableHash31(col("s")).as("h31"), Text.portableHashBits(col("s")).as("bits"))
      .head()
    assert(row.getAs[Long]("h31") === 1564557354L)
    assert(
      row.getAs[String]("bits") ===
        "0101110101000001010000000010101010111100010010110010101001110110"
    )
  }

  test("connected components: chains collapse to min label; canonical keep drops non-min") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))

    val docs = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L).toDF("doc_id")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    // 1 and 10 are cluster canonicals; 5 is in no pair; the rest are dups
    assert(kept === Set(1L, 5L, 10L))
  }

  test("keepBestPerCluster: winner by score not id; ties to smallest id; isolated rows survive") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 7.0), (4L, 9.0), // cluster {1,2,3,4}: 2 and 4 tie at 9 -> 2 wins
      (5L, 0.0),                                  // isolated
      (10L, 1.0), (11L, 2.0)                      // cluster {10,11}: 11 wins on score
    ).toDF("doc_id", "q")
    val kept = Dedup.keepBestPerCluster(docs, "doc_id", "q", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 5L, 11L))
    // degenerate: no pairs -> everything survives
    assert(Dedup.keepBestPerCluster(docs, "doc_id", "q",
      spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")).count() === 7)
  }

  test("editDistanceVerify: exact distances, sim floor, prefix cap, empty texts") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"),       // classic distance 3
      (3L, "abc"), (4L, "abc"),              // identical -> sim 1
      (5L, ""), (6L, ""),                    // both empty -> sim 1 by convention
      (7L, "abc"), (8L, "xyz0")              // disjoint -> sim 0
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.editDistanceVerify(pairs, docs, "doc_id", "text", minSim = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out((1L, 2L)) === ((3L, 1.0 - 3.0 / 7.0)))
    assert(out((3L, 4L)) === ((0L, 1.0)))
    assert(out((5L, 6L)) === ((0L, 1.0)))
    assert(out((7L, 8L))._2 === 0.0)
    // the sim floor drops dissimilar pairs
    assert(Dedup.editDistanceVerify(pairs, docs, "doc_id", "text", minSim = 0.5)
      .count() === 3)
    // prefix cap bounds the quadratic work: distance is over the prefix
    val long = Seq((1L, "a" * 50 + "X"), (2L, "a" * 50 + "Y")).toDF("doc_id", "text")
    val capped = Dedup.editDistanceVerify(
      Seq((1L, 2L)).toDF("id_a", "id_b"), long, "doc_id", "text",
      minSim = 0.0, maxLen = 50)
    assert(capped.select("dist").as[Long].head() === 0L)
  }

  test("connected components: pointer jumping collapses long chains, equals union-find") {
    // a 200-node chain: diameter 199 — plain label propagation would need
    // ~200 rounds; with the per-round pointer jump the label reach grows
    // d -> 2d+2, so about 8 rounds fit well inside the default maxIter = 30
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 200)
    assert(comps.values.toSet === Set(0L))
    // reach 2, 6, 14, ..., 254 >= 199 after 7 rounds; the 8th sees no change
    assert(Dedup.connectedComponents(chain, maxIter = 8).count() === 200)

    // seeded random graph: components equal a union-find over the same edges
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(id => id -> find(id)).toMap
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("minhash index probe ≡ batch minHashLsh restricted to cross-split pairs") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = real.filter(col("doc_id") % 5 =!= 0)
    val batch = real.filter(col("doc_id") % 5 === 0)
    Dedup.materializeMinhashIndex(corpus, "doc_id", "text",
      table = "graft_test_mh_idx", numBuckets = 4)
    val inc = Dedup.minHashLshAgainstIndex(batch, "doc_id", "text",
      table = "graft_test_mh_idx", minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the one-shot batch operator over the full corpus,
    // keeping only pairs that straddle the split (either orientation)
    val all = Dedup.minHashLsh(real, "doc_id", "text", minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = all.flatMap { case (a, b, j) =>
      if (a % 5 == 0 && b % 5 != 0) Some((a, b, j))
      else if (b % 5 == 0 && a % 5 != 0) Some((b, a, j))
      else None
    }.toSet
    assert(inc === expected)
    assert(inc.nonEmpty, "fixture should contain cross-split near-dups")
    // the index is physically bucketed on its join keys, so probe joins
    // read the corpus through its layout instead of re-shuffling it
    val desc = spark.sql("DESCRIBE EXTENDED graft_test_mh_idx_buckets")
      .collect().map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("\n")
    assert(desc.contains("Num Buckets=4"), desc)
    assert(desc.contains("band") && desc.contains("bkey"), desc)
  }

  test("dedupAgainst: drops near-dups of the reference side only, keeps the rest") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = real.filter(col("doc_id") % 5 =!= 0)
    val refs = real.filter(col("doc_id") % 5 === 0)
    val kept = Dedup.dedupAgainst(docs, "doc_id", "text", refs, "doc_id", "text", minSim = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // ground truth: batch pairs restricted to cross-split orientation
    val crossDup = Dedup.minHashLsh(real, "doc_id", "text", minSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect {
        case (a, b) if a % 5 != 0 && b % 5 == 0 => a
        case (a, b) if b % 5 != 0 && a % 5 == 0 => b
      }.toSet
    val docIds = docs.select("doc_id").as[Long].collect().toSet
    assert(kept === docIds -- crossDup)
    assert(crossDup.nonEmpty, "fixture should contain cross-split near-dups")
    // near-dups WITHIN the training side are untouched (this is not self-dedup)
    val selfDup = Dedup.minHashLsh(docs, "doc_id", "text", minSim = 0.5).count()
    assert(selfDup > 0 && (kept & docIds).nonEmpty)
  }

  test("appendToMinhashIndex ≡ fresh full materialization (increasing ids); cap maintained") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val half = real.count() / 2
    val corpus = real.filter(col("doc_id") < half)
    val batch = real.filter(col("doc_id") >= half) // ids strictly after the corpus'
    Dedup.materializeMinhashIndex(corpus, "doc_id", "text",
      table = "graft_test_mh_app", numBuckets = 4)
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", table = "graft_test_mh_app")
    Dedup.materializeMinhashIndex(real, "doc_id", "text",
      table = "graft_test_mh_fresh", numBuckets = 4)
    def rows(t: String) = spark.table(t).collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString)).toSet
    assert(rows("graft_test_mh_app_buckets").map(r => (r._1, r._2, r._3)) ===
      rows("graft_test_mh_fresh_buckets").map(r => (r._1, r._2, r._3)))
    assert(spark.table("graft_test_mh_app_sigs").count() ===
      spark.table("graft_test_mh_fresh_sigs").count())
    // probing the appended index ≡ probing the fresh one
    val probe = real.limit(20)
    def hits(t: String) = Dedup.minHashLshAgainstIndex(probe, "doc_id", "text", table = t,
      minSim = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits("graft_test_mh_app") === hits("graft_test_mh_fresh"))
    // idempotent re-ingest: appending the same batch again changes nothing
    val before = spark.table("graft_test_mh_app_sigs").count()
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", table = "graft_test_mh_app")
    assert(spark.table("graft_test_mh_app_sigs").count() === before)

    // cap maintenance: 6 identical docs, cap 4 — append admits only up to
    // the remaining capacity, exactly like a fresh capped materialization
    import spark.implicits._
    val dupA = (0L until 3L).map(i => (i, "same same same same")).toDF("doc_id", "text")
    val dupB = (3L until 6L).map(i => (i, "same same same same")).toDF("doc_id", "text")
    Dedup.materializeMinhashIndex(dupA, "doc_id", "text",
      table = "graft_test_mh_cap", numBuckets = 2, maxBucket = 4)
    Dedup.appendToMinhashIndex(dupB, "doc_id", "text",
      table = "graft_test_mh_cap", maxBucket = 4)
    val perBucket = spark.table("graft_test_mh_cap_buckets")
      .groupBy("band", "bkey").count().select("count").as[Long].collect()
    assert(perBucket.forall(_ === 4L), s"every bucket capped at 4: ${perBucket.toSeq}")
    // the admitted ids are the LOWEST ids, same as a fresh capped build
    val ids = spark.table("graft_test_mh_cap_buckets")
      .select("id").distinct().as[Long].collect().sorted
    assert(ids.toSeq === Seq(0L, 1L, 2L, 3L))
  }

  test("dhashDups: pigeonhole bands find exactly the pairs within the Hamming budget") {
    val base = 0x0123456789abcdefL
    val vecs = Seq(
      (1L, base),
      (2L, base ^ 0x7L), // 3 flipped bits -> within budget
      (3L, base ^ 0x1111L), // 4 bits, all in band 0: candidate, verify rejects
      (4L, ~base) // 64 bits apart: no shared band, never a candidate
    ).toDF("id", "h")
    val got = Dedup.dhashDups(vecs, "id", "h", maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 3)))
  }

  test("dhashDups: identical hashes collide in every band but pair once; cap bounds pairing") {
    val same = (1L to 6L).map(i => (i, 42L)).toDF("id", "h")
    val pairs = Dedup.dhashDups(same, "id", "h", maxHamming = 1, bands = 4)
    assert(pairs.count() === 15) // C(6,2), each exactly once despite 4 band hits
    val capped = Dedup.dhashDups(same, "id", "h", maxHamming = 1, bands = 4, maxBucket = 3)
    assert(capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    intercept[IllegalArgumentException](
      Dedup.dhashDups(same, "id", "h", maxHamming = 4, bands = 4))
  }

  test("semanticDedupQuantized: greedy keep-first within cells") {
    val vecs = Seq(
      (0L, Array(1000L, 0L, 0L)),
      (1L, Array(999L, 10L, 0L)), // near-dup of 0 -> dropped
      (2L, Array(0L, 1000L, 0L)),
      (3L, Array(5L, 998L, 0L)), // near-dup of 2 -> dropped
      (4L, Array(0L, 0L, 1000L)), // alone in its cell
      (5L, Array(990L, 30L, 0L)) // near-dup of 0 -> dropped
    ).toDF("id", "v")
    val cents = Seq(Array(1000L, 0L, 0L), Array(0L, 1000L, 0L), Array(0L, 0L, 1000L))
    val kept = Dedup
      .semanticDedupQuantized(vecs, "id", "v", cents, dim = 3, minCos = 0.99)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toSet
    assert(kept === Set((0L, 0), (2L, 1), (4L, 2)))
  }

  test("semanticDedupQuantized: single cell == global greedy; more cells only keep MORE") {
    val data = (0L until 40L).map { i =>
      val rnd = new scala.util.Random(i * 7 + 3)
      (i, Array.fill(8)((rnd.nextInt(2001) - 1000).toLong))
    }
    val df = data.toDF("id", "v").repartition(5)
    val tau = 0.4
    val one = Dedup
      .semanticDedupQuantized(df, "id", "v", Seq(Array.fill(8)(0L)), dim = 8, minCos = tau)
      .collect()
      .map(_.getLong(0))
      .toSet
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val nn = math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble)
      if (nn > 0) d / nn else 0.0
    }
    val droppedTruth = data.collect {
      case (j, vj) if data.exists { case (i, vi) => i < j && cos(vi, vj) >= tau } => j
    }.toSet
    assert(droppedTruth.nonEmpty, "fixture should contain semantic near-dups")
    assert(one === data.map(_._1).toSet -- droppedTruth)
    // trained cells remove cross-cell comparisons, so the kept set can only
    // grow — and the run is partitioning-invariant
    val cents = Similarity.ivfTrain(df, "id", "v", k = 4, iters = 2)
    val multi = Dedup
      .semanticDedupQuantized(df, "id", "v", cents, dim = 8, minCos = tau)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(one.subsetOf(multi))
    val multiRepart = Dedup
      .semanticDedupQuantized(df.repartition(13), "id", "v", cents, dim = 8, minCos = tau)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(multi === multiRepart)
  }

  test("semanticDedupQuantized: maxCell caps pairing; capped-out docs stay KEPT") {
    // 20 identical vectors in one cell: pairs form only among the cap's
    // lowest 5 ids, so 1-4 drop against 0 and every capped-out id survives —
    // the cap degrades to keeping too much, never to dropping unverified.
    val vecs = (0L until 20L).map(i => (i, Array(1000L, 0L, 0L))).toDF("id", "v")
    val kept = Dedup
      .semanticDedupQuantized(vecs, "id", "v", Seq(Array(0L, 0L, 0L)), dim = 3,
        minCos = 0.99, maxCell = 5)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(kept === (Set(0L) ++ (5L until 20L)))
  }

  private def resolvedClusters(table: String): Map[Long, Long] =
    Dedup.readClusters(spark, table).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cluster index: a bridging doc MERGES two existing clusters; ≡ fresh CC") {
    val tab = "graft_cci_spec"
    val init = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    Dedup.materializeClusters(init, tab, numBuckets = 4)
    assert(resolvedClusters(tab) === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))

    // doc 10 pairs with BOTH clusters -> single component rooted at 1
    val batch = Seq((10L, 2L), (10L, 5L)).toDF("id_a", "id_b")
    Dedup.appendToClusters(batch, tab)
    assert(resolvedClusters(tab) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 10L -> 1L))

    // equivalence with a fresh full recompute over the union pair set
    val fresh = Dedup.connectedComponents(init.unionByName(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolvedClusters(tab) === fresh)

    // only the retired root is remapped, and it points at a CURRENT root
    val remap = spark.table(s"${tab}_roots").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(remap === Map(5L -> 1L))
  }

  test("cluster index: re-rooting append compresses the remap; re-run is a no-op; compact folds") {
    val tab = "graft_cci_spec2"
    Dedup.materializeClusters(Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"), tab, numBuckets = 4)
    Dedup.appendToClusters(Seq((10L, 2L), (10L, 5L)).toDF("id_a", "id_b"), tab)

    // id 0 < every existing root: the merged component re-roots to 0, and
    // the surviving remap entries must be re-compressed onto the new root
    val tick2 = Seq((0L, 6L)).toDF("id_a", "id_b")
    Dedup.appendToClusters(tick2, tab)
    val all0 = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L, 10L -> 0L)
    assert(resolvedClusters(tab) === all0)
    val remap = spark.table(s"${tab}_roots").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(remap === Map(5L -> 0L, 1L -> 0L), "remap must stay depth-1 (all parents current roots)")

    // crashed-retry / duplicate-delivery safety: same batch again, no change
    Dedup.appendToClusters(tick2, tab)
    assert(resolvedClusters(tab) === all0)
    assert(spark.table(s"${tab}_clusters").count() === 6L)

    // compaction folds the remap into the rows and truncates it
    Dedup.compactClusters(spark, tab, numBuckets = 4)
    assert(resolvedClusters(tab) === all0)
    assert(spark.table(s"${tab}_roots").count() === 0L)
    assert(spark.table(s"${tab}_clusters").filter(col("comp") =!= 0L).count() === 0L)
  }

  test("compactClusters: crash between the swap's DROP and RENAME recovers; mid-compact crash reads stay correct") {
    val tab = "graft_cci_crash"
    Dedup.materializeClusters(Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"), tab, numBuckets = 4)
    Dedup.appendToClusters(Seq((10L, 2L), (10L, 5L)).toDF("id_a", "id_b"), tab)
    val want = resolvedClusters(tab)

    // crash window A: `_clusters` fold staged + DROP ran, RENAME did not —
    // the live table is GONE; the next read must complete the swap
    spark.table(s"${tab}_clusters").write
      .bucketBy(4, "id").sortBy("id").saveAsTable(s"${tab}_clusters_swap_tmp")
    spark.sql(s"DROP TABLE ${tab}_clusters")
    assert(resolvedClusters(tab) === want, "read must recover the torn clusters swap")

    // crash window B: compact finished the `_clusters` swap but crashed
    // before truncating `_roots` — folded comps match no remap key, so
    // resolution is unchanged, and the next compact finishes the job
    Bucketing.swapInBucketed(
      Dedup.readClusters(spark, tab), s"${tab}_clusters", Seq("id"), 4, Seq("id"))
    assert(resolvedClusters(tab) === want, "stale remap over folded rows must be benign")
    Dedup.compactClusters(spark, tab, numBuckets = 4)
    assert(resolvedClusters(tab) === want)
    assert(spark.table(s"${tab}_roots").count() === 0L)

    // crash window C: `_roots` truncation staged + DROP ran, RENAME did not
    spark.table(s"${tab}_roots").write.saveAsTable(s"${tab}_roots_swap_tmp")
    spark.sql(s"DROP TABLE ${tab}_roots")
    assert(resolvedClusters(tab) === want, "read must recover the torn roots swap")

    // and the index still ticks after all recoveries
    Dedup.appendToClusters(Seq((20L, 6L)).toDF("id_a", "id_b"), tab)
    assert(resolvedClusters(tab) === (want + (20L -> 1L)))
  }

  test("allPairsJaccard: exact threshold join equals brute force; no prefix misses") {
    val corpus = Seq(
      (1L, "a b c d e"), // 1-2: jaccard 4/6 = 0.666
      (2L, "a b c d x"),
      (3L, "a b c d e"), // 1-3: identical -> 1.0; 2-3 = 0.666
      (4L, "p q r s t"), // shares nothing with 1-3
      (5L, "p q r s"), // 4-5: 4/5 = 0.8
      (6L, "zz") // singleton token
    ).toDF("doc_id", "text")
    def run(t: Long) = Dedup.allPairsJaccard(corpus, "doc_id", "text", t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val at60 = run(600000L)
    assert(at60 === Map(
      (1L, 2L) -> 666666L, (1L, 3L) -> 1000000L, (2L, 3L) -> 666666L,
      (4L, 5L) -> 800000L))
    // tighter threshold drops the 0.666 pairs but keeps 0.8 and 1.0
    assert(run(700000L) === Map((1L, 3L) -> 1000000L, (4L, 5L) -> 800000L))
    // brute-force equivalence on this corpus: every pair checked by hand
    val brute = for {
      a <- 1L to 6L; b <- (a + 1) to 6L
      sa = corpus.filter(col("doc_id") === a).head().getString(1).split(" ").toSet
      sb = corpus.filter(col("doc_id") === b).head().getString(1).split(" ").toSet
      i = (sa & sb).size.toLong
      u = (sa | sb).size.toLong
      if u > 0 && i * 1000000L / u >= 600000L
    } yield (a, b) -> (i * 1000000L / u)
    assert(at60 === brute.toMap)
  }

  test("allPairsJaccard: length+positional candidate filters lose no pair (dense corpus)") {
    // r18: the candidate join gained the exact length and PPJoin positional
    // filters — fuzz a DENSE small-vocab corpus (where nearly every pair is
    // a candidate and alpha/suffix bounds sit on their boundaries) against
    // brute force at several thresholds
    val rnd = new scala.util.Random(42)
    val vocab = ('a' to 'p').map(_.toString)
    val docs = (1L to 60L).map { i =>
      val k = 3 + rnd.nextInt(vocab.size - 3)
      i -> rnd.shuffle(vocab).take(k).toSet
    }
    val corpus = docs.map { case (i, ts) => (i, ts.mkString(" ")) }.toDF("doc_id", "text")
    for (t <- Seq(500000L, 700000L, 900000L, 1000000L)) {
      val got = Dedup.allPairsJaccard(corpus, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val brute = (for {
        (a, sa) <- docs; (b, sb) <- docs if a < b
        i = (sa & sb).size.toLong
        u = (sa | sb).size.toLong
        j = i * 1000000L / u if j >= t
      } yield (a, b) -> j).toMap
      assert(got === brute, s"threshold $t")
    }
  }

  test("sortedNeighborhood: in-window edit matches only; window bound respected; normalization") {
    // sorted by normalized text: "aaaa x", "aaaa y", "aaab x", "zzzz"
    // (1,2) dist 1, (1,3) dist 1, (2,3) dist 2; "zzzz" is within window
    // of "aaab x" positionally but far in edit distance.
    val docs = Seq(
      (1L, "  AAAA   x "), // normalizes to "aaaa x"
      (2L, "aaaa y"),
      (3L, "aaab x"),
      (4L, "zzzz")
    ).toDF("doc_id", "text")
    val out = Dedup.sortedNeighborhood(docs, "doc_id", "text", windowSize = 3, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out === Map((1L, 2L) -> 1, (1L, 3L) -> 1, (2L, 3L) -> 2))
    // window 2: only adjacent pairs survive — (1,3) needs offset 2
    val w2 = Dedup.sortedNeighborhood(docs, "doc_id", "text", windowSize = 2, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w2 === Set((1L, 2L), (2L, 3L)))
  }

  test("sortedNeighborhood: range-partitioned rank ≡ global-window rank across boundaries") {
    // enough rows that repartitionByRange(32) puts data in MANY partitions,
    // so window pairs routinely straddle range boundaries — the pairs must
    // be exactly what the single-window spelling produces.
    val docs = (1 to 600)
      .map(i => (i.toLong, f"rec ${i % 80}%03d suffix${i % 7}"))
      .toDF("doc_id", "text")
    val w = 5
    val got = Dedup.sortedNeighborhood(docs, "doc_id", "text", windowSize = w, maxDist = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // brute reference: ONE global window, explicit offset pairing
    import org.apache.spark.sql.expressions.Window
    val ranked = docs
      .select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))
      .withColumn("rn", row_number().over(Window.orderBy(col("t"), col("doc_id"))))
      .collect().map(r => (r.getInt(2), r.getLong(0), r.getString(1))).sortBy(_._1)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      i <- ranked.indices; o <- 1 until w; if i + o < ranked.length
      d = lev(ranked(i)._3, ranked(i + o)._3); if d <= 2
      a = math.min(ranked(i)._2, ranked(i + o)._2)
      b = math.max(ranked(i)._2, ranked(i + o)._2)
    } yield ((a, b), d)).toMap
    assert(got === brute)
    assert(got.nonEmpty)
  }
  test("edThresholdJoin: complete and exact vs brute-force levenshtein, incl. short strings") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(23)
    val alpha = "abcd"
    val strs = (1 to 250).map { i =>
      val len = rnd.nextInt(12) // 0..11, includes sub-tau shorts
      (i.toLong, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val df = strs.toDF("id", "t")
    for (tau <- Seq(1, 2)) {
      val got = Dedup.edThresholdJoin(df, "id", "t", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = (for {
        (ia, ta) <- strs; (ib, tb) <- strs
        if ia < ib
        d = lev(ta, tb)
        if d <= tau
      } yield (ia, ib, d.toLong)).toSet
      assert(got === expect, s"tau=$tau")
    }
  }
  test("edThresholdJoin: cost routing tames constant-prefix classes, balanced cuts beat even, result exact") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def mkBase(strs: Seq[(Long, String)]) = strs.toDF("id", "t")
      .select(col("id").as("__id"), col("t").as("__t"))
      .withColumn("__len", length(col("__t")).cast("long"))
      .localCheckpoint()
    def brute(strs: Seq[(Long, String)]) = (for {
      (ia, ta) <- strs; (ib, tb) <- strs; if ia < ib
      d = lev(ta, tb); if d <= 2
    } yield (ia, ib, d.toLong)).toSet

    // (1) the adversarial fixture distribution: a constant 9-char template
    // prefix, same length everywhere, ~5 varying digits — chunk signatures
    // are degenerate (even's chunk 0 matches EVERYTHING), so the router
    // must send the class to the band join under either cut scheme
    val templated = (1 to 400).map(i => (i.toLong, f"Customer#${i * 7}%09d"))
    val allBand = 400L * 400L
    // even's degenerate chunk 0 must trip the router to the band join
    val re = Dedup.edRoutingFor(mkBase(templated), tau = 2, balanced = false)
    assert(re.bandClasses.contains(18L), re.bandClasses.toString)
    // the governing invariant either way: the chosen path never costs
    // more join rows than the band floor this class forces
    val rb = Dedup.edRoutingFor(mkBase(templated), tau = 2, balanced = true)
    if (!rb.bandClasses.contains(18L))
      assert(rb.chunkRows(18L) <= allBand, s"chunk=${rb.chunkRows(18L)}")
    // and candidates never exceed the band pair count (no duplicated
    // substring storm surviving into the verify)
    assert(Dedup.edCandidatePairs(mkBase(templated), 2, balanced = true)
      .select(col("id_a"), col("id_b")).distinct().count() <= 400L * 399 / 2)

    // (2) a diverse corpus: every class stays in chunk mode and candidates
    // collapse far below all-pairs
    val rnd = new scala.util.Random(97)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    val diverse = (1 to 400).map { i =>
      (i.toLong, (0 until 12).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val rd = Dedup.edRoutingFor(mkBase(diverse), tau = 2, balanced = true)
    assert(rd.bandClasses.isEmpty, rd.bandClasses.toString)
    assert(Dedup.edCandidatePairs(mkBase(diverse), 2, balanced = true)
      .select(col("id_a"), col("id_b")).distinct().count() < 400L * 399 / 2 / 5)

    // (3) semi-templated ("Cust#" + random tail): balanced cuts absorb the
    // constant prefix into a chunk that also covers varying characters, so
    // the chunk join costs far fewer rows than the even split's
    val semi = (1 to 400).map { i =>
      (i.toLong, "Cust#" + (0 until 6).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val sb = Dedup.edRoutingFor(mkBase(semi), tau = 2, balanced = true)
    val se = Dedup.edRoutingFor(mkBase(semi), tau = 2, balanced = false)
    // balanced: either the driver-side mass bound already proves the
    // class selective (histogram pass skipped — chunkRows empty), or the
    // exact rows must undercut even's by a wide margin
    if (sb.chunkRows.isEmpty) assert(sb.bandClasses.isEmpty)
    else assert(sb.chunkRows(11L) * 5 < se.chunkRows(11L),
      s"balanced=${sb.chunkRows(11L)} even=${se.chunkRows(11L)}")
    // even's constant-prefix chunk 0 shows up as heavy: band-routed or
    // costing at least the all-pairs floor
    assert(se.bandClasses.contains(11L) || se.chunkRows(11L) >= 400L * 399 / 2,
      s"even=${se.chunkRows.get(11L)} band=${se.bandClasses}")

    // (4) exactness on every fixture, both cut schemes
    for ((strs, name) <- Seq((templated, "templated"), (diverse, "diverse"), (semi, "semi"));
         balanced <- Seq(true, false)) {
      val got = Dedup.edThresholdJoin(strs.toDF("id", "t"), "id", "t", 2, balanced)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === brute(strs), s"$name balanced=$balanced")
    }
  }

  test("ensureParallelism: bare scans and checkpointed RDDs get the floor, derived frames stay untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ep-")
    try {
      (1L to 100L).toDF("v").coalesce(1).write.parquet(dir.resolve("one").toString)
      val scan = spark.read.parquet(dir.resolve("one").toString)
      // single-file bare scan (incl. under projection/filter): repartitioned
      assert(Dedup.ensureParallelism(scan).rdd.getNumPartitions > 1)
      assert(Dedup.ensureParallelism(
        scan.select(col("v")).filter(col("v") > 0L)).rdd.getNumPartitions > 1)
      // checkpointed 1-partition frame (in-memory corpus): repartitioned —
      // the round-13 inputFiles gate silently dropped this floor
      val ckpt = (1L to 100L).toDF("v").coalesce(1).localCheckpoint()
      assert(Dedup.ensureParallelism(ckpt).rdd.getNumPartitions > 1)
      // derived frame (been through a shuffle): left untouched — no extra
      // repartition down to defaultParallelism
      val derived = scan.groupBy(col("v")).count()
      assert(Dedup.ensureParallelism(derived) eq derived)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("threshold levenshtein contract: −1-above-threshold rows are filtered, never kept") {
    // sortedNeighborhood: an adjacent pair at distance 2 must vanish at
    // maxDist = 1 (the threshold form returns −1 there, which would sort
    // below any real distance if unfiltered — it must simply be absent)
    val docs = Seq((1L, "abcde"), (2L, "abcdX"), (3L, "abXYZ")).toDF("doc_id", "text")
    val sn1 = Dedup.sortedNeighborhood(docs, "doc_id", "text", windowSize = 3, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(sn1 === Map((1L, 2L) -> 1))

    // editDistanceVerify: with maxLen = 4 and minSim = 0.5 the global
    // threshold is 3, so a distance-4 pair hits the −1 path; an
    // unfiltered −1 would compute sim = 1 − (−1)/4 = 1.25 and WRONGLY
    // pass the sim floor — the pair must be absent instead
    val far = Seq((1L, "abcd"), (2L, "wxyz"), (3L, "abcz")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.editDistanceVerify(pairs, far, "doc_id", "text",
      minSim = 0.5, maxLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((1L, 3L) -> 1L))
  }
}
