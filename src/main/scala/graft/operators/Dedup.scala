package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Hashing, Text}

/**
 * Deduplication operators for large-scale corpus curation: exact,
 * MinHash+LSH, SimHash, and n-gram Jaccard. Everything is built from
 * codegen'd built-ins; the only shuffles are the groupBy on the dedup key
 * (exact) or the band/bucket key (LSH) — both hash-partitioned and
 * AQE-skew-safe, so the shapes hold at 100 TB.
 *
 * Hash functions are the portable md5-derived family from [[Text]] — the
 * exact same arithmetic is expressible in DuckDB SQL, which is what lets the
 * driver hash-compare MinHash/SimHash outputs against an oracle instead of a
 * weak rows-only check.
 */
object Dedup {

  /**
   * Spread a small input across the cluster before expression-heavy
   * per-row work. A single small parquet file arrives as ONE partition, which
   * would serialize the whole hash pipeline onto one core; a corpus at real
   * scale already has many partitions and is left untouched (repartitioning
   * 100 TB to `defaultParallelism` would be a catastrophic shuffle).
   */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Cheap LOGICAL-plan inspection only — touching .rdd would force full
    // physical planning just to read a partition count. Three regimes:
    //  - bare file scan (Project/Filter over a relation): gate on the
    //    file count; few files would serialize the hash pipeline.
    //  - bare checkpointed RDD (the localCheckpoint frames the operators
    //    hand around): its partition count is already materialized on the
    //    RDD — read it directly, no planning.
    //  - anything derived (joins/aggregates upstream): left untouched —
    //    it has been through a shuffle at spark.sql.shuffle.partitions,
    //    and repartitioning a 100 TB derived frame to defaultParallelism
    //    would be a catastrophic extra shuffle.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    def leaf(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project       => leaf(pr.child)
      case f: Filter         => leaf(f.child)
      case s: SubqueryAlias  => leaf(s.child)
      case other             => other
    }
    leaf(df.queryExecution.analyzed) match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation |
          _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        val files = df.inputFiles.length
        if (files > 0 && files < target) df.repartition(target) else df
      case r: org.apache.spark.sql.execution.ExternalRDD[_] =>
        if (r.rdd.getNumPartitions < target) df.repartition(target) else df
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        if (r.rdd.getNumPartitions < target) df.repartition(target) else df
      case _ => df
    }
  }

  /** Dense 1-based global rank without a single-partition window — moved
    * to the shared [[Ranks.withGlobalRank]] once Analytics' model-eval
    * family started importing it; this alias keeps the historic call
    * sites and specs stable. */
  private[graft] def withGlobalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String
  ): DataFrame = Ranks.withGlobalRank(df, sortCols, rankCol)

  /**
   * Exact dedup on a normalized-text fingerprint: one hash-groupBy shuffle.
   * Returns one row per distinct content with the canonical (min) id and the
   * number of copies.
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /**
   * Sorted-neighborhood dedup (Hernández & Stolfo 1995's merge/purge
   * blocking): sort the corpus by a normalized sort key, slide a window
   * of `windowSize` positions, and verify each in-window pair with exact
   * Levenshtein distance ≤ `maxDist` — the entity-resolution shape for
   * records whose near-duplicates cluster under a sort (names, addresses,
   * templated text), complementing the MinHash family (token-set
   * similarity) with EDIT similarity. Candidates are |rows|·(w−1) pairs,
   * never all-pairs. Returns `(id_a, id_b, dist)` with id_a < id_b.
   *
   * The rank comes from [[withGlobalRank]] — a RANGE partition on the
   * sort key with per-partition row_numbers plus cumulative offsets, so
   * the global order is exact but no task ever sorts more than its range
   * slice (no single-partition window anywhere in the plan; PlanSpec-
   * pinned). Cross-boundary pairs need no special casing: pairing is by
   * RANK ARITHMETIC (rank + 1 … rank + w−1) through a hash join on the
   * target rank, which crosses partition boundaries for free — the
   * boundary-overlap copy a mapPartitions spelling would need is implicit
   * in the join.
   */
  def sortedNeighborhood(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowSize: Int,
      maxDist: Int
  ): DataFrame = {
    require(windowSize >= 2 && maxDist >= 0, "need windowSize >= 2 and maxDist >= 0")
    val norm = lower(trim(regexp_replace(col(textCol), "\\s+", " ")))
    val ranked = withGlobalRank(
      df.select(col(idCol).as("__id"), norm.as("__t")),
      Seq(col("__t"), col("__id")), "__rn")
      .localCheckpoint() // ranked feeds both sides of the window self-join
    ranked
      .select(col("__id").as("ida"), col("__t").as("ta"), col("__rn"),
        explode(sequence(lit(1L), lit((windowSize - 1).toLong))).as("__o"))
      .select(col("ida"), col("ta"), (col("__rn") + col("__o")).as("__rnb"))
      .join(ranked.select(col("__id").as("idb"), col("__t").as("tb"),
        col("__rn").as("__rnb")), Seq("__rnb"))
      // length-delta prefilter (dist >= |len(a)-len(b)| always) + the
      // banded threshold form: O(len·τ) with early exit vs the full
      // O(len²) DP, returning −1 above maxDist — filtered by `>= 0`
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("dist"))
  }

  /**
   * EXACT-threshold all-pairs similarity join via prefix filtering
   * (Bayardo et al. 2007 / PPJoin's prefix principle): every pair of
   * documents whose word-SET Jaccard ≥ `minSimMicro∕10⁶` — no LSH misses,
   * no probabilistic banding. Tokens are globally ordered rarest-first
   * (ascending document frequency, ties by token); each document's
   * candidate prefix is its first `n − ⌈t·n⌉ + 1` tokens in that order —
   * the prefix theorem: two sets with Jaccard ≥ t MUST share a prefix
   * token, so pairing documents within prefix-token buckets generates a
   * complete candidate set, and an exact intersect verifies each pair
   * once. Returns `(id_a, id_b, jaccard_micro)` with id_a < id_b.
   *
   * Complements [[minHashLsh]]: LSH is the constant-work-per-doc screen
   * for "most duplicates"; this is the EXACT join for "every pair above
   * t", with work bounded by rare-token bucket sizes instead of all-pairs
   * (common tokens never appear in prefixes of high-threshold queries).
   *
   * Scale shape: token ranks are one vocab-sized aggregate ranked by the
   * range-partitioned [[withGlobalRank]] (no single-partition window); the
   * candidate shuffle carries (rank, id) pairs keyed by PREFIX tokens
   * only; verification joins rank-array payloads for candidate ids only.
   */
  def allPairsJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSimMicro: Long
  ): DataFrame = {
    require(minSimMicro > 0L && minSimMicro <= 1000000L,
      "minSimMicro must lie in (0, 1000000]")
    val toks = df
      .select(col(idCol).as("__id"),
        array_distinct(Text.tokens(col(textCol))).as("__ts"))
      .filter(size(col("__ts")) > 0)
    val ranks = withGlobalRank(
      toks
        .select(explode(col("__ts")).as("__t"))
        .groupBy(col("__t"))
        .agg(count(lit(1)).as("__f")),
      Seq(col("__f"), col("__t")), "__r")
    val docRanks = toks
      .select(col("__id"), explode(col("__ts")).as("__t"))
      .join(ranks.select(col("__t"), col("__r")), Seq("__t"))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__r"))).as("__rs"))
      .withColumn("__n", size(col("__rs")).cast("long"))
      .withColumn("__p",
        col("__n") - expr(s"($minSimMicro * __n + 999999L) DIV 1000000L") + 1L)
      .localCheckpoint() // feeds both candidate generation and verification
    // Candidate pruning (r18, guide §2.3/§3.2 — shuffle fewer rows into the
    // pair distinct and verify fewer pairs; both filters are EXACT):
    //  - length filter: J(a,b) >= t forces min(n_a,n_b) >= t*max(n_a,n_b);
    //  - positional filter (PPJoin, Xiao et al. 2008): a pair is reachable
    //    only through a shared prefix token whose remaining-suffix overlap
    //    bound min(n_a-pos_a, n_b-pos_b)+1 still reaches the required
    //    overlap alpha = ceil(t/(1+t)·(n_a+n_b)); the FIRST common token
    //    of a qualifying pair always satisfies the bound, so dropping
    //    non-qualifying matched rows never loses a pair.
    // Measured at sf0.1 (%5 docs fixture): pre-distinct rows 2.62M -> 0.95M,
    // verified pairs 491k -> 317k (true pairs 205k).
    val prefixes = docRanks
      .select(col("__id"), col("__n"),
        posexplode(expr("slice(__rs, 1, CAST(__p AS INT))")).as(Seq("__pos", "__pr")))
    val cands = prefixes
      .select(col("__id").as("id_a"), col("__n").as("__la"),
        col("__pos").as("__pa"), col("__pr"))
      .join(prefixes.select(col("__id").as("id_b"), col("__n").as("__lb"),
        col("__pos").as("__pb"), col("__pr")), Seq("__pr"))
      .filter(col("id_a") < col("id_b") &&
        col("__la") * minSimMicro <= col("__lb") * 1000000L &&
        col("__lb") * minSimMicro <= col("__la") * 1000000L &&
        // alpha via integer ceil-division (DIV) — float division could
        // round across an integer boundary and over-tighten the bound
        expr(s"least(__la - __pa, __lb - __pb) >= " +
          s"(${minSimMicro}L * (__la + __lb) + ${1000000L + minSimMicro - 1L}L)" +
          s" DIV ${1000000L + minSimMicro}L"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cands
      .join(docRanks.select(col("__id").as("id_a"), col("__rs").as("__ra"),
        col("__n").as("__na")), Seq("id_a"))
      .join(docRanks.select(col("__id").as("id_b"), col("__rs").as("__rb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("__i", size(array_intersect(col("__ra"), col("__rb"))).cast("long"))
      .withColumn("jaccard_micro",
        expr("(__i * 1000000L) DIV (__na + __nb - __i)"))
      .filter(col("jaccard_micro") >= minSimMicro)
      .select(col("id_a"), col("id_b"), col("jaccard_micro"))
  }

  /**
   * EXACT edit-distance threshold self-join (the PassJoin pigeonhole, Li,
   * Deng & Feng 2011): every unordered pair with `levenshtein ≤ tau`,
   * verified — the character-level sibling of [[allPairsJaccard]]'s exact
   * token-set join. Pigeonhole: split s into τ+1 chunks; if ed(s,t) ≤ τ,
   * some chunk survives an optimal alignment unedited, so it occurs in t
   * EXACTLY, at a start shifted by at most τ. Candidates are therefore an
   * equi-join of index chunks against the probe's (length, chunk-index,
   * ±τ-position) substring grid — a BOUNDED (2τ+1)²·(τ+1) substrings per
   * probe row, independent of string length — then the banded threshold
   * `levenshtein` verifies. Intended for short strings (names, titles,
   * URLs).
   *
   * Chunk SELECTIVITY is the whole cost story: completeness holds for
   * ANY fixed disjoint τ+1-cover per length class, but an even split
   * puts templated corpora ("Customer#000001…") in trouble — the chunk
   * that lands on the constant prefix matches everything, and the pair-up
   * through it goes quadratic. `balanced = true` (the default) therefore
   * chooses the cut points per length class from OBSERVED per-position
   * character diversity: one stats aggregate computes how many distinct
   * characters appear at each position of each length class, the driver
   * splits the cumulative log-diversity mass into τ+1 equal shares
   * (clamped to non-empty chunks), and both the index and the probe grid
   * ride the same broadcast boundary table. Constant regions get
   * absorbed into chunks that also cover varying characters, so every
   * chunk keeps discriminating power — on the templated fixture this
   * cuts candidates by ~an order of magnitude. The stats frame is
   * (length classes × max length) rows — driver-bounded for the short-
   * string domain this operator targets.
   *
   * Strings shorter than τ+1 characters cannot donate τ+1 non-empty
   * chunks; they pair only with strings of length ≤ 2τ+1 (the length
   * filter), so that micro-band joins by LENGTH KEY instead — bounded by
   * the alphabet, negligible in real data.
   *
   * Scale shape: ONE medium shuffle total — the candidate equi-join
   * shuffles the PRE-fan-out grids ((2τ+1)²(τ+1) substring rows per
   * string, each carrying the short text), the joined pair stream stays
   * in-stage through the map-side banded verify, and only the few
   * SURVIVORS reach the final distinct. Candidate duplicates (bounded
   * ≤ (2τ+1)²(τ+1) per pair) re-verify for microseconds instead of
   * paying a multi-million-row pre-verify distinct — measured 7.0 → 1.7 s
   * on the templated fixture vs the dedupe-first spelling. Every join is
   * hash-equi (no inequality nested-loop).
   */
  def edThresholdJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tau: Int,
      balanced: Boolean = true
  ): DataFrame = {
    require(tau >= 1 && tau <= 4, "tau must lie in [1, 4]")
    // ensureParallelism matters here more than anywhere: the candidate
    // join BROADCASTS the chunk index against the probe grid, so the
    // multi-million-row pair fan-out and the lev verify inherit the BASE
    // frame's partitioning — a small single-file corpus would otherwise
    // run the whole operator on one core (measured 6.8 s → 1.9 s on the
    // 2143-row templated fixture).
    val base = ensureParallelism(df
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
      .filter(col("__t").isNotNull)
      .withColumn("__len", length(col("__t")).cast("long"))
      .localCheckpoint()) // feeds index, probe, short band, and verify
    // Candidates arrive WITH duplicates and WITH both texts carried
    // through the (pre-fan-out) candidate join, so verification is pure
    // map-side work on the join output — no text-fetch joins, no
    // pre-verify distinct; only the survivors shuffle at the end.
    edCandidatePairs(base, tau, balanced)
      // length-delta prefilter + banded threshold levenshtein (−1 above
      // τ, filtered by `>= 0`): O(len·τ) per surviving candidate
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= tau)
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), tau).cast("long"))
      .filter(col("dist") >= 0L && col("dist") <= tau.toLong)
      .select(col("id_a"), col("id_b"), col("dist"))
      .distinct()
  }

  /** [[edThresholdJoin]]'s candidate set (id_a < id_b, WITH duplicates
    * and with both texts as `__ta`/`__tb` — the caller verifies map-side
    * and dedupes the survivors), exposed package-private so the
    * selectivity A/B is spec-checkable. `base` must carry
    * (__id, __t, __len).
    *
    * COST-ROUTED per length class: before pairing, one cheap histogram
    * join computes each class's exact chunk-candidate row count
    * (Σ |index bucket|·|probe bucket| over its (chunk, i) keys — bucket
    * SIZES multiply, no pair ever materializes), and compares it to the
    * plain length-band pair count N_ls·Σ_{|l−ls|≤τ}N_l. A class whose
    * chunk signatures are degenerate (the templated constant-prefix
    * regime: every row shares a chunk value, candidates ≈ all-pairs × the
    * (2τ+1)² probe slack) routes to the BAND join instead — each of its
    * strings pairs once with every string within ±τ length, no substring
    * explosion, no duplicate storm through distinct — which is exactly
    * the candidate floor such a class forces anyway, and the banded
    * threshold verify absorbs it. Completeness per pair needs only the
    * index direction of ONE side, which both modes provide, so routing
    * classes independently is sound.
    */
  private[graft] def edCandidatePairs(
      base: DataFrame,
      tau: Int,
      balanced: Boolean
  ): DataFrame = {
    val n = tau + 1
    val (long, chunks, probes, info) = edGrids(base, tau, balanced)
    val routing = edRouting(info, chunks, probes, tau)
    val bandClasses = routing.bandClasses
    val chunkFilter =
      if (bandClasses.isEmpty) lit(true) else !col("__ls").isin(bandClasses: _*)
    val longCands = chunks.filter(chunkFilter)
      .select(col("__id").as("id_a"), col("__t").as("__ta"),
        col("__c"), col("__i"), col("__ls"))
      .join(probes.filter(chunkFilter)
        .select(col("__id").as("id_b"), col("__t").as("__tb"),
          col("__c"), col("__i"), col("__ls")),
        Seq("__c", "__i", "__ls"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("__ta"), col("__tb"))
    // band-routed classes: index direction = pair with everything within
    // ±τ length, one hash join on the length key
    val bandCands =
      if (bandClasses.isEmpty) longCands.limit(0)
      else long.filter(col("__len").isin(bandClasses: _*))
        .select(col("__id").as("id_a"), col("__t").as("__ta"),
          explode(sequence(col("__len") - tau, col("__len") + tau)).as("__lk"))
        .join(long.select(col("__id").as("id_b"), col("__t").as("__tb"),
          col("__len").as("__lk")), Seq("__lk"))
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          col("__ta"), col("__tb"))
    // the sub-(τ+1) micro-band: length-keyed candidates among strings
    // that can pair with a short string at all (len ≤ 2τ+1)
    val band = base.filter(col("__len") <= 2L * tau + 1)
      .withColumn("__lk", explode(sequence(col("__len") - tau, col("__len") + tau)))
    val shortCands = base.filter(col("__len") < n)
      .select(col("__id").as("id_a"), col("__t").as("__ta"), col("__len").as("__lk"))
      .join(band.select(col("__id").as("id_b"), col("__t").as("__tb"), col("__lk")),
        Seq("__lk"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("__ta"), col("__tb"))
    longCands.unionByName(bandCands).unionByName(shortCands)
  }

  /** The (long strings, index chunks, probe substrings, bounds info)
    * shared by candidate generation and routing stats. */
  private def edGrids(
      base: DataFrame,
      tau: Int,
      balanced: Boolean
  ): (DataFrame, DataFrame, DataFrame, EdBoundsInfo) = {
    val n = tau + 1
    val long = base.filter(col("__len") >= n)
    val info = edChunkBounds(long, tau, balanced)
    val bounds = broadcast(info.bounds)
    // index side: each string's τ+1 chunks, cut at its length class's
    // boundaries
    val chunks = long
      .join(bounds, col("__len") === col("__bls"))
      .select(col("__id"), col("__t"),
        expr("substring(__t, CAST(__start AS INT) + 1, CAST(__clen AS INT))").as("__c"),
        col("__i"), col("__len").as("__ls"))
    // probe side: for each plausible source length ls = len±δ, the class-
    // ls chunk boundaries, shifted ±τ — the substring of t each source
    // chunk would have to match exactly
    val probes = long
      .select(col("__id"), col("__t"), col("__len"),
        explode(sequence(lit(-tau), lit(tau))).as("__d"))
      .withColumn("__ls", col("__len") + col("__d"))
      .join(bounds, col("__ls") === col("__bls"))
      .withColumn("__pd", explode(sequence(lit(-tau), lit(tau))))
      .withColumn("__pos", col("__start") + col("__pd"))
      .filter(col("__pos") >= 0L && col("__pos") + col("__clen") <= col("__len"))
      .select(col("__id"), col("__t"),
        expr("substring(__t, CAST(__pos AS INT) + 1, CAST(__clen AS INT))").as("__c"),
        col("__i"), col("__ls"))
    (long, chunks, probes, info)
  }

  /** [[edRouting]] from a raw (__id, __t, __len) frame — the spec's
    * window into the routing decision. */
  private[graft] def edRoutingFor(
      base: DataFrame,
      tau: Int,
      balanced: Boolean
  ): EdRouting = {
    val (_, chunks, probes, info) = edGrids(base, tau, balanced)
    edRouting(info, chunks, probes, tau)
  }

  /** Per-class routing stats for [[edCandidatePairs]]: `chunkRows(ls)` is
    * the EXACT number of rows the chunk-signature join would produce for
    * index class ls (Σ |index bucket|·|probe bucket|), `classN` the class
    * sizes, `bandClasses` the classes whose chunk join would cost more
    * rows than the plain ±τ length-band pair-up. An empty `chunkRows`
    * means the exact histogram pass was SKIPPED because every class is
    * provably selective from the driver-side diversity masses alone
    * (upper bound N²·(2τ+1)²∕exp(min chunk mass), required 4× under the
    * band cost) — the common diverse-corpus fast path, one job saved. */
  private[graft] case class EdRouting(
      chunkRows: Map[Long, Long],
      classN: Map[Long, Long],
      bandClasses: Seq[Long])

  private[graft] def edRouting(
      info: EdBoundsInfo,
      chunks: DataFrame,
      probes: DataFrame,
      tau: Int
  ): EdRouting = {
    val classN = info.classN
    def bandRows(ls: Long): Long =
      classN(ls) * (-tau to tau).map(d => classN.getOrElse(ls + d, 0L)).sum
    val slack = (2.0 * tau + 1) * (2.0 * tau + 1)
    val obviouslySelective = info.chunkMass.nonEmpty && classN.forall {
      case (ls, nl) =>
        val minMass = info.chunkMass.get(ls).map(_.min).getOrElse(0.0)
        nl.toDouble * nl * slack / math.exp(minMass) * 4 < bandRows(ls).toDouble
    }
    if (obviouslySelective) return EdRouting(Map.empty, classN, Nil)
    val chunkRows: Map[Long, Long] = chunks
      .groupBy(col("__c"), col("__i"), col("__ls")).agg(count(lit(1)).as("__ic"))
      .join(
        probes.groupBy(col("__c"), col("__i"), col("__ls")).agg(count(lit(1)).as("__pc")),
        Seq("__c", "__i", "__ls"))
      .groupBy(col("__ls")).agg(sum(col("__ic") * col("__pc")).as("__rows"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    EdRouting(chunkRows, classN,
      classN.keys.toSeq.filter(ls => chunkRows.getOrElse(ls, 0L) > bandRows(ls)).sorted)
  }

  /**
   * Per-length-class chunk boundary table `(__bls, __i, __start, __clen)`
   * for the pigeonhole: τ+1 non-empty contiguous chunks covering each
   * observed length class. `balanced = false` is the arithmetic even
   * split; `balanced = true` places the cuts so each chunk carries an
   * equal share of the class's cumulative per-position log-diversity
   * (ln of the distinct-character count at that position — one exact
   * aggregate whose result is (classes × max length) rows, collected).
   * All-constant classes (zero mass) fall back to the even split.
   */
  private[graft] case class EdBoundsInfo(
      bounds: DataFrame,
      chunkMass: Map[Long, Seq[Double]], // per class: log-diversity mass per chunk (balanced only)
      classN: Map[Long, Long])

  private def edChunkBounds(
      long: DataFrame,
      tau: Int,
      balanced: Boolean
  ): EdBoundsInfo = {
    val spark = long.sparkSession
    import spark.implicits._
    val n = tau + 1
    // ONE stats job either way: balanced rides the per-(class, position)
    // distinct-character aggregate (whose p = 0 row counts double as the
    // class sizes); the even split needs only the class sizes
    var classN = Map.empty[Long, Long]
    val weights: Map[(Long, Int), Double] =
      if (!balanced) {
        classN = long.groupBy(col("__len")).count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Map.empty
      } else {
        val st = long
          .select(col("__len"), posexplode(split(col("__t"), "")).as(Seq("__p", "__ch")))
          .groupBy(col("__len"), col("__p"))
          .agg(countDistinct(col("__ch")).as("__d"), count(lit(1)).as("__n"))
          .collect()
        classN = st.filter(_.getInt(1) == 0).map(r => r.getLong(0) -> r.getLong(3)).toMap
        st.map(r => (r.getLong(0), r.getInt(1)) -> math.log(r.getLong(2).toDouble)).toMap
      }
    val lens: Array[Long] = classN.keys.toArray.sorted
    var chunkMass = Map.empty[Long, Seq[Double]]
    val rows = lens.flatMap { ls =>
      val l = ls.toInt
      val w = (0 until l).map(p => weights.getOrElse((ls, p), 0.0))
      val total = w.sum
      val cuts: IndexedSeq[Int] =
        if (total <= 0.0) (0 to n).map(i => ((ls * i) / n).toInt)
        else {
          val cum = w.scanLeft(0.0)(_ + _) // cum(p) = mass of positions < p
          val raw = (0 to n).map { i =>
            if (i == 0) 0
            else if (i == n) l
            else {
              val target = total * i / n
              val p = cum.indexWhere(_ >= target - 1e-12)
              if (p < 0) l else p
            }
          }
          // clamp to strictly increasing cuts with room for the
          // remaining chunks — every chunk must be non-empty
          raw.zipWithIndex.foldLeft(Vector.empty[Int]) { case (acc, (c, i)) =>
            val lo = if (acc.isEmpty) 0 else acc.last + (if (i == 0) 0 else 1)
            acc :+ math.min(math.max(c, lo), l - (n - i))
          }
        }
      if (balanced)
        chunkMass += ls -> (0 until n).map(i => w.slice(cuts(i), cuts(i + 1)).sum)
      (0 until n).map(i => (ls, i, cuts(i).toLong, (cuts(i + 1) - cuts(i)).toLong))
    }
    EdBoundsInfo(rows.toSeq.toDF("__bls", "__i", "__start", "__clen"), chunkMass, classN)
  }

  /** Keep only the canonical copy of each distinct content. */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(Text.fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * MinHash signature: k minimums over the shingle set of the hash family
   * h_i(s) = (A_i * h(s) + B_i) mod p, where h is [[Text.portableHash31]],
   * A_i = (MulA * (i+1)) mod p and B_i = (MulB * (i+13)) mod p.
   *
   * Evaluated by the native [[graft.functions.PortableMinHash31Expr]] — one
   * JVM loop per row (each shingle md5'd once, k running minima), value-
   * identical to the documented formula, so the DuckDB oracle replicates it
   * arithmetically. Measured ~20x less per-document CPU than the
   * `aggregate`/`zip_with` HOF spelling (interpreted, boxing per element),
   * which [[minHashSignatureHof]] preserves as the cross-check reference;
   * a `transform`-per-seed shape is worse still (the round-1 scale-killer:
   * 64 duplicated tokenize→shingle pipelines, 238 s for 5k docs).
   */
  def minHashSignature(shingles: Column, k: Int): Column =
    graft.functions.HashExpressions.portableMinhashSignature(shingles, k)

  /** The single-`aggregate` HOF spelling of [[minHashSignature]] — kept as
    * the executable specification the native expression is spec-checked
    * against (`DedupSpec` asserts bit-equality on real documents). */
  private[graft] def minHashSignatureHof(shingles: Column, k: Int): Column = {
    val p = Hashing.P31
    val hashes = transform(shingles, s => Text.portableHash31(s))
    aggregate(
      hashes,
      array_repeat(lit(p), k),
      (acc, h) =>
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(k - 1)),
            i => (lit(Hashing.MulA) * (i + 1) % p * h + lit(Hashing.MulB) * (i + 13) % p) % p
          ),
          (a, b) => least(a, b)
        )
    )
  }

  /** LSH band keys: the signature cut into `bands` slices of `r` values each,
    * rendered as comma-joined strings. Band equality ⇔ slice equality, so no
    * re-hash is needed — and the string form is portable to the SQL oracle. */
  private def bandKeys(sig: Column, bands: Int, r: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(sig, b * r + 1, lit(r)))
    )

  /**
   * MinHash + LSH candidate pairs: band the signature (bands × rowsPerBand =
   * k), shuffle on (band, bandKey), and pair up documents that collide in at
   * least one band. Estimated Jaccard = fraction of matching minhashes; pairs
   * below `minSim` are dropped.
   *
   * Scale shape: signatures are computed once and persisted (id + k longs —
   * tiny next to the corpus); only (id, band, key) rows go through the band
   * shuffle, NOT the signatures (carrying the k-wide array through the
   * explode would multiply shuffle volume by bands). Surviving candidate
   * pairs — a small set — join the signatures back for verification. Giant
   * buckets (degenerate content) are capped at `maxBucket` docs to keep the
   * quadratic pair-up bounded.
   */
  def minHashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minSim: Double = 0.6,
      maxBucket: Int = 1000
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val sigs = ensureParallelism(df)
      .select(
        col(idCol).as("id"),
        minHashSignature(Text.wordShingles(col(textCol), shingleLen), numHashes).as("sig")
      )
    lshPairsFromSignatures(sigs, numHashes, bands, minSim, maxBucket)
  }

  /**
   * Materialize a REUSABLE MinHash LSH index of a corpus: the incremental
   * form of [[minHashLsh]]. Two bucketed tables are written —
   * `<table>_buckets` (band, bkey, id), bucketed by (band, bkey), giant
   * buckets pre-capped at `maxBucket` ids; and `<table>_sigs` (id, sig),
   * bucketed by id. A later [[minHashLshAgainstIndex]] probes new documents
   * against the index WITHOUT re-hashing or re-shuffling the corpus: both
   * joins read the corpus through its bucketed layout, so only the (small)
   * new batch moves. This is the dedup analog of the dataset model's
   * incremental transforms — at 100 TB the corpus is banded once at ingest,
   * and each increment pays O(new batch), not O(corpus).
   */
  def materializeMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000,
      numBuckets: Int = 64
  ): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val r = numHashes / bands
    val spark = df.sparkSession
    val sigs = ensureParallelism(df).select(
      col(idCol).as("id"),
      minHashSignature(Text.wordShingles(col(textCol), shingleLen), numHashes).as("sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sigs
      .select(col("id"), posexplode(bandKeys(col("sig"), bands, r)).as(Seq("band", "bkey")))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("band"), col("bkey")).orderBy(col("id"))))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")
    save(spark, banded, s"${table}_buckets", numBuckets, "band", "bkey")
    save(spark, sigs, s"${table}_sigs", numBuckets, "id")
    sigs.unpersist(blocking = false)
  }

  /** Drop-then-save a (optionally bucketed) managed table, clearing any
    * stale warehouse directory first (a previous run's leftover files would
    * otherwise fail or shadow the overwrite). `numBuckets <= 0` saves a
    * plain unbucketed table. */
  private def save(
      spark: org.apache.spark.sql.SparkSession,
      d: DataFrame,
      name: String,
      numBuckets: Int,
      keys: String*
  ): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new org.apache.hadoop.fs.Path(wh, name.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = d.write.mode("overwrite")
    if (numBuckets > 0)
      w.bucketBy(numBuckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(name)
    else w.saveAsTable(name)
  }

  /**
   * Append a new batch into a [[materializeMinhashIndex]] index IN PLACE —
   * the maintenance half of the incremental dedup loop: probe the batch
   * ([[minHashLshAgainstIndex]]), commit it, then append it here so the
   * NEXT batch sees it. `insertInto` writes through the tables' existing
   * bucket spec (new bucket files land beside the old ones; readers merge
   * per bucket id), so an append moves O(new batch) bytes — the index is
   * NEVER rebuilt, which at 100 TB ingest cadence is the difference between
   * an O(batch) tick and an O(corpus) one.
   *
   * The per-bucket cap is maintained on append: each (band, bkey)'s
   * remaining capacity (maxBucket − existing rows, from one aggregation
   * that reads the bucketed table with no shuffle) admits the new batch's
   * lowest-id rows. With monotonically increasing ids across batches (the
   * dataset model's offset discipline) an appended index is ROW-IDENTICAL
   * to a fresh full materialization of the union — `DedupSpec` pins this.
   * Ids already present in the index are skipped (idempotent re-ingest).
   */
  def appendToMinhashIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 1000
  ): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val r = numHashes / bands
    val spark = newDocs.sparkSession
    val known = spark.table(s"${table}_sigs").select(col("id"))
    val newSigs = ensureParallelism(newDocs)
      .select(
        col(idCol).as("id"),
        minHashSignature(Text.wordShingles(col(textCol), shingleLen), numHashes).as("sig"))
      .join(known, Seq("id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bucketsTable = s"${table}_buckets"
    // remaining capacity per bucket the batch touches: the count aggregates
    // the corpus table ON ITS OWN bucketing keys — a bucketed scan, no
    // corpus shuffle; only (band, bkey, n) rows meet the new batch
    val existing = spark.table(bucketsTable)
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("__n"))
    val newBanded = newSigs
      .select(col("id"), posexplode(bandKeys(col("sig"), bands, r)).as(Seq("band", "bkey")))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("band"), col("bkey")).orderBy(col("id"))))
      .join(existing, Seq("band", "bkey"), "left")
      .filter(col("__rn") + coalesce(col("__n"), lit(0L)) <= maxBucket)
      // crash-safe re-run: a prior append that died between the two
      // insertIntos may have committed these band rows already (the _sigs
      // anti-join above can't see that — the batch never reached _sigs).
      // Anti-joining on (band, bkey, id) makes the bucket insert idempotent
      // too; the join keys cover the bucket spec, so the corpus side is a
      // bucketed scan and only the batch shuffles.
      .join(
        spark.table(bucketsTable).select(col("band"), col("bkey"), col("id")),
        Seq("band", "bkey", "id"), "left_anti")
    // insertInto is positional: line the columns up with the stored layout
    newBanded
      .select(spark.table(bucketsTable).columns.map(col).toSeq: _*)
      .write.insertInto(bucketsTable)
    newSigs
      .select(spark.table(s"${table}_sigs").columns.map(col).toSeq: _*)
      .write.insertInto(s"${table}_sigs")
    newSigs.unpersist(blocking = false)
  }

  /**
   * Near-dup pairs of a NEW batch against a corpus indexed by
   * [[materializeMinhashIndex]] (same shingleLen/numHashes/bands as at
   * materialization — the index stores banded keys, not parameters).
   * Returns (id_new, id_corpus, est_jaccard) with `est_jaccard >= minSim`;
   * rows whose ids collide with their own corpus entry (re-ingest of an
   * already-indexed document) are excluded by id inequality.
   *
   * Scale shape: the new batch is hashed and banded (map-only), joined to
   * the bucketed corpus band table, then the surviving candidates join the
   * bucketed signature table — the corpus is never re-hashed, and neither
   * corpus table is re-shuffled (bucketed scan join); shuffle volume is
   * O(new batch + candidates).
   */
  def minHashLshAgainstIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minSim: Double = 0.6
  ): DataFrame = {
    val (out, newSigs) =
      probeIndexPlan(newDocs, idCol, textCol, table, shingleLen, numHashes, bands, minSim)
    // checkpoint: the probe fans out to several consumers (dedup decision,
    // cluster pairs) and the persisted batch signatures can be released
    val cp = out.localCheckpoint()
    newSigs.unpersist(blocking = false)
    cp
  }

  /** [[minHashLshAgainstIndex]] BEFORE its lineage cut — exposed so
    * `PlanSpec` can pin the probe's physical plan (the checkpointed result
    * is an opaque ExistingRDD). Returns (probe, persisted batch signatures
    * for the caller to unpersist). */
  private[operators] def probeIndexPlan(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int,
      minSim: Double
  ): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val r = numHashes / bands
    val spark = newDocs.sparkSession
    val newSigs = ensureParallelism(newDocs).select(
      col(idCol).as("id_new"),
      minHashSignature(Text.wordShingles(col(textCol), shingleLen), numHashes).as("sig_new")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    val newBanded = newSigs.select(
      col("id_new"),
      posexplode(bandKeys(col("sig_new"), bands, r)).as(Seq("band", "bkey")))
    val cand = newBanded
      .join(spark.table(s"${table}_buckets"), Seq("band", "bkey"))
      .filter(col("id_new") =!= col("id"))
      .select(col("id_new"), col("id").as("id_corpus"))
      .dropDuplicates("id_new", "id_corpus")
    val out = cand
      .join(spark.table(s"${table}_sigs").select(col("id").as("id_corpus"), col("sig")),
        Seq("id_corpus"))
      .join(newSigs, Seq("id_new"))
      .withColumn(
        "est_jaccard",
        aggregate(
          zip_with(col("sig_new"), col("sig"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0),
          (acc, v) => acc + v
        ).cast("double") / numHashes)
      .filter(col("est_jaccard") >= minSim)
      .select(col("id_new"), col("id_corpus"), col("est_jaccard"))
    (out, newSigs)
  }

  /**
   * CROSS-corpus near-dedup: drop every document of `docs` that
   * near-duplicates (MinHash-estimated Jaccard ≥ `minSim`) ANY document of
   * `refDocs` — train/eval separation at the NEAR-dup level, where
   * [[Corpus.decontaminate]] is the exact-shared-n-gram level (a
   * paraphrased benchmark passage slips the n-gram check but not this
   * one). Both sides hash map-only; the band join carries (id, band, key)
   * rows; surviving candidate pairs verify by signature agreement and the
   * hit ids anti-join back — document text never shuffles. The reference
   * side is typically benchmark-sized; at 100 TB the corpus side is the
   * stream and the machinery is exactly [[minHashLshAgainstIndex]]'s (use
   * the materialized index when `refDocs` is itself corpus-sized).
   */
  def dedupAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      refDocs: DataFrame,
      refIdCol: String,
      refTextCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minSim: Double = 0.6,
      maxBucket: Int = 1000
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val r = numHashes / bands
    val docSigs = ensureParallelism(docs).select(
      col(idCol).as("__did"),
      minHashSignature(Text.wordShingles(col(textCol), shingleLen), numHashes).as("__dsig"))
    val refSigs = ensureParallelism(refDocs).select(
      col(refIdCol).as("__rid"),
      minHashSignature(Text.wordShingles(col(refTextCol), shingleLen), numHashes).as("__rsig"))
    val docBanded = docSigs.select(
      col("__did"), posexplode(bandKeys(col("__dsig"), bands, r)).as(Seq("band", "bkey")))
    val refBanded = refSigs
      .select(col("__rid"), posexplode(bandKeys(col("__rsig"), bands, r)).as(Seq("band", "bkey")))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("band"), col("bkey")).orderBy(col("__rid"))))
      .filter(col("__rn") <= maxBucket)
    val cand = docBanded
      .join(refBanded, Seq("band", "bkey"))
      .select(col("__did"), col("__rid"))
      .dropDuplicates("__did", "__rid")
    val hits = cand
      .join(refSigs, Seq("__rid"))
      .join(docSigs, Seq("__did"))
      .withColumn(
        "__est",
        aggregate(
          zip_with(col("__dsig"), col("__rsig"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0),
          (acc, v) => acc + v
        ).cast("double") / numHashes)
      .filter(col("__est") >= minSim)
      .select(col("__did").as(idCol))
      .distinct()
    docs.join(hits, Seq(idCol), "left_anti")
  }

  /** Shared LSH tail: band the (id, sig) frame, bucket-join candidate pairs,
    * verify by signature agreement. See [[minHashLsh]] for the scale notes. */
  private def lshPairsFromSignatures(
      sigsIn: DataFrame,
      numHashes: Int,
      bands: Int,
      minSim: Double,
      maxBucket: Int
  ): DataFrame = {
    val r = numHashes / bands
    val sigs = sigsIn.persist(StorageLevel.MEMORY_AND_DISK)

    val banded = sigs.select(
      col("id"),
      posexplode(bandKeys(col("sig"), bands, r)).as(Seq("band", "bkey"))
    )
    val capped = banded
      .withColumn(
        "__rn",
        row_number().over(Window.partitionBy(col("band"), col("bkey")).orderBy(col("id")))
      )
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")

    val a = capped.select(col("band"), col("bkey"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("bkey"), col("id").as("id_b"))
    val pairs = a
      .join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    val out = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn(
        "est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0),
          (acc, v) => acc + v
        ).cast("double") / numHashes
      )
      .filter(col("est_jaccard") >= minSim)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      // Eagerly materialize the (small) surviving-pair list, cutting lineage
      // back to the signature cache so it can be released right away —
      // long-lived library callers don't accumulate cached blocks across
      // invocations (the checkpoint blocks themselves are reclaimed by the
      // ContextCleaner when the result frame is garbage collected).
      .localCheckpoint()
    sigs.unpersist(blocking = false)
    out
  }

  /**
   * 64-bit SimHash over whitespace tokens, rendered as a 64-char '0'/'1'
   * string: per-token portable hash bits, signed bit-vote per position,
   * sign → bit. Single pass: tokens are hashed once up front
   * (`transform` over the token array), then the 64 votes fold through one
   * `aggregate`/`zip_with` — no per-seed re-tokenization.
   *
   * The bit-string representation (instead of a packed Int64) is what makes
   * the operator oracle-checkable: DuckDB can build the identical string via
   * `lpad(bin(hex::UBIGINT),64,'0')`, while signed-64 bit packing overflows
   * differently across engines.
   */
  def simHash(text: Column): Column =
    graft.functions.HashExpressions.portableSimhashBits(Text.tokens(text))

  /** The `aggregate`/`zip_with` HOF spelling of [[simHash]] — kept as the
    * executable specification the native expression is spec-checked against
    * (`DedupSpec` asserts bit-equality on real documents). */
  private[graft] def simHashHof(text: Column): Column = {
    val tokenBits = transform(Text.tokens(text), t => split(Text.portableHashBits(t), ""))
    val votes = aggregate(
      tokenBits,
      array_repeat(lit(0), 64),
      (acc, bits) => zip_with(acc, bits, (a, c) => a + when(c === "1", 1).otherwise(-1))
    )
    concat_ws("", transform(votes, v => when(v > 0, "1").otherwise("0")))
  }

  /** Per-document 64-char simhash bit-strings — one native-expression pass
    * ([[graft.functions.PortableSimHashBitsExpr]]: tokens hashed and voted
    * in a single JVM loop per row), value-identical to [[simHashHof]]. The
    * earlier explode + 64-vote-aggregate formulation needed a groupBy-on-id
    * shuffle of every (id, token) row; this shape has NO shuffle at all —
    * the corpus-sized stage is now map-only, which is exactly what you want
    * feeding the (already shuffle-light) candidate generation at 100 TB. */
  private def simHashBits(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      graft.functions.HashExpressions
        .portableSimhashBits(Text.tokens(col(textCol))).as("sh"))

  /**
   * SimHash near-dup pairs: documents whose 64-bit simhashes differ in at
   * most `maxHamming` bits. Candidate generation by the pigeonhole principle:
   * split the hash into `maxHamming + 1` chunks — any pair within the
   * distance budget must agree on at least one chunk — and shuffle on
   * (chunkIdx, chunkValue). Exact Hamming verify over the zipped bit chars.
   *
   * RECALL CAVEAT: a chunk bucket holding more than `maxBucket` documents is
   * truncated to its `maxBucket` lowest ids before the pair-up, so documents
   * beyond the cap contribute no candidate pairs FROM THAT BUCKET (they may
   * still pair through their other `maxHamming` chunks). Buckets that large
   * are near-identical boilerplate in practice — BASELINE.md records a real
   * 291-doc bucket at sf0.1 — where the surviving members already chain the
   * cluster for [[connectedComponents]]; callers needing exhaustive pairs on
   * such data must raise `maxBucket` and accept the quadratic bucket cost.
   */
  def simHashDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 256
  ): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    // Persist the (id, 64-char sh) frame: both sides of the candidate join
    // consume it, and without the persist each side re-runs the whole
    // tokenize→hash→vote pipeline (measured 2.5× the operator's total cost).
    // It is one short row per document — negligible storage at any scale.
    val hashed = simHashBits(ensureParallelism(df), idCol, textCol)
      // the bit string packed once per DOC into two longs, so the per-PAIR
      // hamming verify below is two xor+bit_counts instead of 64 substring
      // comparisons (the pair set is where the volume is)
      .withColumn("__sh_h", conv(substring(col("sh"), 1, 32), 2, 10).cast("long"))
      .withColumn("__sh_l", conv(substring(col("sh"), 33, 32), 2, 10).cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val chunked = hashed
      .select(
        col("id"),
        col("__sh_h"),
        col("__sh_l"),
        posexplode(
          transform(
            sequence(lit(0), lit(chunks - 1)),
            c => substring(col("sh"), lit(1) + c * bitsPer, lit(bitsPer))
          )
        ).as(Seq("chunk", "ckey"))
      )
    // Same degenerate-bucket cap as the LSH tail: a chunk key shared by
    // thousands of near-identical docs (boilerplate, empty docs) makes the
    // self-join quadratic — measured 22x at a 10x corpus with 10x-larger
    // clusters. Near-dups share `chunks` different keys, so pairs lost in a
    // capped bucket usually survive via a less-degenerate one.
    val cappedC = chunked
      .withColumn(
        "__rn",
        row_number().over(Window.partitionBy(col("chunk"), col("ckey")).orderBy(col("id")))
      )
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")
    val a = cappedC.select(col("chunk"), col("ckey"), col("id").as("id_a"),
      col("__sh_h").as("__ha"), col("__sh_l").as("__la"))
    val b = cappedC.select(col("chunk"), col("ckey"), col("id").as("id_b"),
      col("__sh_h").as("__hb"), col("__sh_l").as("__lb"))
    val hamming =
      bit_count(col("__ha").bitwiseXOR(col("__hb"))) +
        bit_count(col("__la").bitwiseXOR(col("__lb")))
    val out = a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      // Same cache-lifecycle contract as lshPairsFromSignatures: materialize
      // the pair list, then release the simhash cache eagerly.
      .localCheckpoint()
    hashed.unpersist(blocking = false)
    out
  }

  /**
   * Edit-distance verification of candidate pairs — the character-level
   * complement of [[ngramJaccard]]'s token-level verify (catches the
   * near-dups shingles miss: OCR noise, single-char edits inside words).
   * Returns (id_a, id_b, dist, sim) with sim = 1 − dist/max(len) kept at
   * `minSim`; Levenshtein is an exact integer both here and in the oracle
   * engine, so the stage is bit-checkable.
   *
   * Scale shape: texts join onto the (bounded) candidate pair set — NEVER
   * all pairs; per-pair cost is the BANDED O(len·τ) threshold DP
   * (τ = ⌈(1−minSim)·maxLen⌉ bounds every keepable pair's distance, so
   * the threshold form's early exit is loss-free), making this the verify
   * tier for short fields (titles, lines, URLs) or the FINAL filter after
   * cheaper tiers pruned the candidates. `maxLen` hard-caps per-pair
   * work; longer texts compare a prefix (documented FAISS-style
   * truncation, deterministic).
   */
  def editDistanceVerify(
      pairs: DataFrame, // (id_a, id_b)
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minSim: Double = 0.8,
      maxLen: Int = 1000
  ): DataFrame = {
    val t = ensureParallelism(docs).select(
      col(idCol).as("__jid"),
      substring(coalesce(col(textCol), lit("")), 1, maxLen).as("__t"))
    // A kept pair needs dist <= (1−minSim)·mx and mx <= maxLen, so a
    // GLOBAL integer threshold bounds every survivor; ceil + 1 absorbs
    // the FP boundary. The banded threshold levenshtein then runs
    // O(len·τ) with early exit (−1 above τ, filtered by `dist >= 0` —
    // sim computed from a −1 would exceed 1 and wrongly pass), and the
    // length-delta prefilter (dist >= mx−mn always) is free before it.
    val tauG = math.min(maxLen, math.ceil((1.0 - minSim) * maxLen).toInt + 1)
    pairs
      .join(t.withColumnRenamed("__jid", "id_a").withColumnRenamed("__t", "t_a"), "id_a")
      .join(t.withColumnRenamed("__jid", "id_b").withColumnRenamed("__t", "t_b"), "id_b")
      .filter(abs(length(col("t_a")) - length(col("t_b"))) <= tauG)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), tauG).cast("long"))
      .withColumn("__mx", greatest(length(col("t_a")), length(col("t_b"))).cast("long"))
      .withColumn("sim",
        when(col("__mx") === 0L, lit(1.0))
          .otherwise(lit(1.0) - col("dist").cast("double") / col("__mx").cast("double")))
      .filter(col("dist") >= 0L && col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("dist"), col("sim"))
  }

  /**
   * Exact n-gram Jaccard similarity for candidate pairs, verified by set
   * intersection over word shingles. Use after LSH candidate generation; as a
   * standalone all-pairs operator it is quadratic and only for small inputs.
   */
  def ngramJaccard(
      pairs: DataFrame, // (id_a, id_b)
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3
  ): DataFrame = {
    // spread BEFORE shingling: a single-file corpus arrives as one partition
    // and would serialize the whole shingle computation onto one core (the
    // verify stage of a 10x-corpus pipeline measured 25 s single-threaded
    // against ~3 s spread)
    val sh = ensureParallelism(docs).select(
      col(idCol).as("__jid"),
      array_distinct(Text.wordShingles(col(textCol), shingleLen)).as("__sh")
    )
    pairs
      .join(sh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", when(col("uni") > 0, col("inter") / col("uni")).otherwise(0.0))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Connected components over a near-dup pair list — the clustering stage of
   * a fuzzy-dedup pipeline (pairs from [[minHashLsh]]/[[simHashDups]]/
   * [[embeddingDupsQuantized]] → clusters → one canonical doc per cluster).
   *
   * Min-label propagation WITH per-round pointer jumping (r18): each vertex
   * takes the min label among itself and its neighbors, then additionally
   * shortcuts to its label's label (`comp <- comp(comp)`). The jump halves
   * the rounds on path-shaped components (label distance covered roughly
   * doubles per round, so O(log diameter) rounds instead of O(diameter));
   * dedup clusters are near-cliques where both converge in a couple of
   * rounds, but the proximity graphs (graph_components) carry ~20-node
   * chains where plain propagation needed 11 rounds and the jump needs 7 —
   * measured same-JVM at sf0.1: 9.6 -> 4.1 s calm pair, value-identical
   * (each round at sf-scale costs 2 tiny jobs of driver overhead, so
   * fewer rounds is the §2.6 lever). The jump adds one label-sized
   * self-join per round — node-sized, never edge-sized. Each round's
   * lineage is truncated with `localCheckpoint` so plans don't grow.
   *
   * Returns (id, comp) where comp = min id reachable from id — the
   * fixpoint is the same labeling for any propagation order, so the jump
   * cannot change the result (asserted against the plain spelling in
   * DedupSpec and by every sharing entry's oracle).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val sym = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dcomp")).as("ncomp"))
      val prop = labels
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("comp").as("__old")
        )
      // pointer jump: comp <- comp(comp). comp values are ids, so the
      // lookup is a left self-join on the label table; a missing target
      // (comp already a root) keeps the propagated label.
      val next = prop
        .join(prop.select(col("id").as("comp"), col("comp").as("__jc")), Seq("comp"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("__jc"), col("comp"))).as("comp"),
          col("__old")
        )
        .localCheckpoint()
      changed = next.filter(col("comp") =!= col("__old")).count()
      labels = next.select(col("id"), col("comp"))
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /**
   * Embedding near-dup pairs over a corpus previously materialized with
   * [[Similarity.materializeLshCorpus]]: both sides of the self-join read
   * the SAME bucketed table, so the join on `bucket` is storage-partitioned
   * — the physical plan carries no shuffle exchange at all (asserted by
   * `PlanSpec`). At 100 TB this is the difference between re-shuffling the
   * corpus on every dedup run and shuffling it once at ingest.
   */
  def embeddingDupsFromTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      dim: Int,
      minCos: Double = 0.95
  ): DataFrame = {
    val t = spark.table(table)
    val a = t.select(col("bucket"), col("id").as("id_a"), col("v").as("va"), col("n2").as("na2"))
    val b = t.select(col("bucket"), col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb2"))
    val nn = sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn(
        "cos",
        when(nn > 0, Similarity.intDot(col("va"), col("vb")).cast("double") / nn)
          .otherwise(lit(0.0))
      )
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /**
   * Keep one canonical copy per near-dup cluster: docs that are the min id
   * of their component, plus all docs that appear in no pair.
   */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")
  }

  /**
   * Keep the BEST member of every near-dup cluster — [[keepCanonical]]
   * keeps the smallest id; training pipelines usually keep the
   * highest-QUALITY member instead (the fuzzy-dedup stage of
   * RefinedWeb/FineWeb-style pipelines retains the representative with the
   * best quality signal, not the first-crawled copy). Winner per connected
   * component = max `scoreCol`, ties to the smallest id; docs in no pair
   * survive untouched. Returns the surviving rows of `df`.
   *
   * Scale shape: CC runs on the id-only pair set; scores join onto the
   * (id, comp) labels — a slim two-column shuffle; the winner per
   * component is one `max_by` hash aggregate; and only LOSER ids reach the
   * final anti-join against the corpus, so the full rows never shuffle.
   */
  def keepBestPerCluster(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame
  ): DataFrame = {
    val members = connectedComponents(pairs)
    val scored = members.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__sc")), "id")
    val winners = scored
      .groupBy(col("comp"))
      .agg(max_by(col("id"), struct(col("__sc"), -col("id"))).as("id"))
      .select(col("id"))
    val losers = members.select(col("id")).join(winners, Seq("id"), "left_anti")
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------ cluster index
  //
  // Persistent cluster assignment beside a dedup index — the missing
  // O(batch) piece of the incremental ingest tick. [[connectedComponents]]
  // recomputes from the FULL pair set; at 100 TB that is the one remaining
  // O(corpus) step per tick. The cluster index stores two tables:
  //
  //   `<table>_clusters` (id, comp)  — bucketed by id; comp is the root the
  //       id had WHEN ITS ROW WAS WRITTEN. Rows are immutable and appended
  //       O(batch) per tick (insertInto through the bucket spec, exactly
  //       like the MinHash index tables).
  //   `<table>_roots` (root, parent) — the small union-find remap: roots
  //       retired by later merges point at their current root. Kept at
  //       depth 1 (every parent IS a current root) by re-compressing the
  //       whole remap on each append — the remap is O(#merged clusters),
  //       orders of magnitude below the corpus, so its per-tick rewrite is
  //       cheap; [[compactClusters]] folds it into `_clusters` entirely.
  //
  // Resolution is therefore one small left join:
  //   comp(id) = coalesce(remap[comp0], comp0).
  //
  // An append maps the batch pairs onto the QUOTIENT graph (each stored
  // endpoint replaced by its current root — one bucketed-scan join on id,
  // only the batch shuffles), runs min-label propagation on that
  // batch-sized graph, appends rows for previously-unstored ids with their
  // FINAL label, and records retired roots in the remap. Re-running a
  // crashed append is a no-op: stored ids resolve to their (already merged)
  // roots, so the quotient graph collapses to self-loops.

  /**
   * Materialize the persistent cluster index of a near-dup pair set.
   * `pairs` must carry `id_a`/`id_b` (the output shape of [[minHashLsh]],
   * [[simHashDups]], [[embeddingDupsQuantized]]); only ids that appear in at least
   * one pair get rows — ids in no pair are their own cluster by convention
   * (exactly [[keepCanonical]]'s null-comp rule).
   */
  def materializeClusters(
      pairs: DataFrame,
      table: String,
      numBuckets: Int = 64
  ): Unit = {
    val spark = pairs.sparkSession
    val comps = connectedComponents(pairs) // already localCheckpoint-backed
    save(spark, comps, s"${table}_clusters", numBuckets, "id")
    save(spark,
      comps.limit(0).select(col("id").as("root"), col("comp").as("parent")),
      s"${table}_roots", 0)
  }

  /**
   * Fold a new batch's near-dup pairs into the cluster index IN PLACE — the
   * clustering half of the incremental dedup tick (probe the batch against
   * the MinHash index AFTER appending it, so the probe's pair set covers
   * both batch-vs-corpus and batch-internal duplicates, then feed those
   * pairs here). Cost is O(batch + touched roots), never O(corpus):
   *
   *  1. each pair endpoint resolves to its current root — a bucketed-scan
   *     left join on `_clusters` (batch side shuffles, corpus side does
   *     not) plus the small remap join;
   *  2. min-label propagation runs on the quotient graph (roots + new ids
   *     — batch-sized by construction);
   *  3. previously-unstored ids are appended with their final label
   *     (insertInto through the bucket spec — O(batch) bytes);
   *  4. roots retired by a merge land in the remap, and the remap is
   *     re-compressed so every surviving entry points at a CURRENT root
   *     (depth stays 1; resolution stays a single join).
   *
   * A new doc that bridges two existing clusters merges them: both old
   * roots map to the merged min. Re-running the same batch is a no-op
   * (all endpoints already share roots — the quotient graph is self-loops).
   */
  def appendToClusters(newPairs: DataFrame, table: String): Unit = {
    val spark = newPairs.sparkSession
    val clustersTable = s"${table}_clusters"
    val rootsTable = s"${table}_roots"
    Bucketing.recoverSwap(spark, clustersTable) // complete interrupted compact
    Bucketing.recoverSwap(spark, rootsTable)
    val stored = spark.table(clustersTable)
    val remap = spark.table(rootsTable)

    val pairs = newPairs
      .select(col("id_a"), col("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    val ids = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .distinct()
    // current root per endpoint; `was_stored` marks ids whose root came from
    // the index (only those roots can be referenced by stored rows — every
    // comp/parent value has its own row by construction, so an id absent
    // from `_clusters` is referenced by nothing and needs no remap entry).
    // Checkpointed: everything below derives from it, and the remap table
    // it reads is overwritten at step 4.
    val rootOf = ids
      .join(stored, Seq("id"), "left")
      .join(remap.withColumnRenamed("root", "comp"), Seq("comp"), "left")
      .select(
        col("id"),
        coalesce(col("parent"), col("comp"), col("id")).as("root"),
        col("comp").isNotNull.as("was_stored"))
      .localCheckpoint()

    val qEdges = pairs
      .join(rootOf.select(col("id").as("id_a"), col("root").as("__ra")), "id_a")
      .join(rootOf.select(col("id").as("id_b"), col("root").as("__rb")), "id_b")
      .select(col("__ra").as("id_a"), col("__rb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    // quotient labels: (id = root, comp = final label); roots untouched by
    // any cross-root edge are absent and keep their label
    val labels = connectedComponents(qEdges)

    val labeled = rootOf
      .join(labels.select(col("id").as("root"), col("comp")), Seq("root"), "left")
      .select(col("id"), coalesce(col("comp"), col("root")).as("comp"),
        col("root"), col("was_stored"))
    val newRows = labeled
      .join(stored.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("comp"))
      .localCheckpoint() // materialize before writing into a table it reads
    newRows
      .select(stored.columns.map(col).toSeq: _*)
      .write.insertInto(clustersTable)

    // retired roots -> remap; re-compress surviving entries through the new
    // merges so depth stays 1. updates' roots were current (never remap
    // keys), so the union is key-disjoint.
    val updates = labels
      .filter(col("comp") =!= col("id"))
      .join(
        labeled.filter(col("was_stored")).select(col("root").as("id")).distinct(),
        Seq("id"))
      .select(col("id").as("root"), col("comp").as("parent"))
    val newRemap = remap
      .join(
        updates.select(col("root").as("parent"), col("parent").as("__p")),
        Seq("parent"), "left")
      .select(col("root"), coalesce(col("__p"), col("parent")).as("parent"))
      .unionByName(updates)
      .localCheckpoint() // materialize before overwriting the table it reads
    // Staged swap, not DROP+save: a crash between those would lose the
    // remap (checkpoint blocks are not a table) and stored comps would
    // silently resolve to retired roots.
    Bucketing.swapInPlain(newRemap, rootsTable)
  }

  /** Resolved cluster assignment (id, comp) from a cluster index: one left
    * join of the immutable per-id rows through the small root remap. */
  def readClusters(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    Bucketing.recoverSwap(spark, s"${table}_clusters") // complete interrupted compact
    Bucketing.recoverSwap(spark, s"${table}_roots")
    spark.table(s"${table}_clusters")
      .join(
        spark.table(s"${table}_roots").withColumnRenamed("root", "comp"),
        Seq("comp"), "left")
      .select(col("id"), coalesce(col("parent"), col("comp")).as("comp"))
  }

  /**
   * Fold the root remap into `_clusters` and truncate it — a full O(corpus)
   * rewrite, so this is MAINTENANCE (run when the remap has grown enough
   * that its broadcast join bothers readers), never part of the tick.
   *
   * Both rewrites ride the staged [[Bucketing]] swap discipline
   * ([[Bucketing.swapInBucketed]] for the id-bucketed `_clusters` fold,
   * [[Bucketing.swapInPlain]] for the remap truncation): a crash anywhere
   * leaves either the old or the new copy of each table, and
   * [[readClusters]]/[[appendToClusters]]/this call complete any
   * interrupted swap first. A crash BETWEEN the two swaps (folded
   * `_clusters`, stale `_roots`) is benign: folded comps are current
   * roots, which by construction match no retired-root remap key, so
   * resolution coalesces through unchanged — the next compact finishes
   * the truncation.
   */
  def compactClusters(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      numBuckets: Int = 64
  ): Unit = {
    val clustersTable = s"${table}_clusters"
    val rootsTable = s"${table}_roots"
    Bucketing.recoverSwap(spark, clustersTable)
    Bucketing.recoverSwap(spark, rootsTable)
    Bucketing.swapInBucketed(
      readClusters(spark, table), clustersTable, Seq("id"), numBuckets, Seq("id"))
    Bucketing.swapInPlain(spark.table(rootsTable).limit(0), rootsTable)
  }

  /**
   * Embedding near-dup pairs over quantized vectors (see
   * [[Similarity.quantize]]): cosine similarity above `minCos`, candidates
   * from sign-LSH buckets over explicit integer `planes` (see
   * [[Similarity.intPlaneBucket]]). Cosine is exact integer dot / sqrt'd
   * integer norms — bit-identical across engines, so this path is DuckDB-
   * oracle-checkable. The ad-hoc twin of [[embeddingDupsFromTable]]: same
   * math, but buckets computed on the fly instead of read from a bucketed
   * table.
   *
   * Same scale discipline as [[lshPairsFromSignatures]]: the bucket
   * self-join shuffles ONLY (bucket, id) rows — vectors and squared norms
   * stay in a persisted side table and are joined back onto the (small)
   * surviving candidate-pair set for cosine verification, so the wide
   * vector column never rides the candidate-generation exchange. Degenerate
   * buckets (near-zero or boilerplate embeddings hashing to one sign
   * pattern) are capped at `maxBucket` docs, bounding the quadratic pair-up
   * the same way the MinHash (1000) and SimHash (256) tails do.
   *
   * Recall caveat (shared with every capped LSH tail here): docs beyond
   * `maxBucket` in one bucket contribute no candidate pairs from that
   * bucket. The cap triggers only on degenerate near-identical content,
   * where the surviving `maxBucket` members already chain the cluster
   * together for [[connectedComponents]].
   */
  def embeddingDupsQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Seq[Array[Long]],
      dim: Int,
      minCos: Double,
      maxBucket: Int = 1000
  ): DataFrame = {
    val (vecs, frame) = embeddingDupsQuantizedFrame(df, idCol, vecCol, planes, minCos, maxBucket)
    // cut lineage back so the vector cache can be released immediately
    val out = frame.localCheckpoint()
    vecs.unpersist(blocking = false)
    out
  }

  /** [[embeddingDupsQuantized]] before its lineage cut — (persisted vector
    * table, lazy result frame), so `PlanSpec` can assert the exchange shapes. */
  private[graft] def embeddingDupsQuantizedFrame(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Seq[Array[Long]],
      minCos: Double,
      maxBucket: Int
  ): (DataFrame, DataFrame) = {
    val vecs = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      Similarity.intPlaneBucket(col(vecCol), planes).as("bucket"),
      Similarity.intDot(col(vecCol), col(vecCol)).as("n2")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    val capped = vecs.select(col("bucket"), col("id"))
      .withColumn(
        "__rn",
        row_number().over(Window.partitionBy(col("bucket")).orderBy(col("id")))
      )
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")

    val pairs = capped.select(col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))

    val nn = sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))
    val out = pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("n2").as("na2")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb2")), Seq("id_b"))
      .withColumn(
        "cos",
        when(nn > 0, Similarity.intDot(col("va"), col("vb")).cast("double") / nn)
          .otherwise(lit(0.0))
      )
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
    (vecs, out)
  }

  /**
   * Perceptual image near-dup detection over 64-bit dHash fingerprints
   * ([[MediaCodec.decodeImage]]'s `dhash64`) — the image-side analog of
   * SimHash text dedup. Pigeonhole exactness: two hashes within Hamming
   * distance <= bands-1 agree EXACTLY on at least one of `bands` contiguous
   * bit segments, so candidate generation is an equi-join on
   * (band, segment) — the shuffle carries (id, hash, 16-bit key) rows only,
   * per-bucket capped like every LSH family here — and surviving pairs are
   * verified with `bit_count(a ^ b) <= maxHamming` (codegen'd). Returns
   * (id_a, id_b, hamming), each pair once even when it collides in several
   * bands. Requires maxHamming < bands (the pigeonhole guarantee) and
   * bands | 64.
   */
  def dhashDups(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 1000
  ): DataFrame = {
    require(bands >= 2 && 64 % bands == 0, s"bands must be >= 2 and divide 64, got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands, got $maxHamming >= $bands")
    val seg = 64 / bands
    val mask = if (seg == 64) -1L else (1L << seg) - 1
    val h = df.select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
    val banded = h
      .select(col("id"), col("h"), explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          shiftrightunsigned(col("h"), b * seg).bitwiseAND(lit(mask)).as("bkey"))
      }: _*)).as("bk"))
      .select(col("id"), col("h"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val capped = banded
      .withColumn(
        "_rn",
        row_number().over(Window.partitionBy(col("band"), col("bkey")).orderBy(col("id"))))
      .filter(col("_rn") <= maxBucket)
      .drop("_rn")
    val pairs = capped
      .select(col("band"), col("bkey"), col("id").as("id_a"), col("h").as("ha"))
      .join(
        capped.select(col("band"), col("bkey"), col("id").as("id_b"), col("h").as("hb")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ha"), col("hb"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): cluster document embeddings into k cells
   * ([[Similarity.ivfTrain]] centroids) and drop every document that has an
   * EARLIER (lower-id) cell-mate within cosine `minCos`. Returns the kept
   * rows as (id, cell).
   *
   * Greedy keep-first semantics (the NeMo-Curator formulation): a document
   * is dropped iff some lower-id document in the SAME cell is `>= minCos`
   * similar. Kept/dropped status does not chain — the rule is a pure
   * pairwise predicate, so it is deterministic under any partitioning and
   * exactly replicable in the DuckDB oracle.
   *
   * Scale: clustering bounds the quadratic step to within-cell pairs — k
   * grows with the corpus so the expected cell stays constant-sized, and
   * `maxCell` is the same hard cap the LSH buckets carry, so one degenerate
   * cell can never go quadratic. The self-join shuffles (cell, id) only;
   * vectors join back onto candidate pairs, and only surviving drop-ids
   * reach the final anti-join.
   */
  def semanticDedupQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Long]],
      dim: Int,
      minCos: Double,
      maxCell: Int = 1000
  ): DataFrame = {
    val vecs = df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      Similarity.ivfCell(col(vecCol), centroids).cast("int").as("cell"),
      Similarity.intDot(col(vecCol), col(vecCol)).as("n2")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    val capped = vecs.select(col("cell"), col("id"))
      .withColumn(
        "__rn",
        row_number().over(Window.partitionBy(col("cell")).orderBy(col("id")))
      )
      .filter(col("__rn") <= maxCell)
      .drop("__rn")

    val pairs = capped.select(col("cell"), col("id").as("id_a"))
      .join(capped.select(col("cell"), col("id").as("id_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))

    val nn = sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))
    val dropped = pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("n2").as("na2")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb2")), Seq("id_b"))
      .withColumn(
        "cos",
        when(nn > 0, Similarity.intDot(col("va"), col("vb")).cast("double") / nn)
          .otherwise(lit(0.0))
      )
      .filter(col("cos") >= minCos)
      .select(col("id_b").as("id"))
      .distinct()

    val out = vecs.select(col("id"), col("cell"))
      .join(dropped, Seq("id"), "left_anti")
      .localCheckpoint()
    vecs.unpersist(blocking = false)
    out
  }
}
