package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Physical-plan regression guards: the scale properties BASELINE.md claims
 * are asserted here, so a refactor that silently degrades a plan (e.g. an
 * aggregate falling out of the primitive-buffer hash aggregate into the
 * sort-based fallback) fails the suite instead of only showing up as a
 * benchmark regression three rounds later.
 */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("changelog projection is a primitive-buffer HashAggregate (never Object/Sort fallback)") {
    val ledger = spark.range(1000).select(
      col("id").as("offset"),
      (col("id") % 4).cast("int").as("op"),
      (col("id") % 100).as("pk"),
      col("id").as("v1"),
      (col("id") * 2).as("v2")
    )
    val plan = formatted(Changelog.project(ledger, Seq("pk")))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("ObjectHashAggregate"), "struct-valued agg buffer crept back in")
    assert(!plan.contains("SortAggregate"), "projection degraded to sort-based aggregation")
  }

  test("ledger merge: probe side reads ONLY the key column; join is hash, not sort-merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-")
    spark.range(1000).select(col("id").as("pk"), col("id").as("a"), col("id").as("b"))
      .write.parquet(dir.resolve("prev").toString)
    val prev = spark.read.parquet(dir.resolve("prev").toString)
    val incoming = spark.range(500, 1500).select(col("id").as("pk"), col("id").as("v"))
    val plan = formatted(MergeStrategy.Ledger(Seq("pk")).merge(Some(prev), incoming))
    // column pruning reaches the parquet scan of the prior ledger
    assert(plan.contains("ReadSchema: struct<pk:bigint>"), plan)
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), "anti join fell back to sorting both sides")
  }

  test("ledger bloom pre-prune: prior keys filtered by might_contain BEFORE the join, result exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-bloom-")
    spark.range(1000).select(col("id").as("pk"), col("id").as("a"), col("id").as("b"))
      .write.parquet(dir.resolve("prev").toString)
    val prev = spark.read.parquet(dir.resolve("prev").toString)
    val incoming = spark.range(500, 1500).select(col("id").as("pk"), col("id").as("v"))
    // force the prune on (the fixture is tiny; at real scale the stats
    // threshold triggers it), and check plan + semantics
    val pruned = MergeStrategy.Ledger(Seq("pk"),
      bloomPruneMinPrevBytes = 0L, bloomPruneMinPrevToIncomingRatio = 0.0)
      .merge(Some(prev), incoming)
    val plain = MergeStrategy.Ledger(Seq("pk"), bloomPrune = false)
      .merge(Some(prev), incoming)
    val plan = formatted(pruned)
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("ReadSchema: struct<pk:bigint>"), plan)
    assertSameRows(
      pruned.select("pk", "v").orderBy("pk"),
      plain.select("pk", "v").orderBy("pk"),
      ordered = true)
    assert(pruned.count() === 500) // keys 1000..1499 are unseen
  }

  test("q3/q5 fact joins never sort-merge and lineitem scans stay pruned") {
    // The round-5 sf10 run showed these two queries collapse when the
    // declared join order shuffles the fact table before the dimension
    // filters apply; pin the properties of the fixed shapes.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val q3 = formatted(graft.SparkEntry.queries("q3_shipping_priority")(spark, dir))
    assert(!q3.contains("SortMergeJoin"), "q3 fell back to sorting both fact tables")
    assert(!q3.contains("CartesianProduct"), q3)
    val q5 = formatted(graft.SparkEntry.queries("q5_local_supplier_volume")(spark, dir))
    assert(!q5.contains("SortMergeJoin"), "q5 fell back to sorting fact tables")
    assert(!q5.contains("CartesianProduct"), q5)
    assert(
      q5.contains("struct<l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double>"),
      "q5 lineitem scan reads more than the 4 needed columns:\n" + q5)
  }

  test("decorrelated classics (q4/q17/q21/q22) run as semi/anti hash joins, never nested loops") {
    // The EXISTS / NOT EXISTS / correlated-scalar family must decorrelate
    // to orderkey-equi semi/anti joins (the suppkey inequality in q21 is a
    // RESIDUAL on a hash join) — a CartesianProduct or NestedLoop here
    // means the predicate fell out of the equi-join condition.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val q4 = formatted(graft.SparkEntry.queries("q4_order_priority")(spark, dir))
    assert(q4.contains("LeftSemi"), q4)
    assert(!q4.contains("CartesianProduct") && !q4.contains("NestedLoop"), q4)
    val q17 = formatted(graft.SparkEntry.queries("q17_small_quantity")(spark, dir))
    assert(!q17.contains("CartesianProduct") && !q17.contains("NestedLoop"), q17)
    val q21 = formatted(graft.SparkEntry.queries("q21_waiting_supplier")(spark, dir))
    assert(q21.contains("LeftSemi"), q21)
    assert(q21.contains("LeftAnti"), q21)
    assert(!q21.contains("CartesianProduct") && !q21.contains("NestedLoop"), q21)
    val q22 = formatted(graft.SparkEntry.queries("q22_idle_customers")(spark, dir))
    assert(q22.contains("LeftAnti"), q22)
    assert(!q22.contains("CartesianProduct"), q22)
    // the one nested-loop in q22 is the deliberate 1-row scalar CROSS
    // broadcast — a NestedLoop with any OTHER join type (a real
    // decorrelation fallback) still fails
    assert("NestedLoopJoin (?!Cross)[A-Z]".r.findFirstIn(q22).isEmpty, q22)
    assert(q22.contains("Join type: Cross") || q22.contains("NestedLoopJoin Cross"), q22)
  }

  test("round-12 join shapes: q9 broadcasts dims, PIT join is hash-equi, bloom probe broadcasts") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    // q9: part and supplier⨝nation are dimension BROADCASTS; the one real
    // shuffle join is the orderkey hash join — never a sort-merge on the
    // fact side, never a nested loop.
    val q9 = formatted(graft.SparkEntry.queries("q9_profit")(spark, dir))
    assert(q9.contains("BroadcastHashJoin"), q9)
    assert(!q9.contains("CartesianProduct") && !q9.contains("NestedLoop"), q9)
    // scd2 point-in-time: the interval residual must ride a hash equi-join
    // on the key, not degrade to a nested loop over versions
    val pit = formatted(graft.SparkEntry.queries("scd2_pit")(spark, dir))
    assert(!pit.contains("CartesianProduct") && !pit.contains("NestedLoop"), pit)
    // bloom probe: the sketch side broadcasts (keys·words rows, any scale)
    val bp = formatted(graft.SparkEntry.queries("bloom_probe")(spark, dir))
    assert(bp.contains("BroadcastHashJoin"), bp)
    // phrase search: posting-list adjacency joins are hash-equi
    graft.SparkEntry.queries("phrase_search")(spark, dir) // builds the fixture index
    val ph = formatted(graft.operators.Corpus.phraseSearch(
      spark, "graft_phrase_idx", Seq("spark", "merge"), topK = 5))
    assert(!ph.contains("CartesianProduct") && !ph.contains("NestedLoop"), ph)
  }

  test("filters and projections push down into parquet scans") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan2-")
    spark.range(1000).select(
      col("id").as("k"), (col("id") % 7).as("f"), col("id").as("x"), col("id").as("unused")
    ).write.parquet(dir.resolve("t").toString)
    val t = spark.read.parquet(dir.resolve("t").toString)
    val plan = formatted(t.filter(col("f") === 3).select("k", "x"))
    assert(plan.contains("PushedFilters: [IsNotNull(f), EqualTo(f,3)]"), plan)
    assert(plan.contains("ReadSchema: struct<k:bigint,f:bigint,x:bigint>"), plan)
    assert(!plan.contains("unused"), "projection pruning failed to drop the unused column")
  }

  test("bucketed corpus self-join is storage-partitioned: ZERO shuffle exchanges") {
    import graft.operators.{Dedup, Similarity}
    val planes = Similarity.intPlanes(numPlanes = 3, dim = 4, seed = 11L)
    val corpus = spark.range(200).select(
      col("id"),
      array(col("id") % 7, col("id") % 5, col("id") % 3, lit(1L)).as("v"))
    Similarity.materializeLshCorpus(corpus, "id", "v", planes, numBuckets = 4,
      table = "plan_spec_corpus")
    // Below the broadcast threshold the planner rightly prefers a broadcast
    // join (and skips bucketing); the at-scale property under test is the
    // NON-broadcastable case, so disable the threshold for the assertion.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dups = Dedup.embeddingDupsFromTable(spark, "plan_spec_corpus", dim = 4, minCos = 0.99)
      val plan = formatted(dups)
      // both scan legs read the bucketed layout and the whole
      // pair-generation plan runs without a single shuffle
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(dups.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS plan_spec_corpus")
    }
  }

  test("co-bucketed q3: fact join AND aggregation run with zero shuffle exchanges") {
    val dir = "/root/testdata/sf0.001"
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // the at-scale case
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan for collect()
    try {
      val b = graft.SparkEntry.queries("q3_bucketed")(spark, dir)
      val shuffles = b.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // the dims broadcast is the ONLY exchange: the fact join reads both
      // bucketed layouts, and the groupBy is satisfied by the same
      // clustering (l_orderkey is a grouping key), so nothing shuffles
      assert(shuffles.isEmpty, b.queryExecution.executedPlan.toString)
      assert(b.queryExecution.executedPlan.toString.contains("Bucketed: true"))
      // and the values are exactly the plain q3 entry's
      assertSameRows(
        b,
        graft.SparkEntry.queries("q3_shipping_priority")(spark, dir),
        ordered = true)
      // q5 over the same layout: subset co-partitioning carries the
      // two-key fact join on the orderkey buckets, so NO shuffle touches a
      // fact key — the remaining exchanges are the |nations|-row final agg
      // and presentation sort, plus dim-sized ones forced by this test's
      // own disabled-broadcast conf (they broadcast in real sessions)
      val b5 = graft.SparkEntry.queries("q5_bucketed")(spark, dir)
      val factShuffles = b5.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if Seq("orderkey", "custkey", "suppkey")
              .exists(e.outputPartitioning.toString.toLowerCase.contains) => e
      }
      assert(factShuffles.isEmpty, b5.queryExecution.executedPlan.toString)
      assert(b5.queryExecution.executedPlan.toString.contains("Bucketed: true"))
      assertSameRows(
        b5,
        graft.SparkEntry.queries("q5_local_supplier_volume")(spark, dir),
        ordered = true)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      val (lTab, oTab) = graft.SparkEntry.q3BucketedTables(dir)
      spark.sql(s"DROP TABLE IF EXISTS $lTab")
      spark.sql(s"DROP TABLE IF EXISTS $oTab")
    }
  }

  test("co-bucketed q12: the orderkey fact join runs with zero shuffle exchanges") {
    // r17: the q12 adjudication's plan lever — the one fact-sized exchange
    // in q12's plan (the orderkey equi-join) must be satisfied by the
    // stored bucketing; the only shuffle left is the 2-group aggregation.
    val dir = "/root/testdata/sf0.001"
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // the at-scale case
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan for collect()
    try {
      val b = graft.SparkEntry.queries("q12_bucketed")(spark, dir)
      val factShuffles = b.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.toLowerCase.contains("orderkey") => e
      }
      assert(factShuffles.isEmpty, b.queryExecution.executedPlan.toString)
      // substring matching alone would pass vacuously if a plan change
      // aliased the join key away from '*orderkey' — additionally pin the
      // TOTAL shuffle count to exactly 1 (the l_linestatus aggregation;
      // the presentation orderBy is a range Exchange, counted separately)
      val allShuffles = b.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val hashShuffles = allShuffles.filter(
        _.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
      assert(hashShuffles.size == 1 && allShuffles.size <= 2,
        b.queryExecution.executedPlan.toString)
      assert(b.queryExecution.executedPlan.toString.contains("Bucketed: true"))
      // and the values are exactly the plain q12 entry's
      assertSameRows(
        b,
        graft.SparkEntry.queries("q12_priority_routing")(spark, dir),
        ordered = true)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      val (lTab, oTab) = graft.SparkEntry.q3BucketedTables(dir)
      spark.sql(s"DROP TABLE IF EXISTS $lTab")
      spark.sql(s"DROP TABLE IF EXISTS $oTab")
    }
  }

  test("text operators are map-only: zero shuffles in their plans") {
    // these process 100 TB as a single scan-project pass — a shuffle
    // appearing in any of them is a scale regression
    import graft.functions.Normalize
    import graft.operators.Corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "gopher_rules" -> Corpus.gopherRules(docs, "doc_id", "text"),
      "clean_text" -> docs.select(col("doc_id"), Normalize.cleanText(col("text"))),
      "strip_html" -> docs.select(col("doc_id"), Normalize.stripHtml(col("text"))),
      "chunk_sentences" -> Corpus.chunkSentences(docs, "doc_id", "text", 3, 1),
      "chunk_docs" -> Corpus.chunkDocs(docs, "doc_id", "text", 64, 8)
    )
    cases.foreach { case (name, df) =>
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, s"$name must be map-only:\n${df.queryExecution.executedPlan}")
    }
  }

  test("bucketed IVF probe: the corpus scan feeds the join with NO Exchange") {
    import graft.operators.Similarity
    val corpus = spark.range(500).select(
      col("id").as("cid"),
      array(col("id") % 13, col("id") % 7, col("id") % 5, lit(1L)).as("cv"))
    val queries = spark.range(5).select(
      col("id").as("qid"),
      array(col("id") % 13, col("id") % 7, col("id") % 5, lit(1L)).as("qv"))
    val cents = Similarity.ivfTrain(corpus, "cid", "cv", k = 3, iters = 1)
    Similarity.materializeIvfCorpus(corpus, "cid", "cv", cents, numBuckets = 4,
      table = "plan_spec_ivf")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // the at-scale case
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan for collect()
    try {
      val topk = Similarity.ivfTopKFromTable(spark, "plan_spec_ivf", queries,
        "qid", "qv", k = 3, cents, nprobe = 2)
      val plan = topk.queryExecution.executedPlan
      // cells were assigned at write time: the probe plan reads them from
      // the bucketed layout and the corpus scan reaches the join without
      // any Exchange BETWEEN scan and join (the per-query rank shuffle
      // above the join carries only scored candidate rows — that one is
      // expected). "Between" = a shuffle whose subtree has the corpus scan
      // but no join yet.
      val corpusShuffled = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.exists { e =>
        val hasScan = e.child.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.tableIdentifier.exists(_.table == "plan_spec_ivf") => f
        }.isDefined
        val hasJoin = e.child.collectFirst {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isDefined
        hasScan && !hasJoin
      }
      assert(!corpusShuffled, plan.toString)
      assert(plan.toString.contains("Bucketed: true"), plan.toString)
      // the corpus cell comes from the stored layout, not a per-probe
      // recomputation: the table scan reads the cell column
      val scanReadsCell = plan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table == "plan_spec_ivf") =>
          f.output.exists(_.name == "cell")
      }
      assert(scanReadsCell.contains(true), plan.toString)
      assert(topk.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
      spark.sql("DROP TABLE IF EXISTS plan_spec_ivf")
    }
  }

  test("IVF-PQ probe: code-only corpus scan, no Exchange between scan and join") {
    import graft.operators.Similarity
    val corpus = spark.range(500).select(
      col("id").as("cid"),
      array(col("id") % 13, col("id") % 7, col("id") % 5, lit(1L)).as("cv"))
    val queries = spark.range(5).select(
      col("id").as("qid"),
      array(col("id") % 13, col("id") % 7, col("id") % 5, lit(1L)).as("qv"))
    val cents = Similarity.ivfTrain(corpus, "cid", "cv", k = 3, iters = 1)
    val books = Similarity.pqTrain(corpus, "cid", "cv", dim = 4, m = 2, k = 4, iters = 1)
    Similarity.materializeIvfPqCorpus(corpus, "cid", "cv", cents, books,
      dim = 4, numBuckets = 4, table = "plan_spec_ivfpq")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val topk = Similarity.ivfPqTopKFromTable(spark, "plan_spec_ivfpq", queries,
        "qid", "qv", k = 3, cents, books, dim = 4, nprobe = 2)
      val plan = topk.queryExecution.executedPlan
      val corpusShuffled = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.exists { e =>
        val hasScan = e.child.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.tableIdentifier.exists(_.table == "plan_spec_ivfpq") => f
        }.isDefined
        val hasJoin = e.child.collectFirst {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isDefined
        hasScan && !hasJoin
      }
      assert(!corpusShuffled, plan.toString)
      assert(plan.toString.contains("Bucketed: true"), plan.toString)
      // the corpus side of the probe carries CODES, never raw vectors:
      // the table scan's output is exactly (id, cell, codes)
      val scanCols = plan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table == "plan_spec_ivfpq") =>
          f.output.map(_.name).toSet
      }
      assert(scanCols.contains(Set("id", "cell", "codes")), plan.toString)
      assert(topk.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
      spark.sql("DROP TABLE IF EXISTS plan_spec_ivfpq")
    }
  }

  test("bucketed multi-table LSH probe: corpus scan feeds the join with NO Exchange") {
    import graft.operators.Similarity
    val tables = (0 until 2).map(t => Similarity.intPlanes(numPlanes = 3, dim = 4, seed = 11L + t))
    val corpus = spark.range(400).select(
      col("id").as("cid"),
      array(col("id") % 13, col("id") % 7, col("id") % 5, lit(1L)).as("cv"))
    val queries = spark.range(5).select(
      col("id").as("qid"),
      array(col("id") % 13, col("id") % 7, col("id") % 5, lit(1L)).as("qv"))
    Similarity.materializeLshCorpusMultiTable(corpus, "cid", "cv", tables,
      numBuckets = 4, table = "plan_spec_lsh_mt")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val topk = Similarity.lshTopKMultiTableFromTable(spark, "plan_spec_lsh_mt",
        queries, "qid", "qv", k = 3, planeTables = tables)
      val plan = topk.queryExecution.executedPlan
      val corpusShuffled = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.exists { e =>
        val hasScan = e.child.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.tableIdentifier.exists(_.table == "plan_spec_lsh_mt") => f
        }.isDefined
        val hasJoin = e.child.collectFirst {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isDefined
        hasScan && !hasJoin
      }
      assert(!corpusShuffled, plan.toString)
      assert(plan.toString.contains("Bucketed: true"), plan.toString)
      assert(topk.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
      spark.sql("DROP TABLE IF EXISTS plan_spec_lsh_mt")
    }
  }

  test("embeddingDupsQuantized ad-hoc path: candidate-generation exchanges carry ids, never vectors") {
    val corpus = spark.range(300).select(
      col("id"),
      array((col("id") % 7) * 1000, (col("id") % 5) * 1000, (col("id") % 3) * 1000, lit(1000L))
        .as("emb"))
    val planes = Similarity.intPlanes(numPlanes = 6, dim = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force real exchanges
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan for collect()
    try {
      val (vecs, frame) = Dedup.embeddingDupsQuantizedFrame(
        corpus, "id", "emb", planes, minCos = 0.99, maxBucket = 1000)
      try {
        val exchanges = frame.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.output.map(_.name)
        }
        assert(exchanges.nonEmpty, "fixture too small to exercise shuffles")
        // The bucket-keyed (candidate-generation) exchanges must ship only
        // (bucket, id): the wide vector column rides no bucket exchange.
        val vectorCols = Set("emb", "v", "va", "vb")
        val bucketExchanges = exchanges.filter(_.exists(_.startsWith("bucket")))
        assert(bucketExchanges.nonEmpty, exchanges.toString)
        bucketExchanges.foreach { cols =>
          assert(!cols.exists(vectorCols),
            s"vector column on a candidate-generation exchange: $cols")
        }
        assert(frame.count() > 0)
      } finally vecs.unpersist(blocking = false)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("sketch/anomaly operators: scans prune to the slim projection, exchanges never carry payloads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-sk-")
    spark.range(2000).select(
      (col("id") % 5).cast("string").as("k"),
      col("id").as("v"),
      col("id").cast("double").as("value"),
      col("id").cast("timestamp").as("ts"),
      col("id").as("event_id"),
      concat(lit("x"), col("id")).as("payload") // the fat column that must never move
    ).write.parquet(dir.resolve("t").toString)
    val t = spark.read.parquet(dir.resolve("t").toString)

    // kmvSketch: the scan reads (k, v) only; every exchange ships (k, hash)-sized rows
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan for collect()
    try {
      val sk = Sketches.kmvSketch(t, Seq("k"), "v", k = 16)
      val skPlan = formatted(sk)
      assert(skPlan.contains("ReadSchema: struct<k:string,v:bigint>"), skPlan)
      val skExchanges = sk.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.output.map(_.name)
      }
      assert(skExchanges.nonEmpty, formatted(sk))
      skExchanges.foreach(cols =>
        assert(!cols.contains("payload"), s"payload on a sketch exchange: $cols"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // anomalies: the scan prunes to exactly the four referenced columns
    val an = Analytics.anomalies(t, "k", "ts", "event_id", "value",
      lookback = 20, minN = 8, threshold = 2.0)
    val anPlan = formatted(an)
    assert(anPlan.contains("ReadSchema: struct<k:string,value:double,ts:timestamp,event_id:bigint>")
      || anPlan.contains("ReadSchema: struct<k:string,ts:timestamp,event_id:bigint,value:double>"),
      anPlan)

    // histSketch: partial (map-side) aggregation runs before the bucket exchange
    val hist = Sketches.histSketch(t, "value", 100.0)
    val histPlan = formatted(hist)
    assert(histPlan.contains("ReadSchema: struct<value:double>"), histPlan)
    assert("HashAggregate".r.findAllIn(histPlan).size >= 2,
      s"no partial aggregate before the bucket exchange:\n$histPlan")
  }

  test("geo/graph joins stay hash-equi: no nested-loop or cartesian fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-geo-")
    spark.range(500).select(
      col("id"),
      (col("id") * 37 % 1000).as("x"),
      (col("id") * 91 % 1000).as("y")
    ).write.parquet(dir.resolve("pts").toString)
    val pts = spark.read.parquet(dir.resolve("pts").toString)
    val pairs = Geo.radiusJoin(pts, "id", "x", "y", 50L)
    val geoPlan = formatted(pairs)
    assert(!geoPlan.contains("NestedLoop") && !geoPlan.contains("CartesianProduct"), geoPlan)
    // triangle counting: the closing probe must be a hash-equi semi join —
    // an OR over oriented directions would nested-loop over every wedge
    val tri = Graph.triangleCounts(pairs, "id1", "id2")
    val triPlan = formatted(tri)
    assert(!triPlan.contains("NestedLoop") && !triPlan.contains("CartesianProduct"), triPlan)
    assert(tri.count() > 0) // plans above actually execute

    // nearest neighbor rides the same cell-equi candidates; the argmin is
    // an aggregate, never a per-point sort
    val nn = Geo.nearestNeighbor(pts, "id", "x", "y", 50L)
    val nnPlan = formatted(nn)
    assert(!nnPlan.contains("NestedLoop") && !nnPlan.contains("CartesianProduct"), nnPlan)
    assert(!nnPlan.contains("Window"), "argmin fell back to a per-point window sort:\n" + nnPlan)

    // basket pair generation: basket-equi hash join with the item
    // inequality as a post-join condition, never a nested loop
    val baskets = spark.range(300).select(
      (col("id") % 60).as("b"), concat(lit("i"), (col("id") % 9).cast("string")).as("i"))
    val co = Analytics.coOccurrence(baskets, "b", "i", minSupport = 1)
    val coPlan = formatted(co)
    assert(!coPlan.contains("CartesianProduct"), coPlan)
    // the ONE allowed nested loop is the deliberate 1-row totals
    // broadcast cross join; the pair self-join must stay hash-equi
    assert(!coPlan.replace("BroadcastNestedLoopJoin", "").contains("NestedLoop"),
      "non-broadcast nested loop:\n" + coPlan)
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(coPlan).size <= 1,
      "nested-loop beyond the 1-row totals broadcast:\n" + coPlan)
    assert(co.count() > 0)
  }

  test("tail and as-of reads prune slice FILES at the metadata level") {
    import graft.dataset.Dataset
    import graft.ingest.IngestWriter
    val root = java.nio.file.Files.createTempDirectory("graft-prune-")
    val ds = Dataset.create(spark, root, "prune")
    for (i <- 0 until 3)
      IngestWriter.writeBatch(ds,
        spark.range(i * 10, i * 10 + 10).select(col("id"), (col("id") * 2).as("v")),
        MergeStrategy.Append(), systemTime = 1000L * (i + 1))
    val re = Dataset.open(spark, root)
    assert(re.toDF().inputFiles.length === 3)
    // tail(5) covers only the last slice -> exactly one file scanned
    assert(re.tail(5).inputFiles.length === 1)
    // as-of the first head -> only the first slice file
    val firstDataHead = re.chain.blocksWithHashes()
      .collectFirst { case (b, h) if b.event.isInstanceOf[graft.model.MetadataEvent.AddData] => h }
      .get
    assert(re.toDF(Some(firstDataHead)).inputFiles.length === 1)
  }

  test("asof join and snapshot diff broadcast/hash where expected") {
    val trades = spark.range(100).select(col("id"), lit("cad").as("cur"),
      (col("id") * 1000).cast("timestamp").as("tt"))
    val rates = Seq(("cad", new java.sql.Timestamp(0L), 1.3)).toDF("cur", "rt", "rate")
    val plan = formatted(Temporal.asOfJoin(trades, rates, Seq("cur"), "tt", "rt"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ingest tick: index probe and cluster joins read the corpus WITHOUT an Exchange") {
    // The corpus_ingest_tick / dedup_clusters_incremental loop's at-scale
    // claim: every per-tick exchange is batch-sized. The corpus only
    // participates through its bucketed layouts — pin that the probe's two
    // corpus scans (_buckets, _sigs) and the cluster table's id-join feed
    // their joins with no Exchange in between (the batch side may shuffle;
    // it is batch-sized by construction).
    val docs = spark.range(400).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j => pmod(col("id") * 7 + j, lit(50)).cast("string")): _*)
        .as("text"))
    Dedup.materializeMinhashIndex(docs, "doc_id", "text",
      table = "plan_tick_idx", numBuckets = 4)
    Dedup.materializeClusters(
      Dedup.minHashLsh(docs, "doc_id", "text", minSim = 0.5),
      table = "plan_tick_idx", numBuckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def corpusShuffled(df: DataFrame, tables: String*): Boolean =
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.exists { e =>
          val hasScan = e.child.collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec
                if f.tableIdentifier.exists(t => tables.contains(t.table)) => f
          }.isDefined
          val hasJoin = e.child.collectFirst {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.isDefined
          hasScan && !hasJoin
        }
      val batch = spark.range(380, 420).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(j => pmod(col("id") * 7 + j, lit(50)).cast("string")): _*)
          .as("text"))
      val (probe, sigs) = Dedup.probeIndexPlan(batch, "doc_id", "text",
        table = "plan_tick_idx", shingleLen = 3, numHashes = 64, bands = 16,
        minSim = 0.5)
      assert(!corpusShuffled(probe, "plan_tick_idx_buckets", "plan_tick_idx_sigs"),
        probe.queryExecution.executedPlan.toString)
      assert(formatted(probe).contains("Bucketed: true"), formatted(probe))
      sigs.unpersist(blocking = false)

      // the appendToClusters endpoint-resolution shape: batch ids against
      // the id-bucketed cluster table
      val ids = spark.range(380, 420).select(col("id"))
      val rootOf = ids.join(spark.table("plan_tick_idx_clusters"), Seq("id"), "left")
      assert(!corpusShuffled(rootOf, "plan_tick_idx_clusters"),
        rootOf.queryExecution.executedPlan.toString)
      assert(probe.count() >= 0 && rootOf.count() === 40)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
      Seq("plan_tick_idx_buckets", "plan_tick_idx_sigs",
        "plan_tick_idx_clusters", "plan_tick_idx_roots")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("withGlobalRank: exact global ranks with NO single-partition exchange in the plan") {
    // 500 distinct values (37 coprime to 997) — tie-free, so the rank is
    // uniquely defined and comparable against the global-window spelling
    val df = (1 to 500).map(i => ((i * 37) % 997).toLong).toDF("v")
    val got = Dedup.withGlobalRank(df, Seq(col("v")), "rn")
    val plan = got.queryExecution.executedPlan.toString
    // the scale contract: the rank must never funnel through one task —
    // neither as `Exchange SinglePartition` (global window/sort) nor as a
    // coalesce(1); the window inside is partitioned by the range-partition id
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("Coalesce 1"), plan)
    val want = df
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("v"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === want)
  }

  test("sortedNeighborhood / allPairsJaccard: executed plans carry no single-partition stage") {
    val docs = (1 to 300)
      .map(i => (i.toLong, f"doc ${i % 40}%03d body${i % 5}"))
      .toDF("doc_id", "text")
    // localCheckpoint() inside the operators truncates downstream lineage,
    // so execute through a listener-free proxy: assert on the FINAL frame's
    // plan AND on the rank frame directly (covered above); here we pin the
    // end-to-end plans of both public operators.
    val sn = Dedup.sortedNeighborhood(docs, "doc_id", "text", windowSize = 3, maxDist = 2)
    assert(!sn.queryExecution.executedPlan.toString.contains("SinglePartition"),
      sn.queryExecution.executedPlan.toString)
    val ap = Dedup.allPairsJaccard(docs, "doc_id", "text", 500000L)
    assert(!ap.queryExecution.executedPlan.toString.contains("SinglePartition"),
      ap.queryExecution.executedPlan.toString)
    assert(sn.count() >= 0 && ap.count() >= 0)
  }
  test("round-13 shapes: overlap join hash-equi, skyline has no data-sized global stage, LPA windowless") {
    // binned interval-overlap join: the whole point is escaping the
    // BroadcastNestedLoopJoin a lone inequality plans — the candidate
    // join must be hash-equi on (key, cell)
    val l = (1 to 400).map(i => (i.toLong % 7, i.toLong, (i * 13L) % 5000, (i * 13L) % 5000 + 120))
      .toDF("k", "lid", "ls", "le")
    val r = (1 to 400).map(i => (i.toLong % 7, i.toLong, (i * 29L) % 5000, (i * 29L) % 5000 + 90))
      .toDF("k", "rid", "rs", "re")
    val ov = Temporal.overlapJoin(l, "ls", "le", r, "rs", "re", Seq("k"), 128L)
    val ovPlan = formatted(ov)
    assert(!ovPlan.contains("NestedLoop") && !ovPlan.contains("CartesianProduct"), ovPlan)

    // ungrouped skyline: the exclusive prefix-min must not funnel the
    // data through one task — the only SinglePartition allowed is the
    // bounded <=P-row per-partition-minima fold
    val sk = Skyline.skyline2d(
      (1 to 2000).map(i => ((i * 37L) % 500, (i * 91L) % 500)).toDF("x", "y"), "x", "y")
    val skPlan = sk.queryExecution.executedPlan.toString
    val granted = "rows-window over the bounded per-partition minima"
    assert("SinglePartition".r.findAllIn(skPlan).size <= 1, granted + ":\n" + skPlan)

    // label propagation: argmax per node is an AGGREGATE — a Window here
    // would re-sort every adjacency group
    val edges = (1 to 300).map(i => ((i % 40).toLong, ((i * 7) % 40).toLong)).toDF("s", "d")
    val lpa = Graph.labelPropagation(edges, "s", "d", rounds = 2)
    assert(!lpa.queryExecution.executedPlan.toString.contains("Window"),
      lpa.queryExecution.executedPlan.toString)

    // weighted SSSP rounds: frontier joins stay hash-equi
    val w = (1 to 300).map(i => ((i % 40).toLong, ((i * 7) % 40).toLong, (i % 9).toLong + 1))
      .toDF("s", "d", "w")
    val ssp = Graph.shortestPaths(w, "s", "d", "w",
      Seq(0L, 5L).toDF("id"), "id", maxHops = 2)
    val sspPlan = ssp.queryExecution.executedPlan.toString
    assert(!sspPlan.contains("NestedLoop") && !sspPlan.contains("CartesianProduct"), sspPlan)

    assert(ov.count() > 0 && sk.count() > 0 && lpa.count() > 0 && ssp.count() > 0)
  }
  test("closing-wave shapes: lift/quantile-map ranks stay range-partitioned, islands windows stay keyed") {
    // decile lift: the global rank must ride the range-partition spelling —
    // no data-sized SinglePartition stage (the <=P-row offset fold is upstream
    // of a broadcast and collected, not a SinglePartition exchange here)
    val scored = (1 to 3000).map(i => (i.toLong, (i * 37L) % 997, (i % 5 == 0)))
      .toDF("id", "s", "b").withColumn("y", col("b").cast("long")).drop("b")
    val lift = Analytics.decileLift(scored, "id", col("s"), col("y"))
    val liftPlan = lift.queryExecution.executedPlan.toString
    // the only SinglePartition allowed is the one-row totals aggregate
    // (the Window present is the rank's, partitioned by the range pid —
    // a global window would force a second SinglePartition and fail this)
    assert("SinglePartition".r.findAllIn(liftPlan).size <= 1, liftPlan)
    // quantile map: same contract (two one-row totals aggs)
    val qm = Analytics.quantileMap(scored, "id", col("s"),
      scored.select(col("s").as("t")), col("t"))
    val qmPlan = qm.queryExecution.executedPlan.toString
    assert("SinglePartition".r.findAllIn(qmPlan).size <= 2, qmPlan)
    // interval coalesce: windows are keyed, never global
    val iv = (1 to 2000).map(i => (i.toLong % 20, (i * 7L) % 5000, (i * 7L) % 5000 + 50))
      .toDF("k", "s", "e")
    val co = Analytics.coalesceIntervals(iv, "k", "s", "e")
    assert(!co.queryExecution.executedPlan.toString.contains("SinglePartition"),
      co.queryExecution.executedPlan.toString)
    assert(lift.count() === 10L && qm.count() > 0 && co.count() > 0)
  }
  test("round-14 plan pins: overlapJoin shuffle-hash, bounded skyline broadcasts its frontier, ed-join single-shuffle") {
    // overlapJoin: the shuffle-hash pin must hold — a static broadcast
    // of the binned side builds a fan-out-times-underestimated hash
    // relation single-threaded (the sf10 3.4 s vs 0.9 s A/B)
    val l = (1 to 400).map(i => (i.toLong % 7, i.toLong, (i * 13L) % 5000, (i * 13L) % 5000 + 120))
      .toDF("k", "lid", "ls", "le")
    val r = (1 to 400).map(i => (i.toLong % 7, i.toLong, (i * 29L) % 5000, (i * 29L) % 5000 + 90))
      .toDF("k", "rid", "rs", "re")
    val ov = Temporal.overlapJoin(l, "ls", "le", r, "rs", "re", Seq("k"), 128L)
    val ovPlan = ov.queryExecution.executedPlan.toString
    assert(ovPlan.contains("ShuffledHashJoin"), ovPlan)

    // bounded-axis skyline: the frontier semi join must BROADCAST (the
    // frontier descends from a stats-free checkpoint; without the hint
    // the planner intermittently sort-merged the full input)
    val sk = Skyline.skyline2d(
      (1 to 2000).map(i => ((i * 37L) % 100, (i * 91L) % 500)).toDF("x", "y"), "x", "y")
    val skPlan = sk.queryExecution.executedPlan.toString
    assert(skPlan.contains("BroadcastHashJoin") || skPlan.contains("BroadcastExchange"),
      skPlan)
    assert(!skPlan.contains("SortMergeJoin"), skPlan)

    // edThresholdJoin: the verify is map-side on the candidate join's
    // output — no SinglePartition stage anywhere (the fan-out must not
    // funnel through one task)
    val docs = (1 to 300).map(i => (i.toLong, f"w${i % 60}%03dx${i % 7}")).toDF("id", "t")
    val ed = Dedup.edThresholdJoin(docs, "id", "t", 1)
    assert(!ed.queryExecution.executedPlan.toString.contains("SinglePartition"),
      ed.queryExecution.executedPlan.toString)

    assert(ov.count() > 0 && sk.count() > 0 && ed.count() >= 0)
  }

  test("round-14 purge: rfm quintiles, ksTest CDF, streaming top-N carry no data-sized single-task stage") {
    // rfm: the three quintile ranks were the last data-sized unpartitioned
    // windows — they now ride Ranks.withGlobalRank, so no rank may funnel
    // the entity frame through one task (the <=P-row offset folds are
    // collected driver aggregates, not SinglePartition exchanges; the only
    // tolerated SinglePartition is the one-row maxDay broadcast aggregate)
    val ev = (1 to 3000).map(i => (
      s"u${i % 211}", "purchase",
      java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 01:02:03"),
      (i % 97).toDouble))
      .toDF("user_id", "event_type", "ts", "value")
    val rfm = Analytics.rfmSegments(ev, "user_id", "ts", "value",
      targetType = ("event_type", "purchase"))
    val rfmPlan = rfm.queryExecution.executedPlan.toString
    assert("SinglePartition".r.findAllIn(rfmPlan).size <= 1, rfmPlan)
    assert(!rfmPlan.contains("Coalesce 1"), rfmPlan)

    // ksTest: the cumulative pass rides the DISTINCT micro-value axis —
    // unbounded for continuous values, so it must range-partition (one
    // SinglePartition allowed: the one-row totals aggregate)
    val ks = Analytics.ksTest(ev.withColumn("g",
      when(col("value") < 50, "a").otherwise("b")), "value", "g", "a", "b")
    val ksPlan = ks.queryExecution.executedPlan.toString
    // two bounded SinglePartition stages tolerated: the one-row totals
    // aggregate and the <=P-row cross-partition fold of the prefix sums
    // — the data-sized cumulative window itself is partitioned by __pid
    assert("SinglePartition".r.findAllIn(ksPlan).size <= 2, ksPlan)

    // streaming top-N: orderBy+limit must plan as TakeOrderedAndProject
    // (per-partition top-N + bounded merge), never a state-sized rank
    // window feeding a filter
    val state = (1 to 5000).map(i => (i.toLong, (i * 37L) % 4993))
      .toDF("player", "score")
    val topn = graft.streaming.StreamingOps.topNRetractions(
      None, state, n = 10, scoreOrder = Seq(col("score").desc, col("player")),
      primaryKey = Seq("player"))
    val topnPlan = topn.queryExecution.executedPlan.toString
    assert(topnPlan.contains("TakeOrderedAndProject"), topnPlan)

    // cross-check the purged shapes against the single-window spellings
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("score").desc, col("player"))
    val wantTop = state.withColumn("place", row_number().over(wAll))
      .filter(col("place") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val gotTop = topn.select(col("player"), col("score"), col("place"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotTop === wantTop)
    assert(rfm.count() === 211L && ks.count() === 1L)
  }

  test("prefixSumsInclusiveGlobal equals the single-window spelling, multi-column, one range shuffle") {
    val df = (1 to 700).map(i => ((i * 37L) % 997, (i % 5).toLong, (i % 3).toLong))
      .toDF("o", "a", "b")
    val got = Ranks.prefixSumsInclusiveGlobal(df, col("o"), Seq("a", "b"), Seq("ca", "cb"))
    val plan = got.queryExecution.executedPlan.toString
    // the only SinglePartition is the <=P-row per-partition-totals fold
    // (bounded by CONFIG); the data-sized window is partitioned by __pid
    assert("SinglePartition".r.findAllIn(plan).size <= 1, plan)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // ties on `o` make row-frame prefix sums order-dependent — the fixture
    // is tie-free (37 coprime to 997, 700 < 997 distinct values)
    val want = df.withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(got.select(col("o"), col("ca"), col("cb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === want)
  }

  test("round-15 pins: q12 shape hash-joins slim payloads, keyed stats derivations have NO single-task stage") {
    // q12's fix: the fact-to-fact orderkey join must plan as a shuffled
    // hash join (the SMJ default pays two fact-sized sorts — the round-15
    // sf10 A/B's 8.0 s -> 1.4 s), and the orders side must carry the
    // priority predicate as a pre-shuffle boolean, not the string.
    val li = spark.range(5000).select(
      (col("id") % 1000).as("l_orderkey"),
      when(col("id") % 2 === 0, "F").otherwise("O").as("l_linestatus"))
    val hi = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    // priority must be NON-constant: a literal would constant-fold the
    // `hi` predicate away and the attribute-containment check below
    // could never catch a regression of the pre-shuffle projection
    val ord = spark.range(1000).select(
      col("id").as("o_orderkey"),
      when(col("id") % 3 === 0, "1-URGENT").otherwise("3-MEDIUM")
        .as("o_orderpriority"))
    val q12 = li
      .join(ord.select(col("o_orderkey"), hi.as("__hi")).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(col("__hi"), lit(1L)).otherwise(lit(0L))).as("high_line_count"),
        sum(when(col("__hi"), lit(0L)).otherwise(lit(1L))).as("low_line_count"))
    // AQE off so the executedPlan is a plain traversable tree — the pin
    // inspects every exchange's OUTPUT (a whole-plan substring check is
    // vacuous-or-spurious: the attribute legitimately appears in the
    // pre-shuffle project either way)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = q12.queryExecution.executedPlan
      val q12Plan = plan.toString
      assert(q12Plan.contains("ShuffledHashJoin") || q12Plan.contains("BroadcastHashJoin"),
        q12Plan)
      assert(!q12Plan.contains("SortMergeJoin"), "q12 shape fell back to sort-merge")
      // every exchange carries the boolean, never the priority string
      val exchanged = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.output
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e.output
      }
      assert(exchanged.nonEmpty, q12Plan)
      assert(exchanged.forall(_.forall(_.name != "o_orderpriority")),
        "priority string rode the shuffle:\n" + q12Plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)

    // keyed from-stats derivations: every window/aggregate partitions by
    // the key — no SinglePartition exchange anywhere in either plan
    val kstats = (1 to 900).map(i =>
      (s"d${i % 7}", (i * 37L) % 40, 2L + i % 3, (i % 3).toLong))
      .toDF("__k", "__s", "n", "pos")
    val aucPlan = ScoreStats.aucByKeyFromStats(kstats, "day")
      .queryExecution.executedPlan.toString
    assert(!aucPlan.contains("SinglePartition"), aucPlan)
    val ksPlan = ScoreStats.ksByKeyFromStats(kstats, "day")
      .queryExecution.executedPlan.toString
    assert(!ksPlan.contains("SinglePartition"), ksPlan)
  }
}
