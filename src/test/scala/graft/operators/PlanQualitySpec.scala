package graft.operators

import graft.{SparkSpec, T}

/** Physical-plan quality gates: correctness tests prove the answers right;
  * these prove the plans are the ones you'd want at 100 TB — filters reach
  * the parquet scan, projection prunes columns, small dimensions broadcast,
  * top-k avoids full sorts, LSH avoids cartesian products.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q02: predicates are pushed into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_quantity"), p)
  }

  test("q02: scan reads only the referenced columns") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("q05: dimension tables join via broadcast, no shuffle of nation/region") {
    val p = plan("q05_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q15: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan("q15_top_k")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation is partial then final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("d04: LSH candidate join is a real equi-join, not cartesian") {
    val p = plan("d04_minhash_lsh_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d18: top-k sim join is equi-join + TakeOrdered; recall vs exact d02 measured") {
    import spark.implicits._
    val t = T(spark, sfDir)
    val d18 = Dedup.d18TopkSimJoin(t)
    val p = d18.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val approx = d18.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val exactRows = Dedup.d02NgramJaccardPairs(t)
      .select($"doc_a", $"doc_b", $"jaccard_bp").as[(Long, Long, Long)].collect()
    // the banding's design regime (4x8 bands: ~98.7% per-pair collision at
    // j=0.95, higher above): near-total recall, not a per-pair guarantee
    val design = exactRows.filter(_._3 >= 9500).map(r => (r._1, r._2)).toSet
    val designRecall =
      if (design.isEmpty) 1.0 else (design & approx).size.toDouble / design.size
    assert(designRecall >= 0.8,
      f"design-regime recall $designRecall%.2f; missed: ${design -- approx}")
    // below the design threshold recall degrades by construction (the tiny
    // spec corpus puts most of the top-20 tail there) — measure, floor low
    val exact = exactRows.map(r => (r._1, r._2)).toSet
    val recall = if (exact.isEmpty) 1.0 else (approx & exact).size.toDouble / exact.size
    info(f"d18 top-20 recall vs exact d02: $recall%.2f (design-regime pairs: ${design.size})")
    assert(exact.isEmpty || recall >= 0.2, f"recall $recall%.2f below floor")
  }

  test("m09: shard window partitions by source (no single-partition prefix sum)") {
    val p = plan("m09_shards_per_source")
    assert(p.contains("windowspecdefinition(source"), p)
  }

  test("s12: knn graph candidates are bucket equi-joins, top-k as a partial aggregate") {
    val p = plan("s12_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the per-src ranking must be the partial-aggregating topk_scored, not a
    // window: no exchange+sort of the full candidate-pair stream
    assert(p.contains("partial_topk_scored"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("p24: padding window partitions by source (no single-partition rank)") {
    val p = plan("p24_padding_per_source")
    assert(p.contains("windowspecdefinition(source"), p)
  }

  test("q107: topk_longs runs as a TypedImperativeAggregate, exploded after the agg") {
    val p = plan("q107_topk_agg")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("topk_longs"), p)
    assert(p.contains("Generate"), p) // posexplode sits above the aggregate
  }

  test("s01: brute-force top-k broadcasts the query side only") {
    val p = plan("s01_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the big (candidate) side must NOT be the broadcast side
    assert(p.contains("BuildRight") || p.contains("BuildLeft"), p)
  }

  test("m02: media rollup scans only text + doc_id (blobs never read wide)") {
    val p = plan("m02_media_rollup")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("d06: simhash pair candidates join on chunk keys, not per-lang all-pairs") {
    val p = plan("d06_simhash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the equi-join keys must include the chunk blocking key, so the only
    // non-equi predicate left is doc_a < doc_b
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("s04: IVF search joins on cluster id with a broadcast probe set") {
    val p = plan("s04_ivf_ann")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p04: contamination check hash-joins the holdout gram set, no all-pairs") {
    val p = plan("p04_contamination")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p07: stratified sample broadcasts the rates dim; corpus is not shuffled") {
    val p = plan("p07_stratified_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only exchange allowed is the broadcast + the final global orderBy's
    // range partitioning — no hash repartitioning of the documents scan
    assert(!p.contains("hashpartitioning"), p)
  }

  test("d08: prefix-filtered Jaccard join is an equi-join with full recall over d04") {
    // r15 session 2: below the dense all-pairs gate the kernel IS a gated
    // broadcast nested-loop over the bitmap payloads (a bounded vocabulary
    // makes the token-keyed candidate join enumerate MORE rows than one
    // popcount per pair); above the gate the distributable prefix equi-join
    // must come back. Both gears asserted, plus exactness both ways.
    val p = plan("d08_prefix_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // gate fires at spec scale
    assert(!p.contains("indexable"), p) // no prefix explode below the gate
    spark.conf.set("spark.graft.ppjoin.allPairsMaxWordOps", "0")
    try {
      val pp = plan("d08_prefix_jaccard")
      assert(!pp.contains("CartesianProduct"), pp)
      assert(!pp.contains("BroadcastNestedLoopJoin"), pp)
      assert(pp.contains("indexable"), pp) // the 100 TB prefix shape
      // the two gears agree bit-for-bit (the gate may not change results)
      val prefixRows = Dedup.d08PrefixJaccardJoin(T(spark, sfDir))
        .collect().map(_.toString).toSeq
      spark.conf.unset("spark.graft.ppjoin.allPairsMaxWordOps")
      val bnlRows = Dedup.d08PrefixJaccardJoin(T(spark, sfDir))
        .collect().map(_.toString).toSeq
      assert(bnlRows == prefixRows)
      assert(bnlRows.nonEmpty, "non-vacuous: the corpus must surface pairs")
    } finally spark.conf.unset("spark.graft.ppjoin.allPairsMaxWordOps")
    // prefix filtering is exact (pigeonhole): it must find every pair the
    // probabilistic LSH path (same 0.8 threshold) found
    val t = T(spark, sfDir)
    val d08 = Dedup.d08PrefixJaccardJoin(t).select("doc_a", "doc_b")
      .collect().map(_.toString).toSet
    val d04 = Dedup.d04MinhashLshPairs(t).select("doc_a", "doc_b")
      .collect().map(_.toString).toSet
    assert(d04.subsetOf(d08), s"LSH found pairs prefix filter missed: ${d04 -- d08}")
  }

  test("q50: merge upsert is an equi full-outer join, not nested-loop") {
    val p = plan("q50_merge_upsert")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("p09/t06: census joins stay equi-joins with no corpus cartesian") {
    Seq("p09_token_mixture", "t06_surprisal").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("q61: EXISTS/NOT EXISTS lower to semi and anti hash joins") {
    val p = plan("q61_exists_subquery")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d09: substring-dup census is one gram-key hash aggregate, no window sort") {
    val p = plan("d09_substring_dup")
    // sort-free census: dup counts come from ONE hash aggregate per gram
    // key (map-side combine, no sort) — the previous window formulation
    // exchanged AND sorted every occurrence row and straddled the 120 s
    // ceiling at the 120x probe. The only sort left is the presentation
    // orderBy; the n_grams side is a length() expression, so the join
    // back to per-doc totals carries one row per doc.
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("g02: triangle closure is equi-joins only, one triangle per wedge") {
    val p = plan("g02_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // sf0.001 graph is tiny but must still produce valid per-node counts
    val rows = graft.SparkEntry.queries("g02_triangles")(spark, sfDir).collect()
    assert(rows.forall(_.getLong(1) >= 1), rows.mkString(","))
  }

  test("p11: cascade flags agree with p06's repetition verdict") {
    val t = T(spark, sfDir)
    val p11 = Pipeline.p11QualityCascade(t)
      .select("doc_id", "f_rep").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val p06 = Pipeline.p06Repetition(t)
      .select("doc_id", "repetition_bp").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    p06.foreach { case (id, bp) =>
      assert(p11(id) == (bp <= 2000), s"doc $id: repetition_bp=$bp vs f_rep=${p11(id)}")
    }
  }

  test("p32: one codegen'd scoring call, no joins; selection is a predicate, no single-partition top-k") {
    val p = plan("p32_dsir_resample")
    // the trained 256-bucket llr rides inside the codegen'd
    // bigram_bucket_score projection — no gram explode, no per-doc fold
    // shuffle, no empty-doc totality join: the whole scoring pass is one
    // scan, and the only exchange left is the final doc_id sort
    assert(p.contains("bigram_bucket_score"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    // VERDICT r9 #1: selection is the census-derived rank-threshold
    // PREDICATE — no quarter-corpus TakeOrdered funnel, no global window
    assert(!p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("p12: bloom screen broadcasts the bit set and never misses an exact hit") {
    val p = plan("p12_bloom_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val t = T(spark, sfDir)
    val bloom = Pipeline.p12BloomContamination(t)
      .select("doc_id", "n_bloom_hits").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Pipeline.p04Contamination(t)
      .select("doc_id", "n_contaminated").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (id, n) =>
      assert(bloom(id) >= n, s"doc $id: bloom=${bloom(id)} < exact=$n (false negative)")
    }
  }

  test("d09: hashed-gram production variant matches the exact string version") {
    val t = T(spark, sfDir)
    val exact = snap(Dedup.substringDupCoverageExact(t))
    val hashed = snap(Dedup.substringDupCoverageHashed(t)) // the declared d09 since r14
    assert(hashed == exact)
    // stride 4: same docs, every gram count divided ~4x, never larger
    val strided = Dedup.substringDupCoverageHashed(t, stride = 4)
      .select("doc_id", "n_grams").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.substringDupCoverageHashed(t)
      .select("doc_id", "n_grams").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    full.foreach { case (id, n) =>
      assert(strided(id) <= n / 4 + 1, s"doc $id: strided=${strided(id)} full=$n")
    }
  }

  test("skew: AQE OptimizeSkewedJoin splits a Zipfian-key shuffle join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The 100 TB posture claims AQE absorbs key skew; this forces the rule
    // to actually fire. The fixture is the windowed-dedup-keeper shape:
    // cluster_id is Zipfian by construction (one giant near-dup cluster),
    // so the join partition for the hot key dwarfs the median. Thresholds
    // are scaled down to test size; the assertion is the real one — the
    // executed SMJ reports skew=true after AQE re-planning.
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 90% of left-side rows share cluster 0; 64-byte payload makes the
      // hot partition dwarf the byte thresholds above
      val left = spark.range(200000).select(
        when($"id" % 10 =!= 0, lit(0L)).otherwise($"id").as("cluster_id"),
        $"id".as("doc_id"), lpad(lit("x"), 64, "x").as("payload"))
      val right = spark.range(1000).select($"id".as("cluster_id"), ($"id" * 2).as("keeper"))
      val j = left.join(right, "cluster_id")
      // collect() drives THIS DataFrame's QueryExecution (count() would plan
      // a different query and leave this AdaptiveSparkPlan unfinalized);
      // 180000 hot-key rows + id=0 (also cluster 0) + ids 10..990 step 10
      assert(j.collect().length == 180001 + 99)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"OptimizeSkewedJoin did not fire:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("d26: collapse→pair composition — keepers only, equi-joins, d08-consistent at 0.8") {
    val p = plan("d26_collapse_pairs")
    // the residual pairing rides prefixJaccardPairs' gated kernel: the
    // bitmap nested-loop below the dense all-pairs gate (d08's spec asserts
    // both gears), never a cartesian product
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("indexable"), p)
    val t = T(spark, sfDir)
    // r8 keeper rework: the election runs on the LINEAR star graph. The
    // structural claim that licenses it — star-edge components EQUAL the
    // full band-collision candidate graph's components — asserted directly:
    def components(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val starCC = components(Dedup.bucketStarEdges(t.documents))
    val candCC = components(
      Dedup.bandCandidates(Dedup.minhashSigTable(t.documents)))
    assert(starCC == candCC,
      s"star-edge CC diverged from candidate-graph CC: ${starCC.size} vs ${candCC.size} nodes")
    val keepers = Dedup.keeperIdsOf(t.documents, Dedup.bucketStarEdges(t.documents))
      .collect().map(_.getLong(0)).toSet
    // every emitted pair is keeper×keeper at or above the declared threshold
    Dedup.d26CollapsePairs(t).collect().foreach { r =>
      assert(keepers(r.getLong(0)) && keepers(r.getLong(1)), r.toString)
      assert(r.getLong(2) >= 4200, r.toString)
    }
    // at the d08 threshold the composition is exactly d08's pair set
    // restricted to keepers (generalized prefix math == the hard-coded d08
    // constants, and the collapse drops only non-keeper endpoints)
    val composed = snap(Dedup.d26CollapsePairs(t, thresholdBp = 8000))
    val restricted = snap(Dedup.d08PrefixJaccardJoin(t)
      .filter(r => keepers(r.getLong(0)) && keepers(r.getLong(1))))
    assert(composed == restricted)
  }

  test("d27: semantic collapse — same-sig vectors share a cluster; equi-joins only") {
    val p = plan("d27_semantic_collapse")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    import org.apache.spark.sql.functions._
    val t = T(spark, sfDir)
    graft.functions.Registry.ensure(spark)
    val sigGroups = t.embeddings
      .select(col("vec_id"), expr("hyperplane_sig(embedding, 32)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._2)
    val cluster = Dedup.d27SemanticCollapse(t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigGroups.values.filter(_.length >= 2).foreach { g =>
      val cs = g.map(m => cluster.get(m._1)).toSet
      assert(cs.size == 1 && cs.head.nonEmpty,
        s"sig group ${g.map(_._1).mkString(",")} split across clusters $cs")
    }
  }

  test("d28: modular census error vs exact is one-sided and at the birthday bound") {
    val t = T(spark, sfDir)
    // mod-1e9+7 hashing COLLIDES at corpus scale (birthday: ~150k grams →
    // ~10 colliding pairs here) — unlike the int64 variant, stride-1 output
    // is NOT identical to the exact census. The error is strictly
    // one-sided (a collision can only invent a dup, never lose one) and
    // bounded; the d28 oracle is immune because DuckDB computes the same
    // modular hash, so collisions are shared, not divergent.
    def census(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.select("doc_id", "n_grams", "n_dup_grams").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = census(Dedup.d09SubstringDupCoverage(t))
    val mod1 = census(Dedup.d28StridedGramCensus(t, stride = 1))
    assert(mod1.keySet == exact.keySet)
    var excess = 0L
    exact.foreach { case (id, (n, dup)) =>
      val (nM, dupM) = mod1(id)
      assert(nM == n, s"doc $id: n_grams $nM != $n")
      assert(dupM >= dup, s"doc $id: modular census LOST a dup ($dupM < $dup)")
      excess += dupM - dup
    }
    val totalGrams = exact.values.map(_._1).sum
    assert(excess <= totalGrams / 1000, s"excess $excess over $totalGrams grams")
    // declared stride 4: same docs (all >= 40 chars here), counts ~4x lower
    val strided = Dedup.d28StridedGramCensus(t)
      .select("doc_id", "n_grams").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.d28StridedGramCensus(t, stride = 1)
      .select("doc_id", "n_grams").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    full.foreach { case (id, n) =>
      assert(strided(id) == (n + 3) / 4, s"doc $id: strided=${strided(id)} full=$n")
    }
  }

  test("q78/t10/d11: census and funnel joins stay equi-joins, no cartesian") {
    Seq("q78_funnel", "t10_bigram_lm", "d11_containment_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("g03/d12/s06: round-5 graph + dedup-policy joins stay equi-joins, no cartesian") {
    Seq("g03_clustering_coeff", "d12_cluster_keeper", "s06_ann_recall").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("d08: dense-bitmap verify runs inline in the candidate join (no verify re-join)") {
    // the rewritten d08 carries the verify payload on the prefix rows: the
    // plan must contain exactly ONE self-join (the candidate equi-join) and
    // no further join back to the corpus arrays
    val p = plan("d08_prefix_jaccard")
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin"))
    assert(joins <= 2, s"expected candidate join (+ optional dictionary join) only, got $joins:\n$p")
    assert(p.contains("jaccard_bp_words") || p.contains("jaccard_bp_sorted"), p)
  }

  test("d12: every cluster keeper is a member of its cluster with maximal length") {
    import spark.implicits._
    val t = T(spark, sfDir)
    val clusters = Dedup.connectedComponents(
      Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b"))
      .join(t.documents.select($"doc_id", $"n_chars"), "doc_id")
      .select($"cluster_id", $"doc_id", $"n_chars")
      .collect().groupBy(_.getLong(0))
    val keepers = Dedup.d12ClusterKeeper(t)
      .select($"cluster_id", $"keeper_id", $"n_docs").collect()
    assert(keepers.nonEmpty)
    keepers.foreach { r =>
      val members = clusters(r.getLong(0))
      assert(members.length == r.getLong(2))
      val best = members.map(m => (-m.getLong(2), m.getLong(1))).min._2
      assert(r.getLong(1) == best, s"cluster ${r.getLong(0)}: keeper ${r.getLong(1)} != $best")
    }
  }

  test("s06: LSH recall is within [0, 10000] and useful on average") {
    import spark.implicits._
    val rs = Similarity.s06AnnRecall(T(spark, sfDir))
      .select($"recall_bp").as[Long].collect()
    assert(rs.nonEmpty && rs.forall(r => r >= 0 && r <= 10000))
    val mean = rs.sum.toDouble / rs.size / 10000
    info(f"mean LSH recall@5: $mean%.3f over ${rs.size} queries")
    // the synthetic embeddings are near-uniform, so exact top-5 neighbors sit
    // barely above the noise floor — 8-bit hyperplane buckets recall ~0.13 of
    // them (vs ~0.0008 for a random 20-candidate set, i.e. ~160x over chance).
    // s06's whole point is to MEASURE that honestly; the floor just guards
    // against the candidate join degenerating to empty.
    assert(mean >= 0.05, f"mean recall $mean%.3f below floor 0.05")
  }

  test("p15: packing is gapless, conserves tokens, and respects the budget boundary") {
    import spark.implicits._
    val t = T(spark, sfDir)
    val batches = Pipeline.p15PackBatches(t).orderBy($"batch_id").collect()
    val ids = batches.map(_.getLong(0))
    assert(ids.sameElements(ids.indices.map(_.toLong)), "batch ids must be 0..n-1 gapless")
    val total = t.documents
      .select(org.apache.spark.sql.functions.expr("sum(size(split(text, ' ')))"))
      .head.getLong(0)
    assert(batches.map(_.getLong(2)).sum == total, "packing must conserve tokens")
    // every batch except the last must END at or past its budget boundary
    // (a batch only closes once the running total crosses it)
    batches.dropRight(1).zipWithIndex.foreach { case (b, i) =>
      val cumThrough = batches.take(i + 1).map(_.getLong(2)).sum
      assert(cumThrough >= 4096L * (i + 1), s"batch $i closed before its boundary")
    }
  }

  test("connectedComponents: local union-find fast path == distributed star loop") {
    import org.apache.spark.sql.functions.col
    val t = T(spark, sfDir)
    val pairs = Dedup.d04MinhashLshPairs(t).select(col("doc_a"), col("doc_b"))
    val fast = snap(Dedup.connectedComponents(pairs))
    spark.conf.set("spark.graft.cc.localThreshold", "0") // force the star loop
    try {
      val dist = snap(Dedup.connectedComponents(pairs))
      assert(fast == dist && fast.nonEmpty)
    } finally spark.conf.unset("spark.graft.cc.localThreshold")
  }

  test("d13 bucketed variant: pairs are a subset of the exact definition; equi-join plan") {
    import spark.implicits._
    val t = T(spark, sfDir)
    val exact = Dedup.d13SemanticClusters(t)
      .select($"vec_id").as[Long].collect().toSet
    val bucketed = Dedup.d13SemanticClustersBucketed(t)
    val p = bucketed.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p) // candidates come from bucket keys
    val got = bucketed.select($"vec_id").as[Long].collect().toSet
    assert(got.subsetOf(exact), s"bucketed found vecs outside the exact pair set: ${got -- exact}")
    val recall = if (exact.isEmpty) 1.0 else got.size.toDouble / exact.size
    info(f"bucketed semantic-dedup member recall: $recall%.3f (${got.size}/${exact.size})")
    assert(exact.isEmpty || recall >= 0.2, f"recall $recall%.3f below floor")
  }

  test("q82/q89/q93: doc_id filters on the scalar-fn queries reach the parquet scan") {
    Seq("q82_substring_index", "q89_regexp_family", "q93_mask_fns").foreach { q =>
      val p = plan(q)
      assert(p.contains("PushedFilters: [") && p.contains("LessThan(doc_id"), s"$q: $p")
    }
  }

  test("q103: nation/region broadcast; 8-table join stays equi-join") {
    val p = plan("q103_market_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the part-type filter must reach the part scan, not sit above the join
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(p_type,STANDARD)"), p)
  }

  test("q101: sessionization reuses ONE user_id exchange for window + both aggs") {
    val p = plan("q101_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected a single user_id exchange, got $exchanges:\n$p")
  }

  test("q100: as-of exec plans one exchange per side and no window") {
    val p = plan("q100_asof_exec")
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q106: rank=1 compaction plans WindowGroupLimit (map-side top-1)") {
    val p = plan("q106_latest_per_key")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), s"expected a partial (pre-shuffle) group limit:\n$p")
  }

  test("s09: quantization audit is map-side lambda codegen — no join, one sort exchange") {
    val p = plan("s09_quant_audit")
    assert(!p.contains("Join"), p)
    // the only exchange is the output ORDER BY's range partitioning
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected at most the final sort exchange:\n$p")
  }

  test("t16/t17: token-census joins stay equi-joins, never a vocab cross join") {
    for (q <- Seq("t16_vocab_overlap", "t17_source_drift")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q:\n${plan(q)}")
    }
    // t16's only joins are equi ON token; t17 additionally broadcasts a
    // 1-row corpus total, which legitimately plans as a nested-loop
    // broadcast — so the BNLJ ban applies to t16 alone
    assert(!plan("t16_vocab_overlap").contains("BroadcastNestedLoopJoin"))
  }

  test("q121: BROADCAST hint pins the customer build side") {
    val p = plan("q121_join_hints")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q114: bitmap distinct pre-aggregates map-side and plans no Expand") {
    val p = plan("q114_bitmap_distinct")
    // COUNT(DISTINCT) would rewrite through Expand; the bitmap path must not
    assert(!p.contains("Expand"), p)
    assert(p.contains("partial_bitmap_construct_agg"),
      s"expected map-side bitmap pre-aggregation:\n$p")
  }

  test("d15: provenance attribution broadcasts the narrow (doc_id, source) side") {
    val p = plan("d15_dup_provenance")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q111: both IGNORE NULLS windows share one user_id exchange") {
    val p = plan("q111_ignore_nulls")
    assert(!p.contains("Join"), p)
    // one hash exchange for the shared (user_id) window spec + the output
    // sort's range exchange — a second hash exchange would mean the two
    // window functions stopped sharing a Window operator
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected shared window exchange:\n$p")
  }

  test("q117: EMA fold is one aggregation — no join, no extra shuffle") {
    val p = plan("q117_integer_ema")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected groupBy + sort exchanges only:\n$p")
  }

  test("p19: the contamination gate is a semi-join on gram, never doc x doc") {
    val p = plan("p19_clean_eval_split")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s02/s14: vector rejoin is broadcast — candidates never shuffle embeddings") {
    // the 20x scale smoke caught these carrying 512-byte vectors through
    // the (quadratic-in-bucket-size) candidate exchange; the fix is ids-only
    // distinct + broadcast rejoin, and this pins it (d13 shares the same
    // template but its declared plan ends in the CC local fast path's
    // LocalTableScan, so its joins aren't visible in the final plan)
    for (name <- Seq("s02_hyperplane_lsh", "s14_radius_search")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("s21: ADC scoring is corpus x broadcast probes into a partial top-k — no pair shuffle") {
    // the 80x probe ceilinged the first shape (per-(pair, block) join rows
    // through an exchange+aggregate); this pins the packed form: the pair
    // stream exists only between a broadcast join and the topk_scored
    // partial aggregate
    val p = plan("s21_ivfpq_ann")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("topk_scored"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("w14: the near-dup front door is one band census + keyed joins, no pair join") {
    val p = plan("w14_near_dup_front")
    assert(!p.contains("CartesianProduct"), p)
    // the ownership join keys on (band, bkey) — an equi-join, never doc x doc
    assert(p.contains("hashpartitioning(band"), p)
  }

  test("d21: incremental dedup probes index bands with an equi-join, no corpus re-pair") {
    val p = plan("d21_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // band-key equi-join present
    assert(p.contains("bkey"), p)
  }

  test("m11: only 8-byte hashes enter the pair shuffle (blobs pruned before join)") {
    val p = plan("m11_phash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // the exchange rows carry ahash/chunk keys, never the payload column
    val exchangeIdx = p.linesIterator.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(exchangeIdx >= 0, p)
    assert(!p.contains("payload#" ) || p.linesIterator
      .filter(_.contains("Exchange")).forall(!_.contains("payload")), p)
  }

  test("t19: vocab growth scans the corpus once — checkpoints come from broadcast joins") {
    val p = plan("t19_vocab_growth")
    // two corpus scans max (first-seen + doc counts); checkpoint table joins broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q126: sketch aggregates run partial-then-final like any agg") {
    val p = plan("q126_approx_gate")
    assert(p.contains("partial"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s16: rerank windows shuffle ids+scores only; vectors arrive by broadcast") {
    val df = graft.SparkEntry.queries("s16_two_stage_rerank")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // coarse stage is the s01-shaped broadcast-probe scan; everything after
    // the top-40 cut is broadcast equi-joins — no shuffled vector payloads
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // tree-format Exchange lines only print partition keys, so inspect the
    // FORMATTED plan: each shuffle Exchange block's Input column list must
    // be free of vector payloads (BroadcastExchange carries them by design)
    val fm = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffleInputs = fm.split("\n\n").toSeq
      .filter(_.linesIterator.nextOption().exists(_.matches("""\(\d+\) Exchange.*""")))
      .flatMap(_.linesIterator.filter(_.trim.startsWith("Input")))
    assert(shuffleInputs.nonEmpty, fm)
    shuffleInputs.foreach { in =>
      assert(!in.contains("embedding") && !in.contains("codes") &&
        !in.contains("_emb"), s"a shuffle exchange carries a vector payload: $in")
    }
  }

  test("d23: CDC chunking is per-doc windows + one census — no pair joins") {
    val p = plan("d23_cdc_chunks")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // window partitioned by doc_id; its exchange is reused by the
    // (doc_id, cid) groupBy (subset-key partitioning satisfies it)
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 4, s"CDC chunking grew to $shuffles hash exchanges:\n$p")
  }

  test("g12: label propagation rounds are keyed joins, never all-pairs") {
    val p = plan("g12_label_propagation")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("shuffle budgets: headline queries never grow a new exchange") {
    // measured by `graft.Inspect plans` at sf0.01 — any INCREASE means a
    // change added a shuffle to a headline path; lower is fine
    val budgets = Map(
      "q01_pricing_summary" -> 2, "q05_region_revenue" -> 2,
      "q103_market_share" -> 2, "d04_minhash_lsh_pairs" -> 2,
      "d13_semantic_clusters" -> 1, "d18_topk_sim_join" -> 1,
      "d21_incremental_dedup" -> 3, "s01_cosine_topk" -> 2,
      "s04_ivf_ann" -> 2, "s12_knn_graph" -> 3, "s14_radius_search" -> 4,
      "m02_media_rollup" -> 2, "p03_sequence_packing" -> 2,
      "p26_soft_dedup" -> 3, "t11_tfidf_topterms" -> 6,
      "q100_asof_exec" -> 4, "q110_interval_exec" -> 3,
      "q125_session_window" -> 2, "d23_cdc_chunks" -> 4,
      // r7: stage 0 became the LSH candidate join (band self-join + distinct
      // replace the broadcast probe-set × corpus scan the sf1 lane ceilinged)
      "s16_two_stage_rerank" -> 3,
      // r7 second wave: s21 = IVF assign + PQ code packing + LUT build +
      // top-k (probe scoring itself is shuffle-free — corpus × broadcast
      // probe rows straight into the partial top-k); g14 = the linear
      // prefix-filter residual pipeline + 5 superstep join/agg rounds
      // (collapse stages hide behind localCheckpoints); w14 = band census +
      // ownership join + per-doc rollup
      // r8: +1 — the rerank now streams the corpus frames against the
      // broadcast SHORTLIST (ADVICE r7: the old shape broadcast two full
      // quantized-corpus frames), so the final top-k pays one exchange of
      // ~10-rows-per-query partial aggregates instead of shipping the
      // corpus to the driver twice; the new exchange is the cheap side of
      // that trade by orders of magnitude
      "s21_ivfpq_ann" -> 6, "g14_collapsed_rank" -> 12,
      "w14_near_dup_front" -> 3,
      // d29's visible plan is the prefix-filter residual pipeline (the
      // linear collapse hides behind the checkpointed dictionary builds)
      "d29_front_collapse" -> 4,
      // the funnel composes five stages (quality census, exact group, LSH
      // band→cand→CC, 5-gram contamination, conditional-agg + stack) — 17
      // exchanges IS its shape; the budget pins it from growing further
      "p29_curation_funnel" -> 17)
    for ((name, budget) <- budgets) {
      val p = plan(name)
      val shuffles = graft.Inspect.shuffles(p)
      assert(shuffles <= budget, s"$name grew to $shuffles shuffles (budget $budget):\n$p")
    }
  }

  test("whole-stage codegen covers the dedup signature pipeline") {
    // "*(n)" prefixes mark operators fused into whole-stage codegen; AQE
    // only shows them after the stages actually run
    val df = graft.SparkEntry.queries("d03_minhash_signature")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("*("), p)
  }
}
