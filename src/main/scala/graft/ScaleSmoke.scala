package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-cliff smoke for the quadratic-risk query families (VERDICT r5 §7).
  *
  * No sf1 corpus ships with the testdata, so this main synthesizes one at
  * runtime: the sf0.1 `documents`/`embeddings` tables replicated `mult` times
  * (default 20× → 100k docs / 40k vectors) with per-replica doc_id offsets and
  * a short text/embedding perturbation, so each source row becomes a cluster
  * of near-duplicates — the worst realistic shape for candidate generation.
  *
  * Only PRODUCTION paths run here (LSH / SimHash blocking / collapse→pair
  * compositions / gram-key / IVF). The declared all-pairs exact baselines
  * (d02, s03) are excluded by design and named in the artifact: they are
  * O(n²) oracles, not hot paths, and benching them at 20× would only prove
  * arithmetic; raw d08/d13 are excluded as measured OUTPUT-bound on replica
  * corpora (see [[outputBoundBaselines]] — d26/d27 are their shapes). Every
  * query runs under a wall-clock ceiling enforced with a cancellable job
  * group, so a quadratic stage accidentally introduced into a production path
  * reads as a named breach, not a hung build.
  *
  * Output: one JSON line on stdout and in SCALESMOKE.json.
  */
object ScaleSmoke {

  /** Replicate documents+embeddings `mult`× into `outDir` (parquet). Replica 0
    * is byte-identical to the source; replica i>0 gets a 3–4 char text suffix
    * (near-dup, Jaccard ≈ 1 - 1/shingles) and a 1e-4·i embedding shift.
    *
    * Written as `max(16, mult)` files, NOT the crossJoin's inherited single
    * partition: the sf0.1 source is one file with one row group, so without
    * the repartition every scaled table is ONE unsplittable file and any
    * query whose first exchange comes after its heavy work (scan →
    * broadcast-join → partial-agg) runs single-core no matter the cluster —
    * which is a measurement artifact, not a plan property (caught at the
    * 40× probe: s04's "ceiling breach" was one straggler task reading the
    * only row group). A real 100 TB corpus is thousands of splittable
    * files; the smoke's layout must be, proportionally, too. */
  def buildScaled(spark: SparkSession, baseDir: String, outDir: String, mult: Int): (Long, Long) = {
    // Build-once marker (r13): under the row-per-JVM ladder protocol every
    // row's child JVM calls this — rebuilding a 1.5 M-doc corpus 42 times is
    // ~30 min of pure harness cost per ladder level. The marker is written
    // AFTER a successful build (a crashed build leaves no marker → rebuild)
    // and carries the row counts so reuse doesn't even pay the two counts.
    // The directory path carries the multiplier; the marker carries the
    // BASE dir (ADVICE r13 #2: the dir alone is keyed only by multiplier,
    // so a run against a different or regenerated base corpus would have
    // silently reused the stale corpus and attributed timings to the wrong
    // data) — base mismatch ⇒ rebuild.
    val baseTag = java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      baseDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val marker = java.nio.file.Paths.get(s"$outDir/_GRAFT_READY")
    if (java.nio.file.Files.exists(marker)) {
      val parts = new String(java.nio.file.Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8).trim.split(",")
      // a pre-r14 marker lacks the base tag (or pre-r13: an empty file) —
      // rebuild rather than trust an unattributed corpus
      if (parts.length == 3 && parts(0) == baseTag &&
          parts.tail.forall(_.forall(_.isDigit)))
        return (parts(1).toLong, parts(2).toLong)
    }
    val nFiles = math.max(16, mult)
    val reps = spark.range(mult.toLong).toDF("rep")
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("rep") * lit(1000000L)).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"), col("rep"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(nFiles).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("rep") * lit(1000000L)).as("vec_id"),
        expr("transform(embedding, x -> float(x + rep * 0.0001d))").as("embedding"),
        col("label"))
    embs.repartition(nFiles).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val counts = (spark.read.parquet(s"$outDir/documents.parquet").count(),
      spark.read.parquet(s"$outDir/embeddings.parquet").count())
    java.nio.file.Files.write(marker,
      s"$baseTag,${counts._1},${counts._2}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /** Production-path queries over documents/embeddings; linear-ish by design.
    * Since the 30× probe located the output-bound cliff (true-pair count
    * grows m² in replica multiplicity), the declared replica-heavy pair
    * paths are the COMPOSED collapse→pair pipelines (d26/d27) plus the
    * strided-hash census (d28) — raw d08/d13 moved to
    * [[outputBoundBaselines]]. The 100× probe then showed d26's own keeper
    * ELECTION is pair-bound (CC over the raw m² graph), which is what d29's
    * fully-linear ownership collapse removes (13 s at 100× where d26
    * ceilings); g14 is the same recipe for the graph plane (raw g01's edge
    * set IS the pair list). Several paths here (d04/d22/s02/g01, the
    * diagnostics d25/d26) remain honest at the shipped 20×/30× gates but
    * are output/edge-bound at the 100× informational probe — their
    * verdicts live in SCALESMOKE_100x.json and SURVEY §10. */
  val productionKeys: Seq[String] = Seq(
    "d01_exact_dedup", "d04_minhash_lsh_pairs", "d05_simhash",
    "d06_simhash_pairs", "d07_dedup_clusters",
    "d09_substring_dup", "d18_topk_sim_join",
    "d21_incremental_dedup", "d22_bbit_minhash", "d23_cdc_chunks",
    "d24_chunk_dedup", "d25_collapse_repair", "d26_collapse_pairs",
    "d27_semantic_collapse", "d28_strided_census", "d29_front_collapse",
    "s02_hyperplane_lsh",
    "s04_ivf_ann", "s21_ivfpq_ann", "g01_pagerank", "g14_collapsed_rank",
    "t11_tfidf_topterms", "t25_gopher_repetition", "t26_code_detect",
    "p03_sequence_packing", "p29_curation_funnel", "w14_near_dup_front",
    // r15: the two-pass global-rank rewrites over document-derived frames
    // (GlobalOrder) — smoke-covered so a scale regression in the range
    // partition/offset machinery reads as a named breach
    "p10_curriculum", "p15_pack_batches", "p23_padding_waste",
    "m06_shard_manifest",
    // r8 routed front doors: the replica-mass policy picks the collapse
    // gear on every probe corpus (mass ≈ (m-1)/m ≥ 9000 bp), so these are
    // the shapes a user should run — raw d04/d22/s02/g01 stay listed above
    // as the measured baselines the routing exists to replace at scale
    "d30_routed_neardup", "g15_routed_rank", "s23_routed_clusters",
    "d31_routed_bbit", "s24_routed_ann",
    // r8 second wave — the 120x probe named d07 (CC over the verified
    // pair graph) and d18 (band-candidate top-k) as the remaining
    // unrouted pair-bound shapes; their doors route to star-edge CC and
    // the keeper residual top-k
    "d32_routed_cc", "d33_routed_topk",
    // r8 third wave — with d07/d18 routed, the re-run 120x probe named
    // s04 (fixed-k IVF probe join: queries × cell populations grow m²);
    // its door searches the same trained index over sig representatives.
    // s21 shares that disease through its ADC candidate join (119.7 s at
    // the clean 120x run, one noise-sigma under the ceiling), so it got
    // its door in the same pass
    "s26_routed_ivf", "s27_routed_ivfpq",
    // r8 fourth wave — named by GROWTH analysis rather than a breach:
    // d06 and d21 grow 8.2x/7.4x on 3x data (40x->120x artifacts), the
    // m² signature, so they got their doors before the cliff (d06 is
    // doubly bound: replica pairs are true hamming-0 OUTPUT; d21's
    // candidate stream is m²-fat on both band tables)
    "d34_routed_simhash", "d35_routed_incremental",
    // r9 — s28 bitext margin mining's candidate stream is the s02
    // cross-side band join, so it ships with its door from day one;
    // p32's model/score passes are the newest linear curation shape
    "s28_bitext_margin", "s29_routed_bitext", "p32_dsir_resample",
    // r11 — d09 was the slowest non-ceiling ladder row (78.8 s at 200×,
    // the corpus-chars × 40-char-string gram exchange); its door
    // dispatches the exact census vs d28's strided int64-hash gear on
    // CHAR MASS (the width hazard), not replica mass (there is no pair
    // output to m²-bound here)
    "d36_routed_substring")

  /** Exact/audit arms — broadcast-the-query-set brute force (s01-shaped) or
    * declared all-pairs baselines. Excluded, named in the artifact. s16's
    * coarse stage, s18's pool build and s20's Hamming scan are the same
    * probe-set×corpus shape (their production front would be the IVF/LSH
    * candidate generators benched above). */
  val excludedBaselines: Seq[String] =
    Seq("d02_ngram_jaccard", "s03_embedding_neardup", "s05_knn_classify",
      "s16_two_stage_rerank", "s18_mmr_rerank", "s20_binary_recall",
      "s22_mrr_eval")

  /** Measured output-bound at the 30× probe (SCALESMOKE_30x r6): their
    * TRUE-pair output grows m² on a replica-heavy corpus, so wall-clock is
    * bounded by result size, not by candidate generation — not a plan
    * defect a smoke can catch, and the production recipe on such corpora is
    * the composed collapse→pair shape (d26/d27, in [[productionKeys]]).
    * Excluded and named in the artifact like the all-pairs baselines. */
  val outputBoundBaselines: Seq[String] =
    Seq("d08_prefix_jaccard", "d13_semantic_clusters")

  /** Raw pair shapes kept in [[productionKeys]] as measured baselines whose
    * replica-heavy gear is a replica-mass-routed front door
    * ([[graft.operators.Routing]]): a ceiling breach on the KEY here is the
    * documented m² behavior the VALUE exists to replace (SCALESMOKE_100x r7
    * verdicts), not an unmitigated cliff — the artifact separates them so
    * `unrouted_breaches` is the list a reader should actually worry about. */
  /** Ceiling-class note (VERDICT r9 next-8): s28_bitext_margin's raw arm
    * breaches from the 30× probe up — the earliest ceiling in the ladder,
    * because its candidate stream is s02's cross-side band join and BOTH
    * sides carry the replica multiplier. Like d25 it stays listed as a
    * measured baseline, but above ~20× it is DIAGNOSTIC-ONLY: the
    * production gear at any replica-heavy scale is its door (s29 routes
    * over signature representatives, 4.7 s at 160×). */
  val routedBaselines: Map[String, String] = Map(
    "d04_minhash_lsh_pairs" -> "d30_routed_neardup",
    "d22_bbit_minhash"      -> "d31_routed_bbit",
    "s02_hyperplane_lsh"    -> "s24_routed_ann",
    "g01_pagerank"          -> "g15_routed_rank",
    "d07_dedup_clusters"    -> "d32_routed_cc",
    "d18_topk_sim_join"     -> "d33_routed_topk",
    "s04_ivf_ann"           -> "s26_routed_ivf",
    "s21_ivfpq_ann"         -> "s27_routed_ivfpq",
    "d06_simhash_pairs"     -> "d34_routed_simhash",
    "d21_incremental_dedup" -> "d35_routed_incremental",
    "s28_bitext_margin"     -> "s29_routed_bitext",
    // not m²-bound (the exact census is linear) but WIDTH-bound: the raw
    // row stays a measured baseline of the 40-char-string shuffle the
    // char-mass door retires at scale
    "d09_substring_dup"     -> "d36_routed_substring")

  /** Diagnostic-by-construction arms: d25 MEASURES raw pair mass (its
    * n_pairs_before counts the full m² graph — that is the query's point),
    * so its ceiling breach on a replica corpus is the phenomenon being
    * reported, not a defect. */
  val diagnosticArms: Seq[String] = Seq("d25_collapse_repair")

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(20)
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // optional 3rd arg: name-prefix filter
    val only = Harness.only(args.lift(2))
    val ceiling = sys.env.getOrElse("SPARK_GRAFT_CEILING_SEC", "120").toDouble
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SMOKE_OUT", "SCALESMOKE.json")
    val spark = Harness.session("graft-scale-smoke")

    val dir = s"/tmp/graft-scale/x$mult"
    val (nDocs, nVecs) = buildScaled(spark, baseDir, dir, mult)

    import Harness.fmt
    // first-touch decomposition (VERDICT r12 next-3): under the row-per-JVM
    // protocol every row is process-cold, so a model-training door (IVF/PQ/
    // DSIR training, replica-mass census) absorbs its one-off memoized cost
    // into the row wall and its growth is not decomposable from training.
    // Rows whose run paid a memo miss are tagged first_touch, and re-run
    // once WARM in the same JVM (models + cached frames live) — warm_sec is
    // the search-only figure growth predictions should be judged on.
    val firstTouch = scala.collection.mutable.ListBuffer.empty[String]
    val warmSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timedRun(name: String, fn: (SparkSession, String) => DataFrame): Either[String, Double] =
      Harness.withCeiling(spark, name, ceiling)(Harness.noop(fn(spark, dir)))
    val results = productionKeys.filter(only).map { name =>
      val fn = SparkEntry.queries(name)
      val m0 = Memo.misses
      val outcome = timedRun(name, fn)
      if (Memo.misses > m0) {
        firstTouch += name
        // warm pass only for clean first-touch rows: a ceilinged row may
        // hold half-trained state, and its zombie tasks would pollute the
        // warm window anyway
        outcome.foreach { _ =>
          timedRun(name, fn).foreach(w => warmSecs(name) = w)
        }
      }
      System.err.println(s"[smoke] $name -> $outcome" +
        warmSecs.get(name).map(w => f" (first_touch, warm ${w}%.1f s)").getOrElse(""))
      // drain before the next row opens its window: cancelJobGroup returns
      // immediately, but the cancelled m²-join's tasks hit their interrupt
      // points irregularly (shuffle writes) and can churn for tens of
      // seconds — at 280× that churn CEILINGED the row after d22 (d23:
      // 8.9 s solo, ceiling in-ladder) and inflated every row downwind of
      // a cancel by 1.5-13×. Bounded wait, outside every timed span.
      val drainDeadline = System.currentTimeMillis() + 90000
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
             System.currentTimeMillis() < drainDeadline) Thread.sleep(250)
      // row independence: drop this row's lingering cache and checkpoint
      // blocks before the next one starts. localCheckpoint blocks are only
      // freed by the ContextCleaner after their RDDs are GC'd, so 41
      // accumulated rows' worth inflated LATE-ladder rows by 20-60 % at
      // 200× (measured: w14 26.4 s in-ladder vs 16.1 s solo, same code) —
      // a harness artifact, not operator growth. Outside the timed span.
      spark.sharedState.cacheManager.clearCache()
      // the r12 snapshot-memoized band frame would otherwise carry warm
      // across rows (and pin its checkpoint blocks) — each ladder row must
      // price its door COLD; the cross-door reuse is SHAREBENCH's
      // ownership_family row, not the ladder's business
      graft.operators.Dedup.clearBandMemo()
      System.gc()
      name -> outcome
    }
    val qs = results.map {
      case (k, Right(sec)) => "\"" + k + "\":" + fmt(sec)
      case (k, Left(why))  => "\"" + k + "\":\"" + why + "\""
    }.mkString("{", ",", "}")
    val breachKeys = results.collect { case (k, Left(_)) => k }
    val breaches = breachKeys.map("\"" + _ + "\"").mkString(",")
    val unrouted = breachKeys
      .filterNot(routedBaselines.contains).filterNot(diagnosticArms.contains)
      .map("\"" + _ + "\"").mkString(",")
    val routed = routedBaselines
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString(",")
    val diag = diagnosticArms.map("\"" + _ + "\"").mkString(",")
    val excl = excludedBaselines.map("\"" + _ + "\"").mkString(",")
    val outB = outputBoundBaselines.map("\"" + _ + "\"").mkString(",")
    val total = results.collect { case (_, Right(s)) => s }.sum
    val ft = firstTouch.map("\"" + _ + "\"").mkString(",")
    val warm = warmSecs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"scale_smoke","multiplier":$mult,"docs":$nDocs,"vectors":$nVecs,""" +
        s""""ceiling_sec":${fmt(ceiling)},"total_sec":${fmt(total)},"queries":$qs,""" +
        s""""breaches":[$breaches],"unrouted_breaches":[$unrouted],""" +
        s""""first_touch":[$ft],"warm_sec":$warm,""" +
        s""""routed_baselines":{$routed},"diagnostic_arms":[$diag],""" +
        s""""excluded_baselines":[$excl],""" +
        s""""output_bound_baselines":[$outB],"base":"$baseDir"}"""
    println(line)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[smoke] write $outPath failed: $e") }
    spark.stop()
  }
}
