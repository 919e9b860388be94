package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness.noop
import graft.sharing.{QueryJob, WorkSharingExecutor}

/** Local replica of the reference's ch.5 evaluation (BASELINE.md): batches of
  * grep-WordCount jobs over one shared corpus scan, window sizes 2/5/10,
  * comparing separate execution vs scan-sharing-by-caching vs the hybrid
  * auto-merge — on the same `WorkSharingExecutor` code path (budget 0 turns
  * caching off; `autoMerge = false` turns the default merge rewrite off), so
  * the deltas isolate the policy, not the plumbing.
  *
  * Two workloads, both of which share the scan and merge:
  *  - `wordcount`: grep-filter + explode + groupBy token (the reference's
  *    Fig 5.1 shape) — the merge tokenizes the corpus once per window;
  *  - `grepcount`: grep-filter + scalar aggregate (Fig 5.2's MRShare shape) —
  *    the merge column shows what the reference's regressing MRShare rewrite
  *    looks like without per-tuple tagging.
  *
  * Prints one JSON line per (workload, window): separate/cached/merged secs.
  * Not part of the driver bench contract — evidence for the BASELINE
  * comparison, run manually.
  */
object ShareBench {


  /** Build-once 10× replica corpus for the family rows. The base tag lives
    * in the DIRECTORY PATH (ADVICE r8): the r7 fix tagged only the marker
    * file inside one fixed dir, so an A→B→A base sequence found A's stale
    * marker still present next to B's data and silently reused the wrong
    * corpus. One directory per base means a marker can only ever attest
    * the corpus it sits beside. */
  private def scaledCorpus(spark: SparkSession, base: String): String = {
    val tag = java.util.Base64.getUrlEncoder.withoutPadding()
      .encodeToString(base.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dir = s"/tmp/graft-share/x10-$tag"
    // build-once semantics live in buildScaled itself now (its _GRAFT_READY
    // marker, written after a successful build) — r13 moved them there so
    // the row-per-JVM ladder children share one corpus build too
    ScaleSmoke.buildScaled(spark, base, dir, 10)
    dir
  }


  /** Paired interleaved median-of-3 with ALTERNATING cell order. Position
    * within a pair is a measurable systematic (~3 % on the text row even
    * with both cells doing IDENTICAL work once the fragment gate vetoes
    * its fragments — allocator/GC state inherited from the preceding
    * cell), so odd reps run separate-then-shared and even reps the
    * reverse, cancelling the bias the fixed order baked into every
    * family row through r7. */
  private def pairedMedian(spark: SparkSession)(sep: => Unit, shared: => Unit): (Double, Double) = {
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val reps = (1 to 3).map { rep =>
      spark.catalog.clearCache()
      if (rep % 2 == 1) {
        val a = time(sep); spark.catalog.clearCache(); val b = time(shared); (a, b)
      } else {
        val b = time(shared); spark.catalog.clearCache(); val a = time(sep); (a, b)
      }
    }
    (reps.map(_._1).sorted.apply(1), reps.map(_._2).sorted.apply(1))
  }

  private val words = Seq("spark", "table", "query", "value", "stream",
    "window", "batch", "merge", "sort", "filter")

  /** The shared relation: the DSv2 synthetic corpus — generating the text IS
    * the scan cost (the local analog of the reference's 10 GB disk read; the
    * on-disk sf0.1 corpus is ~12 MB, far too cheap a scan to share). Sharing
    * detects the v2 relation, costs it via SynthScan's reported statistics,
    * and caches one generation for the whole window. */
  private def corpus(rows: Long, parts: Int)(s: SparkSession): DataFrame =
    s.read.format("graft.sources.SynthSource")
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  private def wordCount(word: String, rows: Long, parts: Int)(s: SparkSession): DataFrame =
    corpus(rows, parts)(s)
      .filter(col("text").contains(word))
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))

  private def grepCount(word: String, rows: Long, parts: Int)(s: SparkSession): DataFrame =
    corpus(rows, parts)(s)
      .filter(col("text").contains(word))
      .agg(count(lit(1)).as("n"))

  private def jobs(build: String => SparkSession => DataFrame, win: Int): Seq[QueryJob[Unit]] =
    words.take(win).map(w => QueryJob[Unit](s"j_$w", build(w), noop))

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SYNTH_ROWS", "3000000").toLong
    val spark = Harness.session("graft-share-bench")
    spark.range(2000000).selectExpr("sum(id * 2)").collect()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val workloads: Seq[(String, String => SparkSession => DataFrame)] =
      Seq("wordcount" -> (w => wordCount(w, rows, Harness.cpus)),
        "grepcount" -> (w => grepCount(w, rows, Harness.cpus)))

    // warm-up: one batch of each workload through the executor path (JIT for
    // the generator, the noop sink, and the cache write path)
    new WorkSharingExecutor(spark, budgetBytes = 0L, autoMerge = false)
      .runBatch(jobs(workloads.head._2, 2)).values.foreach(_.get)
    new WorkSharingExecutor(spark).runBatch(jobs(workloads.last._2, 2)).values.foreach(_.get)
    spark.catalog.clearCache()

    // min of 3 reps per cell: single-shot timings are dominated by GC from
    // the cache-materialization of the previous cell
    def best(f: => Unit): Double =
      (1 to 3).map { _ => spark.catalog.clearCache(); time(f) }.min

    // optional arg filters which workload rows run (local dev: "dedup")
    val only = Harness.only(args.headOption)

    val lines = for {
      (wname, build) <- workloads if only(wname)
      win <- Seq(2, 5, 10)
    } yield {
      val sep = best(new WorkSharingExecutor(spark, budgetBytes = 0L, autoMerge = false)
        .runBatch(jobs(build, win)).values.foreach(_.get))
      val cachedT = best(new WorkSharingExecutor(spark, autoMerge = false)
        .runBatch(jobs(build, win)).values.foreach(_.get))
      val mergedT = best(new WorkSharingExecutor(spark)
        .runBatch(jobs(build, win)).values.foreach(_.get))
      spark.catalog.clearCache()
      s"""{"workload":"$wname","window":$win,"separate":$sep,"cached":$cachedT,"merged":$mergedT}"""
    }
    val lines2 = scala.collection.mutable.ListBuffer.empty[String]

    // dedup family: nine production dedup/graph queries that derive from
    // the LSH-pair subplan (d07/d12/d16 through the CC labels, d15
    // directly, p26 through d07, g12/g13 through the symmetrized edge
    // list; d21 shares the signature stage via auto-detection).
    // Fragment sharing materializes that subplan once per window — the
    // subplan-granularity version of the reference's scan-share scenario.
    if (only("dedup_family")) {
      import graft.operators.Dedup
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
      def dedupJobs: Seq[QueryJob[Unit]] = Seq[(String, SparkSession => DataFrame)](
        "d07" -> (s => Dedup.d07DedupClusters(T(s, sfDir))),
        "d12" -> (s => Dedup.d12ClusterKeeper(T(s, sfDir))),
        "d15" -> (s => Dedup.d15DupProvenance(T(s, sfDir))),
        "d16" -> (s => Dedup.d16ClusterAudit(T(s, sfDir))),
        "d17" -> (s => Dedup.d17Survivorship(T(s, sfDir))),
        "d21" -> (s => Dedup.d21IncrementalDedup(T(s, sfDir))),
        "p26" -> (s => graft.operators.Pipeline.p26SoftDedupWeights(T(s, sfDir))),
        "g12" -> (s => graft.operators.Graph.g12LabelPropagation(T(s, sfDir))),
        "g13" -> (s => graft.operators.Graph.g13BridgeEdges(T(s, sfDir)))
      ).map { case (n, b) => QueryJob[Unit](n, b, noop) }
      val frag = Seq("lsh_pairs" ->
        ((s: SparkSession) => Dedup.d04MinhashLshPairs(T(s, sfDir))))
      val sepD = best(new WorkSharingExecutor(spark, budgetBytes = 0L)
        .runBatch(dedupJobs).values.foreach(_.get))
      val fragD = best {
        val ex = new WorkSharingExecutor(spark)
        try ex.runBatch(dedupJobs, frag).values.foreach(_.get) finally ex.shutdown()
      }
      lines2 += s"""{"workload":"dedup_family","window":5,"separate":$sepD,"fragment_shared":$fragD}"""
    }
    // similarity family: eight production queries that all derive from the
    // hyperplane-signature plane (Similarity.idBands / probeCandIds /
    // symCandIds are each ONE definition since r7, so the fragments match
    // canonically across every member). The shipped sf0.01 embedding table
    // is overhead-scale — sharing's cache writes cost more than the
    // 0.3 s/query they save (measured r7: 1.7 s separate vs 3.7 s shared) —
    // so this row runs on the smoke's 10×-replicated corpus, where the
    // shared stages are a real fraction of each job.
    if (only("similarity_family")) {
      import graft.operators.{Dedup, Pipeline, Similarity}
      val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val simDir = scaledCorpus(spark, base)
      // s06 is the audit query that re-derives BOTH siblings' outputs (its
      // truth arm is s01 verbatim, its candidate arm is s02 verbatim) — the
      // reference's purest sharing scenario: concurrent statements whose
      // plans overlap at whole-subquery granularity. s04/s19 (IVF) are
      // deliberately absent: their shared state is the driver-side trained
      // centroid model, which plan-level caching cannot share (each build
      // retrains before a plan exists) — a model registry, not a fragment.
      def simJobs: Seq[QueryJob[Unit]] = Seq[(String, SparkSession => DataFrame)](
        "s01" -> (s => Similarity.s01CosineTopK(T(s, simDir))),
        "s02" -> (s => Similarity.s02HyperplaneLsh(T(s, simDir))),
        "s06" -> (s => Similarity.s06AnnRecall(T(s, simDir))),
        "s12" -> (s => Similarity.s12KnnGraph(T(s, simDir))),
        "s13" -> (s => Similarity.s13CosineBands(T(s, simDir))),
        "s14" -> (s => Similarity.s14RadiusSearch(T(s, simDir))),
        "p27" -> (s => Pipeline.p27SemanticContam(T(s, simDir))),
        "d13" -> (s => Dedup.d13SemanticClustersBucketed(T(s, simDir)))
      ).map { case (n, b) => QueryJob[Unit](n, b, noop) }
      // bands before the candidate frames so the cand materializations read
      // the band cache. Every fragment is NARROW (ids/longs/one float) —
      // r7's measured lessons: caching the embedding-carrying candidate
      // frame lost 1.6× to the cache write + columnar array scan, and even
      // caching the 3-column sig table (the embedding rides along)
      // substitutes a slow array-deserializing InMemoryTableScan into EVERY
      // job's map-side, beating the savings. Wide columns recompute in
      // codegen; narrow join/query outputs cache.
      val simFrags = Seq[(String, SparkSession => DataFrame)](
        "id_bands"        -> (s => Similarity.idBands(T(s, simDir))),
        "s01_topk"        -> (s => Similarity.s01CosineTopK(T(s, simDir))),
        "s02_ann"         -> (s => Similarity.s02HyperplaneLsh(T(s, simDir))),
        "sym_scored"      -> (s => Similarity.symScored(T(s, simDir))))
      // PAIRED, interleaved, median-of-3: min-of-3 with clearCache biases
      // against the shared cell (separate reps run warm while every shared
      // rep intrinsically pays cold fragment materialization — measured r7:
      // the same window read 56 s separate / 118 s shared under min-of-3,
      // yet 166 s / 102 s cold-vs-cold in the per-phase probe, ShareProbe).
      // Budget 0 in BOTH cells: the family's shared scan is the embeddings
      // table, and caching a float-array column columnar makes every
      // downstream read pay array deserialization instead of
      // codegen-over-parquet; scan caching is right for narrow/string
      // relations (wordcount rows above), and vetoing array-heavy scans is
      // the cost model's recorded next refinement.
      // maxConcurrency 1 in both cells: on an idle local[N] box, concurrent
      // separate jobs overlap their latencies across all N cores, which
      // hides exactly the work that sharing saves; a loaded server gives
      // each query a fair share, so TOTAL WORK is the honest currency —
      // single-slot execution measures it directly (same trade the
      // reference benched on a contended 17-node YARN queue).
      val (sepS, fragS) = pairedMedian(spark)(
        new WorkSharingExecutor(spark, budgetBytes = 0L,
          maxConcurrency = 1).runBatch(simJobs).values.foreach(_.get),
        { val ex = new WorkSharingExecutor(spark, budgetBytes = 0L, maxConcurrency = 1)
          try ex.runBatch(simJobs, simFrags).values.foreach(_.get) finally ex.shutdown() })
      lines2 += s"""{"workload":"similarity_family","window":8,"separate":$sepS,"fragment_shared":$fragS}"""
    }
    // text family: five analysis queries that all contain the
    // (doc_id, source, tok) explode subtree (TextAnalysis.docTokens is ONE
    // definition since r7), t11/t12 additionally sharing the per-doc word
    // census (docWordCounts). Same 10×-replicated corpus and paired
    // median-of-3 single-slot protocol as the similarity row, for the same
    // reasons (total work, cold-vs-cold fragment materialization).
    if (only("text_family")) {
      import graft.operators.TextAnalysis
      val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val txtDir = scaledCorpus(spark, base)
      def txtJobs: Seq[QueryJob[Unit]] = Seq[(String, SparkSession => DataFrame)](
        "t08" -> (s => TextAnalysis.t08ZipfProfile(T(s, txtDir))),
        "t11" -> (s => TextAnalysis.t11TfidfTopTerms(T(s, txtDir))),
        "t12" -> (s => TextAnalysis.t12HapaxRatio(T(s, txtDir))),
        "t16" -> (s => TextAnalysis.t16VocabOverlap(T(s, txtDir))),
        "t17" -> (s => TextAnalysis.t17SourceDrift(T(s, txtDir)))
      ).map { case (n, b) => QueryJob[Unit](n, b, noop) }
      val txtFrags = Seq[(String, SparkSession => DataFrame)](
        "doc_tokens"      -> (s => TextAnalysis.docTokens(T(s, txtDir))),
        "doc_word_counts" -> (s => TextAnalysis.docWordCounts(T(s, txtDir))))
      val (sepT, fragT) = pairedMedian(spark)(
        new WorkSharingExecutor(spark, budgetBytes = 0L,
          maxConcurrency = 1).runBatch(txtJobs).values.foreach(_.get),
        { val ex = new WorkSharingExecutor(spark, budgetBytes = 0L, maxConcurrency = 1)
          try ex.runBatch(txtJobs, txtFrags).values.foreach(_.get) finally ex.shutdown() })
      lines2 += s"""{"workload":"text_family","window":5,"separate":$sepT,"fragment_shared":$fragT}"""
    }
    // multimodal family: the decode-once-analyze-many scenario. m01 (per-
    // asset feature report), m02 (per-kind rollup) and m15 (codec parity
    // audit) all contain the SAME real encode→decode→feature subtree
    // (Multimodal.mediaFeatures is ONE definition since r7), and that
    // subtree is where ~all the work is — every corpus byte runs through
    // ImageIO/javax.sound twice. The fragment is the POST-codec frame:
    // 7 narrow scalar columns, no blobs — heavy to compute, cheap to cache,
    // the ideal sharing payoff shape. Runs on the plain sf0.1 corpus (the
    // codec cost is real there; no replication needed) with the same paired
    // median-of-3 single-slot protocol as the similarity/text rows.
    if (only("multimodal_family")) {
      import graft.operators.Multimodal
      val mmDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      def mmJobs: Seq[QueryJob[Unit]] = Seq[(String, SparkSession => DataFrame)](
        "m01" -> (s => Multimodal.m01MediaFeatures(T(s, mmDir))),
        "m02" -> (s => Multimodal.m02MediaRollup(T(s, mmDir))),
        "m15" -> (s => Multimodal.m15DecodeParity(T(s, mmDir)))
      ).map { case (n, b) => QueryJob[Unit](n, b, noop) }
      val mmFrags = Seq[(String, SparkSession => DataFrame)](
        "media_features" -> (s => Multimodal.mediaFeatures(T(s, mmDir))))
      val (sepM, fragM) = pairedMedian(spark)(
        new WorkSharingExecutor(spark, budgetBytes = 0L,
          maxConcurrency = 1).runBatch(mmJobs).values.foreach(_.get),
        { val ex = new WorkSharingExecutor(spark, budgetBytes = 0L, maxConcurrency = 1)
          try ex.runBatch(mmJobs, mmFrags).values.foreach(_.get) finally ex.shutdown() })
      lines2 += s"""{"workload":"multimodal_family","window":3,"separate":$sepM,"fragment_shared":$fragM}"""
    }
    // curation family: the funnel (p29) literally CONTAINS p11's quality
    // frame and p04's gram census as subtrees, and p04/p12 both build the
    // distinct-5-gram frame — the window a curation service actually runs
    // (score + screen + funnel in one batch). Fragments: the per-doc quality
    // flags (narrow bools/longs) and the distinct doc-gram frame (the
    // shuffle-heavy census both contamination screens and the funnel's
    // decontam stage re-derive). Same 10×-replicated corpus and paired
    // median-of-3 single-slot protocol as the other family rows.
    if (only("curation_family")) {
      import graft.operators.Pipeline
      val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val curDir = scaledCorpus(spark, base)
      def curJobs: Seq[QueryJob[Unit]] = Seq[(String, SparkSession => DataFrame)](
        "p04" -> (s => Pipeline.p04Contamination(T(s, curDir))),
        "p11" -> (s => Pipeline.p11QualityCascade(T(s, curDir))),
        "p12" -> (s => Pipeline.p12BloomContamination(T(s, curDir))),
        "p29" -> (s => Pipeline.p29CurationFunnel(T(s, curDir)))
      ).map { case (n, b) => QueryJob[Unit](n, b, noop) }
      val curFrags = Seq[(String, SparkSession => DataFrame)](
        "quality_flags" -> (s => Pipeline.qualityFlags(T(s, curDir))),
        "five_grams"    -> (s => Pipeline.fiveGrams(T(s, curDir).documents)))
      val (sepC, fragC) = pairedMedian(spark)(
        new WorkSharingExecutor(spark, budgetBytes = 0L,
          maxConcurrency = 1).runBatch(curJobs).values.foreach(_.get),
        { val ex = new WorkSharingExecutor(spark, budgetBytes = 0L, maxConcurrency = 1)
          try ex.runBatch(curJobs, curFrags).values.foreach(_.get) finally ex.shutdown() })
      lines2 += s"""{"workload":"curation_family","window":4,"separate":$sepC,"fragment_shared":$fragC}"""
    }
    // graph family: every graph query recomputes the LSH pair graph before
    // its own supersteps — the most expensive shared subtree in the repo
    // relative to the downstream work (degree/triangle/modularity passes are
    // cheap equi-joins once the verified pair list exists). Fragment: d04's
    // verified pairs (narrow: two longs + a bp score). g01's localCheckpoint
    // still benefits: the checkpoint materialization itself scans the cached
    // InMemoryRelation via CacheManager substitution. Same 10×-replicated
    // corpus and paired median-of-3 single-slot protocol as the other rows.
    if (only("graph_family")) {
      import graft.operators.{Dedup, Graph}
      val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val gDir = scaledCorpus(spark, base)
      def gJobs: Seq[QueryJob[Unit]] = Seq[(String, SparkSession => DataFrame)](
        "g01" -> (s => Graph.g01PageRank(T(s, gDir))),
        "g02" -> (s => Graph.g02Triangles(T(s, gDir))),
        "g04" -> (s => Graph.g04DegreeHistogram(T(s, gDir))),
        "g05" -> (s => Graph.g05ClusterSizes(T(s, gDir))),
        "g08" -> (s => Graph.g08Modularity(T(s, gDir))),
        "g10" -> (s => Graph.g10TwoHopReach(T(s, gDir)))
      ).map { case (n, b) => QueryJob[Unit](n, b, noop) }
      val gFrags = Seq[(String, SparkSession => DataFrame)](
        "lsh_pairs" -> (s => Dedup.d04MinhashLshPairs(T(s, gDir))))
      val (sepG, fragG) = pairedMedian(spark)(
        new WorkSharingExecutor(spark, budgetBytes = 0L,
          maxConcurrency = 1).runBatch(gJobs).values.foreach(_.get),
        { val ex = new WorkSharingExecutor(spark, budgetBytes = 0L, maxConcurrency = 1)
          try ex.runBatch(gJobs, gFrags).values.foreach(_.get) finally ex.shutdown() })
      lines2 += s"""{"workload":"graph_family","window":6,"separate":$sepG,"fragment_shared":$fragG}"""
    }
    // ownership family (r12): the cross-door reuse the snapshot-memoized
    // band frame buys (VERDICT r11 next-5). d29/d32/d33/w14 all contain the
    // shingle+minhash+band pass as their prefix; on the 10× replica corpus
    // every door routes to its collapsed (ownership) gear, so a window
    // running the four pays the sig pass once when the memo is allowed to
    // live across jobs ("shared") vs rebuilt per job ("separate" — the
    // pre-r12 behavior, where each call localCheckpoint'd its own copy).
    // Unlike the fragment-family rows this sharing needs no executor
    // plumbing: the memo IS the shared materialization, so the cells time
    // plain sequential batches with the memo cleared per-job vs per-batch.
    if (only("ownership_family")) {
      import graft.operators.{Dedup, Routing}
      val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val oDir = scaledCorpus(spark, base)
      val oJobs: Seq[(String, () => DataFrame)] = Seq(
        "d29" -> (() => Dedup.d29FrontCollapsePairs(T(spark, oDir))),
        "d32" -> (() => Routing.d32RoutedCc(T(spark, oDir))),
        "d33" -> (() => Routing.d33RoutedTopk(T(spark, oDir))),
        "w14" -> (() => graft.streaming.StreamOps.w14NearDupFrontDoor(T(spark, oDir))))
      def runAll(clearPerJob: Boolean): Unit = {
        Dedup.clearBandMemo()
        oJobs.foreach { case (_, b) =>
          if (clearPerJob) Dedup.clearBandMemo()
          noop(b())
        }
      }
      val (sepO, sharedO) = pairedMedian(spark)(runAll(clearPerJob = true),
        runAll(clearPerJob = false))
      lines2 += s"""{"workload":"ownership_family","window":4,"separate":$sepO,"band_memo_shared":$sharedO}"""
    }
    // IVF family: the newest plane — s04's offline search, w15's serving
    // twin, the IVFPQ composition and the MRR gate all contain the trained
    // corpus-assignment subtree (identical centroid literals: deterministic
    // training), and s21/s22 additionally share the packed PQ-code frame.
    // Each job still pays its own driver-side training collects (bounded
    // model state, not a plan subtree); the fragments cache the corpus-wide
    // assignment and code scans those trainings feed. Same 10× corpus and
    // paired median-of-3 single-slot protocol.
    if (only("ivf_family")) {
      import graft.operators.{Similarity => Sim}
      import graft.streaming.StreamOps
      val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val iDir = scaledCorpus(spark, base)
      def iJobs: Seq[QueryJob[Unit]] = Seq[(String, SparkSession => DataFrame)](
        "s04" -> (s => Sim.s04IvfAnn(T(s, iDir))),
        "w15" -> (s => StreamOps.w15StreamAnn(T(s, iDir))),
        "s21" -> (s => Sim.s21IvfPqAnn(T(s, iDir))),
        "s22" -> (s => Sim.s22MrrEval(T(s, iDir)))
      ).map { case (n, b) => QueryJob[Unit](n, b, noop) }
      val iFrags = Seq[(String, SparkSession => DataFrame)](
        "ivf_assigned" -> (s => Sim.ivfAssignedRaw(T(s, iDir))),
        "pq_codes"     -> (s => Sim.pqCodesPacked(T(s, iDir))))
      val (sepI, fragI) = pairedMedian(spark)(
        new WorkSharingExecutor(spark, budgetBytes = 0L,
          maxConcurrency = 1).runBatch(iJobs).values.foreach(_.get),
        { val ex = new WorkSharingExecutor(spark, budgetBytes = 0L, maxConcurrency = 1)
          try ex.runBatch(iJobs, iFrags).values.foreach(_.get) finally ex.shutdown() })
      lines2 += s"""{"workload":"ivf_family","window":4,"separate":$sepI,"fragment_shared":$fragI}"""
    }
    (lines ++ lines2).foreach(println)
    // file artifact, like Bench's BENCH_full.json: stdout of a manual run
    // isn't captured anywhere durable
    val out = sys.env.getOrElse("SPARK_GRAFT_SHAREBENCH_OUT", "SHAREBENCH.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      ((lines ++ lines2).mkString("", "\n", "\n"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[sharebench] write $out failed: $e") }
    spark.stop()
  }
}
