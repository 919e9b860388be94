package graft.sharing

import graft.{SparkSpec, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

class WorkSharingSpec extends SparkSpec {

  // The fragment specs are MECHANISM tests (substitution, metamorphic
  // identity) over test-scale fragments that the measured economics gate
  // would rightly reject as too cheap: each opens the gate by recording a
  // passing probe under every declared fragment's key before its window;
  // FragmentGateSpec specs the gate's policy itself.
  private def openGate(frags: Seq[(String, SparkSession => DataFrame)])
      : Seq[(String, SparkSession => DataFrame)] = {
    frags.foreach { case (name, mk) =>
      FragmentGate.record(FragmentGate.keyFor(name, mk(spark)),
        FragmentGate.Probe(buildSec = 1e6, readSec = 0.0))
    }
    frags
  }

  private def jobs: Seq[QueryJob[Seq[String]]] = Seq(
    QueryJob("agg_by_flag",
      s => T(s, sfDir).lineitem.groupBy("l_returnflag").agg(sum("l_quantity").as("q")),
      snap),
    QueryJob("count_by_status",
      s => T(s, sfDir).lineitem.groupBy("l_linestatus").count(),
      snap),
    QueryJob("cheap_items",
      s => T(s, sfDir).lineitem.filter(col("l_extendedprice") < 1000)
        .select("l_orderkey", "l_linenumber"),
      snap),
    QueryJob("order_priorities",
      s => T(s, sfDir).orders.groupBy("o_orderpriority").count(),
      snap))

  test("detector groups jobs by shared scan relation") {
    val built = jobs.map(j => (j.name, j.build(spark)))
    val groups = ShareDetector.detect(spark, built)
    // lineitem shared by 3 jobs; orders has only 1 job -> not a group
    assert(groups.size == 1)
    assert(groups.head.jobNames.toSet == Set("agg_by_flag", "count_by_status", "cheap_items"))
    assert(groups.head.fingerprint.contains("lineitem"), groups.head.fingerprint)
  }

  test("metamorphic: batch-with-sharing results == isolated results") {
    val isolated = jobs.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(jobs)
      assert(batched.keySet == isolated.keySet)
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.size == 1)
    } finally ex.shutdown()
  }

  test("shared scan is substituted with InMemoryRelation in sibling plans") {
    val ex = new WorkSharingExecutor(spark)
    try {
      ex.runBatch(jobs)
      val probe = T(spark, sfDir).lineitem.groupBy("l_returnflag").count()
      assert(probe.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      val orders = T(spark, sfDir).orders.groupBy("o_orderstatus").count()
      assert(!orders.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally ex.shutdown()
  }

  test("DSv2 scans are detected, costed via the scan's statistics, and shared") {
    def synth(s: SparkSession): DataFrame =
      s.read.format("graft.sources.SynthSource")
        .option("rows", "5000").option("partitions", "2").load()
    val v2jobs: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("v2_by_lang", s => synth(s).groupBy("lang").count(), snap),
      QueryJob("v2_long_docs",
        s => synth(s).filter(length(col("text")) > 150).agg(count(lit(1)).as("n")), snap))
    val built = v2jobs.map(j => (j.name, j.build(spark)))
    val groups = ShareDetector.detect(spark, built)
    assert(groups.size == 1 && groups.head.fingerprint.startsWith("v2:"), groups)
    // size comes from SynthScan.estimateStatistics, not the logical-plan
    // defaultSizeInBytes sentinel (Long.MaxValue)
    assert(groups.head.sizeBytes == BigInt(5000L * 190), groups.head.sizeBytes)

    val isolated = v2jobs.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(v2jobs)
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      // separately-built plans hit the cached relation (value-equal tables)
      val probe = synth(spark).groupBy("lang").count()
      assert(probe.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("dedup family batches with the LSH-pair subplan computed once") {
    import graft.operators.Dedup
    val family: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("d07", s => Dedup.d07DedupClusters(T(s, sfDir)), snap),
      QueryJob("d12", s => Dedup.d12ClusterKeeper(T(s, sfDir)), snap),
      QueryJob("d15", s => Dedup.d15DupProvenance(T(s, sfDir)), snap),
      QueryJob("d16", s => Dedup.d16ClusterAudit(T(s, sfDir)), snap),
      QueryJob("d17", s => Dedup.d17Survivorship(T(s, sfDir)), snap))
    val isolated = family.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(family,
        sharedFragments = openGate(Seq("lsh_pairs" -> (s => Dedup.d04MinhashLshPairs(T(s, sfDir))))))
      // metamorphic: shared-fragment batching never changes any answer
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.contains("frag:lsh_pairs"), ex.cachedFingerprints)
      // a sibling built AFTER the batch reads the fragment's cache, proving
      // canonical substitution (d15 contains the d04 subtree verbatim)
      val probe = Dedup.d15DupProvenance(T(spark, sfDir))
      assert(probe.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("similarity family batches with the signature/band fragments computed once") {
    import graft.operators.{Dedup, Pipeline, Similarity}
    val family: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("s01", s => Similarity.s01CosineTopK(T(s, sfDir)), snap),
      QueryJob("s02", s => Similarity.s02HyperplaneLsh(T(s, sfDir)), snap),
      QueryJob("s06", s => Similarity.s06AnnRecall(T(s, sfDir)), snap),
      QueryJob("s12", s => Similarity.s12KnnGraph(T(s, sfDir)), snap),
      QueryJob("s13", s => Similarity.s13CosineBands(T(s, sfDir)), snap),
      QueryJob("s14", s => Similarity.s14RadiusSearch(T(s, sfDir)), snap),
      QueryJob("p27", s => Pipeline.p27SemanticContam(T(s, sfDir)), snap),
      QueryJob("d13", s => Dedup.d13SemanticClustersBucketed(T(s, sfDir)), snap))
    val isolated = family.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(family, sharedFragments = openGate(Seq[(String,
          org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
        "id_bands"        -> (s => Similarity.idBands(T(s, sfDir))),
        "s01_topk"        -> (s => Similarity.s01CosineTopK(T(s, sfDir))),
        "s02_ann"         -> (s => Similarity.s02HyperplaneLsh(T(s, sfDir))),
        "sym_scored"      -> (s => Similarity.symScored(T(s, sfDir))))))
      // metamorphic: shared-fragment batching never changes any answer
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.contains("frag:sym_scored"), ex.cachedFingerprints)
      // siblings built AFTER the batch read the fragment caches, proving
      // canonical substitution across BOTH candidate fragments (probe_cands
      // is the stage of s02/s14 — and s06 via s02; sym_cands of s12/s13).
      // d13 itself can't be the probe: its CC stage collapses to a
      // LocalTableScan at spec scale, erasing the upstream plan.
      val probeId = Similarity.s02HyperplaneLsh(T(spark, sfDir))
      assert(probeId.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      val probeSym = Similarity.s13CosineBands(T(spark, sfDir))
      assert(probeSym.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("graph family batches with the LSH pair fragment computed once") {
    import graft.operators.{Dedup, Graph}
    val family: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("g04", s => Graph.g04DegreeHistogram(T(s, sfDir)), snap),
      QueryJob("g05", s => Graph.g05ClusterSizes(T(s, sfDir)), snap),
      QueryJob("g10", s => Graph.g10TwoHopReach(T(s, sfDir)), snap))
    val isolated = family.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(family, sharedFragments = openGate(Seq[(String,
          org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
        "lsh_pairs" -> (s => Dedup.d04MinhashLshPairs(T(s, sfDir))))))
      // metamorphic: shared-fragment batching never changes any answer
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.contains("frag:lsh_pairs"), ex.cachedFingerprints)
      // a sibling built AFTER the batch reads the fragment cache
      val probe = Graph.g04DegreeHistogram(T(spark, sfDir))
      assert(probe.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("ivf family batches with the assignment/code fragments computed once") {
    import graft.operators.{Similarity => Sim}
    val family: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("s04", s => Sim.s04IvfAnn(T(s, sfDir)), snap),
      QueryJob("s21", s => Sim.s21IvfPqAnn(T(s, sfDir)), snap))
    val isolated = family.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(family, sharedFragments = openGate(Seq[(String,
          org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
        "ivf_assigned" -> (s => Sim.ivfAssignedRaw(T(s, sfDir))),
        "pq_codes"     -> (s => Sim.pqCodesPacked(T(s, sfDir))))))
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.contains("frag:ivf_assigned"), ex.cachedFingerprints)
      // a sibling built AFTER the batch reads the assignment fragment cache
      val probe = Sim.s04IvfAnn(T(spark, sfDir))
      assert(probe.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("text family batches with the token/census fragments computed once") {
    import graft.operators.TextAnalysis
    val family: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("t08", s => TextAnalysis.t08ZipfProfile(T(s, sfDir)), snap),
      QueryJob("t11", s => TextAnalysis.t11TfidfTopTerms(T(s, sfDir)), snap),
      QueryJob("t12", s => TextAnalysis.t12HapaxRatio(T(s, sfDir)), snap),
      QueryJob("t16", s => TextAnalysis.t16VocabOverlap(T(s, sfDir)), snap),
      QueryJob("t17", s => TextAnalysis.t17SourceDrift(T(s, sfDir)), snap))
    val isolated = family.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(family, sharedFragments = openGate(Seq[(String,
          org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
        "doc_tokens"      -> (s => TextAnalysis.docTokens(T(s, sfDir))),
        "doc_word_counts" -> (s => TextAnalysis.docWordCounts(T(s, sfDir))))))
      // metamorphic: shared-fragment batching never changes any answer
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.contains("frag:doc_tokens"), ex.cachedFingerprints)
      // siblings built AFTER the batch read the fragment caches: t16 goes
      // through doc_tokens, t12 through doc_word_counts
      val probeTok = TextAnalysis.t16VocabOverlap(T(spark, sfDir))
      assert(probeTok.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      val probeCensus = TextAnalysis.t12HapaxRatio(T(spark, sfDir))
      assert(probeCensus.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("multimodal family batches with the decoded-feature fragment computed once") {
    import graft.operators.Multimodal
    val family: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("m01", s => Multimodal.m01MediaFeatures(T(s, sfDir)), snap),
      QueryJob("m02", s => Multimodal.m02MediaRollup(T(s, sfDir)), snap),
      QueryJob("m15", s => Multimodal.m15DecodeParity(T(s, sfDir)), snap))
    val isolated = family.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(family, sharedFragments = openGate(Seq[(String,
          org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
        "media_features" -> (s => Multimodal.mediaFeatures(T(s, sfDir))))))
      // metamorphic: shared-fragment batching never changes any answer
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.contains("frag:media_features"), ex.cachedFingerprints)
      // every sibling contains the mediaFeatures subtree verbatim, so a
      // sibling built AFTER the batch reads the fragment cache — the codec
      // ran once for the whole window
      val probe = Multimodal.m02MediaRollup(T(spark, sfDir))
      assert(probe.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("curation family batches with the quality/gram fragments computed once") {
    import graft.operators.Pipeline
    val family: Seq[QueryJob[Seq[String]]] = Seq(
      QueryJob("p04", s => Pipeline.p04Contamination(T(s, sfDir)), snap),
      QueryJob("p11", s => Pipeline.p11QualityCascade(T(s, sfDir)), snap),
      QueryJob("p12", s => Pipeline.p12BloomContamination(T(s, sfDir)), snap),
      QueryJob("p29", s => Pipeline.p29CurationFunnel(T(s, sfDir)), snap))
    val isolated = family.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val batched = ex.runBatch(family, sharedFragments = openGate(Seq[(String,
          org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
        "quality_flags" -> (s => Pipeline.qualityFlags(T(s, sfDir))),
        "five_grams"    -> (s => Pipeline.fiveGrams(T(s, sfDir).documents)))))
      // metamorphic: shared-fragment batching never changes any answer
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.contains("frag:quality_flags"), ex.cachedFingerprints)
      assert(ex.cachedFingerprints.contains("frag:five_grams"), ex.cachedFingerprints)
      // siblings built AFTER the batch read both fragment caches: p11 goes
      // through quality_flags, p04 through five_grams
      val probeQ = Pipeline.p11QualityCascade(T(spark, sfDir))
      assert(probeQ.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
      val probeG = Pipeline.p04Contamination(T(spark, sfDir))
      assert(probeG.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("a warm window touches its cached scan and fragment, materializing neither") {
    val frags = Seq[(String, SparkSession => DataFrame)](
      "priorities" -> (s => T(s, sfDir).orders.groupBy("o_orderpriority").count()))
    // no merge group: every job runs under its own name as its job group
    assert(AutoMerge.detect(jobs.map(j => (j.name, j.build(spark))))._1.isEmpty)
    val isolated = jobs.map(j => j.name -> j.action(j.build(spark))).toMap
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    val ex = new WorkSharingExecutor(spark)
    def window(): Unit = ex.runBatch(jobs, openGate(frags)).foreach { case (name, rows) =>
      assert(rows.get == isolated(name), s"job $name")
    }
    try {
      window() // cold: materializes the lineitem scan and the fragment
      val cold = ex.cachedFingerprints
      assert(cold.size == 2 && cold.contains("frag:priorities"), cold)
      spark.sparkContext.addSparkListener(listener)
      try {
        window()
        // the listener bus delivers asynchronously: wait until it is quiet
        val deadline = System.nanoTime() + 10.seconds.toNanos
        var last = -1
        while ((groups.size != ended.get || groups.size != last) && System.nanoTime() < deadline) {
          last = groups.size
          Thread.sleep(200)
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(!groups.isEmpty)
      val names = jobs.map(_.name).toSet
      assert(groups.asScala.forall(names), s"jobs outside the statements' groups: $groups")
      assert(ex.cachedFingerprints == cold, ex.cachedFingerprints)
    } finally { ex.shutdown(); spark.catalog.clearCache() }
  }

  test("served shared_scan mix: merged answers == isolated, <= 4 jobs, budget fallback") {
    spark.read.format("graft.sources.SynthSource").option("rows", "4000").load()
      .createOrReplaceTempView("ws_synth")
    def grepCount(w: String) = s"SELECT count(*) AS n FROM ws_synth WHERE text LIKE '%$w%'"
    def wordCount(w: String, having: String = "") =
      "SELECT token, count(*) AS n FROM (SELECT explode(split(text, ' ')) AS token " +
        s"FROM ws_synth WHERE text LIKE '%$w%') t GROUP BY token $having ORDER BY token"
    val mix = Seq("gc_key" -> grepCount("key"), "gc_scan" -> grepCount("scan"),
      "wc_hash" -> wordCount("hash"), "wc_sort" -> wordCount("sort"))
    val having = "wc_having" -> wordCount("merge", "HAVING count(*) > 40")
    // ORDER BY answers compare as ordered lists
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val isolated = (mix :+ having).map { case (n, q) => n -> rows(spark.sql(q)) }.toMap
    def window(stmts: Seq[(String, String)], ex: WorkSharingExecutor): Unit = {
      val out = ex.runBatch(stmts.map { case (n, q) => QueryJob[Seq[String]](n, _.sql(q), rows) })
      stmts.foreach { case (n, _) => assert(out(n).get == isolated(n), s"job $n") }
    }
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
        started.incrementAndGet()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    def drained(): Unit = {
      val deadline = System.nanoTime() + 10.seconds.toNanos
      var last = -1
      while ((started.get != ended.get || started.get != last) && System.nanoTime() < deadline) {
        last = started.get
        Thread.sleep(200)
      }
    }
    val (detected, unmerged) = AutoMerge.detect(
      (mix :+ having).map { case (n, q) => n -> spark.sql(q) })
    assert(detected.map(_.map(_.name)) == Seq(Seq("gc_key", "gc_scan"), Seq("wc_hash", "wc_sort")))
    assert(unmerged == Seq("wc_having"))
    val budget = ByteBudget.collectBudget
    val ex = new WorkSharingExecutor(spark)
    try {
      window(mix :+ having, ex) // cold: caches the synth scan
      drained()
      val inUse = budget.inUse
      spark.sparkContext.addSparkListener(listener)
      try { window(mix, ex); drained() }
      finally spark.sparkContext.removeSparkListener(listener)
      // only the two meta-plans run jobs (AQE runs each as 2); a merged
      // member's split is a local relation, which collect() reads on the driver
      assert(started.get <= 4, s"${started.get} jobs for a warm window")
      // the window's end gives its meta-results' draws back
      assert(budget.inUse == inUse, s"${budget.inUse} bytes drawn, $inUse before")
    } finally { ex.shutdown(); spark.catalog.clearCache() }
    // a meta-result that cannot draw its bytes runs its members unmerged:
    // over the executor's budget, its lease's cap ...
    val over = AutoMerge.collectWithin(org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      AutoMerge.metaPlan(detected(1))), budget.lease(64L), Int.MaxValue - 1)
    assert(!over.complete && over.rows.isEmpty)
    val tiny = new WorkSharingExecutor(spark, budgetBytes = 64L)
    try window(mix, tiny) finally tiny.shutdown()
    // ... or with 64 bytes left of the JVM's one collect budget: the word
    // counts' meta-result cannot draw its rows, while the two counts' one
    // row of 4 longs (40 bytes) still merges
    val drain = budget.lease(Long.MaxValue)
    assert(drain.tryTake(budget.capacity - budget.inUse - 64L))
    val starved = new WorkSharingExecutor(spark)
    groups.clear()
    try {
      spark.sparkContext.addSparkListener(listener)
      try { window(mix, starved); drained() }
      finally spark.sparkContext.removeSparkListener(listener)
      Seq("wc_hash", "wc_sort").foreach(n => assert(groups.contains(n), s"$n ran no job: $groups"))
      Seq("gc_key", "gc_scan").foreach(n => assert(!groups.contains(n), s"$n ran a job: $groups"))
    } finally { drain.close(); starved.shutdown(); spark.catalog.clearCache() }
  }

  test("shutdown() ends the action threads the executor started") {
    def sharingThreads(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-sharing").toSet
    val before = sharingThreads()
    val ex = new WorkSharingExecutor(spark, maxConcurrency = 2)
    val started = try {
      ex.runBatch(Seq("a", "b").map(n => QueryJob[Long](n, _.range(1).toDF, _.count())))
        .values.foreach(_.get)
      sharingThreads() -- before
    } finally ex.shutdown()
    assert(started.nonEmpty)
    started.foreach(_.join(10000))
    assert(started.forall(!_.isAlive), s"${started.count(_.isAlive)} threads still alive")
  }

  test("zero budget -> no caching, results still correct") {
    val isolated = jobs.map(j => j.name -> j.action(j.build(spark))).toMap
    val ex = new WorkSharingExecutor(spark, budgetBytes = 0L)
    try {
      val batched = ex.runBatch(jobs)
      batched.foreach { case (name, rows) => assert(rows.get == isolated(name), s"job $name") }
      assert(ex.cachedFingerprints.isEmpty)
    } finally ex.shutdown()
  }

  test("a failing statement fails only itself, not its window") {
    val bad = QueryJob[Seq[String]]("missing_table",
      _.sql("SELECT count(*) AS n FROM ws_no_such_table"), snap)
    val good = jobs.take(2)
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 3, maxWaitMs = 5000)
    try {
      val isolated = good.map(j => j.name -> j.action(j.build(spark))).toMap
      val futures = (good :+ bad).map(j => j.name -> win.submit(j)).toMap
      good.foreach(j => assert(Await.result(futures(j.name), 5.minutes) == isolated(j.name),
        s"job ${j.name}"))
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Await.result(futures(bad.name), 5.minutes))
      assert(e.getMessage.contains("ws_no_such_table"), e.getMessage)
      // the good statements still shared their lineitem scan
      assert(ex.cachedFingerprints.size == 1, ex.cachedFingerprints)
    } finally { win.close(); ex.shutdown(); spark.catalog.clearCache() }
  }

  test("batch window: size-or-timeout trigger completes all submissions") {
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 2, maxWaitMs = 200)
    try {
      val isolated = jobs.map(j => j.name -> j.action(j.build(spark))).toMap
      val futures = jobs.map(j => j.name -> win.submit(j))
      futures.foreach { case (name, f) =>
        assert(Await.result(f, 5.minutes) == isolated(name), s"job $name")
      }
    } finally { win.close(); ex.shutdown() }
  }

  test("pre-scheduler: EDF meets a deadline mix that FIFO misses") {
    // VERDICT r7 next-7's spec half: 4 single-slot jobs of ~0.8 s whose
    // ARRIVAL order carries the loosest deadline first. Run in arrival
    // order, the window blows the tight tail deadlines; in JobMeta's order
    // (the one a BatchWindow runs) it meets them. The miss COUNTS come from
    // the same wall-clock accounting DeadlineTelemetry applies at the gateway.
    def run(order: Seq[QueryJob[Long]] => Seq[QueryJob[Long]]): Int = {
      val ex = new WorkSharingExecutor(spark, maxConcurrency = 1)
      try {
        val start = System.currentTimeMillis()
        val dJobs = (0 until 4).map { i =>
          QueryJob[Long](s"dl_$i",
            s => s.range(1).toDF("x"),
            df => { df.count(); Thread.sleep(800); System.currentTimeMillis() },
            JobMeta(deadlineMs = Some(start + (4 - i) * 1200L)))
        }
        val done = ex.runBatch(order(dJobs))
        dJobs.count(j => done(j.name).get > j.meta.deadlineMs.get)
      } finally ex.shutdown()
    }
    val fifoLate = run(arrival => arrival)
    val edfLate = run(_.sortBy(_.meta))
    assert(fifoLate >= 1, s"constructed mix should make FIFO miss (late=$fifoLate)")
    assert(edfLate < fifoLate, s"EDF ($edfLate) must beat FIFO ($fifoLate)")
  }

  test("pre-scheduler: an urgent job overtakes a window of bulk jobs") {
    // one executor slot makes admission order the start order; the urgent
    // job arrives LAST but the window's JobMeta order fronts it
    val ex = new WorkSharingExecutor(spark, maxConcurrency = 1)
    val win = new BatchWindow[Long](ex, windowSize = 5, maxWaitMs = 2000)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def job(name: String, meta: JobMeta) = QueryJob[Long](name,
      s => { s.range(0, 500000).toDF("id") },
      df => { started.add(name); df.count() }, meta)
    try {
      val bulk = (1 to 4).map(i => win.submit(job(s"bulk$i", JobMeta(priority = -1))))
      val urgent = win.submit(job("urgent",
        JobMeta(priority = 3, deadlineMs = Some(1L))))
      (bulk :+ urgent).foreach(f => Await.result(f, 5.minutes))
      assert(started.peek() == "urgent", started.toString)
    } finally { win.close(); ex.shutdown() }
  }

  test("pre-scheduler strategies order and pool-class jobs as declared") {
    val a = QueryJob[Long]("a", _.range(1).toDF, _.count(), JobMeta(priority = -2))
    val b = QueryJob[Long]("b", _.range(1).toDF, _.count(),
      JobMeta(deadlineMs = Some(50L)))
    val c = QueryJob[Long]("c", _.range(1).toDF, _.count(), JobMeta(priority = 9))
    val d = QueryJob[Long]("d", _.range(1).toDF, _.count())
    val e = QueryJob[Long]("e", _.range(1).toDF, _.count())
    // earliest deadline first, then descending priority; arrival order
    // within a tie, so unhinted jobs keep the order they came in
    assert(Seq(a, b, c, d, e).sortBy(_.meta).map(_.name) == Seq("b", "c", "d", "e", "a"))
    assert(Seq(e, d).sortBy(_.meta).map(_.name) == Seq("e", "d"))
    // the extreme priority orders last, not first
    assert(Seq(QueryJob[Long]("m", _.range(1).toDF, _.count(), JobMeta(priority = Int.MinValue)), d)
      .sortBy(_.meta).map(_.name) == Seq("d", "m"))
    assert(a.meta.pool == "graft-bulk" && c.meta.pool == "graft-urgent"
      && d.meta.pool == "graft-default")
    // the generated allocation file parses and carries the three pools
    val path = FairPools.allocationFile()
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new java.io.File(path))
    val pools = doc.getElementsByTagName("pool")
    val names = (0 until pools.getLength)
      .map(i => pools.item(i).getAttributes.getNamedItem("name").getNodeValue).toSet
    assert(names == Set("graft-urgent", "graft-default", "graft-bulk"))
  }
}
