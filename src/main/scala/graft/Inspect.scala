package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One inspection main over the served session ([[Harness.session]]), with
  * a mode per question:
  *
  *   scripts/run-main.sh graft.Inspect census <sfDir> [prefix[,prefix...]]
  *   scripts/run-main.sh graft.Inspect solo <sfDir> <query> [reps=3]
  *   scripts/run-main.sh graft.Inspect plans <sfDir> [outFile=PLANS.md] [prefix[,prefix...]]
  *
  * - `census`: per-query job/stage/task census. Each query runs twice —
  *   rep 1 warms codegen/JIT/page cache, rep 2 is measured under a
  *   listener — and prints one JSON line with the Spark job, stage and
  *   task counts and the warm wall seconds. A row whose wall is dominated
  *   by job-count × scheduling floor (tiny tasks, many stages) reads
  *   directly off this census, which separates "slow operator" from "slow
  *   orchestration" before any plan surgery.
  * - `solo`: the standing noise protocol — run ONE query N times in one
  *   fresh JVM and print per-rep seconds. Rep 1 is the process-cold
  *   figure, reps 2+ are warm (JIT + page cache + memoized models), so a
  *   bimodal row decomposes into cold-start vs steady-state.
  * - `plans`: `explain formatted` for the [[headline]] queries (or every
  *   catalogue query matching the prefixes) into a markdown file, plus one
  *   summary line per query with its shuffle, broadcast and
  *   single-partition exchange counts — the measurement behind
  *   PlanQualitySpec's shuffle budgets, and the all-data-to-one-task
  *   funnels behind "WindowExec: No Partition Defined".
  */
object Inspect {

  /** One per operator family: relational agg, broadcast join, 8-table join,
    * LSH dedup, bucketed semantic dedup, top-k sim join, broadcast ANN,
    * IVF ANN, k-NN graph, blob-free multimodal rollup, packing pipeline,
    * tf-idf, custom as-of exec, custom interval exec, CDC chunk dedup,
    * two-stage rerank. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q05_region_revenue", "q103_market_share",
    "d04_minhash_lsh_pairs", "d13_semantic_clusters", "d18_topk_sim_join",
    "d21_incremental_dedup", "s01_cosine_topk", "s04_ivf_ann",
    "s12_knn_graph", "s14_radius_search", "m02_media_rollup",
    "p03_sequence_packing", "p26_soft_dedup", "t11_tfidf_topterms",
    "q100_asof_exec", "q110_interval_exec", "q125_session_window",
    "d23_cdc_chunks", "s16_two_stage_rerank", "p29_curation_funnel",
    "s21_ivfpq_ann", "g14_collapsed_rank", "w14_near_dup_front",
    "d29_front_collapse",
    // r8: the linear-keeper collapse→pair composition and the replica-mass
    // routed front door (the d30 plan at sf0.01 IS the raw d08 gear — the
    // policy's low-mass branch; its 100× plan is d29's, probed separately)
    "d26_collapse_pairs", "d30_routed_neardup",
    // r8 continuation: the index-maintenance report (one scan, 8-row
    // broadcast, partial-aggregated 8-cell groupBy) and the stateless
    // streaming quality gate's batch twin (map-side scoring + one
    // partial-aggregated per-source rollup)
    "s25_index_drift", "w17_quality_admission",
    // r9: the bitext margin miner (cross-side banding + partial top-k
    // means), the DSIR resampler (256-row broadcast llr + TakeOrdered
    // selection), and the per-doc native census rewrites
    "s28_bitext_margin", "p32_dsir_resample", "t25_gopher_repetition",
    // r11: the char-mass routed substring door (its sf0.01 plan is d09's
    // exact census — the low-mass branch) and d28's sort-free strided
    // census (one hash aggregate per gram key, no WindowExec)
    "d36_routed_substring", "d28_strided_census")

  private def count(plan: String, marker: String): Int =
    plan.linesIterator.count(_.contains(marker))

  /** Data-moving exchanges in an executed-plan string: hash, range and
    * single-partition shuffles (broadcasts are counted apart). */
  def shuffles(plan: String): Int =
    count(plan, "Exchange hashpartitioning") +
      count(plan, "Exchange rangepartitioning") +
      count(plan, "Exchange SinglePartition")

  def main(args: Array[String]): Unit = {
    args.toSeq match {
      case Seq("census", sfDir, rest @ _*) => census(sfDir, Harness.only(rest.headOption))
      case Seq("solo", sfDir, name, rest @ _*) => solo(sfDir, name, rest.headOption.fold(3)(_.toInt))
      case Seq("plans", sfDir, rest @ _*) => plans(sfDir, rest.headOption.getOrElse("PLANS.md"), rest.lift(1))
      case _ =>
        System.err.println("usage: graft.Inspect census|solo|plans <sfDir> ...")
        sys.exit(2)
    }
  }

  private def census(sfDir: String, only: String => Boolean): Unit = {
    val spark = Harness.session("graft-inspect-census")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        stages += 1; tasks += sc.stageInfo.numTasks
      }
    }
    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try {
        Harness.noop(fn(spark, sfDir)) // warm rep
        Thread.sleep(200) // drain listener events from the warm rep
        spark.sparkContext.addSparkListener(listener)
        jobs = 0; stages = 0; tasks = 0
        val t0 = System.nanoTime()
        Harness.noop(fn(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the measured rep's events drain before reading
        spark.sparkContext.removeSparkListener(listener)
        println(s"""{"q":"$name","jobs":$jobs,"stages":$stages,"tasks":$tasks,"warm_sec":${Harness.fmt(sec)}}""")
      } catch { case e: Throwable => System.err.println(s"[census] $name failed: $e") }
    }
    spark.stop()
  }

  private def solo(sfDir: String, name: String, reps: Int): Unit = {
    val spark = Harness.session("graft-inspect-solo")
    val fn = SparkEntry.queries(name)
    val secs = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      Harness.noop(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(s"[solo] $name rep$i ${Harness.fmt(sec)}s")
      sec
    }
    println(s"""{"metric":"solo_probe","query":"$name","dir":"$sfDir",""" +
      s""""secs":[${secs.map(Harness.fmt).mkString(",")}]}""")
    spark.stop()
  }

  private def plans(sfDir: String, out: String, prefixes: Option[String]): Unit = {
    val spark = Harness.session("graft-inspect-plans")
    val names = prefixes.fold(headline) { p =>
      SparkEntry.queries.keys.toSeq.sorted.filter(Harness.only(Some(p)))
    }
    val formatted = ExplainMode.fromString("formatted")
    val sb = new StringBuilder
    sb.append("# Physical plans — headline queries (`explain formatted`)\n\n")
    sb.append(s"Generated by `graft.Inspect plans` against `$sfDir`. One query per\n")
    sb.append("operator family; PlanQualitySpec asserts the load-bearing\n")
    sb.append("properties (pushdown, pruning, broadcasts, no cartesian\n")
    sb.append("products, TakeOrdered, window keys) on every run.\n")
    names.foreach { name =>
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val p = qe.executedPlan.toString
        println(s"[plans] $name shuffles=${shuffles(p)} broadcasts=${count(p, "BroadcastExchange")}" +
          s" single_partition=${count(p, "Exchange SinglePartition")}")
        sb.append(s"\n## $name\n\n```\n")
        sb.append(qe.explainString(formatted).trim)
        sb.append("\n```\n")
      } catch { case e: Throwable => System.err.println(s"[plans] $name failed: $e") }
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[plans] wrote ${names.size} plans to $out")
    spark.stop()
  }
}
