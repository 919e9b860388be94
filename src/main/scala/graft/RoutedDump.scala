package graft

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Dev-only twin of [[Verify]] (through its [[Verify.dump]]) for the
  * routing plane's COLLAPSED branches and the high-mass regime of its
  * estimators — the two halves of each routed front door that the shipped
  * low-mass corpora never reach through the registered oracles (their
  * gates correctly pick the raw branch at every shipped scale factor).
  * Two modes:
  *
  *   sbt -batch "runMain graft.RoutedDump /root/testdata/sf0.01 /tmp/routed"
  *   python3 scripts/check.py /root/testdata/sf0.01 /tmp/routed
  *
  * forces every door's threshold to 0 so the collapsed DuckDB twins are
  * hash-compared on the shipped corpus, and
  *
  *   sbt -batch "runMain graft.RoutedDump /root/testdata/sf0.001 /tmp/routedrep 10"
  *   python3 scripts/check.py /tmp/routedrep/corpus /tmp/routedrep
  *
  * builds a 10× replica corpus (ScaleSmoke's one replication recipe,
  * flattened to the single-file layout check.py's views expect), then runs
  * the doors with their DEFAULT thresholds and REGISTERED oracles — both
  * engines' replica-mass estimators must flip to the collapsed gear
  * together or the hashes diverge, which pins docMassDuck/vecMassDuck
  * against docReplicaMassBp/vecReplicaMassBp in the regime the routing
  * actually exists for.
  *
  * Raw-arm ceiling classes (documented, not defects): d30's raw arm is the
  * one full all-pairs oracle (excluded from replicate mode, below), and
  * s29's raw arm (s28 bitext margin) is the earliest ladder ceiling —
  * breaching from 30× up, since its band join carries the replica
  * multiplier on BOTH corpus sides — so above ~20× the s28 arm is
  * diagnostic-only and every production path is the door. */
object RoutedDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val repMult = if (args.length > 2) args(2).toInt else 0
    val spark = Harness.session("graft-routed-dump")
    new java.io.File(outDir).mkdirs()
    import operators.Routing

    val corpusDir = if (repMult == 0) sfDir else {
      val c = s"$outDir/corpus"
      val tmp = s"$outDir/corpus_build"
      new java.io.File(c).mkdirs()
      ScaleSmoke.buildScaled(spark, sfDir, tmp, repMult)
      for (tbl <- Seq("documents", "embeddings")) {
        spark.read.parquet(s"$tmp/$tbl.parquet").coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/${tbl}_flat")
        val part = new java.io.File(s"$tmp/${tbl}_flat").listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(s"$c/$tbl.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      for (tbl <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events"))
        Files.copy(Paths.get(s"$sfDir/$tbl.parquet"), Paths.get(s"$c/$tbl.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      // drop the multi-file build dir so check.py's dump scan only sees doors
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(tmp))
      System.err.println(s"[routed] replica corpus at $c — point check.py's sfDir there")
      c
    }

    def t = T(spark, corpusDir)
    // replicate mode: registered doors as-is (the gate decides);
    // plain mode: thresholds forced to 0 to reach the collapsed branches.
    // d30 is excluded from replicate mode: its raw branch is the one full
    // all-pairs oracle (d08 — every other door's raw gear is
    // band-restricted), and DuckDB evaluates the mass-gated-false branch
    // anyway, so d30 alone costs more than the rest of the ladder
    // combined. Its gate SQL is the same docMassDuck text every doc door
    // carries, so estimator parity is still pinned by d31/d32/d33/g15.
    val doors: Seq[(String, () => DataFrame, String)] =
      if (repMult > 0)
        Routing.defs.toSeq.sortBy(_._1).filterNot(_._1 == "d30_routed_neardup")
          .map { case (name, fn) =>
            (name, () => fn(spark, corpusDir), Routing.oracles(name))
          }
      else Seq(
        ("d30_routed_neardup", () => Routing.d30RoutedNearDup(t, 0), Routing.d30Oracle(0)),
        ("g15_routed_rank", () => Routing.g15RoutedRank(t, 0), Routing.g15Oracle(0)),
        ("s23_routed_clusters", () => Routing.s23RoutedClusters(t, 0), Routing.s23Oracle(0)),
        ("d31_routed_bbit", () => Routing.d31RoutedBbit(t, 0), Routing.d31Oracle(0)),
        ("s24_routed_ann", () => Routing.s24RoutedAnn(t, 0), Routing.s24Oracle(0)),
        ("d32_routed_cc", () => Routing.d32RoutedCc(t, 0), Routing.d32Oracle(0)),
        ("d33_routed_topk", () => Routing.d33RoutedTopk(t, 0), Routing.d33Oracle(0)),
        ("s26_routed_ivf", () => Routing.s26RoutedIvf(t, 0), Routing.s26Oracle(0)),
        ("s27_routed_ivfpq", () => Routing.s27RoutedIvfPq(t, 0), Routing.s27Oracle(0)),
        ("d34_routed_simhash", () => Routing.d34RoutedSimhash(t, 0), Routing.d34Oracle(0)),
        ("d35_routed_incremental", () => Routing.d35RoutedIncremental(t, 0), Routing.d35Oracle(0)),
        ("s29_routed_bitext", () => Routing.s29RoutedBitext(t, 0), Routing.s29Oracle(0)),
        ("d36_routed_substring", () => Routing.d36RoutedSubstring(t, 0L), Routing.d36Oracle(0L)),
      )
    Verify.dump(outDir, doors.map { case (name, fn, _) => name -> fn },
      doors.map { case (name, _, sql) => name -> sql })
    spark.stop()
  }
}
