package graft.sharing

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measured fragment-economics gate (VERDICT r7 next-6): a declared
  * fragment is cached only when the reuse-aware economics pay —
  * (n−1)·buildSec > κ·n·readSec + minSec for a window of n jobs. What
  * memoizes is the MEASUREMENT (per label + canonical plan hash), so the
  * probe is paid once while the verdict is re-derived per window:
  * rejected fragments recompute inline in every consumer. */
class FragmentGateSpec extends SparkSpec {

  private val cheap = (s: SparkSession) =>
    s.range(1000).selectExpr("id", "id * 2 AS v")
  // ~seconds of hashing collapsing to one row: at n=2 the gate demands
  // (n-1)·build > κ·n·read + minSec ≈ 2.5 s of build against a one-row
  // read, so the build must be unambiguously heavy
  private val costly = (s: SparkSession) =>
    s.range(30000000).selectExpr("sha2(cast(id AS string), 256) AS h")
      .agg(count(lit(1)).as("n"), max(col("h")).as("m"))

  test("cheap fragments are vetoed, expensive ones cached; verdicts memoize") {
    FragmentGate.clear()
    // warm the codegen/noop-sink/cache-write paths first: the probe MEASURES
    // wall-clock, and a cold JVM bills ~2 s of JIT to whichever fragment
    // probes first — which would make the trivial fragment look expensive
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()
    val warm = spark.range(1000).toDF("id").persist()
    warm.count(); warm.unpersist(blocking = true)
    val ex = new WorkSharingExecutor(spark)
    val jobs = Seq(
      QueryJob[Long]("a", s => cheap(s).agg(sum("v").as("s")), df => df.head().getLong(0)),
      QueryJob[Long]("b", s => cheap(s).agg(max("v").as("m")), df => df.head().getLong(0)))
    try {
      val out = ex.runBatch(jobs,
        Seq("gate_cheap" -> cheap, "gate_costly" -> costly))
      // the veto never changes answers — only who computes the subtree
      assert(out.map { case (n, r) => n -> r.get } == Map("a" -> 999000L, "b" -> 1998L))
      assert(!ex.cachedFingerprints.contains("frag:gate_cheap"), ex.cachedFingerprints)
      assert(ex.cachedFingerprints.contains("frag:gate_costly"), ex.cachedFingerprints)
      val cheapKey = FragmentGate.keyFor("gate_cheap", cheap(spark))
      val costlyKey = FragmentGate.keyFor("gate_costly", costly(spark))
      // the verdict is reuse-aware: (n-1)*build > kappa*n*read + minSec at
      // this window's fan-out (n = 2 jobs)
      val pc = FragmentGate.decision(cheapKey).get
      assert(!FragmentGate.share(pc, 2),
        s"cheap probe should fail the gate at n=2: $pc")
      val pe = FragmentGate.decision(costlyKey).get
      assert(FragmentGate.share(pe, 2),
        s"costly probe should pass the gate at n=2: $pe")
      // the same cheap measurement CAN flip at a large enough fan-out —
      // measurements memoize, verdicts are per window (unless the build is
      // so tiny that even 1000 consumers lose, which the floor allows)
      assert(FragmentGate.share(FragmentGate.Probe(1.0, 0.01), 2))
      assert(!FragmentGate.share(FragmentGate.Probe(1.0, 0.01), 1),
        "a single-consumer window must never cache (nothing reuses it)")
      // second window: the rejected fragment is not re-probed (same verdict
      // object — putIfAbsent memoization) and still not cached
      val p0 = FragmentGate.decision(cheapKey).get
      ex.runBatch(jobs, Seq("gate_cheap" -> cheap))
      assert(FragmentGate.decision(cheapKey).get eq p0)
      assert(!ex.cachedFingerprints.contains("frag:gate_cheap"))
      // the verdict is per (name, PLAN): the same label over a DIFFERENT
      // frame is a fresh probe, not an inherited veto (the r8 cross-family
      // collision: one family's too-cheap verdict must not disable another
      // family's measured winner)
      val other = (s: SparkSession) => s.range(2000).selectExpr("id", "id * 3 AS v")
      assert(FragmentGate.keyFor("gate_cheap", other(spark)) != cheapKey)
      assert(FragmentGate.decision(
        FragmentGate.keyFor("gate_cheap", other(spark))).isEmpty)
    } finally { ex.shutdown(); FragmentGate.clear() }
  }
}
