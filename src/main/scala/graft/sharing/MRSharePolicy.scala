package graft.sharing

import scala.collection.mutable

/** MRShare grouping policy: which jobs should merge into one meta-job?
  *
  * Ports the reference's dynamic program and cost model as pure functions
  * (reference: sparksql-server/.../optimizer/optimizers/MRShareOptimizer.scala:44-116
  * — computeSortingPasses, SplitMRShareJobs, MultiSplitMRShareJobs — and
  * .../costmodel/udcm/MRShareCM.scala:42-67 — GAIN/gain/GS; the algorithm is
  * MRShare, Nykiel et al., VLDB 2010). The reference ran this policy against
  * serialized RDD DAGs and its thesis measured the *merge rewrite* regressing
  * on Spark (per-tuple tag GC — report.pdf ch.5); the policy itself is sound,
  * and [[AutoMerge]]'s FILTER-aggregate meta-plan removed the overhead that
  * caused the regression. The DP is kept as the candidate cost gate for
  * deciding when that meta-plan fires; the executor does not consult it yet.
  *
  * Model recap: jobs sorted by sorting passes `p`; merging jobs [t..u] saves
  * each job its own scan (+f per job) but every member pays the group leader's
  * sort depth (2*d_i*(p_u - p_i) extra map-output passes) and the group adds
  * one shared scan (-f). GS(t,u) = GAIN(t,u) - f; the DP picks the contiguous
  * grouping maximizing total GS.
  */
object MRSharePolicy {

  /** Cost constants (reference MRShareCM.scala:30-32): f = scan cost of one
    * pass over the input; g = 2.3 is declared in the reference for the sort
    * cost term but never used by the shipped formulas — recorded here for
    * parity, equally unused. */
  val f: Double = 1.0
  val g: Double = 2.3

  /** Thesis experiment constants (reference MRShareOptimizer.scala:36-40):
    * input size fileSize = 9800 (MB), sort buffer B = 737000/4096 pages
    * (integer division = 179), merge fan-in m = 79. */
  val FileSize: Double = 9800
  val B: Int = 737000 / 4096
  val M: Int = 79

  /** A mergeable job: `d` = map-output ratio (map output bytes / input
    * bytes), `p` = external-sort passes for that output, `id` = rank after
    * the sort by p (consecutive ids mark a first-iteration group — the
    * reference's checkFirstIteration). */
  final case class Job(name: String, d: Double, p: Int, id: Int = 0)

  /** Job constructor computing p from d with the default constants. */
  def jobOf(name: String, d: Double): Job = Job(name, d, sortingPasses(d))

  /** External-sort passes for map output of ratio `d` over `fileSize`
    * (reference MRShareOptimizer.scala:44-46). */
  def sortingPasses(d: Double, fileSize: Double = FileSize, b: Int = B, m: Int = M): Int = {
    def lg(x: Double) = math.log10(x)
    (math.ceil(lg(d * fileSize) / lg(b) - lg(m) / lg(b)) + math.ceil(lg(m) / lg(b))).toInt
  }

  /** Per-job saving when i joins the group led (deepest p) by j
    * (reference MRShareCM.scala:58-60). */
  def gain(i: Job, j: Job, delta: Int): Double = f - 2 * i.d * (j.p - i.p + delta)

  /** ids consecutive over [t..u] (reference MRShareCM.scala:34-40). */
  def consecutiveIds(jobs: IndexedSeq[Job], t: Int, u: Int): Boolean =
    (t + 1 to u).forall(i => jobs(i).id - jobs(i - 1).id == 1)

  /** Group gain over [t..u] — preserves the reference's first-iteration
    * quirk: delta = 1 only for a consecutive-id group anchored at t == 0
    * (reference MRShareCM.scala:42-56). */
  def GAIN(jobs: IndexedSeq[Job], t: Int, u: Int): Double = {
    val delta = if (consecutiveIds(jobs, t, u) && t == 0 && t != u) 1 else 0
    (t to u).map(i => gain(jobs(i), jobs(u), delta)).sum
  }

  /** Net group saving: the group re-adds one shared scan
    * (reference MRShareCM.scala:62-67). */
  def GS(jobs: IndexedSeq[Job], t: Int, u: Int): Double =
    if (t == u) 0.0 else GAIN(jobs, t, u) - f

  /** The SplitJobs DP (reference MRShareOptimizer.scala:48-90): c(l) =
    * max over i <= l of c(i-1) + GS(i, l), then cut the job list into the
    * maximizing contiguous groups. Reconstruction follows the source chain
    * back from the last index (the reference instead scans for
    * source(i) == i, which misses starts whose argmax isn't themselves —
    * the chain walk returns the grouping the DP actually priced). */
  def splitJobs(jobs: IndexedSeq[Job]): Seq[IndexedSeq[Job]] = {
    val n = jobs.length
    if (n == 0) return Seq.empty
    val c = new Array[Double](n)
    val source = new Array[Int](n)
    for (l <- 1 until n) {
      var best = Double.NegativeInfinity
      var bestI = 0
      for (i <- 0 to l) {
        val v = (if (i == 0) 0.0 else c(i - 1)) + GS(jobs, i, l)
        if (v > best) { best = v; bestI = i } // first max wins, like indexOf
      }
      c(l) = best
      source(l) = bestI
    }
    var groups = List.empty[IndexedSeq[Job]]
    var end = n - 1
    while (end >= 0) {
      val start = if (end == 0) 0 else source(end)
      groups = jobs.slice(start, end + 1) :: groups
      end = start - 1
    }
    groups
  }

  /** MultiSplit (reference MRShareOptimizer.scala:92-116): re-run the DP on
    * the leftover singletons — removing merged jobs can expose new merges —
    * peeling one job per round when no progress is made. */
  def multiSplit(jobs: IndexedSeq[Job]): Seq[Seq[Job]] = {
    val out = mutable.Buffer.empty[Seq[Job]]
    var j = jobs
    while (j.nonEmpty) {
      val (merged, singles) = splitJobs(j).partition(_.length > 1)
      out ++= merged.map(_.toSeq)
      val s = singles.map(_.head).toIndexedSeq
      if (s.length < j.length) j = s
      else { out += Seq(j.last); j = j.dropRight(1) }
    }
    out.toSeq
  }

  /** Full policy: sort by p (stable), re-index (reference
    * MRShareOptimizer.scala:118-134), then MultiSplit into merge groups. */
  def plan(jobs: Seq[Job]): Seq[Seq[Job]] = {
    val indexed = jobs.sortBy(_.p).zipWithIndex
      .map { case (jb, i) => jb.copy(id = i) }.toIndexedSeq
    multiSplit(indexed)
  }
}
