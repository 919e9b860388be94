package graft.sharing

import org.scalatest.funsuite.AnyFunSuite

import MRSharePolicy._

/** Formula-level checks on the thesis constants (fileSize=9800, B=179, m=79)
  * plus grouping behavior of the DP and MultiSplit. */
class MRSharePolicySpec extends AnyFunSuite {

  test("thesis constants reproduce (B is the integer division 737000/4096)") {
    assert(B == 179)
    assert(M == 79 && FileSize == 9800 && f == 1.0 && g == 2.3)
  }

  test("sortingPasses matches the reference formula on sample ratios") {
    // p(d) = ceil(log_B(d*fileSize) - log_B(m)) + ceil(log_B(m))
    // log10(179) = 2.25285; log10(79)/log10(179) = 0.84231
    assert(sortingPasses(1.0) == 2)   // log_B(9800)=1.77164 -> ceil(0.92933)+1
    assert(sortingPasses(0.1) == 2)   // log_B(980)=1.32773  -> ceil(0.48542)+1
    assert(sortingPasses(10.0) == 3)  // log_B(98000)=2.21554 -> ceil(1.37323)+1
    assert(sortingPasses(0.01) == 2)  // log_B(98)=0.88388   -> ceil(0.04157)+1
    assert(sortingPasses(0.005) == 1) // log_B(49)=0.75024   -> ceil(-0.09207)+1
  }

  test("gain and GS match the reference arithmetic") {
    val i = Job("i", d = 0.1, p = 2, id = 0)
    val j = Job("j", d = 0.4, p = 3, id = 1)
    // gain(i, j, delta) = f - 2 * d_i * (p_j - p_i + delta)
    assert(gain(i, j, 0) == 1.0 - 2 * 0.1 * 1)
    assert(gain(i, j, 1) == 1.0 - 2 * 0.1 * 2)
    assert(gain(j, j, 0) == 1.0)
    val jobs = IndexedSeq(i, j)
    // group anchored at t=0 with consecutive ids takes the delta=1 branch
    assert(GAIN(jobs, 0, 1) == gain(i, j, 1) + gain(j, j, 1))
    assert(GS(jobs, 0, 0) == 0.0)
    assert(GS(jobs, 0, 1) == GAIN(jobs, 0, 1) - f)
  }

  test("low map-output ratios merge into one group") {
    // equal p, tiny d: each member contributes gain ~ f, so GS(0, n-1) ~ n*f - f > 0
    val jobs = (0 until 4).map(k => jobOf(s"j$k", 0.01))
    assert(jobs.map(_.p).distinct.size == 1)
    val groups = plan(jobs)
    assert(groups.size == 1 && groups.head.size == 4, groups)
  }

  test("equal sort depth always merges (the model's shared scan is free)") {
    // with p_u == p_i the 2*d*(p_u - p_i) term vanishes: every non-anchored
    // member contributes gain = f, so grouping equal-p jobs is always a win
    // regardless of d — the reference model's actual behavior
    val jobs = Seq(jobOf("a", 5.0), jobOf("b", 5.0), jobOf("c", 5.0))
    assert(jobs.map(_.p).distinct.size == 1)
    val groups = plan(jobs)
    assert(groups.exists(_.size > 1), groups)
  }

  test("high map-output ratio across differing sort depths stays isolated") {
    // members pay 2*d_i*(p_u - p_i): d=5 over any depth gap loses its f=1
    val jobs = Seq(Job("a", 5.0, p = 2), Job("b", 5.0, p = 4), Job("c", 5.0, p = 6))
    val groups = plan(jobs)
    assert(groups.forall(_.size == 1), groups)
    assert(groups.flatten.map(_.name).sorted == Seq("a", "b", "c"))
  }

  test("mixed workload: DP merges the cheap shallow tail, isolates the deep heavy job") {
    // heavy would make the group leader (deepest p): the cheap members would
    // each pay 2*d_i*(p_heavy - p_i) — the DP prices [cheap x3] + [heavy]
    // above both [all four] and [cheap1] + [cheap2, cheap3, heavy]
    val jobs = Seq(Job("cheap1", 0.01, p = 2), Job("cheap2", 0.02, p = 2),
      Job("cheap3", 0.01, p = 2), Job("heavy", 8.0, p = 5))
    val groups = plan(jobs)
    val (merged, singles) = groups.partition(_.size > 1)
    assert(merged.size == 1 && merged.head.map(_.name).toSet ==
      Set("cheap1", "cheap2", "cheap3"), groups)
    assert(singles.flatten.map(_.name) == Seq("heavy"))
  }

  test("jobOf ratios: shallow job joins the deep leader") {
    // map-output ratios 0.005 -> p=1 and 10.0 -> p=3: the cheap shallow job
    // joins the deep leader (it pays only 2*0.005*dp), while the anchored
    // first group's delta=1 surcharge leaves qty_returned isolated
    val groups = plan(Seq(jobOf("qty_returned", 0.005), jobOf("qty_cheap", 10.0),
      jobOf("qty_taxed", 0.005)))
    val (merged, singles) = groups.partition(_.size > 1)
    assert(merged.size == 1 &&
      merged.head.map(_.name).toSet == Set("qty_taxed", "qty_cheap"), groups)
    assert(singles.flatten.map(_.name) == Seq("qty_returned"), groups)
  }

  test("every input job lands in exactly one output group") {
    val jobs = (0 until 9).map(k => jobOf(s"j$k", 0.02 * (k + 1) * (if (k % 2 == 0) 1 else 40)))
    val out = plan(jobs).flatten.map(_.name)
    assert(out.sorted == jobs.map(_.name).sorted)
    assert(out.distinct.size == out.size)
  }
}
