package servebench

/** Metric arithmetic and the result line. */
object Report {
  final case class Metric(name: String, value: Double, unit: String)

  /** Nearest-rank percentile of a sorted sample. */
  def pct(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.max(0, math.ceil(q * sorted.size).toInt - 1))

  /** The statements of one segment (see [[Workload.segment]]): on a windowed
    * workload every client's statements of `segment` consecutive steps, else
    * one client's. Only complete segments are kept; each carries the same
    * work, whatever the seed. */
  final case class Segment(samples: Seq[Sample], clients: Int) {
    val durationS: Double = (samples.map(_.reply.endNs).max - samples.map(_.reply.sentNs).min) / 1e9
    /** Per second, for all the run's clients. */
    def rate(x: Double): Double = x / durationS * ServeBench.Clients / clients
  }

  def segments(wl: Workload, samples: Seq[Sample]): Seq[Segment] = {
    val clients = if (wl.windowed) ServeBench.Clients else 1
    samples.groupBy(s => ((s.step - 1) / wl.segment, if (wl.windowed) 0 else s.client)).toSeq
      .sortBy(_._1).map(_._2)
      .filter(_.size == wl.segment * clients).map(Segment(_, clients))
  }

  /** The end-to-end metrics are taken over the run's complete segments:
    * rates over their summed spans, percentiles over their statements. Every
    * complete segment carries the same work, so a run's value does not
    * depend on how far into a block it stopped, nor on the seed. A run too
    * short for one complete segment counts as one. */
  def endToEnd(wl: Workload, pool: IndexedSeq[Stmt], seed: Long, samples: Seq[Sample], setupS: Double,
               setupReps: Seq[Double], liveHeapMb: Double): String = {
    val n = samples.size
    val failed = samples.count(_.failed)
    val elapsedS = (samples.map(_.reply.endNs).max - samples.map(_.reply.sentNs).min) / 1e9
    val lat = samples.map(_.latencyNs / 1e6).sorted.toIndexedSeq
    val segs = Some(segments(wl, samples)).filter(_.nonEmpty)
      .getOrElse(Seq(Segment(samples, if (wl.windowed) ServeBench.Clients else 1)))
    val kept = segs.flatMap(_.samples)
    // per-client segments of an unwindowed workload run side by side
    val spanS = segs.map(_.durationS).sum * segs.head.clients / ServeBench.Clients
    def latencies(ss: Seq[Sample]) = ss.map(_.latencyNs / 1e6).sorted.toIndexedSeq
    val keptLat = latencies(kept)
    val keptFirst = kept.filter(_.reply.firstRowNs > 0)
      .map(s => (s.reply.firstRowNs - s.reply.sentNs) / 1e6).sorted.toIndexedSeq
    val metrics = Seq(
      Metric("throughput_sps", kept.count(!_.failed) / spanS, "1/s"),
      Metric("latency_p50_ms", pct(keptLat, 0.50), "ms"),
      // p80 falls inside mixed_window's windows with a join and the
      // self-join (a third of the statements), not at the top of their few
      // samples, where p90 swung by a third between runs
      Metric("latency_p80_ms", pct(keptLat, 0.80), "ms"),
      Metric("first_row_p50_ms", pct(keptFirst, 0.50), "ms"),
      Metric("rows_out_per_s", kept.map(_.reply.rows).sum / spanS, "1/s"),
      Metric("ok_ratio", (n - failed).toDouble / n, "ratio"),
      Metric("live_heap_mb", liveHeapMb, "MB"),
      Metric("setup_s", setupS, "s"))
    println(s"servebench ${wl.name} seed=$seed: ${ServeBench.Clients} clients, closed loop, " +
      f"$n statements in $elapsedS%.1f s, $failed failed; metrics over ${kept.size} statements " +
      f"in ${segs.size} complete segments, $spanS%.1f s")
    (metrics.take(5) ++ Seq(Metric("failed_ratio", failed.toDouble / n, "ratio")) ++ metrics.drop(5))
      .foreach(m => println(f"  ${m.name}%-18s ${m.value}%14.4f ${m.unit}"))
    println(f"  whole run: ${(n - failed) / elapsedS}%.4f statements/s, latency p50 ${pct(lat, 0.5)}%.1f ms, " +
      f"p80 ${pct(lat, 0.8)}%.1f ms")
    println("  segment statements/s: " + segs.map(g => f"${g.rate(g.samples.size)}%.2f").mkString(" "))
    println("  latency deciles (ms): " + (1 to 10).map(d => f"${pct(lat, d / 10.0)}%.0f").mkString(" "))
    println(s"  setup reps (s): ${setupReps.map(s => f"$s%.3f").mkString(" ")}")
    samples.groupBy(s => pool(s.stmt).kind).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      val l = latencies(ss)
      println(f"  $kind%-18s ${ss.size}%5d statements, latency p50 ${pct(l, 0.5)}%8.1f ms, max ${l.last}%8.1f ms")
    }
    samples.filter(_.failed).take(5).foreach(s =>
      println(s"  failed: client ${s.client} pool #${s.stmt}: ${s.reply.error.getOrElse("wrong answer")}"))
    json(failed == 0, n, failed, metrics)
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
