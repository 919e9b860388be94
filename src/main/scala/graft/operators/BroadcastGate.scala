package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast hints for the vector verify joins (ADVICE r6).
  *
  * d13/d27/s02/s16/p27 rejoin embedding payloads to an ids-only candidate
  * stream; broadcasting that vector table is the right plan while it fits
  * (the 20× smoke's s02 finding: 46.6 s → 7.2 s), but an UNCONDITIONAL
  * `broadcast()` hint fails outright past `spark.sql.maxBroadcastTableSize`
  * / driver memory — at odds with the 10^11-vector framing. This gate makes
  * the declared path degrade instead of error: count the base table once
  * (a parquet metadata-cheap job), and above the ceiling return the frame
  * un-hinted so Catalyst plans the shuffled equi-join the size calls for
  * (co-partitioned on the join key; at cluster scale the base table would
  * additionally be bucketed on vec_id so the exchange is one-sided).
  *
  * Ceiling: `spark.graft.vector.broadcastMaxRows` (default 2M rows ≈ 600 MB
  * of 64-dim float rows with overhead — deliberate headroom above the
  * executor autoBroadcast threshold, because these joins are hinted on
  * purpose; the config exists so a deployment can lower it to its real
  * driver budget).
  */
object BroadcastGate {

  /** JVM-wide row-count memo keyed on the relation's leaf-file snapshot.
    * r7 ran the gate's `count()` eagerly at EVERY query build — 7 builds
    * per bench run against the same immutable corpus — and that job (plus
    * its scheduler round-trip) was the r7 dedup regression cluster at
    * sf0.1 (d22 4.9×, d12 4.1×, d14/d23 2.4× vs r6; VERDICT r7). One
    * count per distinct file set per JVM is the correct amortization.
    * Keying on the sorted file listing rather than the dir path makes the
    * write-once convention self-enforcing: an overwritten parquet dir gets
    * fresh part-file names, hence a fresh key and an automatic recount
    * (the staleness ADVICE r7 raised against the path-keyed model caches).
    * Bounded LRU per ADVICE r8: rebuilds mint fresh keys without limit. */
  private val rowCounts = graft.Memo.lru[String, java.lang.Long](256)

  private def cachedCount(base: DataFrame): Long =
    // plan hash in the key too (via snapshotKey): a frame DERIVED from the
    // same files (a filter, a replication) must not reuse the base table's
    // cached count
    graft.Memo.snapshotKey(base, "count") match {
      case None      => base.count() // non-file relation: no stable snapshot to key on
      case Some(key) => rowCounts.computeIfAbsent(key, _ => base.count())
    }

  /** One decision per pipeline: returns the broadcast hint or identity,
    * from ONE (memoized) count of `base` (pass the narrowest stable proxy
    * — the underlying embeddings table — not the derived per-side
    * projection, so sibling verify joins share the decision). */
  def vectorHint(base: DataFrame): DataFrame => DataFrame = {
    val limit = base.sparkSession.conf.getOption("spark.graft.vector.broadcastMaxRows")
      .map(_.toLong).getOrElse(2000000L)
    if (cachedCount(base) <= limit) broadcast(_) else identity
  }

  /** The same gate for the MinHash VERIFY sides (per-doc shingle-hash
    * arrays, ~2.4 KB/row — 8× an embedding row, hence the tighter default
    * of 500k rows ≈ 1.2 GB). Without an explicit hint the planner's
    * text-projection estimates decide the join strategy, and the 60× probe
    * measured what the wrong guess costs: a SortMergeJoin there sorts the
    * m²-growing candidate-pair stream WITH the arrays on board (d22 read
    * >120 s where the broadcast form reads ~40 s). Past the ceiling the
    * hint drops and the verify degrades to the co-partitioned join; on
    * replica-heavy corpora the production recipe is collapse-first
    * (d26/d27) long before this gate trips. */
  def shingleHint(base: DataFrame): DataFrame => DataFrame = {
    val limit = base.sparkSession.conf.getOption("spark.graft.shingle.broadcastMaxRows")
      .map(_.toLong).getOrElse(500000L)
    if (cachedCount(base) <= limit) broadcast(_) else identity
  }

  /** The same gate for derived CENSUS frames (chunk_hash → aggregate):
    * their row count is the corpus's DISTINCT chunk count, which is
    * constant in the replica multiplier — exactly the side a replica-heavy
    * corpus wants broadcast, because the other side (the full chunk
    * stream) is what grows m-fold. Counting the derived frame runs the
    * census once; the memo keys on the corpus file snapshot + plan hash,
    * so it is one extra linear job per (corpus, shape) per JVM — the
    * vectorHint amortization. Rows are two longs (~50 B with overhead),
    * hence the 4M default (~200 MB). */
  def censusHint(census: DataFrame): DataFrame => DataFrame = {
    val limit = census.sparkSession.conf.getOption("spark.graft.census.broadcastMaxRows")
      .map(_.toLong).getOrElse(4000000L)
    if (cachedCount(census) <= limit) broadcast(_) else identity
  }
}
