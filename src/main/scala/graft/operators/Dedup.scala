package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact, MinHash+LSH, SimHash and
  * n-gram-Jaccard near-dup detection (LLM-training-data pipeline surface; the
  * reference's sharing server had no dedup plane at all).
  *
  * Design for 100 TB:
  *  - every per-doc signature (shingle hashes, MinHash sig, SimHash) is a
  *    narrow map-side projection in whole-stage codegen — no shuffle;
  *  - candidate generation shuffles on *band key* (d04) or a blocking key
  *    (d02/d06: `lang`), never all-pairs over the corpus;
  *  - exact Jaccard verification touches only LSH candidates.
  *
  * Cross-engine determinism (DuckDB oracle): all hashes are explicit int64
  * polynomials over `ascii()` codes mod 2^31-1; similarity thresholds are in
  * integer basis points computed with `DIV` — no engine-native hash, no float.
  *
  * MinHash parameters: 32 permutations, 4 bands x 8 rows. Collision prob per
  * band = j^8: corpus baseline j~0.28 -> 4e-5 (no candidate blowup at scale);
  * planted near-dups j>=0.95 -> recall ~1.0; at j=0.9 recall ~89%.
  */
object Dedup {

  val P = "2147483647" // 2^31 - 1

  /** Spark-side shingle-hash array: distinct char-4-gram polynomial hashes —
    * the native graft.functions.ShingleHashes expression (codegen'd tight
    * loop; the equivalent transform/sequence lambda runs interpreted and is
    * ~1000x slower per row). */
  private val shingleHashes = "shingle_hashes(text, 4, true)"

  /** DuckDB twin of [[shingleHashes]]. */
  private[operators] val shingleHashesDuck =
    """list_distinct(list_transform(range(1, length(text) - 2),
         i -> ((ascii(substr(text, i::INT, 1))::BIGINT * 31 + ascii(substr(text, i::INT + 1, 1))) * 31
               + ascii(substr(text, i::INT + 2, 1))) * 31 + ascii(substr(text, i::INT + 3, 1))))"""

  /** 32-permutation MinHash signature over a shingle-hash array column `h`.
    * Permutation j (1-based): (a_j * x + b_j) mod P with LCG-derived a_j, b_j. */
  private val minhashSig = "minhash_sig(h, 32)"

  private[operators] val minhashSigDuck =
    s"""list_transform(range(1, 33), j ->
          list_min(list_transform(h, x ->
            (((1103515245 * j + 12345) % $P) * x + (1103515245 * (j + 101) + 54321) % $P) % $P)))"""

  /** ONE DuckDB definition of the hs → sigs → bands → cand CTE chain, the
    * twin of [[minhashSigTable]]/[[bandRows]]/[[bandCandidates]] (ADVICE r6:
    * previously ~8 copy-pasted fragments; a banding retune now edits the two
    * shared definitions or the oracles silently diverge — by construction it
    * can't). `hsCols`/`bandCols` widen the chain with blocking columns
    * (d21's ingest-vs-index split); `cand` overrides the candidate join. */
  private[graft] def lshBandsDuckCtes(
      hsCols: String = "doc_id",
      bandCols: String = "doc_id",
      cand: String =
        """cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""",
      from: String = "documents"): String =
    s"""hs AS (SELECT $hsCols, $shingleHashesDuck AS h FROM $from),
       sigs AS (SELECT $bandCols, h, $minhashSigDuck AS sig FROM hs),
       bands AS (
         SELECT $bandCols, b, array_to_string(sig[b * 8 + 1 : b * 8 + 8], ',') AS bkey
         FROM sigs, range(0, 4) t(b)),
       $cand"""

  /** Exact Jaccard in basis points between `a.h` and `b.h` (DuckDB). */
  private[operators] def jaccardBpDuck(a: String = "a", b: String = "b"): String =
    s"len(list_intersect($a.h, $b.h)) * 10000 // (len($a.h) + len($b.h) - len(list_intersect($a.h, $b.h)))"

  /** Verified ≥0.8 pair CTE over `cand` (needs [[lshBandsDuckCtes]] upstream). */
  private[operators] def lshPairsDuckCte: String =
    s"""pairs AS (
         SELECT doc_a, doc_b
         FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b
         WHERE ${jaccardBpDuck()} >= 8000)"""

  /** Connected components over a pair CTE → reach(doc, cluster_id). */
  private[operators] def ccDuckCtes(pairs: String = "pairs"): String =
    s"""edges AS (SELECT doc_a AS s, doc_b AS d FROM $pairs
                 UNION ALL SELECT doc_b, doc_a FROM $pairs),
       reach AS (
         WITH RECURSIVE r(doc, label) AS (
           SELECT s, s FROM edges
           UNION
           SELECT ed.d, r.label FROM r JOIN edges ed ON ed.s = r.doc
         ) SELECT doc, MIN(label) AS cluster_id FROM r GROUP BY doc)"""

  /** Exact dedup by normalized key (64-char prefix), the hash-groupBy plane:
    * one shuffle on the md5 key; emits groups with >1 member + the keeper
    * (min doc_id) a dedup pass would retain. */
  def d01ExactDedup(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    t.documents
      .select($"doc_id", md5(substring($"text", 1, 64)).as("key_hash"))
      .groupBy($"key_hash")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper_id"))
      .filter($"n_docs" >= 2)
      .orderBy($"key_hash")
  }

  val d01Oracle: String =
    """SELECT md5(substr(text, 1, 64)) AS key_hash, COUNT(*) AS n_docs,
              MIN(doc_id) AS keeper_id
       FROM documents GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY key_hash"""

  /** Exact n-gram Jaccard: top-20 most similar same-language pairs. Blocking
    * on `lang` keeps the pair space n^2/|langs| — the LSH variant (d04) is the
    * real scale path; this is the exact baseline it is measured against. */
  def d02NgramJaccardPairs(t: T): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.Registry.ensure(t.spark)
    // The blocking key (lang) has 5 values -> salt it 8 ways so the pair work
    // spreads over 40 shuffle keys instead of 5 hot tasks (skew handling the
    // same plan needs on a real cluster).
    val hs0 = t.documents.select($"doc_id", $"lang", expr(shingleHashes).as("h"))
      .localCheckpoint() // feeds the dictionary build and the doc relabel
    // Dense-dictionary verify kernel (same scheme as d08): relabel tokens to
    // dense ids (Jaccard is invariant under the bijection) and compare docs
    // as nWords*64-bit bitmaps by word-wise popcount — ~7x fewer ops per
    // pair and ~10x narrower shuffle rows than the sorted-array merge, which
    // remains the fallback when the vocabulary outgrows a 4 KB bitmap.
    // r15: the dense path now uses d08's r14 device end to end — the vocab
    // census is a bounded limit(32769) collect (proves the gate before
    // anything is held on the driver), ids are assigned driver-side in tok
    // order, and each doc relabels MAP-SIDE via the codegen'd binary-search
    // expression. This removes d02's vocab window (its single-partition
    // sort), the vocab checkpoint + count jobs, the broadcast relabel join,
    // and the exploded-corpus groupBy(doc_id) re-group exchange. The sparse
    // fallback keeps the former shape (vocab-bounded window).
    val censusToks = hs0.select(explode($"h").as("tok")).distinct()
      .limit(32769).collect().map(_.getLong(0))
    val dense = censusToks.length <= 32768
    val nWords = ((censusToks.length + 63) / 64).toInt
    val hs = if (dense) {
      val toksSorted = censusToks.sorted
      val ids = Array.tabulate(toksSorted.length)(_.toLong)
      hs0.select($"doc_id", $"lang",
          call_function("relabel_sorted", array_sort($"h"),
            lit(toksSorted), lit(ids)).as("bits"))
        .select($"doc_id", $"lang", expr(s"bits_to_words(bits, $nWords)").as("h"))
    } else {
      val vocab = hs0.select(explode($"h").as("tok")).distinct()
        .select($"tok", (row_number().over(Window.orderBy($"tok")) - 1L).as("bit"))
      hs0.select($"doc_id", $"lang", explode($"h").as("tok"))
        .join(broadcast(vocab), "tok") // map-side relabel, no shuffle of tokens
        .groupBy($"doc_id", $"lang").agg(sort_array(collect_list($"bit")).as("h"))
    }
    val simFn = if (dense) "jaccard_bp_words" else "jaccard_bp_sorted"
    // repartition both sides: the exchange converts the freshly-computed
    // (boxed) aggregate output into UnsafeArrayData rows once per DOC, so the
    // per-PAIR kernel hits the allocation-free concrete fast path
    val left = hs.select($"lang".as("la"), $"doc_id".as("doc_a"), $"h".as("ha"),
      pmod($"doc_id", lit(8)).as("salt"))
      .repartition($"la", $"salt")
    val right = hs.select($"lang".as("lb"), $"doc_id".as("doc_b"), $"h".as("hb"))
      .withColumn("rsalt", explode(expr("sequence(0, 7)")))
      .repartition($"lb", $"rsalt")
    left.join(right, $"la" === $"lb" && $"salt" === $"rsalt" && $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", expr(s"$simFn(ha, hb)").as("jaccard_bp"))
      .orderBy($"jaccard_bp".desc, $"doc_a", $"doc_b")
      .limit(20)
  }

  val d02Oracle: String =
    s"""WITH hs AS (SELECT doc_id, lang, $shingleHashesDuck AS h FROM documents)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.h, b.h)) * 10000 // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) AS jaccard_bp
       FROM hs a JOIN hs b ON a.lang = b.lang AND a.doc_id < b.doc_id
       ORDER BY jaccard_bp DESC, doc_a, doc_b LIMIT 20"""

  /** MinHash signatures (the map-side half of LSH dedup), exploded to one row
    * per (doc, permutation) so every value is a scalar the harness can hash —
    * the array-valued form stays available via [[minhashSignatures]]. */
  def d03MinhashSignature(t: T): DataFrame = {
    import t.spark.implicits._
    minhashSignatures(t)
      .select($"doc_id", posexplode($"sig").as(Seq("perm_idx", "sig_value")))
      .select($"doc_id", $"perm_idx".cast("long").as("perm_idx"), $"sig_value")
      .orderBy($"doc_id", $"perm_idx")
  }

  /** Array-valued MinHash signature API for library users (LSH banding, d04). */
  def minhashSignatures(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // fanned out like minhashSigTable: one scan task otherwise (r15)
    Par.fanOut(t.documents)
      .withColumn("h", expr(shingleHashes))
      .select($"doc_id", expr(minhashSig).as("sig"))
  }

  val d03Oracle: String =
    s"""WITH hs AS (SELECT doc_id, $shingleHashesDuck AS h FROM documents),
       sigs AS (SELECT doc_id, $minhashSigDuck AS sig FROM hs)
       SELECT doc_id, j AS perm_idx, sig[j::INT + 1]::BIGINT AS sig_value
       FROM sigs, range(0, 32) t(j) ORDER BY doc_id, perm_idx"""

  /** MinHash + LSH banding dedup: 4 bands x 8 rows; candidates = pairs
    * sharing >=1 band bucket (shuffle on band key — scales to any corpus);
    * then exact-Jaccard verify >= 0.8 on candidates only. */
  def d04MinhashLshPairs(t: T): DataFrame = {
    graft.functions.Registry.ensure(t.spark)
    lshPairs(t.documents)
  }

  /** ONE Spark-side definition of the MinHash sig → 4×8 band → candidate
    * pipeline (ADVICE r6: the same three stages were copy-pasted across
    * d04/d18/d20/d21/d22 — a banding retune now edits exactly here and in
    * [[lshBandsDuckCtes]], nowhere else). Emits (doc_id, h sorted, sig). */
  private[graft] def minhashSigTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // fan out the per-doc hashing (r15, guide §2.5/§2.6): the test corpora
    // are single-row-group parquet, so without this the shingle+minhash
    // pass for every banding consumer runs as ONE task; at scale the gate
    // makes it a no-op (see Par)
    Par.fanOut(docs)
      .withColumn("h", expr(shingleHashes))
      .withColumn("sig", expr(minhashSig))
      .withColumn("h", array_sort($"h"))
      .select($"doc_id", $"h", $"sig")
  }

  /** 4 bands × 8 rows of a 32-slot `sig` column → (idName, band, bkey).
    *
    * `bkey` is the int64 XxHash64 of the band's 8-slot signature slice, NOT
    * the slice itself: through r11 it was an 8-int comma-concat STRING
    * (~90-170 bytes/row), and GrowthProbe measured ~55 % of the d29
    * kernel's wall in the (band,bkey) ownership exchange carrying that
    * key — the d09 width disease paid by every banding consumer
    * (d04-family candidates, d29/d31/d32/d33/d35 ownership doors, w14's
    * streaming state, d21's incremental index). The hash key is 8 bytes.
    *
    * Correctness: bkey is only ever a shuffle/group/join key — no query
    * outputs it — so results are unchanged unless two DISTINCT 8-slot
    * slices collide in 64 bits. Banding is already probabilistic (the
    * (b,r) S-curve admits false-positive candidates at ~1e-2 rates, and
    * every consumer either exact-verifies candidates or documents the
    * collapse trade), so a 2^-64 per-bucket-pair merge is ~20 orders of
    * magnitude below the noise floor of the method itself; at 10^12 band
    * rows the birthday bound is still < 3 %, and a collision's effect is
    * one spurious candidate (killed by verify) or one conservative
    * ownership merge. The DuckDB oracles keep the exact string key — same
    * grouping on collision-free data — which is what pins this argument:
    * any test-corpus collision would hash-mismatch the gate. */
  private[graft] def bandRows(sigs: DataFrame, idName: String = "doc_id"): DataFrame =
    sigs.select(col("doc_id").as(idName), expr(
      """explode(transform(sequence(0, 3), b -> struct(b AS band,
           xxhash64(slice(sig, b * 8 + 1, 8)) AS bkey)))""").as("bk"))
      .select(col(idName), col("bk.band").as("band"), col("bk.bkey").as("bkey"))

  /** Distinct candidate pairs (doc_a < doc_b) sharing ≥1 band bucket. */
  private[operators] def bandCandidates(sigs: DataFrame): DataFrame =
    candidatesFromBands(bandRows(sigs))

  /** [[bandCandidates]] over the snapshot-memoized checkpointed band frame
    * (r12): the naive shape evaluated the shingle+minhash pipeline once per
    * join SIDE (the band self-join's two inputs are two copies of the
    * subtree); the checkpoint collapses that to one pass, and the memo
    * shares it with the ownership-family doors and d21's index in the same
    * JVM. */
  private[operators] def bandCandidatesOf(docs: DataFrame): DataFrame =
    candidatesFromBands(checkpointedBands(docs))

  private def candidatesFromBands(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()

  /** The d04 pipeline on any (doc_id, text) frame — factored so d25/d26 can
    * re-pair a keeper-collapsed subset with the identical index. */
  def lshPairs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sigs = minhashSigTable(docs)
    val cand = bandCandidatesOf(docs)
    val hint = BroadcastGate.shingleHint(docs)
    val ha = sigs.select($"doc_id".as("doc_a"), $"h".as("ha"))
    val hb = sigs.select($"doc_id".as("doc_b"), $"h".as("hb"))
    cand.join(hint(ha), "doc_a").join(hint(hb), "doc_b")
      .select($"doc_a", $"doc_b", expr("jaccard_bp_sorted(ha, hb)").as("jaccard_bp"))
      .filter($"jaccard_bp" >= 8000)
      .orderBy($"doc_a", $"doc_b")
  }

  val d04Oracle: String =
    s"""WITH ${lshBandsDuckCtes()}
       SELECT doc_a, doc_b, ${jaccardBpDuck()} AS jaccard_bp
       FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b
       WHERE ${jaccardBpDuck()} >= 8000
       ORDER BY doc_a, doc_b"""

  /** 48-bit SimHash over the char-4-gram *multiset* (frequency-weighted).
    * Per bit j: sign of sum over features of +-1 drawn from the feature hash.
    * Native SimHash48 expression — the equivalent nested aggregate() lambda
    * runs interpreted at ~150 ms/row. */
  private val simhashExpr = "simhash48(h)"

  private val simhashDuck =
    s"""list_sum(list_transform(range(0, 48), j ->
          CASE WHEN list_sum(list_transform(h, x ->
            ((((1103515245::BIGINT * (j + 1) + 12345) % $P) * x
              + (1103515245::BIGINT * (j + 102) + 54321) % $P) % $P) % 2 * 2 - 1)) > 0
          THEN 1::BIGINT << j::INT ELSE 0::BIGINT END))"""

  /** Per-doc SimHash values (frequency-weighted multiset — no distinct). */
  def d05Simhash(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // fanned out like minhashSigTable: one scan task otherwise (r15)
    Par.fanOut(t.documents)
      .withColumn("h", expr("shingle_hashes(text, 4, false)"))
      .select($"doc_id", expr(simhashExpr).as("simhash"))
      .orderBy($"doc_id")
  }

  val d05Oracle: String =
    s"""WITH th AS (SELECT doc_id,
         list_transform(range(1, length(text) - 2),
           i -> ((ascii(substr(text, i::INT, 1))::BIGINT * 31 + ascii(substr(text, i::INT + 1, 1))) * 31
                 + ascii(substr(text, i::INT + 2, 1))) * 31 + ascii(substr(text, i::INT + 3, 1))) AS h
       FROM documents)
       SELECT doc_id, ($simhashDuck)::BIGINT AS simhash FROM th ORDER BY doc_id"""

  /** SimHash near-dup pairs: hamming distance <= 3 between same-lang docs.
    * Candidate generation blocks on signature chunks (Manku et al., WWW 2007):
    * hamming <= 3 over 48 bits means at least one of four 12-bit chunks is
    * identical (pigeonhole), so the join key is (chunk_idx, chunk_value) —
    * recall stays exactly 1.0 while the pair space drops from quadratic-per-
    * lang to quadratic-per-bucket (bucket = docs sharing 12 hash bits,
    * n/4096 of a lang at uniform spread; widen chunks for bigger corpora).
    * Exact hamming verification then touches candidates only. */
  def d06SimhashPairs(t: T): DataFrame = {
    graft.functions.Registry.ensure(t.spark)
    simhashPairsOn(simhashFrame(t.documents))
  }

  /** The (doc_id, lang, simhash) frame both d06 gears pair. Fanned out like
    * minhashSigTable: one scan task otherwise (r15). */
  private[graft] def simhashFrame(docs: DataFrame): DataFrame =
    Par.fanOut(docs).withColumn("h", expr("shingle_hashes(text, 4, false)"))
      .select(col("doc_id"), col("lang"), expr(simhashExpr).as("simhash"))

  /** d06 over the simhash representatives — d34's collapsed gear: one doc
    * per (lang, simhash) before any chunk blocking. On a replica corpus
    * the raw gear is doubly m²-bound: replicas share their source's
    * simhash, so the 12-bit chunk buckets grow m-fat AND every replica
    * pair IS a true hamming-0 pair, so the verified OUTPUT itself grows
    * m². Collapsing exact-simhash groups to their min-id keeper kills
    * both; what remains is the hamming-1..3 residual structure between
    * genuinely different documents. */
  private[graft] def d06OverSimhashReps(t: T): DataFrame = {
    graft.functions.Registry.ensure(t.spark)
    simhashPairsOn(simhashFrame(t.documents)
      .groupBy(col("lang"), col("simhash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("lang"), col("simhash")))
  }

  /** The chunk-block + exact-hamming verify kernel over any simhash frame. */
  private def simhashPairsOn(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val chunks = sh.select($"doc_id", $"lang", $"simhash",
      posexplode(expr("transform(sequence(0, 3), c -> (simhash >> (c * 12)) & 4095)"))
        .as(Seq("chunk", "ckey")))
    val a = chunks.select($"lang".as("la"), $"doc_id".as("doc_a"),
      $"simhash".as("sa"), $"chunk".as("ca"), $"ckey".as("ka"))
    val b = chunks.select($"lang".as("lb"), $"doc_id".as("doc_b"),
      $"simhash".as("sb"), $"chunk".as("cb"), $"ckey".as("kb"))
    a.join(b, $"ca" === $"cb" && $"ka" === $"kb" && $"la" === $"lb" &&
        $"doc_a" < $"doc_b")
      .withColumn("hamming", expr("cast(bit_count(sa ^ sb) AS long)"))
      .filter($"hamming" <= 3)
      .select($"doc_a", $"doc_b", $"hamming")
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  val d06Oracle: String =
    s"""WITH th AS (SELECT doc_id, lang,
         list_transform(range(1, length(text) - 2),
           i -> ((ascii(substr(text, i::INT, 1))::BIGINT * 31 + ascii(substr(text, i::INT + 1, 1))) * 31
                 + ascii(substr(text, i::INT + 2, 1))) * 31 + ascii(substr(text, i::INT + 3, 1))) AS h
       FROM documents),
       sh AS (SELECT doc_id, lang, $simhashDuck AS simhash FROM th)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       ORDER BY doc_a, doc_b"""

  /** DuckDB twin of [[d06OverSimhashReps]] — d34's collapsed branch: the
    * same sh chain folded to one doc per (lang, simhash) first, pairing
    * stated as naive all-pairs so the hash also re-proves the chunk
    * blocking's recall 1.0 on the rep set. */
  private[graft] val d06RepsOracle: String =
    s"""WITH th AS (SELECT doc_id, lang,
         list_transform(range(1, length(text) - 2),
           i -> ((ascii(substr(text, i::INT, 1))::BIGINT * 31 + ascii(substr(text, i::INT + 1, 1))) * 31
                 + ascii(substr(text, i::INT + 2, 1))) * 31 + ascii(substr(text, i::INT + 3, 1))) AS h
       FROM documents),
       sh AS (SELECT doc_id, lang, $simhashDuck AS simhash FROM th),
       reps AS (SELECT lang, simhash, MIN(doc_id) AS doc_id
                FROM sh GROUP BY lang, simhash)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM reps a JOIN reps b ON a.lang = b.lang AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       ORDER BY doc_a, doc_b"""

  /** Connected components over an undirected pair list via alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): O(log^2 n) rounds on
    * any topology, including the long-chain giant components web-scale dedup
    * produces, where plain min-label propagation needs O(diameter) rounds.
    * Each round `localCheckpoint`s the contracted edge set, so the plan stays
    * constant-size (no lineage growth) and the convergence probe — a count
    * plus an anti-join of consecutive edge sets — runs on the checkpointed
    * blocks, not a recomputation. Returns (doc_id, cluster_id = component
    * min) for every endpoint. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // large-star: connect every neighbor v > u to m = min(N(u) ∪ {u});
    // symmetrize with one explode (a union of the two orientations would
    // scan — and recompute — the upstream pair plan twice)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct($"u", $"v"),
          struct($"v".as("u"), $"u".as("v")))).as("p"))
        .select($"p.u".as("u"), $"p.v".as("v"))
      val mins = sym.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      sym.join(mins, "u").where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v")).distinct()
    }
    // small-star: orient every edge to its smaller endpoint, then connect
    // each neighbor (and u itself) to m = min(N(u) ∪ {u})
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
      val mins = or.groupBy($"u").agg(min($"v").as("m"))
      or.join(mins, "u").where($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins.select($"u", $"m".as("v")))
        .distinct()
    }
    // pairs come in as (doc_a < doc_b); orient big→small to match smallStar's
    // output form so the fixpoint test compares like with like
    var cur = pairs
      .select($"doc_b".as("u"), $"doc_a".as("v")).distinct()
      .localCheckpoint()
    // Size-gated local finish: the near-dup edge set is the corpus's
    // DUPLICATES — orders of magnitude smaller than the corpus itself —
    // so most real batches fit the driver with huge headroom. Below the
    // threshold (2M edges — ~32 MB of raw longs, ~100-150 MB as collected
    // JVM tuples; spark.graft.cc.localThreshold) one union-find pass
    // replaces the O(log² n) star rounds and their ~12 Spark jobs; above
    // it the distributed loop runs unchanged. The gate counts the
    // materialized checkpoint first, so the choice itself is one cheap
    // job. NOTE (r15, measured): a single bounded
    // limit(threshold+1).collect() per VERDICT r14 next-5 was tried and
    // REVERTED — CollectLimitExec's escalating partition batches cost up
    // to four driver jobs on under-threshold sets (see Graph.localEdges).
    // Both paths share the output contract: every doc in the edge set
    // labeled with its component minimum.
    val threshold = spark.conf.getOption("spark.graft.cc.localThreshold")
      .map(_.toLong).getOrElse(2000000L)
    if (cur.count() <= threshold) {
      val edges = cur.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        // union by id: the smaller root stays root, so a component's final
        // root is its minimum member — the same label the star loop emits
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val docs = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toArray.distinct
      spark.createDataset(docs.toSeq.map(d => (d, find(d))))
        .toDF("doc_id", "cluster_id")
    } else {
      var converged = false
      while (!converged) {
        val next = smallStar(largeStar(cur)).localCheckpoint()
        // equal-size distinct sets with empty difference are equal — one tiny
        // job on checkpointed blocks, not a second labels join
        converged = next.count() == cur.count() && next.exceptAll(cur).isEmpty
        cur.unpersist(blocking = false)
        cur = next
      }
      cur.select($"u".as("doc_id"), $"v".as("cluster_id"))
        .union(cur.select($"v".as("doc_id"), $"v".as("cluster_id")))
        .distinct()
    }
  }

  /** Dedup clustering: connected components over the LSH near-dup pairs
    * (d04), labeling every duplicate doc with the min doc_id of its
    * component — the step that turns pair detection into a keep/drop
    * decision. */
  def d07DedupClusters(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    connectedComponents(d04MinhashLshPairs(t).select($"doc_a", $"doc_b"))
      .orderBy($"doc_id")
  }

  val d07Oracle: String =
    s"""WITH ${lshBandsDuckCtes()},
       $lshPairsDuckCte,
       ${ccDuckCtes()}
       SELECT doc AS doc_id, cluster_id FROM reach ORDER BY doc_id"""

  /** Exact Jaccard similarity join >= 0.8 via prefix filtering (Bayardo et
    * al., "Scaling Up All Pairs Similarity Search", WWW 2007): order each
    * doc's shingle set by GLOBAL document frequency (rarest first), keep the
    * first |h| - ceil(0.8|h|) + 1 tokens as the prefix — two docs with
    * Jaccard >= 0.8 must share a prefix token (pigeonhole), so the candidate
    * join is an equi-join on rare tokens. Unlike LSH (d04) recall is exactly
    * 1.0, and unlike d02 there is no quadratic-per-block stage: the rarest-
    * first ordering keeps every token bucket small, which is what makes this
    * the exact-dedup path that survives 100 TB. All arithmetic is integer
    * (prefix length via DIV), so the DuckDB twin is bit-identical. */
  def d08PrefixJaccardJoin(t: T): DataFrame =
    prefixJaccardPairs(t.documents, 8000)

  /** [[d08PrefixJaccardJoin]]'s body on any (doc_id, text) frame at any
    * integer basis-point threshold t: probe prefix n - ceil(t·n) + 1, index
    * prefix with the tighter 2t/(1+t) bound, PPJoin length + positional
    * filters derived from the same t. At t = 8000 every integer expression
    * reduces to the d08 constants (ceil(8n/9) == ceil(16000n/18000), proven
    * in spec by d08's oracle hash); d26 runs it at a lower threshold on the
    * keeper-collapsed corpus. */
  private[operators] def prefixJaccardPairs(documents: DataFrame, thresholdBp: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.Registry.ensure(spark)
    val tBp = thresholdBp
    val d = 10000 + tBp // denominator of the 2t/(1+t) and t/(1+t) bounds
    val hs = Par.fanOut(documents)
      .select($"doc_id", array_sort(expr(shingleHashes)).as("h"))
      .localCheckpoint() // feeds both the dictionary build and the doc relabel
    val toks = hs.select($"doc_id", explode($"h").as("tok"))
    // Global token dictionary, dense ids in (document-frequency, tok) order:
    // the id order IS the rarest-first prefix order, so per-doc prefix = the
    // k smallest ids — no per-doc window needed. The dictionary is the
    // token VOCABULARY (not the corpus), small by construction.
    //
    // Dense-dictionary fast path: each doc's token SET as an nWords*64-bit
    // bitmap (exact — ids are a bijective relabel, Jaccard is invariant),
    // verified by word-wise popcount inline in the candidate join. Char-4-gram
    // vocabularies are intrinsically bounded (<= charset^4 observed grams);
    // past ~32k distinct tokens (4 KB/doc) the bitmap payload would dominate
    // the shuffle, so fall back to the sorted id array + merge-pass verify.
    //
    // r14 (guide §2.3/§2.4): the dense gate BOUNDS the dictionary at 32768
    // entries, so collect the census once (limit 32769 proves the bound
    // before anything is held on the driver — same discipline as the k×dim
    // centroid collects), assign the (df, tok)-ordered dense ids driver-side
    // — identical ids to the former global row_number window, minus its
    // single-partition sort — and relabel each doc MAP-SIDE with the
    // codegen'd binary-search expression. This removes, per PPJoin call: the
    // window exchange+sort, the vocab checkpoint + count jobs, the broadcast
    // relabel join, and the groupBy(doc_id) re-group — the one full
    // exploded-corpus exchange in the bitmap build. The only corpus-wide
    // shuffle left in the dictionary build is the df census aggregate
    // (map-side combined). The sparse fallback keeps the former shape.
    val censusRows = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
      .limit(32769).collect()
    val dense = censusRows.length <= 32768
    val nWords = ((censusRows.length + 63) / 64).toInt
    // Dense-vocab all-pairs gate (r15 session 2, guide §1.1 first-principles
    // + §3.1): a BOUNDED vocabulary breaks the prefix filter's selectivity —
    // two random docs share E ≈ P_probe·P_index/|vocab| prefix tokens, so
    // the token-keyed candidate join enumerates that many rows PER DOC PAIR
    // (PpProbe at t=0.42 on sf0.1: E ≈ 8, candidate join 4.5 s) where one
    // word-wise popcount per pair answers the same question (BNL 1.0 s).
    // When the quadratic word-op budget and the payload broadcast both fit,
    // verify ALL pairs directly against the broadcast bitmap table: each
    // pair enumerates exactly once (no candidate dedup shuffle), the
    // prefix explode + its checkpoint disappear, and recall is trivially
    // 1.0. Above either gate the prefix join below runs unchanged — it is
    // the distributable shape (sharded by token), and the collapse-first
    // doors keep the kept sets small enough that the ladder corpora stay
    // under this gate anyway. Budgets are conf-parameterised; the word-op
    // default (2e9 ≈ one second of one core's popcounts) is deliberately
    // conservative so the c8 driver lane cannot breach its ceiling.
    val allPairsMaxOps = documents.sparkSession.conf
      .getOption("spark.graft.ppjoin.allPairsMaxWordOps").map(_.toLong)
      .getOrElse(2000000000L)
    val allPairsMaxBytes = documents.sparkSession.conf
      .getOption("spark.graft.ppjoin.allPairsMaxBroadcastBytes").map(_.toLong)
      .getOrElse(256L << 20)
    def denseRelabeled: DataFrame = {
      val ordered = censusRows.map(r => (r.getLong(1), r.getLong(0))).sorted // (df, tok)
      val byTok = ordered.iterator.zipWithIndex
        .map { case ((_, tok), bit) => (tok, bit.toLong) }.toArray.sortBy(_._1)
      hs.select($"doc_id",
          call_function("relabel_sorted", $"h",
            lit(byTok.map(_._1)), lit(byTok.map(_._2))).as("bits"))
        .withColumn("n", size($"bits"))
        .withColumn("payload", expr(s"bits_to_words(bits, $nWords)"))
    }
    if (dense) {
      val nDocs = hs.count() // cheap: counts the materialized checkpoint blocks
      val wordOps = BigInt(nDocs) * BigInt(nDocs) / 2 * nWords
      val payloadBytes = BigInt(nDocs) * (nWords + 4) * 8
      if (wordOps <= allPairsMaxOps && payloadBytes <= allPairsMaxBytes) {
        val payload = denseRelabeled.select($"doc_id", $"n", $"payload")
        // min·10000 ≥ max·t is a necessary condition for Jaccard ≥ t
        // (|a∩b| ≤ min and |a∩b|·10000 ≥ t·|a∪b| ≥ t·max), so the length
        // pre-filter drops no qualifying pair; each unordered pair appears
        // exactly once (a < b), so no distinct is needed.
        return payload.as("a").join(broadcast(payload).as("b"), expr(
            s"""a.doc_id < b.doc_id
               AND b.n * 10000 >= a.n * $tBp AND a.n * 10000 >= b.n * $tBp"""))
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
            expr("jaccard_bp_words(a.payload, b.payload)").as("jaccard_bp"))
          .filter($"jaccard_bp" >= tBp)
          .orderBy($"doc_a", $"doc_b")
      }
    }
    val docs = if (dense) {
      denseRelabeled
    } else {
      // ADVICE r14: this re-runs the df census the dense gate just probed —
      // deliberate: the gate's limit(32769) shuffle output is truncated (it
      // cannot seed the full vocabulary), cross-action exchange reuse does
      // not exist, and the fallback only fires on >32k-token vocabularies
      // where one extra map-side-combined census is noise next to the
      // vocab-sized window below. The gate collect itself runs eagerly at
      // plan-construction time, like the centroid trainings.
      val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
        .select($"tok", (row_number().over(Window.orderBy($"df", $"tok")) - 1L).as("bit"))
      toks.join(broadcast(vocab), "tok") // map-side relabel, no shuffle of toks
        .groupBy($"doc_id").agg(sort_array(collect_list($"bit")).as("bits"))
        .withColumn("n", size($"bits"))
        .withColumn("payload", $"bits")
    }
    // ASYMMETRIC prefixes (the full PPJoin scheme): the probing (larger)
    // side needs prefix n - ceil(t n) + 1 (its overlap bound is t|x| given
    // the length filter), but the indexed (not-larger) side only needs
    // n - ceil(2t/(1+t) n) + 1 = n - ceil(8n/9) + 1, since with |y| <= |x|
    // the overlap bound ceil(t/(1+t)(|x|+|y|)) >= ceil(2t/(1+t)|y|).
    // ~0.11n vs ~0.2n index tokens roughly halves the candidate join's
    // row product vs symmetric prefixes. Size order (n, doc_id ties)
    // decides who probes whom; output re-canonicalizes to doc_a < doc_b.
    // Carrying the verify payload ON the prefix rows (~30 MB total) lets the
    // join compute exact Jaccard per candidate inline, so only TRUE pairs
    // ever hit the dedup shuffle — no candidate materialization, no
    // verify joins shipping the full arrays to every candidate.
    val pre = docs
      .select($"doc_id", $"n", $"payload",
        posexplode(expr(s"slice(bits, 1, n - (($tBp * n + 9999) DIV 10000) + 1)"))
          .as(Seq("p", "bit")))
      .select($"doc_id", $"n", $"payload", ($"p" + 1).as("rn"), $"bit",
        ($"p" + 1 <= expr(s"n - ((2 * $tBp * n + ${d - 1}) DIV $d) + 1")).as("indexable"))
      .localCheckpoint() // self-joined below; materialize once
    val simFn = if (dense) "jaccard_bp_words" else "jaccard_bp_sorted"
    // plus PPJoin's LENGTH filter (t|a| <= |b| else Jaccard < t
    // regardless of overlap) and POSITIONAL filter (a token at prefix
    // position rn leaves at most n - rn + 1 matchable tokens, so the
    // overlap can never reach ceil(t/(1+t) * (na + nb)))
    pre.as("a").join(pre.as("b"), expr(
        s"""a.bit = b.bit AND b.indexable
           AND (b.n < a.n OR (b.n = a.n AND b.doc_id < a.doc_id))
           AND b.n * 10000 >= a.n * $tBp
           AND 1 + least(a.n - a.rn, b.n - b.rn) >= ($tBp * (a.n + b.n) + ${d - 1}) DIV $d"""))
      .select(least($"a.doc_id", $"b.doc_id").as("doc_a"),
        greatest($"a.doc_id", $"b.doc_id").as("doc_b"),
        expr(s"$simFn(a.payload, b.payload)").as("jaccard_bp"))
      .filter($"jaccard_bp" >= tBp)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** The oracle states the implementation-independent DEFINITION — every
    * pair with exact Jaccard >= 0.8 (naive all-pairs is fine at oracle
    * scale) — so it also PROVES the prefix filter's recall is 1.0: any
    * pair the asymmetric-prefix candidate join missed would hash-mismatch. */
  val d08Oracle: String =
    s"""WITH hs AS (SELECT doc_id, $shingleHashesDuck AS h FROM documents)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.h, b.h)) * 10000 // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) AS jaccard_bp
       FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.h, b.h)) * 10000 // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) >= 8000
       ORDER BY doc_a, doc_b"""

  /** The NAIVE all-pairs statement of d08's near-dup semantic — the d08
    * ORACLE translated to Spark (hs self-join, exact Jaccard filter), NOT
    * the PPJoin kernel. Never registered as a query: it is the recognition
    * template for the opt-in audit rewrite
    * ([[graft.plans.PairJoinAudit.tryRewrite]]). A user plan canonically
    * equal to this kernel over some documents leaf states exactly the d30
    * door's raw-branch semantics (d08's spec proves the PPJoin's recall is
    * 1.0 against this definition), so the rewrite can substitute the
    * door's routed choice: the PPJoin below the replica-mass gate (same
    * answer, no all-pairs enumeration), the d29 collapse above it (the
    * door's oracle-pinned collapse semantics). */
  private[graft] def naiveNearDupPairs(docs: DataFrame, thresholdBp: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    val hs = docs.select($"doc_id", expr(shingleHashes).as("h"))
    hs.as("a").join(hs.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
        expr("jaccard_bp(a.h, b.h)") >= lit(thresholdBp))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("jaccard_bp(a.h, b.h)").as("jaccard_bp"))
  }

  /** The naive SYMMETRIC near-dup edge enumeration — the CLUSTER-pipeline
    * front a user writes when feeding their own connected-components pass
    * (GraphFrames, iterative SQL): both orientations of every qualifying
    * pair, `a.doc_id <> b.doc_id` instead of `<`. Never registered as a
    * query: it is the second recognition template for the opt-in audit
    * rewrite (VERDICT r11 next-3, the d32 shape the warn verdict names).
    * The spliced replacement is [[graft.operators.Routing.d32EdgeBranch]] —
    * the d30 door's oriented pairs plus their flips, which below the
    * replica-mass gate is byte-identical to this definition (the PPJoin's
    * recall is 1.0 against the oriented kernel, d08's proof obligation)
    * and above it is the d29 collapse's documented residual-edge trade. */
  private[graft] def naiveClusterEdges(docs: DataFrame, thresholdBp: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    val hs = docs.select($"doc_id", expr(shingleHashes).as("h"))
    hs.as("a").join(hs.as("b"),
        col("a.doc_id") =!= col("b.doc_id") &&
        expr("jaccard_bp(a.h, b.h)") >= lit(thresholdBp))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("jaccard_bp(a.h, b.h)").as("jaccard_bp"))
  }

  /** Exact substring-level duplication coverage (the signal behind
    * suffix-array dedup, Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022): slide a 40-char window over every
    * document, count how many of a doc's grams also occur in at least one
    * OTHER document, and report the duplicated-coverage ratio in basis
    * points. Unlike d02/d04/d08 (set-similarity at document granularity)
    * this catches long verbatim passages pasted into otherwise-different
    * documents — the dominant contamination mode in web crawls.
    *
    * Scale design: explode is linear in corpus characters; the only shuffle
    * is the groupBy on the gram key. At 100 TB the gram would be hashed
    * (`shingle_hashes`-style int64, 5x narrower shuffle rows) and strided —
    * here the raw 40-char string is the key so the DuckDB twin is trivially
    * byte-identical. */
  def d09SubstringDupCoverage(t: T): DataFrame =
    // r14: the declared query now RUNS the hashed-gram kernel (below) it had
    // only documented as "the 100 TB variant": the exact-string census
    // materializes a 40-char string per character position (40× the corpus in
    // allocations, 5× wider aggregate keys), which JobProbe measured at 5.6 s
    // warm — all compute, no orchestration. r15: the gram key widened from
    // one int64 to a PAIR of independent int64 hashes (effectively 128 bits)
    // so the equality with the exact string definition holds statistically at
    // the design scale too, not just on corpora small enough to dodge 64-bit
    // birthday collisions — see shingle_hash_pairs for the bound. Stride-1
    // output is identical on any corpus without a simultaneous double-hash
    // collision and without sub-40-char docs (none at any SF; PlanQualitySpec
    // asserts hashed == exact on the corpus, and the DuckDB oracle still
    // states the exact string definition, so the driver's hash gate re-proves
    // it each round). [[substringDupCoverageExact]] keeps the string kernel.
    substringDupCoverageHashed(t, 1)

  /** The exact 40-char-string census (the d09 oracle's literal shape) —
    * retained as the spec's equality baseline for the hashed kernel. */
  private[graft] def substringDupCoverageExact(t: T): DataFrame = {
    import t.spark.implicits._
    val grams = t.documents.select(
      $"doc_id",
      explode(expr(
        "transform(sequence(1, greatest(length(text) - 39, 1)), i -> substring(text, i, 40))"
      )).as("gram"))
    // A gram's occurrences are non-dup iff its min and max doc agree, so
    // per-doc dup counts are n_grams MINUS the single-doc grams'
    // occurrences — one hash AGGREGATE per gram (map-side combine, one
    // row per gram out of the exchange, no sort) where the previous
    // window formulation exchanged AND SORTED every occurrence row (that
    // sort straddled the 120 s ceiling at the 120× probe: 100–120+ s
    // across clean runs; this shape clears it), and n_grams itself is
    // just greatest(length-39, 1) — no explode at all on that side.
    val single = grams.groupBy($"gram")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"), count(lit(1)).as("occ"))
      .filter($"mn" === $"mx")
      .groupBy($"mn".as("doc_id"))
      .agg(sum($"occ").as("n_single"))
    t.documents
      .select($"doc_id", greatest(length($"text") - 39, lit(1)).cast("long").as("n_grams"))
      .join(single, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        ($"n_grams" - coalesce($"n_single", lit(0L))).as("n_dup_grams"))
      .withColumn("dup_bp", expr("n_dup_grams * 10000 DIV n_grams"))
      .orderBy($"doc_id")
  }

  /** The 100 TB variant of [[d09SubstringDupCoverage]] for library users:
    * gram keys are PAIRED int64 polynomial hashes from the codegen'd
    * `shingle_hash_pairs` expression — an effectively 128-bit key (~2.5×
    * narrower shuffle rows than 40-char strings, no per-position substring
    * materialization), and positions can be strided. At stride 1 the output
    * is identical to the exact string version on any corpus without a
    * simultaneous 40-gram collision of BOTH hashes: modeled as a uniform
    * 128-bit key that is ~1.5e-11 expected colliding pairs at 10^14 grams
    * (100 TB of text), where the previous single 64-bit key crossed one
    * expected collision at ~5·10^9 grams (VERDICT r14 wrong-#2; equality
    * vs the exact kernel stays asserted in PlanQualitySpec and re-proved by
    * the driver's DuckDB gate, whose d09 oracle keeps the exact string
    * definition). Stride s trades recall of sub-s-length duplicate runs for
    * s-fold less shuffle volume. (Docs shorter than 40 chars emit no grams
    * here, where the exact version emits one short gram — the test corpus
    * has none.) */
  def substringDupCoverageHashed(t: T, stride: Int = 1): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // stride 1 keeps every gram: plain explode, no position column, no
    // never-false `pos % 1 = 0` filter riding every gram row (r15 s2)
    val grams =
      if (stride == 1)
        t.documents.select($"doc_id", explode(expr("shingle_hash_pairs(text, 40)")).as("gh"))
      else t.documents
        .select($"doc_id", posexplode(expr("shingle_hash_pairs(text, 40)")).as(Seq("pos", "gh")))
        .filter($"pos" % stride === 0)
        .select($"doc_id", $"gh")
    // same sort-free census as d09 (hash aggregate per gram key, dup =
    // n_grams − single-doc occurrences); at stride 1 n_grams is the exact
    // version's closed form (length − 39, floored at 1 — no second pass
    // over the exploded grams), while striding makes it position-dependent
    // so the strided path counts per doc from the gram stream itself
    val single = grams.groupBy($"gh")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"), count(lit(1)).as("occ"))
      .filter($"mn" === $"mx")
      .groupBy($"mn".as("doc_id"))
      .agg(sum($"occ").as("n_single"))
    val nGrams =
      if (stride == 1)
        t.documents.select($"doc_id",
          greatest(length($"text") - 39, lit(1)).cast("long").as("n_grams"))
      else grams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    nGrams
      .join(single, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        ($"n_grams" - coalesce($"n_single", lit(0L))).as("n_dup_grams"))
      .withColumn("dup_bp", expr("n_dup_grams * 10000 DIV n_grams"))
      .orderBy($"doc_id")
  }

  val d09Oracle: String =
    """WITH grams AS (
         SELECT doc_id,
           unnest(list_transform(range(1, greatest(length(text) - 39, 1) + 1),
             i -> substr(text, i::INT, 40))) AS gram
         FROM documents),
       by_gram AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gram),
       per_doc AS (
         SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams
         FROM grams JOIN by_gram USING (gram) GROUP BY doc_id)
       SELECT doc_id, n_grams, n_dup_grams,
              (n_dup_grams * 10000 // n_grams)::BIGINT AS dup_bp
       FROM per_doc ORDER BY doc_id"""

  /** Asymmetric containment near-dup: containment(A in B) =
    * |A∩B| / |A| — catches excerpts and quotes that Jaccard misses (a
    * 50-line doc pasted into a 500-line doc has tiny Jaccard but
    * containment ~1). Candidates come from the same LSH band join as d04
    * (banding on MinHash bounds Jaccard, and containment >= jaccard, so
    * high-containment SIMILAR-SIZE pairs surface; a production excerpt
    * detector would band on the smaller doc's signature only). Both
    * directions are emitted per pair. */
  /** Prefix-blocked edit-distance near-dup pairs: block on the first 12
    * chars (near-dups of this corpus share their opening), verify with
    * Levenshtein over the 60-char head, keep distance <= 10. The classic
    * blocking+verify fuzzy-dedup shape: the block key turns an all-pairs
    * O(n^2 * L^2) problem into an equi-join (shuffle on the block key), and
    * the quadratic-cost verify runs only inside blocks. At 100 TB the block
    * key would widen (lang, source, prefix) and skewed blocks would be
    * salted — the join shape is unchanged. */
  def d10EditDistPairs(t: T): DataFrame = {
    import t.spark.implicits._
    val d = t.documents.select($"doc_id", $"text", substring($"text", 1, 12).as("blk"))
    val a = d.select($"doc_id".as("doc_a"), $"text".as("ta"), $"blk")
    val b = d.select($"doc_id".as("doc_b"), $"text".as("tb"), $"blk")
    a.join(b, Seq("blk"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        levenshtein(substring($"ta", 1, 60), substring($"tb", 1, 60))
          .cast("long").as("edit_dist"))
      .filter($"edit_dist" <= 10)
      .orderBy($"doc_a", $"doc_b")
  }

  val d10Oracle: String =
    """WITH d AS (SELECT doc_id, text, substr(text, 1, 12) AS blk FROM documents)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60))::BIGINT AS edit_dist
       FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
       WHERE levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) <= 10
       ORDER BY doc_a, doc_b"""

  /** LSH index-tuning diagnostic: candidate volume and verify precision of
    * two bandings of the same 32-slot MinHash signature — 4 bands x 8 rows
    * (d04's high-precision config) vs 8 bands x 4 rows (higher recall, more
    * candidates). The numbers every LSH deployment reads before picking
    * (b, r) at scale: candidates ~ cost, precision ~ wasted verifies. */
  def d14LshTuning(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val sigs = minhashSigTable(t.documents)
      .localCheckpoint() // both configs and the verify reuse it
    val hint = BroadcastGate.shingleHint(t.documents)
    // r15 s2: dense-vocab bitmap verify. The b8r4 arm surfaces ~180× the
    // b4r8 candidates (395k at sf0.1), and the verify join was shipping two
    // ~1.5 KB sorted shingle arrays per candidate plus an O(|a|+|b|) merge
    // per pair (TmpProbe: stats_b8r4 1.43 s of the 2.06 s row). When the
    // 4-gram vocabulary is dense (≤32 768 — the prefixJaccardPairs gate),
    // relabel each doc's shingle SET through a driver-collected bijection
    // and verify with the 16-word popcount instead: identical set Jaccard
    // (the relabel is a bijection; shingle_hashes is distinct), ~12×
    // narrower verify rows. Sparse vocabularies keep the sorted-merge
    // verify unchanged. Id ORDER is irrelevant here (no prefixes), so the
    // dictionary is just the sorted distinct vocab.
    val vocab = sigs.select(explode($"h").as("tok")).distinct()
      .limit(32769).collect().map(_.getLong(0)).sorted
    val payload = if (vocab.length <= 32768) {
      val nWords = ((vocab.length + 63) / 64).toInt
      val ids = Array.tabulate(vocab.length)(_.toLong)
      sigs.select($"doc_id",
        call_function("bits_to_words",
          call_function("relabel_sorted", $"h", lit(vocab), lit(ids)),
          lit(nWords)).as("payload"))
    } else sigs.select($"doc_id", $"h".as("payload"))
    def stats(nBands: Int, rowsPer: Int): DataFrame = {
      // hashed int64 band key, like [[bandRows]] (r12): the candidate
      // self-join shuffles 8 bytes per row instead of the slice string;
      // the oracle keeps the exact string key — same grouping unless two
      // distinct slices collide in 64 bits (see bandRows' collision note)
      val bands = sigs.select($"doc_id", expr(
        s"""explode(transform(sequence(0, ${nBands - 1}, 1), b -> struct(b AS band,
             xxhash64(slice(sig, b * $rowsPer + 1, $rowsPer)) AS bkey)))""").as("bk"))
        .select($"doc_id", $"bk.band".as("band"), $"bk.bkey".as("bkey"))
      val cand = bands.as("x").join(bands.as("y"),
          $"x.band" === $"y.band" && $"x.bkey" === $"y.bkey" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b")).distinct()
      val ha = payload.select($"doc_id".as("doc_a"), $"payload".as("ha"))
      val hb = payload.select($"doc_id".as("doc_b"), $"payload".as("hb"))
      val simFn = if (vocab.length <= 32768) "jaccard_bp_words" else "jaccard_bp_sorted"
      cand.join(hint(ha), "doc_a").join(hint(hb), "doc_b")
        .select(expr(s"$simFn(ha, hb)").as("j"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when($"j" >= 8000, 1L).otherwise(0L)).as("n_true"))
        .select(lit(s"b${nBands}r$rowsPer").as("config"), $"n_cand", $"n_true",
          expr("n_true * 10000 DIV n_cand").as("precision_bp"))
    }
    stats(4, 8).unionAll(stats(8, 4)).orderBy($"config")
  }

  private def duckBandStats(nBands: Int, rowsPer: Int): String =
    s"""(SELECT 'b${nBands}r$rowsPer' AS config, COUNT(*) AS n_cand,
           SUM(CASE WHEN j >= 8000 THEN 1 ELSE 0 END)::BIGINT AS n_true,
           (SUM(CASE WHEN j >= 8000 THEN 1 ELSE 0 END) * 10000 // COUNT(*))::BIGINT AS precision_bp
        FROM (
          SELECT len(list_intersect(a.h, b.h)) * 10000
                   // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) AS j
          FROM (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM (SELECT doc_id, b, array_to_string(sig[b * $rowsPer + 1 : b * $rowsPer + $rowsPer], ',') AS bkey
                  FROM sigs, range(0, $nBands) t(b)) x
            JOIN (SELECT doc_id, b, array_to_string(sig[b * $rowsPer + 1 : b * $rowsPer + $rowsPer], ',') AS bkey
                  FROM sigs, range(0, $nBands) t(b)) y
              ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id) c
          JOIN hs a ON a.doc_id = c.doc_a
          JOIN hs b ON b.doc_id = c.doc_b))"""

  val d14Oracle: String =
    s"""WITH hs AS (SELECT doc_id, $shingleHashesDuck AS h FROM documents),
       sigs AS (SELECT doc_id, $minhashSigDuck AS sig FROM hs),
       cfg_a AS ${duckBandStats(4, 8)},
       cfg_b AS ${duckBandStats(8, 4)}
       SELECT * FROM cfg_a UNION ALL SELECT * FROM cfg_b ORDER BY config"""

  def d11ContainmentPairs(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val hs = t.documents.select($"doc_id", array_sort(expr(shingleHashes)).as("h"))
    val cand = d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
    val hint = BroadcastGate.shingleHint(t.documents)
    val ha = hs.select($"doc_id".as("doc_a"), $"h".as("ha"))
    val hb = hs.select($"doc_id".as("doc_b"), $"h".as("hb"))
    cand.join(hint(ha), "doc_a").join(hint(hb), "doc_b")
      .select($"doc_a", $"doc_b",
        size(expr("array_intersect(ha, hb)")).cast("long").as("n_inter"),
        size($"ha").cast("long").as("na"), size($"hb").cast("long").as("nb"))
      .select($"doc_a", $"doc_b",
        expr("n_inter * 10000 DIV na").as("containment_a_in_b_bp"),
        expr("n_inter * 10000 DIV nb").as("containment_b_in_a_bp"))
      .orderBy($"doc_a", $"doc_b")
  }

  val d11Oracle: String =
    s"""WITH hs AS (SELECT doc_id, $shingleHashesDuck AS h FROM documents),
       sigs AS (SELECT doc_id, h, $minhashSigDuck AS sig FROM hs),
       bands AS (
         SELECT doc_id, b, array_to_string(sig[b * 8 + 1 : b * 8 + 8], ',') AS bkey
         FROM sigs, range(0, 4) t(b)),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       pairs AS (
         SELECT doc_a, doc_b,
           len(list_intersect(a.h, b.h))::BIGINT AS n_inter,
           len(a.h)::BIGINT AS na, len(b.h)::BIGINT AS nb
         FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b
         WHERE len(list_intersect(a.h, b.h)) * 10000
                 // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) >= 8000)
       SELECT doc_a, doc_b,
              (n_inter * 10000 // na)::BIGINT AS containment_a_in_b_bp,
              (n_inter * 10000 // nb)::BIGINT AS containment_b_in_a_bp
       FROM pairs ORDER BY doc_a, doc_b"""

  /** Dedup keep-policy: per near-dup cluster (d07's connected components),
    * elect the representative a curation pass would KEEP — longest doc,
    * doc_id as the deterministic tiebreak — plus what gets dropped. This is
    * the step that turns the pair/cluster analytics into an actionable
    * training-set decision (the keeper list IS the dedup filter). One
    * partial-aggregating groupBy keyed on cluster_id (max_by/max on
    * struct(n_chars, -doc_id) IS the (n_chars DESC, doc_id ASC) rank-1
    * row); scales like d07, with map-side reduction instead of a
    * per-cluster window sort. */
  def d12ClusterKeeper(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val clusters = connectedComponents(d04MinhashLshPairs(t).select($"doc_a", $"doc_b"))
    clusters.join(t.documents.select($"doc_id", $"n_chars"), "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        max_by($"doc_id", struct($"n_chars", (-$"doc_id").as("nid"))).as("keeper_id"),
        (sum($"n_chars") - max(struct($"n_chars", (-$"doc_id").as("nid")))
          .getField("n_chars")).as("chars_dropped"))
      .orderBy($"cluster_id")
  }

  val d12Oracle: String =
    s"""WITH ${lshBandsDuckCtes()},
       $lshPairsDuckCte,
       ${ccDuckCtes()},
       sized AS (
         SELECT cluster_id, doc AS doc_id, n_chars,
                row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc) AS rk
         FROM reach JOIN documents ON documents.doc_id = reach.doc)
       SELECT cluster_id, COUNT(*) AS n_docs,
              SUM(n_chars)::BIGINT AS total_chars,
              MIN(CASE WHEN rk = 1 THEN doc_id END) AS keeper_id,
              (SUM(n_chars) - MIN(CASE WHEN rk = 1 THEN n_chars END))::BIGINT AS chars_dropped
       FROM sized GROUP BY cluster_id ORDER BY cluster_id"""

  /** Semantic (embedding-space) dedup clusters, SemDeDup-style: pairs with
    * cosine >= 0.40 over the embedding table, connected-componented into
    * clusters with the same large-star/small-star CC as d07. The pair stage
    * here is the EXACT all-pairs baseline (like s03, weak-by-design as a
    * production path — at scale the candidate set comes from the s02 LSH
    * buckets or s04 IVF cells and only candidates pay the exact cosine);
    * the cluster stage is scale-safe as-is. Cosine is the codegen'd
    * double-accumulation kernel, bit-identical to the oracle's explicit
    * list arithmetic, so thresholding is cross-engine exact. */
  def d13SemanticClusters(t: T, thresholdMilli: Int = 400): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // per-vector self-dots precomputed once: dot/sqrt(na*nb) is bit-identical
    // to cosine_sim (its three accumulators are independent) at a third of
    // the per-pair flops across the n^2/2 candidate space
    val e = t.embeddings.select($"vec_id", $"embedding",
      expr("dot_d(embedding, embedding)").as("nrm"))
    val a = e.select($"vec_id".as("doc_a"), $"embedding".as("ea"), $"nrm".as("na"))
    val b = e.select($"vec_id".as("doc_b"), $"embedding".as("eb"), $"nrm".as("nb"))
    val pairs = a.join(b, $"doc_a" < $"doc_b")
      .filter(expr(s"dot_d(ea, eb) / sqrt(na * nb) >= $thresholdMilli / 1000.0"))
      .select($"doc_a", $"doc_b")
    connectedComponents(pairs)
      .select($"doc_id".as("vec_id"), $"cluster_id")
      .orderBy($"vec_id")
  }

  /** The PRODUCTION path for [[d13SemanticClusters]] and the DECLARED
    * d13 query since round 6: candidate pairs from shared random-hyperplane
    * LSH buckets (4 tables x 8 bits — s02's banding), exact cosine >=
    * threshold on candidates only, then the same CC. Shuffle keys on
    * (table, bucket) instead of the n^2/2 cross join — the shape that
    * survives 10^11 vectors. The LSH is deterministic, so the whole
    * pipeline is oracle-hashable: the DuckDB twin replicates the signature
    * and banding in SQL (s06's pattern) and pays exact cosine only on
    * bucket candidates too. The all-pairs [[d13SemanticClusters]] stays as
    * the semantic definition; the PlanQualitySpec subset/recall gate ties
    * the two together. */
  def d13SemanticClustersBucketed(t: T, thresholdMilli: Int = 400): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // candidate pairs carry IDS ONLY through the band join + distinct — the
    // 512-byte embeddings rejoin AFTER dedup, so the wide rows never enter
    // the (quadratic-in-bucket-size) pair shuffle. At 20x corpus scale this
    // is the difference between a 12 GB and a ~200 MB exchange (SCALESMOKE).
    // Bands come from the family-shared fragment (Similarity.idBands).
    val bands = Similarity.idBands(t)
    val cand = bands.as("x").join(bands.as("y"),
        $"x.tbl" === $"y.tbl" && $"x.bucket" === $"y.bucket" && $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("doc_a"), $"y.vec_id".as("doc_b")).distinct()
    // broadcast the vector table into BOTH verify joins while it fits: the
    // candidate stream (quadratic-in-bucket-size) then never carries an
    // embedding through an exchange — without this the second join shuffles
    // |candidates| x 512 B. Past the BroadcastGate ceiling the hint drops
    // away and both verifies run as shuffled equi-joins instead of erroring.
    val hint = BroadcastGate.vectorHint(t.embeddings)
    val e = t.embeddings.select($"vec_id", $"embedding",
      expr("dot_d(embedding, embedding)").as("nrm"))
    val ea = e.select($"vec_id".as("doc_a"), $"embedding".as("ea"), $"nrm".as("na"))
    val eb = e.select($"vec_id".as("doc_b"), $"embedding".as("eb"), $"nrm".as("nb"))
    val pairs = cand.join(hint(ea), "doc_a").join(hint(eb), "doc_b")
      .filter(expr(s"dot_d(ea, eb) / sqrt(na * nb) >= $thresholdMilli / 1000.0"))
      .select($"doc_a", $"doc_b")
    connectedComponents(pairs)
      .select($"doc_id".as("vec_id"), $"cluster_id")
      .orderBy($"vec_id")
  }

  val d13Oracle: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
       pairs AS (
         SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
               / sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))
                    * list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))
               >= 400 / 1000.0),
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach AS (
         WITH RECURSIVE r(doc, label) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e2.d, r.label FROM r JOIN edges e2 ON e2.s = r.doc
         ) SELECT doc, MIN(label) AS cluster_id FROM r GROUP BY doc)
       SELECT doc AS vec_id, cluster_id FROM reach ORDER BY vec_id"""

  /** DuckDB twin of [[d13SemanticClustersBucketed]]: the hyperplane
    * signature and 4x8-bit banding replicated in SQL (same derivation as
    * the s06 oracle), exact cosine only on bucket-coincident candidates,
    * then the identical recursive CC. */
  val d13BucketedOracle: String =
    """WITH sigs AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       bands AS (
         SELECT vec_id, embedding, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM sigs, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b,
                a.embedding AS ea, b.embedding AS eb
         FROM bands a JOIN bands b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       pairs AS (
         SELECT doc_a, doc_b FROM cand
         WHERE list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
               / sqrt(list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * ea[i]::DOUBLE))
                    * list_sum(list_transform(range(1, 65), i -> eb[i]::DOUBLE * eb[i]::DOUBLE)))
               >= 400 / 1000.0),
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach AS (
         WITH RECURSIVE r(doc, label) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e2.d, r.label FROM r JOIN edges e2 ON e2.s = r.doc
         ) SELECT doc, MIN(label) AS cluster_id FROM r GROUP BY doc)
       SELECT doc AS vec_id, cluster_id FROM reach ORDER BY vec_id"""

  /** Duplicate-provenance matrix: the d04 near-dup pairs attributed back to
    * their source pair (src_lo <= src_hi, unordered) — the "where do my
    * duplicates come from" report that decides whether to drop a source,
    * dedup within it, or dedup across a specific pair (mirror sites,
    * re-crawls, syndication show up as hot off-diagonal cells). Two
    * broadcast-size joins against the narrow (doc_id, source) projection on
    * top of the LSH pair stream; the matrix itself is |sources|^2 rows. */
  def d15DupProvenance(t: T): DataFrame = {
    import t.spark.implicits._
    val src = t.documents.select($"doc_id", $"source")
    d04MinhashLshPairs(t)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .groupBy(least($"sa", $"sb").as("src_lo"),
        greatest($"sa", $"sb").as("src_hi"))
      .agg(count(lit(1)).as("n_pairs"), max($"jaccard_bp").as("max_jaccard_bp"))
      .orderBy($"src_lo", $"src_hi")
  }

  /** The d04 oracle verbatim as a nested CTE, aggregated by source pair. */
  val d15Oracle: String =
    s"""WITH pairs AS ($d04Oracle)
       SELECT least(a.source, b.source) AS src_lo,
              greatest(a.source, b.source) AS src_hi,
              COUNT(*) AS n_pairs,
              MAX(jaccard_bp)::BIGINT AS max_jaccard_bp
       FROM pairs
       JOIN documents a ON a.doc_id = pairs.doc_a
       JOIN documents b ON b.doc_id = pairs.doc_b
       GROUP BY 1, 2 ORDER BY src_lo, src_hi"""

  /** Per-cluster diversity audit: before d12/p16 drop a cluster's members,
    * what exactly is being collapsed — languages and sources spanned,
    * length spread, membership. A near-dup cluster spanning several
    * sources is syndication (safe to keep one); one spanning languages is
    * usually an LSH false merge worth inspecting. Composes d07's labels
    * with one rollup on cluster_id. */
  def d16ClusterAudit(t: T): DataFrame = {
    import t.spark.implicits._
    val labels = d07DedupClusters(t) // (doc_id, cluster_id)
    labels.join(t.documents.select($"doc_id", $"lang", $"source", $"n_chars"), "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
      .filter($"n_docs" > 1)
      .orderBy($"cluster_id")
  }

  /** The d07 oracle verbatim as a nested CTE, rolled up per cluster. */
  val d16Oracle: String =
    s"""WITH labels AS ($d07Oracle)
       SELECT cluster_id, COUNT(*) AS n_docs,
              COUNT(DISTINCT lang) AS n_langs,
              COUNT(DISTINCT source) AS n_sources,
              MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       FROM labels JOIN documents USING (doc_id)
       GROUP BY cluster_id HAVING COUNT(*) > 1
       ORDER BY cluster_id"""

  /** Survivorship merge: where d12/p16 ELECT one row per duplicate group,
    * this MERGES the group's attributes into the surviving record — the
    * record-linkage step that keeps provenance (all sources and languages
    * the duplicate appeared under) instead of discarding it. Exact groups
    * on the md5 text key (d01's identity); the survivor id is the minimum
    * doc_id; multi-valued attributes collapse to sorted distinct lists. */
  def d17Survivorship(t: T): DataFrame = {
    import t.spark.implicits._
    t.documents
      .groupBy(md5(substring($"text", 1, 64)).as("h")) // d01's identity key
      .agg(count(lit(1)).as("n_members"),
        min($"doc_id").as("survivor_id"),
        array_join(array_sort(collect_set($"source")), ",").as("sources"),
        array_join(array_sort(collect_set($"lang")), ",").as("langs"))
      .filter($"n_members" > 1)
      .select($"survivor_id", $"n_members", $"sources", $"langs")
      .orderBy($"survivor_id")
  }

  val d17Oracle: String =
    """SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_members,
              string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
              string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
       FROM documents GROUP BY md5(substr(text, 1, 64)) HAVING COUNT(*) > 1
       ORDER BY survivor_id"""

  /** Production top-k similarity join — [[d02NgramJaccardPairs]]'s scale
    * path: candidates from the d04 MinHash band join (no threshold filter),
    * exact Jaccard verified on candidates only, global top-20 by score.
    * Where d02 pays all pairs within its lang blocks, this pays only
    * band-coincident pairs — one shuffle on the band key, TakeOrdered for
    * the top-k, no quadratic stage. Like d13/s02, the LSH is deterministic
    * so the whole pipeline is oracle-hashable; the spec measures top-k
    * recall against d02's exact answer instead of assuming it. */
  def d18TopkSimJoin(t: T, k: Int = 20): DataFrame =
    topkSimJoinOn(t.spark, t.documents, k)

  /** The d18 kernel over an arbitrary document frame (d31's kernel-reuse
    * pattern: the routed door runs it unchanged on the full corpus). */
  private[operators] def topkSimJoinOn(
      spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    val sigs = minhashSigTable(docs)
    val cand = bandCandidatesOf(docs)
    val hint = BroadcastGate.shingleHint(docs)
    val ha = sigs.select($"doc_id".as("doc_a"), $"h".as("ha"))
    val hb = sigs.select($"doc_id".as("doc_b"), $"h".as("hb"))
    cand.join(hint(ha), "doc_a").join(hint(hb), "doc_b")
      .select($"doc_a", $"doc_b", expr("jaccard_bp_sorted(ha, hb)").as("jaccard_bp"))
      .orderBy($"jaccard_bp".desc, $"doc_a", $"doc_b")
      .limit(k)
  }

  /** The d04 oracle's candidate stage, unthresholded, top-20 by score. */
  val d18Oracle: String =
    s"""WITH ${lshBandsDuckCtes()}
       SELECT doc_a, doc_b, ${jaccardBpDuck()} AS jaccard_bp
       FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b
       ORDER BY jaccard_bp DESC, doc_a, doc_b LIMIT 20"""

  /** Cross-method agreement audit: the d04 MinHash/Jaccard pair set vs the
    * d06 SimHash/Hamming pair set, full-outer-joined on the pair key — the
    * "do my two near-dup detectors agree" diagnostic that decides whether
    * running both buys recall or only cost. Pairs found by both methods,
    * by one only, and the basis-point Jaccard overlap of the two sets, per
    * language of the pair's lower doc (blocking is same-lang in both
    * methods, so one side's lang is the pair's lang). Both inputs are
    * single-exchange shapes; the audit adds one full-outer equi-join. */
  def d19MethodAgreement(t: T): DataFrame = {
    import t.spark.implicits._
    val mh = d04MinhashLshPairs(t).select($"doc_a", $"doc_b", lit(1L).as("mh"))
    val sh = d06SimhashPairs(t).select($"doc_a", $"doc_b", lit(1L).as("sh"))
    val lang = t.documents.select($"doc_id".as("doc_a"), $"lang")
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .join(lang, "doc_a")
      .groupBy($"lang")
      .agg(
        sum(when($"mh".isNotNull && $"sh".isNotNull, 1L).otherwise(0L)).as("n_both"),
        sum(when($"sh".isNull, 1L).otherwise(0L)).as("n_minhash_only"),
        sum(when($"mh".isNull, 1L).otherwise(0L)).as("n_simhash_only"))
      .withColumn("agreement_bp", expr(
        "CASE WHEN n_both + n_minhash_only + n_simhash_only = 0 THEN 0 " +
        "ELSE n_both * 10000 DIV (n_both + n_minhash_only + n_simhash_only) END"))
      .orderBy($"lang")
  }

  /** The d04 and d06 oracles verbatim as nested CTEs, outer-joined. */
  val d19Oracle: String =
    s"""WITH mh AS ($d04Oracle),
       sh AS ($d06Oracle)
       SELECT lang,
              SUM(CASE WHEN mh_f IS NOT NULL AND sh_f IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_both,
              SUM(CASE WHEN sh_f IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_minhash_only,
              SUM(CASE WHEN mh_f IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_simhash_only,
              (CASE WHEN COUNT(*) = 0 THEN 0
                    ELSE SUM(CASE WHEN mh_f IS NOT NULL AND sh_f IS NOT NULL THEN 1 ELSE 0 END) * 10000 // COUNT(*)
               END)::BIGINT AS agreement_bp
       FROM (SELECT COALESCE(mh.doc_a, sh.doc_a) AS doc_a,
                    mh.doc_a AS mh_f, sh.doc_a AS sh_f
             FROM mh FULL OUTER JOIN sh
               ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b) u
       JOIN documents d ON d.doc_id = u.doc_a
       GROUP BY lang ORDER BY lang"""

  /** Threshold-sensitivity sweep — d14's banding diagnostic turned toward
    * the VERIFY stage: pair and doc counts at Jaccard cutoffs 0.7/0.8/0.9
    * from ONE candidate pass (the LSH band join scored unthresholded, each
    * pair replicated to the thresholds it clears). How fast duplication
    * mass shrinks as the cutoff rises is what picks d04's 0.8 — measured,
    * not assumed. Costs one extra 3x fan-out over the candidate stream. */
  def d20ThresholdSweep(t: T, thresholdsBp: Seq[Int] = Seq(7000, 8000, 9000)): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val sigs = minhashSigTable(t.documents)
    val cand = bandCandidatesOf(t.documents)
    val hint = BroadcastGate.shingleHint(t.documents)
    val ha = sigs.select($"doc_id".as("doc_a"), $"h".as("ha"))
    val hb = sigs.select($"doc_id".as("doc_b"), $"h".as("hb"))
    val scored = cand.join(hint(ha), "doc_a").join(hint(hb), "doc_b")
      .select($"doc_a", $"doc_b", expr("jaccard_bp_sorted(ha, hb)").as("jaccard_bp"))
    val pairsTh = scored
      .select(explode(array(thresholdsBp.map(v => lit(v.toLong)): _*)).as("threshold_bp"),
        $"doc_a", $"doc_b", $"jaccard_bp")
      .filter($"jaccard_bp" >= $"threshold_bp")
    val pairCounts = pairsTh.groupBy($"threshold_bp")
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = pairsTh
      .select($"threshold_bp", explode(array($"doc_a", $"doc_b")).as("doc"))
      .groupBy($"threshold_bp").agg(countDistinct($"doc").as("n_docs"))
    pairCounts.join(docCounts, "threshold_bp").orderBy($"threshold_bp")
  }

  /** The d04 candidate CTEs unthresholded, fanned out per cutoff. */
  val d20Oracle: String =
    s"""WITH ${lshBandsDuckCtes()},
       scored AS (
         SELECT doc_a, doc_b, ${jaccardBpDuck()} AS jaccard_bp
         FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b),
       th AS (SELECT unnest([7000, 8000, 9000])::BIGINT AS threshold_bp),
       p AS (SELECT threshold_bp, doc_a, doc_b FROM scored CROSS JOIN th
             WHERE jaccard_bp >= threshold_bp),
       pc AS (SELECT threshold_bp, COUNT(*) AS n_pairs FROM p GROUP BY 1),
       dc AS (SELECT threshold_bp, COUNT(DISTINCT doc) AS n_docs
              FROM (SELECT threshold_bp, doc_a AS doc FROM p
                    UNION ALL SELECT threshold_bp, doc_b FROM p)
              GROUP BY 1)
       SELECT threshold_bp, n_pairs, n_docs
       FROM pc JOIN dc USING (threshold_bp) ORDER BY threshold_bp"""

  /** Incremental dedup — the production INGEST shape: a small incoming batch
    * (doc_id % 5 == 0, ~20% of the corpus) is deduped AGAINST the accumulated
    * index (the other 80%), not corpus-vs-corpus. The LSH band join is
    * asymmetric: incoming bands probe index bands only, so per-ingest cost is
    * O(|batch|) map work + a shuffle keyed on band buckets — re-running
    * corpus-wide dedup per ingest (d04's shape) would be O(|corpus|) every
    * batch. At 100 TB the index-side band table is a pre-computed, bucketed
    * artifact; only the probe side is fresh work. Emits one row per incoming
    * doc that duplicates the index: match count, earliest index keeper, and
    * the best verified Jaccard. */
  def d21IncrementalDedup(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val bands = d21Bands(t)
    d21Probe(t, bands.filter($"m" === 0), bands.filter($"m" =!= 0))
  }

  /** The full corpus's band table with the ingest-blocking column, from ONE
    * evaluation of the shingle+minhash pipeline, materialized NARROW —
    * (doc_id, band, bkey, m), 4 rows/doc. The naive d21 tree re-derived
    * the signature pipeline once per consumer (band build on each side,
    * the ownership census twice, and both verify sides), which is the
    * superlinear growth signature the 120×→160× diff flagged on d35
    * (VERDICT r9 wrong-#2 — the d31 disease in its incremental shape). */
  private def d21Bands(t: T): DataFrame = {
    import t.spark.implicits._
    // the blocking column is a projection over the snapshot-memoized
    // checkpointed band frame — d21/d35 share the sig pass with the
    // ownership-family doors instead of materializing their own twin
    checkpointedBands(t.documents)
      .withColumn("m", pmod($"doc_id", lit(5)))
  }

  /** d21 against the keeper-collapsed index — d35's collapsed gear: the
    * index side folded to its band-ownership keepers (d29's linear
    * collapse, computed over the index subset only) before the probe. On
    * a replica corpus BOTH band tables grow m-fat buckets, so the
    * candidate stream of the raw probe is m²-bound even though its output
    * (one row per incoming doc) is linear; a production index on such a
    * corpus stores keepers, not every replica — dup_of then names the
    * keeper, and the match count counts keeper matches (the documented
    * collapse trade d31/d32 carry). */
  private[graft] def d21AgainstKeeperIndex(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val bands = d21Bands(t)
    val ixBands = bands.filter($"m" =!= 0)
    // ownership keepers of the index subset, derived from the SAME
    // materialized band table — zero extra signature passes
    val owners = ixBands.groupBy($"band", $"bkey").agg(min($"doc_id").as("owner"))
    val keepers = ixBands.join(owners, Seq("band", "bkey"))
      .groupBy($"doc_id").agg(min($"owner").as("keeper"))
      .filter($"doc_id" === $"keeper").select($"doc_id")
      .localCheckpoint() // ids only; restricts cand AND the verify side
    d21Probe(t, bands.filter($"m" === 0), ixBands.join(keepers, "doc_id"),
      ixIds = Some(keepers))
  }

  /** The asymmetric probe kernel over NARROW band tables: incoming bands
    * probe index bands only. The shingle arrays join in per side as
    * h-only projections (column pruning drops the 32-perm minhash work),
    * with the index side optionally restricted to `ixIds` so a collapsed
    * index never ships non-keeper arrays through the verify join. */
  private def d21Probe(t: T, inBands: DataFrame, ixBands: DataFrame,
      ixIds: Option[DataFrame] = None): DataFrame = {
    import t.spark.implicits._
    val cand = inBands.select($"doc_id", $"band", $"bkey")
      .join(ixBands.select($"doc_id".as("idx_id"), $"band", $"bkey"),
        Seq("band", "bkey"))
      .select($"doc_id", $"idx_id").distinct()
    val hs = t.documents.select($"doc_id", array_sort(expr(shingleHashes)).as("h"))
    val hint = BroadcastGate.shingleHint(t.documents)
    val ha = hs.filter(pmod($"doc_id", lit(5)) === 0).select($"doc_id", $"h".as("ha"))
    val hbBase = hs.filter(pmod($"doc_id", lit(5)) =!= 0)
    val hb = ixIds.fold(hbBase)(ids => hbBase.join(ids, "doc_id"))
      .select($"doc_id".as("idx_id"), $"h".as("hb"))
    cand.join(hint(ha), "doc_id").join(hint(hb), "idx_id")
      .select($"doc_id", $"idx_id", expr("jaccard_bp_sorted(ha, hb)").as("jaccard_bp"))
      .filter($"jaccard_bp" >= 8000)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_index_matches"),
        min($"idx_id").as("dup_of"),
        max($"jaccard_bp").as("max_jaccard_bp"))
      .orderBy($"doc_id")
  }

  /** The shared band CTEs widened with the m blocking column, candidate
    * join overridden to incoming-probes-index (the helper's knobs). */
  val d21Oracle: String =
    s"""WITH ${lshBandsDuckCtes(
         hsCols = "doc_id, doc_id % 5 AS m",
         bandCols = "doc_id, m",
         cand = """cand AS (
         SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS idx_id
         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
         WHERE x.m = 0 AND y.m <> 0)""")},
       ver AS (
         SELECT c.doc_id, c.idx_id, ${jaccardBpDuck()} AS jaccard_bp
         FROM cand c JOIN hs a ON a.doc_id = c.doc_id JOIN hs b ON b.doc_id = c.idx_id)
       SELECT doc_id, COUNT(*) AS n_index_matches, MIN(idx_id) AS dup_of,
              MAX(jaccard_bp) AS max_jaccard_bp
       FROM ver WHERE jaccard_bp >= 8000 GROUP BY doc_id ORDER BY doc_id"""

  /** DuckDB twin of [[d21AgainstKeeperIndex]] — d35's collapsed branch:
    * the same chain with the index side folded to its band-ownership
    * keepers (owners and kept computed over m <> 0 bands only) before the
    * probe join. */
  private[graft] val d21KeeperOracle: String =
    s"""WITH ${lshBandsDuckCtes(
         hsCols = "doc_id, doc_id % 5 AS m",
         bandCols = "doc_id, m",
         cand = """iowners AS (
         SELECT b, bkey, MIN(doc_id) AS owner FROM bands WHERE m <> 0 GROUP BY 1, 2),
       ikept AS (
         SELECT doc_id FROM (
           SELECT bands.doc_id, MIN(owner) AS keeper
           FROM bands JOIN iowners ON iowners.b = bands.b AND iowners.bkey = bands.bkey
           WHERE bands.m <> 0 GROUP BY 1)
         WHERE keeper = doc_id),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS idx_id
         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
         JOIN ikept k ON k.doc_id = y.doc_id
         WHERE x.m = 0 AND y.m <> 0)""")},
       ver AS (
         SELECT c.doc_id, c.idx_id, ${jaccardBpDuck()} AS jaccard_bp
         FROM cand c JOIN hs a ON a.doc_id = c.doc_id JOIN hs b ON b.doc_id = c.idx_id)
       SELECT doc_id, COUNT(*) AS n_index_matches, MIN(idx_id) AS dup_of,
              MAX(jaccard_bp) AS max_jaccard_bp
       FROM ver WHERE jaccard_bp >= 8000 GROUP BY doc_id ORDER BY doc_id"""

  /** b-bit MinHash audit (Li & Koenig, 2010): keep only the low 8 bits of
    * each of the 32 permutation minima — a 4x signature compression — and
    * score every d04 candidate pair with BOTH the exact Jaccard and the
    * b-bit match-fraction estimate. Output is the integer error of the
    * compressed sketch per pair, the measurement that licenses shipping
    * 32-byte instead of 256-byte signatures at 100 TB (the index-side
    * band table shrinks 4x; collision inflation is (1-J)/256 per perm,
    * visible in err_bp). Entirely integer arithmetic. */
  /** b-bit codes packed per doc from the 32-perm signature column `sig`
    * (4 longs of 8 bytes each) — shared by d22 and d31's collapsed branch. */
  private val packBbCol =
    expr("""transform(sequence(0, 3), k ->
              aggregate(sequence(1, 8), 0L,
                (acc, j) -> shiftleft(acc, 8) | pmod(element_at(sig, k * 8 + j), 256)))""")

  /** Match-fraction estimate in bp from two packed-code columns bba/bbb. */
  private val bbitEstCol =
    expr("""aggregate(zip_with(bba, bbb, (x, y) ->
              aggregate(sequence(0, 7), 0L,
                (acc, i) -> acc + CASE WHEN (shiftrightunsigned(x, i * 8) & 255) =
                                          (shiftrightunsigned(y, i * 8) & 255)
                            THEN 1L ELSE 0L END)),
            0L, (acc, v) -> acc + v) * 10000 DIV 32""")

  def d22BbitMinhash(t: T): DataFrame = bbitMinhashOn(t.spark, t.documents)

  /** The d22 kernel over an arbitrary document frame. */
  private[operators] def bbitMinhashOn(
      spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    val sigs = minhashSigTable(docs)
    val cand = bandCandidatesOf(docs)
    // b-bit codes packed per DOC (32 pmods once per doc), not per PAIR:
    // the verify join then carries 4 longs instead of the 32-long signature
    // array, and the per-pair estimate is shift/mask arithmetic in codegen.
    // (The 60x probe ceilinged the unpacked form: on an m-fold replica
    // corpus the candidate count grows m², so every byte and every pmod
    // carried per pair is multiplied by ~9M — per-doc precompute + narrow
    // pair rows is the same medicine s02/s12 took in r7.) The b-bit
    // ESTIMATE is bit-identical to the unpacked form, so the oracle is
    // unchanged and the hash gate still pins it exactly.
    // shiftleft|or, not *256+: bitwise ops wrap silently, so the top
    // byte's sign bit never trips the ANSI overflow check
    val packed = sigs.select($"doc_id", $"h", packBbCol.as("bb"))
    val hint = BroadcastGate.shingleHint(docs)
    val ha = packed.select($"doc_id".as("doc_a"), $"h".as("ha"), $"bb".as("bba"))
    val hb = packed.select($"doc_id".as("doc_b"), $"h".as("hb"), $"bb".as("bbb"))
    cand.join(hint(ha), "doc_a").join(hint(hb), "doc_b")
      .select($"doc_a", $"doc_b",
        expr("jaccard_bp_sorted(ha, hb)").as("jaccard_bp"),
        bbitEstCol.as("bbit_est_bp"))
      .withColumn("err_bp", abs($"jaccard_bp" - $"bbit_est_bp"))
      // d22 reports EVERY candidate pair (no jaccard floor), so the final
      // sort's range sampling would re-run the whole per-pair verify;
      // materialize the narrow scored rows once (r14, the m-family medicine)
      .localCheckpoint()
      .orderBy($"doc_a", $"doc_b")
  }

  /** The d22 SCORING stage over an externally-supplied pair frame
    * (doc_a, doc_b, jaccard_bp) — d31's collapsed branch: collapse first
    * (d29 ownership), then audit the sketch on the residual near-dup
    * pairs. The pair frame's jaccard_bp is the same shingle-set Jaccard
    * d22 computes (one shingle contract corpus-wide), so only the b-bit
    * estimate is added here. */
  private[operators] def bbitScoreOnPairs(
      spark: SparkSession, docs: DataFrame, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    // one materialized sig pass shared by both broadcast sides (r14, as in
    // [[bbitMinhashOn]])
    val packed = minhashSigTable(docs).select($"doc_id", packBbCol.as("bb"))
      .localCheckpoint()
    val hint = BroadcastGate.shingleHint(docs)
    pairs
      .join(hint(packed.select($"doc_id".as("doc_a"), $"bb".as("bba"))), "doc_a")
      .join(hint(packed.select($"doc_id".as("doc_b"), $"bb".as("bbb"))), "doc_b")
      .select($"doc_a", $"doc_b", $"jaccard_bp", bbitEstCol.as("bbit_est_bp"))
      .withColumn("err_bp", abs($"jaccard_bp" - $"bbit_est_bp"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The scoring tail of the d22 oracle (scored CTE + final SELECT),
    * shared with d31's collapsed branch — needs `cand` and `sigs`
    * upstream, whatever produced them. */
  private[operators] val bbitScoredDuck: String =
    s"""scored AS (
         SELECT doc_a, doc_b, ${jaccardBpDuck()} AS jaccard_bp,
           list_sum(list_transform(range(1, 33), j ->
             CASE WHEN a.sig[j::INT] % 256 = b.sig[j::INT] % 256 THEN 1 ELSE 0 END)) * 10000 // 32 AS bbit_est_bp
         FROM cand JOIN sigs a ON a.doc_id = doc_a JOIN sigs b ON b.doc_id = doc_b)
       SELECT doc_a, doc_b, jaccard_bp, bbit_est_bp::BIGINT AS bbit_est_bp,
              abs(jaccard_bp - bbit_est_bp)::BIGINT AS err_bp
       FROM scored ORDER BY doc_a, doc_b"""

  /** The shared band CTEs; the b-bit estimate in DuckDB list primitives. */
  val d22Oracle: String =
    s"""WITH ${lshBandsDuckCtes()},
       $bbitScoredDuck"""

  /** Content-defined chunking (CDC) dedup — the rsync/LBFS family: chunk
    * boundaries are picked by CONTENT (a token whose hash ≡ 0 mod 8 closes
    * the current chunk), not by fixed offsets, so an insertion early in a
    * document shifts only the one chunk it lands in and every later chunk
    * still hashes identically — the property that lets chunk-level dedup
    * catch partially-overlapping documents that whole-doc hashing (d01)
    * misses and shingle-Jaccard (d02/d04) only scores, never localizes.
    *
    * Scale shape: tokenize via `posexplode` (narrow), per-token polynomial
    * hash in codegen, chunk ids by a running boundary count windowed
    * PARTITION BY doc_id (per-doc state only — no global ordering), chunk
    * hashes by an ordered integer fold per (doc, chunk) group, then ONE
    * census shuffle on chunk_hash. Expected chunk length is 8 tokens
    * (P(boundary) = 1/8), the knob that trades dedup granularity against
    * census size. All arithmetic is exact integers mod 1e9+7 / 2^31-1, so
    * the DuckDB list-land replica folds to identical hashes. */
  /** ONE definition of the token/prefix hash contract shared by d23 (CDC
    * chunks) and t23 (boilerplate prefixes), Spark + DuckDB sides: token
    * hash = char fold (seed 7, base 31, mod 1e9+7); sequence hash = token-
    * hash fold (seed 0, base 131, mod 2^31−1). Identical prefixes/chunks
    * hash identically ACROSS queries only while all four fragments agree —
    * hence one definition. */
  private[operators] def tokHashSpark(tok: String): String =
    s"""aggregate(transform(sequence(1, length($tok)),
          i -> CAST(ascii(substr($tok, i, 1)) AS BIGINT)),
        7L, (a, x) -> (a * 31 + x) % 1000000007)"""

  private[operators] def tokHashDuck(tok: String): String =
    s"""list_reduce(list_prepend(7::BIGINT,
          list_transform(range(1, length($tok) + 1),
            i -> ascii(substr($tok, i::INT, 1))::BIGINT)),
        (a, x) -> (a * 31 + x) % 1000000007)"""

  private[operators] def hashFoldSpark(list: String): String =
    s"aggregate($list, 0L, (a, x) -> (a * 131 + x) % 2147483647)"

  private[operators] def hashFoldDuck(list: String): String =
    s"""list_reduce(list_prepend(0::BIGINT, $list),
        (a, x) -> (a * 131 + x) % 2147483647)"""

  /** The CDC chunk pipeline on any (doc_id, text) frame → (doc_id, cid,
    * chunk_hash). Factored out so specs can feed synthetic edits and assert
    * the content-defined locality property directly. */
  def cdcChunkHashes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.functions.Registry.ensure(docs.sparkSession)
    // chunking is PER-DOC: one codegen'd cdc_chunks call per row (the t25
    // census lesson) — the prior formulation shuffled+sorted the full
    // token stream twice (per-doc boundary window, then the collect_list
    // re-sort) and its wall-clock swung 2x run-to-run at the 160x probe
    docs.select($"doc_id", explode(expr("cdc_chunks(text)")).as("c"))
      .select($"doc_id", $"c.cid".as("cid"), $"c.chunk_hash".as("chunk_hash"),
        $"c.n_toks".as("n_toks"))
  }

  def d23CdcChunks(t: T): DataFrame = {
    import t.spark.implicits._
    val chunks = cdcChunkHashes(t.documents.select($"doc_id", $"text"))
    val census = chunks.groupBy($"chunk_hash").agg(count(lit(1)).as("n_copies"))
    // the census has one row per DISTINCT chunk — constant in the replica
    // multiplier — so above the gate it broadcasts and the m-growing chunk
    // stream never shuffles; per-doc aggregation is then map-side partial
    val hint = BroadcastGate.censusHint(census)
    chunks.join(hint(census), "chunk_hash")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"n_copies" > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
      .withColumn("shared_bp", expr("n_shared_chunks * 10000 DIV n_chunks"))
      .orderBy($"doc_id")
  }

  /** List-land replica: same token hashes, boundary-prefix chunk ids, and
    * ordered (a*131+x) mod 2^31-1 folds, via list_reduce with a prepended
    * init (DuckDB's reduce seeds from the first element). */
  /** Shared DuckDB CTEs for the CDC chunk pipeline (token hashes + chunk
    * ids, boundary rule h % 8 = 0) — ONE definition for d23 and d24, like
    * tokHashDuck/hashFoldDuck above. */
  private val cdcCidsCte: String =
    s"""base AS (
         SELECT doc_id,
                list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                  tok -> ${tokHashDuck("tok")}) AS hs
         FROM documents),
       cids AS (
         SELECT doc_id, hs,
                list_transform(range(0, len(hs)), i ->
                  len(list_filter(range(0, len(hs)),
                    b -> b < i AND hs[b + 1] % 8 = 0))) AS cid
         FROM base WHERE len(hs) > 0)"""

  val d23Oracle: String =
    s"""WITH $cdcCidsCte,
       chunks AS (
         SELECT doc_id,
                unnest(list_transform(list_sort(list_distinct(cid)), c ->
                  ${hashFoldDuck(
                    "list_transform(list_filter(range(0, len(hs)), i -> cid[i + 1] = c), i -> hs[i + 1])")})) AS chunk_hash
         FROM cids),
       census AS (SELECT chunk_hash, COUNT(*) AS n_copies FROM chunks GROUP BY 1)
       SELECT doc_id, COUNT(*)::BIGINT AS n_chunks,
              SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared_chunks,
              SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)::BIGINT * 10000
                // COUNT(*)::BIGINT AS shared_bp
       FROM chunks JOIN census USING (chunk_hash)
       GROUP BY doc_id ORDER BY doc_id"""

  /** d12's keeper election over a verified near-dup pair frame: longest doc
    * (n_chars desc, doc_id tiebreak) per connected component survives, every
    * unclustered doc keeps itself. Returns a one-column (doc_id) frame — ONE
    * definition for d25 (collapse-then-repair measurement) and d26 (the
    * composed collapse→pair production pipeline). */
  private[operators] def keeperIds(t: T, pairs: DataFrame): DataFrame =
    keeperIdsOf(t.documents, pairs)

  /** [[keeperIds]] over an arbitrary doc frame (doc_id, n_chars, …) — the
    * composable form p29's funnel needs, where the collapse runs on the
    * quality/exact SURVIVORS rather than the whole corpus. */
  private[graft] def keeperIdsOf(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val clusters = connectedComponents(pairs)
    // argmax as a codegen'd partial aggregate, not a per-cluster window:
    // max_by on struct(n_chars, -doc_id) IS (n_chars DESC, doc_id ASC)
    // rank 1, and the map side reduces each cluster to one row before the
    // exchange (the window shape shuffles+sorts every membership row)
    val clusterKeepers = clusters
      .join(documents.select($"doc_id", $"n_chars"), "doc_id")
      .groupBy($"cluster_id")
      .agg(max_by($"doc_id", struct($"n_chars", (-$"doc_id").as("nid"))).as("doc_id"))
      .select($"doc_id")
    documents.select($"doc_id")
      .join(clusters.select($"doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(clusterKeepers)
  }

  /** The keeper CTE chain (DuckDB): d07's CC nested, longest-doc keeper per
    * cluster, unclustered docs keep themselves → `keepers(doc_id)`. */
  private[operators] def keepersDuckCtes: String =
    s"""cc AS ($d07Oracle),
       ck AS (
         SELECT doc_id FROM (
           SELECT cc.doc_id,
                  ROW_NUMBER() OVER (PARTITION BY cluster_id
                    ORDER BY d.n_chars DESC, cc.doc_id) AS rk
           FROM cc JOIN documents d USING (doc_id)) WHERE rk = 1),
       keepers AS (
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM cc)
         UNION ALL SELECT doc_id FROM ck)"""

  /** Collapse-then-repair — the m² mitigation the 30× smoke probe points
    * at (SCALESMOKE_30x.json), made executable and measurable: elect d12's
    * keepers (longest doc per d04/d07 cluster, every unclustered doc keeps
    * itself), RE-RUN the identical LSH index on the collapsed corpus, and
    * report how much pair-enumeration work the collapse removed. On a
    * replica-heavy corpus the true-pair count grows quadratically in
    * replica multiplicity, so collapsing replica mass BEFORE the next
    * pairing stage is what keeps downstream pair operators linear — this
    * query is that claim with numbers attached (and pairs_after ≈ 0 is
    * the fixed-point check that one collapse round suffices here). */
  def d25CollapseRepair(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val pairsBefore = d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
      .localCheckpoint() // feeds clustering AND the before-count
    val keepers = keeperIds(t, pairsBefore)
    val pairsAfter = lshPairs(t.documents.join(keepers, "doc_id"))
    val nb = t.documents.agg(count(lit(1)).as("n_docs_before"))
    val na = keepers.agg(count(lit(1)).as("n_docs_after"))
    val pb = pairsBefore.agg(count(lit(1)).as("n_pairs_before"))
    val pa = pairsAfter.agg(count(lit(1)).as("n_pairs_after"))
    nb.crossJoin(na).crossJoin(pb).crossJoin(pa)
      .withColumn("pair_reduction_bp", expr(
        """CASE WHEN n_pairs_before > 0
             THEN (n_pairs_before - n_pairs_after) * 10000 DIV n_pairs_before
             ELSE 0 END"""))
  }

  /** d04 chain for the before-state, d07's CC nested for keepers, then the
    * identical index chain re-run on the keeper subset. */
  val d25Oracle: String =
    s"""WITH hs AS (SELECT doc_id, $shingleHashesDuck AS h FROM documents),
       sigs AS (SELECT doc_id, h, $minhashSigDuck AS sig FROM hs),
       bands AS (
         SELECT doc_id, b, array_to_string(sig[b * 8 + 1 : b * 8 + 8], ',') AS bkey
         FROM sigs, range(0, 4) t(b)),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       pairs AS (
         SELECT doc_a, doc_b
         FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b
         WHERE len(list_intersect(a.h, b.h)) * 10000
               // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) >= 8000),
       cc AS ($d07Oracle),
       ck AS (
         SELECT doc_id FROM (
           SELECT cc.doc_id,
                  ROW_NUMBER() OVER (PARTITION BY cluster_id
                    ORDER BY d.n_chars DESC, cc.doc_id) AS rk
           FROM cc JOIN documents d USING (doc_id)) WHERE rk = 1),
       keepers AS (
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM cc)
         UNION ALL SELECT doc_id FROM ck),
       hs2 AS (SELECT doc_id, $shingleHashesDuck AS h
               FROM documents JOIN keepers USING (doc_id)),
       sigs2 AS (SELECT doc_id, h, $minhashSigDuck AS sig FROM hs2),
       bands2 AS (
         SELECT doc_id, b, array_to_string(sig[b * 8 + 1 : b * 8 + 8], ',') AS bkey
         FROM sigs2, range(0, 4) t(b)),
       cand2 AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands2 x JOIN bands2 y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       pairs2 AS (
         SELECT doc_a, doc_b
         FROM cand2 JOIN hs2 a ON a.doc_id = doc_a JOIN hs2 b ON b.doc_id = doc_b
         WHERE len(list_intersect(a.h, b.h)) * 10000
               // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) >= 8000)
       SELECT (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs_before,
              (SELECT COUNT(*) FROM keepers)::BIGINT AS n_docs_after,
              (SELECT COUNT(*) FROM pairs)::BIGINT AS n_pairs_before,
              (SELECT COUNT(*) FROM pairs2)::BIGINT AS n_pairs_after,
              CASE WHEN (SELECT COUNT(*) FROM pairs) > 0
                THEN ((SELECT COUNT(*) FROM pairs) - (SELECT COUNT(*) FROM pairs2))
                     * 10000 // (SELECT COUNT(*) FROM pairs)
                ELSE 0 END::BIGINT AS pair_reduction_bp"""

  /** Collapse→pair — the composed PRODUCTION pipeline the 30× smoke probe
    * argues for (SCALESMOKE_30x.json: d08's true-pair output grows m² on a
    * replica-heavy corpus, so raw exact pairing is output-bound there; one
    * keeper collapse removes the replica mass and the pair count stays
    * linear). Stage 1 collapses the LSH near-dup clusters to their longest
    * member (d12's keeper rule); stage 2 runs d08's exact PPJoin on the
    * keeper corpus at a LOWER threshold (0.42, inside the corpus's
    * template-similarity band) — the residual cross-cluster structure
    * report: moderately-similar keeper pairs the collapse deliberately left
    * distinct, exactly what a curation pass reviews next (soft-dedup
    * reweighting, p26) after hard dedup. Recall on keepers is exactly 1.0
    * (prefix-filter pigeonhole — the oracle's naive all-pairs proves it),
    * so nothing the collapse kept is missed.
    *
    * r8 keeper rework (VERDICT r7 wrong-2): through r7 the keepers came
    * from the VERIFIED d04 pair graph, so the collapse stage inherited the
    * m²-growing true-pair enumeration it exists to avoid and ceilinged at
    * the 100× probe. Clusters now come from [[bucketStarEdges]] — CANDIDATE
    * connectivity via one (owner → member) star edge per band-bucket row,
    * linear in the corpus. Any two docs sharing a band bucket are connected
    * through that bucket's owner, so the star graph's components equal the
    * full band-collision candidate graph's components exactly — same
    * transitive clusters, never materializing the quadratic pair list.
    * Dropping the Jaccard-verify on cluster EDGES makes the collapse
    * strictly more aggressive (a false-positive band collision can merge
    * two clusters), the standard hard-dedup trade: stage 2's exact scores
    * on keepers are where precision is re-established.
    *
    * Scale shape: signatures and banding shuffle once, the ownership census
    * is one keyed aggregate, CC runs on a LINEAR star edge set, the keeper
    * election is a codegen'd max_by partial aggregate, and the PPJoin runs
    * on the COLLAPSED corpus — no stage anywhere enumerates raw pairs. */
  def d26CollapsePairs(t: T, thresholdBp: Int = 4200): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val edges = bucketStarEdges(t.documents)
    prefixJaccardPairs(
      t.documents.join(keeperIdsOf(t.documents, edges), "doc_id"), thresholdBp)
  }

  /** Star-edge keeper chain (candidate-connectivity CC + longest-doc
    * election), then the implementation-independent DEFINITION of stage 2 —
    * naive all-pairs exact Jaccard ≥ threshold over the keeper corpus — so
    * the hash match also proves the generalized prefix filter's recall is
    * 1.0 at the non-default threshold. `thresholdBp` is threaded into both
    * the Spark plan and this SQL (ADVICE r7: a hardcoded oracle constant
    * silently diverges under a non-default call). */
  def d26Oracle(thresholdBp: Int = 4200): String =
    s"""WITH ${lshBandsDuckCtes(cand = """owners AS (
         SELECT b, bkey, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2)""")},
       staredges AS (
         SELECT DISTINCT owner AS doc_a, bands.doc_id AS doc_b
         FROM bands JOIN owners ON owners.b = bands.b AND owners.bkey = bands.bkey
         WHERE bands.doc_id <> owner),
       ${ccDuckCtes("staredges")},
       ck AS (
         SELECT doc_id FROM (
           SELECT reach.doc AS doc_id,
                  ROW_NUMBER() OVER (PARTITION BY cluster_id
                    ORDER BY d.n_chars DESC, reach.doc) AS rk
           FROM reach JOIN documents d ON d.doc_id = reach.doc) WHERE rk = 1),
       keepers AS (
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc FROM reach)
         UNION ALL SELECT doc_id FROM ck),
       hs2 AS (SELECT doc_id, $shingleHashesDuck AS h
               FROM documents JOIN keepers USING (doc_id))
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ${jaccardBpDuck()} AS jaccard_bp
       FROM hs2 a JOIN hs2 b ON a.doc_id < b.doc_id
       WHERE ${jaccardBpDuck()} >= $thresholdBp
       ORDER BY doc_a, doc_b"""

  /** Semantic collapse→cluster — d13's composed production shape (the other
    * 30× ceiling breach, same m² output-bound cause as d08). Stage 1
    * collapses vectors by their FULL 32-bit hyperplane signature (identical
    * sig ⇒ near-identical direction; each group elects rep = min vec_id —
    * one shuffle on the sig key, the semantic analog of d01's exact-key
    * collapse). Stage 2 runs d13's bucketed pairing + exact-cosine verify on
    * REPRESENTATIVES only, then CC. Stage 3 expands membership back: every
    * vector inherits its rep's cluster; a multi-member sig group whose rep
    * stayed unclustered is its own cluster (labeled by the rep, which is the
    * group minimum — the same min-label convention as d07/d13). On a
    * replica-heavy corpus the rep set is ~the distinct-direction count, so
    * the quadratic-in-bucket-size candidate stage — what ceilings raw d13 at
    * 30× — runs on m-fold fewer rows while every vector still lands in a
    * cluster. The whole pipeline is deterministic, so the DuckDB twin
    * replicates it stage for stage and the gate is an exact hash. */
  def d27SemanticCollapse(t: T, thresholdMilli: Int = 400): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val sigs = Similarity.hyperplaneSigs(t)
      .withColumn("nrm", expr("dot_d(embedding, embedding)"))
    val groups = sigs.groupBy($"sig")
      .agg(min($"vec_id").as("rep"), count(lit(1)).as("n"))
    val reps = sigs.join(groups.select($"sig", $"rep"), "sig")
      .filter($"vec_id" === $"rep")
      .select($"vec_id", $"embedding", $"nrm", $"sig")
    // d13Bucketed's candidate stage, on reps only: ids-only band join,
    // broadcast vector rejoin for the exact-cosine verify
    val bands = reps.select($"vec_id", expr(
      "explode(transform(sequence(0, 3), t -> struct(t AS tbl, shiftright(sig, t * 8) & 255 AS bucket)))").as("bk"))
      .select($"vec_id", $"bk.tbl".as("tbl"), $"bk.bucket".as("bucket"))
    val cand = bands.as("x").join(bands.as("y"),
        $"x.tbl" === $"y.tbl" && $"x.bucket" === $"y.bucket" && $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("doc_a"), $"y.vec_id".as("doc_b")).distinct()
    val hint = BroadcastGate.vectorHint(t.embeddings)
    val ea = reps.select($"vec_id".as("doc_a"), $"embedding".as("ea"), $"nrm".as("na"))
    val eb = reps.select($"vec_id".as("doc_b"), $"embedding".as("eb"), $"nrm".as("nb"))
    val repPairs = cand.join(hint(ea), "doc_a").join(hint(eb), "doc_b")
      .filter(expr(s"dot_d(ea, eb) / sqrt(na * nb) >= $thresholdMilli / 1000.0"))
      .select($"doc_a", $"doc_b")
    val cc = connectedComponents(repPairs).withColumnRenamed("doc_id", "rep")
    sigs.select($"vec_id", $"sig").join(groups, "sig")
      .join(cc, Seq("rep"), "left")
      .select($"vec_id",
        coalesce($"cluster_id", when($"n" >= 2, $"rep")).as("cluster_id"))
      .filter($"cluster_id".isNotNull)
      .orderBy($"vec_id")
  }

  /** Stage-for-stage DuckDB twin of [[d27SemanticCollapse]]: the same
    * hyperplane signature SQL as [[d13BucketedOracle]], sig-group collapse,
    * rep-only banding + exact cosine, recursive CC, membership expansion. */
  val d27Oracle: String =
    """WITH sigs AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       groups AS (SELECT sig, MIN(vec_id) AS rep, COUNT(*) AS n FROM sigs GROUP BY sig),
       reps AS (
         SELECT s.vec_id, s.embedding, s.sig
         FROM sigs s JOIN groups g ON s.sig = g.sig AND s.vec_id = g.rep),
       bands AS (
         SELECT vec_id, embedding, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM reps, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b,
                a.embedding AS ea, b.embedding AS eb
         FROM bands a JOIN bands b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       pairs AS (
         SELECT doc_a, doc_b FROM cand
         WHERE list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
               / sqrt(list_sum(list_transform(range(1, 65), i -> ea[i]::DOUBLE * ea[i]::DOUBLE))
                    * list_sum(list_transform(range(1, 65), i -> eb[i]::DOUBLE * eb[i]::DOUBLE)))
               >= 400 / 1000.0),
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach AS (
         WITH RECURSIVE r(doc, label) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e2.d, r.label FROM r JOIN edges e2 ON e2.s = r.doc
         ) SELECT doc, MIN(label) AS cluster_id FROM r GROUP BY doc)
       SELECT vec_id, cluster_id FROM (
         SELECT s.vec_id,
                COALESCE(reach.cluster_id,
                         CASE WHEN g.n >= 2 THEN g.rep END) AS cluster_id
         FROM sigs s JOIN groups g ON s.sig = g.sig
         LEFT JOIN reach ON reach.doc = g.rep)
       WHERE cluster_id IS NOT NULL ORDER BY vec_id"""

  /** d09's production census, DECLARED and oracle-gated: gram keys are
    * strided int64 polynomial hashes (the codegen'd `gram_hashes_mod`
    * expression) instead of 40-char substrings — ~5× narrower shuffle rows
    * and stride-4 cuts the exploded row count 4× again (SCALESMOKE_30x: the
    * exact string census is linear but 65 s of its cost is shuffling wide
    * gram strings). Hashing is mod 1e9+7 at every step so DuckDB BIGINT
    * arithmetic computes the IDENTICAL key (a raw base-31 polynomial over 40
    * chars wraps int64, which DuckDB raises on rather than wraps) — hash
    * collisions, if any, affect both engines identically, so the gate stays
    * an exact hash at any corpus size. Stride trades recall of duplicate
    * runs shorter than k + stride for 4× less shuffle volume; dup_bp remains
    * a per-doc coverage estimate over the SAMPLED gram positions. */
  def d28StridedGramCensus(t: T, k: Int = 40, stride: Int = 4): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val grams = t.documents
      .select($"doc_id", explode(expr(s"gram_hashes_mod(text, $k, $stride)")).as("gh"))
    // sort-free census, the same shape d09 moved to in r10: a gram's
    // occurrences are non-dup iff its min and max doc agree, so per-doc dup
    // counts are n_grams MINUS the single-doc grams' occurrences — one hash
    // AGGREGATE per gram key with map-side combine. The previous
    // Window.partitionBy(gh) formulation exchanged AND SORTED every gram
    // occurrence row (WindowExec sorts each partition even for min/max
    // frames) — the exact n·log n class the r10 d09 rewrite retired.
    val single = grams.groupBy($"gh")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"), count(lit(1)).as("occ"))
      .filter($"mn" === $"mx")
      .groupBy($"mn".as("doc_id"))
      .agg(sum($"occ").as("n_single"))
    grams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      .join(single, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        ($"n_grams" - coalesce($"n_single", lit(0L))).as("n_dup_grams"))
      .withColumn("dup_bp", expr("n_dup_grams * 10000 DIV n_grams"))
      .orderBy($"doc_id")
  }

  /** Same modular polynomial per 40-gram at 0-based positions ≡ 0 (mod 4):
    * list_reduce seeds with the first char code (== Spark's h = 0 then
    * h*31+c), every step reduces mod 1e9+7 on both engines. Docs shorter
    * than 40 chars emit no grams on either side. */
  val d28Oracle: String =
    """WITH grams AS (
         SELECT doc_id,
           unnest(list_transform(range(0, (length(text) - 40) // 4 + 1), j ->
             list_reduce(
               list_transform(range(1, 41), i ->
                 ascii(substr(text, (j * 4 + i)::INT, 1))::BIGINT),
               (h, c) -> (h * 31 + c) % 1000000007))) AS gh
         FROM documents),
       by_gram AS (SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gh),
       per_doc AS (
         SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams
         FROM grams JOIN by_gram USING (gh) GROUP BY doc_id)
       SELECT doc_id, n_grams, n_dup_grams,
              (n_dup_grams * 10000 // n_grams)::BIGINT AS dup_bp
       FROM per_doc ORDER BY doc_id"""

  /** Front-door collapse → residual pairing — the fully-LINEAR collapse
    * recipe the 100× probe licenses. d26 (keeper-collapse → re-pair) still
    * consumes the raw d04 pair graph to elect keepers, so its collapse
    * stage inherits the m²-growing true-pair enumeration and ceilinged at
    * the 100× probe. This variant collapses with w14's bucket-ownership
    * rule instead — owner = min doc_id per (band, bkey); a doc is kept iff
    * it owns ALL four of its buckets (equivalently min bucket-owner ==
    * itself) — which is one linear band census + one keyed join, NO pair
    * join anywhere in the collapse. The kept set then pairs at the normal
    * d04 contract, and because every band key is unchanged by dropping
    * docs, the kept-only candidates are exactly the full index's
    * candidates restricted to kept×kept — the identical banding contract,
    * not a new index. One-round ownership is not transitive CC, so chains
    * of near-dups can leave residual pairs among keepers — and two full
    * owners are band-DISJOINT by construction (sharing a bucket would
    * forfeit the later doc's ownership), so the residual stage needs a
    * different index: d26's generalized prefix filter at its 0.42
    * threshold (ONE definition, [[prefixJaccardPairs]]). The oracle
    * replicates the collapse, then states stage 2
    * implementation-independently (naive all-pairs ≥ 0.42 over the kept
    * corpus), so the hash match also proves the prefix filter's recall is
    * 1.0 on this input — the same proof obligation d26 carries. */
  /** ONE definition of the bucket-ownership census — (doc_id, band, bkey,
    * owner) with owner = min doc_id in the bucket (first arrival under
    * in-order delivery). The w14 streaming verdict, the d29 collapse and
    * the band-disjointness spec all derive from this frame, so an
    * ownership-rule retune edits exactly here (the ADVICE-r6 rule the
    * banding helpers already follow). */
  /** Snapshot-memoized, localCheckpoint'd band table per corpus (VERDICT
    * r11 next-5 + ADVICE r11): the shingle+minhash+band pass is the shared
    * prefix of every ownership-family door (d29/d31/d32/d33/d35, w14's
    * batch twin, p29's funnel stage, d26, g14/g15) and of d21's
    * incremental index, so a window running several of them — or a
    * long-lived gateway JVM re-running one per statement — pays the sig
    * pass ONCE per corpus snapshot instead of once per call. Keyed like
    * every other snapshot memo (plan hash + leaf-file listing); bounded
    * LRU, so evicted frames free their checkpoint blocks on GC. Non-file
    * frames (test-local data) get an uncached per-call checkpoint, as
    * before. */
  private val bandFrames = graft.Memo.lru[String, DataFrame](8)

  private[graft] def checkpointedBands(docs: DataFrame): DataFrame = {
    def build() = bandRows(minhashSigTable(docs)).localCheckpoint()
    graft.Memo.snapshotKey(docs, "band-rows") match {
      case Some(k) => bandFrames.computeIfAbsent(k, _ => build())
      case None    => build()
    }
  }

  /** Bench hook: forget memoized band frames. ScaleSmoke clears between
    * rows so each row prices its door cold, Bench under
    * SPARK_GRAFT_BENCH_COLD_BANDS, and the ShareBench ownership row clears
    * per-job in its "separate" cell. */
  private[graft] def clearBandMemo(): Unit = bandFrames.clear()

  private[graft] def ownershipCensus(docs: DataFrame): DataFrame = {
    // the bucket aggregate joins back to its own input, and without a
    // materialization BOTH branches recompute the full shingle+minhash
    // pass (GrowthProbe r11: the census stage carried ~55 % of the d29
    // kernel's wall, a third of it the duplicated sig computation) — the
    // same self-join device prefixJaccardPairs already uses
    val bands = checkpointedBands(docs)
    val owners = bands.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as("owner"))
    bands.join(owners, Seq("band", "bkey"))
  }

  /** Docs owning ALL their band buckets (min owner == self) — the d29/w14
    * kept set: zero band collisions with any earlier doc. */
  private[graft] def ownershipKeepers(docs: DataFrame): DataFrame =
    ownershipCensus(docs)
      .groupBy(col("doc_id")).agg(min(col("owner")).as("keeper"))
      .filter(col("doc_id") === col("keeper")).select(col("doc_id"))

  /** Candidate-connectivity star graph, LINEAR in the corpus: one
    * (owner → member) edge per band-bucket row (≤ 4 per doc). Two docs
    * share a band bucket iff both connect to that bucket's owner, so this
    * graph's connected components EQUAL the full band-collision candidate
    * graph's components — the same transitive clusters d04's quadratic
    * candidate enumeration would induce, at O(n) edges. Feeds d26's keeper
    * election. */
  private[graft] def bucketStarEdges(docs: DataFrame): DataFrame =
    ownershipCensus(docs)
      .filter(col("doc_id") =!= col("owner"))
      .select(col("owner").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()

  def d29FrontCollapsePairs(t: T, thresholdBp: Int = 4200): DataFrame =
    d29FrontCollapsePairsDocs(t.documents, thresholdBp)

  /** [[d29FrontCollapsePairs]] over a bare documents frame — the audit
    * rewrite ([[graft.plans.PairJoinAudit]]) builds the door branch on the
    * USER's own relation leaf, which arrives as a DataFrame, not a [[T]]. */
  def d29FrontCollapsePairsDocs(docs: DataFrame, thresholdBp: Int = 4200): DataFrame = {
    graft.functions.Registry.ensure(docs.sparkSession)
    prefixJaccardPairs(docs.join(ownershipKeepers(docs), "doc_id"), thresholdBp)
  }

  /** `thresholdBp` threaded into the SQL like d26's (ADVICE r7). */
  def d29Oracle(thresholdBp: Int = 4200): String =
    s"""WITH ${lshBandsDuckCtes(cand = """owners AS (
         SELECT b, bkey, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2)""")},
       kept AS (
         SELECT doc_id FROM (
           SELECT bands.doc_id, MIN(owner) AS keeper
           FROM bands JOIN owners ON owners.b = bands.b AND owners.bkey = bands.bkey
           GROUP BY 1)
         WHERE keeper = doc_id),
       hs2 AS (SELECT doc_id, $shingleHashesDuck AS h
               FROM documents JOIN kept USING (doc_id))
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ${jaccardBpDuck()} AS jaccard_bp
       FROM hs2 a JOIN hs2 b ON a.doc_id < b.doc_id
       WHERE ${jaccardBpDuck()} >= $thresholdBp
       ORDER BY doc_a, doc_b"""

  /** Chunk-level dedup REWRITE — d23's census turned into the actual
    * cleanup transform: every duplicated chunk elects one keeper occurrence
    * (smallest doc_id, then earliest chunk position — deterministic), all
    * other occurrences are dropped, and the report says what survives of
    * each document in tokens (the quantity a training-data budget is priced
    * in). This is the CDC promise end-to-end: shared boilerplate/quoted
    * passages deduplicate at CHUNK granularity while the hosts' unique
    * chunks keep their full token mass — whole-doc dedup (d01) would keep
    * or drop all-or-nothing.
    *
    * Scale shape: the chunk pipeline's per-doc windows + ONE keeper window
    * partitioned by chunk_hash + one per-doc rollup — all keyed shuffles on
    * ids/hashes, never pairs. */
  def d24ChunkDedupRewrite(t: T): DataFrame = {
    import t.spark.implicits._
    val chunks = cdcChunkHashes(t.documents.select($"doc_id", $"text"))
    // keeper = lexicographic MIN (doc_id, cid) per chunk hash — the same
    // election row_number() picked, as a partial-aggregated census that
    // broadcasts above the gate instead of window-sorting the chunk stream
    val keepers = chunks.groupBy($"chunk_hash")
      .agg(min(struct($"doc_id", $"cid")).as("k"))
    val hint = BroadcastGate.censusHint(keepers)
    chunks
      .join(hint(keepers), "chunk_hash")
      .withColumn("keep", $"doc_id" === $"k.doc_id" && $"cid" === $"k.cid")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum($"n_toks").as("toks_total"),
        sum(when($"keep", $"n_toks").otherwise(0L)).as("toks_kept"))
      .withColumn("kept_bp", expr("toks_kept * 10000 DIV toks_total"))
      .orderBy($"doc_id")
  }

  /** d23's chunk CTEs extended with per-chunk token counts (parallel
    * unnest zips the three per-chunk lists), then the same keeper window. */
  val d24Oracle: String =
    s"""WITH $cdcCidsCte,
       chunks AS (
         SELECT doc_id,
                unnest(list_sort(list_distinct(cid))) AS cid2,
                unnest(list_transform(list_sort(list_distinct(cid)), c ->
                  ${hashFoldDuck(
                    "list_transform(list_filter(range(0, len(hs)), i -> cid[i + 1] = c), i -> hs[i + 1])")})) AS chunk_hash,
                unnest(list_transform(list_sort(list_distinct(cid)), c ->
                  len(list_filter(range(0, len(hs)), i -> cid[i + 1] = c))::BIGINT)) AS n_toks
         FROM cids),
       kept AS (
         SELECT doc_id, chunk_hash, n_toks,
                ROW_NUMBER() OVER (PARTITION BY chunk_hash
                  ORDER BY doc_id, cid2) = 1 AS keep
         FROM chunks)
       SELECT doc_id, COUNT(*)::BIGINT AS n_chunks,
              SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
              SUM(n_toks)::BIGINT AS toks_total,
              SUM(CASE WHEN keep THEN n_toks ELSE 0 END)::BIGINT AS toks_kept,
              SUM(CASE WHEN keep THEN n_toks ELSE 0 END)::BIGINT * 10000
                // SUM(n_toks)::BIGINT AS kept_bp
       FROM kept GROUP BY doc_id ORDER BY doc_id"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup"        -> ((s, d) => d01ExactDedup(T(s, d))),
    "d02_ngram_jaccard"      -> ((s, d) => d02NgramJaccardPairs(T(s, d))),
    "d03_minhash_signature"  -> ((s, d) => d03MinhashSignature(T(s, d))),
    "d04_minhash_lsh_pairs"  -> ((s, d) => d04MinhashLshPairs(T(s, d))),
    "d05_simhash"            -> ((s, d) => d05Simhash(T(s, d))),
    "d06_simhash_pairs"      -> ((s, d) => d06SimhashPairs(T(s, d))),
    "d07_dedup_clusters"     -> ((s, d) => d07DedupClusters(T(s, d))),
    "d08_prefix_jaccard"     -> ((s, d) => d08PrefixJaccardJoin(T(s, d))),
    "d09_substring_dup"      -> ((s, d) => d09SubstringDupCoverage(T(s, d))),
    "d10_editdist_pairs"     -> ((s, d) => d10EditDistPairs(T(s, d))),
    "d14_lsh_tuning"         -> ((s, d) => d14LshTuning(T(s, d))),
    "d11_containment_pairs"  -> ((s, d) => d11ContainmentPairs(T(s, d))),
    "d12_cluster_keeper"     -> ((s, d) => d12ClusterKeeper(T(s, d))),
    "d13_semantic_clusters"  -> ((s, d) => d13SemanticClustersBucketed(T(s, d))),
    "d15_dup_provenance"     -> ((s, d) => d15DupProvenance(T(s, d))),
    "d16_cluster_audit"      -> ((s, d) => d16ClusterAudit(T(s, d))),
    "d17_survivorship"       -> ((s, d) => d17Survivorship(T(s, d))),
    "d18_topk_sim_join"      -> ((s, d) => d18TopkSimJoin(T(s, d))),
    "d19_method_agreement"   -> ((s, d) => d19MethodAgreement(T(s, d))),
    "d20_threshold_sweep"    -> ((s, d) => d20ThresholdSweep(T(s, d))),
    "d21_incremental_dedup"  -> ((s, d) => d21IncrementalDedup(T(s, d))),
    "d22_bbit_minhash"       -> ((s, d) => d22BbitMinhash(T(s, d))),
    "d23_cdc_chunks"         -> ((s, d) => d23CdcChunks(T(s, d))),
    "d24_chunk_dedup"        -> ((s, d) => d24ChunkDedupRewrite(T(s, d))),
    "d25_collapse_repair"    -> ((s, d) => d25CollapseRepair(T(s, d))),
    "d26_collapse_pairs"     -> ((s, d) => d26CollapsePairs(T(s, d))),
    "d27_semantic_collapse"  -> ((s, d) => d27SemanticCollapse(T(s, d))),
    "d28_strided_census"     -> ((s, d) => d28StridedGramCensus(T(s, d))),
    "d29_front_collapse"     -> ((s, d) => d29FrontCollapsePairs(T(s, d))),
  )

  val oracles: Map[String, String] = Map(
    "d01_exact_dedup"       -> d01Oracle,
    "d02_ngram_jaccard"     -> d02Oracle,
    "d03_minhash_signature" -> d03Oracle,
    "d04_minhash_lsh_pairs" -> d04Oracle,
    "d05_simhash"           -> d05Oracle,
    "d06_simhash_pairs"     -> d06Oracle,
    "d07_dedup_clusters"    -> d07Oracle,
    "d08_prefix_jaccard"    -> d08Oracle,
    "d09_substring_dup"     -> d09Oracle,
    "d10_editdist_pairs"    -> d10Oracle,
    "d14_lsh_tuning"        -> d14Oracle,
    "d11_containment_pairs" -> d11Oracle,
    "d12_cluster_keeper"    -> d12Oracle,
    "d13_semantic_clusters" -> d13BucketedOracle,
    "d15_dup_provenance"    -> d15Oracle,
    "d16_cluster_audit"     -> d16Oracle,
    "d17_survivorship"      -> d17Oracle,
    "d18_topk_sim_join"     -> d18Oracle,
    "d19_method_agreement"  -> d19Oracle,
    "d20_threshold_sweep"   -> d20Oracle,
    "d21_incremental_dedup" -> d21Oracle,
    "d22_bbit_minhash"      -> d22Oracle,
    "d23_cdc_chunks"        -> d23Oracle,
    "d24_chunk_dedup"       -> d24Oracle,
    "d25_collapse_repair"   -> d25Oracle,
    "d26_collapse_pairs"    -> d26Oracle(),
    "d27_semantic_collapse" -> d27Oracle,
    "d28_strided_census"    -> d28Oracle,
    "d29_front_collapse"    -> d29Oracle(),
  )
}
