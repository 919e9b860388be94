package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (array<float> x 64) — the
  * ANN plane of an LLM-data pipeline.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the candidate corpus — a BroadcastNestedLoopJoin whose cost is
  * |corpus| x |queries| map-side work with NO shuffle of the corpus; the LSH
  * path reduces that to a shuffle on (table, bucket) keys, which is how the
  * same plan runs on 10^11 vectors. Cosine is the native codegen'd
  * graft.functions.CosineSim (double accumulation in index order — the oracle
  * replicates the identical IEEE sequence with explicit list arithmetic;
  * DuckDB's builtin list_cosine_similarity accumulates float32 and does NOT
  * match bit-for-bit).
  */
object Similarity {

  /** Per-group top-k as ONE partial-aggregating pass (`topk_scored`), not a
    * window: the window encoding exchanges and sorts EVERY candidate pair
    * (174 of s04's 227 s at the 40× probe was this exchange); the aggregate
    * ships one k-slot buffer per group per map task. Emits
    * (part, rk 1..k, id, score) best-first — exactly the rows
    * `row_number() OVER (PARTITION BY part ORDER BY score [DESC], id) <= k`
    * selects, because (score, id) is a total order. */
  private[graft] def rankTopK(df: DataFrame, part: String, score: String,
      id: String, k: Int, largest: Boolean = true): DataFrame = {
    df.groupBy(col(part))
      .agg(call_function("topk_scored", col(score), col(id), lit(k), lit(largest)).as("top"))
      .select(col(part), posexplode(col("top")))
      .select(col(part), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as(id), col("col.score").as(score))
  }

  /** Pair-stage cosine from a per-pair dot and PREcomputed per-row squared
    * norms: `round(dot/sqrt(na*nb), 4) + 0.0`, with [[graft.functions.TextHashOps.cosineSim]]'s
    * zero-norm guard. Bit-identical to `cosine_sim(a, b)` because `dot_d`
    * and the norms accumulate in the same index order and the final
    * expression is the same `dot / sqrt(na * nb)` — but the per-PAIR work
    * drops from dot+2 norms (192 FMA) to one dot (64 FMA): on an O(n·q)
    * candidate join the norms are O(n+q) instead of O(n·q). */
  private def prenormCos(a: String, b: String, na: String, nb: String) =
    (round(when(col(na) === 0.0 || col(nb) === 0.0, lit(0.0))
      .otherwise(call_function("dot_d", col(a), col(b)) / sqrt(col(na) * col(nb))), 4)
      + lit(0.0))

  /** Per-row squared L2 norm, accumulated like cosineSim's `na`. */
  private def sqNorm(e: String) = call_function("dot_d", col(e), col(e))

  /** DuckDB fragment: cosine over 64-dim float lists in index order. */
  private def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))
        / sqrt(list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $a.embedding[i]::DOUBLE))
             * list_sum(list_transform(range(1, 65), i -> $b.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE)))"""

  /** Brute-force cosine top-5: query set = vec_id % 25 == 0 broadcast against
    * the full corpus; rank on rounded cosine with id tie-break. */
  def s01CosineTopK(t: T): DataFrame = {
    import t.spark.implicits._
    val q = t.embeddings.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqNorm("embedding").as("na"))
    // prenorm + fan-out (see s03): norms per row, one dot per pair, and the
    // broadcast-probe scan parallelized past the single-row-group file
    val c = Par.fanOut(t.embeddings.select($"vec_id".as("neighbor_id"),
      $"embedding".as("c_emb"), sqNorm("embedding").as("nb")))
    val pairs = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        prenormCos("q_emb", "c_emb", "na", "nb").as("cosine"))
    rankTopK(pairs, "query_id", "cosine", "neighbor_id", 5)
      .select($"query_id", $"rk", $"neighbor_id", $"cosine")
      .orderBy($"query_id", $"rk")
  }

  val s01Oracle: String =
    s"""WITH sims AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       ranked AS (
         SELECT query_id, neighbor_id, cosine,
                ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         FROM sims)
       SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cosine
       FROM ranked WHERE rk <= 5 ORDER BY query_id, rk"""

  /** ONE definition of the hyperplane-signature table (vec_id, embedding,
    * sig) — the map-side plane the whole similarity family derives from.
    * Centralized so (a) a signature retune edits one place, and (b) every
    * family member's analyzed plan contains this CANONICALLY-EQUAL subtree,
    * which is what lets `runBatch(sharedFragments)` materialize it once per
    * window and substitute the InMemoryRelation into every sibling (the
    * reference's scan-share scenario at subplan granularity). */
  private[graft] def hyperplaneSigs(t: T): DataFrame =
    hyperplaneSigsOf(t.embeddings)

  /** The signature table over an arbitrary vector frame — s24's routed
    * collapsed branch runs the s02 kernel over signature REPRESENTATIVES
    * (one vector per 32-bit sig), so the plane is parameterized here while
    * [[hyperplaneSigs]] keeps the canonical full-corpus subtree the
    * sharing plane fingerprints. */
  private[graft] def hyperplaneSigsOf(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"), col("embedding"),
      expr("hyperplane_sig(embedding, 32)").as("sig"))
  }

  /** One vector per identical 32-bit signature (min vec_id) — the d27
    * stage-1 collapse key reused as a corpus reducer: on a replica-heavy
    * corpus this folds the replica mass BEFORE any bucket pairing, which
    * is what keeps s24's candidate stage linear where raw s02's output is
    * m²-bound (SCALESMOKE_100x's s02 verdict). */
  private[graft] def sigRepresentatives(emb: DataFrame): DataFrame = {
    val reps = hyperplaneSigsOf(emb)
      .groupBy(col("sig")).agg(min(col("vec_id")).as("vec_id"))
    emb.join(reps.select("vec_id"), "vec_id")
  }

  private[graft] val bandExpr =
    "explode(transform(sequence(0, 3), t -> struct(t AS tbl, shiftright(sig, t * 8) & 255 AS bucket)))"

  /** 4×8-bit band rows, ids-only — s02/s14/p27/d13's candidate-generation
    * input (narrow rows, the 20× smoke's shape). Shared-fragment twin of
    * [[embBands]]. */
  private[graft] def idBands(t: T): DataFrame = idBandsOf(t.embeddings)

  private[graft] def idBandsOf(emb: DataFrame): DataFrame =
    hyperplaneSigsOf(emb).select(col("vec_id"), expr(bandExpr).as("bk"))
      .select(col("vec_id"), col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"))

  /** Probe-side candidate ids (query = vec_id % 25 == 0 probing every
    * bucket member) — ONE definition of the stage s02 and s14's LSH arm
    * (and s06, which embeds s02 whole) previously each rebuilt. Narrow
    * (two longs per row): cheap to cache, so a shared window materializes
    * the candidate JOIN once — r7's measured lesson that wide
    * embedding-carrying fragments cost more to cache-scan than to
    * recompute, while narrow ones pay off. */
  private[graft] def probeCandIds(t: T): DataFrame = probeCandIdsOf(t.embeddings)

  private[graft] def probeCandIdsOf(emb: DataFrame): DataFrame = {
    val bands = idBandsOf(emb)
    val qb = bands.filter(col("vec_id") % 25 === 0)
      .select(col("tbl").as("qt"), col("bucket").as("qb"), col("vec_id").as("query_id"))
    bands.join(qb,
        col("tbl") === col("qt") && col("bucket") === col("qb") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id")).distinct()
  }

  /** Symmetric all-pairs-in-bucket candidate ids (src, dst), both
    * orientations — s12's candidate stage and (filtered to src < dst,
    * which is exactly the oriented pair set) s13's. Ids-only by design:
    * the embeddings rejoin AFTER the distinct, behind the BroadcastGate,
    * so the quadratic-in-bucket-size stage never carries a 256-byte
    * payload (the 20× smoke's s02/d13 finding, now applied to the graph
    * queries too). */
  private[graft] def symCandIds(t: T): DataFrame = {
    import t.spark.implicits._
    // First-colliding-table dedup instead of `.distinct()`: a pair sharing
    // k band buckets is emitted ONLY by its first shared table (no earlier
    // band of BOTH sigs equal — an inline predicate on the 8-byte sigs the
    // band rows carry). Same pair SET as distinct-over-all-collisions, but
    // the r8 sf1-lane profile showed the distinct was s12's whole exchange:
    // 45M pre-distinct rows shuffled+sorted to produce 28M pairs (the 10×
    // replica corpus). The predicate filters inside the band join's output
    // iterator — zero exchange, and the verify stage reads 1.6× fewer rows.
    val bands = hyperplaneSigs(t).select($"vec_id", $"sig", expr(bandExpr).as("bk"))
      .select($"vec_id", $"sig", $"bk.tbl".as("tbl"), $"bk.bucket".as("bucket"))
    bands.as("x").join(bands.as("y"),
        $"x.tbl" === $"y.tbl" && $"x.bucket" === $"y.bucket" && $"x.vec_id" =!= $"y.vec_id" &&
          expr("""NOT exists(sequence(0, 3), tt -> tt < x.tbl AND
                 (shiftright(x.sig, cast(tt * 8 AS int)) & 255) =
                 (shiftright(y.sig, cast(tt * 8 AS int)) & 255))"""))
      .select($"x.vec_id".as("src"), $"y.vec_id".as("dst"))
  }

  /** LSH-bucketed ANN: 32-bit random-hyperplane signature split into 4 tables
    * of 8 bits; candidates = same-bucket pairs in any table (shuffle on
    * (table, bucket) — the 100 TB path), then exact cosine on candidates. */
  def s02HyperplaneLsh(t: T): DataFrame = s02On(t, t.embeddings)

  /** s02 over the signature representatives — s24's collapsed gear: the
    * same banding contract and verify kernel, with the corpus folded to
    * one vector per 32-bit sig first (queries restricted the same way:
    * collapse-first means the ANN runs over the deduplicated corpus). */
  private[operators] def s02OverRepresentatives(t: T): DataFrame =
    s02On(t, sigRepresentatives(t.embeddings))

  /** The s02 kernel over an arbitrary vector frame. */
  private def s02On(t: T, emb: DataFrame): DataFrame =
    s02PairsOn(emb).orderBy(col("query_id"), col("neighbor_id"))

  /** [[s02On]] without the presentation sort — the audit rewrite
    * ([[graft.plans.PairJoinAudit.tryRewrite]]) splices this as a SUBTREE
    * of a user plan, where an embedded Sort would be dead weight. */
  private[graft] def s02PairsOn(emb: DataFrame): DataFrame = {
    // ids-only band join + distinct; embeddings rejoin after dedup so the
    // candidate shuffle stays narrow (see d13 — 20x-scale smoke finding)
    val cand = probeCandIdsOf(emb)
    val hint = BroadcastGate.vectorHint(emb)
    val qe = emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val ce = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    cand.join(hint(qe), "query_id").join(hint(ce), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (round(expr("cosine_sim(q_emb, c_emb)"), 4) + lit(0.0)).as("cosine"))
  }

  /** The NAIVE statement of s02's probe semantic — the hyperplane band
    * self-join a user writes by hand: embeddings carried THROUGH the
    * (tbl, bucket) band join (the width hazard), candidates enumerated
    * directly from the bucket collision (m²-bound on a replica corpus —
    * every replica pair shares every bucket). Never registered as a query:
    * it is the embedding-side recognition template for the opt-in audit
    * rewrite (VERDICT r11 next-3). The spliced replacement is
    * [[graft.operators.Routing.s24DoorBranch]]: below the vec-mass gate the
    * same definition computed narrow (ids-only candidates, embeddings
    * rejoined after the distinct) — byte-identical answers; above it the
    * s24 collapse over signature representatives (the door's oracle-pinned
    * trade). */
  private[graft] def naiveAnnPairs(emb: DataFrame): DataFrame = {
    val bands = hyperplaneSigsOf(emb)
      .select(col("vec_id"), col("embedding"), expr(bandExpr).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.tbl").as("tbl"), col("bk.bucket").as("bucket"))
    bands.as("q").join(bands.as("c"),
        col("q.tbl") === col("c.tbl") && col("q.bucket") === col("c.bucket") &&
          col("q.vec_id") % 25 === 0 && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        (round(expr("cosine_sim(q.embedding, c.embedding)"), 4) + lit(0.0)).as("cosine"))
      .distinct()
  }

  /** DuckDB twin of [[probeCandIds]]: sigs → bands → probe candidates —
    * ONE definition, reused by the s02 and s16 oracles (the same
    * one-banding-contract rule the dedup oracles follow). */
  private[operators] def probeCandCtesFrom(mid: String, bandSrc: String): String =
    s"""sigs AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       $mid
       bands AS (
         SELECT vec_id, embedding, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM $bandSrc, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         FROM bands q JOIN bands c
           ON q.tbl = c.tbl AND q.bucket = c.bucket
          AND q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id)"""

  private[operators] val probeCandDuckCtes: String = probeCandCtesFrom("", "sigs")

  /** The kept-restricted chain for s24's collapsed branch: one extra reps
    * CTE (min vec_id per sig), bands built from representatives only —
    * same banding contract, corpus folded first. */
  private[operators] val probeCandRepsDuckCtes: String = probeCandCtesFrom(
    "reps AS (SELECT MIN(vec_id) AS vec_id FROM sigs GROUP BY sig),",
    "(SELECT s.* FROM sigs s JOIN reps USING (vec_id)) s2")

  val s02Oracle: String =
    s"""WITH $probeCandDuckCtes
       SELECT query_id, neighbor_id, ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
       FROM cand JOIN embeddings a ON a.vec_id = query_id
                 JOIN embeddings b ON b.vec_id = neighbor_id
       ORDER BY query_id, neighbor_id"""

  /** DuckDB twin of [[s02OverRepresentatives]] — s24's collapsed branch. */
  private[graft] val s02RepsOracle: String =
    s"""WITH $probeCandRepsDuckCtes
       SELECT query_id, neighbor_id, ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
       FROM cand JOIN embeddings a ON a.vec_id = query_id
                 JOIN embeddings b ON b.vec_id = neighbor_id
       ORDER BY query_id, neighbor_id"""

  /** Embedding near-dup: top-20 closest pairs corpus-wide (the exact
    * all-pairs baseline the LSH path approximates). */
  def s03EmbeddingNeardup(t: T): DataFrame = {
    import t.spark.implicits._
    // prenormalized cosine (the s04/symScored kernel): norms once per ROW
    // before the n²/2 pair stage, one dot per pair — and the streamed side
    // fans out so the all-pairs scan is not one scan task on a
    // single-row-group corpus file
    val a = Par.fanOut(t.embeddings.select($"vec_id".as("vec_a"), $"embedding".as("ea"),
      sqNorm("embedding").as("na")))
    val b = t.embeddings.select($"vec_id".as("vec_b"), $"embedding".as("eb"),
      sqNorm("embedding").as("nb"))
    a.join(b, $"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", prenormCos("ea", "eb", "na", "nb").as("cosine"))
      .orderBy($"cosine".desc, $"vec_a", $"vec_b")
      .limit(20)
  }

  val s03Oracle: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       ORDER BY cosine DESC, vec_a, vec_b LIMIT 20"""

  /** IVF-style ANN with TRAINED centroids: deterministic k-means-lite (k=8,
    * 2 Lloyd iterations, seeds = vectors 0..7) run in integer basis-point
    * space — quantize each dimension to floor(x*10^4), so distances are
    * exact integers and centroid means are exact truncating divisions in
    * BOTH engines (Spark DIV == DuckDB // on negatives too); float-mean
    * k-means would hit partial-agg-order nondeterminism. Assignment inlines
    * the 8x64 centroid matrix as literals: a least() chain over codegen'd
    * l2_sq calls, no join. Search touches only the query's own cluster;
    * shuffle key = cluster id — at 10^11 vectors the layout is "partition by
    * cluster, broadcast the probe set". Top-3 per query by rounded cosine. */
  val IvfK = 8
  val IvfIters = 2

  /** Basis-point quantized copy: bp values are small exact integers in
    * float32, and l2_sq's double accumulation over them is exact. */
  private[graft] def quantizeDf(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      expr("transform(embedding, x -> cast(floor(cast(x AS double) * 10000) AS float))").as("qe"))

  private def quantized(t: T): DataFrame = quantizeDf(t.embeddings)

  /** Adds `cluster` = argmin_k l2_sq(qe, centroid_k), ties broken by k. */
  private def assignCluster(df: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val dks = cents.zipWithIndex.map { case (c, k) =>
      struct(
        call_function("l2_sq", col("qe"), array(c.map(v => lit(v.toFloat)): _*)).as("dist"),
        lit(k).as("k"))
    }
    df.withColumn("cluster", least(dks: _*).getField("k"))
  }

  /** Per-JVM trained-model caches keyed on the corpus's LEAF-FILE snapshot
    * (ADVICE r7: a bare dir key made correctness rest on an unenforced
    * write-once convention — a lane that rebuilds a dir mid-JVM would have
    * silently served a stale model). A rewritten parquet dir gets fresh
    * part-file names, hence a fresh key and an automatic retrain; the
    * convention is now self-enforcing, same device as BroadcastGate's
    * count memo. Training is deterministic (fixed seeds, integer
    * arithmetic), so re-training on the same files always reproduces the
    * same model — exactly what a served index does in production (train
    * once, reuse), and what the ivf_family sharing measurement showed
    * plan-fragment caching structurally cannot cover: the repeated cost of
    * the IVF plane is these driver-side collect loops, not a cacheable
    * plan subtree. */
  // Bounded LRUs (ADVICE r8): model arrays are the LARGEST snapshot-keyed
  // entries in the JVM (KBs each), so the rebuild-accrual leak bites here
  // first; 16 live corpora per JVM is generous for any gateway deployment.
  private val ivfModelCache = graft.Memo.lru[String, Array[Array[Long]]](16)
  private val pqModelCache = graft.Memo.lru[String, Array[Array[Array[Long]]]](16)

  /** Spec/probe hook: forget in-JVM trained models, so a test can prove the
    * persisted registry path serves the next touch (ModelRegistrySpec). */
  private[graft] def clearModelMemo(): Unit = {
    ivfModelCache.clear(); pqModelCache.clear()
  }

  /** Content-snapshot cache key: corpus dir + sorted embedding part files. */
  private def corpusKey(t: T): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    t.embeddings.inputFiles.sorted.foreach(f =>
      md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    t.dir + "#" + java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Lloyd iterations; centroids are driver-side model state (8x64 longs),
    * like any trained-model broadcast — each round is one distributed
    * assign+sum job, and empty clusters keep their previous centroid.
    * Default-parameter trainings memoize per corpus dir (see the cache
    * note above); explicit k/iters bypass the cache. */
  def trainIvfCentroids(t: T, k: Int = IvfK, iters: Int = IvfIters): Array[Array[Long]] =
    if (k == IvfK && iters == IvfIters) {
      val key = corpusKey(t)
      // registry inside the memo body: a registry hit still counts as this
      // JVM's memo miss (first_touch tagging keeps its meaning — the row
      // touched model state), it just pays a file read instead of Lloyd
      // iterations (VERDICT r13 next-1)
      ivfModelCache.computeIfAbsent(key, _ =>
        graft.ModelRegistry.loadOrTrain2(t.spark, "ivf-centroids", key)(
          trainIvfUncached(t, k, iters)))
    } else trainIvfUncached(t, k, iters)

  private[graft] def trainIvfUncached(t: T, k: Int, iters: Int): Array[Array[Long]] = {
    import t.spark.implicits._
    val ebp = quantized(t)
    var cents = ebp.filter($"vec_id" < k).orderBy($"vec_id")
      .select($"qe").as[Array[Float]].collect().map(_.map(_.toLong))
    for (_ <- 1 to iters) {
      val stats = assignCluster(ebp, cents)
        .select($"cluster", posexplode($"qe").as(Seq("pos", "v")))
        .groupBy($"cluster", $"pos")
        .agg(sum($"v".cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        // Long./ truncates toward zero — matches Spark DIV and DuckDB //
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      cents = next
    }
    cents
  }

  /** nprobe: each query searches its `IvfNprobe` nearest clusters (the
    * corpus keeps single-cluster assignment, so candidate pairs stay
    * unique). nprobe=1 measured 0.28 top-3 recall on this corpus; nprobe=2
    * roughly doubles it for 2x the probed rows — the standard IVF
    * recall/latency dial. */
  val IvfNprobe = 2

  /** Adds `probes` = the ids of the `nprobe` nearest centroids. */
  private def probeClusters(df: DataFrame, cents: Array[Array[Long]], nprobe: Int): DataFrame = {
    val dks = cents.zipWithIndex.map { case (c, k) =>
      struct(
        call_function("l2_sq", col("qe"), array(c.map(v => lit(v.toFloat)): _*)).as("dist"),
        lit(k).as("k"))
    }
    df.withColumn("dk", array(dks: _*))
      .withColumn("probes", expr(s"transform(slice(array_sort(dk), 1, $nprobe), s -> s.k)"))
      .drop("dk")
  }

  def s04IvfAnn(t: T): DataFrame = ivfAnnFor(t, 0)

  /** The trained corpus-assignment frame (vec_id, embedding, qe, cluster) —
    * the subtree every IVF-plane query (s04/w15/s21/s22) contains below its
    * own projections, exposed as ONE definition so a shared window can
    * materialize it once (deterministic training ⇒ identical centroid
    * literals ⇒ canonically equal subtrees across jobs). */
  private[graft] def ivfAssignedRaw(t: T): DataFrame = {
    assignCluster(quantizeDf(t.embeddings), trainIvfCentroids(t))
  }

  /** The packed PQ code frame (vec_id, codes[8]) — s21's corpus-side code
    * subtree (and s22's, through its IVFPQ arm), ONE definition for the
    * same sharing reason. */
  private[graft] def pqCodesPacked(t: T,
      trained: Option[Array[Array[Array[Long]]]] = None): DataFrame =
    pqCodesPackedOf(t, t.embeddings,
      trained.getOrElse(trainPqCodebook(t)))

  /** The packed-code frame for an arbitrary vector frame — s27's collapsed
    * gear encodes only the representatives through it. */
  private def pqCodesPackedOf(t: T, emb: DataFrame,
      books: Array[Array[Array[Long]]]): DataFrame = {
    pqAssign(pqSlicesOf(quantizeDf(emb)), books)
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(blk, code))), s -> s.code)")
        .as("codes"))
  }

  /** The trained-IVF probe search for query set `vec_id % 25 == qmod` —
    * ONE definition serving s04 (qmod 0) and w15's serving twin (qmod 7,
    * a disjoint "arriving" query set). */
  private[graft] def ivfAnnFor(t: T, qmod: Int,
      trained: Option[Array[Array[Long]]] = None): DataFrame =
    ivfAnnOn(t, t.embeddings, qmod, trained)

  /** The same probe search over an arbitrary vector frame — s26's collapsed
    * gear searches the signature representatives through it. The model
    * stays the full-corpus training (one trained index per corpus, cached):
    * replicas only reweight centroids toward directions the corpus already
    * contains, and the m² disease the routing exists to kill lives in the
    * probe JOIN below (corpus rows × query rows inside fixed-k cells), not
    * in the linear, per-JVM-memoized training pass. */
  private[graft] def ivfAnnOn(t: T, emb: DataFrame, qmod: Int,
      trained: Option[Array[Array[Long]]] = None): DataFrame = {
    import t.spark.implicits._
    val cents = trained.getOrElse(trainIvfCentroids(t))
    val assigned = assignCluster(quantizeDf(emb), cents)
      .select($"vec_id", $"embedding", $"cluster", sqNorm("embedding").as("nb"))
    val q = probeClusters(quantizeDf(emb).filter($"vec_id" % 25 === qmod), cents, IvfNprobe)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqNorm("embedding").as("na"), explode($"probes").as("qc"))
    val pairs = assigned.join(broadcast(q), $"cluster" === $"qc" && $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        prenormCos("q_emb", "embedding", "na", "nb").as("cosine"))
    rankTopK(pairs, "query_id", "cosine", "neighbor_id", 3)
      .select($"query_id", $"rk", $"neighbor_id", $"cosine")
      .orderBy($"query_id", $"rk")
  }

  /** s04 over the signature representatives — s26's collapsed gear: the
    * SAME trained index (see [[ivfAnnOn]]'s model note), with corpus and
    * query side both folded to one vector per 32-bit hyperplane signature
    * first. On a replica-heavy corpus the raw probe join is m²-bound
    * (queries and cell populations both grow with the multiplier while k
    * stays 8 — the shape the 120× probe named unrouted); the rep collapse
    * removes the replica factor from BOTH join sides before any scoring. */
  private[operators] def s04OverRepresentatives(t: T): DataFrame =
    ivfAnnOn(t, sigRepresentatives(t.embeddings), 0)

  /** Streaming ANN serving: a stream of query vectors routed through the
    * SAME trained IVF index s04 searches — quantization, probe selection
    * (inlined centroid literals) and the cell-restricted scoring join are
    * all stateless map-side work or a stream-static join, so the plan runs
    * unchanged on an unbounded query feed with NO streaming state; the
    * top-k rollup is the consumer's (an update-mode aggregate in
    * production, a batch window in the parity spec). This is the online
    * half of the index lifecycle: s04 builds/searches offline, w15 serves. */
  def annServeStream(queryVecs: DataFrame, t: T): DataFrame = {
    val cents = trainIvfCentroids(t)
    val corpus = assignCluster(quantized(t), cents)
      .select(col("vec_id"), col("embedding"), col("cluster"), sqNorm("embedding").as("nb"))
    val q = probeClusters(quantizeDf(queryVecs), cents, IvfNprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        sqNorm("embedding").as("na"), explode(col("probes")).as("qc"))
    q.join(corpus, col("cluster") === col("qc") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        prenormCos("q_emb", "embedding", "na", "nb").as("cosine"))
  }

  /** One assignment pass of source CTE `src` against centroid CTE `cents`. */
  private def duckAssign(cents: String, src: String = "ebp"): String =
    s"""(SELECT vec_id, qe, k AS cluster FROM (
          SELECT e.vec_id, e.qe, c.k,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   list_sum(list_transform(range(1, 65), i ->
                     (e.qe[i] - c.c[i]) * (e.qe[i] - c.c[i]))) ASC, c.k ASC) AS rn
          FROM $src e CROSS JOIN $cents c)
        WHERE rn = 1)"""

  /** Centroid update: per-dim integer sums, truncating division; empty
    * clusters inherit the previous centroid. */
  private def duckUpdate(assigned: String, prev: String): String =
    s"""(SELECT p.k, COALESCE(m.c, p.c) AS c
        FROM $prev p LEFT JOIN (
          SELECT cluster AS k, list(v ORDER BY i) AS c FROM (
            SELECT cluster, i, SUM(qe[i::INT])::BIGINT // COUNT(*)::BIGINT AS v
            FROM $assigned, range(1, 65) r(i) GROUP BY cluster, i)
          GROUP BY cluster) m ON p.k = m.k)"""

  /** Shared DuckDB CTE chain replicating trainIvfCentroids (fixed-point
    * embeddings, seed centroids, 2 Lloyd rounds → c2) — ONE definition for
    * every IVF oracle (s04/s07/s19 add `af`, s08 reads c2 directly), so a
    * training-recipe change is a single edit on each engine's side. */
  private val ivfTrainCte: String =
    s"""ebp AS (
         SELECT vec_id, embedding,
                list_transform(range(1, 65), i -> floor(embedding[i]::DOUBLE * 10000)::BIGINT) AS qe
         FROM embeddings),
       c0 AS (SELECT vec_id AS k, qe AS c FROM ebp WHERE vec_id < $IvfK),
       a0 AS ${duckAssign("c0")},
       c1 AS ${duckUpdate("a0", "c0")},
       a1 AS ${duckAssign("c1")},
       c2 AS ${duckUpdate("a1", "c1")}"""

  val s04Oracle: String = ivfOracleFor(0)

  /** DuckDB twin of [[ivfAnnFor]] — same one-definition rule. */
  private[graft] def ivfOracleFor(qmod: Int): String = ivfOracleOn(qmod, "ebp", "")

  /** DuckDB twin of [[s04OverRepresentatives]]: the one ivfTrainCte chain
    * (model = full-corpus training, same as the Spark side's cached model),
    * search restricted to the signature representatives on both sides. */
  private[operators] val ivfRepsOracle: String = ivfOracleOn(0, "ebr",
    s"""
       vsigs AS (
         SELECT vec_id,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       vreps AS (SELECT MIN(vec_id) AS vec_id FROM vsigs GROUP BY sig),
       ebr AS (SELECT e.* FROM ebp e JOIN vreps USING (vec_id)),""")

  /** The probe-search oracle over assignment/query source CTE `src`
    * (`extra` injects the source's own CTEs between training and search). */
  private def ivfOracleOn(qmod: Int, src: String, extra: String): String =
    s"""WITH $ivfTrainCte,$extra
       af AS ${duckAssign("c2", src)},
       probes AS (
         SELECT vec_id, k AS cluster FROM (
           SELECT e.vec_id, c.k,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65), i ->
                      (e.qe[i] - c.c[i]) * (e.qe[i] - c.c[i]))) ASC, c.k ASC) AS rn
           FROM $src e CROSS JOIN c2 c WHERE e.vec_id % 25 = $qmod)
         WHERE rn <= $IvfNprobe),
       pairs AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM probes q JOIN af c
           ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
         JOIN embeddings a ON a.vec_id = q.vec_id
         JOIN embeddings b ON b.vec_id = c.vec_id),
       ranked AS (
         SELECT query_id, neighbor_id, cosine,
                ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         FROM pairs)
       SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cosine
       FROM ranked WHERE rk <= 3 ORDER BY query_id, rk"""

  /** k-NN label classification (k=5): each probe vector takes the majority
    * label of its 5 nearest neighbors by cosine — the standard
    * embedding-space label-propagation / eval harness. Same broadcast-probe
    * shape as s01 plus two cheap window passes over the (tiny) top-k set;
    * majority ties break toward the smaller label, vote ranking on the
    * rounded cosine with id tie-break (deterministic end to end). */
  def s05KnnClassify(t: T): DataFrame = {
    import t.spark.implicits._
    val q = t.embeddings.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"label".cast("long").as("true_label"),
        $"embedding".as("q_emb"))
    val c = t.embeddings
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
    // top-5 ids via the partial top-k aggregate (no all-pairs window), then
    // one tiny join recovers the neighbor labels for the vote
    val top5ids = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"true_label", $"neighbor_id",
        (round(expr("cosine_sim(q_emb, c_emb)"), 4) + lit(0.0)).as("cosine"))
      .groupBy($"query_id", $"true_label")
      .agg(call_function("topk_scored", $"cosine", $"neighbor_id", lit(5)).as("top"))
      .select($"query_id", $"true_label",
        explode(expr("transform(top, s -> s.id)")).as("neighbor_id"))
    val nl = t.embeddings
      .select($"vec_id".as("neighbor_id"), $"label".cast("long").as("n_label"))
    val top5 = top5ids.join(nl, "neighbor_id")
    val wVote = Window.partitionBy($"query_id").orderBy($"votes".desc, $"n_label")
    top5
      .groupBy($"query_id", $"true_label", $"n_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter($"vr" === 1)
      .select($"query_id", $"true_label", $"n_label".as("pred_label"), $"votes")
      .orderBy($"query_id")
  }

  val s05Oracle: String =
    s"""WITH sims AS (
         SELECT a.vec_id AS query_id, a.label::BIGINT AS true_label,
                b.vec_id AS neighbor_id, b.label::BIGINT AS n_label,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       top5 AS (
         SELECT * FROM (
           SELECT query_id, true_label, n_label,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
           FROM sims) WHERE rk <= 5),
       votes AS (
         SELECT query_id, true_label, n_label, COUNT(*) AS votes
         FROM top5 GROUP BY 1, 2, 3)
       SELECT query_id, true_label, n_label AS pred_label, votes
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY votes DESC, n_label) AS vr FROM votes)
       WHERE vr = 1 ORDER BY query_id"""

  /** Recall@5 of the LSH candidate set (s02) against the exact top-5 (s01),
    * per query — the self-measuring quality gate every ANN deployment needs
    * before trusting the approximate path. Both inputs are deterministic, so
    * the recall numbers themselves are oracle-hashable (the sbt spec asserts
    * a floor on the average; this query pins the exact per-query values). */
  def s06AnnRecall(t: T): DataFrame = {
    import t.spark.implicits._
    val truth = s01CosineTopK(t).select($"query_id", $"neighbor_id")
    val cand = s02HyperplaneLsh(t)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    truth.join(cand, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .select($"query_id", $"n_hits", expr("n_hits * 10000 DIV 5").as("recall_bp"))
      .orderBy($"query_id")
  }

  val s06Oracle: String =
    s"""WITH sims AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       truth AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
           FROM sims) WHERE rk <= 5),
       sigs AS (
         SELECT vec_id,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       bands AS (
         SELECT vec_id, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM sigs, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         FROM bands q JOIN bands c
           ON q.tbl = c.tbl AND q.bucket = c.bucket
          AND q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id)
       SELECT t.query_id, COUNT(c.neighbor_id)::BIGINT AS n_hits,
              (COUNT(c.neighbor_id) * 10000 // 5)::BIGINT AS recall_bp
       FROM truth t LEFT JOIN cand c
         ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
       GROUP BY t.query_id ORDER BY t.query_id"""

  /** Recall@3 of the trained-IVF path (s04) against the exact top-3 — the
    * companion gate to s06 (which scores the hyperplane-LSH path). Measures
    * the real thing a 100 TB deployment tunes with nprobe: how much of the
    * true neighborhood survives probing only the 2 nearest of 8 clusters.
    * Truth is one broadcast-probe pass (same shape as s01, k=3); the IVF
    * side reuses s04 verbatim, so this also pins s04's end-to-end output. */
  def s07IvfRecall(t: T): DataFrame = {
    import t.spark.implicits._
    val q = t.embeddings.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val c = t.embeddings.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
    val truthPairs = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        (round(expr("cosine_sim(q_emb, c_emb)"), 4) + lit(0.0)).as("cosine"))
    val truth = rankTopK(truthPairs, "query_id", "cosine", "neighbor_id", 3)
      .select($"query_id", $"neighbor_id")
    val ann = s04IvfAnn(t)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .select($"query_id", $"n_hits", expr("n_hits * 10000 DIV 3").as("recall_bp"))
      .orderBy($"query_id")
  }

  val s07Oracle: String =
    s"""WITH $ivfTrainCte,
       af AS ${duckAssign("c2")},
       probes AS (
         SELECT vec_id, k AS cluster FROM (
           SELECT e.vec_id, c.k,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65), i ->
                      (e.qe[i] - c.c[i]) * (e.qe[i] - c.c[i]))) ASC, c.k ASC) AS rn
           FROM ebp e CROSS JOIN c2 c WHERE e.vec_id % 25 = 0)
         WHERE rn <= $IvfNprobe),
       pairs AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM probes q JOIN af c
           ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
         JOIN embeddings a ON a.vec_id = q.vec_id
         JOIN embeddings b ON b.vec_id = c.vec_id),
       ann AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
           FROM pairs) WHERE rk <= 3),
       sims AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       truth AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
           FROM sims) WHERE rk <= 3)
       SELECT t.query_id, COUNT(a.neighbor_id)::BIGINT AS n_hits,
              (COUNT(a.neighbor_id) * 10000 // 3)::BIGINT AS recall_bp
       FROM truth t LEFT JOIN ann a
         ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       GROUP BY t.query_id ORDER BY t.query_id"""

  /** IVF index diagnostics: per-cluster population and exact integer
    * inertia (sum of bp-space squared distances to the assigned centroid) —
    * the numbers that drive the k/nprobe sizing decision (elbow curve,
    * imbalance factor). Distances are exact integers in basis-point space
    * (values < 2^14, 64-dim double accumulation < 2^53), so the inertia is
    * bit-identical across engines. One scan + one agg shuffled on cluster
    * id; the 8x64 centroid matrix is inlined as literals (driver-side
    * model broadcast), so assignment is pure map-side codegen. */
  def s08IvfStats(t: T): DataFrame = {
    import t.spark.implicits._
    val cents = trainIvfCentroids(t)
    val dks = cents.zipWithIndex.map { case (c, k) =>
      struct(
        call_function("l2_sq", col("qe"), array(c.map(v => lit(v.toFloat)): _*)).as("dist"),
        lit(k).as("k"))
    }
    quantized(t)
      .withColumn("best", least(dks: _*))
      .groupBy($"best.k".cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sum($"best.dist".cast("long")).as("inertia"))
      .orderBy($"cluster")
  }

  val s08Oracle: String =
    s"""WITH $ivfTrainCte,
       best AS (
         SELECT vec_id, k, dist FROM (
           SELECT e.vec_id, c.k,
                  list_sum(list_transform(range(1, 65), i ->
                    (e.qe[i] - c.c[i]) * (e.qe[i] - c.c[i]))) AS dist,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65), i ->
                      (e.qe[i] - c.c[i]) * (e.qe[i] - c.c[i]))) ASC, c.k ASC) AS rn
           FROM ebp e CROSS JOIN c2 c)
         WHERE rn = 1)
       SELECT k::BIGINT AS cluster, COUNT(*) AS n_vecs, SUM(dist)::BIGINT AS inertia
       FROM best GROUP BY k ORDER BY cluster"""

  /** Int8 vector-quantization audit: per-vector min/max scale, uint8 codes
    * (floor), and the reconstruction-error bound — the compression pass a
    * 100 TB ANN index runs before shipping vectors to the serving tier
    * (4x smaller than float32, dot products in integer SIMD). Everything is
    * map-side lambda codegen over the embedding array — no shuffle, no UDF;
    * at scale this is a pure columnar rewrite of the vector column.
    * Error is reported in floored micro-units so the cross-engine compare
    * stays in exact integers (the double arithmetic itself is identical
    * IEEE ops in identical order on both sides). */
  def s09QuantAudit(t: T): DataFrame = {
    import t.spark.implicits._
    t.embeddings
      .selectExpr("vec_id", "transform(embedding, v -> CAST(v AS DOUBLE)) AS e")
      .selectExpr("vec_id", "e",
        "array_min(e) AS mn", "array_max(e) AS mx")
      .selectExpr("vec_id", "e", "mn", "mx",
        """CASE WHEN mx > mn
             THEN transform(e, v -> CAST(floor((v - mn) * 255.0 / (mx - mn)) AS BIGINT))
             ELSE transform(e, v -> CAST(0 AS BIGINT)) END AS codes""")
      .selectExpr("vec_id", "mn", "mx",
        "aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x) AS code_sum",
        "CAST(size(filter(codes, x -> x = 255)) AS BIGINT) AS n_sat",
        """CAST(floor(array_max(zip_with(e, codes, (v, c) ->
             abs(mn + c * (mx - mn) / 255.0 - v))) * 1000000.0) AS BIGINT)
           AS err_micro""")
      .orderBy($"vec_id")
  }

  val s09Oracle: String =
    """WITH q AS (
         SELECT vec_id,
                list_transform(embedding, v -> v::DOUBLE) AS e,
                list_min(list_transform(embedding, v -> v::DOUBLE)) AS mn,
                list_max(list_transform(embedding, v -> v::DOUBLE)) AS mx
         FROM embeddings),
       c AS (
         SELECT vec_id, e, mn, mx,
                CASE WHEN mx > mn
                  THEN list_transform(e, v -> floor((v - mn) * 255.0 / (mx - mn))::BIGINT)
                  ELSE list_transform(e, v -> 0::BIGINT) END AS codes
         FROM q)
       SELECT vec_id, mn, mx,
              list_sum(codes)::BIGINT AS code_sum,
              len(list_filter(codes, x -> x = 255))::BIGINT AS n_sat,
              floor(list_max(list_transform(range(1, len(e) + 1), i ->
                abs(mn + codes[i] * (mx - mn) / 255.0 - e[i]))) * 1000000.0)::BIGINT
                AS err_micro
       FROM c ORDER BY vec_id"""

  /** Label purity of the LSH retrieval: per query, the share of s02's
    * candidate neighbors that carry the query's own label (basis points) —
    * the retrieval-quality metric a labeled eval set gives you for free
    * (high purity = the ANN index clusters semantically; low purity on a
    * high-recall query = the embedding space, not the index, is the
    * problem). Two broadcast joins of the narrow (vec_id, label) projection
    * onto the candidate stream. */
  def s10LabelPurity(t: T): DataFrame = {
    import t.spark.implicits._
    val labels = t.embeddings.select($"vec_id", $"label")
    s02HyperplaneLsh(t).select($"query_id", $"neighbor_id")
      .join(labels.select($"vec_id".as("query_id"), $"label".as("ql")), "query_id")
      .join(labels.select($"vec_id".as("neighbor_id"), $"label".as("nl")), "neighbor_id")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when($"ql" === $"nl", 1L).otherwise(0L)).as("n_same_label"))
      .withColumn("purity_bp", expr("n_same_label * 10000 DIV n_neighbors"))
      .orderBy($"query_id")
  }

  /** The s02 oracle verbatim as a nested CTE, joined to labels. */
  val s10Oracle: String =
    s"""WITH ann AS ($s02Oracle)
       SELECT query_id, COUNT(*) AS n_neighbors,
              SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)::BIGINT
                AS n_same_label,
              (SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END) * 10000
                 // COUNT(*))::BIGINT AS purity_bp
       FROM ann
       JOIN embeddings a ON a.vec_id = ann.query_id
       JOIN embeddings b ON b.vec_id = ann.neighbor_id
       GROUP BY query_id ORDER BY query_id"""

  /** Recall@3 of retrieval over s09's uint8 codes: rank neighbors by the
    * INTEGER code dot product (the arithmetic an int8-SIMD serving tier
    * actually executes) and score against the exact-cosine top-3 — the
    * measurement that decides whether 4x compression costs recall. Exact
    * integer ranking on both engines; scale-free code dots are a proxy for
    * cosine (per-vector scale cancels only approximately — that gap is
    * precisely what this query measures). */
  def s11QuantRecall(t: T): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // codes as float arrays (0..255 — exact in float32) so the per-pair
    // score is ONE codegen'd dot_d call instead of an interpreted
    // zip_with+aggregate lambda pair; the double dot over small exact
    // integers equals the old BIGINT-sum-cast-DOUBLE bit for bit
    val codes = Par.fanOut(t.embeddings)
      .selectExpr("vec_id", "transform(embedding, v -> CAST(v AS DOUBLE)) AS e")
      .selectExpr("vec_id", "e", "array_min(e) AS mn", "array_max(e) AS mx")
      .selectExpr("vec_id",
        """CASE WHEN mx > mn
             THEN transform(e, v -> CAST(floor((v - mn) * 255.0 / (mx - mn)) AS FLOAT))
             ELSE transform(e, v -> CAST(0 AS FLOAT)) END AS codes""")
    val qc = codes.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"codes".as("q_codes"))
    // int8-code dots stay < 2^23, exact in dot_d's double accumulation;
    // corpus side streamed (fanned out above), probe side broadcast
    val approxPairs = codes.join(broadcast(qc), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        call_function("dot_d", $"q_codes", $"codes").as("dot"))
    val approx = rankTopK(approxPairs, "query_id", "dot", "neighbor_id", 3)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    // truth arm: prenormalized cosine (norms per row, one dot per pair)
    val emb = Par.fanOut(t.embeddings.select($"vec_id", $"embedding",
      sqNorm("embedding").as("nb")))
    val qe = emb.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"nb".as("na"))
    val truthPairs = emb.join(broadcast(qe), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        prenormCos("q_emb", "embedding", "na", "nb").as("cos"))
    val truth = rankTopK(truthPairs, "query_id", "cos", "neighbor_id", 3)
      .select($"query_id", $"neighbor_id")
    truth.join(approx, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .select($"query_id", $"n_hits", expr("n_hits * 10000 DIV 3").as("recall_bp"))
      .orderBy($"query_id")
  }

  val s11Oracle: String =
    s"""WITH c0 AS (
         SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e,
                list_min(list_transform(embedding, v -> v::DOUBLE)) AS mn,
                list_max(list_transform(embedding, v -> v::DOUBLE)) AS mx
         FROM embeddings),
       codes AS (
         SELECT vec_id,
                CASE WHEN mx > mn
                  THEN list_transform(e, v -> floor((v - mn) * 255.0 / (mx - mn))::BIGINT)
                  ELSE list_transform(e, v -> 0::BIGINT) END AS codes
         FROM c0),
       approx AS (
         SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65),
                      i -> q.codes[i] * c.codes[i])) DESC, c.vec_id) AS rk
           FROM codes q JOIN codes c
             ON q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id)
         WHERE rk <= 3),
       truth AS (
         SELECT query_id, neighbor_id FROM (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                    ROUND(${duckCos("a", "b")}, 4) DESC, b.vec_id) AS rk
           FROM embeddings a JOIN embeddings b
             ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id)
         WHERE rk <= 3)
       SELECT t.query_id, COUNT(a.neighbor_id)::BIGINT AS n_hits,
              (COUNT(a.neighbor_id) * 10000 // 3)::BIGINT AS recall_bp
       FROM truth t LEFT JOIN approx a
         ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       GROUP BY t.query_id ORDER BY t.query_id"""

  /** k-NN graph over the whole corpus — every vector's top-3 neighbors
    * among its LSH-bucket candidates (SemDeDup / graph-clustering input,
    * and the batch ANN join a 100 TB dedup pass runs: NOT queries-vs-corpus
    * but corpus-vs-corpus). Candidates come from the same 4x8-bit
    * hyperplane banding as s02, exact cosine only on bucket pairs, then a
    * per-source window keeps k — shuffle keys are (table, bucket) and src;
    * no all-pairs stage anywhere. Deterministic LSH makes the whole graph
    * oracle-hashable, like d13/s02. */
  /** The scored symmetric candidate graph (src, dst, cosine) — candidate
    * ids from [[symCandIds]], embeddings rejoined behind the gate, exact
    * rounded cosine per pair. ONE definition: s12 ranks it per source,
    * s13 histograms its src < dst half — so a shared window materializes
    * the candidate JOIN AND the verify once, and the fragment stays
    * narrow (two longs + one double). */
  private[graft] def symScored(t: T): DataFrame = {
    import t.spark.implicits._
    val hint = BroadcastGate.vectorHint(t.embeddings)
    // prenormalized cosine (the s04 playbook, applied at the r8 sf1-lane
    // audit): norms are computed once per ROW before the candidate join,
    // so the per-PAIR kernel is one dot — 64 FMA instead of 192 on the
    // 28M-pair candidate stream
    val ea = t.embeddings.select($"vec_id".as("src"), $"embedding".as("ea"),
      sqNorm("embedding").as("na"))
    val eb = t.embeddings.select($"vec_id".as("dst"), $"embedding".as("eb"),
      sqNorm("embedding").as("nb"))
    symCandIds(t).join(hint(ea), "src").join(hint(eb), "dst")
      .select($"src", $"dst", prenormCos("ea", "eb", "na", "nb").as("cosine"))
  }

  def s12KnnGraph(t: T, k: Int = 3): DataFrame = {
    import t.spark.implicits._
    rankTopK(symScored(t), "src", "cosine", "dst", k)
      .select($"src", $"rk", $"dst", $"cosine")
      .orderBy($"src", $"rk")
  }

  /** s02's banding CTEs, all-to-all within buckets, ranked per source. */
  val s12Oracle: String =
    s"""WITH sigs AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       bands AS (
         SELECT vec_id, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM sigs, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
         FROM bands x JOIN bands y
           ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       scored AS (
         SELECT src, dst, ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM cand JOIN embeddings a ON a.vec_id = src
                   JOIN embeddings b ON b.vec_id = dst)
       SELECT src, rk::BIGINT AS rk, dst, cosine
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                        ORDER BY cosine DESC, dst) AS rk FROM scored)
       WHERE rk <= 3 ORDER BY src, rk"""

  /** Cosine-band histogram over the LSH-candidate pair space — the
    * threshold-tuning diagnostic for semantic dedup (d13) and ANN quality:
    * how many candidate pairs fall in each 0.1-wide cosine band decides
    * where the dedup threshold bites and how much the verify stage pays
    * per band. Same bucket-join candidate stage as s12; the histogram is
    * one integer-banded aggregate on top (band = floor(cosine*10) clamped
    * to [-10, 9], exact in both engines on the 4-decimal-rounded cosine). */
  def s13CosineBands(t: T): DataFrame = {
    import t.spark.implicits._
    // the family-shared scored candidate graph restricted to one
    // orientation (src < dst is exactly the unordered pair set)
    symScored(t).filter($"src" < $"dst")
      .select($"cosine")
      .select(greatest(least(floor($"cosine" * 10), lit(9.0)), lit(-10.0))
        .cast("long").as("band"))
      .groupBy($"band").agg(count(lit(1)).as("n_pairs"))
      .orderBy($"band")
  }

  /** s12's candidate CTEs, banded and counted. */
  val s13Oracle: String =
    s"""WITH sigs AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       bands AS (
         SELECT vec_id, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM sigs, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM bands x JOIN bands y
           ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       scored AS (
         SELECT ROUND(${duckCos("ea", "eb")}, 4) + 0.0 AS cosine
         FROM cand JOIN embeddings ea ON ea.vec_id = a
                   JOIN embeddings eb ON eb.vec_id = b)
       SELECT GREATEST(LEAST(FLOOR(cosine * 10), 9), -10)::BIGINT AS band,
              COUNT(*) AS n_pairs
       FROM scored GROUP BY 1 ORDER BY band"""

  /** Radius (range) search with a completeness audit: for each query vector
    * (vec_id % 25 == 0), count ALL corpus neighbors with cosine >= 0.4 — the
    * "fetch everything similar" shape (contamination sweeps, blocklist
    * expansion) where top-k is the wrong API. Production path: s02's
    * hyperplane-LSH buckets generate candidates (shuffle keyed on
    * (table,bucket)); the exact count comes from broadcasting the tiny query
    * set against the corpus (|Q| ~= 4% of rows — linear, same shape as s01).
    * Per query: exact count, LSH-found count, recall in basis points — the
    * query emits its own quality gate, s06-style. 100 TB: the exact arm is
    * the audit (run on a sample); the LSH arm is the product. */
  def s14RadiusSearch(t: T): DataFrame = {
    import t.spark.implicits._
    val q = t.embeddings.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val c = t.embeddings.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
    val exact = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .filter(round(expr("cosine_sim(q_emb, c_emb)"), 4) >= 0.4)
      .groupBy($"query_id").agg(count(lit(1)).as("n_exact"))
    // the LSH arm IS s02's output thresholded — one definition (the scored
    // probe-candidate frame), so a shared window pays s02's pipeline once
    // for s02, s06 and this audit
    val found = s02HyperplaneLsh(t)
      .filter($"cosine" >= 0.4)
      .groupBy($"query_id").agg(count(lit(1)).as("n_lsh"))
    exact.join(found, Seq("query_id"), "left")
      .withColumn("n_lsh", coalesce($"n_lsh", lit(0L)))
      .withColumn("recall_bp", expr("n_lsh * 10000 DIV n_exact"))
      .orderBy($"query_id")
  }

  /** s01's broadcast-exact arm and s02's bucket arm, thresholded and joined. */
  val s14Oracle: String =
    s"""WITH exact AS (
         SELECT a.vec_id AS query_id, COUNT(*) AS n_exact
         FROM embeddings a JOIN embeddings b
           ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id
         WHERE ROUND(${duckCos("a", "b")}, 4) >= 0.4
         GROUP BY 1),
       sigs AS (
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
         SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         FROM bands q JOIN bands c
           ON q.tbl = c.tbl AND q.bucket = c.bucket
          AND q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id),
       found AS (
         SELECT query_id, COUNT(*) AS n_lsh
         FROM cand JOIN embeddings a ON a.vec_id = query_id
                   JOIN embeddings b ON b.vec_id = neighbor_id
         WHERE ROUND(${duckCos("a", "b")}, 4) >= 0.4
         GROUP BY 1)
       SELECT query_id, n_exact, COALESCE(n_lsh, 0) AS n_lsh,
              COALESCE(n_lsh, 0) * 10000 // n_exact AS recall_bp
       FROM exact LEFT JOIN found USING (query_id) ORDER BY query_id"""

  /** Product quantization (Jegou et al., PAMI 2011) with an ADC audit: the
    * 64-dim vectors split into 8 blocks of 8 dims; each block gets a
    * 16-centroid codebook trained by the same deterministic INTEGER
    * k-means-lite as s04 (bp quantization, truncating means, seeds =
    * vectors 0..15, 2 Lloyd iterations), so every engine derives the
    * identical codebook. A vector's code is 8x4 bits (4 bytes vs 256 — the
    * compression that makes a 10^11-vector scan RAM-resident). Asymmetric
    * distance (ADC): per query, per block, the 16 query-to-centroid
    * distances are table lookups; the estimated L2 of any db vector is 8
    * adds. The audit: top-1 by ADC vs top-1 by exact L2 per query, with
    * both integer distances — the measured error that licenses the 64x
    * shrink. All arithmetic exact integers; codebooks are bounded
    * driver-side model state (8x16x8 longs) broadcast into the plan. */
  val PqM = 8
  val PqK = 16
  val PqIters = 2

  private def pqSlices(t: T): DataFrame = pqSlicesOf(quantized(t))

  /** Per-block 8-dim slices of an already-quantized frame (vec_id, qe). */
  private def pqSlicesOf(qn: DataFrame): DataFrame =
    qn.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${PqM - 1}), b -> struct(b AS blk, slice(qe, b * 8 + 1, 8) AS sl))")).as("x"))
      .select(col("vec_id"), col("x.blk").as("blk"), col("x.sl").as("sl"))

  /** The trained codebook as a broadcastable relation (blk, k, cent). */
  private def pqBookDf(spark: SparkSession, books: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    (for (b <- 0 until PqM; k <- 0 until PqK)
      yield (b, k, books(b)(k).map(_.toFloat))).toDF("blk", "k", "cent")
  }

  /** Per-block argmin code (ties by centroid index, like s04's assign) — a
    * broadcast join against the codebook + min_by, NOT a 128-branch inline
    * expression: one codegen'd l2_sq per (row, centroid) row, which keeps
    * the generated code small and the work proportional to rows actually
    * assigned (an element_at(array(...)) form evaluated every block's 16
    * distances on every row and blew the bench ceiling). */
  private def pqAssign(slices: DataFrame, books: Array[Array[Array[Long]]]): DataFrame =
    slices.join(broadcast(pqBookDf(slices.sparkSession, books)), Seq("blk"))
      .select(col("vec_id"), col("blk"), col("sl"), col("k"),
        call_function("l2_sq", col("sl"), col("cent")).as("d"))
      .groupBy(col("vec_id"), col("blk"))
      .agg(expr("min_by(k, struct(d, k))").as("code"), first(col("sl")).as("sl"))

  /** Deterministic integer k-means per block; [block][k][dim] longs.
    * Memoized per corpus dir like [[trainIvfCentroids]]. */
  def trainPqCodebook(t: T): Array[Array[Array[Long]]] = {
    val key = corpusKey(t)
    pqModelCache.computeIfAbsent(key, _ =>
      graft.ModelRegistry.loadOrTrain(t.spark, "pq-codebook", key)(
        trainPqUncached(t)))
  }

  private def trainPqUncached(t: T): Array[Array[Array[Long]]] = {
    import t.spark.implicits._
    val slices = pqSlices(t)
    var books: Array[Array[Array[Long]]] = {
      val arr = Array.ofDim[Array[Long]](PqM, PqK)
      slices.filter($"vec_id" < PqK)
        .select($"blk", $"vec_id", $"sl").as[(Int, Long, Array[Float])]
        .collect()
        .foreach { case (b, v, s) => arr(b)(v.toInt) = s.map(_.toLong) }
      arr
    }
    for (_ <- 1 to PqIters) {
      val stats = pqAssign(slices, books)
        .select($"blk", $"code", posexplode($"sl").as(Seq("pos", "v")))
        .groupBy($"blk", $"code", $"pos")
        .agg(sum($"v".cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3) / r.getLong(4)
      }
      books = next
    }
    books
  }

  def s15PqAdcAudit(t: T): DataFrame = {
    import t.spark.implicits._
    val books = trainPqCodebook(t)
    // packed 8-code row per vector (one frame, not 8 rows/vector) and a
    // 128-entry ADC lookup table per query (blk*16+k -> d), so the
    // query × corpus stage is a broadcast join whose per-pair work is 8
    // table lookups — no (query, vec, blk) row explosion, no re-grouping
    // exchange. The lookup sum over 8 exact-integer doubles equals the old
    // groupBy sum bit for bit (both sum the same 8 values).
    val codesP = pqCodesPacked(t, Some(books))
    val qlut = pqSlices(t).filter($"vec_id" % 25 === 0)
      .join(broadcast(pqBookDf(t.spark, books)), Seq("blk"))
      .select($"vec_id".as("query_id"), ($"blk" * 16 + $"k").as("pos"),
        call_function("l2_sq", $"sl", $"cent").as("d"))
      .groupBy($"query_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, d))), s -> s.d)").as("lut"))
    // inline ADC: 8 unrolled (codegen'd) table lookups per pair — s21's
    // device, reused
    val adcExpr = (0 until PqM)
      .map(b => expr(s"element_at(lut, $b * $PqK + element_at(codes, ${b + 1}) + 1)"))
      .reduce(_ + _)
    val est = Par.fanOut(codesP).join(broadcast(qlut), $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id", adcExpr.as("est_d"))
    // top-1 per query as a partial aggregate (rankTopK k=1 over (score, id)
    // ascending IS row_number() ... ORDER BY est_l2, vec_id == 1) — the
    // per-query window sort exchange is gone; scores are exact integers in
    // double (<= 2^35), so the long cast reproduces est_l2 exactly
    val adcTop = rankTopK(est, "query_id", "est_d", "vec_id", 1, largest = false)
      .select($"query_id", $"vec_id".as("nn_adc"), $"est_d".cast("long").as("est_l2"))
    val qe = quantized(t).filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"qe".as("qq"))
    val xe = Par.fanOut(quantized(t).select($"vec_id", $"qe".as("xq")))
    val exPairs = xe.join(broadcast(qe), $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id",
        call_function("l2_sq", $"qq", $"xq").as("exact_d"))
    val exTop = rankTopK(exPairs, "query_id", "exact_d", "vec_id", 1, largest = false)
      .select($"query_id", $"vec_id".as("nn_exact"), $"exact_d".cast("long").as("exact_l2"))
    exTop.join(adcTop, "query_id")
      .select($"query_id", $"nn_exact", $"nn_adc",
        ($"nn_exact" === $"nn_adc").as("agree"), $"exact_l2", $"est_l2")
      .orderBy($"query_id")
  }

  /** Per-block twin of s04's k-means CTEs, then codes, lookup tables, and
    * the two argmin arms. */
  private def pqDuckAssign(cents: String, src: String = "sl"): String =
    s"""(SELECT vec_id, blk, sl, k AS code FROM (
          SELECT s.vec_id, s.blk, s.sl, c.k,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.blk ORDER BY
                   list_sum(list_transform(range(1, 9), i ->
                     (s.sl[i] - c.c[i]) * (s.sl[i] - c.c[i]))) ASC, c.k ASC) AS rn
          FROM $src s JOIN $cents c ON c.blk = s.blk)
        WHERE rn = 1)"""

  private def pqDuckUpdate(assigned: String, prev: String): String =
    s"""(SELECT p.blk, p.k, COALESCE(m.c, p.c) AS c
        FROM $prev p LEFT JOIN (
          SELECT blk, code AS k, list(v ORDER BY i) AS c FROM (
            SELECT blk, code, i, SUM(sl[i::INT])::BIGINT // COUNT(*)::BIGINT AS v
            FROM $assigned, range(1, 9) r(i) GROUP BY blk, code, i)
          GROUP BY blk, k) m ON p.blk = m.blk AND p.k = m.k)"""

  val s15Oracle: String =
    s"""WITH ebp AS (
         SELECT vec_id,
                list_transform(range(1, 65), i -> floor(embedding[i]::DOUBLE * 10000)::BIGINT) AS qe
         FROM embeddings),
       sl AS (
         SELECT vec_id, b AS blk, qe[b * 8 + 1 : b * 8 + 8] AS sl
         FROM ebp, range(0, $PqM) r(b)),
       c0 AS (SELECT blk, vec_id AS k, sl AS c FROM sl WHERE vec_id < $PqK),
       a0 AS ${pqDuckAssign("c0")},
       c1 AS ${pqDuckUpdate("a0", "c0")},
       a1 AS ${pqDuckAssign("c1")},
       c2 AS ${pqDuckUpdate("a1", "c1")},
       codes AS ${pqDuckAssign("c2")},
       qtab AS (
         SELECT s.vec_id AS query_id, s.blk, c.k,
                list_sum(list_transform(range(1, 9), i ->
                  (s.sl[i] - c.c[i]) * (s.sl[i] - c.c[i]))) AS d
         FROM sl s JOIN c2 c ON c.blk = s.blk
         WHERE s.vec_id % 25 = 0),
       est AS (
         SELECT q.query_id, x.vec_id, SUM(q.d)::BIGINT AS est_l2
         FROM codes x JOIN qtab q ON q.blk = x.blk AND q.k = x.code
         WHERE q.query_id <> x.vec_id
         GROUP BY 1, 2),
       adc_top AS (
         SELECT query_id, vec_id AS nn_adc, est_l2 FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY est_l2 ASC, vec_id ASC) AS rn FROM est)
         WHERE rn = 1),
       exact AS (
         SELECT a.vec_id AS query_id, b.vec_id,
                list_sum(list_transform(range(1, 65), i ->
                  (a.qe[i] - b.qe[i]) * (a.qe[i] - b.qe[i])))::BIGINT AS exact_l2
         FROM ebp a JOIN ebp b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       ex_top AS (
         SELECT query_id, vec_id AS nn_exact, exact_l2 FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY exact_l2 ASC, vec_id ASC) AS rn FROM exact)
         WHERE rn = 1)
       SELECT query_id, nn_exact, nn_adc, nn_exact = nn_adc AS agree,
              exact_l2, est_l2
       FROM ex_top JOIN adc_top USING (query_id) ORDER BY query_id"""

  /** Two-stage retrieve-then-rerank — the production ANN serving shape:
    * stage 1 scores EVERY candidate with a cheap signed-int8 dot product
    * and keeps a generous top-40; stage 2 reranks only those 40 with the
    * exact float cosine and returns the top-5. The coarse pass is where
    * the corpus-sized work happens, the exact pass touches a constant-per-
    * query candidate set — so the expensive arithmetic never scales with
    * corpus size.
    *
    * Quantization is fixed-scale over the UNIT-NORMALIZED vector
    * (code = floor(127·v/‖v‖) ∈ [-127,127]) so integer dots are directly
    * cosine-comparable ACROSS vectors — a per-vector min/max affine code
    * (s09's storage-audit scheme) is NOT: the offset term wrecks the
    * ranking (measured recall@5 0.15 vs 1.00 here; spec pins the floor).
    *
    * Scale shape: probes broadcast twice; both window shuffles carry
    * ids+score only (codes dropped before the top-40 exchange, embeddings
    * re-joined by broadcast after it — the d13/s02 smoke rule). Int dot of
    * 64 dims of ±127 codes maxes at ~1.03M — no overflow on either
    * engine. */
  def s16TwoStageRerank(t: T): DataFrame = {
    import t.spark.implicits._
    // float codes (integers in [-127,127] — exact in float32) so the coarse
    // score is ONE codegen'd dot_d instead of an interpreted
    // zip_with+aggregate pair; double dot over exact small integers equals
    // the old BIGINT-sum-cast-DOUBLE bit for bit
    val coded = t.embeddings
      .selectExpr("vec_id", "transform(embedding, v -> CAST(v AS DOUBLE)) AS e")
      .selectExpr("vec_id",
        "sqrt(aggregate(transform(e, v -> v * v), CAST(0.0 AS DOUBLE), (a, x) -> a + x)) AS nrm",
        "e")
      .selectExpr("vec_id",
        """CASE WHEN nrm > 0
             THEN transform(e, v -> CAST(floor(v * 127.0 / nrm) AS FLOAT))
             ELSE transform(e, v -> CAST(0 AS FLOAT)) END AS codes""")
    val qCodes = coded.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"codes".as("q_codes"))
    val hint = BroadcastGate.vectorHint(t.embeddings)
    // Stage 0 since r7: LSH bucket candidates, not probe-set × corpus — the
    // sf1 lane caught the coarse stage's broadcast scan at the 120 s
    // ceiling on the 10× corpus (BENCH_sf1 r7), the same cliff d13's pair
    // stage hit at the 30× smoke, with the same fix: candidates from the
    // shared hyperplane banding, coarse int8 scoring only on candidates.
    val cCodes = coded.select($"vec_id".as("neighbor_id"), $"codes".as("c_codes"))
    // int8-code dots stay < 2^20, exact in the aggregate's double score
    val coarsePairs = probeCandIds(t)
      .join(hint(qCodes), "query_id").join(hint(cCodes), "neighbor_id")
      .select($"query_id", $"neighbor_id",
        call_function("dot_d", $"q_codes", $"c_codes").as("coarse"))
    val top40 = rankTopK(coarsePairs, "query_id", "coarse", "neighbor_id", 40)
      .select($"query_id", $"neighbor_id")
    val qe = t.embeddings.select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val ce = t.embeddings.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
    val exactPairs = top40.join(hint(qe), "query_id").join(hint(ce), "neighbor_id")
      .select($"query_id", $"neighbor_id",
        (round(expr("cosine_sim(q_emb, c_emb)"), 4) + lit(0.0)).as("cosine"))
    rankTopK(exactPairs, "query_id", "cosine", "neighbor_id", 5)
      .select($"query_id", $"rk", $"neighbor_id", $"cosine")
      .orderBy($"query_id", $"rk")
  }

  /** The shared probe-candidate CTEs, the int8 coding, coarse scoring on
    * candidates only, then the exact rerank — stage for stage. */
  val s16Oracle: String =
    s"""WITH $probeCandDuckCtes,
       e AS (
         SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS e
         FROM embeddings),
       nm AS (SELECT vec_id, e,
                     sqrt(list_sum(list_transform(e, v -> v * v))) AS nrm
              FROM e),
       coded AS (
         SELECT vec_id,
                CASE WHEN nrm > 0
                  THEN list_transform(e, v -> floor(v * 127.0 / nrm)::BIGINT)
                  ELSE list_transform(e, v -> 0::BIGINT) END AS codes
         FROM nm),
       coarse AS (
         SELECT query_id, neighbor_id,
                list_sum(list_transform(range(1, 65), i -> p.codes[i] * c.codes[i]))::BIGINT AS coarse
         FROM cand JOIN coded p ON p.vec_id = query_id
                   JOIN coded c ON c.vec_id = neighbor_id),
       top40 AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY coarse DESC, neighbor_id) AS crk
           FROM coarse) WHERE crk <= 40),
       exact AS (
         SELECT query_id, neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM top40 JOIN embeddings a ON a.vec_id = query_id
                    JOIN embeddings b ON b.vec_id = neighbor_id)
       SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cosine FROM (
         SELECT query_id, neighbor_id, cosine,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rk
         FROM exact) WHERE rk <= 5 ORDER BY query_id, rk"""

  /** Filtered vector search — top-k constrained by a metadata predicate
    * (here: neighbors sharing the query's label), the production question
    * every vector store answers one of two ways. PRE-filter applies the
    * predicate before scoring (exact recall within the class; at scale the
    * predicate prunes label-partitioned scans before any arithmetic).
    * POST-filter takes the unfiltered top-10 and then applies the gate —
    * cheaper against a monolithic index but can under-fill k, which is
    * exactly what `fill_bp` measures per query (selective labels starve it).
    *
    * Scale shape: both arms are broadcast-probe scans (s01's audit shape);
    * the window shuffles carry ids, labels and the rounded score only. */
  def s17FilteredAnn(t: T): DataFrame = {
    import t.spark.implicits._
    val q = t.embeddings.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"label".as("q_label"),
        sqNorm("embedding").as("na"))
    // prenorm + fan-out (see s03); both arms' per-query rank-k run as
    // partial aggregates (rankTopK) instead of window sort exchanges, with
    // the tiny label frames rejoined by broadcast after the rank
    val c = Par.fanOut(t.embeddings
      .select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"), $"label".as("c_label"),
        sqNorm("embedding").as("nb")))
    val qLabels = t.embeddings.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"label".as("q_label"))
    val prePairs = c.join(broadcast(q),
        $"c_label" === $"q_label" && $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        prenormCos("q_emb", "c_emb", "na", "nb").as("cosine"))
    val pre = rankTopK(prePairs, "query_id", "cosine", "neighbor_id", 1)
      .join(broadcast(qLabels), "query_id")
      .select($"query_id", $"q_label",
        $"neighbor_id".as("pre_top1_id"), $"cosine".as("pre_top1_cosine"))
    val cLabels = t.embeddings.select($"vec_id".as("neighbor_id"), $"label".as("c_label"))
    val postPairs = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        prenormCos("q_emb", "c_emb", "na", "nb").as("cosine"))
    val post = rankTopK(postPairs, "query_id", "cosine", "neighbor_id", 10)
      .join(broadcast(cLabels), "neighbor_id")
      .join(broadcast(qLabels), "query_id")
      .groupBy($"query_id")
      .agg(sum(when($"c_label" === $"q_label", 1L).otherwise(0L)).as("post_kept"))
      .withColumn("fill_bp", expr("least(post_kept, 3L) * 10000 DIV 3"))
    pre.join(post, "query_id")
      .select($"query_id", $"q_label".cast("long").as("q_label"),
        $"pre_top1_id", $"pre_top1_cosine", $"post_kept", $"fill_bp")
      .orderBy($"query_id")
  }

  val s17Oracle: String =
    s"""WITH q AS (
         SELECT vec_id AS query_id, embedding, label AS q_label
         FROM embeddings WHERE vec_id % 25 = 0),
       pre AS (
         SELECT query_id, q_label, neighbor_id AS pre_top1_id,
                cosine AS pre_top1_cosine FROM (
           SELECT a.query_id, a.q_label, b.vec_id AS neighbor_id,
                  ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine,
                  ROW_NUMBER() OVER (PARTITION BY a.query_id
                    ORDER BY ROUND(${duckCos("a", "b")}, 4) + 0.0 DESC, b.vec_id) AS rk
           FROM q a JOIN embeddings b
             ON b.label = a.q_label AND a.query_id <> b.vec_id)
         WHERE rk = 1),
       post AS (
         SELECT query_id,
                SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)::BIGINT AS post_kept
         FROM (
           SELECT a.query_id, a.q_label, b.label AS c_label,
                  ROW_NUMBER() OVER (PARTITION BY a.query_id
                    ORDER BY ROUND(${duckCos("a", "b")}, 4) + 0.0 DESC, b.vec_id) AS rk
           FROM q a JOIN embeddings b ON a.query_id <> b.vec_id)
         WHERE rk <= 10 GROUP BY query_id)
       SELECT query_id, q_label::BIGINT AS q_label, pre_top1_id,
              pre_top1_cosine, post_kept,
              LEAST(post_kept, 3) * 10000 // 3 AS fill_bp
       FROM pre JOIN post USING (query_id) ORDER BY query_id"""

  /** MMR diversified retrieval (Carbonell & Goldstein 1998): greedy top-3
    * where each pick maximizes λ·relevance − (1−λ)·max-similarity-to-
    * already-picked (λ=0.7) — the re-ranker that stops a result list from
    * being three copies of the same near-dup. The greedy recursion is
    * unrolled into three deterministic rounds (argmax ties broken by id);
    * candidate pool is the exact top-8, so the pairwise-similarity matrix
    * is 8×8 PER QUERY — constant work per query regardless of corpus size,
    * shuffled on query_id only. */
  def s18MmrRerank(t: T): DataFrame = {
    import t.spark.implicits._
    val q = t.embeddings.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqNorm("embedding").as("na"))
    // prenorm + fan-out (see s03) on the corpus-sized pool stage; the 8-row
    // pools and greedy rounds below stay as they were (constant-size work)
    val c = Par.fanOut(t.embeddings.select($"vec_id".as("neighbor_id"),
      $"embedding".as("c_emb"), sqNorm("embedding").as("nb")))
    val relW = Window.partitionBy($"query_id").orderBy($"rel".desc, $"neighbor_id")
    val pool = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id", $"c_emb",
        prenormCos("q_emb", "c_emb", "na", "nb").as("rel"))
      .withColumn("rk", row_number().over(relW))
      .filter($"rk" <= 8)
      .localCheckpoint() // three greedy rounds + the sim matrix reuse it
    // pairwise sims within each query's pool (8x8 per query, keyed join)
    val sims = pool.select($"query_id", $"neighbor_id".as("id_a"), $"c_emb".as("ea"))
      .join(pool.select($"query_id", $"neighbor_id".as("id_b"), $"c_emb".as("eb")),
        Seq("query_id"))
      .filter($"id_a" =!= $"id_b")
      .select($"query_id", $"id_a", $"id_b",
        (round(expr("cosine_sim(ea, eb)"), 4) + lit(0.0)).as("sim"))
    val slim = pool.select($"query_id", $"neighbor_id", $"rel")
    // Size-gated driver-local finish for the greedy rounds (r15 — the
    // Graph.localEdges discipline): pools are 8 rows/query, so the three
    // selection rounds are tiny-frame window+join jobs whose cost is pure
    // orchestration (~10 jobs). Below the threshold the rounds run as a
    // driver loop with IDENTICAL arithmetic — the same BigDecimal HALF_UP
    // round-4 Spark's Round applies to doubles, the same +0.0
    // normalization, the same (score DESC, neighbor ASC) order — so the
    // output is bit-identical (the DuckDB oracle re-proves it). Above the
    // gate the distributed rounds below run unchanged. Gate = count on the
    // checkpointed pool (not a bounded limit+collect — CollectLimitExec's
    // escalating partition batches cost MORE jobs, see Graph.localEdges).
    val mmrCap = t.spark.conf.getOption("spark.graft.mmr.localPoolThreshold")
      .map(_.toLong).getOrElse(2000000L)
    if (slim.count() <= mmrCap) {
      val poolHead = slim.as[(Long, Long, Double)].collect()
      val simRows = sims.as[(Long, Long, Long, Double)].collect()
      val simMap = simRows.groupBy(_._1).map { case (qid, rs) =>
        qid -> rs.iterator.map(r => ((r._2, r._3), r._4)).toMap
      }
      def round4(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      poolHead.groupBy(_._1).foreach { case (qid, rows0) =>
        val cands = rows0.map(r => (r._2, r._3)) // (neighbor_id, rel)
        val sm = simMap.getOrElse(qid, Map.empty[(Long, Long), Double])
        val first = cands.minBy { case (nb, rel) => (-rel, nb) }
        out += ((qid, 1L, first._1, first._2))
        var selectedIds = List(first._1)
        for (rk <- 2 to 3) {
          val rem = cands.filter(c => !selectedIds.contains(c._1))
          if (rem.nonEmpty) {
            val scored = rem.map { case (nb, rel) =>
              val ms = selectedIds.iterator.map(s => sm((nb, s))).max
              (nb, round4(rel * 0.7 - ms * 0.3))
            }
            val best = scored.minBy { case (nb, sc) => (-sc, nb) }
            out += ((qid, rk.toLong, best._1, best._2))
            selectedIds = best._1 :: selectedIds
          }
        }
      }
      return t.spark.createDataset(out.toSeq)
        .toDF("query_id", "rk", "neighbor_id", "mmr")
        .orderBy($"query_id", $"rk")
    }
    val sel1 = slim.withColumn("rn", row_number().over(relW)).filter($"rn" === 1)
      .select($"query_id", $"neighbor_id", $"rel".as("mmr"))
    def pick(selected: DataFrame): DataFrame = {
      val selIds = selected.select($"query_id", $"neighbor_id".as("sel_id"))
      val remaining = slim.join(selIds,
          slim("query_id") === selIds("query_id") &&
            slim("neighbor_id") === selIds("sel_id"), "left_anti")
      val maxSim = sims.join(selIds.withColumnRenamed("sel_id", "id_b"),
          Seq("query_id", "id_b"))
        .groupBy($"query_id", $"id_a".as("neighbor_id"))
        .agg(max($"sim").as("max_sim"))
      val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"neighbor_id")
      remaining.join(maxSim, Seq("query_id", "neighbor_id"))
        .withColumn("score", (round($"rel" * 0.7 - $"max_sim" * 0.3, 4) + lit(0.0)))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"query_id", $"neighbor_id", $"score".as("mmr"))
    }
    val sel2 = pick(sel1)
    val sel3 = pick(sel1.unionByName(sel2))
    sel1.withColumn("rk", lit(1L))
      .unionByName(sel2.withColumn("rk", lit(2L)))
      .unionByName(sel3.withColumn("rk", lit(3L)))
      .select($"query_id", $"rk", $"neighbor_id", $"mmr")
      .orderBy($"query_id", $"rk")
  }

  val s18Oracle: String = {
    def pickCte(sel: String, name: String) =
      s"""$name AS (
           SELECT query_id, neighbor_id, score AS mmr FROM (
             SELECT p.query_id, p.neighbor_id,
                    ROUND(p.rel * 0.7 - ms.max_sim * 0.3, 4) + 0.0 AS score,
                    ROW_NUMBER() OVER (PARTITION BY p.query_id
                      ORDER BY ROUND(p.rel * 0.7 - ms.max_sim * 0.3, 4) + 0.0 DESC,
                               p.neighbor_id) AS rn
             FROM pool p
             JOIN (SELECT s.query_id, s.id_a AS neighbor_id, MAX(s.sim) AS max_sim
                   FROM sims s JOIN $sel t
                     ON t.query_id = s.query_id AND t.neighbor_id = s.id_b
                   GROUP BY s.query_id, s.id_a) ms
               ON ms.query_id = p.query_id AND ms.neighbor_id = p.neighbor_id
             WHERE NOT EXISTS (SELECT 1 FROM $sel t2
               WHERE t2.query_id = p.query_id AND t2.neighbor_id = p.neighbor_id))
           WHERE rn = 1)"""
    s"""WITH ranked AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS rel,
                ROW_NUMBER() OVER (PARTITION BY a.vec_id
                  ORDER BY ROUND(${duckCos("a", "b")}, 4) + 0.0 DESC, b.vec_id) AS rk
         FROM embeddings a JOIN embeddings b
           ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id),
       pool AS (SELECT query_id, neighbor_id, rel FROM ranked WHERE rk <= 8),
       sims AS (
         SELECT x.query_id, x.neighbor_id AS id_a, y.neighbor_id AS id_b,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS sim
         FROM pool x JOIN pool y
           ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
         JOIN embeddings a ON a.vec_id = x.neighbor_id
         JOIN embeddings b ON b.vec_id = y.neighbor_id),
       sel1 AS (
         SELECT query_id, neighbor_id, rel AS mmr FROM (
           SELECT query_id, neighbor_id, rel,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, neighbor_id) AS rn FROM pool)
         WHERE rn = 1),
       ${pickCte("sel1", "sel2")},
       sel12 AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2),
       ${pickCte("sel12", "sel3")}
       SELECT query_id, 1::BIGINT AS rk, neighbor_id, mmr FROM sel1
       UNION ALL SELECT query_id, 2::BIGINT, neighbor_id, mmr FROM sel2
       UNION ALL SELECT query_id, 3::BIGINT, neighbor_id, mmr FROM sel3
       ORDER BY query_id, rk"""
  }

  /** The nprobe frontier — the table an IVF deployment is actually tuned
    * from: for nprobe ∈ {1,2,3}, mean recall@3 against the exact top-3
    * next to mean candidates scanned per query (the cost axis). Recall
    * rises with probed clusters while cost grows ~linearly; the elbow is
    * the sizing decision (s07 reports the chosen point per query, this
    * reports the curve). One centroid training + one assignment feed all
    * three arms (localCheckpoint'ed); each arm is the s04 probe join with
    * a different slice width. */
  def s19NprobeSweep(t: T): DataFrame = {
    import t.spark.implicits._
    val cents = trainIvfCentroids(t)
    val assigned = assignCluster(quantized(t), cents)
      .select($"vec_id", $"embedding", $"cluster", sqNorm("embedding").as("nb"))
      .localCheckpoint() // three sweep arms reuse the assignment blocks
    // truth reuses s01's exact ranking (requires s01's K >= 3; the oracle
    // derives the same truth set independently, so an s01 retune surfaces
    // here as a verify mismatch — intentional single definition Spark-side)
    val truth = s01CosineTopK(t).filter($"rk" <= 3)
      .select($"query_id", $"neighbor_id")
      .localCheckpoint()
    val nqDf = truth.select($"query_id").distinct().agg(count(lit(1)).as("nq"))
    // one centroid-distance pass at the widest nprobe; arms slice it
    val q3 = probeClusters(quantized(t).filter($"vec_id" % 25 === 0), cents, 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqNorm("embedding").as("na"), $"probes")
      .localCheckpoint()
    // per-arm probe joins as in r14 (a tagged single-pass + checkpoint was
    // measured SLOWER at bench scale — the materialization outweighed the
    // deduplicated scoring), but each arm's per-pair kernel is now the
    // prenormalized dot (64 FMA) instead of the full cosine (192)
    val arms = (1 to 3).map { np =>
      val q = q3.select($"query_id", $"q_emb", $"na",
        explode(expr(s"slice(probes, 1, $np)")).as("qc"))
      val pairs = assigned.join(broadcast(q),
          $"cluster" === $"qc" && $"query_id" =!= $"vec_id")
        .select($"query_id", $"vec_id".as("neighbor_id"),
          prenormCos("q_emb", "embedding", "na", "nb").as("cosine"))
      val ann = rankTopK(pairs, "query_id", "cosine", "neighbor_id", 3)
        .select($"query_id", $"neighbor_id")
      val hits = truth.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("total_hits"))
      val cost = pairs.agg(count(lit(1)).as("total_pairs"))
      hits.crossJoin(cost).crossJoin(nqDf)
        .select(lit(np.toLong).as("nprobe"),
          expr("total_hits * 10000 DIV (nq * 3)").as("mean_recall_bp"),
          expr("total_pairs DIV nq").as("mean_candidates"))
    }
    arms.reduce(_.unionByName(_)).orderBy($"nprobe")
  }

  val s19Oracle: String = {
    def arm(np: Int): String =
      s"""SELECT $np::BIGINT AS nprobe,
            (SELECT COUNT(*) FROM truth t
             JOIN (SELECT query_id, neighbor_id FROM (
                     SELECT query_id, neighbor_id,
                            ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rk
                     FROM pairs_$np) WHERE rk <= 3) a
               ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
            )::BIGINT * 10000 // ((SELECT nq FROM nqc) * 3) AS mean_recall_bp,
            (SELECT COUNT(*) FROM pairs_$np)::BIGINT
              // (SELECT nq FROM nqc) AS mean_candidates"""
    def pairsCteN(np: Int): String =
      s"""pairs_$np AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
           FROM (SELECT vec_id, cluster FROM dists WHERE rn <= $np) q
           JOIN af c ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
           JOIN embeddings a ON a.vec_id = q.vec_id
           JOIN embeddings b ON b.vec_id = c.vec_id)"""
    s"""WITH $ivfTrainCte,
       af AS ${duckAssign("c2")},
       dists AS (
         SELECT vec_id, k AS cluster, rn FROM (
           SELECT e.vec_id, c.k,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65), i ->
                      (e.qe[i] - c.c[i]) * (e.qe[i] - c.c[i]))) ASC, c.k ASC) AS rn
           FROM ebp e CROSS JOIN c2 c WHERE e.vec_id % 25 = 0)),
       sims AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       truth AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
           FROM sims) WHERE rk <= 3),
       nqc AS (SELECT COUNT(DISTINCT query_id)::BIGINT AS nq FROM truth),
       ${pairsCteN(1)},
       ${pairsCteN(2)},
       ${pairsCteN(3)}
       ${arm(1)} UNION ALL ${arm(2)} UNION ALL ${arm(3)} ORDER BY nprobe"""
  }

  /** Binary (sign-bit) retrieval recall — the 1-bit end of the precision
    * ladder (float32 s01 → int8 s11/s16 → 1 bit here): each vector
    * compresses to TWO 32-bit words (sign of each coordinate; 256× smaller
    * than float32), candidate ranking is Hamming distance via xor +
    * popcount — the cheapest possible scan, and the recall@5-in-top-10
    * gate says what that compression costs on this corpus. Bits are split
    * into two 32-bit words because DuckDB's BIGINT << 63 overflows
    * (checked arithmetic) where the JVM wraps — the cross-engine-safe
    * packing. Probes broadcast; the ranking shuffle carries two longs per
    * row. */
  def s20BinaryRecall(t: T): DataFrame = {
    import t.spark.implicits._
    def word(off: Int) =
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT), (a, i) ->
            a + CASE WHEN element_at(embedding, i + ${off + 1}) > 0
                THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"""
    val sigs = t.embeddings.selectExpr("vec_id",
      s"${word(0)} AS lo", s"${word(32)} AS hi")
    val q = sigs.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"lo".as("qlo"), $"hi".as("qhi"))
    // hamming <= 128, exact in the aggregate's double score; smallest-k
    val hamPairs = Par.fanOut(sigs.select($"vec_id".as("neighbor_id"), $"lo", $"hi"))
      .join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").cast("double").as("hamming"))
    val ann = rankTopK(hamPairs, "query_id", "hamming", "neighbor_id", 10, largest = false)
      .select($"query_id", $"neighbor_id")
    val truth = s01CosineTopK(t) // exact top-5 on the same probe set
      .select($"query_id", $"neighbor_id")
    truth.join(ann.withColumnRenamed("neighbor_id", "hit"),
        truth("query_id") === ann("query_id") && $"neighbor_id" === $"hit", "left")
      .groupBy(truth("query_id"))
      .agg(count($"hit").as("n_hits"))
      .withColumn("recall_bp", expr("n_hits * 10000 DIV 5"))
      .orderBy($"query_id")
  }

  val s20Oracle: String = {
    def word(off: Int) =
      s"""list_sum(list_transform(range(0, 32), i ->
            CASE WHEN embedding[(i + ${off + 1})::INT] > 0
            THEN (1::BIGINT << i::INT) ELSE 0::BIGINT END))::BIGINT"""
    s"""WITH sigs AS (
         SELECT vec_id, ${word(0)} AS lo, ${word(32)} AS hi
         FROM embeddings),
       q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
             FROM sigs WHERE vec_id % 25 = 0),
       ann AS (
         SELECT query_id, neighbor_id FROM (
           SELECT q.query_id, s.vec_id AS neighbor_id,
                  bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi)) AS hamming,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                    bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi)),
                    s.vec_id) AS rk
           FROM sigs s JOIN q ON q.query_id <> s.vec_id)
         WHERE rk <= 10),
       sims AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       truth AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rk
           FROM sims) WHERE rk <= 5)
       SELECT t.query_id, COUNT(a.neighbor_id)::BIGINT AS n_hits,
              (COUNT(a.neighbor_id) * 10000 // 5)::BIGINT AS recall_bp
       FROM truth t LEFT JOIN ann a
         ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       GROUP BY t.query_id ORDER BY t.query_id"""
  }

  /** IVFADC with exact rerank (Jegou et al., PAMI 2011 §IV — the FAISS
    * IVFPQ production composition, built from the engine's two existing
    * trained stages the way d26 composes collapse→pair):
    *
    *   1. coarse IVF (s04's trained centroids) restricts each query to its
    *      `IvfNprobe` nearest cells — the candidate stream is ids-only
    *      (|cell| rows/query, not |corpus|);
    *   2. ADC over s15's PQ codes scores candidates with 8 table-lookup
    *      adds per vector — the memory-resident scan shape (4-byte codes,
    *      not 256-byte vectors) that makes a 10^11-vector index fit a
    *      cluster's RAM;
    *   3. the ADC top-10 shortlist is reranked with exact integer L2 on
    *      the quantized vectors (touches 10 vectors/query, not the cell).
    *
    * Everything is exact integer/bp arithmetic end to end, so DuckDB's
    * composed CTE chain (IVF k-means ∘ PQ k-means renamed pc*) reproduces
    * the identical shortlist and final ranking. Shuffle posture: codes and
    * cluster assignment partition by vec_id; the per-query work after the
    * cell probe is proportional to cell size, then k. */
  def s21IvfPqAnn(t: T, trained: Option[Array[Array[Long]]] = None): DataFrame =
    s21On(t, t.embeddings, trained)

  /** s21 over the signature representatives — s27's collapsed gear: the
    * SAME two trained stages (coarse centroids + PQ codebook, full-corpus
    * cached models — see [[ivfAnnOn]]'s model note), with the search
    * restricted to one vector per 32-bit hyperplane sig on corpus and
    * query side. s21 shares raw s04's disease exactly: its ADC candidate
    * stream is the same fixed-k probe join, m²-bound on a replica corpus
    * (119.7 s at the 120× probe, 0.3 s under the ceiling). */
  private[operators] def s21OverRepresentatives(t: T): DataFrame =
    s21On(t, sigRepresentatives(t.embeddings))

  /** The IVFADC search over an arbitrary vector frame (training stays
    * corpus-level, like [[ivfAnnOn]]). */
  private[operators] def s21On(t: T, emb: DataFrame,
      trained: Option[Array[Array[Long]]] = None): DataFrame = {
    import t.spark.implicits._
    val cents = trained.getOrElse(trainIvfCentroids(t))
    val books = trainPqCodebook(t)
    val qn = quantizeDf(emb)
    // corpus side: cluster id + the 8 PQ codes PACKED into one array per
    // vector (first s21 shape joined per-(pair, block) rows — 8× the
    // candidate stream through a shuffle+aggregate, and the 80× probe
    // ceilinged on exactly that exchange; packed, the pair stream is
    // generated by the probe join and immediately partial-aggregated, the
    // same no-pair-shuffle shape as s04)
    val corpus = assignCluster(qn, cents).select($"vec_id", $"cluster")
      .join(pqCodesPackedOf(t, emb, books), "vec_id")
    // query side: probed cells + the 128-slot ADC lookup table (d at
    // index blk*16+code), broadcast with the probe rows
    val qlut = pqSlicesOf(qn).filter($"vec_id" % 25 === 0)
      .join(broadcast(pqBookDf(t.spark, books)), Seq("blk"))
      .select($"vec_id".as("query_id"), $"blk", $"k",
        call_function("l2_sq", $"sl", $"cent").as("d"))
      .groupBy($"query_id")
      .agg(expr("transform(array_sort(collect_list(struct(blk, k, d))), s -> s.d)")
        .as("lut"))
    val qside = probeClusters(qn.filter($"vec_id" % 25 === 0), cents, IvfNprobe)
      .select($"vec_id".as("query_id"), explode($"probes").as("qc"))
      .join(qlut, "query_id")
    // inline ADC: 8 unrolled (codegen'd) table lookups per candidate —
    // exact integer values in doubles, so the sum is order-independent
    val adcExpr = (0 until PqM)
      .map(b => expr(s"element_at(lut, $b * $PqK + element_at(codes, ${b + 1}) + 1)"))
      .reduce(_ + _)
    val est = corpus.join(broadcast(qside), $"cluster" === $"qc" && $"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id", adcExpr.as("adc"))
    val short = rankTopK(est, "query_id", "adc", "vec_id", 10, largest = false)
      .select($"query_id", $"vec_id")
    // rerank joins broadcast the ~10-per-query SHORTLIST side (ADVICE r7:
    // the first shape broadcast the two full quantized-corpus frames via
    // vectorHint — up to hundreds of MB, twice — when only shortlist ids
    // are needed). Each corpus frame is now scanned once, streamed against
    // the tiny broadcast: no corpus bytes ever leave their executors.
    val qq = qn.select($"vec_id".as("query_id"), $"qe".as("qq"))
    val xq = qn.select($"vec_id", $"qe".as("xq"))
    val reranked = broadcast(broadcast(short).join(qq, "query_id"))
      .join(xq, "vec_id")
      .select($"query_id", $"vec_id",
        call_function("l2_sq", $"qq", $"xq").as("ex"))
    rankTopK(reranked, "query_id", "ex", "vec_id", 3, largest = false)
      .select($"query_id", $"rk", $"vec_id".as("neighbor_id"),
        $"ex".cast("long").as("exact_l2"))
      .orderBy($"query_id", $"rk")
  }

  val s21Oracle: String = s21OracleOn("ebp", "sl", "")

  /** DuckDB twin of [[s21OverRepresentatives]]: the one training chain
    * (coarse + PQ, full-corpus), search CTEs restricted to the signature
    * representatives — s27's collapsed branch. */
  private[operators] val s21RepsOracle: String = s21OracleOn("ebr", "slr",
    s"""
       vsigs AS (
         SELECT vec_id,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       vreps AS (SELECT MIN(vec_id) AS vec_id FROM vsigs GROUP BY sig),
       ebr AS (SELECT e.* FROM ebp e JOIN vreps USING (vec_id)),
       slr AS (SELECT s.* FROM sl s JOIN vreps USING (vec_id)),""")

  /** The IVFADC oracle over assignment/query sources `src` (64-dim rows)
    * and `slSrc` (per-block slices); `extra` injects the sources' CTEs
    * after the training chain. */
  private def s21OracleOn(src: String, slSrc: String, extra: String): String =
    s"""WITH $ivfTrainCte,
       sl AS (
         SELECT vec_id, b AS blk, qe[b * 8 + 1 : b * 8 + 8] AS sl
         FROM ebp, range(0, $PqM) r(b)),
       pc0 AS (SELECT blk, vec_id AS k, sl AS c FROM sl WHERE vec_id < $PqK),
       pa0 AS ${pqDuckAssign("pc0")},
       pc1 AS ${pqDuckUpdate("pa0", "pc0")},
       pa1 AS ${pqDuckAssign("pc1")},
       pc2 AS ${pqDuckUpdate("pa1", "pc1")},$extra
       af AS ${duckAssign("c2", src)},
       probes AS (
         SELECT vec_id, k AS cluster FROM (
           SELECT e.vec_id, c.k,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                    list_sum(list_transform(range(1, 65), i ->
                      (e.qe[i] - c.c[i]) * (e.qe[i] - c.c[i]))) ASC, c.k ASC) AS rn
           FROM $src e CROSS JOIN c2 c WHERE e.vec_id % 25 = 0)
         WHERE rn <= $IvfNprobe),
       codes AS ${pqDuckAssign("pc2", slSrc)},
       qtab AS (
         SELECT s.vec_id AS query_id, s.blk, c.k,
                list_sum(list_transform(range(1, 9), i ->
                  (s.sl[i] - c.c[i]) * (s.sl[i] - c.c[i]))) AS d
         FROM $slSrc s JOIN pc2 c ON c.blk = s.blk
         WHERE s.vec_id % 25 = 0),
       cand AS (
         SELECT p.vec_id AS query_id, x.vec_id
         FROM probes p JOIN af x
           ON x.cluster = p.cluster AND p.vec_id <> x.vec_id),
       est AS (
         SELECT c.query_id, c.vec_id, SUM(q.d) AS adc
         FROM cand c
         JOIN codes x ON x.vec_id = c.vec_id
         JOIN qtab q ON q.query_id = c.query_id AND q.blk = x.blk AND q.k = x.code
         GROUP BY 1, 2),
       short AS (
         SELECT query_id, vec_id FROM (
           SELECT query_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc ASC, vec_id ASC) AS rn FROM est)
         WHERE rn <= 10),
       rerank AS (
         SELECT s.query_id, s.vec_id,
                list_sum(list_transform(range(1, 65), i ->
                  (a.qe[i] - b.qe[i]) * (a.qe[i] - b.qe[i]))) AS ex
         FROM short s JOIN ebp a ON a.vec_id = s.query_id
                      JOIN ebp b ON b.vec_id = s.vec_id)
       SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
              ex::BIGINT AS exact_l2
       FROM (SELECT query_id, vec_id, ex,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY ex ASC, vec_id ASC) AS rk FROM rerank)
       WHERE rk <= 3 ORDER BY query_id, rk"""

  /** Retrieval-eval gate: per-query reciprocal rank of the exact-cosine
    * top-1 inside each ANN arm's ranked list (IVF = s04's, IVFPQ = s21's —
    * both ONE definition with their operators, so the eval can never test
    * a stale pipeline). rr_bp = 10000 DIV rank, 0 when the truth neighbor
    * is outside the arm's top-3 — the MRR building block in exact integer
    * arithmetic, per query and per method so regressions localize. The
    * truth side is the s01-shaped brute-force scan: this is an EVAL
    * operator (smoke-excluded like s01/s03), priced for a sampled query
    * set, not a production path. */
  def s22MrrEval(t: T): DataFrame = {
    import t.spark.implicits._
    val q = t.embeddings.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqNorm("embedding").as("na"))
    // prenorm + fan-out (see s03): one dot per probe pair, parallel scan
    val c = Par.fanOut(t.embeddings.select($"vec_id".as("neighbor_id"),
      $"embedding".as("c_emb"), sqNorm("embedding").as("nb")))
    val sims = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id",
        prenormCos("q_emb", "c_emb", "na", "nb").as("cosine"))
    val truth = rankTopK(sims, "query_id", "cosine", "neighbor_id", 1)
      .select($"query_id", $"neighbor_id".as("truth_nn"))
    def arm(name: String, ann: DataFrame): DataFrame = {
      val a = ann.select($"query_id".as("aq"), $"rk", $"neighbor_id".as("an"))
      truth.join(a, $"query_id" === $"aq" && $"truth_nn" === $"an", "left_outer")
        .select(lit(name).as("method"), $"query_id", $"truth_nn",
          coalesce($"rk", lit(0L)).as("ann_rank"),
          coalesce(expr("10000 DIV rk"), lit(0L)).as("rr_bp"))
    }
    // one training pass feeds both arms (they share the coarse index)
    val cents = Some(trainIvfCentroids(t))
    arm("ivf", ivfAnnFor(t, 0, cents)).unionByName(arm("ivfpq", s21IvfPqAnn(t, cents)))
      .orderBy($"method", $"query_id")
  }

  val s22Oracle: String =
    s"""WITH sims AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                ROUND(${duckCos("a", "b")}, 4) + 0.0 AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id),
       truth AS (
         SELECT query_id, neighbor_id AS truth_nn FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rk
           FROM sims) WHERE rk = 1),
       ivf AS (SELECT query_id, rk, neighbor_id FROM (${ivfOracleFor(0)})),
       pq AS (SELECT query_id, rk, neighbor_id FROM ($s21Oracle))
       SELECT method, query_id, truth_nn, ann_rank, rr_bp FROM (
         SELECT 'ivf' AS method, t.query_id, t.truth_nn,
                COALESCE(a.rk, 0)::BIGINT AS ann_rank,
                COALESCE(10000 // a.rk, 0)::BIGINT AS rr_bp
         FROM truth t LEFT JOIN ivf a
           ON a.query_id = t.query_id AND a.neighbor_id = t.truth_nn
         UNION ALL
         SELECT 'ivfpq', t.query_id, t.truth_nn,
                COALESCE(a.rk, 0)::BIGINT, COALESCE(10000 // a.rk, 0)::BIGINT
         FROM truth t LEFT JOIN pq a
           ON a.query_id = t.query_id AND a.neighbor_id = t.truth_nn)
       ORDER BY method, query_id"""

  /** Index drift / maintenance report — the lifecycle stage between
    * training (s04) and serving (w15): at 100 TB an index is never
    * retrained per ingest batch; the operational question is WHICH cells
    * the new batch degraded enough to re-cluster. The arriving set is
    * w15's disjoint `vec_id % 25 == 7` feed; every vector (indexed mass +
    * arrivals) is assigned to the FROZEN trained centroids, and one
    * conditional-aggregate pass per cell yields: populations, growth_bp,
    * mean quantized-L2 distance to the centroid for indexed vs arriving
    * mass, drift_bp (signed relative mean-distance shift, truncating
    * integer division — Spark DIV == DuckDB `//`, both toward zero), and
    * the retrain flag (growth ≥ 20 % OR drift ≥ 15 %). Everything is
    * exact integer arithmetic on the bp-quantized vectors (l2_sq over
    * small-integer floats accumulates exactly in double ≤ 2^53), so the
    * DuckDB twin — the shared ivfTrainCte chain + the same conditional
    * aggregates — hash-matches.
    *
    * Scale shape: ONE scan of the corpus, map-side centroid assignment
    * against 8 broadcast centroid literals, one partial-aggregated
    * groupBy over k=8 cells — linear, no joins wider than the 8-row
    * centroid frame, no pairs. */
  def s25IndexDrift(t: T): DataFrame = {
    import t.spark.implicits._
    val cents = trainIvfCentroids(t)
    val centDf = t.spark.createDataFrame(
      cents.zipWithIndex.map { case (c, k) => (k, c.map(_.toFloat)) }.toSeq)
      .toDF("cluster", "cent")
    val d = assignCluster(quantized(t), cents)
      .join(broadcast(centDf), "cluster")
      .select($"cluster".cast("long").as("cluster"),
        call_function("l2_sq", $"qe", $"cent").cast("long").as("dist"),
        when($"vec_id" % 25 === 7, 1L).otherwise(0L).as("arr"))
    d.groupBy($"cluster")
      .agg(sum(when($"arr" === 0, 1L).otherwise(0L)).as("n_indexed"),
        sum($"arr").as("n_arriving"),
        sum(when($"arr" === 0, $"dist").otherwise(0L)).as("sdi"),
        sum(when($"arr" === 1, $"dist").otherwise(0L)).as("sda"))
      .select($"cluster", $"n_indexed", $"n_arriving",
        // n_indexed = 0 (a cell whose whole membership is the arriving
        // feed) is guarded on BOTH engines: Spark 4's default ANSI mode
        // makes DIV-by-zero a crash, DuckDB's // yields NULL — guarding to
        // 0 keeps the report total and the hashes aligned
        expr("CASE WHEN n_indexed > 0 THEN n_arriving * 10000 DIV n_indexed ELSE 0L END")
          .as("growth_bp"),
        expr("CASE WHEN n_indexed > 0 THEN sdi DIV n_indexed ELSE 0L END")
          .as("mean_dist_indexed"),
        expr("CASE WHEN n_arriving > 0 THEN sda DIV n_arriving ELSE 0L END")
          .as("mean_dist_arriving"),
        expr("""CASE WHEN n_arriving > 0 AND n_indexed > 0 THEN
                  (sda DIV n_arriving - sdi DIV n_indexed) * 10000
                    DIV greatest(sdi DIV n_indexed, 1L)
                ELSE 0L END""").as("drift_bp"))
      .withColumn("retrain",
        expr("CASE WHEN growth_bp >= 2000 OR drift_bp >= 1500 THEN 1L ELSE 0L END"))
      .orderBy($"cluster")
  }

  val s25Oracle: String =
    s"""WITH $ivfTrainCte,
       af AS ${duckAssign("c2")},
       d AS (
         SELECT a.cluster,
                list_sum(list_transform(range(1, 65), i ->
                  (a.qe[i] - c.c[i]) * (a.qe[i] - c.c[i])))::BIGINT AS dist,
                CASE WHEN a.vec_id % 25 = 7 THEN 1 ELSE 0 END AS arr
         FROM af a JOIN c2 c ON c.k = a.cluster),
       g AS (
         SELECT cluster,
                SUM(CASE WHEN arr = 0 THEN 1 ELSE 0 END)::BIGINT AS n_indexed,
                SUM(arr)::BIGINT AS n_arriving,
                SUM(CASE WHEN arr = 0 THEN dist ELSE 0 END)::BIGINT AS sdi,
                SUM(CASE WHEN arr = 1 THEN dist ELSE 0 END)::BIGINT AS sda
         FROM d GROUP BY cluster)
       SELECT cluster::BIGINT AS cluster, n_indexed, n_arriving,
              CASE WHEN n_indexed > 0 THEN n_arriving * 10000 // n_indexed
                ELSE 0 END AS growth_bp,
              CASE WHEN n_indexed > 0 THEN sdi // n_indexed
                ELSE 0 END AS mean_dist_indexed,
              CASE WHEN n_arriving > 0 THEN sda // n_arriving ELSE 0 END
                AS mean_dist_arriving,
              CASE WHEN n_arriving > 0 AND n_indexed > 0 THEN
                (sda // n_arriving - sdi // n_indexed) * 10000
                  // GREATEST(sdi // n_indexed, 1)
              ELSE 0 END AS drift_bp,
              CASE WHEN (CASE WHEN n_indexed > 0 THEN
                           n_arriving * 10000 // n_indexed ELSE 0 END) >= 2000
                     OR (CASE WHEN n_arriving > 0 AND n_indexed > 0 THEN
                           (sda // n_arriving - sdi // n_indexed) * 10000
                             // GREATEST(sdi // n_indexed, 1)
                         ELSE 0 END) >= 1500
                THEN 1 ELSE 0 END::BIGINT AS retrain
       FROM g ORDER BY cluster"""

  /** Forward/backward neighborhood size for the bitext margin (Artetxe &
    * Schwenk use k=4 in the WikiMatrix configuration). */
  private[graft] val BitextK = 4

  /** Mining threshold in milli: margin ≥ 1.06 — the published CCMatrix
    * operating point. */
  private[graft] val BitextMarginMilli = 1060L

  /** s28 — margin-based bitext mining (Artetxe & Schwenk, ACL 2019; the
    * CCMatrix/WikiMatrix recipe for mining parallel translation pairs, a
    * first-class training-data op for multilingual models). The embeddings
    * table's `label` parity stands in for the two language sides (the
    * corpus has no second language; parity gives two disjoint populated
    * sides deterministically). For a cross-side candidate pair (x, y) the
    * margin is ratio-style: cos(x,y) / mean of the two directional k-NN
    * neighborhoods, and a pair is MINED when its margin clears 1.06 — the
    * device that suppresses hub vectors which are merely globally close to
    * everything.
    *
    * Scale shape: candidates come from the ONE hyperplane banding contract
    * (cross-side same-bucket join, ids-only until the gated embedding
    * rejoin — s02's plan discipline), both directional k-NN means are
    * `topk_scored` partial aggregates over the candidate stream (no window
    * exchange), and the per-source argmax is the same aggregate at k=1.
    * All post-cosine arithmetic is integer (floor-bp cosines, DIV means,
    * DIV margin) so the oracle is hash-exact. Raw kernel is m²-bound on a
    * replica corpus exactly like s02 (the candidate stream is the
    * disease), hence the [[graft.operators.Routing.s29RoutedBitext]] door
    * searches signature representatives above the vector mass gate. */
  def s28BitextMargin(t: T): DataFrame = s28On(t, t.embeddings)

  /** The collapsed gear: mining over one vector per 32-bit signature —
    * replicas fold before any pairing, the s24/s26 device. */
  private[operators] def s28OverRepresentatives(t: T): DataFrame =
    s28On(t, sigRepresentatives(t.embeddings))

  private def s28On(t: T, emb: DataFrame): DataFrame = {
    import t.spark.implicits._
    val sb = idBandsOf(emb.filter($"label" % 2 === 0))
      .select($"vec_id".as("src_id"), $"tbl", $"bucket")
    val tb = idBandsOf(emb.filter($"label" % 2 === 1))
      .select($"vec_id".as("tgt_id"), $"tbl".as("tt"), $"bucket".as("tbk"))
    val cand = sb.join(tb, $"tbl" === $"tt" && $"bucket" === $"tbk")
      .select($"src_id", $"tgt_id").distinct()
    val hint = BroadcastGate.vectorHint(emb)
    val se = emb.select($"vec_id".as("src_id"), $"embedding".as("s_emb"))
    val te = emb.select($"vec_id".as("tgt_id"), $"embedding".as("t_emb"))
    val scored = cand.join(hint(se), "src_id").join(hint(te), "tgt_id")
      .select($"src_id", $"tgt_id",
        expr("cast(floor(cosine_sim(s_emb, t_emb) * 10000) AS bigint)").as("cos_bp"))
    // directional k-NN means over the candidate stream: one partial top-k
    // per direction, integer mean via DIV (sum of <= k exact-integer
    // doubles is exact, so the cast back to long is lossless)
    def knnMean(part: String, id: String, out: String): DataFrame =
      rankTopK(scored.withColumn("s", $"cos_bp".cast("double")), part, "s", id, BitextK)
        .groupBy(col(part))
        .agg(sum(col("s")).cast("long").as("ssum"), count(lit(1)).as("nn"))
        .select(col(part), expr("ssum DIV nn").as(out))
    val margins = scored
      .join(knnMean("src_id", "tgt_id", "mf_bp"), "src_id")
      .join(knnMean("tgt_id", "src_id", "mb_bp"), "tgt_id")
      .withColumn("margin_milli",
        expr("CASE WHEN mf_bp + mb_bp > 0 THEN cos_bp * 2000 DIV (mf_bp + mb_bp) ELSE 0L END"))
    rankTopK(margins.withColumn("m", $"margin_milli".cast("double")),
        "src_id", "m", "tgt_id", 1)
      .select($"src_id", $"tgt_id")
      .join(margins, Seq("src_id", "tgt_id"))
      .select($"src_id", $"tgt_id", $"cos_bp", $"margin_milli",
        expr(s"CASE WHEN margin_milli >= $BitextMarginMilli THEN 1L ELSE 0L END").as("mined"))
      .orderBy($"src_id")
  }

  /** DuckDB twin of the s28 chain, parameterized like [[probeCandCtesFrom]]
    * so the routed door's representative branch reuses the ONE sigs text. */
  private[operators] def s28CtesFrom(mid: String, bandSrc: String): String =
    s"""sigs AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       $mid
       bands AS (
         SELECT vec_id, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM $bandSrc, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT s.vec_id AS src_id, c.vec_id AS tgt_id
         FROM bands s JOIN bands c ON s.tbl = c.tbl AND s.bucket = c.bucket
         JOIN embeddings es ON es.vec_id = s.vec_id AND es.label % 2 = 0
         JOIN embeddings ec ON ec.vec_id = c.vec_id AND ec.label % 2 = 1),
       scored AS (
         SELECT src_id, tgt_id,
                CAST(FLOOR((${duckCos("a", "b")}) * 10000) AS BIGINT) AS cos_bp
         FROM cand JOIN embeddings a ON a.vec_id = src_id
                   JOIN embeddings b ON b.vec_id = tgt_id),
       fwd AS (
         SELECT src_id, (SUM(cos_bp) // COUNT(*))::BIGINT AS mf_bp FROM (
           SELECT src_id, cos_bp,
                  ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos_bp DESC, tgt_id) AS rn
           FROM scored) f WHERE rn <= $BitextK GROUP BY src_id),
       bwd AS (
         SELECT tgt_id, (SUM(cos_bp) // COUNT(*))::BIGINT AS mb_bp FROM (
           SELECT tgt_id, cos_bp,
                  ROW_NUMBER() OVER (PARTITION BY tgt_id ORDER BY cos_bp DESC, src_id) AS rn
           FROM scored) g WHERE rn <= $BitextK GROUP BY tgt_id),
       margins AS (
         SELECT s.src_id, s.tgt_id, s.cos_bp,
                CASE WHEN mf_bp + mb_bp > 0
                     THEN (s.cos_bp * 2000 // (mf_bp + mb_bp))::BIGINT
                     ELSE 0::BIGINT END AS margin_milli
         FROM scored s JOIN fwd USING (src_id) JOIN bwd USING (tgt_id)),
       best AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY margin_milli DESC, tgt_id) AS rn
         FROM margins)"""

  private[operators] val s28Select: String =
    s"""SELECT src_id, tgt_id, cos_bp, margin_milli,
              (CASE WHEN margin_milli >= $BitextMarginMilli THEN 1 ELSE 0 END)::BIGINT AS mined
       FROM best WHERE rn = 1 ORDER BY src_id"""

  val s28Oracle: String =
    s"""WITH ${s28CtesFrom("", "sigs")}
       $s28Select"""

  /** DuckDB twin of [[s28OverRepresentatives]] — s29's collapsed branch. */
  private[graft] val s28RepsOracle: String =
    s"""WITH ${s28CtesFrom(
          "reps AS (SELECT MIN(vec_id) AS vec_id FROM sigs GROUP BY sig),",
          "(SELECT s.* FROM sigs s JOIN reps USING (vec_id)) s2")}
       $s28Select"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_cosine_topk"       -> ((s, d) => s01CosineTopK(T(s, d))),
    "s02_hyperplane_lsh"    -> ((s, d) => s02HyperplaneLsh(T(s, d))),
    "s03_embedding_neardup" -> ((s, d) => s03EmbeddingNeardup(T(s, d))),
    "s04_ivf_ann"           -> ((s, d) => s04IvfAnn(T(s, d))),
    "s05_knn_classify"      -> ((s, d) => s05KnnClassify(T(s, d))),
    "s06_ann_recall"        -> ((s, d) => s06AnnRecall(T(s, d))),
    "s07_ivf_recall"        -> ((s, d) => s07IvfRecall(T(s, d))),
    "s08_ivf_stats"         -> ((s, d) => s08IvfStats(T(s, d))),
    "s09_quant_audit"       -> ((s, d) => s09QuantAudit(T(s, d))),
    "s10_label_purity"      -> ((s, d) => s10LabelPurity(T(s, d))),
    "s11_quant_recall"      -> ((s, d) => s11QuantRecall(T(s, d))),
    "s12_knn_graph"         -> ((s, d) => s12KnnGraph(T(s, d))),
    "s13_cosine_bands"      -> ((s, d) => s13CosineBands(T(s, d))),
    "s14_radius_search"     -> ((s, d) => s14RadiusSearch(T(s, d))),
    "s15_pq_adc_audit"      -> ((s, d) => s15PqAdcAudit(T(s, d))),
    "s16_two_stage_rerank"  -> ((s, d) => s16TwoStageRerank(T(s, d))),
    "s17_filtered_ann"      -> ((s, d) => s17FilteredAnn(T(s, d))),
    "s18_mmr_rerank"        -> ((s, d) => s18MmrRerank(T(s, d))),
    "s19_nprobe_sweep"      -> ((s, d) => s19NprobeSweep(T(s, d))),
    "s20_binary_recall"     -> ((s, d) => s20BinaryRecall(T(s, d))),
    "s21_ivfpq_ann"         -> ((s, d) => s21IvfPqAnn(T(s, d))),
    "s22_mrr_eval"          -> ((s, d) => s22MrrEval(T(s, d))),
    "s25_index_drift"       -> ((s, d) => s25IndexDrift(T(s, d))),
    "s28_bitext_margin"     -> ((s, d) => s28BitextMargin(T(s, d))),
  )

  val oracles: Map[String, String] = Map(
    "s01_cosine_topk"       -> s01Oracle,
    "s02_hyperplane_lsh"    -> s02Oracle,
    "s03_embedding_neardup" -> s03Oracle,
    "s04_ivf_ann"           -> s04Oracle,
    "s05_knn_classify"      -> s05Oracle,
    "s06_ann_recall"        -> s06Oracle,
    "s07_ivf_recall"        -> s07Oracle,
    "s08_ivf_stats"         -> s08Oracle,
    "s09_quant_audit"       -> s09Oracle,
    "s10_label_purity"      -> s10Oracle,
    "s11_quant_recall"      -> s11Oracle,
    "s12_knn_graph"         -> s12Oracle,
    "s13_cosine_bands"      -> s13Oracle,
    "s14_radius_search"     -> s14Oracle,
    "s15_pq_adc_audit"      -> s15Oracle,
    "s16_two_stage_rerank"  -> s16Oracle,
    "s17_filtered_ann"      -> s17Oracle,
    "s18_mmr_rerank"        -> s18Oracle,
    "s19_nprobe_sweep"      -> s19Oracle,
    "s20_binary_recall"     -> s20Oracle,
    "s21_ivfpq_ann"         -> s21Oracle,
    "s22_mrr_eval"          -> s22Oracle,
    "s25_index_drift"       -> s25Oracle,
    "s28_bitext_margin"     -> s28Oracle,
  )
}
