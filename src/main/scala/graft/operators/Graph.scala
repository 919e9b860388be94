package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the dedup similarity graph (nodes = docs, edges =
  * LSH near-dup pairs, symmetrized). The reference shipped GraphX examples
  * as client surface; here the iterative-graph capability is declarative
  * joins + aggregations per superstep — d07 covers connected components,
  * this module ranks within the graph.
  *
  * Scale design: each PageRank superstep is one join + one aggregation
  * shuffled on node id — the standard distributed formulation; edges are
  * localCheckpoint'ed once so the 5 supersteps reuse materialized blocks
  * instead of recomputing the LSH pipeline per round.
  *
  * Cross-engine determinism: fixed-point integer arithmetic — ranks in
  * parts-per-million, per-edge contribution = rank DIV outdeg (truncating),
  * damping 0.85 applied as (850 * sum) DIV 1000. Every superstep is a sum
  * of exact integers, so a fixed iteration count yields identical ranks in
  * DuckDB's chained-CTE replica.
  */
object Graph {

  /** 5 supersteps of PageRank (d=0.85) on the symmetrized d04 pair graph.
    * Undirected edges mean every node has outdeg >= 1 and in-edges, so
    * there are no dangling-mass corrections to model. */
  def g01PageRank(t: T): DataFrame = {
    pagerankPpm(Dedup.d04MinhashLshPairs(t).select(col("doc_a"), col("doc_b")))
  }

  /** ONE definition of the 5-superstep integer PageRank over an undirected
    * pair list — g01 runs it on the raw d04 graph, g14 on the collapsed
    * residual graph (same arithmetic, same checkpoint discipline). */
  /** Shared size-gated driver-local finish for the fixed-round graph
    * kernels (r14): collect a symmetrized 2-column (long, long) edge frame
    * when it fits the driver, else None and the caller's distributed loop
    * runs unchanged. The frame must already be localCheckpoint'ed — the
    * gate's count and the collect both read materialized blocks, so the
    * choice costs one cheap job (the connectedComponents discipline,
    * Dedup.scala:446). NOTE (r15, measured): folding gate+fetch into one
    * `limit(threshold+1).collect()` per VERDICT r14 next-5 was tried and
    * REVERTED — CollectLimitExec scans partitions in escalating batches
    * (1, 4, 16, ... via spark.sql.limit.scaleUpFactor) when the limit is
    * not reached, so an under-threshold edge set paid up to FOUR driver
    * jobs instead of two (bench: g06 +0.67 s, g07 +0.46, g08 +0.34,
    * g14 +1.79 at sf0.1/c32). Threshold:
    * spark.graft.graph.localEdgeThreshold, default 2M edges — ~32 MB of
    * raw longs, ~100-150 MB as boxed JVM tuples once collected (budget for
    * the latter before raising it). */
  private def localEdges(edges: DataFrame): Option[Array[(Long, Long)]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val threshold = spark.conf.getOption("spark.graft.graph.localEdgeThreshold")
      .map(_.toLong).getOrElse(2000000L)
    if (edges.count() <= threshold)
      Some(edges.toDF("src", "dst").as[(Long, Long)].collect())
    else None
  }

  private[graft] def pagerankPpm(pairsIn: DataFrame): DataFrame = {
    val spark = pairsIn.sparkSession
    import spark.implicits._
    val edges = pairsIn.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairsIn.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
      .localCheckpoint() // supersteps reuse blocks, not the pair lineage
    // Size-gated local finish (r14 — the connectedComponents discipline,
    // Dedup.scala:446, extended to the fixed-round graph kernels): the
    // symmetrized near-dup edge set is the corpus's DUPLICATE structure,
    // orders of magnitude smaller than the corpus, so most real batches fit
    // the driver. Below the gate the 5 supersteps run as driver loops over
    // the collected edge array — the SAME integer arithmetic, so ranks are
    // bit-identical (the DuckDB oracle re-proves it) — replacing ~5
    // join+agg shuffle rounds and their ~15 stage jobs (JobProbe r14: g14
    // at 45 jobs, g01 at 23). Above it the distributed loop runs unchanged.
    val local = localEdges(edges)
    if (local.isDefined) {
      val es = local.get
      val outdeg = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (s, _) => outdeg(s) = outdeg.getOrElse(s, 0L) + 1L }
      var rank = outdeg.keysIterator.map(_ -> 1000000L).toMap
      for (_ <- 1 to 5) {
        val next = scala.collection.mutable.HashMap.empty[Long, Long]
        es.foreach { case (s, d) =>
          // inner-join semantics: an edge whose src is absent from the rank
          // table contributes nothing (cannot happen on a symmetrized edge
          // set, where every node has in-edges — but keep the exact shape)
          rank.get(s).foreach { r =>
            next(d) = next.getOrElse(d, 0L) + r / outdeg(s) // rank DIV outdeg
          }
        }
        rank = next.iterator.map { case (n, sum) => n -> (150000L + 850L * sum / 1000L) }.toMap
      }
      spark.createDataset(rank.toSeq).toDF("doc_id", "rank_ppm")
        .orderBy($"doc_id")
    } else {
      // loop-invariant: every superstep scans edges-with-outdeg, so join it
      // once and materialize — each round is then one join + one aggregation
      val edgesDeg = edges
        .join(edges.groupBy($"src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint()
      var ranks = edgesDeg.select($"src".as("node")).distinct()
        .select($"node", lit(1000000L).as("rank"))
      for (_ <- 1 to 5) {
        ranks = edgesDeg.join(ranks, $"src" === $"node")
          .select($"dst", expr("rank DIV outdeg").as("contrib"))
          .groupBy($"dst")
          .agg(expr("150000 + (850 * sum(contrib)) DIV 1000").as("rank"))
          .select($"dst".as("node"), $"rank")
      }
      ranks.select($"node".as("doc_id"), $"rank".as("rank_ppm"))
        .orderBy($"doc_id")
    }
  }

  /** Collapse-before-graph (the g01 composition of the d26 recipe): elect
    * longest-doc keepers over the candidate-connectivity clusters (d26's
    * r8 linear star-edge election — no pair enumeration), re-pair the
    * COLLAPSED corpus at d26's 0.42 residual threshold, and rank within
    * that cross-cluster graph. On a replica-heavy corpus the raw d04 edge
    * set grows m² in replica multiplicity (each replica cluster is a
    * near-clique), so raw g01's superstep joins are output-bound the same
    * way d08/d13 were — the 60× probe measured g01 at 105 s for exactly
    * this reason. Collapsing first removes the clique mass; the ranked
    * graph is the residual between-cluster structure, which is what
    * centrality over a dedup graph means once duplicates are folded. */
  def g14CollapsedRank(t: T): DataFrame = {
    pagerankPpm(Dedup.d26CollapsePairs(t).select(col("doc_a"), col("doc_b")))
  }

  val g14Oracle: String =
    s"""WITH cpairs AS (SELECT doc_a, doc_b FROM (${Dedup.d26Oracle()})),
       edges AS (SELECT doc_a AS s, doc_b AS d FROM cpairs
                 UNION SELECT doc_b, doc_a FROM cpairs),
       deg AS (SELECT s, COUNT(*) AS outdeg FROM edges GROUP BY s),
       r0 AS (SELECT s AS node, 1000000::BIGINT AS rank FROM deg),
       r1 AS ${duckStep("r0")},
       r2 AS ${duckStep("r1")},
       r3 AS ${duckStep("r2")},
       r4 AS ${duckStep("r3")},
       r5 AS ${duckStep("r4")}
       SELECT node AS doc_id, rank AS rank_ppm FROM r5 ORDER BY doc_id"""

  /** One superstep against rank CTE `prev`. */
  private def duckStep(prev: String): String =
    s"""(SELECT e.d AS node,
           (150000 + (850 * SUM(r.rank // g.outdeg)) // 1000)::BIGINT AS rank
        FROM edges e JOIN deg g ON g.s = e.s JOIN $prev r ON r.node = e.s
        GROUP BY e.d)"""

  /** Shared DuckDB CTE chain reproducing the d04 LSH pair graph (the edge
    * set both graph queries run on). */
  private val pairsCte: String = {
    val P = Dedup.P
    s"""hs AS (SELECT doc_id,
         list_distinct(list_transform(range(1, length(text) - 2),
           i -> ((ascii(substr(text, i::INT, 1))::BIGINT * 31 + ascii(substr(text, i::INT + 1, 1))) * 31
                 + ascii(substr(text, i::INT + 2, 1))) * 31 + ascii(substr(text, i::INT + 3, 1)))) AS h
       FROM documents),
       sigs AS (SELECT doc_id, h,
         list_transform(range(1, 33), j ->
           list_min(list_transform(h, x ->
             (((1103515245 * j + 12345) % $P) * x + (1103515245 * (j + 101) + 54321) % $P) % $P))) AS sig
       FROM hs),
       bands AS (
         SELECT doc_id, b, array_to_string(sig[b * 8 + 1 : b * 8 + 8], ',') AS bkey
         FROM sigs, range(0, 4) t(b)),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       pairs AS (
         SELECT doc_a, doc_b
         FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b
         WHERE len(list_intersect(a.h, b.h)) * 10000 // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) >= 8000)"""
  }

  val g01Oracle: String =
    s"""WITH $pairsCte,
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT s, COUNT(*) AS outdeg FROM edges GROUP BY s),
       r0 AS (SELECT s AS node, 1000000::BIGINT AS rank FROM deg),
       r1 AS ${duckStep("r0")},
       r2 AS ${duckStep("r1")},
       r3 AS ${duckStep("r2")},
       r4 AS ${duckStep("r3")},
       r5 AS ${duckStep("r4")}
       SELECT node AS doc_id, rank AS rank_ppm FROM r5 ORDER BY doc_id"""

  /** Triangle counting on the same (undirected) pair graph: community
    * density of the near-dup neighborhoods. With edges stored once as
    * doc_a < doc_b, each triangle a<b<c is enumerated exactly once by the
    * two-join wedge-closure pattern — the standard distributed formulation
    * (each join shuffles on one endpoint; no per-node adjacency material-
    * ization, so a 100 TB edge list stays partitioned). Output: per-node
    * triangle participation counts. */
  def g02Triangles(t: T): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.d04MinhashLshPairs(t)
      .select($"doc_a", $"doc_b").localCheckpoint() // 3 self-joins reuse blocks
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), $"e1.doc_b" === $"e2.doc_a")
      .join(pairs.as("e3"),
        $"e3.doc_a" === $"e1.doc_a" && $"e3.doc_b" === $"e2.doc_b")
      .select($"e1.doc_a".as("a"), $"e1.doc_b".as("b"), $"e2.doc_b".as("c"))
    tri.select(explode(array($"a", $"b", $"c")).as("doc_id"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy($"doc_id")
  }

  val g02Oracle: String =
    s"""WITH $pairsCte,
       tri AS (
         SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         FROM pairs e1
         JOIN pairs e2 ON e2.doc_a = e1.doc_b
         JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       nodes AS (
         SELECT a AS doc_id FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri)
       SELECT doc_id, COUNT(*) AS n_triangles
       FROM nodes GROUP BY doc_id ORDER BY doc_id"""

  /** Local clustering coefficient per node with degree >= 2:
    * 2 * triangles * 10000 DIV (deg * (deg - 1)) in basis points — how
    * close each near-dup neighborhood is to a clique (community density of
    * the dedup graph). Same wedge-closure triangle enumeration as g02, one
    * extra degree aggregation; all shuffles key on node id. */
  def g03ClusteringCoefficient(t: T): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.d04MinhashLshPairs(t)
      .select($"doc_a", $"doc_b").localCheckpoint() // reused by deg + 3 joins
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
    val deg = edges.groupBy($"src".as("doc_id")).agg(count(lit(1)).as("deg"))
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), $"e1.doc_b" === $"e2.doc_a")
      .join(pairs.as("e3"),
        $"e3.doc_a" === $"e1.doc_a" && $"e3.doc_b" === $"e2.doc_b")
      .select(explode(array($"e1.doc_a", $"e1.doc_b", $"e2.doc_b")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
    deg.filter($"deg" >= 2)
      .join(tri, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"deg",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        expr("coalesce(n_triangles, 0) * 2 * 10000 DIV (deg * (deg - 1))").as("coeff_bp"))
      .orderBy($"doc_id")
  }

  val g03Oracle: String =
    s"""WITH $pairsCte,
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT s AS doc_id, COUNT(*) AS deg FROM edges GROUP BY s),
       tri AS (
         SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         FROM pairs e1
         JOIN pairs e2 ON e2.doc_a = e1.doc_b
         JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       pertri AS (
         SELECT doc_id, COUNT(*) AS n_triangles FROM (
           SELECT a AS doc_id FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri) GROUP BY doc_id)
       SELECT deg.doc_id, deg,
              COALESCE(n_triangles, 0)::BIGINT AS n_triangles,
              (COALESCE(n_triangles, 0) * 2 * 10000 // (deg * (deg - 1)))::BIGINT AS coeff_bp
       FROM deg LEFT JOIN pertri ON pertri.doc_id = deg.doc_id
       WHERE deg >= 2 ORDER BY deg.doc_id"""

  /** Degree distribution of the near-dup graph — the shape diagnostic that
    * decides salting/skew strategy before running heavier graph passes
    * (a power-law tail here means the CC/PageRank plans need skew handling). */
  def g04DegreeHistogram(t: T): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
    pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
      .groupBy($"src").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"deg")
  }

  val g04Oracle: String =
    s"""WITH $pairsCte,
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s)
       SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg"""

  /** Cluster-size histogram of the near-dup connected components — the
    * dedup diagnostic that sizes the blast radius of d12's keep-policy
    * (how many docs sit in 2-clusters vs giant components). Reuses the
    * star-contraction CC; two narrow aggregations after it. */
  def g05ClusterSizes(t: T): DataFrame = {
    import t.spark.implicits._
    Dedup.connectedComponents(Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b"))
      .groupBy($"cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy($"csize").agg(count(lit(1)).as("n_clusters"))
      .orderBy($"csize")
  }

  val g05Oracle: String =
    s"""WITH $pairsCte,
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach AS (
         WITH RECURSIVE r(doc, label) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e.d, r.label FROM r JOIN edges e ON e.s = r.doc
         ) SELECT doc, MIN(label) AS cluster_id FROM r GROUP BY doc),
       sizes AS (SELECT cluster_id, COUNT(*) AS csize FROM reach GROUP BY cluster_id)
       SELECT csize, COUNT(*) AS n_clusters FROM sizes GROUP BY csize ORDER BY csize"""

  /** 2-core peeling, 3 fixed pruning rounds: repeatedly drop nodes with
    * degree < 2 and the edges touching them — the standard dense-subgraph
    * filter (cores = communities worth clustering, peeled nodes = isolated
    * near-dup pairs). A fixed round count keeps both engines exact (same
    * unrolled-iterations device as s04's Lloyd steps and g01's supersteps);
    * each round is one degree aggregation + two semi-joins shuffled on node
    * id. Output: surviving nodes with their within-core degree. */
  def g06KCore(t: T, k: Int = 2, rounds: Int = 3): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
    val edges0 = pairs.select($"doc_a".as("s"), $"doc_b".as("d"))
      .union(pairs.select($"doc_b".as("s"), $"doc_a".as("d")))
      .distinct()
      .localCheckpoint() // rounds reuse blocks, not the LSH lineage
    // size-gated local finish (r14, see [[localEdges]]): each peel round is
    // a degree census + two set filters — exact integer work a driver loop
    // replicates bit-for-bit, replacing ~4 stage jobs per round (JobProbe
    // r14: g06 at 24 jobs for a sub-second kernel)
    val local = localEdges(edges0)
    if (local.isDefined) {
      var es = local.get
      for (_ <- 1 to rounds) {
        val deg = scala.collection.mutable.HashMap.empty[Long, Long]
        es.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
        val keep = deg.collect { case (n, c) if c >= k => n }.toSet
        es = es.filter { case (s, d) => keep(s) && keep(d) }
      }
      val core = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (s, _) => core(s) = core.getOrElse(s, 0L) + 1L }
      t.spark.createDataset(core.toSeq).toDF("doc_id", "core_deg")
        .orderBy($"doc_id")
    } else {
      var edges = edges0
      for (_ <- 1 to rounds) {
        val keep = edges.groupBy($"s").agg(count(lit(1)).as("deg"))
          .filter($"deg" >= k).select($"s".as("kn"))
        edges = edges
          .join(keep, $"s" === $"kn", "left_semi")
          .join(keep, $"d" === $"kn", "left_semi")
          .localCheckpoint()
      }
      edges.groupBy($"s").agg(count(lit(1)).as("core_deg"))
        .select($"s".as("doc_id"), $"core_deg")
        .orderBy($"doc_id")
    }
  }

  /** One peel round: keep edges whose BOTH endpoints have degree >= 2. */
  private def duckPeel(prev: String): String =
    s"""(SELECT e.s, e.d FROM $prev e
        JOIN (SELECT s FROM $prev GROUP BY s HAVING COUNT(*) >= 2) a ON a.s = e.s
        JOIN (SELECT s FROM $prev GROUP BY s HAVING COUNT(*) >= 2) b ON b.s = e.d)"""

  val g06Oracle: String =
    s"""WITH $pairsCte,
       e0 AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
       e1 AS ${duckPeel("e0")},
       e2 AS ${duckPeel("e1")},
       e3 AS ${duckPeel("e2")}
       SELECT s AS doc_id, COUNT(*) AS core_deg
       FROM e3 GROUP BY s ORDER BY doc_id"""

  /** Degree-assortativity moments over the symmetrized pair graph: for
    * every directed edge, the endpoint degrees' exact integer sums
    * (Σda, Σdb, Σda·db, Σda², Σdb²) — the five numbers that determine the
    * Pearson degree correlation ("do near-dup hubs link to hubs?"), kept
    * as exact int64 so the oracle matches bit-for-bit and the float
    * division happens client-side. One degree aggregation + two broadcast-
    * able joins back to the edge list, all shuffled on node id. */
  def g07Assortativity(t: T): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
    val edges = pairs.select($"doc_a".as("s"), $"doc_b".as("d"))
      .union(pairs.select($"doc_b".as("s"), $"doc_a".as("d")))
      .distinct()
      .localCheckpoint()
    val deg = edges.groupBy($"s").agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select($"s".as("sa"), $"deg".as("da")), $"s" === $"sa")
      .join(deg.select($"s".as("sb"), $"deg".as("db")), $"d" === $"sb")
      .agg(count(lit(1)).as("n_edges"),
        sum($"da").as("s_da"), sum($"db").as("s_db"),
        sum($"da" * $"db").as("s_dadb"),
        sum($"da" * $"da").as("s_da2"), sum($"db" * $"db").as("s_db2"))
  }

  val g07Oracle: String =
    s"""WITH $pairsCte,
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s)
       SELECT COUNT(*) AS n_edges,
              SUM(a.deg)::BIGINT AS s_da, SUM(b.deg)::BIGINT AS s_db,
              SUM(a.deg * b.deg)::BIGINT AS s_dadb,
              SUM(a.deg * a.deg)::BIGINT AS s_da2,
              SUM(b.deg * b.deg)::BIGINT AS s_db2
       FROM edges e JOIN deg a ON a.s = e.s JOIN deg b ON b.s = e.d"""

  /** Modularity decomposition of the LANGUAGE partition over the near-dup
    * graph: per lang, the intra-community edge share (gain_bp ~ e_c/m) and
    * the degree-based null-model expectation (null_bp ~ (d_c/2m)^2), each in
    * integer basis points. Their difference is the community's modularity
    * term; they are emitted separately because the difference can be
    * negative and Spark's DIV truncates toward zero while DuckDB's //
    * floors — keeping both numerators non-negative keeps the arithmetic
    * engine-exact. High gain vs null means near-dups concentrate within a
    * language (dedup can shard by lang); gain ~ null means the partition is
    * no better than random. One pass over the attributed edge list. */
  def g08Modularity(t: T): DataFrame = {
    import t.spark.implicits._
    val lab = t.documents.select($"doc_id", $"lang")
    // cache, not localCheckpoint: m/deg/intra reuse the blocks but lineage
    // stays intact (an evicted or executor-lost block recomputes instead of
    // failing the job), and nothing materializes unless the result runs
    val pe = Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
      .join(lab.select($"doc_id".as("doc_a"), $"lang".as("la")), "doc_a")
      .join(lab.select($"doc_id".as("doc_b"), $"lang".as("lb")), "doc_b")
      .cache()
    val m = pe.select(count(lit(1)).as("m"))
    val deg = pe.select($"la".as("lang")).union(pe.select($"lb".as("lang")))
      .groupBy($"lang").agg(count(lit(1)).as("degree_sum"))
    val intra = pe.filter($"la" === $"lb")
      .groupBy($"la".as("lang")).agg(count(lit(1)).as("n_intra"))
    deg.join(intra, Seq("lang"), "left")
      .withColumn("n_intra", coalesce($"n_intra", lit(0L)))
      .crossJoin(broadcast(m))
      .select($"lang", $"n_intra", $"degree_sum", $"m".as("n_edges"),
        expr("(n_intra * 10000) DIV m").as("gain_bp"),
        expr("(degree_sum * degree_sum * 10000) DIV (4 * m * m)").as("null_bp"))
      .orderBy($"lang")
  }

  val g08Oracle: String =
    s"""WITH $pairsCte,
       pe AS (SELECT p.doc_a, p.doc_b, a.lang AS la, b.lang AS lb
              FROM pairs p
              JOIN documents a ON a.doc_id = p.doc_a
              JOIN documents b ON b.doc_id = p.doc_b),
       m AS (SELECT COUNT(*) AS m FROM pe),
       deg AS (SELECT lang, COUNT(*) AS degree_sum
               FROM (SELECT la AS lang FROM pe UNION ALL SELECT lb FROM pe) u
               GROUP BY lang),
       intra AS (SELECT la AS lang, COUNT(*) AS n_intra FROM pe
                 WHERE la = lb GROUP BY la)
       SELECT d.lang, COALESCE(i.n_intra, 0)::BIGINT AS n_intra,
              d.degree_sum::BIGINT AS degree_sum, m.m AS n_edges,
              (COALESCE(i.n_intra, 0) * 10000 // m.m)::BIGINT AS gain_bp,
              (d.degree_sum * d.degree_sum * 10000
                 // (4 * m.m * m.m))::BIGINT AS null_bp
       FROM deg d LEFT JOIN intra i USING (lang) CROSS JOIN m
       ORDER BY d.lang"""

  /** Duplication blast radius — the one-row KPI a dedup pass is judged by:
    * component count, docs involved in any duplicate cluster, the largest
    * cluster's size, corpus coverage in basis points, and the docs a
    * keep-one-per-cluster policy would drop. Composes d07's labels with one
    * rollup + one scalar aggregate (broadcast to attach the corpus total). */
  def g09BlastRadius(t: T): DataFrame = {
    import t.spark.implicits._
    val sizes = Dedup.d07DedupClusters(t)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
    val total = t.documents.select(count(lit(1)).as("n_corpus"))
    sizes.agg(count(lit(1)).as("n_components"),
        sum($"sz").as("n_dup_docs"),
        max($"sz").as("largest"),
        (sum($"sz") - count(lit(1))).as("n_droppable"))
      .crossJoin(broadcast(total))
      .select($"n_components", $"n_dup_docs", $"largest", $"n_droppable",
        expr("n_dup_docs * 10000 DIV n_corpus").as("coverage_bp"),
        $"n_corpus")
  }

  /** The d07 oracle verbatim, rolled up to the one-row KPI. */
  val g09Oracle: String =
    s"""WITH labels AS (${Dedup.d07Oracle}),
       sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM labels GROUP BY 1),
       tot AS (SELECT COUNT(*) AS n_corpus FROM documents)
       SELECT COUNT(*)::BIGINT AS n_components,
              SUM(sz)::BIGINT AS n_dup_docs,
              MAX(sz)::BIGINT AS largest,
              (SUM(sz) - COUNT(*))::BIGINT AS n_droppable,
              (SUM(sz) * 10000 // n_corpus)::BIGINT AS coverage_bp,
              n_corpus::BIGINT AS n_corpus
       FROM sizes CROSS JOIN tot GROUP BY n_corpus"""

  /** Two-hop reach: |{nodes at distance <= 2}| per node on the symmetrized
    * d04 pair graph — the "how far does a dup neighborhood spread" KPI one
    * join deeper than degree (g04). One self-join on the edge list (shuffle
    * keyed on the shared endpoint) + one distinct + one count; cache() so
    * the two uses of edges reuse blocks with lineage intact. */
  def g10TwoHopReach(t: T): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
      .cache() // reused by the direct arm and both sides of the self-join
    val twoHop = edges.as("a").join(edges.as("b"),
        $"a.dst" === $"b.src" && $"a.src" =!= $"b.dst")
      .select($"a.src".as("src"), $"b.dst".as("dst"))
    edges.union(twoHop).distinct()
      .groupBy($"src").agg(count(lit(1)).as("n_within_2"))
      .select($"src".as("doc_id"), $"n_within_2")
      .orderBy($"doc_id")
  }

  /** d04's oracle as the edge CTE, one self-join deeper. */
  val g10Oracle: String =
    s"""WITH mh AS (${Dedup.d04Oracle}),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh
                 UNION SELECT doc_b, doc_a FROM mh),
       reach AS (
         SELECT src, dst FROM edges
         UNION
         SELECT a.src, b.dst FROM edges a JOIN edges b
           ON a.dst = b.src AND a.src <> b.dst)
       SELECT src AS doc_id, COUNT(*) AS n_within_2
       FROM reach GROUP BY 1 ORDER BY doc_id"""

  /** Per-cluster edge density: verified near-dup edges over possible pairs
    * within each d07 cluster, in basis points — density 10000 = clique
    * (pure replica group), low density = chained/bridged cluster that a
    * keeper policy should NOT collapse to one survivor. Two equi-joins to
    * label edge endpoints + two tiny aggregates. */
  def g11ClusterDensity(t: T): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
    val cl = Dedup.d07DedupClusters(t)
    val la = cl.select($"doc_id".as("doc_a"), $"cluster_id")
    val edgeCount = pairs.join(la, "doc_a") // CC of these edges => both ends share the cluster
      .groupBy($"cluster_id").agg(count(lit(1)).as("n_edges"))
    val docCount = cl.groupBy($"cluster_id").agg(count(lit(1)).as("n_docs"))
    docCount.join(edgeCount, "cluster_id")
      .withColumn("density_bp", expr("n_edges * 20000 DIV (n_docs * (n_docs - 1))"))
      .orderBy($"cluster_id")
  }

  /** d04 + d07 oracles as CTEs; density from the same integer arithmetic. */
  val g11Oracle: String =
    s"""WITH mh AS (${Dedup.d04Oracle}),
       cc AS (${Dedup.d07Oracle}),
       ec AS (SELECT cc.cluster_id, COUNT(*) AS n_edges
              FROM mh JOIN cc ON cc.doc_id = mh.doc_a GROUP BY 1),
       dc AS (SELECT cluster_id, COUNT(*) AS n_docs FROM cc GROUP BY 1)
       SELECT cluster_id, n_docs, n_edges,
              n_edges * 20000 // (n_docs * (n_docs - 1)) AS density_bp
       FROM dc JOIN ec USING (cluster_id) ORDER BY cluster_id"""

  /** Synchronous label propagation (3 rounds) — community detection on the
    * near-dup graph. Every node starts labeled with its own id; each round
    * it adopts the MOST COMMON label among its neighbors (ties broken by
    * smallest label, making the sync schedule fully deterministic — the
    * property async LPA famously lacks). Communities are fuzzier than d07's
    * connected components: CC fuses everything reachable, LPA keeps weakly
    * bridged groups apart — the distinction g11 measures as density.
    *
    * Scale shape: per round, one equi-join of the edge list against the
    * (node, label) table shuffled on node id + one vote aggregation + one
    * per-node window on the (node, candidate-label) vote table — all keyed
    * shuffles, no all-pairs anywhere; rounds reuse localCheckpoint'ed edge
    * blocks exactly like g01 (executor-loss caveat documented there). */
  /** The 3-round sync-LPA core on a precomputed symmetrized edge list —
    * factored so g13 can thread ONE pair computation into both parents
    * instead of re-deriving the LSH subplan per consumer. */
  def lpaCommunities(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import pairs.sparkSession.implicits._
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
      .localCheckpoint() // 3 rounds reuse blocks, not the pair lineage
    // size-gated local finish (r14, see [[localEdges]]): a sync-LPA round is
    // integer vote counting + a (votes DESC, label ASC) argmin per node —
    // exactly replicable in a driver loop, replacing the per-round join +
    // vote aggregation + window (JobProbe r14: g12 at 17 jobs, g13 at 30)
    val local = localEdges(edges)
    if (local.isDefined) {
      val es = local.get
      var label: collection.Map[Long, Long] =
        es.iterator.map(_._1).toSet.iterator.map((n: Long) => n -> n).toMap
      for (_ <- 1 to 3) {
        val votes = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        es.foreach { case (s, d) =>
          val l = label(d) // total on a symmetrized edge set
          votes((s, l)) = votes.getOrElse((s, l), 0L) + 1L
        }
        val next = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
        votes.foreach { case ((s, l), v) =>
          next.get(s) match {
            case Some((bv, bl)) if bv > v || (bv == v && bl < l) => ()
            case _ => next(s) = (v, l)
          }
        }
        label = next.map { case (s, (_, l)) => s -> l }
      }
      pairs.sparkSession.createDataset(label.toSeq)
        .toDF("doc_id", "community")
    } else {
      var labels = edges.select($"src".as("node")).distinct()
        .select($"node", $"node".as("label"))
      for (_ <- 1 to 3) {
        labels = edges.join(labels, $"node" === $"dst")
          .groupBy($"src", $"label").agg(count(lit(1)).as("votes"))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"src").orderBy($"votes".desc, $"label")))
          .filter($"rk" === 1)
          .select($"src".as("node"), $"label")
      }
      labels.select($"node".as("doc_id"), $"label".as("community"))
    }
  }

  def g12LabelPropagation(t: T): DataFrame = {
    import t.spark.implicits._
    val labels = lpaCommunities(Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b"))
    val sizes = labels.groupBy($"community").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "community")
      .select($"doc_id", $"community", $"community_size")
      .orderBy($"doc_id")
  }

  /** One sync-LPA round against label CTE `prev`. */
  private def lpaStep(prev: String): String =
    s"""(SELECT node, label FROM (
          SELECT node, label,
                 ROW_NUMBER() OVER (PARTITION BY node
                   ORDER BY votes DESC, label) AS rk
          FROM (SELECT e.s AS node, l.label, COUNT(*) AS votes
                FROM edges e JOIN $prev l ON l.node = e.d
                GROUP BY 1, 2)) WHERE rk = 1)"""

  val g12Oracle: String =
    s"""WITH $pairsCte,
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       l0 AS (SELECT DISTINCT s AS node, s AS label FROM edges),
       l1 AS ${lpaStep("l0")},
       l2 AS ${lpaStep("l1")},
       l3 AS ${lpaStep("l2")},
       sizes AS (SELECT label, COUNT(*)::BIGINT AS community_size
                 FROM l3 GROUP BY 1)
       SELECT node AS doc_id, label AS community, community_size
       FROM l3 JOIN sizes USING (label) ORDER BY doc_id"""

  /** Bridge-edge audit: edges whose endpoints connected components (d07)
    * FUSED into one cluster but label propagation (g12) keeps in DIFFERENT
    * communities — the weak links where transitive chaining glued otherwise
    * distinct near-dup groups. Per cluster: edge count, bridge count, and
    * bridge share in bp. A keeper policy (d12) that collapses a cluster to
    * one survivor is unsafe exactly where bridge_bp is high — the cluster
    * is chained, not a replica clique (g11 measures the same risk as
    * density; this names the specific cutting edges' mass).
    *
    * Scale shape: three equi-joins labeling edge endpoints with (cluster,
    * community) + one groupBy(cluster) — all keyed on doc ids, reusing the
    * edge list both parents already computed. */
  def g13BridgeEdges(t: T): DataFrame = {
    import t.spark.implicits._
    // ONE pair computation feeds the edge audit and both labelings (the
    // LSH subplan is the expensive part; localCheckpoint shares its blocks)
    val pairs = Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b")
      .localCheckpoint()
    val cl = Dedup.connectedComponents(pairs).select($"doc_id", $"cluster_id")
    val lpa = lpaCommunities(pairs)
    pairs
      .join(cl.select($"doc_id".as("doc_a"), $"cluster_id"), "doc_a")
      .join(lpa.select($"doc_id".as("doc_a"), $"community".as("com_a")), "doc_a")
      .join(lpa.select($"doc_id".as("doc_b"), $"community".as("com_b")), "doc_b")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        sum(when($"com_a" =!= $"com_b", 1L).otherwise(0L)).as("n_bridges"))
      .withColumn("bridge_bp", expr("n_bridges * 10000 DIV n_edges"))
      .orderBy($"cluster_id")
  }

  val g13Oracle: String =
    s"""WITH $pairsCte,
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       l0 AS (SELECT DISTINCT s AS node, s AS label FROM edges),
       l1 AS ${lpaStep("l0")},
       l2 AS ${lpaStep("l1")},
       l3 AS ${lpaStep("l2")},
       cc AS (${Dedup.d07Oracle})
       SELECT cc_a.cluster_id, COUNT(*)::BIGINT AS n_edges,
              SUM(CASE WHEN la.label <> lb.label THEN 1 ELSE 0 END)::BIGINT
                AS n_bridges,
              SUM(CASE WHEN la.label <> lb.label THEN 1 ELSE 0 END)::BIGINT
                * 10000 // COUNT(*)::BIGINT AS bridge_bp
       FROM pairs p
       JOIN cc cc_a ON cc_a.doc_id = p.doc_a
       JOIN l3 la ON la.node = p.doc_a
       JOIN l3 lb ON lb.node = p.doc_b
       GROUP BY cc_a.cluster_id ORDER BY cc_a.cluster_id"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_pagerank"  -> ((s, d) => g01PageRank(T(s, d))),
    "g02_triangles" -> ((s, d) => g02Triangles(T(s, d))),
    "g03_clustering_coeff" -> ((s, d) => g03ClusteringCoefficient(T(s, d))),
    "g04_degree_histogram" -> ((s, d) => g04DegreeHistogram(T(s, d))),
    "g05_cluster_sizes"    -> ((s, d) => g05ClusterSizes(T(s, d))),
    "g06_kcore"            -> ((s, d) => g06KCore(T(s, d))),
    "g07_assortativity"    -> ((s, d) => g07Assortativity(T(s, d))),
    "g08_modularity"       -> ((s, d) => g08Modularity(T(s, d))),
    "g09_blast_radius"     -> ((s, d) => g09BlastRadius(T(s, d))),
    "g10_two_hop_reach"    -> ((s, d) => g10TwoHopReach(T(s, d))),
    "g11_cluster_density"  -> ((s, d) => g11ClusterDensity(T(s, d))),
    "g12_label_propagation" -> ((s, d) => g12LabelPropagation(T(s, d))),
    "g13_bridge_edges"      -> ((s, d) => g13BridgeEdges(T(s, d))),
    "g14_collapsed_rank"    -> ((s, d) => g14CollapsedRank(T(s, d))),
  )

  val oracles: Map[String, String] = Map(
    "g01_pagerank"  -> g01Oracle,
    "g02_triangles" -> g02Oracle,
    "g03_clustering_coeff" -> g03Oracle,
    "g04_degree_histogram" -> g04Oracle,
    "g05_cluster_sizes"    -> g05Oracle,
    "g06_kcore"            -> g06Oracle,
    "g07_assortativity"    -> g07Oracle,
    "g08_modularity"       -> g08Oracle,
    "g09_blast_radius"     -> g09Oracle,
    "g10_two_hop_reach"    -> g10Oracle,
    "g11_cluster_density"  -> g11Oracle,
    "g12_label_propagation" -> g12Oracle,
    "g13_bridge_edges"      -> g13Oracle,
    "g14_collapsed_rank"    -> g14Oracle,
  )
}
