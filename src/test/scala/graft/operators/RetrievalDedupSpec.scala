package graft.operators

import graft.{SparkSpec, T}
import org.apache.spark.sql.functions._

/** Behavioral properties of the round-6 retrieval/dedup additions — not
  * plan shape (PlanQualitySpec) and not oracle equality (the driver gate),
  * but the algorithmic claims the Scaladocs make.
  */
class RetrievalDedupSpec extends SparkSpec {

  private def t = T(spark, sfDir)

  test("d23: CDC chunking localizes an edit — all chunks after the edited one survive") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 12
    val edited = "XED " + base // insertion at the very front — worst case for fixed-offset chunking
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunkHashes(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSeq).toMap
    val (orig, mod) = (chunks(1L), chunks(2L))
    // multiset intersection: every original chunk except the one the edit
    // landed in must reappear verbatim in the edited doc's chunk set
    val shared = orig.groupBy(identity).map { case (h, occ) =>
      math.min(occ.size, mod.count(_ == h))
    }.sum
    assert(orig.nonEmpty && mod.nonEmpty)
    assert(shared >= orig.size - 1,
      s"edit invalidated ${orig.size - shared} chunks (expected <= 1): " +
        s"orig=${orig.size} mod=${mod.size}")
    // and a fixed-offset 8-token chunking of the same pair shares NOTHING
    // after a 1-token front insertion (the property CDC exists to fix) —
    // sanity-check the premise by comparing 8-token fixed windows
    val fixed = docs.select($"doc_id",
        posexplode(expr("filter(split(text, ' '), x -> x <> '')")).as(Seq("pos", "tok")))
      .withColumn("cid", expr("pos DIV 8"))
      .groupBy($"doc_id", $"cid")
      .agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok),
           '', (a, x) -> concat(a, ' ', x))""").as("chunk"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(2)).toSet).toMap
    val fixedShared = (fixed(1L) & fixed(2L)).size
    assert(fixedShared <= 1,
      s"fixed-offset premise broken: $fixedShared windows survived the shift")
  }

  test("s18: MMR's top-3 is no less diverse than the plain similarity top-3") {
    import spark.implicits._
    def intraSim(sel: Map[Long, Seq[Long]]): Double = {
      val pairs = sel.toSeq.flatMap { case (q, ids) =>
        for (a <- ids; b <- ids if a < b) yield (q, a, b)
      }
      val pdf = pairs.toDF("q", "a", "b")
      val e = t.embeddings.select($"vec_id", $"embedding")
      val sims = pdf
        .join(e.select($"vec_id".as("a"), $"embedding".as("ea")), "a")
        .join(e.select($"vec_id".as("b"), $"embedding".as("eb")), "b")
        .select(expr("cosine_sim(ea, eb)").as("s")).collect().map(_.getDouble(0))
      sims.sum / sims.length
    }
    val mmr = Similarity.s18MmrRerank(t).select($"query_id", $"neighbor_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val plain = Similarity.s01CosineTopK(t).filter($"rk" <= 3)
      .select($"query_id", $"neighbor_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    // restrict to s18's probe set (s01 probes are a superset: %25 vs %50)
    val plainOnMmrProbes = plain.view.filterKeys(mmr.contains).toMap
    val (dMmr, dPlain) = (intraSim(mmr), intraSim(plainOnMmrProbes))
    info(f"mean intra-set cosine: mmr=$dMmr%.4f plain=$dPlain%.4f")
    assert(dMmr <= dPlain + 1e-9,
      f"MMR selection ($dMmr%.4f) is LESS diverse than plain top-3 ($dPlain%.4f)")
  }

  test("s16: two-stage rerank recalls most of the exact top-5") {
    import spark.implicits._
    val exact = Similarity.s01CosineTopK(t)
      .select($"query_id", $"neighbor_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val reranked = Similarity.s16TwoStageRerank(t)
      .select($"query_id", $"neighbor_id")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      (reranked.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    info(f"two-stage end-to-end recall@5 vs exact: $mean%.3f over ${recalls.size} queries")
    // Since r7 stage 0 is the LSH bucket candidates (the sf1 lane ceilinged
    // the probe-set × corpus coarse scan), so end-to-end recall is bounded
    // by the banding's recall — near zero on this 50-vector spec corpus
    // (4×8-bit buckets are nearly empty at that size; s06 measures the
    // banding itself at corpus scale). The property of the coarse+rerank
    // stages is that they lose almost NOTHING beyond the banding loss:
    // recall vs the candidate-restricted truth must stay high.
    val cand = Similarity.probeCandIds(t)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val restricted = Similarity.s01CosineTopK(t)
      .select($"query_id", $"neighbor_id")
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
      .map { case (q, ids) => q -> (ids & cand.getOrElse(q, Set.empty)) }
      .filter(_._2.nonEmpty)
    val stageRecalls = restricted.map { case (q, ids) =>
      (reranked.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size
    }
    assert(stageRecalls.nonEmpty, "no query had any in-bucket true neighbor")
    val stageMean = stageRecalls.sum / stageRecalls.size
    info(f"coarse+rerank recall vs candidate-restricted truth: $stageMean%.3f " +
      f"over ${stageRecalls.size} queries")
    assert(stageMean >= 0.8, f"stage recall $stageMean%.3f below floor 0.8")
  }

  test("g12/g13: LPA refines CC — communities nest inside clusters, bridges counted") {
    import spark.implicits._
    val cc = Dedup.d07DedupClusters(t).select($"doc_id", $"cluster_id")
    val lpa = Graph.g12LabelPropagation(t).select($"doc_id", $"community")
    // every LPA community lives inside exactly one connected component
    // (labels only propagate along edges, so they cannot cross components)
    val spread = lpa.join(cc, "doc_id")
      .groupBy($"community").agg(countDistinct($"cluster_id").as("n_cc"))
      .filter($"n_cc" > 1).count()
    assert(spread == 0, s"$spread communities span multiple components")
    val g13 = Graph.g13BridgeEdges(t).collect()
    assert(g13.nonEmpty)
    g13.foreach { r =>
      val (edges, bridges) = (r.getLong(1), r.getLong(2))
      assert(bridges <= edges && bridges >= 0)
    }
  }

  test("d29: the ownership-kept set is pairwise band-disjoint (the structural invariant)") {
    import spark.implicits._
    // keep a doc iff it owns all 4 of its band buckets => no two kept docs
    // can share a bucket (sharing would forfeit the later doc's ownership).
    // This is WHY d29's residual stage needs the prefix-filter index: a
    // band-candidate residual over the kept set is vacuously empty.
    val t = T(spark, sfDir)
    val census = Dedup.ownershipCensus(t.documents)
    val keepers = Dedup.ownershipKeepers(t.documents)
    assert(keepers.count() > 0)
    val kbands = census.select($"doc_id", $"band", $"bkey").join(keepers, "doc_id")
    val shared = kbands.groupBy($"band", $"bkey")
      .agg(countDistinct($"doc_id").as("n")).filter($"n" > 1).count()
    assert(shared == 0, s"$shared buckets shared between kept docs")
    // and the collapse is sound: every dropped doc maps to a kept keeper
    // or to a doc that was itself absorbed — keeper ids are always <= doc_id
    val bad = census
      .groupBy($"doc_id").agg(min($"owner").as("keeper"))
      .filter($"keeper" > $"doc_id").count()
    assert(bad == 0)
  }
}
