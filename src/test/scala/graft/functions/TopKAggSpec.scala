package graft.functions

import graft.{SparkSpec, T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

class TopKAggSpec extends SparkSpec {

  private def t = T(spark, sfDir)

  test("topk_longs equals the window top-k on every group") {
    import spark.implicits._
    val viaAgg = t.orders
      .select($"o_orderstatus", expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy($"o_orderstatus")
      .agg(expr("topk_longs(cents, 3)").as("top3"))
    val w = Window.partitionBy($"o_orderstatus").orderBy($"cents".desc)
    val viaWindow = t.orders
      .select($"o_orderstatus", expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").as("cents"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .groupBy($"o_orderstatus")
      .agg(sort_array(collect_list($"cents"), asc = false).as("top3"))
    assert(snap(viaAgg) === snap(viaWindow))
  }

  test("topk_longs buffers merge across repartitionings (partial agg correctness)") {
    import spark.implicits._
    val base = t.orders.select($"o_orderkey",
      $"o_orderstatus", expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").as("cents"))
    val one = base.coalesce(1).groupBy($"o_orderstatus")
      .agg(expr("topk_longs(cents, 5)").as("top"))
    val many = base.repartition(13, $"o_orderkey" % 13)
      .groupBy($"o_orderstatus").agg(expr("topk_longs(cents, 5)").as("top"))
    assert(snap(one) === snap(many))
  }

  test("groups smaller than k return all values, sorted descending") {
    import spark.implicits._
    val r = Seq((1L, 5L), (1L, 9L), (2L, 7L)).toDF("g", "v")
      .groupBy($"g").agg(expr("topk_longs(v, 4)").as("top"))
      .orderBy($"g").collect()
    assert(r(0).getSeq[Long](1) === Seq(9L, 5L))
    assert(r(1).getSeq[Long](1) === Seq(7L))
  }

  /** Scored pairs with heavy score ties (score = cents % 7) so the id
    * tie-break carries the ordering — the regime where a buggy top-k
    * silently diverges from the window. */
  private def scoredPairs = {
    import spark.implicits._
    t.orders.select(
      $"o_orderstatus".as("g"),
      expr("CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) % 7 AS DOUBLE)").as("score"),
      $"o_orderkey".as("id"))
  }

  test("topk_scored(largest) equals row_number window (score DESC, id ASC) on every group") {
    import spark.implicits._
    val viaAgg = scoredPairs.groupBy($"g")
      .agg(expr("topk_scored(score, id, 4)").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).cast("long").as("rk"),
        $"col.id".as("id"), $"col.score".as("score"))
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id")
    val viaWindow = scoredPairs
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 4)
      .select($"g", $"rk".cast("long").as("rk"), $"id", $"score")
    assert(snap(viaAgg) === snap(viaWindow))
  }

  test("topk_scored(smallest) equals row_number window (score ASC, id ASC)") {
    import spark.implicits._
    val viaAgg = scoredPairs.groupBy($"g")
      .agg(expr("topk_scored(score, id, 3, false)").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).cast("long").as("rk"),
        $"col.id".as("id"), $"col.score".as("score"))
    val w = Window.partitionBy($"g").orderBy($"score".asc, $"id")
    val viaWindow = scoredPairs
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"g", $"rk".cast("long").as("rk"), $"id", $"score")
    assert(snap(viaAgg) === snap(viaWindow))
  }

  /** String-id pairs with heavy score ties so the UTF8 tie-break carries
    * the ordering. */
  private def scoredStrPairs = {
    import spark.implicits._
    t.customer.select(
      $"c_mktsegment".as("g"),
      expr("CAST(c_custkey % 5 AS DOUBLE)").as("score"),
      $"c_name".as("id"))
  }

  test("topk_scored_str(largest) equals row_number window (score DESC, id ASC)") {
    import spark.implicits._
    val viaAgg = scoredStrPairs.groupBy($"g")
      .agg(expr("topk_scored_str(score, id, 4)").as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).cast("long").as("rk"),
        $"col.id".as("id"), $"col.score".as("score"))
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id")
    val viaWindow = scoredStrPairs
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 4)
      .select($"g", $"rk".cast("long").as("rk"), $"id", $"score")
    assert(snap(viaAgg) === snap(viaWindow))
  }

  test("topk_scored_str buffers merge across repartitionings") {
    import spark.implicits._
    val one = scoredStrPairs.coalesce(1).groupBy($"g")
      .agg(expr("topk_scored_str(score, id, 5)").as("top"))
    val many = scoredStrPairs.repartition(13, length($"id") % 13).groupBy($"g")
      .agg(expr("topk_scored_str(score, id, 5)").as("top"))
    assert(snap(one) === snap(many))
  }

  test("topk_scored buffers merge across repartitionings (partial agg correctness)") {
    import spark.implicits._
    val one = scoredPairs.coalesce(1).groupBy($"g")
      .agg(expr("topk_scored(score, id, 5)").as("top"))
    val many = scoredPairs.repartition(13, $"id" % 13).groupBy($"g")
      .agg(expr("topk_scored(score, id, 5)").as("top"))
    assert(snap(one) === snap(many))
  }
}
