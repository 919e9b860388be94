package graft.sharing

import graft.{SparkSpec, T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AutoMergeSpec extends SparkSpec {

  private lazy val li = T(spark, sfDir).lineitem
  private lazy val orders = T(spark, sfDir).orders

  private def returned = li.filter(col("l_returnflag") === "R")
    .groupBy("l_linestatus").agg(sum("l_quantity").as("qty"))
  private def taxed = li.filter(col("l_tax") > 0.05)
    .groupBy("l_linestatus")
    .agg(sum("l_extendedprice").as("rev"), count(lit(1)).as("n"))
  private def unfiltered = li.groupBy("l_linestatus")
    .agg(max("l_discount").as("mx"))
  private def joinShaped = li.join(T(spark, sfDir).orders,
    col("l_orderkey") === col("o_orderkey")).groupBy("l_linestatus").count()

  private def shape(df: DataFrame) = AutoMerge.shapeOf("q", df.queryExecution.analyzed)

  /** Runs `defs` as one window and asserts each answer equals its isolated
    * run; returns the merge groups the window formed. */
  private def mergedEqualsIsolated(defs: Seq[(String, () => DataFrame)]): Seq[Seq[String]] = {
    val isolated = defs.map { case (n, f) => n -> snap(f()) }.toMap
    val ex = new WorkSharingExecutor(spark)
    try {
      val out = ex.runBatch(defs.map { case (n, f) => QueryJob[Seq[String]](n, _ => f(), snap) })
      isolated.foreach { case (n, rows) => assert(out(n).get == rows, s"job $n") }
    } finally ex.shutdown()
    AutoMerge.detect(defs.map { case (n, f) => n -> f() })._1.map(_.map(_.name))
  }

  test("shapeOf recognizes aggregate jobs and rejects joins") {
    assert(shape(returned).isDefined)
    assert(shape(unfiltered).exists(_.filter.isEmpty))
    assert(shape(joinShaped).isEmpty)
  }

  test("shapeOf takes views, DSv2 scans, explode and ORDER BY; rejects other tops") {
    spark.read.format("graft.sources.SynthSource").option("rows", "2000").load()
      .createOrReplaceTempView("am_synth")
    val wordCount = "SELECT token, count(*) AS n FROM (SELECT explode(split(text, ' ')) " +
      "AS token FROM am_synth WHERE text LIKE '%spark%') t GROUP BY token"
    val ok = Seq(wordCount, wordCount + " ORDER BY token",
      "SELECT count(*) AS n FROM am_synth WHERE text LIKE '%key%'")
    ok.foreach(q => assert(shape(spark.sql(q)).isDefined, q))
    val rejected = Seq(wordCount + " HAVING count(*) > 3", wordCount + " LIMIT 5",
      "SELECT count(DISTINCT lang) AS n FROM am_synth WHERE doc_id > 5",
      "SELECT count(*) AS n FROM am_synth WHERE rand() > 0.5",
      "SELECT lang, count(*) OVER (PARTITION BY lang) AS n FROM am_synth")
    rejected.foreach(q => assert(shape(spark.sql(q)).isEmpty, q))
  }

  test("detect groups same-relation same-keys jobs, leaves the join out") {
    val built = Seq[(String, DataFrame)]("returned" -> returned,
      "taxed" -> taxed, "unfiltered" -> unfiltered, "join" -> joinShaped)
    val (groups, unmerged) = AutoMerge.detect(built)
    assert(groups.size == 1)
    assert(groups.head.map(_.name) == Seq("returned", "taxed", "unfiltered"))
    assert(unmerged == Seq("join"))
  }

  test("detect merges only statements built on sessions with equal confs") {
    def q(f: String) = s"SELECT count(*) AS n FROM parquet.`$sfDir/lineitem.parquet` WHERE $f"
    val Seq(a, b, c) = Seq.fill(3)(spark.newSession())
    val ansi = "spark.sql.ansi.enabled"
    c.conf.set(ansi, (!c.conf.get(ansi).toBoolean).toString)
    val (groups, unmerged) = AutoMerge.detect(Seq("a" -> a.sql(q("l_tax > 0.05")),
      "b" -> b.sql(q("l_returnflag = 'R'")), "c" -> c.sql(q("l_quantity < 10"))))
    assert(groups.map(_.map(_.name)) == Seq(Seq("a", "b")))
    assert(unmerged == Seq("c"))
  }

  test("metamorphic: auto-merged window results == isolated results") {
    val groups = mergedEqualsIsolated(Seq(
      "returned" -> (() => returned), "taxed" -> (() => taxed),
      "unfiltered" -> (() => unfiltered), "join" -> (() => joinShaped)))
    assert(groups == Seq(Seq("returned", "taxed", "unfiltered")))
  }

  test("metamorphic: merged == separate jobs, grouped and ungrouped") {
    val filters = Seq("returned" -> (col("l_returnflag") === "R"),
      "cheap" -> (col("l_extendedprice") < 2000), "taxed" -> (col("l_tax") > 0.05),
      "impossible" -> (col("l_quantity") < 0))
    val grouped = filters.map { case (n, f) =>
      s"g_$n" -> (() => li.filter(f).groupBy("l_linestatus").agg(sum("l_quantity").as("q")))
    }
    val ungrouped = filters.map { case (n, f) =>
      s"u_$n" -> (() => li.filter(f).agg(sum("l_quantity").as("q"), count(lit(1)).as("n")))
    }
    val groups = mergedEqualsIsolated(grouped ++ ungrouped)
    assert(groups.map(_.toSet) == Seq(grouped.map(_._1).toSet, ungrouped.map(_._1).toSet))
  }

  test("groups a job never touched are absent from its split") {
    val defs = Seq[(String, () => DataFrame)](
      "all" -> (() => li.groupBy("l_linestatus").agg(sum("l_quantity").as("q"))),
      "impossible" -> (() => li.filter(col("l_quantity") < 0)
        .groupBy("l_linestatus").agg(sum("l_quantity").as("q"))))
    assert(AutoMerge.detect(defs.map { case (n, f) => n -> f() })._1.map(_.map(_.name)) ==
      Seq(Seq("all", "impossible")))
    val ex = new WorkSharingExecutor(spark)
    val out = try ex.runBatch(defs.map { case (n, f) => QueryJob[Seq[String]](n, _ => f(), snap) })
    finally ex.shutdown()
    assert(out("all").get.nonEmpty)
    assert(out("impossible").get.isEmpty, out("impossible"))
  }

  test("an ungrouped aggregate whose filter matches nothing keeps its one row") {
    val none = () => orders.filter(col("o_orderkey") < 0).agg(count(lit(1)))
    val some = () => orders.filter(col("o_orderkey") > 0).agg(count(lit(1)))
    assert(snap(none()) == Seq("[0]"))
    val groups = mergedEqualsIsolated(Seq("none" -> none, "some" -> some))
    assert(groups == Seq(Seq("none", "some")))
  }

  test("the merged meta-plan scans the relation once for the whole group") {
    val built = Seq[(String, DataFrame)]("returned" -> returned,
      "taxed" -> taxed, "unfiltered" -> unfiltered)
    val (groups, _) = AutoMerge.detect(built)
    val merged = org.apache.spark.sql.GraftSqlShim.ofRows(spark, AutoMerge.metaPlan(groups.head))
    val scans = "FileScan".r
      .findAllIn(merged.queryExecution.executedPlan.toString).size
    assert(scans == 1, merged.queryExecution.executedPlan)
    // every member's aggregate outputs and presence count are columns
    assert(merged.columns.toSeq == Seq("__m0_0", "__m0_1", "__n0",
      "__m1_0", "__m1_1", "__m1_2", "__n1", "__m2_0", "__m2_1", "__n2"), merged.columns)
  }
}
