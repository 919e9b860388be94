package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BitmapDistinctRewriteSpec extends SparkSpec {

  /** The rule is installed by GraftExtensions on every session; the conf
    * opts a session in. */
  private def withBitmapDistinct[A](f: => A): A =
    try {
      spark.conf.set("spark.graft.bitmapDistinct", "true")
      f
    } finally spark.conf.unset("spark.graft.bitmapDistinct")

  private def eventsDistinct = {
    val t = graft.T(spark, sfDir)
    t.events.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  test("COUNT(DISTINCT int) rewrites to the bitmap shape — no Expand, same answer") {
    val expected = snap(eventsDistinct) // stock plan: conf off
    withBitmapDistinct {
      val df = eventsDistinct
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bitmap_construct_agg"), optimized)
      val physical = df.queryExecution.executedPlan.toString
      assert(!physical.contains("Expand"), physical)
      assert(snap(df) == expected)
    }
  }

  test("narrow integral inputs skip the presence flags and the special filter") {
    import spark.implicits._
    val df = Seq(-3, -1, 0, 1, 2, 2, Int.MinValue, Int.MaxValue)
      .toDF("v").withColumn("g", lit(1))
    val stock = df.groupBy($"g").agg(count_distinct($"v").as("n")).collect()(0).getLong(1)
    withBitmapDistinct {
      val got = df.groupBy($"g").agg(count_distinct($"v").as("n"))
      val optimized = got.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bitmap_construct_agg"), optimized)
      // Int.MinValue etc. can't reach Long.MinValue — no dead Max aggregates
      assert(!optimized.contains("graft_minflag") && !optimized.contains("graft_min1flag"), optimized)
      assert(got.collect()(0).getLong(1) == stock && stock == 7)
    }
  }

  test("exact on negative, boundary, and huge values") {
    import spark.implicits._
    val vals = Seq(-100000L, -100000L, -1L, 0L, 1L, 32767L, 32768L,
      32769L, (1L << 40), (1L << 40) + 1, -1L,
      Long.MinValue, Long.MinValue, Long.MaxValue)
    val df = vals.toDF("v").withColumn("g", lit(1))
    val stock = df.groupBy($"g").agg(count_distinct($"v").as("n")).collect()(0).getLong(1)
    withBitmapDistinct {
      val got = df.groupBy($"g").agg(count_distinct($"v").as("n"))
      assert(got.queryExecution.optimizedPlan.toString.contains("bitmap_construct_agg"))
      assert(got.collect()(0).getLong(1) == stock)
      assert(stock == 11)
    }
  }

  test("randomized: rewrite == stock COUNT(DISTINCT) on 10 seeded long datasets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
      32767L, 32768L, Long.MaxValue - 1, Long.MaxValue)
    withBitmapDistinct {
      for (_ <- 1 to 10) {
        val n = 1 + rnd.nextInt(200)
        val vals = Seq.fill(n)(
          if (rnd.nextInt(4) == 0) extremes(rnd.nextInt(extremes.size))
          else rnd.nextLong() % 100000L) ++
          Seq.fill(rnd.nextInt(5))(extremes(rnd.nextInt(extremes.size)))
        val df = vals.toDF("v").withColumn("g", pmod(col("v"), lit(3)))
        val got = df.groupBy($"g").agg(count_distinct($"v").as("n"))
        assert(got.queryExecution.optimizedPlan.toString.contains("bitmap_construct_agg"))
        val expected = vals.groupBy(v => ((v % 3) + 3) % 3).view.mapValues(_.distinct.size)
        val rows = got.collect().map(r => (if (r.get(0) == null) -1L else r.getLong(0)) -> r.getLong(1)).toMap
        expected.foreach { case (g, cnt) =>
          assert(rows(g) == cnt.toLong, s"group $g: got ${rows(g)}, want $cnt in $vals")
        }
      }
    }
  }

  test("shipped injection path: rule fires in a GraftExtensions-built session") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.bitmapDistinct", "true")
    import s2.implicits._
    val df = Seq(1L, 2L, 2L, 0L, -5L, -5L).toDF("v")
      .withColumn("g", $"v" % 2)
      .groupBy($"g").agg(count_distinct($"v").as("n"))
    // extendedOperatorOptimizationRules run inside the fixed-point batch —
    // the rewritten two-level aggregate must survive the other rules there
    assert(df.queryExecution.optimizedPlan.toString.contains("bitmap_construct_agg"),
      df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 1L, -1L -> 1L), got) // {2,0}, {1}, {-5}
  }

  test("conf off, multi-agg, non-integral, and filtered shapes are untouched") {
    // conf defaults to false -> passthrough with the rule installed
    val off = eventsDistinct.queryExecution.optimizedPlan.toString
    assert(!off.contains("bitmap_construct_agg"), off)
    withBitmapDistinct {
      val t = graft.T(spark, sfDir)
      // a second non-distinct aggregate alongside -> not the narrow shape
      val multi = t.events.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n"), sum(col("value")).as("s"))
      assert(!multi.queryExecution.optimizedPlan.toString.contains("bitmap_construct_agg"))
      // string column -> not integral
      val str = t.events.groupBy(col("user_id"))
        .agg(count_distinct(col("event_type")).as("n"))
      assert(!str.queryExecution.optimizedPlan.toString.contains("bitmap_construct_agg"))
    }
  }
}
