package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** User-defined function surface (SURVEY.md §2.4 row "UDF/UDAF/UDTF").
  *
  * In the reference, "UDFs" were arbitrary client lambdas shipped inside
  * serialized RDD DAGs plus the client jar (reference:
  * SimpleAppClient/src/main/scala/SimpleAppClient.scala:137-205,
  * sparksql-server/.../listener/JarListener.scala:31-88). Here the same
  * extensibility is `spark.udf.register` (scalar) and typed `Aggregator`
  * (UDAF) — no code shipping, no classloader surgery; generator functions
  * (UDTF plane) are covered by explode over higher-order functions (t05).
  *
  * Scale note: a Scala UDF is an opaque black box to Catalyst — no pushdown
  * through it, boxing at the boundary — so the engine prefers built-ins and
  * native expressions (graft.functions) everywhere; this module exists for
  * API parity, and its arithmetic is integer-exact so the oracle can verify
  * the full UDF round-trip.
  */
object UserFns {

  /** Typed UDAF: sum of squares over long inputs. */
  val sumSquares: Aggregator[Long, Long, Long] = new Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(acc: Long, x: Long): Long = acc + x * x
    def merge(a: Long, b: Long): Long = a + b
    def finish(acc: Long): Long = acc
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Scalar UDF + typed UDAF through the full SQL path. */
  def u01UdfUdaf(t: T): DataFrame = {
    t.spark.udf.register("price_band", (p: Double) =>
      if (p < 1000) "small" else if (p < 10000) "medium"
      else if (p < 50000) "large" else "jumbo")
    t.spark.udf.register("sum_squares", udaf(sumSquares))
    graft.Tables.register(t.spark, t.dir)
    t.spark.sql(
      """SELECT price_band(o_totalprice) AS band,
                sum_squares(CAST(FLOOR(o_totalprice) AS BIGINT) % 1000) AS ssq,
                COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY band""")
  }

  /** FLOOR-then-cast on both sides: Spark's double->bigint cast truncates,
    * DuckDB's rounds — floor first makes them agree. */
  val u01Oracle: String =
    """SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
                   WHEN o_totalprice < 10000 THEN 'medium'
                   WHEN o_totalprice < 50000 THEN 'large'
                   ELSE 'jumbo' END AS band,
              SUM((CAST(FLOOR(o_totalprice) AS BIGINT) % 1000)
                  * (CAST(FLOOR(o_totalprice) AS BIGINT) % 1000))::BIGINT AS ssq,
              COUNT(*) AS n
       FROM orders GROUP BY 1 ORDER BY band"""

  /** SQL-defined scalar UDFs (Spark 4 CREATE FUNCTION ... RETURN expr):
    * the declarative end of the reference's UDF plane. Unlike a Scala UDF,
    * the body is a Catalyst expression — inlined, codegen'd, pushdown-
    * transparent — so this is the PREFERRED extension path for anything
    * expressible as SQL. The oracle inlines the same bodies. */
  def u02SqlUdf(t: T): DataFrame = {
    graft.Tables.register(t.spark, t.dir)
    t.spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION taxed_cents(price DOUBLE, tax DOUBLE)
         RETURNS BIGINT
         RETURN CAST(FLOOR(price * 100) AS BIGINT) + CAST(FLOOR(price * tax * 100) AS BIGINT)""")
    t.spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION clampq(q DOUBLE)
         RETURNS BIGINT RETURN CAST(LEAST(GREATEST(q, 5.0), 45.0) AS BIGINT)""")
    t.spark.sql(
      """SELECT l_returnflag,
                SUM(taxed_cents(l_extendedprice, l_tax)) AS taxed_cents_sum,
                SUM(clampq(l_quantity)) AS clamped_qty_sum
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  }

  val u02Oracle: String =
    """SELECT l_returnflag,
              SUM(FLOOR(l_extendedprice * 100)::BIGINT
                  + FLOOR(l_extendedprice * l_tax * 100)::BIGINT)::BIGINT AS taxed_cents_sum,
              SUM(LEAST(GREATEST(l_quantity, 5.0), 45.0)::BIGINT)::BIGINT AS clamped_qty_sum
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Typed row for the Dataset-API lane. */
  final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)

  /** The typed Dataset API end-to-end: case-class rows, groupByKey,
    * reduceGroups — the compile-time-checked lane the reference's
    * schema-from-case-class clients used, kept oracle-comparable by
    * emitting the reduced row's scalar fields. reduceGroups is
    * order-sensitive in general; the reducer here is the (max, tiebreak)
    * semilattice so any reduction tree yields the same row — the
    * determinism contract typed reducers must satisfy on a cluster. */
  def u03TypedReduce(t: T): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    t.orders
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .as[OrderRow]
      .groupByKey(_.o_custkey % 100)
      .reduceGroups((a: OrderRow, b: OrderRow) =>
        if (a.o_totalprice > b.o_totalprice ||
          (a.o_totalprice == b.o_totalprice && a.o_orderkey < b.o_orderkey)) a else b)
      .map { case (bucket, top) =>
        (bucket, top.o_orderkey, math.floor(top.o_totalprice).toLong)
      }
      .toDF("cust_bucket", "top_orderkey", "top_price_floor")
      .orderBy($"cust_bucket")
  }

  val u03Oracle: String =
    """SELECT cust_bucket, o_orderkey AS top_orderkey,
              FLOOR(o_totalprice)::BIGINT AS top_price_floor
       FROM (SELECT o_custkey % 100 AS cust_bucket, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey % 100
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders)
       WHERE rn = 1 ORDER BY cust_bucket"""

  /** The Observation / CollectMetrics API: quality-gate metrics (row count,
    * char total, short-doc count) piggybacked on a pass over the corpus —
    * computed by the SAME job that does the work (here a noop write), not a
    * second scan. This is how a production pipeline asserts "N rows in, M
    * rows dropped" without doubling its I/O; the observed values come back
    * on the driver through the listener bus. The query's output IS the
    * metrics row, so the oracle can state it as plain aggregates. */
  def u04ObservedMetrics(t: T): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.functions.{count, length, lit, sum, when}
    val obs = new org.apache.spark.sql.Observation("graft_gate")
    t.documents
      .observe(obs, count(lit(1)).as("n_docs"),
        sum(length($"text")).cast("long").as("total_chars"),
        sum(when(length($"text") < 200, 1L).otherwise(0L)).as("n_short"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_docs").asInstanceOf[Long],
      m("total_chars").asInstanceOf[Long],
      m("n_short").asInstanceOf[Long]))
      .toDF("n_docs", "total_chars", "n_short")
  }

  val u04Oracle: String =
    """SELECT COUNT(*) AS n_docs,
              SUM(length(text))::BIGINT AS total_chars,
              SUM(CASE WHEN length(text) < 200 THEN 1 ELSE 0 END)::BIGINT AS n_short
       FROM documents"""

  /** SQL TABLE function (Spark 4 `CREATE FUNCTION ... RETURNS TABLE`): a
    * parameterized relation — the declarative successor to the reference's
    * shipped-jar table generators. The body is a full aggregate query, so
    * each invocation plans/optimizes like any view; two widths invoked and
    * unioned to show the parameterization is real. */
  def u05SqlTableFn(t: T): DataFrame = {
    graft.Tables.register(t.spark, t.dir)
    t.spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION price_buckets(width BIGINT)
         RETURNS TABLE(bucket BIGINT, n_orders BIGINT, max_cents BIGINT)
         RETURN SELECT CAST(FLOOR(o_totalprice) AS BIGINT) DIV width AS bucket,
                       COUNT(*) AS n_orders,
                       MAX(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS max_cents
                FROM orders GROUP BY 1""")
    t.spark.sql(
      """SELECT * FROM (
           SELECT CAST(50000 AS BIGINT) AS width, * FROM price_buckets(50000)
           UNION ALL
           SELECT CAST(100000 AS BIGINT) AS width, * FROM price_buckets(100000))
         ORDER BY width, bucket""")
  }

  val u05Oracle: String =
    """WITH b AS (
         SELECT w.width, FLOOR(o_totalprice)::BIGINT // w.width AS bucket,
                COUNT(*) AS n_orders,
                MAX(FLOOR(o_totalprice * 100)::BIGINT) AS max_cents
         FROM orders, (SELECT unnest([50000, 100000])::BIGINT AS width) w
         GROUP BY 1, 2)
       SELECT width, bucket, n_orders, max_cents FROM b ORDER BY width, bucket"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u01_udf_udaf" -> ((s, d) => u01UdfUdaf(T(s, d))),
    "u02_sql_udf"  -> ((s, d) => u02SqlUdf(T(s, d))),
    "u03_typed_reduce" -> ((s, d) => u03TypedReduce(T(s, d))),
    "u04_observed_metrics" -> ((s, d) => u04ObservedMetrics(T(s, d))),
    "u05_sql_table_fn" -> ((s, d) => u05SqlTableFn(T(s, d))),
  )

  val oracles: Map[String, String] = Map(
    "u01_udf_udaf" -> u01Oracle,
    "u02_sql_udf"  -> u02Oracle,
    "u03_typed_reduce" -> u03Oracle,
    "u04_observed_metrics" -> u04Oracle,
    "u05_sql_table_fn" -> u05Oracle,
  )
}
