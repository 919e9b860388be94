package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Shared wiring for the harness mains (Bench, Verify, RoutedDump,
  * BenchSf1, ScaleSmoke, ShareBench, Inspect): every one of them measures
  * or checks the session the gateway serves through, [[Engine.session]] —
  * graft extensions, FAIR pools, UTC — on `local[cpus]`, so a harness
  * number is a number about the served engine.
  */
object Harness {

  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, else the
    * machine's cores (the same default as [[Engine.session]]). */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** [[Engine.session]] on `local[cpus]` with `cpus` shuffle partitions. */
  def session(appName: String): SparkSession = {
    val spark = Engine.session(appName, Some(s"local[$cpus]"), cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** JVM/codegen warmup so session startup cost is not charged to whichever
    * query happens to run first; the tiny parquet read initializes the
    * Hadoop FS + parquet reader stack (otherwise billed to the first query). */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // string-expression JIT warmup: UTF8String intrinsics (upper/regexp/
    // reverse/pad) cost ~2 s of C2 compilation on their first heavy run,
    // which otherwise lands on whichever string query executes first
    noop(spark.range(200000)
      .selectExpr("upper(concat('ab', cast(id AS string))) AS u",
        "regexp_replace(cast(id AS string), '[02468]', 'x') AS r",
        "reverse(cast(id AS string)) AS v",
        "lpad(cast(id AS string), 12, '_') AS p"))
  }

  /** noop sink: materializes every output column (count() would let
    * Catalyst prune the query down to the rows that survive). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `body` under a cancellable wall-clock ceiling: seconds, or why
    * it did not finish ("ceiling" or the exception's class name). */
  def withCeiling(spark: SparkSession, name: String, ceilingSec: Double)(body: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    val fut = Future {
      // job group is thread-local: set it on the thread that submits jobs
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      body
    }
    try { Await.result(fut, ceilingSec.seconds); Right((System.nanoTime() - t0) / 1e9) }
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(name)
        Left("ceiling")
      case e: Throwable => Left(e.getClass.getSimpleName)
    }
  }

  /** Seconds with three decimals. Explicit ROOT locale: the f-interpolator
    * uses the JVM default locale, which can render "1,234" and break the
    * JSON line on comma-decimal hosts. */
  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)

  /** Optional comma-separated name-prefix filter (local dev only: shipped
    * artifacts come from unfiltered runs); absent means every name. */
  def only(prefixes: Option[String]): String => Boolean = prefixes match {
    case Some(arg) => val ps = arg.split(","); n => ps.exists(n.startsWith)
    case None      => _ => true
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR in an oracle's SQL would otherwise make the
    * `oracle_sql.json` reader fail and silently zero the correctness check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
