package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: name-prefix filter
    val only = Harness.only(args.lift(2))
    val spark = Harness.session("graft-verify")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1))
      .map { case (name, fn) => name -> (() => fn(spark, sfDir)) }
    dump(outDir, queries, SparkEntry.oracleSql.toSeq)
    spark.stop()
  }

  /** Writes each query's result to `<outDir>/<name>` as one parquet file,
    * then every oracle to `<outDir>/oracle_sql.json` — the layout
    * the DuckDB compare (`scripts/check.py`) reads. A failing query is
    * logged and skipped, so one bad row costs one compare, not the dump. */
  def dump(outDir: String, queries: Seq[(String, () => DataFrame)],
           oracles: Seq[(String, String)]): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, df) =>
      try df().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(oracles))
  }

  def oracleJson(oracles: Seq[(String, String)]): String =
    oracles.map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
}
