package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (new JVM per `sbt test` fork):
  * [[Engine.session]], the session the gateway serves through, so every
  * spec runs with graft's extensions, FAIR class pools and one executor
  * class loader. `spark.ui.enabled=false` comes from build.sbt's
  * `javaOptions`. */
object TestSpark {
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    val s = Engine.session("graft-test", Some("local[4]"), 4)
    s.conf.set("spark.sql.maxMetadataStringLength", "2000") // full PushedFilters in plan strings
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Deterministic row-set snapshot for result equivalence checks. */
  def snap(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq
}
