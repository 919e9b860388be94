package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Prints the artifact-isolation setting of an [[Engine.session]] and of a
  * `newSession()` child of it, one `key=value` line each on stdout. Run in
  * its own JVM, since a JVM holds one SparkContext and the test one is
  * [[TestSpark]]'s. */
object EngineConfProbe {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("engine-conf-probe", Some("local[1]"), 1)
    try {
      println(s"root=${spark.conf.get(EngineParitySpec.Isolation)}")
      println(s"child=${spark.newSession().conf.get(EngineParitySpec.Isolation)}")
    } finally spark.stop()
  }
}

object EngineParitySpec {
  val Isolation = "spark.sql.artifact.isolation.enabled"
}

/** The test session serves as the gateway does: the setting that decides
  * whether each session gets its own executor class loader (and so compiles
  * every generated class again) is the same on [[Engine.session]] and on
  * [[TestSpark]], and a per-connection `newSession()` inherits it on both. */
class EngineParitySpec extends SparkSpec {
  import EngineParitySpec.Isolation

  /** The probe's `key=value` lines, from a JVM on this JVM's class path. */
  private def engineConf(): Map[String, String] = {
    val cmd = Seq(new File(System.getProperty("java.home"), "bin/java").getPath) ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-Xmx512m", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"), EngineConfProbe.getClass.getName.stripSuffix("$"))
    val out = File.createTempFile("engine-conf-probe", ".txt")
    out.deleteOnExit()
    val p = new ProcessBuilder(cmd: _*).redirectOutput(out)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val exited = p.waitFor(120, TimeUnit.SECONDS)
    if (!exited) p.destroyForcibly().waitFor()
    val lines = Files.readAllLines(out.toPath).asScala.toList
    assert(exited && p.exitValue() == 0, s"probe failed: $lines")
    lines.flatMap(_.split("=", 2) match {
      case Array(k, v) if k == "root" || k == "child" => Some(k -> v)
      case _ => None
    }).toMap
  }

  test("Engine.session and TestSpark agree on artifact isolation, and newSession() inherits it") {
    val test = spark.conf.get(Isolation)
    assert(test == "false", "the test session must serve on one executor class loader")
    assert(spark.newSession().conf.get(Isolation) == test)
    assert(engineConf() == Map("root" -> test, "child" -> test))
  }
}
