package graft

/** The test session is [[Engine.session]], so the specs run with the
  * server's posture; and a session's conf depends on how it was built, not
  * on what it has loaded. */
class EngineSessionSpec extends SparkSpec {

  test("the test session serves with the server's posture") {
    val pools = Seq("graft-urgent", "graft-default", "graft-bulk").map { name =>
      val p = spark.sparkContext.getPoolForName(name)
        .getOrElse(fail(s"the root pool holds no $name"))
      (name, p.weight, p.minShare, p.schedulingMode.toString)
    }
    assert(pools == Seq(("graft-urgent", 8, 1, "FAIR"), ("graft-default", 2, 0, "FAIR"),
      ("graft-bulk", 1, 0, "FAIR")))
    val isolation = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.get(isolation) == "false")
    assert(spark.newSession().conf.get(isolation) == "false")
  }

  test("Tables.register leaves a session's conf as a fresh sibling's") {
    // AutoMerge merges only statements whose sessions have equal confs
    val loaded = spark.newSession()
    Tables.register(loaded, sfDir)
    assert(loaded.conf.getAll == spark.newSession().conf.getAll)
  }
}
