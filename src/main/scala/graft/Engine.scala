package graft

import org.apache.spark.sql.SparkSession

/** One-call entry point for library users: a SparkSession with graft's
  * functions injected and the scale-posture defaults set, plus corpus
  * registration. A user of the reference system switches by building their
  * session here and pointing clients at [[graft.server.QueryGateway]] or
  * [[graft.server.ThriftFrontend]].
  *
  * Defaults are written for a real cluster (drop `master`): AQE re-plans at
  * runtime (skew-join splitting, partition coalescing), shuffle partitions
  * sized by the caller (cores on local mode, 2-3x total cores on a cluster),
  * UTC session time.
  *
  * Every session of the server, and every `newSession()` child the gateway
  * opens per connection, runs its tasks on the executor's one class loader
  * (`spark.sql.artifact.isolation.enabled=false`), so a statement's
  * generated code is compiled once per server, not once per connection.
  * Artifacts (`addArtifact`, a JDBC `ADD JAR`) are therefore server-wide,
  * not per-session; the gateway takes SQL text only.
  */
object Engine {

  def session(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      // Spark 4 gives each session UUID its own executor class loader, and
      // its codegen cache is keyed by (class loader, code) and holds 100
      // entries, so every connection's session would compile each generated
      // class again and thrash that cache. Off, all sessions share the
      // executor's default loader; only per-session artifacts are lost, and
      // nothing here adds one.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // the class pools every statement runs in, by its JobMeta (urgent 8 :
      // default 2 : bulk 1, each FAIR inside) — Spark reads weights only
      // from a file
      .config("spark.scheduler.allocation.file", sharing.FairPools.allocationFile())
    val spark = master.fold(b)(b.master).getOrCreate()
    functions.Registry.ensure(spark) // covers the getOrCreate-reuse path too
    operators.UserFns.ensure(spark)
    spark
  }

  /** Register the test corpus (or any directory of parquet tables). */
  def openCorpus(spark: SparkSession, dir: String): Unit =
    Tables.register(spark, dir)
}
