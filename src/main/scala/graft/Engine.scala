package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: the gateway, the harness mains and the tests
  * all run on [[Engine.session]]. It installs
  * [[graft.functions.GraftExtensions]] (graft's functions, planner
  * strategies and optimizer rules) and the scale-posture defaults; corpus
  * registration is [[openCorpus]]. A user of the reference system switches
  * by building their session here and pointing clients at
  * [[graft.server.QueryGateway]] or [[graft.server.ThriftFrontend]].
  *
  * The supported entry is a session built here, or one the user builds
  * with `spark.sql.extensions=graft.functions.GraftExtensions`. The
  * operators do not install graft into the session they are handed: on a
  * session without the extensions a graft function fails with Spark's own
  * unresolved-routine error, and `AsOf.join`/`IntervalJoin.join` find no
  * physical plan.
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
      // older corpora store events.ts as INT64 TIMESTAMP(NANOS), which the
      // reader rejects unless read as long (Tables.load converts it); set
      // here, not per load, so every child session has the same conf
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master.fold(b)(b.master).getOrCreate()
  }

  /** Register the test corpus (or any directory of parquet tables). */
  def openCorpus(spark: SparkSession, dir: String): Unit =
    Tables.register(spark, dir)
}
