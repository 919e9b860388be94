package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-corpus table registry (TESTDATA.md).
  *
  * The reference registered client tables via `registerTempTable` after DAG
  * reassembly (reference: sparksql-server/.../listener/DAGListener.scala:155-162);
  * here tables are plain parquet relations registered as temp views, so every
  * query — DataFrame or SQL — resolves through the session catalog and Catalyst
  * prunes columns / pushes filters into the parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Relation memo (r14, guide §6 file-listing reuse / §5 driver work): a
  // fresh `spark.read.parquet` costs ~74 ms of driver-side work PER CALL on
  // this corpus (FloorMicro: file listing + footer schema inference +
  // relation build), and every one of the 312 bench rows pays it 1-3× per
  // rep — ~25-40 s of the sf0.1 bench total is relation re-creation, not
  // query execution. A real deployment registers tables once in a catalog
  // and reuses the resolved relation; this memo is that catalog discipline
  // for the T(...) path. METADATA ONLY: the cached object is the unexecuted
  // logical plan — every action still scans the parquet files from disk, so
  // bench/oracle runs keep computing from the inputs. Keyed on the session
  // (relations are session-bound) + the file snapshot (path, mtime, length
  // of the file, or of every part file for a directory table), so a
  // rewritten corpus mints a fresh key; unsnapshotable paths (mtime 0) skip
  // the memo. Bounded LRU; deliberately NOT Memo.lru — Bench samples
  // Memo.hits/misses to tag first_touch/memo_hits rows, and relation reuse
  // must not pollute that accounting.
  private val relCache = new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(SparkSession, String, String), DataFrame]): Boolean =
      size() > 256
  }

  /** Recursive content snapshot (ADVICE r14: the old one-level listing
    * could serve a stale relation for a partitioned/nested dir whose
    * subdir contents were rewritten, and did not apply the mtime==0 skip
    * to children). Any unreadable mtime anywhere makes the whole path
    * unsnapshotable (memo bypassed). */
  private def fileSnapshot(path: String): Option[String] = {
    val sb = new StringBuilder(path).append('|')
    def walk(f: java.io.File): Boolean =
      if (f.isFile) {
        val m = f.lastModified()
        if (m == 0L) false
        else { sb.append(f.getPath).append(':').append(m).append(':').append(f.length()).append(','); true }
      } else {
        val kids = f.listFiles()
        kids != null && kids.sortBy(_.getName).forall(walk)
      }
    val root = new java.io.File(path)
    if (root.exists() && walk(root)) Some(sb.toString) else None
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    fileSnapshot(s"$dir/$name.parquet") match {
      case None => loadUncached(spark, dir, name)
      case Some(snap) =>
        val key = (spark, name, snap)
        relCache.synchronized {
          val hit = relCache.get(key)
          if (hit != null && !spark.sparkContext.isStopped) return hit
        }
        val df = loadUncached(spark, dir, name)
        relCache.synchronized {
          // drop entries pinned to stopped sessions (ADVICE r14: dead
          // sessions' relations otherwise stay referenced until LRU
          // eviction); done on the miss path so hits stay lock-get cheap
          val it = relCache.keySet().iterator()
          while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
          relCache.put(key, df)
        }
        df
    }

  private def loadUncached(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Normalize events.ts to the µs session-TZ TimestampType whatever the
      // generator wrote: older corpora store INT64 TIMESTAMP(NANOS), which
      // the Spark reader rejects unless read as long (then ÷1000 with
      // integer division — nanos exceed 2^53, no double round-trip); newer
      // corpora store TIMESTAMP(MICROS) NTZ, which only needs the NTZ→LTZ
      // cast (identity wall-clock under the UTC session TZ). Reading NANOS
      // as long needs spark.sql.legacy.parquet.nanosAsLong, which
      // Engine.session sets for every session.
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
        case _ =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Register all corpus tables as temp views for the SQL surface. */
  def register(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** Per-query handle on the corpus: lazy accessors, one scan relation each. */
final case class T(spark: SparkSession, dir: String) {
  private def t(n: String): DataFrame = Tables.load(spark, dir, n)
  lazy val region: DataFrame     = t("region")
  lazy val nation: DataFrame     = t("nation")
  lazy val customer: DataFrame   = t("customer")
  lazy val supplier: DataFrame   = t("supplier")
  lazy val part: DataFrame       = t("part")
  lazy val orders: DataFrame     = t("orders")
  lazy val lineitem: DataFrame   = t("lineitem")
  lazy val events: DataFrame     = t("events")
  lazy val documents: DataFrame  = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")
}
