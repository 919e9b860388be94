package servebench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One statement of a workload's pool. `kind` names its shape, for reports. */
final case class Stmt(kind: String, sql: String)

/** One item of a client's statement stream: a pool index plus the scheduling
  * hint class the client attaches (see [[Workload.hint]]). */
final case class Item(stmt: Int, hintClass: Int)

/** A traffic mix: a fixed statement pool, each client's stream over it
  * drawn from the workload seed, and the tables and views the statements
  * read. The pool does not depend on the seed; every run computes the
  * isolated answers of the whole pool during set-up.
  *
  * Streams come in blocks. Client c's kinds over a block are [[block]]
  * rotated by c quarters, so the statements the 4 clients send at one step
  * (which a closed loop of 4 turns into one window of 4) always have the
  * same mix of kinds. A block is cut into segments of [[segment]] steps; the
  * seed permutes the segments of every block and the steps within each
  * segment, and draws each statement from its kind's pool entries: two seeds
  * differ in order and parameters, not in how much of each kind of work
  * they send, and every aligned segment carries the same work. */
sealed trait Workload {
  def name: String
  /** Statements go through a BatchWindow (else the gateway streams them). */
  def windowed: Boolean
  def pool: IndexedSeq[Stmt]
  /** One client's kinds over a block; its length is a multiple of 4. */
  protected def block: IndexedSeq[String]
  /** Steps per segment, the unit whose complete instances the end-to-end
    * metrics are taken over (see [[Report]]); divides the block's length. On a windowed workload a
    * segment is every client's statements of those steps, else one
    * client's. */
  def segment: Int
  /** Steps each client sends, unmeasured, before a measured run; a whole
    * number of segments. */
  def primeSteps: Int

  def register(spark: SparkSession, dataDir: String): Unit =
    graft.Tables.register(spark, dataDir)

  /** Client `client`'s position in the block at block step `step`. */
  private def position(step: Int, client: Int): Int =
    (step + client * block.size / ServeBench.Clients) % block.size

  private def kindAt(step: Int, client: Int): String = block(position(step, client))

  /** Client `client`'s infinite stream; a pure function of (seed, client). */
  def stream(seed: Long, client: Int): Iterator[Item] = {
    val rnd = new Random(seed)
    val byKind = pool.indices.groupBy(i => pool(i).kind)
    Iterator.continually {
      // every client draws the whole block, so all consume `rnd` alike
      val order = rnd.shuffle((0 until block.size / segment).toIndexedSeq)
        .flatMap(g => rnd.shuffle((0 until segment).toIndexedSeq).map(g * segment + _))
      order.map { t =>
        (0 until ServeBench.Clients).map { c =>
          val ids = byKind(kindAt(t, c))
          ids(rnd.nextInt(ids.size))
        }
      }.zip(order).map { case (row, t) => Item(row(client), hintClass(position(t, client))) }
    }.flatten
  }

  /** The hint class of the statement at block position `p`. A function of
    * the position, as the kind is, so every aligned segment also carries the
    * same hints: which statement of a window is urgent, bulk or under a
    * deadline changes how long the window takes. */
  protected def hintClass(p: Int): Int = 0

  /** The wire prefix for a hint class. The deadline is absolute, so it is
    * filled in when the statement is sent (`nowMs`). */
  def hint(hintClass: Int, nowMs: Long): String = ""

  /** One window's worth, one statement per client, sent during set-up:
    * the block's step 1, which on mixed_window is a window of short
    * statements (step 0 is a heavy one). */
  def warmup: Seq[Stmt] =
    Seq.tabulate(ServeBench.Clients)(c => pool.find(_.kind == kindAt(1, c)).get)
}

object Workload {
  val all: Seq[Workload] = Seq(SharedScan, MixedWindow, StreamDirect)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}

/** Sharing-heavy: grep-count and grep-WordCount over one SynthSource view,
  * one statement of each per keyword, eight keywords from SynthSource's
  * vocabulary. Every keyword matches most documents, so which keyword the
  * seed draws changes the answer, not the amount of work. */
object SharedScan extends Workload {
  val name = "shared_scan"
  val windowed = true
  val SynthRows = 40000L
  protected val block = IndexedSeq("grep_count", "grep_count", "grep_wordcount", "grep_wordcount")
  val segment = 4 // every window holds the same work; four of them
  val primeSteps = 16

  override def register(spark: SparkSession, dataDir: String): Unit = {
    super.register(spark, dataDir)
    spark.read.format("graft.sources.SynthSource").option("rows", SynthRows.toString)
      .load().createOrReplaceTempView("synth")
  }

  val pool: IndexedSeq[Stmt] = {
    val kw = Seq("key", "scan", "table", "hash", "merge", "spark", "sort", "window")
    kw.map(w => Stmt("grep_count", s"SELECT count(*) AS n FROM synth WHERE text LIKE '%$w%'")).toIndexedSeq ++
      kw.map(w => Stmt("grep_wordcount",
        "SELECT token, count(*) AS n FROM (SELECT explode(split(text, ' ')) AS token " +
          s"FROM synth WHERE text LIKE '%$w%') t GROUP BY token ORDER BY token"))
  }
}

/** Heterogeneous: short lookups, ~1 s joins and the audit-triggering
  * documents self-join, under the soak's three hint classes. */
object MixedWindow extends Workload {
  val name = "mixed_window"
  val windowed = true
  val DeadlineBudgetMs = 3000L
  /** Each template of short statement is its own kind, so the block fixes
    * every window's mix: steps 0, 3, 6, 9 (mod 12) form the windows that
    * hold a join and the audited self-join, the other steps two lookups and
    * two group-bys, of one of two kinds of window. A segment of three steps
    * holds one window of each of the three kinds. */
  val segment = 3
  val primeSteps = 24
  protected val block = IndexedSeq(
    "join", "lookup_nation", "lookup_document",
    "audit", "lookup_customer", "lookup_region",
    "lookup_region", "groupby_customer", "groupby_events",
    "groupby_nation", "groupby_documents", "groupby_nation")

  /** The soak's adversarial statement: a pair-enumerating self-join the plan
    * audit flags with a `warn` line. */
  val adversarial: String =
    "SELECT count(*) AS n FROM documents a JOIN documents b " +
      "ON substring(a.text, 1, 64) = substring(b.text, 1, 64) AND a.doc_id < b.doc_id"

  val pool: IndexedSeq[Stmt] = {
    val short = (0 until 2).flatMap { v =>
      val k = 1 + v * 997 // spreads the keys over each table's key range
      Seq(
        "lookup_region" -> s"SELECT r_regionkey, r_name FROM region WHERE r_regionkey = ${v % 5}",
        "lookup_nation" -> s"SELECT n_name, n_regionkey FROM nation WHERE n_nationkey = ${k % 25}",
        "lookup_customer" ->
          s"SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = ${k * 3 % Data.Customers + 1}",
        "lookup_document" ->
          s"SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = ${k * 5 % Data.Documents + 1}",
        "groupby_nation" -> (s"SELECT n_regionkey, count(*) AS n FROM nation WHERE n_nationkey >= ${v * 5} " +
          "GROUP BY n_regionkey ORDER BY n_regionkey"),
        "groupby_customer" -> (s"SELECT c_mktsegment, count(*) AS n FROM customer WHERE c_nationkey = ${k % 25} " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
        "groupby_documents" -> (s"SELECT lang, count(*) AS n FROM documents WHERE doc_id <= ${(v + 1) * Data.Documents / 4} " +
          "GROUP BY lang ORDER BY lang"),
        "groupby_events" -> ("SELECT event_type, count(*) AS n, max(value) AS mx FROM events " +
          s"WHERE user_id = ${k % Data.Users + 1} GROUP BY event_type ORDER BY event_type"))
    }.map { case (kind, sql) => Stmt(kind, sql) }
    val joins = Seq("A", "N", "R").map { f =>
      Stmt("join", "SELECT o_orderpriority, count(*) AS n, sum(l_linenumber) AS lines " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        s"WHERE l_returnflag = '$f' AND o_orderdate < TIMESTAMP '1996-06-01' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    }
    (short ++ joins :+ Stmt("audit", adversarial)).toIndexedSeq
  }

  // A client takes block positions 3u, 3u+1, 3u+2 in a segment (role u, one
  // window of each kind), so every client sends each of the soak's three
  // classes once per segment, and each window mixes classes.
  override protected def hintClass(p: Int): Int = 1 + (p / segment + p % segment) % 3

  override def hint(hintClass: Int, nowMs: Long): String = hintClass match {
    case 1 => "/*+ graft(priority=5) */ "
    case 2 => "/*+ graft(priority=-1) */ "
    case 3 => s"/*+ graft(deadlineMs=${nowMs + DeadlineBudgetMs}) */ "
    case _ => ""
  }
}

/** Bulk output on the unwindowed path: 5k-50k rows per statement, every
  * other length globally sorted before streaming. A kind is a (table,
  * length) pair, so each client streams every length once per block. */
object StreamDirect extends Workload {
  val name = "stream_direct"
  val windowed = false

  val pool: IndexedSeq[Stmt] = {
    def stmts(table: String, n: Int, lens: Seq[Int], key: String, cols: String) =
      for ((len, i) <- lens.zipWithIndex; part <- 0 until 2) yield {
        val a = 1 + (n - len) * part // one range at each end of the key space
        Stmt(s"$table/$len", s"SELECT $cols FROM $table WHERE $key BETWEEN $a AND ${a + len - 1}" +
          (if (i % 2 == 1) s" ORDER BY $key" else ""))
      }
    (stmts("orders", Data.Orders, Seq(5000, 20000, 50000, 12000), "o_orderkey",
        "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority") ++
      stmts("documents", Data.Documents, Seq(5000, 10000, 20000, 8000), "doc_id",
        "doc_id, lang, source, n_chars, text") ++
      stmts("events", Data.Events, Seq(5000, 20000, 50000, 12000), "event_id",
        "event_id, ts, user_id, event_type, value")).toIndexedSeq
  }
  protected val block: IndexedSeq[String] = pool.map(_.kind).distinct
  val segment = 12 // a client's whole block: every length of every table
  val primeSteps = 12
}

/** The corpus the statements read: the ten tables `graft.Tables` registers,
  * generated with Spark from fixed hashes (not from the workload seed), so
  * every run of every workload reads the same bytes. Like the repo's test
  * corpus, each table is one parquet file, except the three large ones,
  * which are written one file per core so their scans run in parallel. */
object Data {
  val Version = 2
  val Customers = 15000
  val Orders = 150000
  val Documents = 20000
  val Events = 100000
  val Users = 2000

  private val vocab = "array('key','agg','row','scan','slow','fast','table','value','part','hash'," +
    "'merge','batch','spark','line','sort','window','the','a','data','column')"
  private def pick(values: String*)(salt: Int): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(",")}), pmod(hash(id, $salt), ${values.size}) + 1)"
  private def day(salt: Int): String = s"timestamp_seconds(757382400 + pmod(hash(id, $salt), 2400) * 86400)"
  private def price(salt: Int, max: Int): String = s"round(pmod(hash(id, $salt), ${max * 100}) / 100.0, 2)"
  private def words(seedExpr: String, count: String): String =
    s"concat_ws(' ', transform(sequence(1, $count), i -> element_at($vocab, pmod(hash($seedExpr, i), 20) + 1)))"

  private val tables: Seq[(String, Long, Seq[String])] = Seq(
    ("region", 5L, Seq("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name")),
    ("nation", 25L, Seq("CAST(id AS INT) AS n_nationkey", "concat('NATION_', id) AS n_name",
      "CAST(id % 5 AS INT) AS n_regionkey")),
    ("customer", Customers.toLong, Seq("id + 1 AS c_custkey", "concat('Customer#', lpad(id + 1, 9, '0')) AS c_name",
      "CAST(pmod(hash(id, 1), 25) AS INT) AS c_nationkey", s"${price(2, 10000)} - 1000 AS c_acctbal",
      pick("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(3) + " AS c_mktsegment")),
    ("supplier", 1000L, Seq("id + 1 AS s_suppkey", "concat('Supplier#', lpad(id + 1, 9, '0')) AS s_name",
      "CAST(pmod(hash(id, 4), 25) AS INT) AS s_nationkey", s"${price(5, 10000)} AS s_acctbal")),
    ("part", 20000L, Seq("id + 1 AS p_partkey", s"${words("id", "3")} AS p_name",
      pick("Brand#11", "Brand#22", "Brand#33", "Brand#44", "Brand#55")(6) + " AS p_brand",
      pick("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")(7) + " AS p_type",
      "CAST(pmod(hash(id, 8), 50) + 1 AS INT) AS p_size", s"${price(9, 2000)} AS p_retailprice")),
    ("orders", Orders.toLong, Seq("id + 1 AS o_orderkey", s"pmod(hash(id, 11), $Customers) + 1 AS o_custkey",
      pick("F", "O", "P")(12) + " AS o_orderstatus", s"${price(13, 400000)} AS o_totalprice",
      s"${day(14)} AS o_orderdate",
      pick("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(15) + " AS o_orderpriority")),
    ("lineitem", Orders * 4L, Seq("id DIV 4 + 1 AS l_orderkey", "pmod(hash(id, 21), 20000) + 1 AS l_partkey",
      "pmod(hash(id, 22), 1000) + 1 AS l_suppkey", "CAST(id % 4 + 1 AS INT) AS l_linenumber",
      "CAST(pmod(hash(id, 23), 50) + 1 AS DOUBLE) AS l_quantity", s"${price(24, 100000)} AS l_extendedprice",
      "pmod(hash(id, 25), 11) / 100.0 AS l_discount", "pmod(hash(id, 26), 9) / 100.0 AS l_tax",
      pick("A", "N", "R")(27) + " AS l_returnflag", pick("F", "O")(28) + " AS l_linestatus",
      s"${day(29)} AS l_shipdate")),
    ("events", Events.toLong, Seq("id + 1 AS event_id", s"${day(31)} + make_interval(0, 0, 0, 0, 0, 0, pmod(hash(id, 32), 86400)) AS ts",
      s"pmod(hash(id, 33), $Users) + 1 AS user_id", pick("click", "view", "purchase", "signup", "logout")(34) + " AS event_type",
      s"${price(35, 1000)} AS value", "concat('{\"k\":', pmod(hash(id, 36), 100), '}') AS props")),
    // one document in ten repeats its predecessor's first twelve words, so
    // the adversarial self-join has matches to find
    ("documents", Documents.toLong, Seq("id + 1 AS doc_id",
      s"concat(${words("CASE WHEN id % 10 = 9 THEN id - 1 ELSE id END", "12")}, ' ', " +
        s"${words("id + 1000000", "8 + pmod(hash(id, 41), 31)")}) AS text",
      pick("en", "es", "fr", "de", "zh")(42) + " AS lang", pick("web", "news", "wiki", "forum")(43) + " AS source")),
    ("embeddings", 1000L, Seq("id + 1 AS vec_id",
      "transform(sequence(1, 16), i -> CAST(pmod(hash(id, i), 1000) / 1000.0 AS FLOAT)) AS embedding",
      "CAST(pmod(hash(id, 51), 10) AS INT) AS label")))

  def dir(root: String): String = new java.io.File(root, s"data-v$Version").getPath
  def ready(root: String): Boolean = new java.io.File(dir(root), "_COMPLETE").exists()

  /** Generates the corpus under `root` unless it is there. */
  def ensure(spark: SparkSession, root: String): Unit = {
    val dir = new java.io.File(this.dir(root))
    if (!ready(root)) {
      val tmp = new java.io.File(root, s"data-v$Version.tmp")
      deleteTree(tmp)
      tables.foreach { case (name, rows, cols) =>
        val df = spark.range(rows).selectExpr(cols: _*)
        val out = if (name == "documents") df.withColumn("n_chars",
          org.apache.spark.sql.functions.expr("CAST(length(text) AS BIGINT)")) else df
        val files = if (rows >= Events) out else out.coalesce(1)
        files.write.parquet(new java.io.File(tmp, s"$name.parquet").getPath)
      }
      java.nio.file.Files.createFile(new java.io.File(tmp, "_COMPLETE").toPath)
      deleteTree(dir)
      java.nio.file.Files.move(tmp.toPath, dir.toPath)
    }
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
