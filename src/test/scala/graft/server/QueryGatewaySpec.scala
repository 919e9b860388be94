package graft.server

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import graft.{SparkSpec, Tables}

class QueryGatewaySpec extends SparkSpec {

  /** The gateway writes UTF-8, so the client decodes UTF-8 whatever the
    * platform's default charset is. */
  private def connect(port: Int): (Socket, PrintWriter, BufferedReader) = {
    val s = new Socket("localhost", port)
    (s, new PrintWriter(new OutputStreamWriter(s.getOutputStream, UTF_8), true),
      new BufferedReader(new InputStreamReader(s.getInputStream, UTF_8)))
  }

  /** Reads one response: "ok" + rows until the "done <n>[ truncated]" trailer,
    * or an "error ..." line (header or mid-stream). Plan-audit `warn` lines
    * are counted in [[warnCount]] rather than returned as rows, so result
    * assertions stay byte-identical whether or not the audit fired. */
  private val warnCount = new java.util.concurrent.atomic.AtomicLong()
  private def readResponse(in: BufferedReader): (String, List[String], String) = {
    val head = in.readLine()
    if (head != "ok") return (head, Nil, head)
    val rows = List.newBuilder[String]
    var line = in.readLine()
    while (!line.startsWith("done") && !line.startsWith("error")) {
      if (line.startsWith("warn ")) warnCount.incrementAndGet()
      else rows += line
      line = in.readLine()
    }
    (head, rows.result(), line)
  }

  test("metadata hint parses to JobMeta and the hinted statement still runs") {
    import graft.sharing.JobMeta
    // pure parse: the wire form of the reference's --metadata flags
    assert(QueryGateway.parseMeta("SELECT 1") == (JobMeta(), "SELECT 1"))
    val (m1, s1) = QueryGateway.parseMeta(
      "/*+ graft(priority=5, deadlineMs=123456) */ SELECT 1 AS x")
    assert(m1 == JobMeta(priority = 5, deadlineMs = Some(123456L)))
    assert(s1 == "SELECT 1 AS x")
    assert(m1.pool == "graft-urgent")
    val (m2, _) = QueryGateway.parseMeta("/*+ graft(priority=-1) */ SELECT 2")
    assert(m2.pool == "graft-bulk")
    // a deadline-only hint carries metadata but priority 0 — the gateway
    // must keep such statements in the connection's own pool (EDF ordering
    // belongs to the BatchWindow path)
    val (m4, _) = QueryGateway.parseMeta("/*+ graft(deadlineMs=9) */ SELECT 4")
    assert(m4 == JobMeta(deadlineMs = Some(9L)) && m4.priority == 0)
    // malformed hint degrades to plain SQL (which then fails in the parser,
    // not the gateway) and unknown keys are ignored
    val (m3, _) = QueryGateway.parseMeta("/*+ graft(priority=oops, zz=1) */ SELECT 3")
    assert(m3 == JobMeta())
    // end-to-end: a hinted statement executes and streams
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir))
    try {
      val (sock, out, in) = connect(gw.boundPort)
      out.println("/*+ graft(priority=9) */ SELECT count(*) AS n FROM region")
      val (head, rows, trailer) = readResponse(in)
      assert(head == "ok")
      assert(rows.size == 1 && rows.head.contains("\"n\":5"), rows)
      assert(trailer == "done 1")
      sock.close()
    } finally gw.close()
  }

  test("priority hints clamp to the server cap; self-demotion stays allowed") {
    import graft.sharing.JobMeta
    // default cap 0: a client cannot claim graft-urgent weight...
    assert(math.min(JobMeta(priority = 9).priority, 0) == 0)
    // ...but may still demote itself to bulk
    assert(JobMeta(priority = math.min(-1, 0)).pool == "graft-bulk")
    // an operator-raised cap admits urgent up to the cap, no further
    assert(JobMeta(priority = math.min(9, 1)).pool == "graft-urgent")
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir), maxHintPriority = 0)
    try {
      val (sock, out, in) = connect(gw.boundPort)
      // a priority-9 hint still executes — in the connection pool, not urgent
      out.println("/*+ graft(priority=9) */ SELECT count(*) AS n FROM region")
      val (head, rows, _) = readResponse(in)
      assert(head == "ok" && rows.head.contains("\"n\":5"))
      sock.close()
    } finally gw.close()
  }

  test("batched mode: two connections share one window and its scan cache") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 2, maxWaitMs = 5000)
    Tables.register(spark, sfDir) // windowed jobs run on the root session
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir), batching = Some(win))
    // no AQE coalescing, so a small ORDER BY keeps all its partitions
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      def ask(sql: String): Future[(String, Seq[String], String)] = Future {
        val (sock, out, in) = connect(gw.boundPort)
        try { out.println(sql); readResponse(in) } finally sock.close()
      }
      // two concurrent statements over the same table -> one window
      val a = ask("SELECT count(*) AS n FROM lineitem")
      val b = ask("SELECT count(DISTINCT l_linestatus) AS s FROM lineitem")
      val (ha, ra, ta) = Await.result(a, 5.minutes)
      val (hb, rb, _) = Await.result(b, 5.minutes)
      assert(ha == "ok" && ra.size == 1 && ta == "done 1", (ha, ra, ta))
      assert(hb == "ok" && rb.size == 1, (hb, rb))
      // the shared lineitem scan was detected and cached by the window
      assert(ex.cachedFingerprints.exists(_.contains("lineitem")), ex.cachedFingerprints)
      // windowed replies equal unwindowed ones line for line: a merged
      // grep-count pair (answered from its driver-side split), a
      // multi-partition ORDER BY over timestamp and double columns, and an
      // array column beside a NULL one
      val grep = Seq("SELECT count(*) AS n FROM documents WHERE text LIKE '%a%'",
        "SELECT count(*) AS n FROM documents WHERE text LIKE '%e%'")
      assert(graft.sharing.AutoMerge.detect(grep.map(q => q -> spark.sql(q)))._1.size == 1)
      val ordered = "SELECT event_id, ts, value, event_type FROM events ORDER BY event_id"
      assert(spark.sql(ordered).rdd.getNumPartitions > 1)
      val nested = "SELECT vec_id, embedding, CAST(NULL AS STRING) AS missing " +
        "FROM embeddings ORDER BY vec_id"
      val plain = new QueryGateway(spark, s => {
        Tables.register(s, sfDir); s.conf.set(coalesce, "false")
      })
      try {
        val (sock, out, in) = connect(plain.boundPort)
        try Seq(grep, Seq(ordered, nested)).foreach { pair =>
          val windowed = pair.map(ask) // both statements in one window
          pair.zip(windowed).foreach { case (q, w) =>
            out.println(q)
            val unwindowed = readResponse(in)
            assert(unwindowed._1 == "ok" && unwindowed._2.nonEmpty, unwindowed)
            assert(Await.result(w, 5.minutes) == unwindowed, q)
          }
        } finally sock.close()
      } finally plain.close()
    } finally {
      gw.close(); win.close(); ex.shutdown(); spark.catalog.clearCache()
      spark.conf.unset(coalesce)
    }
  }

  test("soak: 8 concurrent clients through gateway -> BatchWindow -> FAIR pools, metamorphic") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    // the reference's actual deployment scenario (PROJECT-INTERNALS: many
    // clients, one sharing server): N real sockets, each issuing a
    // statement stream, windows forming across connections under load.
    // Metamorphic oracle: every response equals the same statement run
    // isolated on the session — sharing must never change answers.
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 4, maxWaitMs = 1000)
    Tables.register(spark, sfDir) // windowed jobs run on the root session
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir),
      maxHintPriority = 9, batching = Some(win))
    // the adversarial statement (VERDICT r10 next-5): user-authored
    // pair-enumerating SQL mixed into the load — every issue must fire the
    // audit's warn line (and, cold, its linear mass census) WITHOUT
    // breaking the latency contract or the responses of its neighbors
    val adversarial =
      "SELECT count(*) AS n FROM documents a JOIN documents b " +
        "ON substring(a.text, 1, 64) = substring(b.text, 1, 64) AND a.doc_id < b.doc_id"
    val stmts = Seq(
      "SELECT count(*) AS n FROM lineitem",
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
      "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang",
      adversarial)
    val expected = stmts.map(s => s -> spark.sql(s).toJSON.collect().toList).toMap
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val nClients = 8
      // soft-deadline budget per hinted statement: generous vs the isolated
      // latency, tight enough that real queueing under the 8-client load
      // shows up as a measured miss rate, not a hidden stall
      val deadlineBudgetMs = 3000L
      // median-of-3 soak (VERDICT r12 next-4): this VM's documented 2-4×
      // run-to-run noise put one r12 re-run's p95 past the deadline budget
      // on identical code; a single-run latency artifact is hostage to the
      // instrument exactly like the bench headline was before r12. Each rep
      // runs the full 8-client phase with fresh telemetry; the artifact
      // reports the MEDIAN rep (by p95) plus the p95 spread and the miss
      // count across all reps, so the doc sentence and the artifact can
      // only disagree if the code actually changed.
      case class SoakRep(ls: Array[Long], dTotal: Long, dMissed: Long,
          dLateMs: Long, warns: Long)
      def msAt(ls: Array[Long], q: Double): Double = ls(((ls.length - 1) * q).toInt) / 1e6
      def soakOnce(): SoakRep = {
        DeadlineTelemetry.reset()
        warnCount.set(0L)
        val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val clients = (0 until nClients).map { c =>
          Future {
            val (sock, out, in) = connect(gw.boundPort)
            try {
              // rotate the statement order per client so windows mix
              // statements; alternate scheduling-class hints for pool coverage
              (0 until stmts.size).foreach { k =>
                val sql = stmts((c + k) % stmts.size)
                val hint = (c % 3) match {
                  case 0 => "/*+ graft(priority=5) */ "  // urgent pool
                  case 1 => "/*+ graft(priority=-1) */ " // bulk pool
                  case _ => // connection pool, deadline-carrying (EDF + telemetry)
                    s"/*+ graft(deadlineMs=${System.currentTimeMillis() + deadlineBudgetMs}) */ "
                }
                val t0 = System.nanoTime()
                out.println(hint + sql)
                val (head, rows, trailer) = readResponse(in)
                latencies.add(System.nanoTime() - t0)
                assert(head == "ok", s"client $c stmt $k: $head")
                assert(trailer.startsWith("done"), s"client $c stmt $k: $trailer")
                assert(rows == expected(sql),
                  s"client $c stmt $k diverged from isolated run: $rows")
              }
            } finally sock.close()
          }
        }
        clients.foreach(Await.result(_, 5.minutes))
        val ls = latencies.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
        assert(ls.length == nClients * stmts.size)
        // deadline-miss accounting (VERDICT r7 next-7): every c%3==2 client
        // statement carried a deadline; all completed, so the telemetry's
        // total must equal the hinted count and misses bound by it
        val (dTotal, dMissed, dLateMs) = DeadlineTelemetry.snapshot
        val nHinted = (0 until nClients).count(_ % 3 == 2) * stmts.size
        assert(dTotal == nHinted, s"deadline telemetry $dTotal != hinted $nHinted")
        assert(dMissed >= 0 && dMissed <= dTotal)
        // audit-under-load (VERDICT r10 next-5): every adversarial issue —
        // one per client under the rotation — fired a warn line, and firing
        // it (incl. the one cold mass census) broke neither the responses
        // above nor the deadline accounting
        val warnsRep = warnCount.get
        assert(warnsRep == nClients,
          s"audit warns $warnsRep != adversarial statements $nClients")
        SoakRep(ls, dTotal, dMissed, dLateMs, warnsRep)
      }
      val soakReps = 3
      val repRuns = (1 to soakReps).map(_ => soakOnce())
      val byP95 = repRuns.sortBy(r => msAt(r.ls, 0.95))
      val med = byP95(soakReps / 2)
      val p95SpreadMs = msAt(byP95.last.ls, 0.95) - msAt(byP95.head.ls, 0.95)
      val missesAllReps = repRuns.map(_.dMissed).sum
      val ls = med.ls
      val (dTotal, dMissed, dLateMs) = (med.dTotal, med.dMissed, med.dLateMs)
      val nAdversarial = nClients // each client issues `adversarial` once/rep
      val warnsMain = med.warns
      // opt-in rewrite under load (VERDICT r11 next-6): a second,
      // non-batched gateway on a REAL extensions session (the rewrite runs
      // in the optimizer, so the session needs the production injection;
      // the windowed path above runs statements on the executor's root
      // session, where a per-connection SET cannot reach — the same
      // documented trade as temp views). Each client opts in over the wire
      // with plain SET, issues the naive all-pairs kernel, and must get the
      // byte-identical isolated-naive answer while the rewrite counter
      // proves the door actually executed.
      // the BARE kernel (an aggregate above it would let column pruning
      // narrow the subtree out of canonical template equality); responses
      // compare as sorted sets since the two plans stream in different
      // physical orders
      val naiveKernel =
        ("SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, jaccard_bp(a.h, b.h) AS jaccard_bp " +
          "FROM (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) a " +
          "JOIN (SELECT doc_id, shingle_hashes(text, 4, true) AS h FROM documents) b " +
          "ON a.doc_id < b.doc_id AND jaccard_bp(a.h, b.h) >= 8000")
      val (nRewriteClients, nRewrites) = {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        org.apache.spark.sql.SparkSession.clearDefaultSession()
        val s2 = org.apache.spark.sql.SparkSession.builder().master("local[4]")
          .config("spark.sql.shuffle.partitions", "4")
          .withExtensions(new graft.functions.GraftExtensions)
          .getOrCreate()
        try {
          Tables.register(s2, sfDir)
          val expectedNaive = s2.sql(naiveKernel).toJSON.collect().toList.sorted
          val gw2 = new QueryGateway(s2, s => Tables.register(s, sfDir))
          try {
            val r0 = graft.plans.PairJoinAudit.rewritesApplied
            val nRw = 4
            val rwClients = (0 until nRw).map { c =>
              Future {
                val (sock, out, in) = connect(gw2.boundPort)
                try {
                  out.println("SET spark.graft.audit.rewrite=true")
                  readResponse(in)
                  out.println(naiveKernel)
                  val (head, rows, trailer) = readResponse(in)
                  assert(head == "ok" && trailer.startsWith("done"), s"rw client $c: $head/$trailer")
                  assert(rows.sorted == expectedNaive,
                    s"rw client $c diverged from the naive isolated answer: $rows")
                } finally sock.close()
              }
            }
            rwClients.foreach(Await.result(_, 5.minutes))
            (nRw, graft.plans.PairJoinAudit.rewritesApplied - r0)
          } finally gw2.close()
        } finally {
          s2.conf.unset(graft.plans.PairJoinAudit.RewriteFlag)
          org.apache.spark.sql.SparkSession.setDefaultSession(spark)
          org.apache.spark.sql.SparkSession.setActiveSession(spark)
        }
      }
      assert(nRewrites == nRewriteClients,
        s"rewrites applied $nRewrites != opted-in statements $nRewriteClients")
      val line = f"""{"metric":"gateway_soak","clients":$nClients,"statements":${ls.length},""" +
        f""""reps":$soakReps,""" +
        f""""p50_ms":${msAt(ls, 0.5)}%.1f,"p95_ms":${msAt(ls, 0.95)}%.1f,"max_ms":${ls.last / 1e6}%.1f,""" +
        f""""p95_spread_ms":$p95SpreadMs%.1f,""" +
        f""""deadline_budget_ms":$deadlineBudgetMs,"deadline_stmts":$dTotal,""" +
        f""""deadline_misses":$dMissed,"deadline_misses_all_reps":$missesAllReps,""" +
        f""""deadline_lateness_ms":$dLateMs,""" +
        f""""adversarial_stmts":$nAdversarial,"audit_warns":$warnsMain,""" +
        f""""rewrite_clients":$nRewriteClients,"audit_rewrites":$nRewrites}"""
      info(line)
    } finally { gw.close(); win.close(); ex.shutdown(); spark.catalog.clearCache() }
  }

  test("gateway executes SQL and streams JSON rows per connection") {
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir))
    try {
      val (sock, out, in) = connect(gw.boundPort)
      out.println("SELECT count(*) AS n FROM lineitem")
      val (head, rows, trailer) = readResponse(in)
      assert(head == "ok", head)
      assert(rows.size == 1 && rows.head.contains("\"n\":"), rows)
      assert(trailer == "done 1", trailer)
      // errors are reported inline, connection survives
      out.println("SELECT * FROM nonexistent_table")
      assert(readResponse(in)._1.startsWith("error "))
      out.println("SELECT r_name FROM region ORDER BY r_name LIMIT 1")
      val (h2, r2, t2) = readResponse(in)
      assert(h2 == "ok" && r2.head.contains("r_name") && t2 == "done 1")
      out.println("quit")
      sock.close()
    } finally gw.close()
  }

  test("unwindowed audit: a pair-enumerating self-join warns once, rows equal the isolated answer") {
    // the audit reads the analyzed plan of the DataFrame that ran, so the
    // statement is parsed once; its verdict still reaches the client
    Tables.register(spark, sfDir)
    val selfJoin =
      "SELECT count(*) AS n FROM documents a JOIN documents b " +
        "ON substring(a.text, 1, 64) = substring(b.text, 1, 64) AND a.doc_id < b.doc_id"
    val expected = spark.sql(selfJoin).toJSON.collect().toList
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir))
    try {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        warnCount.set(0L)
        out.println(selfJoin)
        val (head, rows, trailer) = readResponse(in)
        assert(head == "ok" && trailer == "done 1", (head, trailer))
        assert(warnCount.get == 1L, s"warn lines: ${warnCount.get}")
        assert(rows == expected, rows)
      } finally sock.close()
    } finally gw.close()
  }

  test("windowed replies do not wait for the client's delayed ACK") {
    // `ok` is flushed on its own before the rows and trailer; with Nagle on,
    // that second write waits for the client's ACK of `ok`, which Linux
    // delays by at least 40 ms
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    Tables.register(spark, sfDir) // windowed jobs run on the root session
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir), batching = Some(win))
    try {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        val gapsMs = (1 to 20).map { _ =>
          out.println("SELECT r_name FROM region WHERE r_regionkey = 1")
          assert(in.readLine() == "ok")
          val t0 = System.nanoTime()
          var line = in.readLine()
          while (!line.startsWith("done") && !line.startsWith("error")) line = in.readLine()
          assert(line == "done 1", line)
          (System.nanoTime() - t0) / 1e6
        }.sorted
        info(f"median ok -> trailer gap ${gapsMs(gapsMs.size / 2)}%.1f ms")
        assert(gapsMs(gapsMs.size / 2) < 25.0, s"ok -> trailer gaps (ms): $gapsMs")
      } finally sock.close()
    } finally { gw.close(); win.close(); ex.shutdown() }
  }

  test("close() closes the connections it accepted") {
    val gw = new QueryGateway(spark, _ => ())
    val (sock, out, in) = connect(gw.boundPort)
    try {
      out.println("SELECT 1 AS one")
      assert(readResponse(in)._3 == "done 1")
      gw.close()
      sock.setSoTimeout(30000) // an open connection fails by timing out here
      assert(in.readLine() == null)
    } finally { sock.close(); gw.close() }
  }

  test("large results stream partition-by-partition, row cap truncates") {
    // 200k rows over 8 partitions: far more than a sane header-count
    // materialization; the unwindowed path holds one partition's rows on
    // the driver at a time (the job-count spec below pins that)
    val gw = new QueryGateway(spark, _ => ())
    try {
      val (sock, out, in) = connect(gw.boundPort)
      out.println(
        "SELECT id, id * 2 AS dbl FROM range(0, 200000, 1, 8)")
      val (h, rows, trailer) = readResponse(in)
      assert(h == "ok")
      assert(rows.size == 200000)
      assert(trailer == "done 200000", trailer)
      sock.close()
    } finally gw.close()
    val capped = new QueryGateway(spark, _ => (), maxRows = 100)
    try {
      val (sock, out, in) = connect(capped.boundPort)
      out.println("SELECT id FROM range(0, 200000, 1, 8)")
      val (h, rows, trailer) = readResponse(in)
      assert(h == "ok")
      assert(rows.size == 100)
      assert(trailer == "done 100 truncated", trailer)
      // connection still usable after a truncated response
      out.println("SELECT 1 AS one")
      val (h2, r2, _) = readResponse(in)
      assert(h2 == "ok" && r2.size == 1)
      sock.close()
    } finally capped.close()
    // the windowed path takes the same capped answer through executeTake
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1, maxWaitMs = 200)
    val windowed = new QueryGateway(spark, _ => (), batching = Some(win), maxBatchRows = 100)
    try {
      val (sock, out, in) = connect(windowed.boundPort)
      out.println("SELECT id FROM range(0, 200000, 1, 8)")
      val (h, rows, trailer) = readResponse(in)
      assert(h == "ok")
      assert(rows.size == 100 && rows.head == "{\"id\":0}", rows.take(3))
      assert(trailer == "done 100 truncated", trailer)
      out.println("SELECT 1 AS one")
      val (h2, r2, t2) = readResponse(in)
      assert(h2 == "ok" && r2 == List("{\"one\":1}") && t2 == "done 1", (h2, r2, t2))
      sock.close()
    } finally { windowed.close(); win.close(); ex.shutdown() }
  }

  test("both gateway modes send the lines df.toJSON gives, under a non-UTC time zone") {
    // one encoder serves both paths; it must match the executors' toJSON
    // byte for byte on the types whose rendering it special-cases
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    val tzKey = "spark.sql.session.timeZone"
    val zone = "Asia/Kolkata" // +05:30 all year
    // the statement travels as ASCII: the SQL parser unescapes its unicode
    // and newline escapes, and chr(1) makes the control character
    val stmt = "SELECT id, timestamp_seconds(1700000000 + id * 90061) AS ts, " +
      "date_add(DATE '2024-02-28', CAST(id AS INT)) AS d, " +
      "CAST(id * 1234.5678 - 1 AS DECIMAL(20, 4)) AS dec, " +
      "array(id, NULL, -id) AS arr, " +
      "map(concat('k\"', id), id / 4, 'none', CAST(NULL AS DOUBLE)) AS m, " +
      "named_struct('s', concat('x', id), 'n', IF(id % 2 = 0, NULL, id)) AS st, " +
      "IF(id = 1, NULL, concat('caf\\u00e9 \\u65e5\\u672c \"q\" \\\\ a\\nb', chr(1))) AS txt " +
      "FROM range(0, 4, 1, 2)"
    def answer(port: Int): (String, List[String], String) = {
      val (sock, out, in) = connect(port)
      try {
        out.println(s"SET $tzKey=$zone")
        assert(readResponse(in)._3 == "done 1")
        out.println(stmt)
        readResponse(in)
      } finally sock.close()
    }
    def check(reply: (String, List[String], String), expected: List[String]): Unit = {
      // the statement reaches what the spec claims to cover
      val all = expected.mkString("\n")
      Seq("+05:30", "\"d\":\"2024-02-29\"", "\"dec\":1233.5678", "[0,null,0]",
        "\"none\":null", "caf\u00e9 \u65e5\u672c \\\"q\\\" \\\\ a\\nb\\u0001")
        .foreach(s => assert(all.contains(s), s"$s not in $all"))
      assert(expected.exists(l => !l.contains("\"txt\"")), "no row omits its NULL field")
      assert(reply == (("ok", expected, s"done ${expected.size}")), reply)
    }
    // unwindowed: the statement runs on the connection's own session
    val sessions = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.SparkSession]()
    val gw = new QueryGateway(spark, s => sessions.add(s))
    try {
      val reply = answer(gw.boundPort)
      check(reply, sessions.peek().sql(stmt).toJSON.collect().toList)
    } finally gw.close()
    // windowed: the statement, and the SET before it, run on the root session
    val rootZone = spark.conf.get(tzKey)
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    val windowed = new QueryGateway(spark, _ => (), batching = Some(win))
    try {
      val reply = answer(windowed.boundPort)
      check(reply, spark.sql(stmt).toJSON.collect().toList)
    } finally {
      windowed.close(); win.close(); ex.shutdown(); spark.conf.set(tzKey, rootZone)
    }
  }

  test("an error in a later partition ends the streamed reply; the connection survives") {
    val gw = new QueryGateway(spark, _ => ())
    try {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        // partition 6 of 8 holds ids 150000..174999
        out.println("SELECT CASE WHEN id = 150000 THEN raise_error('boom') ELSE id END AS v " +
          "FROM range(0, 200000, 1, 8)")
        val (head, rows, trailer) = readResponse(in)
        assert(head == "ok")
        assert(rows.size == 150000 && rows.head == "{\"v\":0}", rows.size)
        assert(trailer.startsWith("error ") && trailer.contains("boom"), trailer)
        out.println("SELECT 1 AS one")
        assert(readResponse(in) == (("ok", List("{\"one\":1}"), "done 1")))
      } finally sock.close()
    } finally gw.close()
  }

  test("an unwindowed reply reads one partition per job and stops reading at the row cap") {
    // a statement's jobs carry its id, gw-<conn>-<n>, as their job group
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tasksPerJob = new java.util.concurrent.ConcurrentHashMap[String, Vector[Int]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => tasksPerJob.merge(g, Vector(e.stageInfos.map(_.numTasks).sum), _ ++ _))
    }
    // events reach a listener in the order they were posted, so once a job
    // started after the reply is seen, every job of the reply has been too
    def jobsOf(group: String): Vector[Int] = {
      val marker = s"marker-${System.nanoTime()}"
      sc.setJobGroup(marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!tasksPerJob.containsKey(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(tasksPerJob.containsKey(marker), "listener never saw the marker job")
      tasksPerJob.getOrDefault(group, Vector.empty)
    }
    def reply(gw: QueryGateway): (String, Int, String) = {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        out.println("SELECT id FROM range(0, 200000, 1, 8)")
        val (head, rows, trailer) = readResponse(in)
        (head, rows.size, trailer)
      } finally sock.close()
    }
    sc.addSparkListener(listener)
    try {
      val whole = new QueryGateway(spark, _ => ())
      try {
        assert(reply(whole) == (("ok", 200000, "done 200000")))
        assert(jobsOf("gw-1-1") == Vector.fill(8)(1))
      } finally whole.close()
      tasksPerJob.clear()
      val capped = new QueryGateway(spark, _ => (), maxRows = 100)
      try {
        assert(reply(capped) == (("ok", 100, "done 100 truncated")))
        assert(jobsOf("gw-1-1") == Vector(1))
      } finally capped.close()
    } finally sc.removeSparkListener(listener)
  }

  test("connections are catalog-isolated but share the SparkContext") {
    val gw = new QueryGateway(spark, _ => ())
    try {
      val (s1, o1, i1) = connect(gw.boundPort)
      val (s2, o2, i2) = connect(gw.boundPort)
      o1.println("CREATE TEMPORARY VIEW mine AS SELECT 42 AS x")
      assert(readResponse(i1)._1 == "ok")
      o1.println("SELECT x FROM mine")
      val (h1, r1, _) = readResponse(i1)
      assert(h1 == "ok" && r1.size == 1)
      // the other connection must NOT see the temp view
      o2.println("SELECT x FROM mine")
      assert(readResponse(i2)._1.startsWith("error "))
      s1.close(); s2.close()
    } finally gw.close()
  }

  test("catalog tables persist across connections (VERDICT r10 next-6)") {
    // the reference's registerTempTable died with its connection
    // (DAGListener.scala:155-162); a catalog CTAS lives in SharedState —
    // connection 2 must read what connection 1 persisted after it quit
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir))
    try {
      // orphan-location guard (ADVICE r11): if a prior JVM aborted between
      // CTAS and DROP, the warehouse dir survives while the fresh in-memory
      // catalog makes DROP IF EXISTS a no-op — the exact hazard q137's
      // comment documents; reuse its defaultTablePath + delete device
      locally {
        val loc = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.defaultTablePath(
            org.apache.spark.sql.catalyst.TableIdentifier("gw_persisted")))
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) { fs.delete(loc, true); () }
      }
      val (s1, o1, i1) = connect(gw.boundPort)
      o1.println("DROP TABLE IF EXISTS gw_persisted")
      assert(readResponse(i1)._1 == "ok")
      o1.println("CREATE TABLE gw_persisted USING parquet AS " +
        "SELECT r_regionkey, r_name FROM region")
      assert(readResponse(i1)._1 == "ok")
      o1.println("quit")
      s1.close()
      val (s2, o2, i2) = connect(gw.boundPort)
      val (h, rows, trailer) = {
        o2.println("SELECT count(*) AS n FROM gw_persisted")
        readResponse(i2)
      }
      assert(h == "ok" && trailer == "done 1", (h, trailer))
      assert(rows.head.contains("\"n\":5"), rows)
      o2.println("DROP TABLE gw_persisted")
      assert(readResponse(i2)._1 == "ok")
      s2.close()
    } finally gw.close()
  }

  test("concurrent clients both complete (FAIR pools)") {
    val gw = new QueryGateway(spark, s => Tables.register(s, sfDir))
    try {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val results = Await.result(Future.sequence((1 to 4).map { _ =>
        Future {
          val (sock, out, in) = connect(gw.boundPort)
          out.println("SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1")
          val (head, rows, _) = readResponse(in)
          sock.close()
          (head, rows.size)
        }
      }), 5.minutes).toList
      assert(results.forall { case (h, n) => h == "ok" && n > 0 })
      assert(results.map(_._2).distinct.size == 1)
    } finally gw.close()
  }

  test("Thrift JDBC front-end answers a query end-to-end") {
    // JDBC connections get their own Spark session: temp views don't cross,
    // catalog (persistent) views do — register the corpus as catalog views.
    spark.sql(s"CREATE OR REPLACE VIEW lineitem_v AS SELECT * FROM parquet.`$sfDir/lineitem.parquet`")
    val port = 10000 + scala.util.Random.nextInt(5000)
    val server = ThriftFrontend.start(spark, port)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      var conn: java.sql.Connection = null
      val deadline = System.currentTimeMillis() + 60000
      while (conn == null && System.currentTimeMillis() < deadline) {
        try conn = java.sql.DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/default", "", "")
        catch { case _: Throwable => Thread.sleep(1000) }
      }
      assert(conn != null, "could not connect to Thrift server")
      val rs = conn.createStatement().executeQuery(
        "SELECT count(*) AS n FROM lineitem_v")
      assert(rs.next())
      assert(rs.getLong(1) > 0)
      conn.close()
    } finally server.stop()
  }
}
