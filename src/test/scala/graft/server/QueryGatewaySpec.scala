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

  /** The id the gateways give the next connection they accept. */
  private def nextConn: Long = QueryGateway.connIds.get + 1

  /** The jobs a listener saw started, per Spark job group, in start order:
    * each one's task count and `spark.scheduler.pool`. */
  private final class JobsSeen(sc: org.apache.spark.SparkContext) {
    private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Vector[(Int, String)]]()
    private val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener: org.apache.spark.scheduler.SparkListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          started.add(g)
          byGroup.merge(g, Vector(e.stageInfos.map(_.numTasks).sum ->
            e.properties.getProperty("spark.scheduler.pool")), _ ++ _)
        }
    }
    /** Events reach a listener in the order they were posted, so once a job
      * started after a reply is seen, every job of the reply has been too. */
    private def sync(): Unit = {
      val marker = s"marker-${System.nanoTime()}"
      sc.setJobGroup(marker, null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!byGroup.containsKey(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(byGroup.containsKey(marker), "listener never saw the marker job")
    }
    private def take(group: String): Vector[(Int, String)] = {
      sync()
      byGroup.remove(group) match { case null => Vector.empty; case v => v }
    }
    /** `group`'s jobs so far, as task counts; they are read once. */
    def apply(group: String): Vector[Int] = take(group).map(_._1)
    /** `group`'s jobs so far, as pools; they are read once. */
    def pools(group: String): Vector[String] = take(group).map(_._2)
    /** Every group whose jobs started so far, in the order of its first job. */
    def groups: Vector[String] = { sync(); started.toArray(Array.empty[String]).toVector.distinct }
  }

  /** Runs `body` with a [[JobsSeen]] listening. */
  private def withJobsByGroup[A](body: JobsSeen => A): A = {
    val sc = spark.sparkContext
    val seen = new JobsSeen(sc)
    sc.addSparkListener(seen.listener)
    try body(seen) finally sc.removeSparkListener(seen.listener)
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
    // a deadline-only hint carries metadata but priority 0: its statement
    // runs in graft-default, and its deadline orders its window
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
      // a priority-9 hint still executes — in graft-default, not urgent
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
    // no AQE coalescing, so a small ORDER BY keeps all its partitions; every
    // connection, windowed or not, gets the same conf, so windowed members
    // may merge and their replies can equal the unwindowed ones
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    def init(s: org.apache.spark.sql.SparkSession): Unit = {
      Tables.register(s, sfDir); s.conf.set(coalesce, "false")
    }
    val gw = new QueryGateway(spark, init, batching = Some(win))
    Tables.register(spark, sfDir) // the plan checks below run on the root session
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
      val plain = new QueryGateway(spark, init)
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
    Tables.register(spark, sfDir) // the isolated answers run on the root session
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
                  case _ => // default pool, fronted in its window by its
                    // deadline (EDF), and counted by DeadlineTelemetry
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
      // non-batched gateway on a child of the test session.
      // Each client opts in over the wire with plain SET, issues the naive
      // all-pairs kernel, and must get the byte-identical isolated-naive
      // answer while the rewrite counter proves the door actually executed.
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
        val s2 = spark.newSession()
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

  test("connections compile a statement's code once and share one task class loader, in both gateway modes") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    import org.apache.spark.metrics.source.CodegenMetrics
    // names the context class loader of the task that evaluates it
    def init(s: org.apache.spark.sql.SparkSession): Unit =
      s.udf.register("task_loader", (_: Long) => {
        val l = Thread.currentThread.getContextClassLoader
        s"${l.getClass.getName}@${System.identityHashCode(l)}"
      })
    val agg = "SELECT k, count(*) AS n, sum(v) AS s FROM (SELECT id % 7 AS k, id * 3 AS v " +
      "FROM range(0, 20000, 1, 4)) GROUP BY k ORDER BY k"
    val loader = "SELECT DISTINCT task_loader(id) AS l FROM range(0, 8, 1, 4)"
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ex = new WorkSharingExecutor(spark)
    // a window closes on its one statement after 50 ms, so the connections'
    // statements run one after another, each as it was sent
    val win = new BatchWindow[Seq[String]](ex, windowSize = 4, maxWaitMs = 50)
    try {
      for ((mode, batching) <- Seq("unwindowed" -> None, "windowed" -> Some(win))) {
        val gw = new QueryGateway(spark, init, batching = batching)
        val conns = Seq.fill(4)(connect(gw.boundPort))
        try {
          def ask(c: (java.net.Socket, PrintWriter, BufferedReader)): (List[String], List[String]) = {
            def one(sql: String): List[String] = {
              c._2.println(sql)
              val (head, rows, trailer) = readResponse(c._3)
              assert(head == "ok" && trailer == s"done ${rows.size}", (mode, sql, head, trailer))
              rows
            }
            (one(agg), one(loader))
          }
          val (rows0, loaders0) = ask(conns.head)
          val before = compiles
          val rest = conns.tail.map(ask)
          assert(compiles - before == 0,
            s"$mode: ${compiles - before} compiles after the first connection answered")
          assert(rest.forall(_._1 == rows0) && rows0.size == 7, (mode, rows0))
          // one loader for every task of every connection's statement
          assert(loaders0.size == 1 && rest.forall(_._2 == loaders0), (mode, loaders0, rest.map(_._2)))
        } finally { conns.foreach(_._1.close()); gw.close() }
      }
    } finally { win.close(); ex.shutdown() }
  }

  test("a connection whose sessionInit fails answers its first statement with the error and closes") {
    val gw = new QueryGateway(spark, _ => throw new IllegalStateException("no corpus at /missing"))
    val (sock, out, in) = connect(gw.boundPort)
    try {
      sock.setSoTimeout(30000) // a connection left hanging fails by timing out here
      out.println("SELECT 1 AS one")
      val first = in.readLine()
      assert(first != null && first.startsWith("error ") && first.contains("no corpus at /missing"), first)
      assert(in.readLine() == null)
    } finally { sock.close(); gw.close() }
  }

  test("a statement runs in its JobMeta class pool, in both gateway modes") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    val sc = spark.sparkContext
    val classPools = Set("graft-default", "graft-urgent", "graft-bulk")
    // FAIR's root pool also holds Spark's own "default"
    def strayPools = sc.getAllPools.map(_.name).toSet -- classPools - "default"
    val hinted = Seq("" -> "graft-default", "/*+ graft(priority=5) */ " -> "graft-urgent",
      "/*+ graft(priority=-1) */ " -> "graft-bulk")
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    try withJobsByGroup { jobsOf =>
      for ((mode, batching) <- Seq("unwindowed" -> None, "windowed" -> Some(win))) {
        val gw = new QueryGateway(spark, _ => (), maxHintPriority = 5, batching = batching)
        val first = nextConn
        val conns = Seq.fill(4)(connect(gw.boundPort))
        try {
          // every connection sends the same three statements, in order
          for ((_, out, in) <- conns; (hint, _) <- hinted) {
            out.println(hint + "SELECT count(*) AS n FROM range(0, 100, 1, 2)")
            assert(readResponse(in)._3 == "done 1", mode)
          }
          for (conn <- first until first + conns.size; ((_, pool), k) <- hinted.zipWithIndex) {
            val pools = jobsOf.pools(s"gw-$conn-${k + 1}")
            assert(pools.nonEmpty && pools.forall(_ == pool), (mode, conn, k, pools))
          }
          assert(strayPools.isEmpty, (mode, strayPools))
        } finally { conns.foreach(_._1.close()); gw.close() }
      }
    } finally { win.close(); ex.shutdown() }
    assert(strayPools.isEmpty, strayPools)
  }

  test("two gateways on one SparkContext give distinct job groups") {
    withJobsByGroup { jobsOf =>
      // the groups of each gateway's first connection's first statement
      val firsts = (1 to 2).map { _ =>
        val gw = new QueryGateway(spark, _ => ())
        try {
          val before = jobsOf.groups.toSet
          val (sock, out, in) = connect(gw.boundPort)
          try {
            out.println("SELECT id FROM range(0, 10, 1, 2)")
            assert(readResponse(in)._3 == "done 10")
          } finally sock.close()
          jobsOf.groups.filter(g => g.startsWith("gw-") && !before(g))
        } finally gw.close()
      }
      assert(firsts.forall(_.size == 1) && firsts(0) != firsts(1), firsts)
    }
  }

  test("a gateway's window runs the earlier deadline first") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // one action thread: a window's statements start their jobs in its order
    val ex = new WorkSharingExecutor(spark, maxConcurrency = 1)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 2, maxWaitMs = 10000)
    val gw = new QueryGateway(spark, _ => (), batching = Some(win))
    try withJobsByGroup { jobsOf =>
      val (early, late) = (s"gw-$nextConn-1", s"gw-${nextConn + 1}-1")
      val (sa, oa, ia) = connect(gw.boundPort)
      val (sb, ob, ib) = connect(gw.boundPort)
      try {
        oa.println("SELECT id FROM range(0, 10, 1, 2)")
        val a = Future(readResponse(ia))
        Thread.sleep(1000) // the unhinted statement reaches the window first
        ob.println(s"/*+ graft(deadlineMs=${System.currentTimeMillis() + 60000}) */ " +
          "SELECT id * 2 AS d FROM range(0, 20, 1, 2)")
        assert(readResponse(ib)._3 == "done 20")
        assert(Await.result(a, 1.minute)._3 == "done 10")
      } finally { sa.close(); sb.close() }
      val ours = jobsOf.groups.filter(Set(early, late))
      assert(ours == Vector(late, early), jobsOf.groups)
    } finally { gw.close(); win.close(); ex.shutdown() }
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
    // the windowed path sends the same capped answer through replyJson
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
    // both modes run the statement, and the SET before it, on the
    // connection's own session
    val sessions = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.SparkSession]()
    val gw = new QueryGateway(spark, s => sessions.add(s))
    try {
      val reply = answer(gw.boundPort)
      check(reply, sessions.poll().sql(stmt).toJSON.collect().toList)
    } finally gw.close()
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    val windowed = new QueryGateway(spark, s => sessions.add(s), batching = Some(win))
    try {
      val reply = answer(windowed.boundPort)
      check(reply, sessions.poll().sql(stmt).toJSON.collect().toList)
    } finally { windowed.close(); win.close(); ex.shutdown() }
  }

  test("an error in a later partition ends the streamed reply; the connection survives") {
    // partition 6 of 8 holds ids 150000..174999; a collect that overflows
    // maxBatchRows reads 1001 rows of each partition, so never reaches 160000
    val failing = "SELECT CASE WHEN id = 160000 THEN raise_error('boom') ELSE id END AS v " +
      "FROM range(0, 200000, 1, 8)"
    def answers(gw: QueryGateway): (String, List[String], String) = {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        out.println(failing)
        val reply = readResponse(in)
        out.println("SELECT 1 AS one")
        assert(readResponse(in) == (("ok", List("{\"one\":1}"), "done 1")))
        reply
      } finally sock.close()
    }
    // a reply that fits is collected before any row is sent: `ok`, then
    // the error
    val collected = new QueryGateway(spark, _ => ())
    try {
      val (head, rows, trailer) = answers(collected)
      assert(head == "ok" && rows.isEmpty, (head, rows.size))
      assert(trailer.startsWith("error ") && trailer.contains("boom"), trailer)
    } finally collected.close()
    // one over the row bound streams: the partitions before the failing one
    // go out first
    val streamed = new QueryGateway(spark, _ => (), maxBatchRows = 1000)
    try {
      val (head, rows, trailer) = answers(streamed)
      assert(head == "ok")
      assert(rows.size == 150000 && rows.head == "{\"v\":0}", rows.size)
      assert(trailer.startsWith("error ") && trailer.contains("boom"), trailer)
    } finally streamed.close()
  }

  test("an unwindowed reply reads one partition per job and stops reading at the row cap") {
    // a statement's jobs carry its id, gw-<conn>-<n>, as their job group
    def reply(gw: QueryGateway): (String, Int, String) = {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        out.println("SELECT id FROM range(0, 200000, 1, 8)")
        val (head, rows, trailer) = readResponse(in)
        (head, rows.size, trailer)
      } finally sock.close()
    }
    withJobsByGroup { jobsOf =>
      // a reply that fits the row bound is collected by one job
      val whole = new QueryGateway(spark, _ => ())
      try {
        val g = s"gw-$nextConn-1"
        assert(reply(whole) == (("ok", 200000, "done 200000")))
        assert(jobsOf(g) == Vector(8))
      } finally whole.close()
      // capped, the collect is cancelled once any 101 rows arrived; the
      // first 100 rows go out from it when partition 0's had arrived, else
      // the reply streams partition 0 alone
      val capped = new QueryGateway(spark, _ => (), maxRows = 100)
      try {
        val g = s"gw-$nextConn-1"
        assert(reply(capped) == (("ok", 100, "done 100 truncated")))
        val jobs = jobsOf(g)
        assert(jobs == Vector(8) || jobs == Vector(8, 1), jobs)
      } finally capped.close()
      // over the row bound: the collect attempt is cancelled, then the reply
      // streams one partition per job and stops at the row cap, 30000 rows
      // into partition 1
      val streamed = new QueryGateway(spark, _ => (), maxRows = 30000, maxBatchRows = 1000)
      try {
        val g = s"gw-$nextConn-1"
        assert(reply(streamed) == (("ok", 30000, "done 30000 truncated")))
        assert(jobsOf(g) == Vector(8, 1, 1))
      } finally streamed.close()
    }
  }

  test("sorted unwindowed replies equal df.toJSON line for line, sorted on the driver") {
    val zone = "Asia/Kolkata"
    val sessions = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.SparkSession]()
    def init(s: org.apache.spark.sql.SparkSession): Unit = {
      s.conf.set("spark.sql.session.timeZone", zone)
      s.sql("CREATE TEMP VIEW sorted_src AS SELECT id, IF(id % 7 = 0, NULL, id % 50) AS k, " +
        "timestamp_seconds(1700000000 + id * 3599) AS ts, concat('s', id % 13) AS s " +
        "FROM range(0, 3000, 1, 6)")
      sessions.add(s)
    }
    // every order is total, so a stable sort on the driver and Spark's own
    // sort agree on every line. With each statement, the jobs it runs when
    // its sort runs on the driver: no sampling job or range shuffle, so a
    // plain sort runs one job and a GROUP BY its aggregate's two. nvl is
    // rewritten by the optimizer before Spark evaluates it, so a projection
    // of it above the sort keeps the whole statement in Spark.
    val cases = Seq(
      "SELECT id, ts FROM sorted_src ORDER BY ts" -> Some(1),
      "SELECT id, k FROM sorted_src ORDER BY k DESC NULLS LAST, id" -> Some(1),
      "SELECT id, k FROM sorted_src ORDER BY k NULLS FIRST, id DESC" -> Some(1),
      "SELECT s, ts FROM sorted_src ORDER BY id DESC" -> Some(1), // Project over Sort
      "SELECT s, count(*) AS n, max(ts) AS last FROM sorted_src GROUP BY s ORDER BY s DESC" -> Some(2),
      "SELECT nvl(k, -1) AS k2 FROM (SELECT k, id FROM sorted_src ORDER BY id DESC)" -> None)
    val sorted = cases.map(_._1)
    def replies(gw: QueryGateway): (org.apache.spark.sql.SparkSession, Seq[(String, List[String], String)]) = {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        val answered = sorted.map { q => out.println(q); readResponse(in) }
        (sessions.poll(), answered)
      } finally sock.close()
    }
    def expected(session: org.apache.spark.sql.SparkSession, q: String) = {
      val lines = session.sql(q).toJSON.collect().toList
      ("ok", lines, s"done ${lines.size}")
    }
    withJobsByGroup { jobsOf =>
      def check(gw: QueryGateway): Unit = {
        val conn = nextConn
        val (session, answered) = replies(gw)
        assert(answered.head._2.head.contains("+05:30"), answered.head._2.head)
        cases.zip(answered).zipWithIndex.foreach { case (((q, jobs), reply), i) =>
          assert(reply == expected(session, q), q)
          val ran = jobsOf(s"gw-$conn-${i + 1}").size
          jobs.foreach(n => assert(ran == n, q))
        }
      }
      val gw = new QueryGateway(spark, init)
      try check(gw) finally gw.close()
      // a windowed reply takes the same path, with the same jobs
      import graft.sharing.{BatchWindow, WorkSharingExecutor}
      val ex = new WorkSharingExecutor(spark)
      val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
      val windowed = new QueryGateway(spark, init, batching = Some(win))
      try check(windowed) finally { windowed.close(); win.close(); ex.shutdown() }
      // over the row bound, a sorted reply falls back to streaming
      val streamed = new QueryGateway(spark, init, maxBatchRows = 1000)
      try {
        val conn = nextConn
        val (session, answered) = replies(streamed)
        sorted.zip(answered).foreach { case (q, reply) => assert(reply == expected(session, q), q) }
        assert(jobsOf(s"gw-$conn-1").size > 1)
      } finally streamed.close()
    }
  }

  test("an expression the driver evaluates reads the connection's conf, in both gateway modes") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    // LAST_WIN keeps a duplicate map key's last value, where the default
    // policy fails the statement; with ignoreNullFields off a NULL field is
    // written, where by default it is left out. Both replies evaluate the
    // map above the sort on the driver: the unwindowed one on the
    // connection's thread, the windowed one on the window's thread.
    val sets = Seq("SET spark.sql.mapKeyDedupPolicy=LAST_WIN",
      "SET spark.sql.jsonGenerator.ignoreNullFields=false")
    val stmt = "SELECT map(k, 'a', k, 'b') AS m, IF(k = 0, NULL, k) AS n " +
      "FROM (SELECT id AS k FROM range(0, 3, 1, 2) ORDER BY k DESC)"
    val sessions = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.SparkSession]()
    def check(gw: QueryGateway): Unit = {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        sets.foreach { q => out.println(q); assert(readResponse(in)._3 == "done 1", q) }
        out.println(stmt)
        val reply = readResponse(in)
        val expected = sessions.poll().sql(stmt).toJSON.collect().toList
        assert(expected.last == "{\"m\":{\"0\":\"b\"},\"n\":null}", expected)
        assert(reply == (("ok", expected, "done 3")), reply)
      } finally sock.close()
    }
    val gw = new QueryGateway(spark, s => sessions.add(s))
    try check(gw) finally gw.close()
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    val windowed = new QueryGateway(spark, s => sessions.add(s), batching = Some(win))
    try check(windowed) finally { windowed.close(); win.close(); ex.shutdown() }
  }

  test("unwindowed collects draw their rows on one byte budget and stream when it runs out") {
    import graft.sharing.ByteBudget
    val sc = spark.sparkContext
    // 4 partitions of 1000 one-long rows, 16 000 compact bytes each
    val df = spark.sql("SELECT id FROM range(0, 4000, 1, 4)")
    val expected = df.toJSON.collect().toList
    def reply(group: String, lease: ByteBudget#Lease): List[String] = {
      sc.setJobGroup(group, null)
      try QueryGateway.replyJson(df, Long.MaxValue, 1000000, lease).toList
      finally sc.clearJobGroup()
    }
    withJobsByGroup { jobsOf =>
      val budget = new ByteBudget(100000)
      val other = budget.lease(100000)
      assert(other.tryTake(50000))
      // three partitions fit the 50 000 bytes left, the fourth does not: the
      // collect is cancelled, gives its draw back, and the reply streams
      val short = budget.lease(QueryGateway.CollectBytes)
      assert(reply("short", short) == expected)
      assert(jobsOf("short") == Vector(4, 1, 1, 1, 1))
      assert(budget.inUse == 50000)
      other.close()
      // with room, one job, and the rows stay drawn until the lease closes
      val room = budget.lease(QueryGateway.CollectBytes)
      assert(reply("room", room) == expected)
      assert(jobsOf("room") == Vector(4))
      assert(budget.inUse == 64000)
      room.close()
      assert(budget.inUse == 0)
    }
    // a gateway statement gives its draw back before its reply is flushed
    val gw = new QueryGateway(spark, _ => ())
    try {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        out.println("SELECT id FROM range(0, 4000, 1, 4) ORDER BY id DESC")
        assert(readResponse(in)._3 == "done 4000")
        assert(ByteBudget.collectBudget.inUse == 0)
      } finally sock.close()
    } finally gw.close()
  }

  test("statements arrive as UTF-8") {
    val gw = new QueryGateway(spark, _ => ())
    try {
      val (sock, _, in) = connect(gw.boundPort)
      try {
        sock.getOutputStream.write("SELECT 'caf\u00e9' AS x\n".getBytes(UTF_8))
        sock.getOutputStream.flush()
        assert(readResponse(in) == (("ok", List("{\"x\":\"caf\u00e9\"}"), "done 1")))
      } finally sock.close()
    } finally gw.close()
  }

  test("a windowed statement runs under its id as its Spark job group") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    val gw = new QueryGateway(spark, _ => (), batching = Some(win))
    try withJobsByGroup { jobsOf =>
      val conn = nextConn
      val (sock, out, in) = connect(gw.boundPort)
      try {
        out.println("SELECT id FROM range(0, 1000, 1, 4)")
        assert(readResponse(in)._3 == "done 1000")
      } finally sock.close()
      assert(jobsOf(s"gw-$conn-1").nonEmpty)
    } finally { gw.close(); win.close(); ex.shutdown() }
  }

  test("a windowed client's temp view and SET reach neither another client nor the root session") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    val key = "spark.sql.shuffle.partitions"
    val rootValue = spark.conf.get(key)
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    val gw = new QueryGateway(spark, _ => (), batching = Some(win))
    try {
      val (sa, oa, ia) = connect(gw.boundPort)
      val (sb, ob, ib) = connect(gw.boundPort)
      try {
        oa.println("CREATE OR REPLACE TEMP VIEW only_a AS SELECT 42 AS secret")
        assert(readResponse(ia)._1 == "ok")
        oa.println("SELECT secret FROM only_a")
        assert(readResponse(ia) == (("ok", List("{\"secret\":42}"), "done 1")))
        ob.println("SELECT secret FROM only_a")
        assert(readResponse(ib)._1.startsWith("error "))
        assert(!spark.catalog.tableExists("only_a"))
        def bValue(): List[String] = { ob.println(s"SET $key"); readResponse(ib)._2 }
        val before = bValue()
        oa.println(s"SET $key=1")
        assert(readResponse(ia)._2 == List(s"{\"key\":\"$key\",\"value\":\"1\"}"))
        assert(bValue() == before && !before.head.contains("\"value\":\"1\""), before)
        assert(spark.conf.get(key) == rootValue)
      } finally { sa.close(); sb.close() }
    } finally { gw.close(); win.close(); ex.shutdown(); spark.conf.set(key, rootValue) }
  }

  test("a view that sessionInit registers resolves in its connection's windowed statements") {
    import graft.sharing.{BatchWindow, WorkSharingExecutor}
    val ex = new WorkSharingExecutor(spark)
    val win = new BatchWindow[Seq[String]](ex, windowSize = 1)
    val gw = new QueryGateway(spark,
      s => s.sql("CREATE TEMP VIEW init_only AS SELECT 7 AS seven"), batching = Some(win))
    try {
      val (sock, out, in) = connect(gw.boundPort)
      try {
        out.println("SELECT seven FROM init_only")
        assert(readResponse(in) == (("ok", List("{\"seven\":7}"), "done 1")))
      } finally sock.close()
    } finally { gw.close(); win.close(); ex.shutdown() }
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
