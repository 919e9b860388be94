package servebench

import java.io.{BufferedWriter, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

import graft.server.{DeadlineTelemetry, QueryGateway}
import graft.sharing.{QueryJob, ShareDetector}

/** One layer's interval within one statement; its parent is the statement. */
final case class Span(name: String, stmt: Long, startNs: Long, endNs: Long)

/** What the traced run keeps of one statement. Fields written inside the
  * window's closures run on other threads; the client reads them after the
  * statement's future completes. */
final class Rec(val id: Long, val client: Int, val stmt: Int) {
  @volatile var t0, ack, t1 = 0L
  @volatile var window = 0
  @volatile var cacheHit = false
  @volatile var rows, bytes = 0L
  @volatile var failed = false
  @volatile var warned = false
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Intervals in which the statement's plan executes. */
  val exec = new ConcurrentLinkedQueue[(Long, Long)]()

  def span(name: String, a: Long, b: Long): Unit = spans.add(Span(name, id, a, b))
  def time[T](name: String)(body: => T): T = {
    val a = System.nanoTime()
    try body finally span(name, a, System.nanoTime())
  }
  def spanNs(name: String): Long = spans.asScala.filter(_.name == name).map(s => s.endNs - s.startNs).sum
  def wallNs: Long = t1 - t0
}

/** Window membership, seen from the job closures: a window's builds all run
  * before any of its actions, and the next window's builds start only after
  * every action of this one ended, so a build after an action opens a new
  * window. */
final class Windows {
  private var n = 0
  private var actionSeen = true
  val built = mutable.Map.empty[Int, mutable.ListBuffer[(String, DataFrame)]]
  def onBuild(name: String, df: => DataFrame): (Int, DataFrame) = synchronized {
    if (actionSeen) { n += 1; actionSeen = false }
    val d = df
    built.getOrElseUpdate(n, mutable.ListBuffer.empty) += (name -> d)
    (n, d)
  }
  def onAction(): Unit = synchronized { actionSeen = true }
}

/** Spark's side of the trace: jobs by job group (a statement's id; none for
  * the executor's scan warming), their stages and task metrics, and the
  * executor's warming `count()` executions. */
final class SparkTrace(sinceMs: Long) extends SparkListener with QueryExecutionListener {
  final class Job(val group: String, val startMs: Long) { @volatile var endMs = -1L }
  final class Acc {
    val stages, tasks, runMs, cpuNs, gcMs, inBytes, shWrite, shRead, spill = new LongAdder
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, Acc]()
  val warmNs = new LongAdder

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (e.time >= sinceMs) {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new Job(g, e.time))
    e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(acc(_).stages.increment())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      a.tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        a.runMs.add(m.executorRunTime); a.cpuNs.add(m.executorCpuTime); a.gcMs.add(m.jvmGCTime)
        a.inBytes.add(m.inputMetrics.bytesRead); a.shWrite.add(m.shuffleWriteMetrics.bytesWritten)
        a.shRead.add(m.shuffleReadMetrics.totalBytesRead); a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "count") warmNs.add(durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drained: Boolean = jobs.values.asScala.forall(_.endMs >= 0)
}

/** The traced run: each client thread calls the layers' public entry points
  * in the gateway's order (parseMeta, BatchWindow.submit or the streaming
  * iterator, PairJoinAudit.inspect, JSON row encoding) in-process, with a
  * span around each call. */
object Traced {
  private final class CountingStream extends java.io.OutputStream {
    var count = 0L
    override def write(b: Int): Unit = count += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = count += len
  }

  /** One statement, as `QueryGateway.handle` runs it. */
  private def statement(server: Server, session: SparkSession, client: Int, line: String,
                        r: Rec, windows: Windows, expected: (Long, Long)): Unit = {
    val sc = session.sparkContext
    val group = s"servebench-${r.id}"
    r.t0 = System.nanoTime()
    sc.setJobGroup(group, group)
    try {
      val (meta, sql) = r.time("server.parse")(QueryGateway.parseMeta(line))
      val effective = meta.copy(priority = math.min(meta.priority, Server.MaxHintPriority))
      sc.setLocalProperty("spark.scheduler.pool",
        if (effective.priority != 0) effective.pool else s"graft-client-$client")
      val rows: Iterator[String] = server.window match {
        case Some(win) =>
          @volatile var tb0, tb1, ta0, ta1 = 0L
          val job = QueryJob[Seq[String]](group, s => {
            tb0 = System.nanoTime()
            val (w, df) = windows.onBuild(group, s.sql(sql))
            r.window = w
            tb1 = System.nanoTime()
            df
          }, df => {
            df.sparkSession.sparkContext.setJobGroup(group, group)
            windows.onAction()
            ta0 = System.nanoTime()
            try {
              val li = df.toJSON.toLocalIterator()
              val buf = mutable.ListBuffer.empty[String]
              while (li.hasNext) buf += li.next()
              buf.toSeq
            } finally {
              ta1 = System.nanoTime()
              df.sparkSession.sparkContext.clearJobGroup()
              r.cacheHit = df.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
            }
          }, effective)
          val submitted = System.nanoTime()
          val res = Await.result(win.submit(job), 30.minutes)
          val done = System.nanoTime()
          r.span("sharing.window_wait", submitted, tb0)
          r.span("sharing.build", tb0, tb1)
          r.span("sharing.pre_exec", tb1, ta0)
          r.span("sharing.exec", ta0, ta1)
          r.span("sharing.window_tail", ta1, done)
          r.exec.add((ta0, ta1))
          res.iterator
        case None =>
          val a = System.nanoTime()
          val it = session.sql(sql).toJSON.toLocalIterator()
          val b = System.nanoTime()
          r.span("server.ack", a, b)
          r.exec.add((a, b))
          it.asScala
      }
      r.ack = System.nanoTime()
      val warn = r.time("plans.audit") {
        try graft.plans.PairJoinAudit.inspect(session.sessionState.executePlan(
          session.sessionState.sqlParser.parsePlan(sql)).analyzed, session)
        catch { case _: Throwable => None }
      }
      r.warned = warn.isDefined
      val s0 = System.nanoTime()
      val sink = new CountingStream
      val out = new PrintWriter(new BufferedWriter(new OutputStreamWriter(sink, UTF_8), 1 << 16), false)
      out.println("ok")
      warn.foreach(w => out.println("warn " + w.replaceAll("\\s+", " ").take(500)))
      val fp = new Fingerprint(Fingerprint.orderedFor(sql))
      while (rows.hasNext) { val l = rows.next(); out.println(l); fp.add(l) }
      out.println(s"done ${fp.rows}")
      out.flush()
      val s1 = System.nanoTime()
      r.span("server.stream", s0, s1)
      if (server.window.isEmpty) r.exec.add((s0, s1))
      r.rows = fp.rows
      r.bytes = sink.count
      r.failed = fp.value != expected
      effective.deadlineMs.foreach(DeadlineTelemetry.record(_, System.currentTimeMillis()))
    } catch { case _: Throwable => r.failed = true }
    finally {
      sc.clearJobGroup()
      r.t1 = System.nanoTime()
    }
  }

  /** Total length of the union of intervals. */
  private def unionLen(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private def clip(xs: Seq[(Double, Double)], to: Seq[(Double, Double)]): Seq[(Double, Double)] =
    for (x <- xs; t <- to) yield (math.max(x._1, t._1), math.min(x._2, t._2))

  def run(server: Server, wl: Workload, pool: IndexedSeq[Stmt], expected: IndexedSeq[(Long, Long)],
          seed: Long, seconds: Double, untraced: Seq[Sample], out: String): String = {
    val spark = server.spark
    val sc = spark.sparkContext
    // client sessions as the gateway opens them, before the clock starts
    val sessions = (0 until ServeBench.Clients).map { _ =>
      val s = spark.newSession(); wl.register(s, server.dataDir); s
    }
    Thread.sleep(500) // let the untraced phase's listener events drain
    val nano0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    def ms(ns: Long): Double = epoch0 + (ns - nano0) / 1e6
    val st = new SparkTrace(epoch0)
    sc.addSparkListener(st)
    spark.listenerManager.register(st)
    DeadlineTelemetry.reset()
    val (hits0, misses0) = (graft.Memo.hits, graft.Memo.misses)
    val ids = new AtomicLong()
    val recs = new ConcurrentLinkedQueue[Rec]()
    val windows = new Windows
    val steps = new Steps(seconds, wl.windowed)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until ServeBench.Clients).map { c =>
      new Thread(() => {
        try {
          val it = wl.stream(seed, c)
          Iterator.from(1).takeWhile(steps.open).foreach { _ =>
            val item = it.next()
            val r = new Rec(ids.incrementAndGet(), c, item.stmt)
            statement(server, sessions(c), c,
              wl.hint(item.hintClass, System.currentTimeMillis()) + pool(item.stmt).sql, r, windows,
              expected(item.stmt))
            recs.add(r)
          }
        } catch { case t: Throwable => errors.add(t) }
      }, s"servebench-traced-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(t => throw t)
    val drainBy = System.nanoTime() + 10000000000L
    while (!st.drained && System.nanoTime() < drainBy) Thread.sleep(50)
    Thread.sleep(300)
    spark.listenerManager.unregister(st)
    sc.removeSparkListener(st)
    val (_, deadlineMisses, _) = DeadlineTelemetry.snapshot

    val rs = recs.asScala.toSeq.sortBy(_.id)
    val n = rs.size.toDouble
    def mean(f: Rec => Double): Double = rs.map(f).sum / n
    def meanMs(name: String): Double = mean(_.spanNs(name) / 1e6)

    val coverageOf: Rec => Double = r =>
      unionLen(r.spans.asScala.toSeq.map(s => (s.startNs.toDouble, s.endNs.toDouble))) / r.wallNs
    val covered = rs.map(r => coverageOf(r) * r.wallNs).sum / rs.map(_.wallNs).sum
    val uncovered = rs.filter(r => coverageOf(r) < 0.9)

    val byWindow = rs.filter(_.window > 0).groupBy(_.window).values.toSeq
    val nWin = math.max(1, byWindow.size).toDouble
    def spansOf(w: Seq[Rec], name: String): Seq[Span] = w.flatMap(_.spans.asScala.find(_.name == name))
    val preludeMs = byWindow.flatMap { w =>
      val (builds, execs) = (spansOf(w, "sharing.build"), spansOf(w, "sharing.exec"))
      if (builds.isEmpty || execs.isEmpty) None
      else Some((execs.map(_.startNs).min - builds.map(_.endNs).max) / 1e6)
    }
    val detectMs = windows.built.values.toSeq.map { jobs =>
      val a = System.nanoTime(); ShareDetector.detect(spark, jobs.toSeq); (System.nanoTime() - a) / 1e6
    }

    val jobs = st.jobs.values.asScala.toSeq
    val stmtJobs = jobs.filter(_.group.startsWith("servebench-")).groupBy(_.group)
    val driverGapMs = mean { r =>
      val exec = r.exec.asScala.toSeq.map { case (a, b) => (ms(a), ms(b)) }
      val js = stmtJobs.getOrElse(s"servebench-${r.id}", Nil).map(j => (j.startMs.toDouble, j.endMs.toDouble))
      unionLen(exec) - unionLen(clip(js, exec))
    }
    val accs = st.byGroup.asScala.filter(_._1.startsWith("servebench-")).values.toSeq
    def total(f: st.Acc => LongAdder): Double = accs.map(a => f(a).sum.toDouble).sum
    val tasks = total(_.tasks)

    val tracedLat = rs.map(_.wallNs / 1e6).sorted.toIndexedSeq
    val untracedP50 = Report.pct(untraced.map(_.latencyNs / 1e6).sorted.toIndexedSeq, 0.5)
    val tracedP50 = Report.pct(tracedLat, 0.5)
    val windowed = rs.count(_.window > 0)

    import Report.Metric
    val metrics = Seq(
      Metric("server.parse_ms", meanMs("server.parse"), "ms"),
      Metric("server.ack_ms", mean(r => (r.ack - r.t0) / 1e6), "ms"),
      Metric("server.stream_ms", meanMs("server.stream"), "ms"),
      Metric("server.rows_out", mean(_.rows.toDouble), "rows"),
      Metric("server.bytes_out", mean(_.bytes.toDouble), "bytes"),
      Metric("server.wire_ms", untracedP50 - tracedP50, "ms"),
      Metric("plans.audit_ms", meanMs("plans.audit"), "ms"),
      Metric("plans.audit_warns", rs.count(_.warned).toDouble, "count"),
      Metric("sharing.window_wait_ms", meanMs("sharing.window_wait"), "ms"),
      Metric("sharing.window_tail_ms", meanMs("sharing.window_tail"), "ms"),
      Metric("sharing.windows", byWindow.size.toDouble, "count"),
      Metric("sharing.window_jobs", windowed / nWin, "count"),
      Metric("sharing.deadline_misses", deadlineMisses.toDouble, "count"),
      Metric("sharing.build_ms", byWindow.map(_.map(_.spanNs("sharing.build")).sum / 1e6).sum / nWin, "ms"),
      Metric("sharing.prelude_ms", preludeMs.sum / nWin, "ms"),
      Metric("sharing.detect_ms", detectMs.sum / nWin, "ms"),
      Metric("sharing.warm_jobs", jobs.count(_.group.isEmpty).toDouble, "count"),
      Metric("sharing.warm_ms", st.warmNs.sum / 1e6, "ms"),
      Metric("sharing.exec_ms", meanMs("sharing.exec"), "ms"),
      Metric("sharing.cache_hit_ratio", if (windowed == 0) 0.0 else rs.count(_.cacheHit).toDouble / windowed, "ratio"),
      Metric("sharing.cached_entries", server.executor.map(_.cachedFingerprints.size).getOrElse(0).toDouble, "count"),
      Metric("sharing.cache_bytes", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble, "bytes"),
      Metric("spark.jobs_per_stmt", stmtJobs.values.map(_.size).sum / n, "count"),
      Metric("spark.stages_per_stmt", total(_.stages) / n, "count"),
      Metric("spark.tasks_per_stmt", tasks / n, "count"),
      Metric("spark.driver_gap_ms", driverGapMs, "ms"),
      Metric("spark.task_run_ms", total(_.runMs) / n, "ms"),
      Metric("spark.task_cpu_ms", total(_.cpuNs) / 1e6 / n, "ms"),
      Metric("spark.gc_ms_per_task", if (tasks == 0) 0.0 else total(_.gcMs) / tasks, "ms"),
      Metric("spark.input_bytes", total(_.inBytes) / n, "bytes"),
      Metric("spark.shuffle_write_bytes", total(_.shWrite) / n, "bytes"),
      Metric("spark.shuffle_read_bytes", total(_.shRead) / n, "bytes"),
      Metric("spark.spill_bytes", total(_.spill) / n, "bytes"),
      Metric("memo.hits", (graft.Memo.hits - hits0).toDouble, "count"),
      Metric("memo.misses", (graft.Memo.misses - misses0).toDouble, "count"),
      Metric("trace.coverage", covered, "ratio"),
      Metric("trace.overhead_pct", 100.0 * (tracedP50 / untracedP50 - 1.0), "%"),
      Metric("trace.uncovered_stmts", uncovered.size.toDouble, "count"))

    writeSpans(out, wl, seed, rs, ms)
    val failed = rs.count(_.failed) + untraced.count(_.failed)
    println(s"servebench ${wl.name} seed=$seed traced: ${rs.size} statements in-process " +
      s"(${untraced.size} untraced first), ${byWindow.size} windows, $failed failed")
    metrics.foreach(m => println(f"  ${m.name}%-26s ${m.value}%16.4f ${m.unit}"))
    println(f"  trace.coverage ${wl.name}: $covered%.4f of traced wall time in layer spans")
    uncovered.take(20).foreach { r =>
      println(f"  uncovered: statement ${r.id} (client ${r.client}, ${pool(r.stmt).kind} #${r.stmt}) " +
        f"${coverageOf(r)}%.3f of ${r.wallNs / 1e6}%.1f ms")
    }
    Report.json(failed == 0, rs.size + untraced.size, failed, metrics)
  }

  /** Spans as JSON lines, statement spans first, times in epoch ms. */
  private def writeSpans(out: String, wl: Workload, seed: Long, rs: Seq[Rec], ms: Long => Double): Unit = {
    val dir = new java.io.File(out, "trace")
    dir.mkdirs()
    val w = new PrintWriter(new java.io.File(dir, s"${wl.name}-seed$seed.jsonl"), UTF_8)
    try rs.foreach { r =>
      w.println(f"""{"name":"stmt","stmt":${r.id},"start":${ms(r.t0)}%.3f,"end":${ms(r.t1)}%.3f,"parent":null,"window":${r.window},"pool":${r.stmt}}""")
      r.spans.asScala.foreach(s => w.println(
        f"""{"name":"${s.name}","stmt":${s.stmt},"start":${ms(s.startNs)}%.3f,"end":${ms(s.endNs)}%.3f,"parent":"stmt"}"""))
    } finally w.close()
  }
}
