package servebench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.server.{DeadlineTelemetry, QueryGateway}
import graft.sharing.{BatchWindow, WorkSharingExecutor}

/** The server under test, built the way the gateway soak builds it: one
  * `Engine.session` at local[cores], the gateway over it, and for windowed
  * workloads a BatchWindow in front of a WorkSharingExecutor. Constructor
  * arguments are the soak's; everything else is left at its default. */
final class Server(val wl: Workload, val dataDir: String) {
  val spark: SparkSession = ServeBench.session("servebench")
  wl.register(spark, dataDir) // windowed statements run on the root session
  val executor: Option[WorkSharingExecutor] =
    if (wl.windowed) Some(new WorkSharingExecutor(spark)) else None
  val window: Option[BatchWindow[Seq[String]]] =
    executor.map(ex => new BatchWindow[Seq[String]](ex, windowSize = 4, maxWaitMs = 1000))
  val gateway = new QueryGateway(spark, s => wl.register(s, dataDir),
    maxHintPriority = Server.MaxHintPriority, batching = window)

  def stop(): Unit = {
    gateway.close()
    window.foreach(_.close())
    executor.foreach(_.shutdown())
    spark.stop()
  }
}

object Server {
  val MaxHintPriority = 9
}

/** One reply as a client sees it. Times are `System.nanoTime`. */
final case class Reply(sentNs: Long, firstRowNs: Long, endNs: Long,
                       fingerprint: (Long, Long), error: Option[String]) {
  def rows: Long = fingerprint._1
}

/** A gateway client: one socket, one statement at a time. */
final class Client(port: Int) extends AutoCloseable {
  private val sock = new Socket("localhost", port)
  private val out = new PrintWriter(new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8)), false)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8), 1 << 16)

  /** Sends `line` and reads its reply up to the `done`/`error` trailer. */
  def ask(line: String, ordered: Boolean): Reply = {
    val sent = System.nanoTime()
    out.println(line)
    out.flush()
    val head = in.readLine()
    if (head != "ok") return Reply(sent, -1L, System.nanoTime(), (0L, 0L), Some(String.valueOf(head)))
    val fp = new Fingerprint(ordered)
    var first = -1L
    var l = in.readLine()
    while (l != null && !l.startsWith("done") && !l.startsWith("error")) {
      if (!l.startsWith("warn ")) { // plan-audit lines are not rows
        if (first < 0) first = System.nanoTime()
        fp.add(l)
      }
      l = in.readLine()
    }
    val end = System.nanoTime()
    Reply(sent, first, end, fp.value,
      if (l == null) Some("connection closed") else if (l.startsWith("error")) Some(l) else None)
  }

  def close(): Unit = { out.println("quit"); out.flush(); sock.close() }
}

/** Which steps a client sends: the first `prime` steps unmeasured, then
  * steps until `seconds` after the first client started its first measured
  * one. Unwindowed clients each stop at the deadline. Windowed clients move
  * in step: a client sends its k-th statement only once every client has
  * its (k-1)-th reply, so each window holds every client's k-th statement
  * and has the workload's designed mix of kinds. Without that, a client
  * held up for more than the window's timeout fell a step behind the
  * others for the rest of the run, and every later window mixed two steps.
  * A windowed client sends its k-th statement iff step k was opened before
  * the deadline by whichever client reached it first, so every client stops
  * after the same step and the last window is full. */
final class Steps(seconds: Double, windowed: Boolean, prime: Int = 0) {
  private val sync = new java.util.concurrent.CyclicBarrier(ServeBench.Clients)
  /** Set by the first measured step. */
  private lazy val deadline = System.nanoTime() + (seconds * 1e9).toLong
  private val opened = new java.util.concurrent.atomic.AtomicInteger(0)

  def open(step: Int): Boolean = {
    if (windowed) sync.await(Steps.SyncTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
    if (step <= prime) return true
    if (!windowed) return System.nanoTime() < deadline
    var o = opened.get
    while (step > o) {
      if (System.nanoTime() >= deadline) return false
      if (opened.compareAndSet(o, step)) o = step else o = opened.get
    }
    true
  }
}

object Steps {
  val SyncTimeoutS = 60L
}

/** One statement of a measured phase: the `step`-th (from 1) its client sent. */
final case class Sample(client: Int, step: Int, stmt: Int, reply: Reply, failed: Boolean) {
  def latencyNs: Long = reply.endNs - reply.sentNs
}

object ServeBench {
  val Clients = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val code = try { run(args.toList); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def opts(args: List[String]): Map[String, String] = args match {
    case k :: v :: rest if k.startsWith("--") => opts(rest) + (k.drop(2) -> v)
    case Nil => Map.empty
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def run(args: List[String]): Unit = {
    val o = opts(args)
    val wl = Workload(o("workload"))
    val seed = o("seed").toLong
    val pool = wl.pool
    o.get("dump-stream").foreach { n => dumpStream(wl, seed, pool, n.toInt); return }
    val seconds = o("seconds").toInt
    val trace = o("trace") == "1"
    val out = o("out")
    val dataDir = Data.dir(out)
    if (!Data.ready(out)) {
      val spark = session("servebench-corpus")
      try Data.ensure(spark, out) finally spark.stop()
    }

    // Three set-ups; the last one's server is measured. Its isolated answers
    // are computed on it before its warm-up, with the set-up clock stopped:
    // each pool statement run outside any window (four at a time), before
    // any window has cached anything.
    // Running the whole pool there also compiles every statement's plan
    // code, so the measured run does not depend on which statements the
    // seed drew first.
    var expected = IndexedSeq.empty[(Long, Long)]
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val server = new Server(wl, dataDir)
      val refNs = if (rep < SetupReps) 0L else {
        val r0 = System.nanoTime()
        expected = reference(server.spark, pool)
        System.nanoTime() - r0
      }
      val warm = closedLoop(server.gateway.boundPort,
        c => Iterator.single((-1, wl.warmup(c).sql)), _ => None)
      val dt = (System.nanoTime() - t0 - refNs) / 1e9
      warm.find(_.reply.error.isDefined).foreach(s => throw new IllegalStateException(
        s"warm-up statement failed: ${s.reply.error.get}"))
      if (rep < SetupReps) server.stop()
      log(f"set-up $rep: $dt%.3f s" + (if (refNs > 0) f" (+${refNs / 1e9}%.1f s isolated answers)" else ""))
      (dt, server)
    }
    val server = setups.last._2
    val setupS = median(setups.map(_._1))

    DeadlineTelemetry.reset()
    // a traced run splits its time: untraced first (for the tracing
    // overhead and the wire time), then traced
    val untracedS = if (trace) seconds / 2.0 else seconds.toDouble
    val samples = measure(server, wl, pool, expected, seed, untracedS)
    log(s"${samples.size} statements measured")
    val result =
      if (!trace) Report.endToEnd(wl, pool, seed, samples, setupS, setups.map(_._1), liveHeapMb())
      else Traced.run(server, wl, pool, expected, seed, seconds - untracedS, samples, out)
    server.stop()
    println(result)
  }

  /** Untraced closed loop over real sockets for `seconds`, after each client
    * has sent the first [[Workload.primeSteps]] statements of its stream
    * unmeasured on the same connection: the JVM compiles the server's hot
    * paths and the executor caches its first scans over them, which took a
    * measured run's first seconds otherwise. A client's hint is rendered
    * when its statement is sent, since a deadline is absolute. */
  def measure(server: Server, wl: Workload, pool: IndexedSeq[Stmt], expected: IndexedSeq[(Long, Long)],
              seed: Long, seconds: Double): Seq[Sample] = {
    val steps = new Steps(seconds, wl.windowed, wl.primeSteps)
    val (jit0, gc0) = (jitMs(), gcMs())
    val all = closedLoop(server.gateway.boundPort, { c =>
      val it = wl.stream(seed, c)
      Iterator.from(1).takeWhile(steps.open).map { _ =>
        val item = it.next()
        (item.stmt, wl.hint(item.hintClass, System.currentTimeMillis()) + pool(item.stmt).sql)
      }
    }, i => Some(expected(i)))
    val (primed, measured) = all.partition(_.step <= wl.primeSteps)
    primed.find(_.failed).foreach(s => throw new IllegalStateException(
      s"priming statement failed: ${s.reply.error.getOrElse("wrong answer")}"))
    log(f"${primed.size} statements primed in ${(primed.map(_.reply.endNs).max - primed.map(_.reply.sentNs).min) / 1e9}%.1f s")
    log("primed segment statements/s: " + Report.segments(wl, primed).map(g => f"${g.rate(g.samples.size)}%.2f").mkString(" "))
    log(f"priming and measuring: JIT ${jitMs() - jit0} ms, GC ${gcMs() - gc0} ms")
    measured.map(s => s.copy(step = s.step - wl.primeSteps))
  }

  /** Runs [[Clients]] socket clients concurrently, each over its own stream
    * of (pool index, wire line), and returns every reply. A reply fails on
    * an `error` trailer or when its rows differ from `expected(index)`. */
  def closedLoop(port: Int, lines: Int => Iterator[(Int, String)],
                 expected: Int => Option[(Long, Long)]): Seq[Sample] = {
    val samples = new ConcurrentLinkedQueue[Sample]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        try {
          val client = new Client(port)
          try lines(c).zipWithIndex.foreach { case ((i, line), k) =>
            val r = client.ask(line, Fingerprint.orderedFor(line))
            val failed = r.error.isDefined || expected(i).exists(_ != r.fingerprint)
            samples.add(Sample(c, k + 1, i, r, failed))
          } finally client.close()
        } catch { case t: Throwable => errors.add(t) }
      }, s"servebench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(t => throw t)
    samples.asScala.toSeq
  }

  def session(name: String): SparkSession =
    graft.Engine.session(name, Some(s"local[${Runtime.getRuntime.availableProcessors()}]"))

  /** Fingerprint of each pool statement run on `spark` outside any window,
    * as the soak's oracle does; four statements at a time. */
  def reference(spark: SparkSession, pool: IndexedSeq[Stmt]): IndexedSeq[(Long, Long)] = {
    val ex = java.util.concurrent.Executors.newFixedThreadPool(Clients)
    try pool.map(s => ex.submit(() => {
      val f = new Fingerprint(Fingerprint.orderedFor(s.sql))
      spark.sql(s.sql).toJSON.toLocalIterator().asScala.foreach(f.add)
      f.value
    })).map(_.get())
    finally ex.shutdown()
  }

  private val started = System.nanoTime()
  /** Progress on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"servebench ${(System.nanoTime() - started) / 1e9}%7.2f s: $msg")

  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Client 0..3's first `n` items, one per line, deadlines relative. */
  private def dumpStream(wl: Workload, seed: Long, pool: IndexedSeq[Stmt], n: Int): Unit =
    (0 until Clients).foreach { c =>
      wl.stream(seed, c).take(n).foreach { item =>
        println(s"$c\t" + wl.hint(item.hintClass, 0L) + pool(item.stmt).sql)
      }
    }
}
