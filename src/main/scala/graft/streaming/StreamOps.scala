package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured-Streaming transforms over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference shipped Spark 1.3 DStream examples as its intended client
  * surface (reference: sparksql-server/examples/src/main/scala/.../streaming/
  * StatefulNetworkWordCount.scala, SqlNetworkWordCount.scala); this module is
  * the modern equivalent: declarative transforms that run identically on a
  * batch DataFrame or a streaming one (readStream), with event-time
  * watermarks bounding state — the property that lets the same pipeline run
  * on an unbounded 100 TB/day feed without unbounded executor state.
  *
  * Every transform takes/returns DataFrames so specs can drive them with
  * MemoryStream and assert equality against the batch execution of the same
  * plan (streaming/batch parity = correctness oracle).
  */
object StreamOps {

  /** Tumbling 1-minute windowed counts+sums per event type, 2-minute
    * watermark: late data beyond the watermark is dropped, state is bounded. */
  def windowedTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Exact sliding-window counts+sums per event type: 10-minute windows
    * every 5 minutes, so each event lands in exactly two windows. Same
    * bounded-state properties as [[windowedTypeCounts]]; Spark expands the
    * slide into per-window rows before the aggregate (state is
    * windows x types, not events). */
  def slidingTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding 5-minute window (1-minute slide) of distinct-ish user activity:
    * approx_count_distinct keeps per-window state O(1) at any scale. */
  def slidingActiveUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "5 minutes", "1 minute").as("w"))
      .agg(approx_count_distinct("user_id").as("approx_users"))
      .select(col("w.start").as("window_start"), col("approx_users"))

  final case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double)
  final case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long, total_value: Double)

  /** Sessionization with explicit state: a user's session closes after
    * `gapMs` of event-time inactivity. Event-time timeout + watermark makes
    * session emission deterministic (a function of the data, not wall-clock)
    * and bounds state on an unbounded feed. This is the
    * KeyValueGroupedDataset.flatMapGroupsWithState plane the reference's
    * StatefulNetworkWordCount (updateStateByKey) maps onto. */
  def sessionize(events: Dataset[Evt],
                 gapMs: Long = 30L * 60 * 1000,
                 watermarkDelay: String = "2 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.nEvents, s.total))
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val (n, tot, last) = rows.foldLeft((prev.nEvents, prev.total, prev.lastTs)) {
              case ((n0, t0, l0), e) => (n0 + 1, t0 + e.value, math.max(l0, e.ts.getTime))
            }
            state.update(SessionState(n, tot, last))
            state.setTimeoutTimestamp(last + gapMs)
            Iterator.empty
          }
      }
  }

  /** Batch-mode twin of [[sessionize]]'s final answer (all sessions closed):
    * used by the spec as the oracle for the stateful path. */
  def sessionizeBatch(events: Dataset[Evt]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).mapGroups { (userId, rows) =>
      val (n, tot) = rows.foldLeft((0L, 0.0)) { case ((n0, t0), e) => (n0 + 1, t0 + e.value) }
      SessionOut(userId, n, tot)
    }
  }

  /** Stream-static enrichment: the streaming side joins a static dimension
    * (broadcast at scale) — no state, no watermark needed. */
  def enrichWithUsers(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left_outer")

  /** Stream-static LEFT ANTI join: stream rows with NO match in the
    * broadcast dimension — the live denylist/quarantine filter (unknown
    * user, revoked key, missing consent record). Stateless per row, so it
    * runs in append mode with no watermark requirement. */
  def unmatchedEvents(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left_anti")

  /** Stream-stream interval join: purchases within 10 minutes after a click
    * by the same user. Both sides carry watermarks and the join condition
    * bounds event-time distance, so each side's buffered state is evictable —
    * the only join shape that runs unbounded on two 100 TB/day feeds. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("ts", "10 minutes").alias("c")
      .join(
        purchases.withWatermark("ts", "10 minutes").alias("p"),
        expr("""c.user_id = p.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTES"""))
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"))

  /** Native session windows: per-user sessions closed by a 5-minute
    * event-time gap. The merge boundary is CLOSED: an event exactly gap
    * after the previous one still extends the session (verified in
    * StreamOpsSpec); only a strictly larger gap opens a new one, which the
    * w02 oracle mirrors with `diff > gap`. */
  def sessionWindowCounts(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value")).cast("long")).as("value_floor_sum"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("value_floor_sum"))

  /** Batch twin of [[windowedTypeCounts]], declared for oracle coverage: the
    * SAME plan runs over the events table as a bounded frame (Catalyst's
    * EliminateEventTimeWatermark drops the watermark in batch), so the
    * window-bucketing and aggregate arithmetic get a DuckDB hash-check the
    * MemoryStream parity specs can't give. `value` is floored before the sum
    * so the grouped double aggregate is order-independent (exact integers in
    * doubles), per the cross-engine determinism rules. */
  def w01WindowedTypeCounts(t: graft.T): DataFrame = {
    import t.spark.implicits._
    windowedTypeCounts(t.events.withColumn("value", floor($"value")))
      .select($"window_start", $"event_type", $"n",
        $"sum_value".cast("long").as("sum_value"))
      .orderBy($"window_start", $"event_type")
  }

  val w01Oracle: String =
    """SELECT date_trunc('minute', ts) AS window_start, event_type,
              COUNT(*) AS n, SUM(FLOOR(value))::BIGINT AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""

  final case class Tot(n: Long, v: Double)
  final case class RunningTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running totals on the `transformWithState` arbitrary-state API
    * (Spark 4's successor to map/flatMapGroupsWithState: typed state
    * primitives with TTL, timers, RocksDB-backed). Update mode: every batch
    * emits each touched user's new running total. */
  class RunningTotalProcessor extends StatefulProcessor[Long, Evt, RunningTotal] {
    @transient private var st: ValueState[Tot] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Tot]("totals", Encoders.product[Tot], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Evt],
                                 timerValues: TimerValues): Iterator[RunningTotal] = {
      val prev = if (st.exists()) st.get() else Tot(0L, 0.0)
      val cur = rows.foldLeft(prev) { (acc, e) => Tot(acc.n + 1, acc.v + e.value) }
      st.update(cur)
      Iterator.single(RunningTotal(user, cur.n, cur.v))
    }
  }

  /** Requires the RocksDB state store provider (see StreamOpsSpec). */
  def runningTotals(events: Dataset[Evt]): Dataset[RunningTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Batch twin of [[sessionWindowCounts]] for oracle coverage. The DuckDB
    * twin computes the same sessions with gaps-and-islands SQL (lag + running
    * sum of session starts) — a cross-engine check that Spark's native
    * session_window merge logic equals the standard relational formulation. */
  def w02SessionWindows(t: graft.T): DataFrame = {
    import t.spark.implicits._
    sessionWindowCounts(t.events)
      .orderBy($"user_id", $"session_start")
  }

  val w02Oracle: String =
    """WITH e AS (SELECT user_id, ts, CAST(FLOOR(value) AS BIGINT) AS v FROM events),
       d AS (SELECT user_id, ts, v,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS new_s
             FROM e),
       s AS (SELECT user_id, ts, v,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
             FROM d)
       SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
              SUM(v)::BIGINT AS value_floor_sum
       FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  /** Batch twin of [[slidingTypeCounts]] for oracle coverage: checks
    * Spark's slide expansion (epoch-aligned window starts, 2 windows per
    * event at length/slide = 2) against an explicit two-starts-per-event
    * relational formulation in DuckDB. Value floored pre-sum as in w01. */
  def w03SlidingTypeCounts(t: graft.T): DataFrame = {
    import t.spark.implicits._
    slidingTypeCounts(t.events.withColumn("value", floor($"value")))
      .select($"window_start", $"event_type", $"n",
        $"sum_value".cast("long").as("sum_value"))
      .orderBy($"window_start", $"event_type")
  }

  val w03Oracle: String =
    """WITH e AS (SELECT (epoch_us(ts) // 1000000) AS es, event_type,
              CAST(FLOOR(value) AS BIGINT) AS v FROM events),
       w AS (SELECT unnest([es - es % 300, es - es % 300 - 300]) AS ws,
                    event_type, v FROM e)
       SELECT make_timestamp(ws * 1000000) AS window_start, event_type,
              COUNT(*) AS n, SUM(v)::BIGINT AS sum_value
       FROM w GROUP BY 1, 2 ORDER BY window_start, event_type"""

  /** Streaming dedup: keep each (user_id, event_type) key's FIRST event.
    * On a stream this is `dropDuplicates` over the key columns (watermark
    * bounds nothing here — state is one row per live key; the
    * dropDuplicatesWithinWatermark variant trades exactness for eviction).
    * First-arrival equals first-by-event-time when the feed is in ts order,
    * which is what the parity spec feeds and what the batch twin states. */
  def firstPerKey(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .dropDuplicates("user_id", "event_type")

  /** Batch twin of [[firstPerKey]] for oracle coverage: first event per
    * (user_id, event_type) by (ts, event_id) — the deterministic statement
    * of "first" that in-order streaming delivery realizes. */
  def w04StreamDedup(t: graft.T): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    t.events
      .withColumn("rk", row_number().over(
        Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")))
      .filter($"rk" === 1)
      .select($"user_id", $"event_type", $"event_id".as("first_event_id"),
        $"ts".as("first_ts"), floor($"value").cast("long").as("first_value_floor"))
      .orderBy($"user_id", $"event_type")
  }

  val w04Oracle: String =
    """SELECT user_id, event_type, event_id AS first_event_id,
              ts AS first_ts, CAST(FLOOR(value) AS BIGINT) AS first_value_floor
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) AS rk
             FROM events)
       WHERE rk = 1 ORDER BY user_id, event_type"""

  /** Streaming INGEST dedup for a document feed: key each arriving doc by
    * its content hash and keep the first arrival — the de-duplicating front
    * door of a streaming training-data pipeline (state = one row per
    * distinct content key; at 100 TB the key set shards across executors
    * like any streaming-agg state, and the WithinWatermark variant bounds
    * it when near-real-time re-crawls dominate). */
  def contentDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("key_hash", md5(substring(col("text"), 1, 64)))
      .dropDuplicates("key_hash")

  /** Batch twin of [[contentDedup]] for oracle coverage: the surviving
    * (first-by-doc_id) document per content key plus how many arrivals the
    * key absorbed — in-order delivery makes first-arrival == min doc_id,
    * which is what the SynthSource parity spec feeds. */
  def w11ContentDedup(t: graft.T): DataFrame = {
    import t.spark.implicits._
    t.documents
      .withColumn("key_hash", md5(substring($"text", 1, 64)))
      .groupBy($"key_hash")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_arrivals"))
      .select($"keeper_id", $"key_hash", $"n_arrivals")
      .orderBy($"keeper_id")
  }

  val w11Oracle: String =
    """SELECT MIN(doc_id) AS keeper_id, md5(substr(text, 1, 64)) AS key_hash,
              COUNT(*) AS n_arrivals
       FROM documents GROUP BY 2 ORDER BY keeper_id"""

  /** Batch twin of [[enrichWithUsers]] for oracle coverage: the event
    * stream joined to a broadcast static dimension (nation keyed by
    * user_id mod 25 — the classic user->region lookup shape), rolled up
    * per dimension row. The streaming plan is identical minus the rollup
    * (stream-static joins are stateless); the broadcast is what makes the
    * same join run against an unbounded feed without shuffling it. */
  def w05EnrichedCounts(t: graft.T): DataFrame = {
    import t.spark.implicits._
    val dim = t.nation.select($"n_nationkey", $"n_name")
    enrichWithUsers(
      t.events.withColumn("user_id", pmod($"user_id", lit(25L))),
      dim.withColumnRenamed("n_nationkey", "user_id"))
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_events"),
        sum(floor($"value")).cast("long").as("value_floor_sum"))
      .orderBy($"n_name")
  }

  val w05Oracle: String =
    """SELECT n_name, COUNT(*) AS n_events,
              SUM(FLOOR(value))::BIGINT AS value_floor_sum
       FROM events JOIN nation ON n_nationkey = user_id % 25
       GROUP BY n_name ORDER BY n_name"""

  /** Batch twin of [[clickPurchaseJoin]] on the corpus events (the
    * stream-stream interval join whose streaming parity StreamOpsSpec
    * proves on MemoryStreams): per-user attributed click→purchase pairs
    * within 10 minutes, with gap extremes in whole seconds. Same code path
    * as the stream — withWatermark is a no-op on batch inputs. */
  def w06IntervalJoinPairs(t: graft.T): DataFrame = {
    import t.spark.implicits._
    val clicks = t.events.filter($"event_type" === "click")
    val purchases = t.events.filter($"event_type" === "purchase")
    clickPurchaseJoin(clicks, purchases)
      .select($"user_id",
        (unix_micros($"purchase_ts") - unix_micros($"click_ts")).as("gap_us"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"),
        expr("MIN(gap_us DIV 1000000)").as("min_gap_s"),
        expr("MAX(gap_us DIV 1000000)").as("max_gap_s"))
      .orderBy($"user_id")
  }

  val w06Oracle: String =
    """WITH c AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us
                  FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us
               FROM events WHERE event_type = 'purchase')
       SELECT c.user_id AS user_id, COUNT(*) AS n_pairs,
              MIN((p.ts_us - c.ts_us) // 1000000)::BIGINT AS min_gap_s,
              MAX((p.ts_us - c.ts_us) // 1000000)::BIGINT AS max_gap_s
       FROM c JOIN p ON c.user_id = p.user_id
        AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 600000000
       GROUP BY c.user_id ORDER BY c.user_id"""

  /** Stream-stream LEFT OUTER interval join: every click, attributed to the
    * purchases it produced within 10 minutes — or emitted with nulls once
    * the watermark proves no purchase can arrive (the state-cleanup
    * contract outer stream joins hinge on). Same join as
    * [[clickPurchaseJoin]] but orphan clicks survive; downstream computes
    * the per-user conversion funnel including the non-converting majority,
    * which the inner join silently drops. */
  def clickPurchaseOuterJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("ts", "10 minutes").alias("c")
      .join(
        purchases.withWatermark("ts", "10 minutes").alias("p"),
        expr("""c.user_id = p.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTES"""),
        "left_outer")
      .select(col("c.user_id").as("user_id"),
        col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"))

  /** Batch twin of [[clickPurchaseOuterJoin]] (oracle coverage for the
    * outer-join multiplicity: k purchase rows per matched click, one null
    * row per orphan click). */
  def w07OuterIntervalJoin(t: graft.T): DataFrame = {
    import t.spark.implicits._
    val clicks = t.events.filter($"event_type" === "click")
    val purchases = t.events.filter($"event_type" === "purchase")
    clickPurchaseOuterJoin(clicks, purchases)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_rows"),
        count($"purchase_id").as("n_matched"),
        sum(when($"purchase_id".isNull, 1L).otherwise(0L)).as("n_orphans"))
      .orderBy($"user_id")
  }

  val w07Oracle: String =
    """WITH c AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
                  FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id AS pu, event_id AS p_id, epoch_ns(ts) // 1000 AS p_us
               FROM events WHERE event_type = 'purchase')
       SELECT user_id, COUNT(*) AS n_rows,
              COUNT(p_id) AS n_matched,
              SUM(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans
       FROM c LEFT JOIN p ON user_id = pu
        AND p_us >= ts_us AND p_us <= ts_us + 600000000
       GROUP BY user_id ORDER BY user_id"""

  /** Complete-output-mode leaderboard: running top-k event types by count.
    * Sort + LIMIT over a streaming aggregate is only legal in complete mode
    * (the whole result re-emits per trigger) — the third output-mode family
    * member next to the append (w01-w07) and update paths, and the shape of
    * every live "top sources/types right now" dashboard. Deterministic
    * tie-break on the type name. */
  def topTypeCounts(events: DataFrame, k: Int = 3): DataFrame =
    events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(k)

  /** Batch twin of [[topTypeCounts]] for oracle coverage. */
  def w08TopTypes(t: graft.T): DataFrame =
    topTypeCounts(t.events)

  val w08Oracle: String =
    """SELECT event_type, COUNT(*) AS n FROM events
       GROUP BY event_type ORDER BY n DESC, event_type LIMIT 3"""

  /** Update-output-mode running counts per (user, type): each trigger emits
    * only the keys whose count changed — the third output mode (append:
    * w01-w07, complete: w08), and the state-table shape every live
    * per-entity counter service uses. The parity spec proves the LATEST
    * update per key converges to the batch counts. */
  def userTypeCounts(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Batch twin of [[userTypeCounts]] for oracle coverage (bounded to the
    * first users so the row count stays sane at any sf). */
  def w09UserTypeCounts(t: graft.T): DataFrame = {
    import t.spark.implicits._
    userTypeCounts(t.events.filter($"user_id" < 50))
      .orderBy($"user_id", $"event_type")
  }

  val w09Oracle: String =
    """SELECT user_id, event_type, COUNT(*) AS n FROM events
       WHERE user_id < 50 GROUP BY user_id, event_type
       ORDER BY user_id, event_type"""

  /** Batch twin of [[unmatchedEvents]]: events whose bucketed user id has
    * no row in the first-10-nations dimension, counted per type. */
  def w10AntiEnrich(t: graft.T): DataFrame = {
    import t.spark.implicits._
    val dim = t.nation.filter($"n_nationkey" < 10)
      .select($"n_nationkey".as("user_id"))
    unmatchedEvents(
      t.events.withColumn("user_id", pmod($"user_id", lit(25L))), dim)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor($"value")).cast("long").as("value_floor_sum"))
      .orderBy($"event_type")
  }

  val w10Oracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
              SUM(FLOOR(value))::BIGINT AS value_floor_sum
       FROM events WHERE user_id % 25 NOT IN
         (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)
       GROUP BY event_type ORDER BY event_type"""

  /** NATIVE streaming session windows — `session_window` inside the
    * aggregate, the engine-owned merge (SessionWindowStateStore path) that
    * w02 hand-rolls with flatMapGroupsWithState. Works unchanged on a
    * stream (with a watermark + append mode; spec asserts parity) and on a
    * batch frame, which is what the oracle checks. */
  def sessionAgg(evts: DataFrame): DataFrame =
    evts
      .groupBy(session_window(col("ts"), "10 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value"))).cast("long").as("value_floor_sum"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("value_floor_sum"))

  /** Batch registration of [[sessionAgg]] (10-min gap, per-session rows with
    * value mass — q125 covers the window-bounds surface; this one is the
    * stream-capable aggregate). */
  def w12SessionAgg(t: graft.T): DataFrame = {
    import t.spark.implicits._
    sessionAgg(t.events).orderBy($"user_id", $"session_start")
  }

  val w12Oracle: String =
    """WITH ev AS (
         SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                FLOOR(value)::BIGINT AS vf
         FROM events),
       flagged AS (
         SELECT user_id, ts_us, vf,
                CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 600000000
                     THEN 1 ELSE 0 END AS new_sess
         FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       sess AS (
         SELECT user_id, ts_us, vf,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                    ROWS UNBOUNDED PRECEDING) AS sid
         FROM flagged)
       SELECT user_id, make_timestamp(MIN(ts_us)) AS session_start,
              COUNT(*) AS n_events, SUM(vf)::BIGINT AS value_floor_sum
       FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""

  /** CHAINED windowed aggregation (Spark 3.4+ multiple-stateful-operators
    * surface): minute-grain counts re-aggregated into 10-minute buckets by
    * passing the window STRUCT itself to the outer window() — on a stream
    * both levels run stateful in one query; here the batch form is
    * oracle-checked. Emits total + peak-minute per (type, bucket). */
  def twoLevelWindows(evts: DataFrame): DataFrame =
    evts
      .groupBy(window(col("ts"), "1 minute").as("w1"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("w1"), "10 minutes").as("w10"), col("event_type"))
      .agg(sum(col("n")).as("n_events"), max(col("n")).as("peak_minute"))
      .select(col("event_type"), col("w10.start").as("bucket_start"),
        col("n_events"), col("peak_minute"))

  def w13TwoLevelWindows(t: graft.T): DataFrame = {
    import t.spark.implicits._
    twoLevelWindows(t.events).orderBy($"event_type", $"bucket_start")
  }

  val w13Oracle: String =
    """WITH ev AS (
         SELECT event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
       minute AS (
         SELECT event_type, ts_us // 60000000 AS m, COUNT(*) AS n
         FROM ev GROUP BY 1, 2),
       bucket AS (
         SELECT event_type, (m * 60000000) // 600000000 AS b,
                SUM(n)::BIGINT AS n_events, MAX(n) AS peak_minute
         FROM minute GROUP BY 1, 2)
       SELECT event_type, make_timestamp(b * 600000000) AS bucket_start,
              n_events, peak_minute
       FROM bucket ORDER BY event_type, bucket_start"""

  // bkey is the int64 hashed band key (see [[graft.operators.Dedup.bandRows]],
  // r12) — 8 bytes of keyed streaming state per bucket instead of a
  // 90-170-byte string, the same width cut the batch ownership exchange took.
  // CHECKPOINT-FORMAT BREAK (ADVICE r12): the String→Long bkey changes the
  // flatMapGroupsWithState grouping-key schema, so a [[bandOwnership]] stream
  // checkpointed on pre-r12 code cannot restart against this code — the state
  // store fails with a key-schema mismatch. That failure is EXPECTED after
  // the upgrade: restart the stream from a fresh checkpoint (state is
  // rebuilt first-come-first-served from the replayed source), don't
  // diagnose it as a state-store bug.
  final case class BandRow(doc_id: Long, band: Int, bkey: Long)
  final case class OwnRow(doc_id: Long, band: Int, owned: Boolean)

  /** Streaming NEAR-dup front door: each arriving document's 4 MinHash band
    * keys (the ONE banding definition, [[graft.operators.Dedup.bandRows]])
    * are claimed first-come-first-served by stateful groups keyed on
    * (band, bkey); every bucket a doc fails to own is a band collision
    * with prior state — i.e. exactly d04's candidate test (any shared
    * band ⇒ near-dup candidate) as ingest-time admission instead of a
    * batch pair join; a doc is novel iff it owns ALL its buckets. State is one long
    * per distinct band key — the same sharded-keyed-state posture as any
    * streaming aggregate at 100 TB/day (a production deployment would add a
    * TTL like w11's WithinWatermark variant for re-crawl-dominated feeds).
    * Emits ownership rows (append); the per-doc verdict is the stateless
    * rollup [[w14NearDupFrontDoor]] states over the same rows. */
  def bandOwnership(docs: DataFrame): Dataset[OwnRow] = {
    import docs.sparkSession.implicits._
    val bands = graft.operators.Dedup
      .bandRows(graft.operators.Dedup.minhashSigTable(docs))
    bands.as[BandRow]
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[Long, OwnRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[BandRow], state: GroupState[Long]) =>
          // within-batch arrival order = doc_id order (the in-order-delivery
          // contract w04/w11 state), so the claim is deterministic
          val sorted = rows.toArray.sortBy(_.doc_id)
          val owner = state.getOption.getOrElse {
            state.update(sorted.head.doc_id); sorted.head.doc_id
          }
          sorted.iterator.map(r => OwnRow(r.doc_id, r.band, r.doc_id == owner))
      }
  }

  /** Batch twin of [[bandOwnership]]'s rollup for oracle coverage: per doc,
    * how many of its 4 band buckets it owns (owner = min doc_id in the
    * bucket — first arrival under in-order delivery) and the novelty
    * verdict: novel iff it owns ALL 4 — i.e. zero band collisions with
    * prior state. This matches d04's candidate test exactly (ANY shared
    * band makes a pair a near-dup candidate), so a non-novel doc is
    * precisely a doc the batch index would surface for verification, and
    * the false-positive rate is the measured d14 tuning curve, not a new
    * knob. Built on the ONE ownership census (d29's collapse keeps exactly
    * the novel set). */
  def nearDupVerdict(docs: DataFrame): DataFrame = {
    graft.operators.Dedup.ownershipCensus(docs)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_owned"),
        count(lit(1)).as("n_bands"))
      .select(col("doc_id"), col("n_owned"),
        (col("n_owned") === col("n_bands")).as("novel"))
      .orderBy(col("doc_id"))
  }

  def w14NearDupFrontDoor(t: graft.T): DataFrame = nearDupVerdict(t.documents)

  val w14Oracle: String =
    s"""WITH ${graft.operators.Dedup.lshBandsDuckCtes(cand =
         """owners AS (
         SELECT b, bkey, MIN(doc_id) AS owner FROM bands GROUP BY 1, 2)""")}
       SELECT bands.doc_id,
              SUM(CASE WHEN owner = bands.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_owned,
              (SUM(CASE WHEN owner = bands.doc_id THEN 1 ELSE 0 END) = COUNT(*)) AS novel
       FROM bands JOIN owners ON owners.b = bands.b AND owners.bkey = bands.bkey
       GROUP BY 1 ORDER BY 1"""

  /** Batch twin of the streaming ANN serving path
    * ([[graft.operators.Similarity.annServeStream]]) for oracle coverage:
    * the qmod=7 "arriving" query set searched through the same trained IVF
    * index — ONE definition with s04 (`ivfAnnFor`), so the served and
    * offline search paths cannot drift. The parity spec feeds the same
    * query vectors through MemoryStream and asserts the ranked rollup of
    * the stateless stream-static join equals this. */
  def w15StreamAnn(t: graft.T): DataFrame =
    graft.operators.Similarity.ivfAnnFor(t, 7)

  val w15Oracle: String = graft.operators.Similarity.ivfOracleFor(7)

  /** BOUNDED-state streaming dedup — the production variant w04's comment
    * names: `dropDuplicatesWithinWatermark` holds one state row per key
    * only until the watermark passes its event time + delay, so state is
    * O(keys active in the window) however long the feed runs — the shape
    * that survives an unbounded 100 TB/day feed where w04's exact
    * dropDuplicates grows state forever. The price is re-admission: a key
    * recurring after the window is kept again. */
  def boundedFirstPerKey(events: DataFrame, delay: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Batch twin of [[boundedFirstPerKey]] for oracle coverage, stating the
    * IDEALIZED eviction contract: per key in (ts, event_id) order, an
    * event is kept iff its ts is >= the last KEPT event's ts + 2 minutes
    * (a keeper CHAIN, not gap sessionization — a steady drip of sub-gap
    * duplicates never extends the window the way it would extend a
    * session). The streaming execution evicts when the WATERMARK passes
    * the kept event's expiry, i.e. one watermark-propagation lag later
    * than this ideal; the StreamOpsSpec twin pins that arrival contract
    * on constructed micro-batches, while this twin gives the chain
    * arithmetic a DuckDB hash-check. Fold arithmetic is in epoch MICROS
    * (exact on both engines; round-trips the sub-second part). */
  def w16BoundedDedup(t: graft.T): DataFrame = {
    import t.spark.implicits._
    t.events
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"), $"event_id")
      .groupBy($"user_id", $"event_type")
      .agg(sort_array(collect_list(struct($"us", $"event_id"))).as("evs"))
      .select($"user_id", $"event_type",
        explode(expr("""aggregate(slice(evs, 2, size(evs) - 1), array(evs[0].us),
          (acc, e) -> CASE WHEN e.us >= element_at(acc, -1) + 120000000L
                      THEN concat(acc, array(e.us)) ELSE acc END)""")).as("kept_us"))
      .select($"user_id", $"event_type", timestamp_micros($"kept_us").as("kept_ts"))
      .orderBy($"user_id", $"event_type", $"kept_ts")
  }

  /** The keeper chain as a recursive CTE: rn-ordered events per key, state
    * = last kept ts; a row is kept iff it clears last_kept + 120s. */
  val w16Oracle: String =
    """WITH RECURSIVE ordered AS (
         SELECT user_id, event_type, epoch_us(ts) AS us,
                ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
         FROM events),
       chain(user_id, event_type, rn, last_kept, kept) AS (
         SELECT user_id, event_type, rn, us, TRUE FROM ordered WHERE rn = 1
         UNION ALL
         SELECT o.user_id, o.event_type, o.rn,
                CASE WHEN o.us >= c.last_kept + 120000000 THEN o.us ELSE c.last_kept END,
                o.us >= c.last_kept + 120000000
         FROM chain c JOIN ordered o
           ON o.user_id = c.user_id AND o.event_type = c.event_type AND o.rn = c.rn + 1)
       SELECT user_id, event_type, make_timestamp(last_kept) AS kept_ts
       FROM chain WHERE kept ORDER BY user_id, event_type, kept_ts"""

  /** Streaming QUALITY admission — a quality gate as a streaming front
    * door, completing the ingest trio with w14 (near-dup band ownership)
    * and w16 (bounded-state dedup). Scoring is the ONE t03 definition
    * ([[graft.operators.TextAnalysis.withQualityBp]]) applied map-side —
    * no state, no watermark, safe on an unbounded feed — and the gate is
    * a plain threshold filter, so every admitted doc carries the same
    * score the offline t03 report would give it. (This is t03's SCORE
    * gate, not p29's flag cascade: the funnel's quality stage admits by
    * the Gopher-style boolean flags, a deliberately different policy —
    * the no-drift guarantee here is against t03.) */
  def qualityAdmission(docs: DataFrame,
      thresholdBp: Long = AdmissionThresholdBp): DataFrame =
    graft.operators.TextAnalysis.withQualityBp(docs)
      .filter(col("quality_bp") >= thresholdBp)
      .select(col("doc_id"), col("source"), col("quality_bp"))

  /** ONE admission threshold for the gate, its batch twin and the oracle —
    * 4200 bp splits the shipped corpora near their quality_bp median, so
    * both branches carry mass in every hash check. */
  val AdmissionThresholdBp = 4200L

  /** Batch twin of [[qualityAdmission]] for oracle coverage: the per-source
    * admission telemetry its consumer would watch in Update mode — arrivals,
    * admissions, admit rate, and the mean quality of what got through (all
    * integer bp; 4200 splits the shipped corpora near their median, so both
    * branches of the gate carry mass). */
  def w17QualityAdmission(t: graft.T): DataFrame = {
    import t.spark.implicits._
    graft.operators.TextAnalysis.withQualityBp(t.documents)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_arrived"),
        sum(when($"quality_bp" >= AdmissionThresholdBp, 1L).otherwise(0L)).as("n_admitted"),
        sum(when($"quality_bp" >= AdmissionThresholdBp, $"quality_bp").otherwise(0L)).as("sq"))
      .select($"source", $"n_arrived", $"n_admitted",
        expr("n_admitted * 10000 DIV n_arrived").as("admit_rate_bp"),
        expr("CASE WHEN n_admitted > 0 THEN sq DIV n_admitted ELSE 0L END")
          .as("mean_admitted_bp"))
      .orderBy($"source")
  }

  val w17Oracle: String =
    s"""SELECT source, n_arrived, n_admitted,
              n_admitted * 10000 // n_arrived AS admit_rate_bp,
              CASE WHEN n_admitted > 0 THEN sq // n_admitted ELSE 0 END
                AS mean_admitted_bp
       FROM (
         SELECT source, COUNT(*)::BIGINT AS n_arrived,
                SUM(CASE WHEN q >= $AdmissionThresholdBp THEN 1 ELSE 0 END)::BIGINT AS n_admitted,
                SUM(CASE WHEN q >= $AdmissionThresholdBp THEN q ELSE 0 END)::BIGINT AS sq
         FROM (
           SELECT source,
                  ((n_dis * 10000) // n_tok) * 5 // 10 + LEAST(n_tok, 100) * 30
                    + ((n_stop * 10000) // n_tok) * 2 // 10 AS q
           FROM (SELECT source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
                 FROM documents))
         GROUP BY source)
       ORDER BY source"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w01_windowed_type_counts" -> ((s, d) => w01WindowedTypeCounts(graft.T(s, d))),
    "w02_session_windows"      -> ((s, d) => w02SessionWindows(graft.T(s, d))),
    "w03_sliding_type_counts"  -> ((s, d) => w03SlidingTypeCounts(graft.T(s, d))),
    "w04_stream_dedup"         -> ((s, d) => w04StreamDedup(graft.T(s, d))),
    "w05_enriched_counts"      -> ((s, d) => w05EnrichedCounts(graft.T(s, d))),
    "w06_interval_join_pairs"  -> ((s, d) => w06IntervalJoinPairs(graft.T(s, d))),
    "w07_outer_interval_join"  -> ((s, d) => w07OuterIntervalJoin(graft.T(s, d))),
    "w08_top_types"            -> ((s, d) => w08TopTypes(graft.T(s, d))),
    "w09_user_type_counts"     -> ((s, d) => w09UserTypeCounts(graft.T(s, d))),
    "w10_anti_enrich"          -> ((s, d) => w10AntiEnrich(graft.T(s, d))),
    "w11_content_dedup"        -> ((s, d) => w11ContentDedup(graft.T(s, d))),
    "w12_session_agg"          -> ((s, d) => w12SessionAgg(graft.T(s, d))),
    "w13_two_level_windows"    -> ((s, d) => w13TwoLevelWindows(graft.T(s, d))),
    "w14_near_dup_front"       -> ((s, d) => w14NearDupFrontDoor(graft.T(s, d))),
    "w15_stream_ann"           -> ((s, d) => w15StreamAnn(graft.T(s, d))),
    "w16_bounded_dedup"        -> ((s, d) => w16BoundedDedup(graft.T(s, d))),
    "w17_quality_admission"    -> ((s, d) => w17QualityAdmission(graft.T(s, d))),
  )

  val oracles: Map[String, String] = Map(
    "w01_windowed_type_counts" -> w01Oracle,
    "w02_session_windows"      -> w02Oracle,
    "w03_sliding_type_counts"  -> w03Oracle,
    "w04_stream_dedup"         -> w04Oracle,
    "w05_enriched_counts"      -> w05Oracle,
    "w06_interval_join_pairs"  -> w06Oracle,
    "w07_outer_interval_join"  -> w07Oracle,
    "w08_top_types"            -> w08Oracle,
    "w09_user_type_counts"     -> w09Oracle,
    "w10_anti_enrich"          -> w10Oracle,
    "w11_content_dedup"        -> w11Oracle,
    "w12_session_agg"          -> w12Oracle,
    "w13_two_level_windows"    -> w13Oracle,
    "w14_near_dup_front"       -> w14Oracle,
    "w15_stream_ann"           -> w15Oracle,
    "w16_bounded_dedup"        -> w16Oracle,
    "w17_quality_admission"    -> w17Oracle,
  )
}
