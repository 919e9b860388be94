package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SynthSourceSpec extends SparkSpec {

  private def synth(rows: Long, parts: Int = 4) =
    spark.read.format("graft.sources.SynthSource")
      .option("rows", rows.toString).option("partitions", parts.toString).load()

  test("generates the requested rows across the requested partitions") {
    val df = synth(10000, parts = 8)
    assert(df.count() == 10000)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.columns.toSeq == Seq("doc_id", "lang", "text"))
  }

  test("reads are deterministic regardless of partitioning") {
    val a = snap(synth(500, parts = 2))
    val b = snap(synth(500, parts = 7))
    assert(a == b)
  }

  test("doc_id range filters push into the generator (partition pruning)") {
    val df = synth(1000000).filter(col("doc_id") >= 100 && col("doc_id") < 300)
    assert(df.count() == 200)
    // the pruned range must reach the scan BEFORE partition planning
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SynthScan[100,300)"), plan)
  }

  test("unrequested columns are never generated (column pruning)") {
    val df = synth(1000).select("lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=lang") && !plan.contains("text"), plan)
    assert(df.distinct().count() == 5)
  }

  test("streams as micro-batches: admission control drains the id range exactly once") {
    val df = spark.readStream.format("graft.sources.SynthSource")
      .option("rows", "100").option("partitions", "3")
      .option("rowsPerBatch", "40")
      .load()
    val q = df.writeStream.format("memory").queryName("synth_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = snap(spark.table("synth_stream"))
      // 40 + 40 + 20 across three triggers; content identical to batch read
      assert(got.size == 100)
      assert(got == snap(synth(100)))
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("Trigger.AvailableNow keeps the admission cap (CompositeReadLimit unwrap)") {
    val df = spark.readStream.format("graft.sources.SynthSource")
      .option("rows", "100").option("partitions", "3")
      .option("rowsPerBatch", "40")
      .load()
    val q = df.writeStream.format("memory").queryName("synth_avail_now")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      assert(snap(spark.table("synth_avail_now")) == snap(synth(100)))
      // AvailableNow wraps the source limit in a CompositeReadLimit; the cap
      // must still split the range into 40+40+20, not one 100-row batch
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.forall(_ <= 40) && sizes.sum == 100, sizes.mkString(","))
    } finally q.stop()
  }

  test("restart from checkpoint does not re-emit committed rows") {
    // memory sink can't recover from a checkpoint — use the file sink,
    // whose manifest also detects duplicate batch re-writes
    val ckpt = java.nio.file.Files.createTempDirectory("synth-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("synth-out").toString
    def run(rows: Int): Unit = {
      val q = spark.readStream.format("graft.sources.SynthSource")
        .option("rows", rows.toString).option("partitions", "2")
        .option("rowsPerBatch", "40")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run(rows = 80)
    assert(spark.read.parquet(out).count() == 80)
    // "more data arrives": same checkpoint, id range extended to 120. The
    // restarted stream instance must resume at the committed offset 80 —
    // a fresh watermark starting at 0 would re-emit [0, 80) here.
    run(rows = 120)
    val all = spark.read.parquet(out)
    assert(all.count() == 120, s"duplicates re-emitted: ${all.count()} rows")
    assert(all.select(col("doc_id")).distinct().count() == 120)
  }

  test("stateful dedup state survives a checkpoint restart") {
    val ckpt = java.nio.file.Files.createTempDirectory("synth-state-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("synth-state-out").toString
    def run(rows: Int): Unit = {
      val q = spark.readStream.format("graft.sources.SynthSource")
        .option("rows", rows.toString).option("partitions", "2")
        .option("rowsPerBatch", "40")
        .load()
        .dropDuplicates("lang")
        .select(col("doc_id"), col("lang"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run(rows = 80)
    val first = spark.read.parquet(out).count()
    // restart with more data over the SAME checkpoint: the recovered dedup
    // state must remember every lang already emitted — a fresh state would
    // re-emit one row per lang here
    run(rows = 120)
    val all = spark.read.parquet(out)
    val expected = synth(120).select(col("lang")).distinct().count()
    assert(all.count() == expected, s"state lost: ${all.count()} rows vs $expected langs")
    assert(first <= expected && all.select(col("lang")).distinct().count() == expected)
  }

  test("streaming read prunes columns and pushes the doc_id range") {
    val df = spark.readStream.format("graft.sources.SynthSource")
      .option("rows", "1000").option("partitions", "2")
      .load()
      .filter(col("doc_id") >= 100 && col("doc_id") < 300)
      .select("doc_id", "lang")
    val q = df.writeStream.format("memory").queryName("synth_stream_pruned")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("synth_stream_pruned").count() == 200)
    } finally q.stop()
  }

  test("the synthetic corpus drives real operators end-to-end") {
    // same shape as documents: the engine's text ops run on it unchanged
    val agg = synth(20000, parts = 8)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
    assert(agg.count() == 5)
    assert(agg.agg(sum("n")).head.getLong(0) == 20000)
  }
}
