package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, StreamEnv}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming throughput probe: replay the events fixture through a
  * MemoryStream-backed env into the windowed-count topology (the
  * anomaly-detection shape) in a few micro-batches, driving it to
  * completion. Measures end-to-end stateful-streaming cost at the bench
  * scale factor — the per-record path Kafka Streams would take.
  *
  * The fixture is replayed `replicas`× with the user-id key space AND the
  * event-time range shifted per replica, so row volume and state volume
  * scale ~10× over the raw fixture — large enough that the measured figure
  * is engine throughput, not micro-batch scheduling latency. The time
  * shift matters: the compiled topology carries a window-length watermark
  * (Kafka-parity retention), so replaying the SAME time range would mark
  * every row after the first replica late and measure watermark dropping,
  * not stateful aggregation — the probe asserts zero watermark-dropped
  * rows to keep itself honest. Returns (rowsIngested, ingestSeconds): the
  * timer covers addData → final state only (fixture load/collect
  * excluded), so rows/s is comparable across rounds.
  */
object StreamingBench {

  /** `xs` cut into exactly `min(n, xs.length)` contiguous non-empty parts
    * whose sizes differ by at most one (`grouped(len / n)` emits n + 1
    * parts when n does not divide the length).
    */
  private[graft] def splitEven[A](xs: Array[A], n: Int): Seq[Array[A]] = {
    val parts = n.min(xs.length).max(1)
    (0 until parts).map(i =>
      xs.slice((i.toLong * xs.length / parts).toInt,
        ((i + 1).toLong * xs.length / parts).toInt))
  }

  def windowedCount(spark: SparkSession, sfDir: String,
                    replicas: Int = 10, batches: Int = 8): (Long, Double) = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    // type-driven ts conversion: fixtures have carried TIMESTAMP(NANOS)
    // (reads as LONG under nanosAsLong) and micros TIMESTAMP_NTZ across
    // rounds — handle both; replay needs typed LTZ rows on the driver
    val tsAsLtz = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_micros(CAST(ts AS LONG) DIV 1000)")
      case _ => col("ts").cast("timestamp")
    }
    val rows = events
      .select(col("user_id"), tsAsLtz.as("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .collect()
    // disjoint user-id ranges AND a forward time shift per replica: state
    // (one row per user×window) grows with the replay, and every replayed
    // row stays ahead of the watermark (event time only moves forward)
    val spanMs = {
      val ts = rows.iterator.map(_._2.getTime)
      val (lo, hi) = ts.foldLeft((Long.MaxValue, Long.MinValue)) {
        case ((l, h), t) => (math.min(l, t), math.max(h, t))
      }
      hi - lo + 3600000L // one window of slack between replicas
    }
    val replayed: Array[(Long, java.sql.Timestamp, String)] =
      Array.tabulate(rows.length * replicas) { i =>
        val (u, t, e) = rows(i % rows.length)
        val r = (i / rows.length).toLong
        (u + r * 1000000000L, new java.sql.Timestamp(t.getTime + r * spanMs), e)
      }
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val env = new StreamEnv(spark,
      Map("events" -> ms.toDF().toDF("user_id", "ts", "event_type")))
    val topo = stream(Seq("events"),
        Consumed(keys = Seq("user_id"), eventTime = Some("ts")))
      .filter(col("event_type") === "click")
      .groupByKey
      .windowedBy(WindowSpec.Tumbling("1 hour"))
      .count(as = "clicks")
    val name = s"bench_wc_${System.nanoTime()}"
    // Stateful micro-batches pay per (partition × batch) state-store
    // overhead; 8 partitions is plenty for the probe's state volume and
    // measures the per-record path, not file bookkeeping. Restored after.
    // noop sink: a memory sink would collect every updated (user, window)
    // row to the driver each batch (~input volume in total) and dominate
    // the measurement; real deployments write to Kafka/parquet, so the
    // engine-side cost is the honest figure.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4"))
    // processAllAvailable schedules a no-data micro-batch after every data
    // batch (watermark bookkeeping); each costs a full state-store commit
    // cycle (~1s here) while updating nothing. Disabling them folds the
    // watermark advance into the next data batch — the standard throughput
    // tuning for high-rate stateful queries. Restored after.
    val prevNoData =
      spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = Compiler.compile(topo, env).df.writeStream
      .format("noop").queryName(name).outputMode("update").start()
    try {
      // steady-state warm-up: the first micro-batch pays Janino codegen +
      // state-store provider init (~2-3 s one-offs); push 1% of the replay
      // through untimed so the figure measures the per-record path
      val (warm, main) = replayed.splitAt(math.max(1, replayed.length / 100))
      ms.addData(warm.toSeq)
      q.processAllAvailable()
      // each addData call is ONE MemoryStream block = one partition of the
      // micro-batch's source scan: feeding a 124k-row batch as a single
      // block serializes the row decode + shuffle write on one task.
      // feedBlocks > 1 splits each micro-batch across that many blocks
      // (diagnostic knob; default 1 = historical feed shape)
      val feedBlocks = sys.env.get("SPARK_GRAFT_STREAM_FEED_BLOCKS")
        .fold(1)(v => v.toIntOption.filter(_ >= 1).getOrElse(
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_STREAM_FEED_BLOCKS must be a positive integer, got '$v'")))
      val t0 = System.nanoTime()
      var ingested = 0L
      splitEven(main, batches).foreach { batch =>
        splitEven(batch, feedBlocks).foreach(b => ms.addData(b.toSeq))
        q.processAllAvailable()
      }
      ingested = q.recentProgress.map(_.numInputRows).sum
      require(ingested == replayed.length,
        s"probe lost rows: $ingested of ${replayed.length}")
      val lateDropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      require(lateDropped == 0L,
        s"probe dropped $lateDropped rows as late — the replay must stay " +
        "ahead of the watermark or the figure measures dropping, not aggregation")
      ingested = main.length.toLong // timed rows only (warm-up excluded)
      if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG"))
        q.recentProgress.foreach { p =>
          println(s"batch ${p.batchId}: rows=${p.numInputRows} " +
            s"durations=${p.durationMs} state=${p.stateOperators.toSeq
              .map(s => s"total=${s.numRowsTotal} updated=${s.numRowsUpdated} " +
                s"commit=${s.commitTimeMs}ms")}")
        }
      (ingested, (System.nanoTime() - t0) / 1e9)
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevNoData match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }
}
