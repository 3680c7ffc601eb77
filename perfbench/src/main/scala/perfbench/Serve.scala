package perfbench

import graft.ast._
import graft.ast.dsl._
import graft.compile.StreamEnv
import graft.iq.{HttpStateServer, InteractiveQueries}
import graft.serde.Serdes
import graft.streaming.Runner
import java.sql.Timestamp
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.Random

/** `stream_serve`: the anomaly-detection topology (events → filter click →
  * group by key → 1-hour tumbling count) fed over the wire.
  */
object Serve {

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-batch coordination, compute and state figures over `ps`. */
  private def progressLayers(ps: Seq[StreamingQueryProgress],
                             res: Result): Unit = {
    val st = ps.flatMap(_.stateOperators.headOption)
    def meanDur(k: String) = Stats.mean(ps.map(dur(_, k)))
    res.layers("streaming.batches") = ps.size
    res.layers("streaming.add_batch_ms") = meanDur("addBatch")
    res.layers("streaming.trigger_ms") = meanDur("triggerExecution")
    res.layers("streaming.planning_ms") = meanDur("queryPlanning")
    res.layers("streaming.wal_commit_ms") = meanDur("walCommit")
    res.layers("streaming.commit_offsets_ms") = meanDur("commitOffsets")
    res.layers("state.rows_total") =
      st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    res.layers("state.rows_updated") = st.map(_.numRowsUpdated).sum
    res.layers("state.commit_ms") = Stats.mean(st.map(_.commitTimeMs.toDouble))
    res.layers("state.memory_mb") =
      st.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0)
    res.layers("state.rows_dropped_late") =
      st.map(_.numRowsDroppedByWatermark).sum
  }


  /** Kafka-shaped (key, value) byte rows, decoded at the source edge by
    * `Serdes.long` / `Serdes.json`, arrive open loop at a fixed rate from
    * one generator thread; the topology runs through `Runner.start` into a
    * `SinkSpec.Memory` store, served by `HttpStateServer`. Beside it one
    * closed-loop client issues two point lookups on seeded keys after each
    * completed micro-batch (one outstanding request; the next waits for the
    * reply). The trigger is 2 s, not the reference's 500 ms: a micro-batch
    * takes 0.6–1.9 s on the 4-core host this was built on, so at 500 ms the
    * query never keeps its cadence and each batch's size, and with it the
    * work measured per batch, follows host load. At 2 s every batch holds
    * the same number of events and lookups. Event latency runs from an
    * event's creation (its scheduled send time, which is also its event
    * time) to the completion of the micro-batch that holds it.
    */
  val Rate = 100 // events per second
  val LookupsPerBatch = 2
  val Users = 10000
  val WarmS = 15.0 // lets the JIT compile the per-batch code paths
  val TriggerMs = 2000L
  val GenTickMs = 50L

  /** Zipf(1.1) sampler over user ids 0 until n. */
  private final class Zipf(n: Int, rnd: Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(n - 1).toLong
    }
  }

  def run(spark: SparkSession, o: Opts, res: Result, tracer: Tracer,
          setupDone: () => Unit): Unit = {
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    // four source partitions, as a four-partition topic: each micro-batch
    // reads its rows in four tasks however many blocks were added
    val ms = MemoryStream[(Array[Byte], Array[Byte], Timestamp)](4)
    val env = new StreamEnv(spark,
      Map("clicks" -> ms.toDF().toDF("key", "value", "ts")))
    val valueSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val consumed = Consumed(keys = Seq("key"), eventTime = Some("ts"),
      keySerde = Some(Serdes.long), valueSerde = Some(Serdes.json(valueSchema)))
    val topo = stream(Seq("clicks"), consumed)
      .filter(col("value.event_type") === "click")
      .groupByKey
      .windowedBy(WindowSpec.Tumbling("1 hour"))
      .count(as = "clicks")
    val store = "serve_counts"
    val q = Runner.start(topo, env, SinkSpec.Memory(store),
      Runner.StreamsCfg(queryName = store, triggerMs = TriggerMs,
        checkpointLocation = Some(s"${o.out}/serve-checkpoint")))
    val (server, port) = HttpStateServer.start(spark)

    // generator state: event i is scheduled at startMs + i·1000/rate
    val users = mutable.ArrayBuffer[Long]()
    val types = mutable.ArrayBuffer[String]()
    val blockOffset = mutable.ArrayBuffer[Long]() // per block: source offset
    val blockFirst = mutable.ArrayBuffer[Int]()   // per block: first event
    val blockEnd = mutable.ArrayBuffer[Int]()     // per block: end, exclusive
    val blockLateMs = mutable.ArrayBuffer[Double]()
    val etypes = Array("click", "error", "purchase", "signup", "view")
    val startMs = System.currentTimeMillis() + 200
    val startNs = System.nanoTime() + 200L * 1000000L
    def schedMs(i: Int): Double = startMs + i * 1000.0 / Rate
    var windowStartMs = 0.0 // set once the warm-up has reached steady state
    var windowEndMs = 0.0
    @volatile var running = true
    @volatile var genError: Throwable = null
    val gen = new Thread(() => {
      val rnd = new Random(o.seed)
      val zipf = new Zipf(Users, rnd)
      try while (running) {
        val now = System.nanoTime()
        val due = ((now - startNs) / 1e9 * Rate).toLong.toInt
        if (due > users.size) {
          val first = users.size
          val rowsOut = (first until due).map { i =>
            val u = zipf.next()
            val t = etypes(rnd.nextInt(etypes.length))
            val v = (rnd.nextInt(100000) / 100.0).toString
            users += u; types += t
            (u.toString.getBytes("UTF-8"),
              s"""{"user_id":$u,"event_type":"$t","value":$v}""".getBytes("UTF-8"),
              new Timestamp(schedMs(i).toLong))
          }
          val off = ms.addData(rowsOut)
          blockOffset.synchronized {
            blockOffset += off.json().toLong
            blockFirst += first
            blockEnd += due
            blockLateMs += System.currentTimeMillis() - schedMs(first)
          }
        }
        Thread.sleep(GenTickMs)
      } catch { case e: Throwable => genError = e }
    }, "perfbench-generator")

    // the closed-loop lookup client: two lookups after each completed
    // micro-batch, one outstanding request at a time
    final case class Lookup(startMs: Double, ms: Double, ok: Boolean)
    val lookups = mutable.ArrayBuffer[Lookup]()
    val inProcessMs = mutable.ArrayBuffer[Double]()
    val client = new Thread(() => {
      val rnd = new Random(o.seed ^ 0x5eedL)
      val zipf = new Zipf(Users, rnd)
      val http = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      val keyRe = "\"key\":(-?\\d+)".r
      var n = 0
      def lookupOnce(): Unit = {
        val k = zipf.next()
        val t0 = System.nanoTime()
        val at = System.currentTimeMillis().toDouble
        val ok = try {
          val resp = http.send(java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://127.0.0.1:$port/store/$store/key/$k"))
            .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
          resp.statusCode() == 200 &&
            keyRe.findAllMatchIn(resp.body()).forall(_.group(1).toLong == k)
        } catch { case _: Throwable => false }
        lookups.synchronized {
          lookups += Lookup(at, (System.nanoTime() - t0) / 1e6, ok)
        }
        n += 1
        if (o.trace && n % 10 == 0) {
          val sc = spark.sparkContext
          sc.setJobGroup(Tracer.inProcessGroup, "in-process lookup")
          val t1 = System.nanoTime()
          try InteractiveQueries.lookup(spark, store, "key", k)
          catch { case _: Throwable => }
          inProcessMs += (System.nanoTime() - t1) / 1e6
          sc.clearJobGroup()
        }
      }
      def batchId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      var seen = -1L
      while (running) {
        while (running && batchId == seen) Thread.sleep(20)
        seen = batchId
        for (_ <- 1 to LookupsPerBatch if running) lookupOnce()
      }
    }, "perfbench-lookups")

    def completeMs(p: StreamingQueryProgress): Double =
      java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")
    def endOffset(p: StreamingQueryProgress): Long =
      Option(p.sources.head.endOffset).filter(_ != "null").map(_.toLong)
        .getOrElse(-1L)
    // events sent in blocks up to source offset `off`
    def eventsUpTo(off: Long): Int = blockOffset.synchronized {
      val b = blockOffset.lastIndexWhere(_ <= off)
      if (b < 0) 0 else blockEnd(b)
    }
    def sentNow: Int = blockOffset.synchronized(blockEnd.lastOption.getOrElse(0))

    try {
      gen.start()
      client.start()
      // Warm-up under the full load until steady state: at least WarmS
      // seconds and three micro-batches with input, and a backlog under one
      // trigger interval plus two seconds of events (a cold first batch can
      // take several seconds).
      Thread.sleep((startMs + WarmS * 1000 - System.currentTimeMillis())
        .toLong.max(0))
      val warmCapMs = System.currentTimeMillis() + 60000
      def steady: Boolean = {
        val done = q.recentProgress.filter(_.numInputRows > 0)
        done.length >= 3 &&
          sentNow - eventsUpTo(endOffset(done.last)) <
            (TriggerMs / 1000.0 + 2) * Rate
      }
      while (!steady && System.currentTimeMillis() < warmCapMs) Thread.sleep(50)
      windowStartMs = System.currentTimeMillis().toDouble
      windowEndMs = windowStartMs + o.seconds * 1000
      val backlogAtStart = sentNow - eventsUpTo(
        q.recentProgress.map(endOffset).foldLeft(-1L)(_ max _))
      setupDone()
      val tracedSlot = (t: Double) =>
        o.trace && ((t - windowStartMs) / TriggerMs).toInt % 2 == 0
      // Poll every 20 ms: note the JVM's CPU time and allocation as each
      // micro-batch completes, so they divide over whole batches. The median
      // batch is reported: a window holds only four or five, and periodic
      // work (state-store maintenance, cleanup) lands in one of them in some
      // runs and not in others. A traced run keeps the listener on in every
      // other trigger interval of the window, and notes CPU per batch by the
      // interval the batch completed in.
      // (JVM CPU, heap allocated, completed in a traced slot)
      val atBatch = mutable.ArrayBuffer[(Long, Long, Boolean)]()
      var lastId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      while (System.currentTimeMillis() < windowEndMs) {
        val now = System.currentTimeMillis().toDouble
        if (tracedSlot(now)) tracer.enable() else tracer.disable()
        val id = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
        if (id != lastId) {
          atBatch += ((Host.cpuNs(), Host.allocBytes(), tracedSlot(now)))
          lastId = id
        }
        Thread.sleep(20)
      }
      def perBatch(f: ((Long, Long, Boolean)) => Long): Double =
        Stats.pct(atBatch.indices.drop(1)
          .map(i => (f(atBatch(i)) - f(atBatch(i - 1))).toDouble), 50)
      tracer.disable()
      val otherJobs = if (o.trace) tracer.snap("other").jobs else 0L
      running = false
      gen.join()
      client.join()
      if (genError != null) throw genError
      val sentAtEnd =
        ((windowEndMs - startMs) * Rate / 1000).toInt.min(users.size)
      // rows in batches completed by the end of the window
      val doneByEnd = q.recentProgress.filter(completeMs(_) <= windowEndMs)
        .map(endOffset).foldLeft(-1L)(_ max _)
      val backlogAtEnd = sentAtEnd - eventsUpTo(doneByEnd)
      q.processAllAvailable()
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)

      // event latency: every block belongs to the batch whose offset range
      // holds its source offset
      val latAll = mutable.ArrayBuffer[(Double, Double)]() // (sched, latency)
      var prevEnd = -1L
      ps.sortBy(_.batchId).foreach { p =>
        val end = endOffset(p)
        val done = completeMs(p)
        blockOffset.indices.foreach { b =>
          val off = blockOffset(b)
          if (off > prevEnd && off <= end) {
            (blockFirst(b) until blockEnd(b)).foreach { i =>
              val s = schedMs(i)
              if (s >= windowStartMs && s < windowEndMs) latAll += (s -> (done - s))
            }
          }
        }
        prevEnd = math.max(prevEnd, end)
      }
      val inWindow = (0 until users.size).count { i =>
        val s = schedMs(i); s >= windowStartMs && s < windowEndMs }
      val win = lookups.filter(l => l.startMs >= windowStartMs && l.startMs < windowEndMs)
      res.attempted += inWindow + win.size
      res.failed += win.count(!_.ok) + (inWindow - latAll.size)
      // a backlog that grew by more than two trigger intervals plus three
      // seconds of events over the window means the rate was not sustained:
      // every event of the run counts as failed
      val growing = backlogAtEnd - backlogAtStart >
        (2 * TriggerMs / 1000.0 + 3) * Rate
      if (growing) {
        res.failed += latAll.size
        res.errors += s"backlog grew from $backlogAtStart to $backlogAtEnd events"
      }
      res.e2e("cpu_ms_per_op") = perBatch(_._1) / 1e6
      res.e2e("alloc_mb_per_op") = perBatch(_._2) / 1048576.0
      val lat = latAll.map(_._2).toSeq
      val httpMs = win.map(_.ms).toSeq
      res.ungated ++= Seq("events" -> latAll.size.toDouble,
        "events_per_s" -> latAll.size / o.seconds,
        "event_p50_ms" -> Stats.pct(lat, 50),
        "event_p99_ms" -> Stats.pct(lat, 99),
        "lookups" -> win.size.toDouble,
        "lookups_per_s" -> win.size / o.seconds,
        "lookup_p50_ms" -> Stats.pct(httpMs, 50),
        "lookup_p99_ms" -> Stats.pct(httpMs, 99))
      if (o.trace) {
        val wps = ps.filter(p => completeMs(p) >= windowStartMs &&
          completeMs(p) <= windowEndMs)
        progressLayers(wps, res)
        val wBlocks = blockOffset.indices.filter(b =>
          schedMs(blockFirst(b)) >= windowStartMs && schedMs(blockFirst(b)) < windowEndMs)
        res.layers("streaming.backlog_rows") = wps.map { p =>
          val started = java.time.Instant.parse(p.timestamp).toEpochMilli
          val sent = (((started - startMs) * Rate / 1000.0).toInt + 1)
            .min(users.size).max(0)
          (sent - eventsUpTo(endOffset(p))).max(0).toDouble
        }.maxOption.getOrElse(0.0)
        res.layers("streaming.generator_late_ms") =
          Stats.mean(wBlocks.map(blockLateMs(_)))
        res.layers("iq.http_ms") = Stats.pct(httpMs, 50)
        res.layers("iq.http_p99_ms") = Stats.pct(httpMs, 99)
        res.layers("iq.lookups_per_s") = win.size / o.seconds
        res.layers("iq.lookup_ms") = Stats.mean(inProcessMs.toSeq)
        val tracedLookups = win.count(l => tracedSlot(l.startMs))
        res.layers("iq.jobs_per_lookup") =
          otherJobs.toDouble / tracedLookups.max(1)
        res.layers("iq.store_rows") = spark.table(store).count()
        val cpuSteps = atBatch.indices.drop(1).map(i =>
          (atBatch(i)._3, (atBatch(i)._1 - atBatch(i - 1)._1) / 1e6))
        res.layers("trace.cpu_overhead_pct") = Stats.overheadPct(
          cpuSteps.collect { case (true, c) => c },
          cpuSteps.collect { case (false, c) => c })
        res.layers("trace.overhead_pct") = Stats.overheadPct(
          latAll.collect { case (s, l) if tracedSlot(s) => l }.toSeq,
          latAll.collect { case (s, l) if !tracedSlot(s) => l }.toSeq)
      }
      q.stop()
      // untimed check inputs: the events sent and the final store
      users.indices.map(i => (users(i), types(i), schedMs(i).toLong))
        .toDF("user_id", "event_type", "ts_ms")
        .write.mode("overwrite").parquet(s"${o.out}/check/serve_events")
      spark.table(store)
        .select(col("key"), unix_millis(col("window_start")).as("ws_ms"),
          col("clicks"))
        .write.mode("overwrite").parquet(s"${o.out}/check/serve_store")
    } finally {
      running = false
      gen.join()
      client.join()
      server.stop(0)
      if (q.isActive) q.stop()
    }
  }
}
