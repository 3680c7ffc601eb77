package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, ParquetEnv}
import graft.iq.{HttpStateServer, InteractiveQueries}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.MemorySinkReads

/** Interactive queries (`graft.iq`, the `ring.clj` surface): point lookups
  * and full-store reads over running memory sinks (served from the sink's
  * rows on the driver) and over every other store (Spark SQL), the HTTP
  * routes, checkpoint-backed views and multi-instance routing.
  */
class InteractiveQueriesSpec extends SparkSpecBase {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def env = new ParquetEnv(spark, sfDir)
  private def events = env.load("events")
  private val consumed = Consumed(keys = Seq("user_id"), eventTime = Some("ts"))
  private val http = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def withServer[A](session: SparkSession)(f: Int => A): A = {
    val (server, port) = HttpStateServer.start(session)
    try f(port) finally server.stop(0)
  }

  private def servesFromSink(name: String): Boolean =
    MemorySinkReads.servesFromSink(spark.table(name))

  /** Spark jobs started while `body` runs, streaming micro-batches
    * excluded. A marker job run after `body` flushes the listener bus:
    * events arrive in order, so once the marker's start is seen every
    * earlier job's start has been counted.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"iq-spec-marker-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
        else if (p.forall(_.getProperty("sql.streaming.queryId") == null))
          jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  // ---- memory-sink reads: driver path ≡ SQL path ----

  test("memory-sink store: driver-side routes match the SQL path byte for " +
    "byte, run no Spark job, and fall back to SQL once the query stops") {
    val t0 = new Timestamp(1709287200000L) // 2024-03-01T10:00:00Z
    def at(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val ms = MemoryStream[(Long, Timestamp, Option[Double], Option[String])]
    val wc = ms.toDF().toDF("key", "ts", "v", "tag")
      .withWatermark("ts", "1 day")
      .groupBy(col("key"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
        max(col("tag")).as("tag"))
      .select(col("key"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("total"),
        col("tag"))
      .writeStream.format("memory").queryName("iq_wc")
      .outputMode("update").start()
    val emptyIn = MemoryStream[(Long, String)]
    val empty = emptyIn.toDF().toDF("key", "v")
      .writeStream.format("memory").queryName("iq_wc_empty")
      .outputMode("append").start()
    try {
      ms.addData((1L, at(0), Some(1.5), Some("a")), (1L, at(1), None, None),
        (2L, at(2), None, Some("q\"uote")), (3L, at(130), Some(2.25), Some("b")))
      wc.processAllAvailable()
      // a second emission for key 1: update mode keeps both rows
      ms.addData((1L, at(5), Some(0.1), Some("c")))
      wc.processAllAvailable()
      empty.processAllAvailable()
      assert(servesFromSink("iq_wc") && servesFromSink("iq_wc_empty"))

      val paths = Seq(
        "/store/iq_wc/key/1",           // hit: both emissions, in order
        "/store/iq_wc/key/2",           // null total, escaped string
        "/store/iq_wc/key/999",         // miss
        "/store/iq_wc/key/1?limit=1",   // the first emission only
        "/store/iq_wc/tag/b",           // string key column
        "/store/iq_wc",                 // full store
        "/store/iq_wc?limit=2",
        "/store/iq_wc/nope/1",          // unknown column
        "/store/iq_wc/key/abc",         // malformed long key
        "/store/iq_wc_empty/key/abc",   // ... against an empty store
        "/store/iq_wc_empty")
      def responses(): (Map[String, (Int, String)], Array[Row]) =
        withServer(spark) { port =>
          (paths.map(p => p -> get(port, p)).toMap,
            InteractiveQueries.lookup(spark, "iq_wc", "key", 1L))
        }
      val ((driver, driverRows), driverJobs) = jobsDuring(responses())
      assert(driverJobs == 0, s"memory-sink reads ran $driverJobs jobs")

      wc.stop()
      empty.stop()
      assert(!servesFromSink("iq_wc") && !servesFromSink("iq_wc_empty"))
      val ((sql, sqlRows), sqlJobs) = jobsDuring(responses())
      assert(sqlJobs > 0, "the stopped query's store must run as Spark SQL")

      paths.foreach(p => assert(driver(p) == sql(p), s"$p differs"))
      assert(driverRows.toSeq == sqlRows.toSeq)
      // each path hits the case its comment names
      assert(sql("/store/iq_wc/key/1")._1 == 200 &&
        "\"key\":1,".r.findAllIn(sql("/store/iq_wc/key/1")._2).size == 2)
      assert(sql("/store/iq_wc/key/2")._2.contains("\"tag\":\"q\\\"uote\""))
      assert(!sql("/store/iq_wc/key/2")._2.contains("total"))
      assert(sql("/store/iq_wc/key/999") == (200, "[]"))
      assert(sql("/store/iq_wc/key/1?limit=1")._2.contains("\"total\":1.5,"))
      assert(sql("/store/iq_wc")._2.count(_ == '{') == 4)
      assert(sql("/store/iq_wc?limit=2")._2.count(_ == '{') == 2)
      Seq("/store/iq_wc/nope/1", "/store/iq_wc/key/abc",
        "/store/iq_wc_empty/key/abc").foreach(p => assert(sql(p)._1 == 404, p))
      assert(sql("/store/iq_wc_empty") == (200, "[]"))
      // lookup rows keep their schema: update mode holds every emission,
      // oldest first
      assert(driverRows.map(_.getAs[Long]("n")).toSeq == Seq(2L, 3L))
      assert(driverRows.map(_.getAs[Timestamp]("window_start")).distinct
        .toSeq == Seq(t0))
    } finally {
      if (wc.isActive) wc.stop()
      if (empty.isActive) empty.stop()
    }
  }

  test("a temp view shadowing a memory-sink query name is served by SQL") {
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("k", "v").writeStream.format("memory")
      .queryName("iq_shadowed").outputMode("append").start()
    try {
      ms.addData((1L, "sink"))
      q.processAllAvailable()
      assert(servesFromSink("iq_shadowed"))
      Seq((1L, "view")).toDF("k", "v").createOrReplaceTempView("iq_shadowed")
      assert(!servesFromSink("iq_shadowed"))
      val body = withServer(spark)(get(_, "/store/iq_shadowed/k/1"))
      assert(body == (200, """[{"k":1,"v":"view"}]"""))
      assert(InteractiveQueries.lookup(spark, "iq_shadowed", "k", 1L)
        .map(_.getAs[String]("v")).toSeq == Seq("view"))
    } finally q.stop()
  }

  // ---- temp views and the HTTP routes ----

  test("http state server caps full-store GET at the limit param") {
    (1 to 5000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("big_store_r4")
    withServer(spark) { port =>
      def body(path: String): String = get(port, path)._2
      def count(body: String): Int =
        if (body == "[]") 0 else body.count(_ == '{')
      // default cap: 1000 rows, not the whole 5000-row store
      assert(count(body("/store/big_store_r4")) == 1000)
      // explicit limit respected, both smaller and larger
      assert(count(body("/store/big_store_r4?limit=7")) == 7)
      assert(count(body("/store/big_store_r4?limit=10000")) == 5000)
      // point queries unchanged (and also bounded)
      val pt = body("/store/big_store_r4/k/42")
      assert(count(pt) == 1 && pt.contains("\"v\":\"v42\""))
    }
  }

  test("materialized name registers a queryable store (IQ parity)") {
    val node = CountOp(
      stream(Seq("events"), consumed).groupBy(col("event_type")),
      as = "n",
      materialized = Some(Materialized(name = Some("type_counts"))))
    Compiler.compile(node, env)
    val viaIq = InteractiveQueries.lookup(
      spark, "type_counts", "event_type", "click")
    assert(viaIq.length == 1)
    assert(viaIq.head.getAs[Long]("n") ==
      events.where(col("event_type") === "click").count())
  }

  test("http state server serves point lookups (ring.clj surface)") {
    val node = CountOp(
      stream(Seq("events"), consumed).groupBy(col("event_type")),
      as = "n",
      materialized = Some(Materialized(name = Some("http_counts"))))
    Compiler.compile(node, env)
    withServer(spark) { port =>
      val (status, body) = get(port, "/store/http_counts/event_type/click")
      assert(status == 200)
      assert(body.contains("\"event_type\":\"click\""))
      assert(get(port, "/store/no_such_store")._1 == 404)
    }
  }

  // ---- checkpoint-backed stores ----

  test("registerCheckpointStore serves a stopped query's checkpointed " +
    "state over HTTP through Spark SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_iq_ckpt")
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("k", "v")
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
      .writeStream.format("memory").queryName("iq_ckpt_mem")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("complete").start()
    try {
      ms.addData(("a", 1L), ("b", 2L), ("a", 3L))
      q.processAllAvailable()
      ms.addData(("b", 10L))
      q.processAllAvailable()
    } finally q.stop()
    InteractiveQueries.registerCheckpointStore(spark, "iq_ckpt_view",
      s"$dir/ckpt")
    assert(!servesFromSink("iq_ckpt_view"))
    val (status, body) =
      withServer(spark)(get(_, "/store/iq_ckpt_view/k/b"))
    // value columns carry the operator's internal buffer names ("sum"),
    // not the sink projection's aliases
    assert(status == 200 && body.contains("\"sum\":12"), body)
  }

  // ---- multi-instance routing ----

  test("multi-instance IQ routing: two state servers over isolated " +
    "sessions each own one shard; the ring handler hops to the owner " +
    "over REAL HTTP and serves locally when self owns the key") {
    import InteractiveQueries.HostInfo
    // two "instances": newSession() gives each its own temp-view catalog
    // over the shared context — instance A genuinely cannot see B's
    // shard, so the remote hop is REQUIRED, not decorative
    val rows = (1L to 20L).map(i => (i, s"v$i"))
    def shardOf(k: Long): Int = (k % 2).toInt
    val sessions = Seq(spark.newSession(), spark.newSession())
    sessions.zipWithIndex.foreach { case (s, i) =>
      import s.implicits._
      rows.filter(r => shardOf(r._1) == i).toDF("k", "v")
        .createOrReplaceTempView("iq_store")
    }
    val (srvA, portA) = HttpStateServer.start(sessions(0))
    val (srvB, portB) = HttpStateServer.start(sessions(1))
    try {
      val hosts = Array(HostInfo("127.0.0.1", portA),
        HostInfo("127.0.0.1", portB))
      def httpGet(h: HostInfo, key: String): String = {
        val url = URI
          .create(s"http://${h.host}:${h.port}/store/iq_store/k/$key").toURL
        val in = url.openStream()
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      // the wrong host really misses: ownership is physical, not styled
      assert(httpGet(hosts(0), "1") == "[]",
        "instance A must not see B's shard")
      assert(httpGet(hosts(1), "1").contains("\"v\":\"v1\""))
      // ring.clj:40-53 handler with the intended (non-inverted) remote?
      // semantics: self = A; A's keys serve locally, B's hop over HTTP
      var localCalls = 0
      var remoteCalls = 0
      val route = InteractiveQueries.handler[String](
        findHost = k => hosts(shardOf(k.toLong)),
        remote = (h, k) => { remoteCalls += 1; httpGet(h, k) },
        local = k => { localCalls += 1; httpGet(hosts(0), k) },
        self = hosts(0))
      rows.foreach { case (k, v) =>
        val body = route(k.toString)
        assert(body.contains(s""""v":"$v""""), s"key $k got $body")
      }
      assert(localCalls == rows.count(r => shardOf(r._1) == 0))
      assert(remoteCalls == rows.count(r => shardOf(r._1) == 1))
    } finally { srvA.stop(0); srvB.stop(0) }
  }
}
