package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, StreamEnv}
import graft.streaming.Runner
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Data-correctness streaming tests via MemoryStream — the
  * TopologyTestDriver analog the reference declared but never used
  * (SURVEY §5): pipe records in, run the topology, assert on the state.
  */
class StreamingSpec extends SparkSpecBase {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def runToMemory(node: KNode, env: StreamEnv, name: String,
                          mode: String = "update"): Unit = {
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("wordcount topology over a memory stream (README.md:59-73 analog)") {
    val ms = MemoryStream[(Long, String)]
    ms.addData((1L, "the quick fox"), (2L, "the lazy dog"), (3L, "the fox"))
    val env = new StreamEnv(spark,
      Map("lines" -> ms.toDF().toDF("doc_id", "text")))
    val wc = stream(Seq("lines"), Consumed(keys = Seq("doc_id")))
      .flatMapValues(split(lower(col("text")), " "), as = "word")
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .count(as = "n")
    runToMemory(wc, env, "wc")
    val out = spark.table("wc").groupBy("word").agg(max("n").as("n"))
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("the") == 3 && m("fox") == 2 && m("dog") == 1)
  }

  test("windowed count with watermark (anomaly_detection.clj analog)") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:30")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val ms = MemoryStream[(String, java.sql.Timestamp)]
    ms.addData(("u1", ts(0)), ("u1", ts(10)), ("u1", ts(20)), ("u1", ts(25)),
               ("u2", ts(5)))
    val env = new StreamEnv(spark, Map("clicks" -> ms.toDF().toDF("user", "ts")))
    val counts = stream(Seq("clicks"),
        Consumed(keys = Seq("user"), eventTime = Some("ts")))
      .groupByKey
      .windowedBy(WindowSpec.Tumbling("1 minute"))
      .count(as = "clicks")
      .toStream
      .filter(col("clicks") > 3)
    runToMemory(counts, env, "anomalies")
    val rows = spark.table("anomalies").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("user") == "u1")
    assert(rows.head.getAs[Long]("clicks") == 4)
  }

  test("KTable latest-per-key kernel upserts across batches") {
    val ms = MemoryStream[(Long, String, Long)]
    val env = new StreamEnv(spark,
      Map("tbl" -> ms.toDF().toDF("k", "v", "off")))
    val node = table("tbl", Consumed(keys = Seq("k")), orderBy = Some("off"))
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("tbl_state").outputMode("append").start()
    try {
      ms.addData((1L, "a", 1L), (2L, "x", 2L))
      q.processAllAvailable()
      ms.addData((1L, "b", 3L)) // upsert key 1
      ms.addData((2L, "stale", 1L)) // older offset: ignored
      q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("tbl_state")
      .groupBy("k").agg(max_by(col("v"), col("off")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest == Map(1L -> "b", 2L -> "x"))
  }

  test("KTable-KTable join kernel emits on either side's update") {
    val lms = MemoryStream[(Long, String, Long)]
    val rms = MemoryStream[(Long, Double, Long)]
    val env = new StreamEnv(spark, Map(
      "lt" -> lms.toDF().toDF("k", "name", "off"),
      "rt" -> rms.toDF().toDF("k", "score", "off")))
    val node = table("lt", Consumed(keys = Seq("k")), orderBy = Some("off"))
      .join(table("rt", Consumed(keys = Seq("k")), orderBy = Some("off")))
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("tt_join").outputMode("append").start()
    try {
      lms.addData((1L, "alice", 1L))
      q.processAllAvailable()
      assert(spark.table("tt_join").count() == 0) // inner: right missing
      rms.addData((1L, 0.5, 1L))
      q.processAllAvailable()
      lms.addData((1L, "alicia", 2L)) // left update re-emits
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("tt_join").orderBy("off").collect() // off_r = right's
    assert(rows.map(_.getAs[String]("name")).toSeq == Seq("alice", "alicia"))
    assert(rows.forall(_.getAs[Double]("score") == 0.5))
  }

  test("typed reduce kernel maintains running per-key state") {
    val ms = MemoryStream[(String, Long)]
    val env = new StreamEnv(spark, Map("ev" -> ms.toDF().toDF("k", "v")))
    val node = ReduceOp(
      stream(Seq("ev"), Consumed(keys = Seq("k"))).groupByKey,
      reducer = (a: Row, b: Row) => Row(a.getLong(0) + b.getLong(0)))
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("red").outputMode("update").start()
    try {
      ms.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      ms.addData(("a", 4L))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("red").groupBy("k").agg(max("v").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(last == Map("a" -> 7L, "b" -> 10L))
  }

  test("stream-stream band join with watermarks") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val lms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val rms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val env = new StreamEnv(spark, Map(
      "l" -> lms.toDF().toDF("k", "lts", "lv"),
      "r" -> rms.toDF().toDF("k", "rts", "rv")))
    lms.addData((1L, ts(0), "L0"))
    rms.addData((1L, ts(5), "R5"), (1L, ts(30), "R30"), (2L, ts(5), "R5"))
    val node = stream(Seq("l"), Consumed(keys = Seq("k"), eventTime = Some("lts")))
      .join(stream(Seq("r"), Consumed(keys = Seq("k"), eventTime = Some("rts"))),
            window = Some(JoinWindow("0 seconds", "10 seconds")))
    runToMemory(node, env, "band", mode = "append")
    val rows = spark.table("band").collect()
    assert(rows.length == 1) // only (k=1, R5) is within [lts, lts+10s]
    assert(rows.head.getAs[String]("rv") == "R5")
  }

  test("stream joined against a static global table (broadcast enrichment)") {
    val ms = MemoryStream[(Long, Double)]
    ms.addData((0L, 1.5), (1L, 2.5), (999999L, 9.9)) // last has no dim row
    val dims = spark.read.parquet(s"$sfDir/customer.parquet")
    val env = new StreamEnv(spark,
      streams = Map("ev" -> ms.toDF().toDF("user_id", "value")),
      statics = Map("customer" -> dims))
    val node = stream(Seq("ev"), Consumed(keys = Seq("user_id")))
      .joinGlobal(globalTable("customer", Consumed(keys = Seq("c_custkey")),
                              unique = true),
        derivedKey = Seq(col("user_id")),
        projection = Seq(col("user_id"), col("value"), col("c_name")))
    runToMemory(node, env, "enriched", mode = "append")
    val rows = spark.table("enriched").collect()
    assert(rows.length == 2) // inner join drops the unmatched user
    assert(rows.forall(_.getAs[String]("c_name") != null))
  }

  test("KTable filter tombstones non-matching updates (null value row)") {
    val ms = MemoryStream[(Long, String, Long)]
    val env = new StreamEnv(spark, Map("tbl" -> ms.toDF().toDF("k", "v", "off")))
    val node = table("tbl", Consumed(keys = Seq("k")), orderBy = Some("off"))
      .filter(col("v") =!= "bad")
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("tomb").outputMode("append").start()
    try {
      ms.addData((1L, "good", 1L))
      q.processAllAvailable()
      ms.addData((1L, "bad", 2L)) // update fails the predicate → tombstone
      q.processAllAvailable()
    } finally q.stop()
    // tombstone rows carry null value columns (off is a value column too)
    val rows = spark.table("tomb").orderBy(col("off").asc_nulls_last).collect()
    assert(rows.length == 2)
    assert(rows.head.getAs[String]("v") == "good")
    assert(rows.last.isNullAt(rows.last.fieldIndex("v"))) // delete marker
  }

  test("session kernel merges bridged sessions via the user merger") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val ms = MemoryStream[(String, java.sql.Timestamp, Double)]
    val env = new StreamEnv(spark, Map("ev" -> ms.toDF().toDF("u", "ts", "v")))
    val node = SessionAggregateOp[Long](
      stream(Seq("ev"), Consumed(keys = Seq("u"), eventTime = Some("ts")))
        .groupByKey,
      gap = "1 minute",
      initializer = () => 0L,
      aggregator = (b, _) => b + 1,
      merger = (x, y) => x + y, // exercised only when sessions fuse
      finisher = b => Row(b),
      outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType))))
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("sess").outputMode("append").start()
    try {
      ms.addData(("u1", ts(0), 1.0), ("u1", ts(100), 1.0)) // 2 sessions
      q.processAllAvailable()
      assert(spark.table("sess").count() == 2)
      ms.addData(("u1", ts(50), 1.0)) // bridges both → single merged session
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("sess").orderBy(col("n").desc).head
    assert(last.getAs[Long]("n") == 3) // merger combined 1+1+1
    assert(last.getAs[java.sql.Timestamp]("session_start") == ts(0))
  }

  test("streaming exact dedup keeps first record per key within watermark") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val deduped = graft.ext.Dedup.exactStream(
      ms.toDF().toDF("doc_id", "ts", "text"),
      keys = Seq("doc_id"), tsCol = "ts", watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(0), "a"), (1L, ts(1), "a-dup"), (2L, ts(2), "b"))
      q.processAllAvailable()
      ms.addData((1L, ts(3), "a-dup2"), (3L, ts(4), "c"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dd").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(rows.find(_.getLong(0) == 1L).get.getString(2) == "a")
  }

  test("runner starts a topology with the memory sink (streams analog)") {
    val ms = MemoryStream[(Long, String)]
    ms.addData((1L, "x"))
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v")))
    val q = Runner.start(
      stream(Seq("t"), Consumed(keys = Seq("k"))),
      env, SinkSpec.Memory("runner_out"),
      Runner.StreamsCfg(queryName = "runner_q", outputMode = "append"))
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("runner_out").count() == 1)
  }

  test("StreamingBench.splitEven cuts exactly n contiguous parts") {
    for (len <- Seq(1, 7, 10, 124, 1000); n <- Seq(1, 3, 4, 6, 8, 2000)) {
      val xs = (0 until len).toArray
      val parts = StreamingBench.splitEven(xs, n)
      assert(parts.length == n.min(len), s"len $len, n $n")
      assert(parts.forall(_.nonEmpty))
      assert(parts.map(_.length).max - parts.map(_.length).min <= 1)
      assert(parts.flatten.toSeq == xs.toSeq)
    }
  }
}
