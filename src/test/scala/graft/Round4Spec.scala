package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round-4 hardening specs, from the round-3 ADVICE findings: id-type
  * generic clustering and streaming funnels (the long casts silently
  * nulled string ids), corpus-sized Bloom dedup, and analysis-time errors
  * for bad literal args to the SQL-registered native functions.
  */
class Round4Spec extends SparkSpecBase {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // ---- ADVICE #1: clusters() keeps the native id type ----

  test("clusters: string ids survive (driver and distributed paths agree)") {
    // chain a~b, b~c plus isolated d~e — two components, min-string labels
    val pairs = Seq(
      ("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-e", "doc-d")
    ).toDF("id_a", "id_b")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val driver = m(graft.ext.Dedup.clusters(pairs)) // small → union-find
    val dist = m(graft.ext.Dedup.clusters(pairs, maxDriverEdges = 0L))
    val want = Map(
      "doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "doc-d" -> "doc-d", "doc-e" -> "doc-d")
    assert(driver == want, s"driver path: $driver")
    assert(dist == want, s"distributed path: $dist")
    // output schema keeps the input id type
    val out = graft.ext.Dedup.clusters(pairs)
    assert(out.schema("id").dataType.typeName == "string")
    assert(out.schema("cluster_id").dataType.typeName == "string")
  }

  test("clusters: long ids unchanged by the generic path") {
    val pairs = Seq((2L, 1L), (2L, 3L)).toDF("id_a", "id_b")
    val got = graft.ext.Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  // ---- ADVICE #3: streaming funnel keys on the native user column ----

  test("windowFunnelStream: string user ids do not collapse into one state") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(String, java.sql.Timestamp, String)]
    val out = graft.ext.Funnel.windowFunnelStream(
      ms.toDF().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", Seq("A", "B"), withinSeconds = 10L)
    val q = out.writeStream.format("memory").queryName("funnel_str")
      .outputMode("append").start()
    try {
      // two users interleaved; with the old cast-to-long both become null
      // and merge into a single funnel (u2's B would chain off u1's A)
      ms.addData(("u1", ts(0), "A"), ("u2", ts(1), "B"))
      q.processAllAvailable()
      val rows = spark.table("funnel_str").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("u1", 1L)), s"u2 has no A so must not emit: $rows")
      // u2 starts its own chain; state rows = 2 distinct users
      ms.addData(("u2", ts(2), "A"), ("u2", ts(3), "B"))
      q.processAllAvailable()
      val rows2 = spark.table("funnel_str").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows2 == Set(("u1", 1L), ("u2", 2L)), rows2.toString)
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 2)
    } finally q.stop()
  }

  // ---- ADVICE #4: SQL integer args fold, or fail at analysis ----

  test("SQL int args: foldable BIGINT accepted, column rejected by name") {
    graft.functions.VectorFunctions.register(spark)
    // CAST(2 AS BIGINT) is foldable but not an Int literal — must resolve
    val ok = spark.sql("SELECT char_ngrams('abcd', CAST(3 AS BIGINT)) AS g")
      .collect()(0).getSeq[String](0)
    assert(ok == Seq("abc", "bcd"))
    // arithmetic folds too
    assert(spark.sql("SELECT word_shingles('a b c', 1 + 1) AS s")
      .collect()(0).getSeq[String](0) == Seq("a b", "b c"))
    // a column argument must raise an error naming the function, not a
    // ClassCastException from eval()
    Seq(("abcd", 3)).toDF("text", "n").createOrReplaceTempView("r4_int_args")
    val e2 = intercept[Exception] {
      spark.sql("SELECT char_ngrams(text, n) FROM r4_int_args").collect()
    }
    assert(e2.getMessage.contains("char_ngrams"),
      s"error must name the function: ${e2.getMessage}")
  }

  // ---- VERDICT #4: streaming near-dup kernels evict idle buckets ----

  test("simhashPairsStream: retention evicts idle buckets, pairs still emit") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = ms.toDF().toDF("doc_id", "ts", "text")
    val pairs = graft.ext.Dedup.simhashPairsStream(
      stream, "text", "doc_id",
      tsCol = Some("ts"), retention = Some("10 seconds"))
    val q = pairs.writeStream.format("memory").queryName("ret_dups")
      .outputMode("append").start()
    try {
      // two near-identical docs in-window: the pair emits exactly once
      // NOT epoch 0: the initial watermark is 0 and epoch-0 event times
      // classify as late in stateful operators
      ms.addData((1L, ts(100), "alpha beta gamma delta"),
                 (2L, ts(101), "alpha beta gamma delta"))
      q.processAllAvailable()
      assert(spark.table("ret_dups").count() == 1)
      val rows0 = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rows0 > 0, "buckets must be in state while fresh")
      // advance the watermark far past retention with unrelated text;
      // two batches: one moves the watermark, the next applies timeouts
      ms.addData((50L, ts(1000), "zeta eta theta iota unrelated"))
      q.processAllAvailable()
      ms.addData((51L, ts(1001), "kappa lambda mu nu unrelated"))
      q.processAllAvailable()
      val rowsAfter = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rowsAfter < rows0 + 8,
        s"idle buckets must be evicted: before=$rows0 after=$rowsAfter")
      // the original doc-1/doc-2 buckets (ts ~100s, watermark ~990s) are gone
      assert(spark.table("ret_dups").count() == 1, "no spurious emissions")
    } finally q.stop()
  }

  test("minhashPairsStream: retention bounds bucket count across batches") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = ms.toDF().toDF("doc_id", "ts", "text")
    val pairs = graft.ext.Dedup.minhashPairsStream(
      stream, "text", "doc_id",
      tsCol = Some("ts"), retention = Some("10 seconds"))
    val q = pairs.writeStream.format("memory").queryName("ret_mh")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(100), "the quick brown fox jumps over the lazy dog"),
                 (2L, ts(101), "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      assert(spark.table("ret_mh").count() == 1) // one pair, once
      val rows0 = q.lastProgress.stateOperators.head.numRowsTotal
      ms.addData((60L, ts(2000), "completely different words entirely here"))
      q.processAllAvailable()
      ms.addData((61L, ts(2001), "other fully distinct vocabulary again"))
      q.processAllAvailable()
      val rowsAfter = q.lastProgress.stateOperators.head.numRowsTotal
      // doc-1/doc-2's 16 shared band buckets were idle > retention →
      // evicted; state is only the two fresh docs' ~16 buckets each
      // (without eviction: 16 shared + 16 + 16 = 48)
      assert(rowsAfter < rows0 + 32,
        s"idle buckets must be evicted: before=$rows0 after=$rowsAfter")
      assert(rowsAfter <= 32, s"state must be only fresh buckets: $rowsAfter")
    } finally q.stop()
  }

  // ---- VERDICT #5: :withRetention through the table kernels ----

  test("stream⋈table retention: key evicted when idle, rejoins on re-upsert") {
    import graft.ast._
    import graft.ast.dsl._
    import graft.compile.{Compiler, StreamEnv}
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val sms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val tms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val env = new StreamEnv(spark, Map(
      "clicks" -> sms.toDF().toDF("k", "ts", "click_id"),
      "profile" -> tms.toDF().toDF("k", "pts", "name")))
    val node = stream(Seq("clicks"),
        Consumed(keys = Seq("k"), eventTime = Some("ts")))
      .leftJoin(table("profile",
        Consumed(keys = Seq("k"), eventTime = Some("pts")),
        orderBy = Some("pts")))
      .withRetention("10 seconds")
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("st_ret").outputMode("append").start()
    try {
      def named(r: Row) = (r.getAs[Long]("k"), r.getAs[String]("name"))
      tms.addData((1L, ts(100), "v1"))
      q.processAllAvailable()
      sms.addData((1L, ts(101), 1001L))
      q.processAllAvailable()
      assert(spark.table("st_ret").collect().map(named).toSet ==
        Set((1L, "v1")), "in-window click enriches with current value")
      // advance both sides' watermarks far past retention (fresh keys),
      // then one more batch so the passed watermark applies the timeouts
      sms.addData((99L, ts(1000), 9000L)); tms.addData((98L, ts(1000), "x"))
      q.processAllAvailable()
      sms.addData((99L, ts(1001), 9001L)); tms.addData((98L, ts(1001), "x"))
      q.processAllAvailable()
      // k=1 was idle past retention → evicted: a new click left-joins NULL
      sms.addData((1L, ts(1002), 1002L))
      q.processAllAvailable()
      val afterEvict = spark.table("st_ret").collect().map(named).toSet
      assert(afterEvict.contains((1L, null)),
        s"evicted key must enrich as null: $afterEvict")
      // re-upsert the profile → the key rejoins with the fresh value
      tms.addData((1L, ts(1003), "v2"))
      q.processAllAvailable()
      sms.addData((1L, ts(1004), 1003L))
      q.processAllAvailable()
      assert(spark.table("st_ret").collect().map(named).toSet
        .contains((1L, "v2")), "re-upserted key joins again")
    } finally q.stop()
  }

  test("table source retention: latestPerKey evicts idle keys from state") {
    import graft.ast._
    import graft.ast.dsl._
    import graft.compile.{Compiler, StreamEnv}
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val tms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val env = new StreamEnv(spark,
      Map("profile" -> tms.toDF().toDF("k", "pts", "name")))
    val node = table("profile",
      Consumed(keys = Seq("k"), eventTime = Some("pts")),
      orderBy = Some("pts"),
      materialized = Some(Materialized(retention = Some("10 seconds"))))
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("tbl_ret").outputMode("append").start()
    try {
      tms.addData((1L, ts(100), "v1"), (2L, ts(100), "w1"))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 2)
      // push the watermark past retention, then apply timeouts
      tms.addData((50L, ts(1000), "x"))
      q.processAllAvailable()
      tms.addData((51L, ts(1001), "y"))
      q.processAllAvailable()
      val rows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rows <= 2, s"idle keys 1,2 must be evicted, state=$rows")
      // an evicted key re-enters as new (upsert re-emits)
      tms.addData((1L, ts(1002), "v9"))
      q.processAllAvailable()
      val emitted = spark.table("tbl_ret").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("name")))
      assert(emitted.count(_ == (1L, "v9")) == 1)
    } finally q.stop()
  }

  // ---- VERDICT #7: bound the approx-distinct estimate's error ----

  test("agg_approx_distinct estimate is within HLL's error bound of exact") {
    // the one gate row that cannot hash-match an oracle (estimate-valued
    // by definition): assert the estimate instead — Spark's default rsd
    // is 5%; HLL++ keeps observed error well inside 3·rsd in practice
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val both = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("est"),
           countDistinct(col("l_partkey")).as("exact"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val est = r.getAs[Long]("est").toDouble
      val exact = r.getAs[Long]("exact").toDouble
      val relErr = math.abs(est - exact) / exact
      assert(relErr <= 0.15,
        s"flag ${r.get(0)}: est=$est exact=$exact relErr=$relErr > 3·rsd")
    }
    // and the gate query itself returns one row per return flag
    val gate = graft.SparkEntry.queries("agg_approx_distinct")(spark, sfDir)
    assert(gate.count() == both.length)
  }

  // ---- VERDICT #8: Avro serde (native expressions over Avro core) ----

  test("avro serde round-trips all supported lanes, incl nested + nulls") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("s", StringType),
      StructField("l", LongType),
      StructField("i", IntegerType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(LongType)),
      StructField("nested", StructType(Seq(
        StructField("x", StringType), StructField("y", DoubleType))))))
    val serde = graft.serde.Serdes.avro(sch)
    val df = Seq(
      ("héllo", 1L, 2, 3.5, true, Array[Byte](1, 2, 3), Seq(1L, 2L),
        ("in", 0.25)),
      (null.asInstanceOf[String], Long.MinValue, -1, -0.0, false,
        Array.empty[Byte], Seq.empty[Long], ("x", Double.NaN))
    ).toDF("s", "l", "i", "d", "b", "bin", "arr", "nested")
    val packed = df.select(struct(df.columns.map(col): _*).as("v"))
    val round = packed.select(serde.decode(serde.encode(col("v"))).as("v"))
      .select(col("v.*"))
    def render(r: Row): String = r.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case v => String.valueOf(v)
    }.mkString(",")
    val a = df.collect().map(render).sorted
    val b = round.collect().map(render).sorted
    assert(a.sameElements(b), s"\nwant ${a.mkString("|")}\ngot  ${b.mkString("|")}")
    // null struct (nullable wire union at the top level)
    val withNull = Seq(Tuple1("k")).toDF("k")
      .select(lit(null).cast(sch).as("v"))
      .select(serde.decode(serde.encode(col("v"))).as("v"))
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("avro gate query round-trips the nation table byte-faithfully") {
    val out = graft.SparkEntry.queries("op_serde_avro")(spark, sfDir)
    val plain = spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
    assert(out.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(out.collect().map(_.toString).toSeq ==
      plain.collect().map(_.toString).toSeq)
  }

  test("windowFunnelStream retention: idle user evicted, restarts funnel") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.ext.Funnel.windowFunnelStream(
      ms.toDF().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", Seq("A", "B"), withinSeconds = 10000L,
      retention = Some("10 seconds"))
    val q = out.writeStream.format("memory").queryName("funnel_ret")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(100), "A"))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1)
      // advance the watermark, then apply timeouts
      ms.addData((50L, ts(1000), "A"))
      q.processAllAvailable()
      ms.addData((51L, ts(1001), "A"))
      q.processAllAvailable()
      val rows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rows <= 2, s"user 1 must be evicted, state=$rows")
      // evicted user restarts: a lone B does NOT chain off the pre-eviction
      // A even though it is within the (huge) chain window
      ms.addData((1L, ts(1002), "B"))
      q.processAllAvailable()
      val emitted = spark.table("funnel_ret").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!emitted.contains((1L, 2L)),
        s"chain must not survive eviction: $emitted")
    } finally q.stop()
  }

  test("assignCells matches a brute-force argmin over the centroids") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = e.where(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val got = graft.ext.Similarity
      .assignCells(e, graft.ext.Similarity.IvfModel(cents))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    vecs.foreach { case (id, v) =>
      val want = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.min._2
      assert(got(id) == want, s"vec $id: got ${got(id)} want $want")
    }
  }

  test("projectOnBasis: components are exact dot products; JL shape holds") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dim = vecs.values.head.length
    val basis = graft.ext.Similarity.gaussianBasis(k = 8, dim = dim)
    val got = graft.ext.Similarity.projectOnBasis(e, basis)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got.values.forall(_.size == 8))
    // each component equals the driver-side dot product exactly
    // (sequential double accumulation on both sides)
    got.foreach { case (id, proj) =>
      val v = vecs(id)
      basis.zipWithIndex.foreach { case (b, i) =>
        val want = b.zip(v).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        assert(proj(i) == want, s"vec $id comp $i: ${proj(i)} != $want")
      }
    }
  }

  test("chunkByChars: overlap, full coverage, short-doc single chunk") {
    val docs = Seq(
      (1L, "a" * 1000),   // 3 chunks at 512/64 (stride 448)
      (2L, "short text"), // 1 chunk
      (3L, "b" * 512)     // exactly one window
    ).toDF("doc_id", "text")
    val out = graft.ext.Pipeline.chunkByChars(docs, chunkChars = 512,
        overlapChars = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1)
    assert(out(1L).length == 3) // ceil((1000-64)/448) = 3
    assert(out(2L).length == 1 && out(2L).head._3 == "short text")
    assert(out(3L).length == 1 && out(3L).head._3.length == 512)
    // consecutive chunks overlap by exactly overlapChars
    val c1 = out(1L).sortBy(_._2).map(_._3)
    assert(c1(0).length == 512 && c1(1).length == 512)
    assert(c1(0).takeRight(64) == c1(1).take(64))
    // coverage: reassembling via stride recovers the document
    val doc = c1.zipWithIndex.map { case (c, i) =>
      if (i == 0) c else c.drop(64)
    }.mkString
    assert(doc == "a" * 1000)
  }

  test("SQL from_avro/to_avro round-trip with a DDL schema literal") {
    graft.functions.VectorFunctions.register(spark)
    Seq(("alpha", 7L), ("beta", -1L)).toDF("name", "x")
      .createOrReplaceTempView("r4_avro_sql")
    val out = spark.sql(
      """SELECT v.name, v.x FROM (
           SELECT from_avro(to_avro(struct(name, x), 'name STRING, x BIGINT'),
                            'name STRING, x BIGINT') AS v
           FROM r4_avro_sql) ORDER BY v.name""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("alpha", 7L), ("beta", -1L)))
    val err = intercept[Exception] {
      spark.sql("SELECT to_avro(struct(name), name) FROM r4_avro_sql").collect()
    }
    assert(err.getMessage.contains("to_avro"))
  }

  test("retention requires event time: clear analysis-time error") {
    import graft.ast._
    import graft.ast.dsl._
    import graft.compile.{Compiler, StreamEnv}
    val ms = MemoryStream[(Long, String)]
    val env = new StreamEnv(spark,
      Map("profile" -> ms.toDF().toDF("k", "name")))
    val node = table("profile", Consumed(keys = Seq("k")),
      orderBy = Some("name"),
      materialized = Some(Materialized(retention = Some("10 seconds"))))
    val err = intercept[IllegalArgumentException] {
      Compiler.compile(node, env)
    }
    assert(err.getMessage.contains("event-time"),
      s"must name the missing requirement: ${err.getMessage}")
  }

  test("stream⋈table retention state survives checkpoint kill/restart") {
    import graft.ast._
    import graft.ast.dsl._
    import graft.compile.{Compiler, StreamEnv}
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val dir = java.nio.file.Files.createTempDirectory("r4_ret_ckpt").toString
    def topo(env: StreamEnv) = Compiler.compile(
      stream(Seq("clicks"),
          Consumed(keys = Seq("k"), eventTime = Some("ts")))
        .leftJoin(table("profile",
          Consumed(keys = Seq("k"), eventTime = Some("pts")),
          orderBy = Some("pts")))
        .withRetention("10 seconds"), env).df
    // phase 1: seed the table state, then kill
    val sms1 = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val tms1 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val env1 = new StreamEnv(spark, Map(
      "clicks" -> sms1.toDF().toDF("k", "ts", "click_id"),
      "profile" -> tms1.toDF().toDF("k", "pts", "name")))
    val q1 = topo(env1).writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      tms1.addData((1L, ts(100), "v1"))
      q1.processAllAvailable()
    } finally q1.stop()
    // phase 2: fresh sources, SAME checkpoint — the restored table state
    // must still enrich, and the restored timeout clock must still evict
    val sms2 = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val tms2 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val env2 = new StreamEnv(spark, Map(
      "clicks" -> sms2.toDF().toDF("k", "ts", "click_id"),
      "profile" -> tms2.toDF().toDF("k", "pts", "name")))
    val q2 = topo(env2).writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      sms2.addData((1L, ts(101), 1001L))
      q2.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("name"))).toSet
      assert(got == Set((1L, "v1")),
        s"restored state must enrich post-restart: $got")
      // the eviction clock survives too: push the watermark, key 1 goes
      sms2.addData((99L, ts(1000), 9L)); tms2.addData((98L, ts(1000), "x"))
      q2.processAllAvailable()
      sms2.addData((99L, ts(1001), 10L)); tms2.addData((98L, ts(1001), "x"))
      q2.processAllAvailable()
      sms2.addData((1L, ts(1002), 1002L))
      q2.processAllAvailable()
      val after = spark.read.parquet(s"$dir/out").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("name"))).toSet
      assert(after.contains((1L, null)),
        s"eviction must fire across the restart boundary: $after")
    } finally q2.stop()
  }

  // ---- signature kernels participate in whole-stage codegen ----

  test("signature expressions codegen as direct Kernels calls (no fallback)") {
    import graft.functions.VectorFunctions._
    // spark.range, not a local Seq: ConvertToLocalRelation would evaluate a
    // projection over LocalRelation eagerly in the driver (no codegen at all)
    val df = spark.range(2)
      .select(col("id"),
              concat(lit("a b c d e f g h "), col("id").cast("string")).as("text"))
      .select(col("id"), simhash60(col("text")).as("sh"),
              word_shingle_hashes(col("text"), 3).as("ws"),
              char_ngrams(col("text"), 3).as("cg"),
              word_bigram_hashes(col("text")).as("bg"),
              word_shingles(col("text"), 2).as("sg"),
              winnow_fingerprint(col("text"), 2, 3).as("wf"))
      .select(minhash_lanes(col("ws"), 8).as("mh"), col("*"))
    val gen = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    for (kernel <- Seq("Kernels.simhash60", "Kernels.wordShingleHashes",
                       "Kernels.charNgrams", "Kernels.wordBigramHashes",
                       "Kernels.wordShingles", "Kernels.winnowFingerprint",
                       "Kernels.minhashLanes"))
      assert(gen.contains(kernel),
        s"$kernel missing from generated code — expression fell out of codegen")
    // and the generated code actually compiles and runs (Janino failures
    // would silently fall back to interpreted eval)
    val row = df.collect().head
    assert(row.getSeq[Long](row.fieldIndex("mh")).length == 8)
    assert(row.getSeq[String](row.fieldIndex("sg")).nonEmpty)
  }

  // ---- real PPM codec behind the multimodal dispatch ----

  test("PPM decode + nearest-neighbor transcode are real; stub still routes") {
    // 4x2 P6 with distinct per-pixel RGB triplets (pixel i = (3i,3i+1,3i+2))
    val px = Array.tabulate(4 * 2 * 3)(_.toByte)
    val header = "P6\n# crafted\n4 2\n255\n".getBytes("US-ASCII")
    val ppm = header ++ px
    val media = Seq((1L, ppm), (2L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val meta = graft.ext.Multimodal.decode(media).orderBy("media_id")
      .select("meta.width", "meta.height", "meta.channels").collect()
    assert(meta(0).getInt(0) == 4 && meta(0).getInt(1) == 2 &&
           meta(0).getInt(2) == 3, s"real PPM decode: ${meta(0)}")
    // non-PPM payload routed to the deterministic stub (len 12 -> 13x1)
    assert(meta(1).getInt(0) == 13 && meta(1).getInt(1) == 1)
    // transcode fit-to-2: scale 0.5 -> 2x1; nearest-neighbor keeps source
    // pixels (0,0) and (2,0) = triplets starting at byte 0 and 6
    val out = graft.ext.Multimodal.transcodePpm(media, maxSide = 2)
      .orderBy("media_id").collect()
    val resized = out(0).getAs[Array[Byte]](1)
    val expect = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      px.slice(0, 3) ++ px.slice(6, 9)
    assert(java.util.Arrays.equals(resized, expect),
      s"resized=${resized.toSeq} expect=${expect.toSeq}")
    // decode of the transcoded payload agrees with its new header
    val meta2 = graft.ext.Multimodal.decode(
        Seq((1L, resized)).toDF("media_id", "payload"))
      .select("meta.width", "meta.height").head
    assert(meta2.getInt(0) == 2 && meta2.getInt(1) == 1)
    // non-PPM rows pass through transcode untouched
    assert(java.util.Arrays.equals(out(1).getAs[Array[Byte]](1),
      "not an image".getBytes("UTF-8")))
  }

  // ---- real concatenated-P6 frame sampling ----

  test("samplePpmFrames walks a concatenated-P6 stream like a demuxer") {
    def frame(shade: Int): Array[Byte] =
      "P6\n2 1\n255\n".getBytes("US-ASCII") ++
        Array.fill(6)(shade.toByte)
    val video = (0 until 5).map(frame).reduce(_ ++ _)
    val media = Seq((3L, video), (4L, "text".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val got = graft.ext.Multimodal.samplePpmFrames(media, stride = 2)
      .orderBy("frame_no").collect()
    assert(got.map(_.getLong(0)).toSet == Set(3L)) // non-PPM yields no rows
    assert(got.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    // each emitted frame is a standalone decodable P6 with its own shade —
    // checked through the public decode stage (width/height) and raw bytes
    got.foreach { r =>
      val bytes = r.getAs[Array[Byte]](2)
      val meta = graft.ext.Multimodal.decode(
          Seq((0L, bytes)).toDF("media_id", "payload"))
        .select("meta.width", "meta.height").head
      assert(meta.getInt(0) == 2 && meta.getInt(1) == 1)
      assert(bytes.drop("P6\n2 1\n255\n".length)
        .forall(_ == r.getInt(1).toByte))
    }
  }

  // ---- real WAV audio lane ----

  test("WAV decode and RMS/ZCR features are real DSP on crafted PCM") {
    // hand-built RIFF/WAVE: PCM-16 mono 8 kHz square wave, amplitude
    // 16384 (= half scale), period 8 samples, 512 samples total
    val n = 512
    val samples = Array.tabulate(n)(i =>
      if (i % 8 < 4) 16384.toShort else (-16384).toShort)
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(n * 2)
    samples.foreach(bb.putShort)
    val wav = bb.array()
    val media = Seq((7L, wav), (8L, "not audio".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val dec = graft.ext.Multimodal.decodeAudio(media).collect()
    assert(dec.length == 1, "non-WAV rows must be dropped by the audio lane")
    assert(dec.head.getLong(0) == 7L && dec.head.getInt(1) == 8000 &&
           dec.head.getInt(2) == 1 && dec.head.getLong(3) == n &&
           math.abs(dec.head.getDouble(4) - n / 8000.0) < 1e-9)
    // square wave at half scale: RMS exactly 0.5; sign flips every 4
    // samples -> 127 flips over 511 comparisons in one 512-sample frame
    val feats = graft.ext.Multimodal.audioFeatures(media, frameSamples = 512)
      .collect()
    assert(feats.length == 1)
    assert(math.abs(feats.head.getDouble(2) - 0.5) < 1e-12,
      s"rms=${feats.head.getDouble(2)}")
    assert(math.abs(feats.head.getDouble(3) - 127.0 / 511) < 1e-12,
      s"zcr=${feats.head.getDouble(3)}")
  }

  // ---- full BPE against a ranked merge table ----

  test("bpe_encode: merge priority, segmentation, codegen, SQL face") {
    import graft.functions.VectorFunctions.bpe_encode
    // ranks: (e,r)=0 merges before (l,o)=1 before (lo,w)=2
    val merges = Seq("e" -> "r", "l" -> "o", "lo" -> "w")
    val df = spark.range(1).select(lit("lower lowers ab12!").as("text"))
      .select(bpe_encode(col("text"), merges).as("toks"))
    val got = df.collect().head.getSeq[String](0)
    // "lower" -> [low, er]; " lowers" -> [" ", low, er, s] (space symbol
    // unmerged — no space merges in the table); " ab12!" segments into
    // letter/digit/punct pre-tokens, none merged
    assert(got == Seq("low", "er", " ", "low", "er", "s",
                      " ", "a", "b", "1", "2", "!"), got)
    // participates in whole-stage codegen via the static kernel
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      spark.range(2).select(bpe_encode(concat(lit("lower "),
        col("id").cast("string")), merges).as("t"))
        .queryExecution.executedPlan)
    assert(gen.contains("Kernels.bpeEncode"),
      "bpe_encode fell out of whole-stage codegen")
    // SQL face: literal array(struct(...)) merge table
    graft.functions.VectorFunctions.register(spark)
    val viaSql = spark.sql("""SELECT bpe_encode('lower',
      array(struct('e','r'), struct('l','o'), struct('lo','w'))) AS t""")
      .head.getSeq[String](0)
    assert(viaSql == Seq("low", "er"), viaSql)
    // exact count operator face
    val n = spark.range(1).select(graft.ext.TextAnalysis
      .bpeTokenCountExact(lit("lower lowers"), merges)).head.getLong(0)
    assert(n == 6L)
  }

  // ---- ADVICE #2: Bloom incremental dedup auto-sizes from the corpus ----

  test("incrementalExactBloom: derives filter size from corpus when unset") {
    val corpus = (1 to 2000).map(i => (i.toLong, s"corpus doc $i"))
      .toDF("doc_id", "text")
    val incoming = ((1 to 50).map(i => (10000L + i, s"corpus doc $i")) ++ // dups
      (1 to 50).map(i => (20000L + i, s"fresh doc $i"))) // new
      .toDF("doc_id", "text")
    val out = graft.ext.Dedup.incrementalExactBloom(incoming, corpus)
      .select("doc_id").as[Long].collect().toSet
    // no false negatives ever: every true dup dropped
    assert(out.intersect((10001L to 10050L).toSet).isEmpty)
    // with a correctly sized filter at fpp=1e-3, 50 new docs all survive
    // with probability ~0.95; deterministic here (fixed hash seeds)
    assert(out.size >= 49, s"auto-sized filter dropped new docs: ${out.size}")
  }

  // ---- MMR diverse selection ----

  test("mmrSelect: greedy picks the diverse candidate over the redundant one") {
    // 2-D fixture (a must NOT be parallel to q: if it were, cos(c, a) would
    // equal rel(c) for every c and all step-2 scores would tie). a leads on
    // relevance, b is a near-copy of a (cos(a,b) ~0.9999), c is moderately
    // relevant but diverse. At lambda=0.2: score(b) ~0.2*0.992-0.8*0.9999
    // = -0.601 < score(c) ~0.2*0.6-0.8*0.685 = -0.428 -> c ranks 2nd.
    val corpus = Seq(
      (10L, Array(0.9f, 0.1f)),   // a: rel ~0.994
      (11L, Array(0.89f, 0.11f)), // b: rel ~0.992, redundant with a
      (12L, Array(0.6f, 0.8f))    // c: rel 0.6, diverse
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = graft.ext.Similarity
      .mmrSelect(corpus, queries, k = 3, shortlist = 10, lambda = 0.2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(10L, 12L, 11L), s"selection order: $got")
    // plain relevance top-3 would be (a, b, c) — MMR demoted the near-copy
    val rel = graft.ext.Similarity
      .bruteForceTopK(corpus, queries, k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(rel == Seq(10L, 11L, 12L), s"relevance order: $rel")
  }

  test("mmr_select: id types pass through; result collect-order independent") {
    val corpus = Seq(
      ("doc-a", Array(1.0f, 0.0f)), ("doc-b", Array(0.99f, 0.14f)),
      ("doc-c", Array(0.0f, 1.0f)), ("doc-d", Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val queries = Seq(("q", Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    def run(c: org.apache.spark.sql.DataFrame) = graft.ext.Similarity
      .mmrSelect(c, queries, k = 3, shortlist = 10, lambda = 0.5,
        idCol = "vec_id")
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getString(2))).toSeq
    val base = run(corpus)
    assert(base.map(_._2).head == "doc-a") // most relevant first
    assert(base.map(_._2).toSet.size == 3)
    // different physical ordering/partitioning → identical selection
    assert(run(corpus.repartition(7).sortWithinPartitions("embedding")) ==
      base)
  }

  // ---- plan-shape guards for the round-4 operators' scale claims ----

  test("profile plans exactly one scan; dup-stats and MMR shuffle narrowly") {
    val docs = Seq((1L, "a b c", "en"), (2L, "d e f", "de"))
      .toDF("doc_id", "text", "lang")
    // profile: the whole report from ONE pass over the input
    val profPlan = graft.ext.Pipeline.profile(docs, Seq("doc_id", "lang"))
      .queryExecution.executedPlan.toString
    assert(!profPlan.contains("CartesianProduct"))
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
                   (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val parquetDir = java.nio.file.Files
      .createTempDirectory("planguard").toString
    docs.write.mode("overwrite").parquet(s"$parquetDir/docs")
    val fileDocs = spark.read.parquet(s"$parquetDir/docs")
    val prof = graft.ext.Pipeline.profile(fileDocs, Seq("doc_id", "lang", "text"))
    prof.collect()
    // count scans in the FINAL adaptive plan only (toString appends the
    // initial plan as a second section, double-counting every node)
    val finalPlan = prof.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalPlan).length
    assert(scans == 1, s"profile must read the table once, saw $scans scans")
    // dup-stats: shuffle keys are the 8-byte shingle hashes, never text
    val dupPlan = graft.ext.TextAnalysis
      .dupShingleStats(fileDocs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!dupPlan.contains("CartesianProduct") &&
           !dupPlan.contains("BroadcastNestedLoopJoin"))
    assert("Exchange hashpartitioning\\(text".r
      .findFirstIn(dupPlan).isEmpty, "corpus text must not be a shuffle key")
    // MMR: diversity pass is a bounded collect_list aggregation (object
    // hash agg), never a pairwise join of the corpus against itself
    val mmrPlan = graft.ext.Similarity
      .mmrRerank(graft.ext.Similarity.bruteForceTopK(vecs,
        vecs.where(col("vec_id") === 1L), k = 2), vecs, k = 2)
      .queryExecution.executedPlan.toString
    assert(mmrPlan.contains("ObjectHashAggregate"),
      s"expected collect_list object agg in:\n$mmrPlan")
    assert(mmrPlan.contains("mmr_select"))
  }

  test("plan shapes: classifier is shuffle-free; mixture is one broadcast join") {
    val docs = Seq((1L, "a b", "en"), (2L, "c d", "de"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("planguard2").toString
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val fileDocs = spark.read.parquet(s"$dir/docs")
    // classifier inference: a pure map — zero exchanges, zero joins; the
    // weight table must ride as a reference, never a join relation
    val clfPlan = fileDocs.select(graft.ext.TextAnalysis
        .classifierScore(col("text"), Seq("a" -> 0.5), bias = 0.0))
      .queryExecution.executedPlan.toString
    assert(!clfPlan.contains("Exchange") && !clfPlan.contains("Join"),
      s"classifier must be shuffle/join-free:\n$clfPlan")
    // temperature resample: the rate table joins BROADCAST (tiny #keys
    // aggregate), never shuffling the corpus for the join; replication is
    // a Generate (narrow explode), not any kind of self-join
    val mixed = graft.ext.Pipeline.sampleToTemperature(
      fileDocs, "lang", "doc_id", alpha = 0.5, target = 10L)
    mixed.collect()
    val mixPlan = mixed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(mixPlan.contains("BroadcastHashJoin"),
      s"rate join must broadcast:\n$mixPlan")
    assert(!mixPlan.contains("SortMergeJoin") &&
           !mixPlan.contains("CartesianProduct"))
    assert(mixPlan.contains("Generate explode"),
      "replication must be a narrow explode")
  }

  // ---- degenerate inputs: the operator families must not throw ----

  test("empty and undersized inputs degrade gracefully across families") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // dedup: empty corpus → no pairs, no survivors, empty clusters
    assert(graft.ext.Dedup.minhashPairs(noDocs, "text", "doc_id").count() == 0)
    assert(graft.ext.Dedup.survivors(noDocs,
      graft.ext.Dedup.ngramJaccardPairs(noDocs, "text", "doc_id"),
      "doc_id").count() == 0)
    // text analysis: empty corpus → empty stats
    assert(graft.ext.TextAnalysis.dupShingleStats(noDocs, "text", "doc_id")
      .count() == 0)
    assert(graft.ext.TextAnalysis.tfidfTopTerms(noDocs, "text", "doc_id")
      .count() == 0)
    // profiling an empty frame: one row per column, zero counts, null bounds
    val p = graft.ext.Pipeline.profile(noDocs, Seq("doc_id", "text"))
      .orderBy("col_name").collect()
    assert(p.length == 2 && p.forall(r =>
      r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0 &&
      r.isNullAt(4) && r.isNullAt(5)))
    // sampling: n larger than any stratum returns the whole stratum
    val tiny = Seq(("en", 1L), ("en", 2L)).toDF("lang", "doc_id")
    assert(graft.ext.Pipeline.sampleExactPerKey(tiny, Seq("lang"), 10,
      "doc_id").count() == 2)
    // similarity: empty queries and k > candidates both stay well-formed
    val few = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(graft.ext.Similarity.bruteForceTopK(few, noVecs, k = 5)
      .count() == 0)
    val mm = graft.ext.Similarity.mmrSelect(few,
      Seq((9L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      k = 10, shortlist = 25)
    assert(mm.count() == 2) // only 2 candidates exist; ranks 1..2
  }

  // ---- streaming exact-n sampling ----

  test("sampleExactPerKeyStream changelog replays to the batch sample") {
    // hash-priority reservoir: after ANY prefix, adds − evictions must
    // equal the batch operator over the rows seen so far (order-free)
    val all = (1 to 60).map(i => (if (i % 2 == 0) "en" else "de", i.toLong))
    val ms = MemoryStream[(String, Long)]
    val sampled = graft.ext.Pipeline.sampleExactPerKeyStream(
      ms.toDF().toDF("lang", "doc_id"), Seq("lang"), 5, "doc_id")
    val q = sampled.writeStream.format("memory").queryName("res_sample")
      .outputMode("append").start()
    try {
      all.grouped(20).foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val events = spark.table("res_sample").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val live = events.collect { case (k, id, true) => (k, id) }.toSet --
      events.collect { case (k, id, false) => (k, id) }.toSet
    val batch = graft.ext.Pipeline.sampleExactPerKey(
        all.toDF("lang", "doc_id"), Seq("lang"), 5, "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(live == batch, s"live=$live batch=$batch")
    assert(live.count(_._1 == "en") == 5 && live.count(_._1 == "de") == 5)
    // every eviction was preceded by an add (changelog well-formed)
    val added = events.collect { case (k, id, true) => (k, id) }.toSet
    assert(events.collect { case (k, id, false) => (k, id) }
      .forall(added.contains), "eviction without a prior add")
  }

  // ---- corpus duplication diagnostic ----

  test("dupShingleStats: shared, unique, and short-doc shingles") {
    val docs = Seq(
      (1L, "a b c d"), // shingles {a b c, b c d}
      (2L, "a b c x"), // shares "a b c" with doc 1
      (3L, "q r")      // < k tokens → single joined shingle, unshared
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.dupShingleStats(docs, "text", "doc_id")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0)), got.toSeq)
  }

  // ---- one-scan column profiling ----

  test("profile: nulls, distincts, numeric (not lexicographic) min/max") {
    val df = Seq[(java.lang.Long, String)](
      (9L, "x"), (10L, null), (10L, "y")
    ).toDF("id", "s")
    val got = graft.ext.Pipeline.profile(df, Seq("id", "s"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getString(4), r.getString(5)))
    assert(got.toSeq == Seq(
      // numeric min/max: 9 < 10 numerically (lexicographic would flip it)
      ("id", 3L, 3L, 2L, "9", "10"),
      ("s", 3L, 2L, 2L, "x", "y")), got.toSeq)
    // approx tier: same single-scan plan, HLL instead of Expand; counts
    // exact at this cardinality
    val approx = graft.ext.Pipeline.profile(df, Seq("id"), exact = false)
      .collect().head
    assert(approx.getLong(3) == 2L)
  }

  // ---- temperature-scaled mixture resampling ----

  test("mixtureWeights: α=1 is the natural distribution, α<1 flattens") {
    val df = (Seq.fill(81)("en") ++ Seq.fill(9)("fr") ++ Seq("zh"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("doc_id", "lang")
    def w(alpha: Double): Map[String, (Double, Double)] =
      graft.ext.Pipeline.mixtureWeights(df, "lang", alpha).collect()
        .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val nat = w(1.0)
    nat.foreach { case (_, (p, q)) => assert(math.abs(p - q) < 1e-12) }
    assert(math.abs(nat.values.map(_._2).sum - 1.0) < 1e-12)
    val cool = w(0.5) // q ∝ sqrt(n): 81/9/1 → 9/3/1 ratios
    assert(math.abs(cool("en")._2 / cool("zh")._2 - 9.0) < 1e-9)
    assert(math.abs(cool("en")._2 / cool("fr")._2 - 3.0) < 1e-9)
    // flattening: head share shrinks, tail share grows, natural p unchanged
    assert(cool("en")._2 < nat("en")._2 && cool("zh")._2 > nat("zh")._2)
    assert(math.abs(cool("en")._1 - 81.0 / 91) < 1e-12)
  }

  test("mixtureWeights: mass column weights by corpus mass, not row count") {
    // equal row counts, 4:1 char mass — row-count weighting sees a
    // balanced corpus, mass weighting must see the 4:1 skew
    val df = Seq((1L, "en", 400L), (2L, "en", 400L),
                 (3L, "fr", 100L), (4L, "fr", 100L))
      .toDF("doc_id", "lang", "n_chars")
    val byRows = graft.ext.Pipeline.mixtureWeights(df, "lang", 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(byRows("en") == 0.5 && byRows("fr") == 0.5)
    val byMass = graft.ext.Pipeline
      .mixtureWeights(df, "lang", 1.0, mass = col("n_chars"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3)))
      .toMap
    assert(byMass("en") == (800.0, 0.8) && byMass("fr") == (200.0, 0.2),
      byMass.toString)
  }

  test("sampleToTemperature: deterministic epoch-tagged up/downsampling") {
    val df = (Seq.fill(400)("en") ++ Seq.fill(40)("fr") ++ Seq.fill(10)("zh"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("doc_id", "lang")
    val out = graft.ext.Pipeline
      .sampleToTemperature(df, "lang", "doc_id", alpha = 0.5, target = 300L)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // deterministic: a second run is bit-identical
    val again = graft.ext.Pipeline
      .sampleToTemperature(df, "lang", "doc_id", alpha = 0.5, target = 300L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // (id, epoch) never repeats; every id came from the input
    assert(rows.distinct.length == rows.length)
    val byLang = rows.groupBy(_._1).view.mapValues(_.length).toMap
    // q ∝ sqrt(n): sqrt(400,40,10)=20,6.32,3.16 → rates ≈ 300·q/n =
    // 0.508, 1.606, 3.212 — en downsamples, fr/zh upsample
    assert(byLang("en") < 400, s"en must downsample, got ${byLang("en")}")
    assert(byLang("fr") > 40 && byLang("zh") > 10,
      s"tail langs must upsample: $byLang")
    // every row replicates at least floor(rate) times: zh ≥ 3 epochs each
    val zhEpochs = rows.filter(_._1 == "zh").groupBy(_._2).view
      .mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(zhEpochs.size == 10 && zhEpochs.values.forall(es =>
      es.take(3) == Seq(0, 1, 2)), s"zh epochs: $zhEpochs")
    // budget lands close: expectation is exactly 300, tolerance for the
    // per-row fractional draws (binomial noise, ~3σ ≈ 30 at these counts)
    assert(math.abs(rows.length - 300) < 45, s"total ${rows.length}")
  }

  // ---- fastText-style linear classifier inference ----

  test("classifierScore: exact fold, unknowns, empty text, codegen, SQL face") {
    import graft.ext.TextAnalysis
    val w = Seq("good" -> 0.5, "bad" -> -0.75, "the" -> 0.0625)
    val got = Seq((1L, "the good good nope"), (2L, "bad"), (3L, ""),
                  (4L, "zz zz")).toDF("id", "text")
      .select(col("id"),
        TextAnalysis.classifierScore(col("text"), w, bias = 0.125).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.125 + 0.0625 + 0.5 + 0.5) // repeats each count
    assert(got(2L) == 0.125 - 0.75)
    assert(got(3L) == 0.125)                      // empty text -> bias only
    assert(got(4L) == 0.125)                      // all-unknown -> bias only
    // prob face: zero margin is exactly p = 0.5
    val p = Seq("zz").toDF("text")
      .select(TextAnalysis.classifierProb(col("text"), w)).head.getDouble(0)
    assert(math.abs(p - 0.5) < 1e-12)
    // participates in whole-stage codegen via the shared static kernel
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      spark.range(2).select(TextAnalysis.classifierScore(
        concat(lit("good "), col("id").cast("string")), w).as("s"))
        .queryExecution.executedPlan)
    assert(gen.contains("Kernels.linearScore"),
      "linear_score fell out of whole-stage codegen")
    // SQL face: literal array(struct(token, weight)) — double and decimal
    // literal tables both fold
    graft.functions.VectorFunctions.register(spark)
    val viaSql = spark.sql(
      """SELECT linear_score(array('good', 'bad', 'zz'),
           array(struct('good', CAST(0.5 AS DOUBLE)), struct('bad', -0.75)),
           0.25) AS s""").head.getDouble(0)
    assert(viaSql == 0.25 + 0.5 - 0.75)
    val viaDec = spark.sql(
      """SELECT linear_score(array('a', 'a'), array(struct('a', 0.5)), 0.0)
           AS s""").head.getDouble(0)
    assert(viaDec == 1.0)
    // non-literal weight table is an analysis-time error, not a CCE
    val err = intercept[Exception](spark.sql(
      """SELECT linear_score(array('a'), array(struct(text, 0.5)), 0.0)
         FROM VALUES ('a') AS t(text)""").collect())
    assert(err.getMessage.contains("linear_score"), err.getMessage)
  }

  test("classifierScoreHashed: kernel agrees with a composed HOF formulation") {
    import graft.ext.{Pipeline, TextAnalysis}
    val w = Seq(0.5, -0.25, 0.125, -0.5, 0.375, -0.125, 0.0625, -0.375)
    val texts = Seq((1L, "alpha beta gamma alpha"), (2L, "  delta  "),
                    (3L, ""), (4L, "x y z w v u t s r q p"))
      .toDF("id", "text")
    // independent formulation from existing primitives: explicit filtered
    // tokens -> portableHash60 mod 8 -> literal-array lookup -> fold
    val warr = array(w.map(lit): _*)
    val composed = texts.select(col("id"), aggregate(
      transform(filter(split(col("text"), " "), t => t =!= ""),
        t => element_at(warr,
          (pmod(Pipeline.portableHash60(t), lit(8)) + 1).cast("int"))),
      lit(0.25), (acc, x) => acc + x).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val kernel = texts.select(col("id"),
        TextAnalysis.classifierScoreHashed(col("text"), w, bias = 0.25).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kernel == composed, s"kernel $kernel vs composed $composed")
    assert(kernel(3L) == 0.25) // empty text -> bias
    // stays in whole-stage codegen
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      spark.range(2).select(TextAnalysis.classifierScoreHashed(
        concat(lit("tok "), col("id").cast("string")), w).as("s"))
        .queryExecution.executedPlan)
    assert(gen.contains("Kernels.linearScoreHashed"),
      "linear_score_hashed fell out of whole-stage codegen")
    // SQL face with a literal double array
    graft.functions.VectorFunctions.register(spark)
    val viaSql = spark.sql(
      """SELECT linear_score_hashed(array('alpha', ''),
           array(CAST(0.5 AS DOUBLE), -0.25), 0.125) AS s""").head.getDouble(0)
    // expected bucket from the md5-derived 60-bit hash, recomputed here
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha".getBytes("UTF-8"))
    val h60 = (0 until 8).foldLeft(0L)((v, i) => (v << 8) | (dig(i) & 0xffL)) >>> 4
    assert(viaSql == 0.125 + (if (h60 % 2 == 0) 0.5 else -0.25))
  }

  test("Pipeline ops refuse inputs whose columns they would clobber") {
    val withSplit = Seq((1L, "a", "x")).toDF("doc_id", "split", "text")
    val e1 = intercept[IllegalArgumentException](
      graft.ext.Pipeline.splitByHash(withSplit, "doc_id",
        Seq("train" -> 1.0)))
    assert(e1.getMessage.contains("split"), e1.getMessage)
    val withEpoch = Seq((1L, "en", 0)).toDF("doc_id", "lang", "epoch")
    val e2 = intercept[IllegalArgumentException](
      graft.ext.Pipeline.sampleToTemperature(withEpoch, "lang", "doc_id",
        alpha = 0.5, target = 10L))
    assert(e2.getMessage.contains("epoch"), e2.getMessage)
  }

  test("classifierScore: streaming face scores identically to batch") {
    import graft.ext.TextAnalysis
    val w = Seq("good" -> 0.5, "bad" -> -0.75)
    val texts = Seq((1L, "good good"), (2L, "bad x"), (3L, ""))
    val score = TextAnalysis.classifierScore(col("text"), w, bias = 0.25)
    val batch = texts.toDF("id", "text").select(col("id"), score.as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // the classifier is a stateless narrow map, so it runs unmodified in
    // a streaming projection — no watermark, no state
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "text").select(col("id"), score.as("s"))
      .writeStream.format("memory").queryName("clf_stream")
      .outputMode("append").start()
    try {
      ms.addData(texts: _*)
      q.processAllAvailable()
      val streamed = spark.table("clf_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }
}
