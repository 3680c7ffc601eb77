package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Layout}

/** Round-6 hardening specs: hot-bucket cap in the batch pair miner,
  * null-blocking-key semantics in record linkage, in-place compaction
  * guard, banded-Levenshtein unbounded budget.
  */
class Round6Spec extends SparkSpecBase {

  import spark.implicits._

  // ---- bucketPairs hot-bucket cap ----

  test("bucketPairs: small buckets emit full n^2 pairs (cap untouched)") {
    val b = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 7L), (1L, 9L))
      .toDF("band_key", "id")
    val got = Dedup.bucketPairs(b, Seq("band_key"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (7L, 9L)))
  }

  test("bucketPairs: a mega-bucket emits O(n) star pairs to the min id, " +
    "not n^2, and never materializes the bucket in one row") {
    val n = 100000 // 10^5 ids in ONE bucket: n^2 pairs would be 10^10
    val b = spark.range(n).select(lit(0L).as("band_key"), col("id"))
    val pairs = Dedup.bucketPairs(b, Seq("band_key"))
    assert(pairs.count() == n - 1) // star: min id paired with every other
    val sample = pairs.orderBy("id_b").limit(3).as[(Long, Long)]
      .collect().toSeq
    assert(sample == Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    // and the plan contains no collect_set over the hot lane's rows —
    // the star lane is a narrow projection after the window
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected window-tagged plan:\n$plan")
  }

  test("bucketPairs: star pairs preserve the connected component " +
    "(clusters over a hot bucket still resolve to one cluster)") {
    val n = 5000
    val cap = 100 // force the star lane with a small cap
    val b = spark.range(n).select(lit(0L).as("band_key"), col("id"))
    val pairs = Dedup.bucketPairs(b, Seq("band_key"), cap = cap)
    assert(pairs.count() == n - 1)
    // every member connects to min id 0 -> one component
    assert(pairs.select("id_a").distinct().as[Long].collect().toSeq
      == Seq(0L))
  }

  test("bucketPairs: mixed small + hot buckets, both lanes in one pass") {
    val hot = spark.range(50).select(lit(0L).as("band_key"), col("id"))
    val small = Seq((1L, 100L), (1L, 101L)).toDF("band_key", "id")
    val pairs = Dedup.bucketPairs(hot.union(small), Seq("band_key"), cap = 10)
      .as[(Long, Long)].collect().toSet
    assert(pairs.size == 49 + 1)
    assert(pairs.contains((100L, 101L)))
    assert(pairs.filter(_._1 == 0L).size == 49)
  }

  // ---- recordLinkage null blocking keys ----

  test("recordLinkage: records with a null blocking key match nothing " +
    "(equality-join semantics, no shared null block)") {
    val recs = Seq(
      (1L, "b1", "alpha beta gamma"),
      (2L, "b1", "alpha beta gamma"),
      (3L, null.asInstanceOf[String], "delta epsilon zeta"),
      (4L, null.asInstanceOf[String], "delta epsilon zeta"),
      (5L, null.asInstanceOf[String], "delta epsilon zeta")
    ).toDF("rid", "blk", "name")
    val pairs = Dedup.recordLinkage(recs, "rid", Seq("blk"),
      fuzzyFields = Seq("name" -> 1.0), exactFields = Nil, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // 3,4,5 are identical but have null keys: they must NOT pair
    assert(pairs == Set((1L, 2L)))
  }

  // ---- bloom-indexed layout ----

  test("writeBloomIndexed: bloom filters exist for requested columns " +
    "only, and answer membership correctly") {
    import graft.ext.Layout
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom")
    val df = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("doc_id", "v")
    Layout.writeBloomIndexed(df, s"$dir/t", Seq("doc_id"),
      expectedNdv = 2000, numFiles = 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(s"$dir/t").getFileSystem(conf)
    val file = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/t"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val block = reader.getRowGroups.get(0)
      val byName = block.getColumns.toArray
        .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata
          .ColumnChunkMetaData])
        .map(c => c.getPath.toDotString -> c).toMap
      val bloomReader = reader.getBloomFilterDataReader(block)
      val idBloom = bloomReader.readBloomFilter(byName("doc_id"))
      assert(idBloom != null, "doc_id must carry a bloom filter")
      assert(bloomReader.readBloomFilter(byName("v")) == null,
        "v must NOT carry a bloom filter")
      // membership: present ids hit; a sweep of absent ids mostly misses
      def hash(v: Long) = idBloom.hash(java.lang.Long.valueOf(v))
      assert((1L to 100L).forall(v => idBloom.findHash(hash(v))))
      val falsePos = (100000L to 100999L).count(v =>
        idBloom.findHash(hash(v)))
      assert(falsePos < 100, s"bloom FPP implausibly high: $falsePos/1000")
    } finally reader.close()
    // and Spark still reads the data back intact
    assert(spark.read.parquet(s"$dir/t").count() == 2000)
  }

  // ---- Layout.compact in-place guard ----

  test("compact refuses outPath == inPath (any spelling) and leaves " +
    "the source intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
    val src = s"$dir/src"
    spark.range(100).write.parquet(src)
    val relSrc = {
      val cwd = java.nio.file.Paths.get("").toAbsolutePath
      cwd.relativize(java.nio.file.Paths.get(src)).toString
    }
    for (alias <- Seq(src, s"file:$src", relSrc)) {
      val e = intercept[IllegalArgumentException] {
        Layout.compact(spark, src, alias, targetBytes = 1L << 20)
      }
      assert(e.getMessage.contains("in-place"))
    }
    assert(spark.read.parquet(src).count() == 100) // source survived
    assert(Layout.compact(spark, src, s"$dir/out", 1L << 20) >= 1)
  }

  // ---- PageRank at depth ----

  test("pageRank: 30 iterations complete with truncated lineage and " +
    "exact results (ring invariant holds at depth)") {
    import graft.ext.Graph
    // directed ring: every node keeps rank exactly 1.0 forever
    val n = 50
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val ranks = Graph.pageRank(ring, "src", "dst", iters = 30)
    val vals = ranks.select("rank_ppm").distinct().as[Long].collect().toSeq
    assert(vals == Seq(1000000L))
    // lineage was truncated: the final plan does not chain 30 joins
    // (a LogicalRDD from the localCheckpoint sits in the lineage)
    val plan = ranks.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD"),
      s"expected checkpoint-truncated lineage:\n$plan")
    graft.ext.OpCaches.releaseAll()
  }

  test("pageRank: checkpointing cannot change ranks (3-iter gate depth, " +
    "checkpointEvery 1 vs no checkpoint)") {
    import graft.ext.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    def run(ce: Int) =
      Graph.pageRank(edges, "src", "dst", iters = 3, checkpointEvery = ce)
        .orderBy("node").as[(Long, Long)].collect().toSeq
    val a = run(1)
    val b = run(100)
    assert(a == b)
    graft.ext.OpCaches.releaseAll()
  }

  // ---- multi-pass record linkage ----

  test("recordLinkageMultiPass: exact-key pass + sorted-neighborhood " +
    "pass resolve an entity single-pass blocking misses") {
    import graft.ext.Dedup
    // 1/2 share an exact postcode block; 3/4 have typo'd postcodes
    // (different blocks!) but adjacent names; 5 is unrelated
    val recs = Seq(
      (1L, "10115", "ada lovelace mathematician", "ada lovelace"),
      (2L, "10115", "ada lovelace mathematician", "ada b lovelace"),
      (3L, "94043", "grace hopper compiler pioneer", "grace hopper"),
      (4L, "94O43", "grace hopper compiler pioneer", "grace hopperr"),
      (5L, "70000", "unrelated zzz record entirely", "zzz unrelated")
    ).toDF("rid", "postcode", "bio", "name")
    val keyed = Dedup.recordLinkageMultiPass(recs, "rid",
      Seq(Dedup.KeyBlocking(Seq("postcode"))),
      fuzzyFields = Seq("bio" -> 1.0), exactFields = Nil, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(keyed == Set((1L, 2L))) // 3/4 missed: typo'd key
    val multi = Dedup.recordLinkageMultiPass(recs, "rid",
      Seq(Dedup.KeyBlocking(Seq("postcode")),
        Dedup.NeighborhoodBlocking("name", windowSize = 1)),
      fuzzyFields = Seq("bio" -> 1.0), exactFields = Nil, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(multi == Set((1L, 2L), (3L, 4L)))
    graft.ext.OpCaches.releaseAll()
  }

  test("recordLinkageMultiPass: overlapping passes dedupe candidates " +
    "(each surviving pair appears once)") {
    import graft.ext.Dedup
    val recs = Seq(
      (1L, "b", "alpha beta gamma"),
      (2L, "b", "alpha beta gamma"))
      .toDF("rid", "blk", "bio")
    val out = Dedup.recordLinkageMultiPass(recs, "rid",
      Seq(Dedup.KeyBlocking(Seq("blk")), Dedup.KeyBlocking(Seq("blk")),
        Dedup.NeighborhoodBlocking("bio", windowSize = 3)),
      fuzzyFields = Seq("bio" -> 1.0), exactFields = Nil, threshold = 0.5)
      .collect()
    assert(out.length == 1)
    graft.ext.OpCaches.releaseAll()
  }

  test("recordLinkage delegates to the single-pass form unchanged " +
    "(wrapper equivalence)") {
    import graft.ext.Dedup
    val recs = Seq(
      (1L, "b1", "alpha beta gamma"),
      (2L, "b1", "alpha beta delta"),
      (3L, "b2", "epsilon zeta eta"))
      .toDF("rid", "blk", "bio")
    val viaWrapper = Dedup.recordLinkage(recs, "rid", Seq("blk"),
      Seq("bio" -> 1.0), Nil, threshold = 0.4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val viaMulti = Dedup.recordLinkageMultiPass(recs, "rid",
      Seq(Dedup.KeyBlocking(Seq("blk"))), Seq("bio" -> 1.0), Nil,
      threshold = 0.4)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(viaWrapper == viaMulti && viaWrapper.nonEmpty)
    graft.ext.OpCaches.releaseAll()
  }

  // ---- benchmark decontamination ----

  test("word_ngram_hashes60: distinct sorted portable hashes; empty " +
    "below k; equals the md5 form of each gram") {
    import graft.functions.VectorFunctions.word_ngram_hashes60
    val got = Seq("a b c d", "x y", "a b c a b c")
      .toDF("t")
      .select(word_ngram_hashes60(col("t"), 3).as("g"))
      .as[Seq[Long]].collect().toSeq
    // reference: portableHash60 of each space-joined 3-gram
    def ref(s: String): Seq[Long] = {
      val toks = s.split(" ")
      if (toks.length < 3) Seq.empty
      else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
        .map(g => Seq(g).toDF("x")
          .select(graft.ext.Pipeline.portableHash60(col("x")))
          .as[Long].head()).sorted
    }
    assert(got(0) == ref("a b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == ref("a b c a b c")) // distinct: repeats collapse
  }

  test("decontaminate: overlap drops, short docs immune, threshold " +
    "honored, report counts distinct shared grams") {
    import graft.ext.Dedup
    val train = Seq(
      (1L, "the quick brown fox jumps over lazy dogs"), // shares 13.. no: n=4 here
      (2L, "completely unrelated training content nothing shared here"),
      (3L, "too short"), // < n tokens: no grams, immune
      (4L, "the quick brown fox appears once more today")
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "watch the quick brown fox jumps over everything")
    ).toDF("doc_id", "text")
    val report = Dedup.contaminationPairs(train, evalSet, "text", "doc_id",
        n = 4).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet
    // doc 1 shares "the quick brown fox", "quick brown fox jumps" and
    // "brown fox jumps over"; doc 4 shares only "the quick brown fox"
    assert(report == Set((1L, 100L, 3L), (4L, 100L, 1L)))
    val strict = Dedup.decontaminate(train, evalSet, "text", "doc_id",
        n = 4).select("doc_id").as[Long].collect().sorted.toSeq
    assert(strict == Seq(2L, 3L))
    // threshold: tolerate a single shared gram
    val loose = Dedup.decontaminate(train, evalSet, "text", "doc_id",
        n = 4, maxSharedNgrams = 1L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(loose == Seq(2L, 3L, 4L))
  }

  test("decontaminate: plan broadcasts the eval side; training text " +
    "never shuffles into the pair join") {
    import graft.ext.Dedup
    val train = (1 to 50).map(i => (i.toLong, s"alpha beta gamma delta v$i"))
      .toDF("doc_id", "text")
    val evalSet = Seq((0L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val plan = Dedup.contaminationPairs(train, evalSet, "text", "doc_id",
      n = 4).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast pair join:\n$plan")
  }

  // ---- streaming contamination flag ----

  test("contaminationFlag: flags every exactly-contaminated doc " +
    "(recall 1) and works unchanged on a streaming frame") {
    import graft.ext.Dedup
    val train = Seq(
      (1L, "the quick brown fox jumps over lazy dogs"),
      (2L, "completely unrelated training content nothing shared here"),
      (3L, "too short"),
      (4L, null.asInstanceOf[String]) // null crawl text: no grams, clean
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "watch the quick brown fox jumps over everything")
    ).toDF("doc_id", "text")
    val flagged = Dedup.contaminationFlag(train, evalSet, "text",
        "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flagged(1L)) // shares 4-grams
    assert(!flagged(3L)) // < n tokens: no grams, never contaminated
    assert(!flagged(4L)) // null text must not crash nor flag
    // recall 1 vs the exact join (Bloom can only over-flag)
    val exact = Dedup.contaminationPairs(train, evalSet, "text",
      "doc_id", n = 4).select("train_id").as[Long].collect().toSet
    exact.foreach(id => assert(flagged(id), s"exactly-contaminated $id " +
      "must be flagged"))
    // the same operator on a STREAM (stateless narrow map: no state,
    // no shuffle, no join)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = Dedup.contaminationFlag(ms.toDF().toDF("doc_id", "text"),
        evalSet, "text", "doc_id", n = 4)
      .writeStream.format("memory").queryName("contam_stream").start()
    try {
      ms.addData((1L, "the quick brown fox jumps over lazy dogs"),
        (2L, "completely unrelated training content nothing shared here"))
      q.processAllAvailable()
      val got = spark.table("contam_stream")
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got(1L) && !got(2L))
      val prog = q.lastProgress
      assert(prog.stateOperators.isEmpty, "flag must be stateless")
    } finally q.stop()
  }

  // ---- dedup audit report ----

  test("dedupReport: histogram + singleton row; n_docs sums to corpus; " +
    "n_removable matches canonicalization") {
    import graft.ext.Dedup
    // clusters {1,2,3} and {4,5}; 6,7 singletons
    val corpus = (1L to 7L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val rep = Dedup.dedupReport(corpus, pairs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(rep == Seq((1L, 2L, 2L, 0L), (2L, 1L, 2L, 1L),
      (3L, 1L, 3L, 2L)))
    assert(rep.map(_._3).sum == 7L) // self-auditing: n_docs = corpus
  }

  test("dedupReport: pairs referencing ids outside the corpus fail loud " +
    "instead of silently dropping the singleton row") {
    import graft.ext.Dedup
    val corpus = (1L to 2L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // 3 clustered ids but only 2 corpus ids → singletons would go negative
    val pairs = Seq((1L, 2L), (2L, 99L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupReport(corpus, pairs, "doc_id").collect()
    }
    assert(e.getMessage.contains("pairs"))
  }

  test("dedupReport: fully-unique corpus is one singleton row") {
    import graft.ext.Dedup
    val corpus = (1L to 4L).map(i => (i, s"u$i")).toDF("doc_id", "text")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val rep = Dedup.dedupReport(corpus, pairs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(rep == Seq((1L, 4L, 4L, 0L)))
  }

  // ---- ANN index health ----

  test("indexHealth: empty cells explicit, skewed load flagged, exact " +
    "integer shares") {
    import graft.ext.Similarity
    // 8 vectors: 6 in cell 0, 2 in cell 2, cells 1 and 3 empty
    val assign = Seq(0, 0, 0, 0, 0, 0, 2, 2).zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("vec_id", "cell")
    val h = Similarity.indexHealth(assign, k = 4)
      .orderBy("cell")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(h == Seq(
      (0, 6L, 750000L, 3000L), // 6/8 corpus, 3x fair share
      (1, 0L, 0L, 0L),
      (2, 2L, 250000L, 1000L), // exactly balanced
      (3, 0L, 0L, 0L)))
  }

  // ---- contrastive negatives ----

  test("negativeSamples: k per query, positives and self excluded, " +
    "partition-invariant, salt redraws") {
    import graft.ext.Pipeline
    val corpus = (0L until 50L).map(i => Tuple1(i)).toDF("doc_id")
    val pos = Seq((1L, 2L), (1L, 3L), (7L, 8L)).toDF("query_id", "pos_id")
    def run(parts: Int, salt: String = "") = Pipeline.negativeSamples(
      pos, corpus.repartition(parts), "doc_id", k = 5, salt = salt)
      .orderBy("query_id", "neg_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val a = run(1)
    assert(a == run(6), "draws must be partition-invariant")
    assert(a.count(_._1 == 1L) == 5 && a.count(_._1 == 7L) == 5)
    assert(a.forall { case (q, _, n) =>
      n != q && !Set((1L, 2L), (1L, 3L), (7L, 8L))((q, n)) })
    a.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).distinct.size == g.size, "duplicate negative")
      assert(g.map(_._2).sorted == (0L until g.size.toLong))
    }
    assert(a != run(1, salt = "v2"), "salt must redraw")
    graft.ext.OpCaches.releaseAll()
  }

  test("hardNegatives: the declared positive (here the true nearest " +
    "neighbor) never appears; ranks stay dense") {
    import graft.ext.Similarity
    // query 0's nearest neighbor is 1 (identical direction); positives
    // declare it, so it must vanish and 2..k shift up
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.01f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val pos = Seq((0L, 1L)).toDF("query_id", "pos_id")
    val got = Similarity.hardNegatives(vecs, pos, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got.map(_._2).toSet == Set(2L, 4L, 3L))
    assert(got.map(_._1) == Seq(1, 2, 3))
    assert(!got.exists(_._2 == 1L), "positive leaked into negatives")
  }

  // ---- IVF maintenance + matryoshka ----

  test("ivfAppend ≡ full rebuild under the same frozen model; " +
    "ivfNeedsRefit fires on drifted appends") {
    import graft.ext.Similarity
    def vecs(ids: Range, shift: Double) = ids.map { i =>
      (i.toLong, Array(shift + i % 3 * 0.1f, 1.0f - i % 3 * 0.1f,
        0.5f, 0.25f).map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val base = vecs(0 until 40, 0.0)
    val model = Similarity.fitIvf(base, nlist = 4)
    val idx = Similarity.ivfIndex(base, model)
    // appending a batch ≡ indexing the concatenated corpus
    val extra = vecs(100 until 120, 0.0)
    val appended = Similarity.ivfAppend(idx, extra, model)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val rebuilt = Similarity.ivfIndex(base.unionByName(extra), model)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(appended == rebuilt)
    assert(!Similarity.ivfNeedsRefit(idx, model, maxLoadX1000 = 3999L)
      || Similarity.indexHealth(idx.select(col("cell")), 4)
        .agg(max(col("load_x1000"))).first().getLong(0) > 3999L)
    // a heavily-drifted append (every new vector identical -> one cell)
    val drift = vecs(200 until 600, 50.0)
    val drifted = Similarity.ivfAppend(idx, drift, model)
    assert(Similarity.ivfNeedsRefit(drifted, model, maxLoadX1000 = 3000L))
  }

  test("matryoshka: unit norm after truncation, ranking-compatible " +
    "with full cosine on prefix-dominant vectors, zero-safe") {
    import graft.ext.Similarity
    val df = Seq(
      (1L, Seq(3.0f, 4.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val m = df.select(col("vec_id"),
      Similarity.matryoshka(col("embedding"), 2).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(m(1L)(0) - 0.6) < 1e-12 &&
      math.abs(m(1L)(1) - 0.8) < 1e-12)
    assert(m(2L) == Seq(0.0, 0.0)) // zero vector passes through
  }

  // ---- DSIR importance weights ----

  test("dsirWeights: target-like docs outweigh off-target docs; " +
    "empty docs weigh 0 over 0 features") {
    import graft.ext.Pipeline
    val raw = Seq(
      (1L, "science research method experiment data"),
      (2L, "science research method experiment analysis"),
      (3L, "celebrity gossip fashion drama scandal"),
      (4L, "")
    ).toDF("doc_id", "text")
    val target = Seq(
      (10L, "science research method experiment study"),
      (11L, "research method data experiment science")
    ).toDF("doc_id", "text")
    val w = Pipeline.dsirWeights(raw, target, "text", "doc_id",
        buckets = 1024)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(w(4L) == (0L, 0L))
    assert(w(1L)._2 > w(3L)._2 && w(2L)._2 > w(3L)._2,
      s"target-like docs must outweigh off-target: $w")
    assert(w(3L)._2 < 0, s"off-target doc should score negative: $w")
  }

  test("dsirFit + dsirScore (prefit table) ≡ the one-call dsirWeights, " +
    "including scoring a corpus the fit never saw") {
    import graft.ext.Pipeline
    val raw = (1 to 30).map(i => (i.toLong, s"alpha tok${i % 4} beta"))
      .toDF("doc_id", "text")
    val target = (1 to 8).map(i => (50L + i, s"alpha tok1 gamma"))
      .toDF("doc_id", "text")
    val oneCall = Pipeline.dsirWeights(raw, target, "text", "doc_id",
      buckets = 256).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val lr = Pipeline.dsirFit(raw, target, "text", "doc_id", buckets = 256)
      .localCheckpoint(true) // the persisted-model shape
    val split = Pipeline.dsirScore(raw, lr, "text", "doc_id",
      buckets = 256).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(oneCall == split)
    // unseen docs score under the same fixed model (the foreachBatch
    // micro-batch shape)
    val unseen = Seq((99L, "alpha tok1 beta"), (100L, ""))
      .toDF("doc_id", "text")
    val got = Pipeline.dsirScore(unseen, lr, "text", "doc_id",
      buckets = 256).orderBy("doc_id").collect()
    assert(got.length == 2 && got(1).getLong(2) == 0L)
  }

  test("dsirWeights: partition count cannot change the weights " +
    "(integer micro-nat sum contract)") {
    import graft.ext.Pipeline
    val raw = (1 to 40).map(i =>
      (i.toLong, s"tok${i % 7} tok${i % 5} tok${i % 3} common words here"))
      .toDF("doc_id", "text")
    val target = (1 to 10).map(i =>
      (100L + i, s"tok${i % 3} common words here always"))
      .toDF("doc_id", "text")
    def run(parts: Int) =
      Pipeline.dsirWeights(raw.repartition(parts), target, "text",
        "doc_id", buckets = 512)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  // ---- length-bucketed batching ----

  test("lengthBucketBatches: buckets respect boundaries, batches chop " +
    "at batchSize, order is hash-deterministic and partition-invariant") {
    import graft.ext.Pipeline
    val docsDf = (1 to 50).map { i =>
      (i.toLong, Seq.fill(if (i <= 30) 3 else 20)("w").mkString(" "))
    }.toDF("doc_id", "text")
    def run(parts: Int) = Pipeline.lengthBucketBatches(
      docsDf.repartition(parts), "text", "doc_id",
      boundaries = Seq(8L, 16L), batchSize = 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val a = run(1)
    assert(a == run(7), "batching must be partition-invariant")
    val rows = a.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long],
      r(2).asInstanceOf[Int], r(3).asInstanceOf[Long],
      r(4).asInstanceOf[Long]))
    // 30 short docs -> bucket 0 (4 batches of <=8); 20 long -> bucket 2
    assert(rows.count(_._3 == 0) == 30 && rows.count(_._3 == 2) == 20)
    rows.groupBy(r => (r._3, r._4)).foreach { case ((_, _), g) =>
      assert(g.size <= 8)
      assert(g.map(_._5).sorted == (0L until g.size.toLong))
    }
    // batches fill densely: only the LAST batch of a bucket is partial
    Seq(0, 2).foreach { b =>
      val sizes = rows.filter(_._3 == b).groupBy(_._4)
        .toSeq.sortBy(_._1).map(_._2.size)
      assert(sizes.init.forall(_ == 8), s"bucket $b sizes $sizes")
    }
    graft.ext.OpCaches.releaseAll()
  }

  // ---- unigram-LM tokenizer ----

  test("unigram_encode: Viterbi picks the max-probability segmentation; " +
    "ties prefer fewer pieces; unknown codepoints emit with penalty") {
    import graft.ext.TextAnalysis
    val v1 = Seq("ab" -> -1.0, "a" -> -2.0, "b" -> -2.0, "c" -> -3.0)
    def enc(text: String, v: Seq[(String, Double)]) =
      Seq(text).toDF("t")
        .select(TextAnalysis.unigramEncode(col("t"), v).as("p"))
        .as[Seq[String]].head()
    assert(enc("abc", v1) == Seq("ab", "c")) // -4 beats a+b+c = -7
    // exact tie (-4 = -4): fewer pieces wins
    val v2 = Seq("ab" -> -4.0, "a" -> -2.0, "b" -> -2.0)
    assert(enc("ab", v2) == Seq("ab"))
    // unknown codepoint: emits itself, never fails
    assert(enc("az", v1) == Seq("a", "z"))
    // pre-tokenizer applies per word; pieces concatenate back
    val got = enc("ab cab", v1)
    assert(got.mkString == "ab cab".replace("cab", " cab").trim
      || got.mkString("") == "ab" + " cab")
  }

  test("unigram_encode: segmentation concatenates to the pre-token " +
    "stream and participates in whole-stage codegen") {
    import graft.ext.TextAnalysis
    val v = Seq("th" -> -1.5, "e" -> -2.0, "t" -> -3.0, "h" -> -3.0,
      " the" -> -1.0, "quick" -> -1.0, " " -> -2.5, "q" -> -3.0,
      "u" -> -3.0, "i" -> -3.0, "c" -> -3.0, "k" -> -3.0)
    val df0 = Seq("the quick", "thee").toDF("t")
      .select(col("t"),
        TextAnalysis.unigramEncode(col("t"), v).as("p"))
    df0.collect().foreach { r =>
      val toks = TextAnalysis.bpePattern.r
        .findAllIn(r.getString(0)).mkString
      assert(r.getSeq[String](1).mkString == toks)
    }
    // spark.range source keeps the projection out of ConvertToLocalRelation
    val df = spark.range(2).select(
      TextAnalysis.unigramEncode(concat(lit("the"), col("id")), v).as("p"))
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains("unigramEncode"),
      s"expected codegen'd kernel call:\n${gen.take(800)}")
  }

  test("learnUnigram: deterministic, partition-invariant, frequent " +
    "words become pieces, probs normalize, coverage holds") {
    import graft.ext.TextAnalysis
    val corpus = (1 to 60).map { i =>
      (i.toLong, if (i % 3 == 0) "sharing data pipelines"
        else "data pipelines scale")
    }.toDF("doc_id", "text")
    val v1 = TextAnalysis.learnUnigram(corpus, "text", vocabSize = 40,
      seedSize = 200, emIters = 2)
    val v2 = TextAnalysis.learnUnigram(corpus.repartition(7), "text",
      vocabSize = 40, seedSize = 200, emIters = 2)
    assert(v1 == v2, "fit must be partition-invariant")
    // pruning keeps only Viterbi-used pieces: size is bounded by, not
    // padded to, vocabSize
    assert(v1.size <= 40 && v1.size >= 15, s"got ${v1.size} pieces")
    val probs = v1.map(p => math.exp(p._2)).sum
    assert(math.abs(probs - 1.0) < 1e-9, s"probs sum to $probs")
    // every corpus codepoint is encodable: total pieces bounded by chars
    val withV = corpus.select(
      TextAnalysis.unigramTokenCountExact(col("text"), v1).as("n"),
      TextAnalysis.bpeTokenCountExact(col("text"), Nil).as("chars"))
      .agg(sum(col("n")), sum(col("chars"))).first()
    assert(withV.getLong(0) < withV.getLong(1),
      "learned pieces must beat the char baseline")
    // a dominant substring surfaced as a multi-char piece
    assert(v1.exists(p => p._1.length >= 4),
      s"expected multi-char pieces in ${v1.take(10)}")
  }

  test("unigram artifact round-trips: save -> load ≡ fit; encode " +
    "agrees; loud failures on malformed tables") {
    import graft.ext.TextAnalysis
    val corpus = (1 to 40).map(i => (i.toLong, "data pipelines scale"))
      .toDF("doc_id", "text")
    val v = TextAnalysis.learnUnigram(corpus, "text", vocabSize = 30,
      seedSize = 100, emIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_uni")
    TextAnalysis.saveUnigram(spark, v, s"$dir/vocab")
    val loaded = TextAnalysis.loadUnigram(spark, s"$dir/vocab")
    assert(loaded == v)
    val enc = corpus.limit(3).select(
      TextAnalysis.unigramEncode(col("text"), loaded).as("p"))
      .as[Seq[String]].collect()
    assert(enc.forall(_.nonEmpty))
    Seq(("p", -0.5), ("p", -0.7)).toDF("piece", "log_prob")
      .write.mode("overwrite").parquet(s"$dir/dup")
    intercept[IllegalArgumentException] {
      TextAnalysis.loadUnigram(spark, s"$dir/dup")
    }
  }

  // ---- statestore-reader IQ face ----

  test("storeFromCheckpoint reads a checkpointed aggregation's state " +
    "(stopped AND running query)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_iq_ss")
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("k", "v")
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
      .writeStream.format("memory").queryName("iq_ss_mem")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("complete").start()
    try {
      ms.addData(("a", 1L), ("b", 2L), ("a", 3L))
      q.processAllAvailable()
      // read the RUNNING query's committed state straight from the
      // checkpoint — no sink cooperation
      val live = graft.iq.InteractiveQueries
        .storeFromCheckpoint(spark, s"$dir/ckpt")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(live == Set(("a", 4L), ("b", 2L)))
      ms.addData(("b", 10L))
      q.processAllAvailable()
      // later commits visible on a fresh read
      val live2 = graft.iq.InteractiveQueries
        .storeFromCheckpoint(spark, s"$dir/ckpt")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(live2 == Set(("a", 4L), ("b", 12L)))
      // batchId pins an earlier snapshot
      val pinned = graft.iq.InteractiveQueries
        .storeFromCheckpoint(spark, s"$dir/ckpt", batchId = Some(0L))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(pinned == Set(("a", 4L), ("b", 2L)))
    } finally q.stop()
    // stopped query: offline post-mortem read through a registered view
    // (its HTTP serving: InteractiveQueriesSpec)
    graft.iq.InteractiveQueries.registerCheckpointStore(
      spark, "iq_ss_view", s"$dir/ckpt")
    val offline = spark.table("iq_ss_view")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(offline == Set(("a", 4L), ("b", 12L)))
  }

  // ---- bandedLevenshtein unbounded budget ----

  test("banded_levenshtein: maxDist = Int.MaxValue means unbounded " +
    "(exact distance, no overflow)") {
    import graft.functions.VectorFunctions.banded_levenshtein
    val df = Seq(("kitten", "sitting"), ("", "abc"), ("same", "same"))
      .toDF("a", "b")
      .select(banded_levenshtein(col("a"), col("b"),
        lit(Int.MaxValue)).as("d"))
    assert(df.as[Int].collect().toSeq == Seq(3, 3, 0))
  }

  test("banded_levenshtein: clamped budget still honors the sentinel " +
    "contract below the clamp") {
    import graft.functions.VectorFunctions.banded_levenshtein
    val d = Seq(("abcdef", "uvwxyz")).toDF("a", "b")
      .select(banded_levenshtein(col("a"), col("b"), lit(2)).as("d"))
      .as[Int].head()
    assert(d == 3) // sentinel maxDist + 1
  }
}
