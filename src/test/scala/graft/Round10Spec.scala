package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

/** Round 10: spec pins for the ADVICE-r9 fixes — ngramJaccardPairs'
  * integer prefix bound at exactly-at-threshold pairs (the containment
  * fix from r9, now applied to the symmetric Jaccard face too).
  */
class Round10Spec extends SparkSpecBase {
  import spark.implicits._

  test("ngramJaccardPairs: exactly-at-threshold pair found even when " +
    "its only shared shingle sits in the LAST prefix slot (integer " +
    "prefix bound)") {
    // A = 12 distinct words -> 10 shingles; B = A's first 10 words ->
    // 8 shingles, ALL shared, so J = 8/10 = the 0.8 threshold EXACTLY.
    // We need the two shingles B lacks (A's positional s9, s10) to be
    // A's two HASH-smallest: then the old float prefix
    // floor(10·(1−0.8))+1 = 2 (IEEE 1−0.8 = 0.19999…) posts only A's
    // two unique shingles and silently misses the pair, while the tight
    // integer bound n − ⌈t·n⌉ + 1 = 3 posts the smallest SHARED shingle
    // too. The fixture is found by a deterministic search over word
    // alphabets (xxhash64 is fixed, so the winning seed never moves);
    // the structural property is re-asserted, not assumed.
    val seeds = 0 until 400
    val shingleRows = seeds.flatMap { s =>
      val w = (1 to 12).map(i => s"s${s}w$i")
      (0 until 10).map(i => (s, i, s"${w(i)} ${w(i + 1)} ${w(i + 2)}"))
    }
    val hashed = shingleRows.toDF("seed", "pos", "sh")
      .select(col("seed"), col("pos"), xxhash64(col("sh")).as("h"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (s, rows) =>
        s -> rows.sortBy(_.getInt(1)).map(_.getLong(2)) }
    val seed = seeds.find { s =>
      val hs = hashed(s)
      hs.distinct.length == 10 &&
        hs.sorted.take(2).toSet == Set(hs(8), hs(9))
    }.getOrElse(fail("no fixture seed found in 400 — hash fn changed?"))
    // structural self-check: B misses exactly A's two hash-smallest
    val hs = hashed(seed)
    assert(hs.sorted.take(2).toSet == Set(hs(8), hs(9)))

    val w = (1 to 12).map(i => s"s${seed}w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),          // A: shingles s0..s9
      (2L, w.take(10).mkString(" "))  // B: shingles s0..s7 (all shared)
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        k = 3, maxDf = Long.MaxValue, threshold = 0.8)
      .collect()
    assert(pairs.length == 1,
      s"expected the at-threshold pair, got ${pairs.toSeq}")
    assert(pairs(0).getAs[Double]("jaccard") == 0.8)
  }

  test("synthesizeNearDupImages: planted near-dup pairs sit within the " +
    "gate's maxBits, everything else sits far outside (margin for the " +
    "mm_phash_pairs oracle)") {
    import graft.ext.Multimodal
    // 100 groups of 3 = the mm_phash_pairs fixture (doc_id < 300)
    val media = Multimodal.synthesizeNearDupImages(
      spark.range(300).select(col("id").as("doc_id")))
    val hs = Multimodal.phash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.size == 300)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearHams = (0 until 100).map(g => ham(hs(3L * g), hs(3L * g + 1)))
    // every planted pair within the gate threshold...
    assert(nearHams.max <= 6, s"planted pair drifted: max ${nearHams.max}")
    // ...and at least one genuinely non-identical (the banding does work)
    assert(nearHams.exists(_ > 0), "all planted pairs hashed identically")
    // every non-planted pair far outside (no accidental near-dups in the
    // fixture — deterministic, so this pins the oracle's exact row set)
    val ids = (0L until 300L).toArray
    var minFar = 64
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      if (!(a / 3 == b / 3 && a % 3 == 0 && b % 3 == 1)) {
        val d = ham(hs(a), hs(b))
        if (d < minFar) minFar = d
      }
    }
    assert(minFar > 6, s"non-planted pair within gate threshold: $minFar")
    info(s"planted hamming max ${nearHams.max}, " +
      s"non-planted min $minFar (threshold 6)")
  }

  test("phashBands pigeonhole: any two signatures within maxBits < 16 " +
    "Hamming bits share at least one identical band (banded recall = 1)") {
    import graft.ext.Multimodal
    // deterministic adversarial spread: flip exactly 15 bits (the worst
    // case the 16-band scheme must cover), positions splitmix-derived
    val rows = (0 until 500).map { s =>
      def mix(x: Long): Long = {
        var z = x + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val sig = mix(s.toLong)
      var flipped = sig
      var k = 0
      var bitsDone = Set.empty[Int]
      while (bitsDone.size < 15) {
        val pos = (mix(s.toLong * 131 + k) >>> 58).toInt // 0..63
        if (!bitsDone(pos)) { flipped ^= 1L << pos; bitsDone += pos }
        k += 1
      }
      (sig, flipped)
    }
    val shared = rows.toDF("a", "b")
      .select(size(array_intersect(
        zip_with(Multimodal.phashBands(col("a")),
          sequence(lit(0), lit(15)),
          (v, i) => struct(i.as("i"), v.as("v"))),
        zip_with(Multimodal.phashBands(col("b")),
          sequence(lit(0), lit(15)),
          (v, i) => struct(i.as("i"), v.as("v"))))).as("n"))
      .agg(min(col("n"))).as[Int].collect()(0)
    assert(shared >= 1,
      "15-bit-distant pair shared no band — pigeonhole broken")
  }

  test("asOf direction + tolerance: forward picks the earliest at-or-" +
    "after, ties match both ways, out-of-tolerance matches null out") {
    import graft.ext.AsOfJoin
    val left = Seq((1L, 100L, "l1"), (1L, 200L, "l2"), (1L, 350L, "l3"),
      (2L, 50L, "l4")).toDF("k", "t", "lv")
    val right = Seq((1L, 100L, "r100"), (1L, 220L, "r220"),
      (1L, 300L, "r300")).toDF("k", "t", "rv")
    def run(dir: String, tol: Option[Long]) =
      AsOfJoin.asOf(left, right, Seq("k"), "t", "t",
          Map("rv" -> "m"), direction = dir,
          tolerance = tol.map(lit(_)))
        .collect().map(r => r.getAs[String]("lv") ->
          Option(r.getAs[String]("m"))).toMap
    // backward: latest right <= left; tie at t=100 matches
    assert(run("backward", None) == Map("l1" -> Some("r100"),
      "l2" -> Some("r100"), "l3" -> Some("r300"), "l4" -> None))
    // forward: earliest right >= left; tie at t=100 matches; nothing
    // after 350 or for key 2
    assert(run("forward", None) == Map("l1" -> Some("r100"),
      "l2" -> Some("r220"), "l3" -> None, "l4" -> None))
    // tolerance 60 (numeric ts): l2's backward match r100 is 100 away ->
    // nulled; l3's r300 is 50 away -> kept
    assert(run("backward", Some(60L)) == Map("l1" -> Some("r100"),
      "l2" -> None, "l3" -> Some("r300"), "l4" -> None))
    assert(run("forward", Some(60L)) == Map("l1" -> Some("r100"),
      "l2" -> Some("r220"), "l3" -> None, "l4" -> None))
    // nearest: l2 (200) has r100 at 100 vs r220 at 20 -> r220; l3 (350)
    // has r300 at 50 and nothing after -> r300; exact-ts tie (l1) and
    // equal-distance both prefer backward
    assert(run("nearest", None) == Map("l1" -> Some("r100"),
      "l2" -> Some("r220"), "l3" -> Some("r300"), "l4" -> None))
    // equal distance -> backward: left at 260 is 40 from r220 and 40
    // from r300
    val tie = AsOfJoin.asOf(Seq((1L, 260L, "lt")).toDF("k", "t", "lv"),
        right, Seq("k"), "t", "t", Map("rv" -> "m"),
        direction = "nearest")
      .collect()(0).getAs[String]("m")
    assert(tie == "r220", s"equal distance must prefer backward: $tie")
    // nearest + tolerance 30: l2's r220 (20 away) kept, l3's r300 (50
    // away) nulled
    assert(run("nearest", Some(30L)) == Map("l1" -> Some("r100"),
      "l2" -> Some("r220"), "l3" -> None, "l4" -> None))
  }

  test("resampleLocf: within-bucket latest wins, gaps carry forward, " +
    "NULL observations drop, first bucket always observed") {
    import graft.ext.TimeSeries
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), java.lang.Double.valueOf(1.0)),
      (1L, ts("2024-01-01 15:00:00"), java.lang.Double.valueOf(2.0)), // same bucket, later -> wins
      (1L, ts("2024-01-04 09:00:00"), java.lang.Double.valueOf(9.0)), // 2-day gap carries 2.0
      (1L, ts("2024-01-02 12:00:00"), null: java.lang.Double),        // dropped
      (2L, ts("2024-01-01 00:00:00"), java.lang.Double.valueOf(7.0))
    ).toDF("k", "t", "v")
    val out = TimeSeries.resampleLocf(ev, "k", "t", "v", 86400L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) / 86400L) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    val d0 = ts("2024-01-01 00:00:00").getTime / 1000 / 86400
    assert(out((1L, d0)) == (2.0, true))      // latest-in-bucket
    assert(out((1L, d0 + 1)) == (2.0, false)) // null obs dropped -> carried
    assert(out((1L, d0 + 2)) == (2.0, false)) // gap carries
    assert(out((1L, d0 + 3)) == (9.0, true))
    assert(out((2L, d0)) == (7.0, true))
    assert(out.size == 5)
  }

  test("corpusDigestBy over a stream: complete-mode per-group rows equal " +
    "the batch digests of everything ingested (partitioned-table " +
    "ingest-integrity monitor)") {
    import graft.ext.Pipeline
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val q = Pipeline.corpusDigestBy(ms.toDF().toDF("id", "g", "s"),
        Seq("id", "s"), "g")
      .writeStream.format("memory").queryName("digby10")
      .outputMode("complete").start()
    try {
      ms.addData((1L, "a", "x"), (2L, "b", "y"))
      q.processAllAvailable()
      ms.addData((3L, "a", "z"), (1L, "a", "x")) // group a grows + dupes
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      val got = spark.table("digby10").collect().map(key).toMap
      val want = Pipeline.corpusDigestBy(
        Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "a", "z"), (1L, "a", "x"))
          .toDF("id", "g", "s"), Seq("id", "s"), "g")
        .collect().map(key).toMap
      assert(got == want, s"$got != $want")
      assert(got("a")._1 == 3L && got("b")._1 == 1L)
    } finally q.stop()
  }

  test("luhnValid + redactCreditCards: checksum truth table against an " +
    "independent fold, boundary lengths, conditional replacement") {
    import graft.ext.TextAnalysis
    // independent Luhn reference (functional fold, vs the kernel's
    // imperative loop)
    def ref(s: String): Boolean = s.nonEmpty && s.forall(_.isDigit) && {
      s.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum % 10 == 0
    }
    val cases = Seq("4111111111111111", "4111111111111112",
      "79927398713", "79927398710", "1234567890123452", "", "abc",
      "4111 1111", "0000000000000000") ++
      (0 until 50).map(i => (math.abs(i * 2654435761L) %
        1000000000000000L).toString)
    val got = cases.toDF("s")
      .select(col("s"), TextAnalysis.luhnValid(col("s")).as("v"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach(c => assert(got(c) == ref(c), s"luhn('$c')"))

    val texts = Seq(
      // valid 16-digit card -> redacted; invalid twin -> kept
      (1L, "pay 4111111111111111 not 4111111111111112 ok"),
      // 12 digits (too short) and 20 digits (too long) never redact,
      // even when the checksum happens to hold
      (2L, "a 411111111111 b 41111111111111111115 c"),
      // 13-digit valid (4222222222222) and adjacent punctuation
      (3L, "x4222222222222. amount:19, t=1699999999999999999"),
      // digits split by separators are separate (short) runs
      (4L, "4111-1111-1111-1111"))
    val out = texts.toDF("id", "t")
      .select(col("id"), TextAnalysis.redactCreditCards(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "pay <CC> not 4111111111111112 ok")
    assert(out(2L) == "a 411111111111 b 41111111111111111115 c")
    assert(out(3L) == "x<CC>. amount:19, t=1699999999999999999")
    assert(out(4L) == "4111-1111-1111-1111")
  }

  test("contaminationBySuiteStream: stateless ingest census — the union " +
    "of per-batch censuses equals the batch census of the union") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val suiteA = Seq((900L, "a1 a2 a3 a4 a5 a6"),
      (901L, "x0 a1 a2 a3 a4 a5")).toDF("doc_id", "text")
    val suiteB = Seq((910L, "b1 b2 b3 b4 b5")).toDF("doc_id", "text")
    val suites = Seq("A" -> suiteA, "B" -> suiteB)
    // batch 1: doc 1 leaks both suites, doc 2 only A; batch 2: doc 3
    // clean, doc 4 leaks B
    val b1 = Seq((1L, "z1 a1 a2 a3 a4 a5 a6 z2 b1 b2 b3 b4 b5"),
      (2L, "y1 a1 a2 a3 a4 a5 y2"))
    val b2 = Seq((3L, "clean words only nothing shared here at all"),
      (4L, "q1 b1 b2 b3 b4 b5 q2"))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Dedup.contaminationBySuiteStream(
        ms.toDF().toDF("doc_id", "text"), suites, "text", "doc_id", n = 5)
      .writeStream.format("memory").queryName("census10")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      val got = spark.table("census10").collect().map(key).toSet
      val want = Dedup.contaminationBySuite((b1 ++ b2).toDF("doc_id", "text"),
        suites, "text", "doc_id", n = 5).collect().map(key).toSet
      assert(want.nonEmpty && got == want,
        s"stream census $got != batch census $want")
      // and the streaming face agrees with the batch face row-for-row
      // when handed the same BATCH frame (one code path, two modes)
      val batchViaStream = Dedup.contaminationBySuiteStream(
        (b1 ++ b2).toDF("doc_id", "text"), suites, "text", "doc_id", n = 5)
        .collect().map(key).toSet
      assert(batchViaStream == want)
    } finally q.stop()
  }
}
