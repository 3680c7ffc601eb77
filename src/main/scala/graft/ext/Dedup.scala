package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication operators for LLM-data pipelines (BASELINE.json
  * north-star; the reference itself has no such ops — SURVEY §2.9 notes they
  * are built from Spark primitives).
  *
  * Scale design (100 TB): every variant is
  *   candidate generation (hash/bucket, shuffle on short keys)
  *   → verification (join only within buckets)
  *   → survivor selection (one aggregation).
  * No pairwise O(n²) work ever leaves a bucket; buckets are bounded by the
  * banding parameters. All hashing is xxhash64 (codegen'd Catalyst
  * expression), signatures are fixed-width arrays — shuffle rows stay small
  * even when documents are large, because only (id, band-hash) pairs travel.
  */
object Dedup {

  private def parseIntervalMs(interval: String): Long =
    graft.Intervals.toMillis(interval)

  /** Event-time cell → epoch millis, tolerant of TIMESTAMP and
    * TIMESTAMP_NTZ external types (the fixtures carry both).
    */
  private def tsMillis(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case d: java.time.LocalDateTime =>
      d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case i: java.time.Instant => i.toEpochMilli
    case _ => Long.MinValue
  }

  /** Exact dedup: group identical normalized text, keep the smallest id.
    * One hash-shuffle; at 100 TB, hash first (xxhash64) so the shuffle key is
    * 8 bytes, not the document: here we group by the hash and carry min(id).
    */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(xxhash64(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).cast("long").as("n_copies"))

  /** Streaming exact dedup: keep the first record per key within the
    * watermark horizon (`dropDuplicatesWithinWatermark` — state is bounded
    * by the delay, unlike plain dropDuplicates whose state grows forever).
    * The streaming face of [[exact]] for live ingestion pipelines.
    */
  def exactStream(stream: DataFrame, keys: Seq[String], tsCol: String,
                  watermarkDelay: String): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Word-shingle array (k consecutive tokens joined), the unit of Jaccard
    * similarity for minhash / n-gram dedup.
    */
  def shingles(textCol: Column, k: Int): Column =
    graft.functions.VectorFunctions.word_shingles(textCol, k)

  /** MinHash + LSH near-dup candidate pairs with exact Jaccard verification.
    * bands×rowsPerBand hashes; a pair collides if any band matches
    * (s-curve threshold ≈ (1/bands)^(1/rowsPerBand)).
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * Recall caveat: pairs is NOT exhaustive above the LSH s-curve — and
    * additionally, buckets larger than [[maxBucketFanout]] emit only star
    * pairs to the bucket min id (see [[bucketPairs]]): two members of a
    * mega-bucket, neither the min id, surface only via another bucket or
    * transitively through the star center. Cluster connectivity is
    * preserved; consumers needing every pair ≥ threshold must raise the
    * cap knowingly.
    */
  def minhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
                   threshold: Double = 0.7): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Shingle sets travel as xxhash64 longs from here on: the persisted
    // working set, the signature explode, and the verify joins all carry
    // 8-byte hashes instead of shingle strings (set sizes are unchanged —
    // shingles are distinct, and 64-bit collisions within a ~10²-element
    // set are negligible). Built sorted+distinct in ONE native pass
    // (WordShingleHashes) so verification can run the fused sorted-merge
    // Jaccard. Materialized once: reused by the signature build and both
    // verify joins (Spark recomputes lineage per use otherwise).
    val shDf = OpCaches.register(docs.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.word_shingle_hashes(col(textCol), k).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // Whole signature in one native pass (MinHashLanes): no explode, no
    // aggregation buffers, no exchange — each doc's 32 lanes are computed
    // where its shingle set already sits. (Round 2 exploded the set and ran
    // 32 min(xxhash64) lanes through a hash aggregate; map-side combine
    // kept the shuffle small but the agg machinery dominated the operator.)
    val sig = shDf.select(col("id"),
      graft.functions.VectorFunctions.minhash_lanes(col("sh"), numHashes).as("sig"))
    // one row per (doc, band): band key = hash of that band's slice
    val banded = sig.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
                    x => x.cast("string"))), lit(b))
      }: _*)))
      .withColumnRenamed("col", "band_key")
    val cand = bucketPairs(banded, Seq("band_key"))
    verifyJaccard(cand, shDf, threshold)
  }

  /** Hot-bucket guard for [[bucketPairs]]: buckets larger than this emit
    * star pairs to the bucket's min id instead of all n² pairs. Mirrors
    * the streaming kernels' `maxPerBucket` bound.
    */
  val maxBucketFanout: Int = 1000

  /** Candidate pairs from LSH buckets without a self-join: collect ids per
    * bucket, expand ordered pairs in one pass. Avoids recomputing the
    * (expensive) signature lineage on both sides of a join — Spark does not
    * reuse subplans across self-join branches. The shuffle carries only
    * (bucket, id).
    *
    * Hot-bucket cap: banding/df-cap parameters bound TYPICAL bucket sizes,
    * but a 100 TB crawl has the pathological case built in — 10⁶ copies of
    * one boilerplate page share every band, and an uncapped
    * `collect_set` would materialize a 10⁶-element array in one
    * aggregation row and stream 10¹² pairs from one task. Buckets larger
    * than `cap` therefore emit only star pairs (bucket-min-id, id): the
    * spanning set [[clusters]]/connected components need, at O(n) per
    * bucket. The recall trade is confined to hot buckets: a pair of
    * members both ≠ min-id is only found via another (smaller) bucket or
    * transitively through the star center — for the near-identical
    * content that actually creates mega-buckets, exactly the right
    * answer. Plan shape: ONE exchange on the bucket key (window min/count
    * spill-safe via the sorter), the small-bucket groupBy reuses the
    * window's partitioning, hot rows stream narrow star pairs.
    */
  private[graft] def bucketPairs(bucketed: DataFrame, keyCols: Seq[String],
                                 cap: Int = maxBucketFanout,
                                 dedupe: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
    val tagged = bucketed
      .where(col("id").isNotNull)
      .withColumn("__bn", count(lit(1)).over(w))
      .withColumn("__bmin", min(col("id")).over(w))
    val smallPairs = tagged
      .where(col("__bn") <= cap)
      .groupBy(keyCols.map(col): _*)
      .agg(array_sort(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
      // custom Generator: streams the n² in-bucket pairs lazily instead of
      // materializing nested struct arrays (graftfn.OrderedPairs)
      .select(graft.functions.VectorFunctions.ordered_pairs(col("ids")))
    val starPairs = tagged
      .where(col("__bn") > cap && col("id") =!= col("__bmin"))
      .select(col("__bmin").as("id_a"), col("id").as("id_b"))
    val all = smallPairs.union(starPairs)
    // `dedupe = false` (r14, §2.4): when every id occupies AT MOST ONE
    // bucket — Voronoi cell assignment (semanticPairs), a single
    // blocking-key tuple per record (recordLinkage KeyBlocking) — a pair
    // can only be emitted by one bucket, so the distinct is a full
    // shuffle of the LARGEST intermediate in the operator (the candidate
    // stream, quadratic per sub-cap bucket) that removes nothing.
    // Banded callers (minhash bands, multi-table hyperplane LSH), where
    // one id sits in `bands`/`tables` buckets and true near-dups collide
    // in several of them, keep the default. Requires unique ids per
    // bucket row (every caller's id column is a record id).
    if (dedupe) all.distinct() else all
  }

  /** Exact-Jaccard verification of candidate pairs against shingle sets
    * (hashed: `sh` is a SORTED DISTINCT array of 64-bit shingle hashes —
    * WordShingleHashes' output contract). The length-ratio prefilter is
    * exactness-preserving — J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|) — and skips
    * the merge for size-mismatched candidates; surviving pairs run the
    * fused codegen'd sorted-merge Jaccard (no hash tables, no intersection
    * array materialized — this is the per-pair hot loop).
    */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .where(least(size(col("sh_a")), size(col("sh_b"))).cast("double") /
             greatest(size(col("sh_a")), size(col("sh_b"))) >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.sorted_jaccard(
          col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Survivors after near-dup removal: every doc except the larger id of
    * each confirmed pair (union-find-free approximation standard in corpus
    * dedup: drop any doc dominated by a smaller near-identical one).
    */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(),
              Seq(idCol), "left_anti")

  /** 60-bit SimHash over whitespace tokens — native single-pass expression
    * (graftfn.SimHash60, engine-portable md5-derived token hash). Replaces
    * round 1's explode + packed-lane aggregate: no shuffle at all for the
    * signature, and the portable hash makes dedup output oracle-checkable.
    */
  def simhash(textCol: Column): Column =
    graft.functions.VectorFunctions.simhash60(textCol)

  /** SimHash near-dups: hamming(sig_a, sig_b) ≤ maxBits. Pigeonhole banding:
    * split the 60-bit signature into maxBits+1 chunks — any pair within
    * maxBits differing bits shares at least one identical chunk (recall 1 by
    * construction, so output ≡ brute-force hamming). Join only within chunk
    * buckets, verify with bit_count(xor).
    *
    * Recall caveat: chunk buckets larger than [[maxBucketFanout]] emit only
    * star pairs (see [[bucketPairs]]) — pair-level output under a planted
    * mega-bucket is a spanning set, not every qualifying pair; cluster
    * connectivity is preserved.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxBits: Int = 3,
                   cap: Int = maxBucketFanout): DataFrame = {
    val chunks = maxBits + 1
    val width = 60 / chunks
    val sig = OpCaches.register(
      docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
        .persist(StorageLevel.MEMORY_AND_DISK)) // reused: banding + 2 verify joins
    val banded = sig.select(col("id"), col("sig"),
      posexplode(array((0 until chunks).map { c =>
        shiftright(col("sig"), c * width).bitwiseAND(lit((1L << width) - 1))
      }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "bits")
    // cap: the hot-band star-pair defense ([[bucketPairs]]). Pigeonhole
    // recall is 1 only while every band bucket fits the cap — gates run
    // cap-off (exact-recall mode, the containmentPairs precedent);
    // production picks the cap. The sf1 sweep caught the silent recall
    // loss: a 10× corpus pushed band buckets past 1000 and the capped
    // survivors diverged from the brute-force oracle.
    val cand = bucketPairs(banded, Seq("chunk", "bits"), cap)
    cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxBits)
  }

  /** Streaming SimHash near-dup detection — the ingest-time face of
    * [[simhashPairs]]: per pigeonhole bucket, a state kernel holds the most
    * recent `maxPerBucket` (id, signature) entries; each arriving document
    * is checked against its bucket's state and emits (id_a, id_b, hamming)
    * pairs with hamming ≤ maxBits.
    *
    * Cross-bucket dedup happens INSIDE the kernel: a matching pair shares
    * one identical chunk per ≤ maxBits differing bits (pigeonhole), and
    * every bucket the pair shares sees both signatures — so each bucket can
    * locally compute the pair's LOWEST matching chunk and only the bucket
    * at that chunk emits. No second stateful stage exists, which is the
    * point: round 2 collapsed duplicates with a trailing
    * `dropDuplicates(id_a, id_b)` whose state kept every pair ever emitted
    * (unbounded on an infinite stream). Total state is now exactly the
    * bounded per-bucket lists (newest-first eviction, ≤ maxPerBucket each).
    * The same code runs in batch mode (single-batch kernel semantics).
    * Requires a numeric id column.
    *
    * State lifecycle: per-bucket lists are size-capped (`maxPerBucket`),
    * but on an infinite stream the NUMBER of buckets grows with distinct
    * chunk values ≈ corpus size × chunks. `tsCol` + `retention` bound
    * that: the input gets `withWatermark(tsCol, retention)` and a bucket
    * idle past the retention (no arrival newer than watermark − retention)
    * is evicted via event-time timeout — the same pattern as the session
    * kernel's `:withRetention`. Trade, stated plainly: a pair whose two
    * docs arrive more than `retention` apart is missed (the old doc's
    * buckets are gone), which is the same recall caveat `maxPerBucket`
    * already carries for hot buckets.
    */
  def simhashPairsStream(docs: DataFrame, textCol: String, idCol: String,
                         maxBits: Int = 3, maxPerBucket: Int = 1000,
                         tsCol: Option[String] = None,
                         retention: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = maxBits + 1
    val width = 60 / chunks
    val mask = (1L << width) - 1
    // lowest chunk index on which the two signatures agree (≥ 0 whenever
    // hamming ≤ maxBits, by pigeonhole over the chunks = maxBits+1 slices)
    def firstMatchingChunk(a: Long, b: Long): Int = {
      var c = 0
      while (c < chunks) {
        if (((a >>> (c * width)) & mask) == ((b >>> (c * width)) & mask)) return c
        c += 1
      }
      -1
    }
    val withRet = retention.isDefined
    require(!withRet || tsCol.isDefined,
      "retention needs tsCol (the event-time column the watermark tracks)")
    val retMs = retention.map(parseIntervalMs).getOrElse(0L)
    val input = (tsCol, retention) match {
      case (Some(t), Some(r)) => docs.withWatermark(t, r)
      case _ => docs
    }
    // Carry the RAW watermarked column (an alias of the attribute keeps
    // the watermark metadata; any expression over it — unix_millis, cast —
    // strips it and EventTimeTimeout analysis then rejects the plan).
    val tsRaw = tsCol.map(col).getOrElse(lit(null).cast("timestamp"))
    val isStreaming = docs.isStreaming
    val banded = input
      .select(col(idCol).cast("long").as("id"), simhash(col(textCol)).as("sig"),
              tsRaw.as("ts"))
      .select(col("id"), col("sig"), col("ts"),
        posexplode(array((0 until chunks).map { c =>
          shiftright(col("sig"), c * width).bitwiseAND(lit(mask))
        }: _*)))
      .toDF("id", "sig", "ts", "chunk", "bits")
      .as[(Long, Long, java.sql.Timestamp, Int, Long)]
    val timeout =
      if (withRet) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val paired = banded.groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (key: (Int, Long), it: Iterator[(Long, Long, java.sql.Timestamp, Int, Long)],
         state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) { // bucket idle past retention
            state.remove()
            Iterator.empty
          } else {
            val thisChunk = key._1
            var seen = state.getOption.getOrElse(Nil)
            var maxTs = Long.MinValue
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
            it.foreach { case (id, sg, ts, _, _) =>
              if (ts != null) maxTs = math.max(maxTs, tsMillis(ts))
              seen.foreach { case (oid, osig) =>
                if (oid != id) {
                  val ham = java.lang.Long.bitCount(sg ^ osig)
                  if (ham <= maxBits && firstMatchingChunk(sg, osig) == thisChunk)
                    out += ((math.min(id, oid), math.max(id, oid), ham))
                }
              }
              seen = ((id, sg) :: seen).take(maxPerBucket)
            }
            state.update(seen)
            if (withRet && isStreaming)
              // evict when the watermark passes last-arrival + retention
              state.setTimeoutTimestamp(math.max(
                maxTs + retMs, state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
    paired.toDF("id_a", "id_b", "hamming")
  }

  /** Streaming MinHash near-dup detection — the ingest-time face of
    * [[minhashPairs]], completing the streaming dedup family (exact /
    * simhash / minhash). Per LSH band bucket, a state kernel holds the most
    * recent `maxPerBucket` (id, signature) entries; an arriving document is
    * compared against its bucket's state and emits
    * (id_a, id_b, est_jaccard) for pairs whose signature agreement is
    * ≥ `minEst` (est_jaccard = matching lanes / total lanes — the unbiased
    * MinHash estimate; batch mode verifies exactly instead, but the exact
    * sets are long gone by the time a stream pair collides).
    *
    * Cross-bucket dedup happens in-kernel, as in [[simhashPairsStream]]:
    * every shared bucket sees both signatures, so each bucket locally
    * computes the pair's LOWEST matching band and only that band's bucket
    * emits. Total state = the bounded per-bucket lists; no second stateful
    * stage. Requires a numeric id column.
    *
    * `tsCol` + `retention` bound the bucket COUNT exactly as in
    * [[simhashPairsStream]]: watermark + event-time timeout evict buckets
    * idle past retention (pairs arriving further apart than retention are
    * missed — the documented trade).
    */
  def minhashPairsStream(docs: DataFrame, textCol: String, idCol: String,
                         k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
                         minEst: Double = 0.5,
                         maxPerBucket: Int = 1000,
                         tsCol: Option[String] = None,
                         retention: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    val numHashes = bands * rowsPerBand
    val spark = docs.sparkSession
    import spark.implicits._
    // lowest band on which the two signatures fully agree (≥ 0 for any pair
    // sharing a bucket, since sharing a bucket IS agreeing on that band)
    def firstMatchingBand(a: Seq[Long], b: Seq[Long]): Int = {
      var band = 0
      while (band < bands) {
        var l = band * rowsPerBand
        val end = l + rowsPerBand
        while (l < end && a(l) == b(l)) l += 1
        if (l == end) return band
        band += 1
      }
      -1
    }
    def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
      var eq = 0; var l = 0
      while (l < numHashes) { if (a(l) == b(l)) eq += 1; l += 1 }
      eq.toDouble / numHashes
    }
    val withRet = retention.isDefined
    require(!withRet || tsCol.isDefined,
      "retention needs tsCol (the event-time column the watermark tracks)")
    val retMs = retention.map(parseIntervalMs).getOrElse(0L)
    val input = (tsCol, retention) match {
      case (Some(t), Some(r)) => docs.withWatermark(t, r)
      case _ => docs
    }
    // raw watermarked column: see simhashPairsStream for why no expression
    val tsRaw = tsCol.map(col).getOrElse(lit(null).cast("timestamp"))
    val isStreaming = docs.isStreaming
    val sig = input.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorFunctions.minhash_lanes(
        graft.functions.VectorFunctions.word_shingle_hashes(col(textCol), k),
        numHashes).as("sig"),
      tsRaw.as("ts"))
    val banded = sig.select(col("id"), col("sig"), col("ts"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
                    x => x.cast("string"))), lit(b))
      }: _*)))
      .toDF("id", "sig", "ts", "band", "band_key")
      .as[(Long, Seq[Long], java.sql.Timestamp, Int, Long)]
    val timeout =
      if (withRet) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val paired = banded.groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (key: (Int, Long),
         it: Iterator[(Long, Seq[Long], java.sql.Timestamp, Int, Long)],
         state: GroupState[List[(Long, Seq[Long])]]) =>
          if (state.hasTimedOut) { // bucket idle past retention
            state.remove()
            Iterator.empty
          } else {
            val thisBand = key._1
            var seen = state.getOption.getOrElse(Nil)
            var maxTs = Long.MinValue
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            it.foreach { case (id, sg, ts, _, _) =>
              if (ts != null) maxTs = math.max(maxTs, tsMillis(ts))
              seen.foreach { case (oid, osig) =>
                if (oid != id && firstMatchingBand(sg, osig) == thisBand) {
                  val est = estJaccard(sg, osig)
                  if (est >= minEst)
                    out += ((math.min(id, oid), math.max(id, oid), est))
                }
              }
              seen = ((id, sg) :: seen).take(maxPerBucket)
            }
            state.update(seen)
            if (withRet && isStreaming)
              state.setTimeoutTimestamp(math.max(
                maxTs + retMs, state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
    paired.toDF("id_a", "id_b", "est_jaccard")
  }

  /** N-gram Jaccard dedup via a PREFIX-FILTERED inverted index (the
    * AllPairs/PPJoin candidate scheme): each shingle set is already sorted
    * in a global order (ascending hash — [[WordShingleHashes]]' contract),
    * and two sets with J ≥ t must share an element within their first
    * ⌊(1−t)·|set|⌋+1 elements — if every common element sat deeper in A's
    * order, A would carry > (1−t)·|A| elements B lacks, forcing J < t.
    * Indexing only prefixes keeps recall exact while cutting posting volume
    * ~(1−t)-fold and candidate pairs by orders of magnitude (round 2 indexed
    * every shingle: 112k candidates at sf0.1 vs the 476 true pairs; the
    * pair-explosion shuffle dominated the operator).
    *
    * The df cap stays as the 100 TB scale guard: a prefix shingle shared by
    * more than maxDf docs generates no pairs (quadratic-bucket protection —
    * a documented recall caveat on skewed vocabularies). MEASURED, not
    * hypothetical: the r12 sf1 sweep (50 k docs over a 31-word synthetic
    * vocabulary) pushed prefix buckets past the default cap and the capped
    * run silently missed ~1.1 k of 2.4 k true pairs — the simhash-cap
    * defect class. Correctness gates therefore run `maxDf = Long.MaxValue`
    * (exact-recall mode); production sizes the cap for its vocabulary.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, maxDf: Long = 50,
                        threshold: Double = 0.8): DataFrame = {
    // shingle sets as sorted distinct 64-bit hashes throughout (see
    // minhashPairs): the persisted working set, the posting explode, and
    // the verify joins all carry longs, never shingle strings
    val sh = OpCaches.register(docs.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.word_shingle_hashes(col(textCol), k).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)) // reused: posting + 2 verify joins
    // Tight prefix bound in EXACT integer arithmetic (the containmentPairs
    // form, ADVICE r9): ⌊n·(1−t)⌋+1 ≡ n − ⌈t·n⌉ + 1 in exact math, but the
    // floating form floor(n·(1−t))+1 loses one prefix slot whenever n·(1−t)
    // is integral (IEEE 1−0.8 = 0.19999…), silently dropping
    // exactly-at-threshold pairs whose only shared shingle is the last
    // prefix slot. ⌈n·tPpm/1e6⌉ in the same ppm base the verify uses.
    def floorDivNN(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val tPpm = math.round(threshold * 1000000)
    val nSh = size(col("sh")).cast("long")
    val prefixLen =
      (nSh - floorDivNN(nSh * tPpm + lit(999999L), lit(1000000L)) + 1)
        .cast("int")
    val posting = sh.select(col("id"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("shingle"))
    val cand = posting
      .groupBy("shingle")
      .agg(array_sort(collect_set(col("id"))).as("ids"))
      .where(size(col("ids")).between(2, maxDf))
      // lazy in-bucket pair expansion via the OrderedPairs Generator (the
      // nested transform/flatten/explode HOF chain is interpreted)
      .select(graft.functions.VectorFunctions.ordered_pairs(col("ids")))
      .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Asymmetric shingle CONTAINMENT pairs (Broder 1997's other
    * resemblance measure): |A∩B| / |A| ≥ threshold flags doc A as
    * (near-)INCLUDED in doc B — the quote-inclusion / partial-copy
    * detector symmetric Jaccard structurally misses (a 20-word excerpt
    * inside a 500-word article has Jaccard ≈ 0.04 but containment ≈ 1).
    * The score is exact integer ppm (intersection COUNT from the
    * codegen'd sorted-merge kernel, floor-divided by |A|) — no double
    * reconstruction from a ratio.
    *
    * Candidates: A-side prefix filter (a pair at containment t must
    * share one of A's first ⌊n·(1−t)⌋+1 sorted shingles) joined against
    * the FULL posting list of the container side, whose hot shingles
    * are df-capped — the [[minhashPairs]] recall trade, documented: a
    * contained doc whose entire prefix is df-hot can be missed at tight
    * caps; gates run with the cap off (exact-recall mode) and
    * production picks the cap. A cheap size prefilter (|B| ≥ t·|A|)
    * runs before the kernel.
    *
    * Returns (id_a = contained, id_b = container, inter, n_a,
    * containment_ppm) for ORDERED pairs, both directions when both
    * clear the threshold (mutual containment = exact duplicate).
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       k: Int = 3, maxDf: Long = 50,
                       threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    def floorDivNN(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val tPpm = math.round(threshold * 1000000)
    val sh = OpCaches.register(docs.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.word_shingle_hashes(col(textCol), k)
        .as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // Tight prefix bound in EXACT integer arithmetic (ADVICE r8): a pair
    // at containment ≥ t must share one of A's first n − ⌈t·n⌉ + 1 sorted
    // shingles. The former floor(n·(1−t))+1 form lost one slot whenever
    // n·(1−t) was integral (IEEE 1−0.8 = 0.19999…), silently dropping
    // exactly-at-threshold pairs whose shared shingle was A's smallest —
    // even in exact-recall (cap-off) mode. ⌈n·tPpm/1e6⌉ via the same ppm
    // integer base the final filter uses.
    val nSh = size(col("sh")).cast("long")
    val prefixLen =
      (nSh - floorDivNN(nSh * tPpm + lit(999999L), lit(1000000L)) + 1)
        .cast("int")
    val pref = sh.select(col("id").as("id_a"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("shingle"))
    val full = sh.select(col("id").as("id_b"),
      explode(col("sh")).as("shingle"))
    val capped =
      if (maxDf == Long.MaxValue) full
      else full.join(
        full.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxDf).select(col("shingle")),
        Seq("shingle"))
    val cand = pref.join(capped, Seq("shingle"))
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .where(size(col("sh_b")).cast("long") * 1000000L >=
             size(col("sh_a")).cast("long") * tPpm)
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.sorted_intersect_count(
          col("sh_a"), col("sh_b")).as("inter"),
        size(col("sh_a")).cast("long").as("n_a"))
      .withColumn("containment_ppm",
        floorDivNN(col("inter") * 1000000L, col("n_a")))
      .where(col("containment_ppm") >= tPpm)
  }

  /** Connected components over near-dup pairs — the clustering step a real
    * dedup pipeline runs between pair detection and survivor selection:
    * near-duplication chains (A~B, B~C with A≁C), and keeping one doc per
    * PAIR over-deletes chains while min-per-CLUSTER keeps exactly one
    * representative. Distributed min-label propagation: every node starts
    * labeled with itself; each iteration takes the min of its own and its
    * neighbors' labels; converges in diameter(cluster) iterations — small
    * for dup clusters (chains of a few docs), and `maxIters` bounds the
    * pathological case. Each iteration is one join + one min-aggregate on
    * (node, label) longs — no adjacency lists materialize, so the shape
    * survives 100 TB corpora with billions of tiny clusters.
    *
    * Returns (id, cluster_id = min id reachable); only ids appearing in
    * `pairs` are returned (singletons cluster as themselves trivially).
    */
  /** Ordering over collected (external-representation) id values, used by
    * the driver union-find path of [[clusters]] so "min id wins" matches
    * Catalyst's `min`/`least` on the same column type. Fails fast on id
    * types with no natural order instead of mislabeling.
    */
  private def externalIdOrdering(
      dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].longValue())
      case FloatType | DoubleType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue())
      case _: DecimalType =>
        Ordering.by((x: Any) => x.asInstanceOf[java.math.BigDecimal])
      case StringType =>
        Ordering.by((x: Any) => x.asInstanceOf[String])
      case DateType =>
        Ordering.by((x: Any) => x.asInstanceOf[java.sql.Date].getTime)
      case TimestampType | TimestampNTZType =>
        // java.sql.Timestamp / java.time.LocalDateTime — both Comparable
        new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            a.asInstanceOf[Comparable[Any]].compareTo(b)
        }
      case other => throw new IllegalArgumentException(
        s"clusters: unsupported id type $other — ids must be numeric, " +
        "string, date, or timestamp")
    }
  }

  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIters: Int = 20,
               maxDriverEdges: Long = 5000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Id-type generic: labels keep the input id type (long ids stay long,
    // string doc ids stay strings — no silent null-cast). Both the
    // distributed min-label loop (Catalyst `least`/`min` order any atomic
    // type) and the driver union-find (external-value Ordering below) are
    // type-agnostic; the only requirement is that the two id columns share
    // a type, which the struct-array coercion enforces at analysis time.
    val idType = pairs.schema(pairs.schema.fieldIndex(idA)).dataType
    // Symmetrize with ONE pass over `pairs`: a union of two selects would
    // execute the pair-detection subtree (LSH banding + verify — the
    // expensive part) twice, once per branch. The explode is narrow and
    // feeds the same distinct.
    val edges = pairs.select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst"))
      )).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Size the loop's shuffles from the measured edge count: the edge set
    // is the dup-pair graph — orders of magnitude smaller than the corpus —
    // and the iteration cost is dominated by per-stage task overhead when
    // the session-wide partition count (sized for corpus scans) is applied
    // to a few thousand edge rows. ~500k edges per partition, capped at
    // the session default so a 100 TB pair graph still fans out fully.
    // Hybrid execution: below `maxDriverEdges` the whole graph fits on the
    // driver comfortably (5M edges ≈ 80 MB of longs) and a single
    // union-find pass replaces O(diameter) shuffle rounds — the pair graph
    // is the heavy-hitter tail of the corpus, usually minuscule even when
    // the corpus is 100 TB. Past the threshold the distributed min-label
    // loop below takes over, so the operator never depends on the graph
    // fitting anywhere. Both paths produce identical labels
    // (cluster_id = min member id; spec-checked against each other).
    // The limit guard makes the probe ONE action: it returns at most
    // maxDriverEdges+1 rows, so an over-threshold graph costs a bounded
    // collect before falling through to the distributed loop (which then
    // counts the persisted frame it would have materialized anyway).
    val probe = maxDriverEdges.min(Int.MaxValue - 1L).toInt
    val e = edges.limit(probe + 1).collect()
    if (e.length <= maxDriverEdges) {
      edges.unpersist()
      // Ordering over EXTERNAL (collected) values of the id column — the
      // union-by-min invariant needs "smaller id wins" for whatever type
      // the caller keyed documents by. Unsupported types fail fast here
      // rather than emitting garbage labels.
      implicit val ord: Ordering[Any] = externalIdOrdering(idType)
      val parent = new scala.collection.mutable.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      e.foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by min id keeps labels = component minimum
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      val rows = parent.keys.map(id =>
        org.apache.spark.sql.Row(id, find(id))).toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 500000 + 1)),
        schema)
    }
    val nEdges = edges.count() // exact size; materializes the persist fully
    val defaultPar =
      spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(200)
    val loopPar = math.max(1L, math.min(defaultPar.toLong, nEdges / 500000L + 1L)).toInt
    val prevPar = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopPar)
    try {
      // Per-round barrier is localCheckpoint(true), NOT persist: each
      // round reads `labels` twice (neighbor-min join + pointer jump), so
      // a persisted-but-unbarriered loop doubles the logical tree per
      // round — the measured iterative-self-join analysis blowup. The
      // eager checkpoint truncates lineage to a LogicalRDD (blocks are
      // weak-referenced; the ContextCleaner reclaims superseded rounds).
      // Stated trade: truncated lineage is NOT recomputable — on a
      // cluster, losing an executor holding checkpoint blocks fails the
      // query instead of recomputing (rerun-on-failure, the standard
      // localCheckpoint contract). The driver union-find path above
      // covers every graph ≤ maxDriverEdges with no such exposure; this
      // loop is the >5M-edge escape where O(log d) rounds beat both the
      // recompute risk and the exponential analysis tree.
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id"))
        .localCheckpoint(true)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        val nbMin = edges
          .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), Seq("dst"))
          .groupBy(col("src").as("id"))
          .agg(min(col("nlbl")).as("nmin"))
        // carry the old label through, so the convergence check is a filter
        // on the checkpointed next frame rather than a second join per round
        val hop = labels.join(nbMin, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"),
            col("lbl").as("old"))
        // POINTER JUMP (path halving): also adopt the current label's own
        // label. One-hop propagation alone converges in O(diameter)
        // rounds — a >maxIters-diameter chain (10⁶ near-identical docs
        // linked pairwise is exactly that shape) would previously exit
        // the round cap SILENTLY MISLABELED (the fixed-cap defect class,
        // caught by this round's cap audit). With the jump, label chains
        // halve per round: maxIters = 20 covers diameter ~2²⁰, and the
        // convergence require below turns any residue loud.
        val jumped = hop.join(
            labels.select(col("id").as("lbl"), col("lbl").as("jlbl")),
            Seq("lbl"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"),
            col("old"))
        val next = jumped.localCheckpoint(true)
        changed = next.where(col("lbl") =!= col("old")).count()
        labels = next.select(col("id"), col("lbl"))
        iter += 1
      }
      edges.unpersist()
      require(changed == 0,
        s"clusters: min-label loop did not converge in $maxIters rounds " +
          s"($changed labels still moving) — component diameter exceeds " +
          s"2^$maxIters; raise maxIters")
      labels.select(col("id"), col("lbl").as("cluster_id"))
    } finally {
      // every loop shuffle has executed (each iteration ends in a count on
      // the persisted frame), so restoring the session conf here cannot
      // retroactively re-plan them; the returned frame reads the persist
      prevPar match {
        case Some(p) => spark.conf.set("spark.sql.shuffle.partitions", p)
        case None    => spark.conf.unset("spark.sql.shuffle.partitions")
      }
    }
  }

  /** End-to-end near-dup removal: given the corpus and its near-dup pairs
    * (from any of the pair generators above), cluster the pairs, keep ONE
    * representative per cluster, and return the surviving corpus rows.
    * `prefer` ranks candidates within a cluster (e.g. longest text, best
    * quality score); ties and the default fall back to the smallest id, so
    * selection is always deterministic.
    *
    * Scale shape: the window ranks only CLUSTERED docs (the inner join with
    * the label frame — a small slice of a 100 TB corpus, proportional to
    * the dup rate), never the whole corpus; the untouched majority flows
    * through a single left-anti hash join on the 8-byte id. Label frames
    * are small relative to the corpus, so AQE turns both joins into
    * broadcasts when they fit.
    */
  def canonicalize(corpus: DataFrame, pairs: DataFrame,
                   idCol: String = "doc_id",
                   prefer: Seq[Column] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusters(pairs).withColumnRenamed("id", idCol)
    val order = prefer :+ col(idCol).asc
    val reps = corpus.join(labels, Seq(idCol))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(order: _*)))
      .where(col("__rn") === 1)
      .drop("__rn", "cluster_id")
    val untouched = corpus.join(labels.select(col(idCol)), Seq(idCol), "left_anti")
    untouched.unionByName(reps)
  }

  /** Incremental exact dedup for a live ingestion pipeline: keep rows of
    * `incoming` whose normalized text is not already in `corpus`, and
    * deduplicate within the batch itself (smallest id wins). The corpus
    * side reduces to a distinct 8-byte hash set before the join — the
    * 100 TB corpus contributes hashes, never documents, and the anti join
    * shuffles only (hash, id) pairs from the small incoming batch.
    */
  def incrementalExact(incoming: DataFrame, corpus: DataFrame,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val seen = corpus.select(xxhash64(col(textCol)).as("__h")).distinct()
    val inBatch = incoming.withColumn("__h", xxhash64(col(textCol)))
    val batchReps = inBatch
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
    inBatch.join(batchReps, Seq("__h", idCol))
      .join(seen, Seq("__h"), "left_anti")
      .drop("__h")
      // a batch can carry byte-identical duplicate rows; the join back to
      // the representative (hash, id) matches every copy, so collapse them
      // — one distinct over batch-sized survivors, not the corpus
      .distinct()
  }

  /** Span-level exact dedup — the line/paragraph dedup of C4-style
    * pipelines, at this corpus's granularity: split each document into
    * consecutive `spanWords`-word chunks, count each chunk's document
    * frequency corpus-wide, remove chunks present in more than `maxDocFreq`
    * documents (boilerplate: headers, footers, license blocks), and
    * reassemble the remaining chunks in their original order. Returns
    * (id, clean_text, n_spans_kept) for EVERY input document — a fully
    * boilerplate document survives with empty text, so the operator is a
    * per-document rewrite, not a filter.
    *
    * At 100 TB: the frequency count shuffles (60-bit span hash, id) pairs
    * with partial aggregation — never span text; the frequent-span set is
    * the heavy-hitter tail (tiny in practice, df > maxDocFreq), so
    * size-based planning broadcasts the anti join and the corpus never
    * shuffles for filtering; only the rebuild groups by document id. The
    * engine-portable md5-derived hash keeps the output
    * DuckDB-oracle-checkable.
    */
  def dedupSpans(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id", spanWords: Int = 8,
                 maxDocFreq: Long = 2): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    val t = filter(split(col(textCol), " "), x => x =!= "")
    val nSpans = ceil(size(t).cast("double") / spanWords).cast("int")
    val spanArr = when(size(t) > 0,
      transform(sequence(lit(0), nSpans - 1),
        i => array_join(slice(t, i * spanWords + 1, lit(spanWords)), " ")))
      .otherwise(array().cast("array<string>"))
    val spans = docs
      .select(col(idCol).as("id"), posexplode(spanArr))
      .toDF("id", "pos", "span")
      .withColumn("h", Pipeline.portableHash60(col("span")))
      .persist(StorageLevel.MEMORY_AND_DISK) // reused: freq count + rebuild
      .transform(OpCaches.register)
    val frequent = spans
      .groupBy(col("h"))
      .agg(count_distinct(col("id")).as("df"))
      .where(col("df") > maxDocFreq)
      .select(col("h"))
    // No broadcast HINT: the frequent-span set is usually the tiny
    // heavy-hitter tail and size-based planning broadcasts it on its own,
    // but df > maxDocFreq does not HARD-bound it — a pathologically
    // duplicated corpus falls back to a shuffled anti join instead of
    // OOMing the driver on a forced broadcast.
    val kept = spans.join(frequent, Seq("h"), "left_anti")
    val rebuilt = kept
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span")), " ").as("clean_text"),
        count(lit(1)).cast("long").as("n_spans_kept"))
    docs.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
              coalesce(col("clean_text"), lit("")).as("clean_text"),
              coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"))
  }

  /** Arbitrary-length duplicate SUBSTRING removal — the suffix-array
    * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", ExactSubstr), re-expressed distributed:
    * any word sequence of ≥ `minTokens` tokens that occurs more than
    * once ANYWHERE in the corpus (across documents or repeated within
    * one) is removed from every occurrence except the globally first
    * (min (doc, position)). Where [[dedupSpans]] hashes FIXED
    * non-overlapping chunks (the C4 recipe — a duplicate misaligned
    * with the chunk grid escapes), this slides a window over every
    * position, so duplicated passages are caught at any offset and at
    * any length ≥ `minTokens` (a length-L copy is L−k+1 overlapping
    * duplicated windows; their union covers exactly the passage).
    *
    * Equivalence to the suffix-array formulation: a suffix array finds
    * maximal repeats ≥ k directly; here a position is removable iff its
    * k-window recurs, and UNION coverage of removable windows equals the
    * union of all duplicated substrings of length ≥ k (every length-≥k
    * repeat is a run of repeating k-windows and vice versa). What the
    * approximation gives up is only the keeper's contiguity guarantee:
    * each WINDOW keeps its own globally-first occurrence, so when
    * partial overlaps tangle (the same window recurring in 3+ contexts),
    * the surviving copy of a long passage is per-window rather than
    * per-passage — for verbatim boilerplate (the mass of real duplicate
    * text) keeper sites coincide and the result matches the suffix-array
    * answer exactly.
    *
    * Scale shape: ONE token-volume shuffle of (hash, doc, pos) triples
    * into a partial-agg count+min — the distributed stand-in for
    * suffix-array construction — then the window stream (recomputed
    * narrow, cheaper than caching token-volume rows) equi-joins the
    * duplicated-hash table (size-based broadcast when the duplicate tail
    * is small; AQE decides), and removable positions reduce per doc
    * (bounded by doc length). The rebuild is the codegen'd linear
    * [[org.apache.spark.sql.graftfn.RemoveCoveredTokens]] sweep. The
    * engine-portable md5-derived window hash keeps the whole output
    * DuckDB-oracle-checkable.
    *
    * Returns (id, clean_text, n_tokens_removed) for EVERY input document
    * — clean_text is the surviving tokens single-space joined (documents
    * shorter than `minTokens` pass through whitespace-normalized).
    */
  def dedupSubstrings(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id",
                      minTokens: Int = 8): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val k = minTokens
    val base = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    def wins = base.select(col("id"),
        posexplode(graft.functions.VectorFunctions
          .word_ngram_hashes60_pos(col("__t"), k)))
      .toDF("id", "pos", "h")
    val dups = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col("id"), col("pos"))).as("__keep"))
      .where(col("__occ") >= 2)
      .select(col("h"), col("__keep.id").as("__kid"),
        col("__keep.pos").as("__kpos"))
    val removable = wins.join(dups, Seq("h"))
      .where(col("id") =!= col("__kid") || col("pos") =!= col("__kpos"))
      .select(col("id"), col("pos"))
    rebuildFromRemovable(base, removable, idCol, k)
  }

  /** Per-PASSAGE keeper face of [[dedupSubstrings]] — opt-in exact
    * contiguity (the one documented divergence of the default face from
    * the suffix-array answer, reference Lee et al. 2022 ExactSubstr).
    * Same duplicated-window detection, but keeper sites are promoted
    * from single windows to their ISLANDS: a maximal run of consecutive
    * duplicated window positions survives IN FULL wherever it contains
    * at least one globally-first (min (doc, pos)) window, and is removed
    * whole where it contains none. Every duplicated window's keeper
    * therefore survives inside one CONTIGUOUS passage — tangled partial
    * overlaps (the same window recurring in 3+ contexts) can no longer
    * shred the surviving copy across documents, which is exactly the
    * case the default per-window face gives up (Round8Spec pins it).
    * The trade is bounded over-keep: the keeper's whole island survives,
    * so neighboring duplicated windows in that one island are kept too
    * (≤ one island per keeper; verbatim boilerplate — coinciding keeper
    * sites — is bit-identical to the default face).
    *
    * Scale shape: identical token-volume count+min shuffle as
    * [[dedupSubstrings]]; the island pass adds ONE extra shuffle over
    * the duplicated-window tail only (hash-partition by doc for the
    * rank; the per-(doc, island) keeper flag reuses that partitioning —
    * clustering by doc satisfies (doc, island), so no second exchange).
    */
  def dedupSubstringsKeepPassage(docs: DataFrame, textCol: String = "text",
                                 idCol: String = "doc_id",
                                 minTokens: Int = 8): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    import org.apache.spark.sql.expressions.Window
    val k = minTokens
    val base = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    def wins = base.select(col("id"),
        posexplode(graft.functions.VectorFunctions
          .word_ngram_hashes60_pos(col("__t"), k)))
      .toDF("id", "pos", "h")
    val dups = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col("id"), col("pos"))).as("__keep"))
      .where(col("__occ") >= 2)
      .select(col("h"), col("__keep.id").as("__kid"),
        col("__keep.pos").as("__kpos"))
    val marked = wins.join(dups, Seq("h"))
      .select(col("id"), col("pos"),
        when(col("id") === col("__kid") && col("pos") === col("__kpos"), 1)
          .otherwise(0).as("__kp"))
    // gaps-and-islands: consecutive duplicated positions share
    // (pos - rank); both windows run on the one doc-keyed exchange
    val isl = marked.withColumn("__isl",
      col("pos") - row_number().over(
        Window.partitionBy(col("id")).orderBy(col("pos"))))
    val removable = isl
      .withColumn("__hk", max(col("__kp")).over(
        Window.partitionBy(col("id"), col("__isl"))))
      .where(col("__hk") === 0)
      .select(col("id"), col("pos"))
    rebuildFromRemovable(base, removable, idCol, k)
  }

  /** Shared tail of the substring-dedup faces: removable (id, pos)
    * window starts reduce per document (bounded by doc length) and the
    * codegen'd linear [[org.apache.spark.sql.graftfn.RemoveCoveredTokens]]
    * sweep rebuilds the surviving text.
    */
  private def rebuildFromRemovable(base: DataFrame, removable: DataFrame,
                                   idCol: String, k: Int): DataFrame = {
    val rem = removable.groupBy(col("id"))
      .agg(array_sort(collect_list(col("pos"))).as("__ps"))
    base.join(rem, Seq("id"), "left")
      .select(col("id"),
        graft.functions.VectorFunctions.remove_covered_tokens(
          filter(split(col("__t"), " "), x => x =!= ""),
          coalesce(col("__ps"), array().cast("array<int>")), k).as("__r"))
      .select(col("id").as(idCol),
        col("__r.clean_text").as("clean_text"),
        col("__r.n_removed").cast("long").as("n_tokens_removed"))
  }

  /** ENCODE-ONCE index for incremental substring dedup: the standing
    * corpus's DISTINCT `minTokens`-window hash set — one long per
    * distinct window. This is the reusable artifact [[dedupSubstrings]]
    * derives internally and discards: persist it once (the
    * `minhashIndex`/`bm25Index` write-once pattern) and every ingest
    * batch cleans against it WITHOUT re-scanning corpus text.
    *
    * Note the index holds ALL distinct corpus windows, not only the
    * duplicated ones: for batch-vs-corpus cleaning a window seen ONCE in
    * the corpus already has its keeper there, so any batch recurrence
    * must be removed — corpus-unique hashes are exactly the lookups that
    * decide that. Scale shape: one token-volume shuffle into a distinct
    * (the same partial-agg as the batch face's count), output ~one long
    * per corpus token; at 100 TB this lands hash-partitioned in the
    * warehouse next to the BM25 postings.
    */
  def substringIndex(corpus: DataFrame, textCol: String = "text",
                     minTokens: Int = 8): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    corpus.select(explode(graft.functions.VectorFunctions
        .word_ngram_hashes60_pos(col(textCol), minTokens)).as("h"))
      .distinct()
  }

  /** Index maintenance for the substring-dedup ingest loop (the
    * `ivfAppend` convention: increments never re-encode the corpus) —
    * after a batch is cleaned, its SURVIVING text joins the standing
    * corpus, so its windows must join the index or the next batch would
    * re-admit the same passages. Append ≡ rebuild exactly:
    * `substringIndexAppend(substringIndex(corpus), cleaned)` equals
    * `substringIndex(corpus ∪ cleaned)` as a set (distinct union of
    * distinct window-hash sets — spec-checked). Scale shape: one
    * batch-token-volume distinct unioned against the index; at rest the
    * merged table compacts into the same hash-partitioned layout.
    */
  def substringIndexAppend(index: DataFrame, cleanedBatch: DataFrame,
                           textCol: String = "clean_text",
                           minTokens: Int = 8): DataFrame =
    index.select(col("h"))
      .union(substringIndex(cleanedBatch, textCol, minTokens))
      .distinct()

  /** Incremental face of [[dedupSubstrings]] — clean an ingest batch
    * against a standing corpus's [[substringIndex]] without recomputing
    * the corpus pass (the ingest-time companion every other dedup family
    * already has: `incrementalExact*`, `incrementalMinhash`). Ingest-order
    * keeper convention, exactly as [[incrementalExact]]: a batch window
    * whose hash exists ANYWHERE in the corpus is removed from every batch
    * occurrence (its keeper already lives in the corpus); windows new to
    * the corpus but duplicated WITHIN the batch keep the batch's first
    * (min (doc, pos)) occurrence. Returns (id, clean_text,
    * n_tokens_removed) for every batch document.
    *
    * Scale shape: batch windows posexplode narrow and partial-agg into
    * the per-hash (occurrence count, min-(doc,pos) keeper) table — the
    * same combine as the batch face. The INDEX joins once, against that
    * DISTINCT-hash table (strictly smaller than the window stream), not
    * against per-occurrence rows — so the corpus side is scanned exactly
    * once per batch and its join partner is batch-distinct-sized. The
    * surviving flagged-hash table (corpus hits + batch dups only — the
    * duplicate tail, typically tiny) joins back onto the window stream
    * (AQE broadcasts it when small) to mark removable positions; per-doc
    * reduce + codegen'd linear rebuild as in the batch face. Corpus TEXT
    * never participates. For a no-shuffle index probe at extreme scale,
    * Bloom the index hashes and route positives through this exact join
    * ([[incrementalExactBloomVerified]] pattern) — not implemented until
    * a workload needs it.
    */
  def dedupSubstringsIncremental(incoming: DataFrame, corpusIndex: DataFrame,
                                 textCol: String = "text",
                                 idCol: String = "doc_id",
                                 minTokens: Int = 8): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val k = minTokens
    val base = incoming.select(col(idCol).as("id"), col(textCol).as("__t"))
    val wins = base.select(col("id"),
        posexplode(graft.functions.VectorFunctions
          .word_ngram_hashes60_pos(col("__t"), k)))
      .toDF("id", "pos", "h")
    val perH = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col("id"), col("pos"))).as("__keep"))
    val flagged = perH.join(
        corpusIndex.select(col("h")).distinct()
          .withColumn("__in", lit(true)),
        Seq("h"), "left")
      .where(col("__in").isNotNull || col("__occ") >= 2)
      .select(col("h"), coalesce(col("__in"), lit(false)).as("__hit"),
        col("__keep.id").as("__kid"), col("__keep.pos").as("__kpos"))
    substrIncrFinish(base, wins, flagged, idCol, k)
  }

  /** Shared back half of the incremental substring faces: the flagged
    * duplicate-tail hash table (h, hit-in-corpus, batch keeper) joins
    * back onto the window stream to mark removable positions, then the
    * per-doc reduce + codegen'd rebuild.
    */
  private def substrIncrFinish(base: DataFrame, wins: DataFrame,
                               flagged: DataFrame, idCol: String,
                               k: Int): DataFrame = {
    val removable = wins.join(flagged, Seq("h"))
      .where(col("__hit") ||
        col("id") =!= col("__kid") || col("pos") =!= col("__kpos"))
      .select(col("id"), col("pos"))
    rebuildFromRemovable(base, removable, idCol, k)
  }

  /** [[dedupSubstringsIncremental]] behind a broadcast Bloom prefilter —
    * the extreme-scale ingest probe, with the exact confirm pass folded
    * in ([[incrementalExactBloomVerified]] pattern): output ≡
    * [[dedupSubstringsIncremental]] bit for bit; `fpp` tunes only how
    * much of the index the confirm join touches, never the answer.
    *
    * Bloom-NEGATIVE batch hashes are definitely corpus-new (no false
    * negatives) and route straight to the batch-local duplicate logic
    * with NO index access; Bloom-POSITIVE hashes — true corpus hits plus
    * an ≤ fpp sliver — confirm EXACTLY against the index, so the index
    * join's probe side shrinks from the batch's full distinct-hash set
    * to the flagged sliver (for a mostly-novel batch, almost nothing).
    * The filter itself costs ~1.2·n·ln(1/fpp)/ln²2 bits over the index's
    * distinct windows and is built ONCE per index version — reuse it
    * across every batch of an ingest run, exactly like the index table.
    * With the default `expectedItems` (≤ 0) the sizing `index.count()`
    * adds one cheap extra index pass; production loops pass the known
    * cardinality from the previous append's bookkeeping.
    */
  def dedupSubstringsIncrementalBloom(incoming: DataFrame,
                                      corpusIndex: DataFrame,
                                      textCol: String = "text",
                                      idCol: String = "doc_id",
                                      minTokens: Int = 8,
                                      expectedItems: Long = -1L,
                                      fpp: Double = 0.001): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val k = minTokens
    val idx = corpusIndex.select(col("h")).distinct()
    val sized =
      if (expectedItems > 0L) expectedItems
      else math.max(1000L, idx.count())
    val bloom = idx.stat.bloomFilter(col("h"), sized, fpp)
    // codegen'd probe (graftfn.BloomFunctions): the filter rides the
    // stage's broadcast task binary as a plan reference object, and the
    // membership test stays inside whole-stage codegen
    val mightHave = (c: Column) => org.apache.spark.sql.graftfn
      .BloomFunctions.bloom_might_contain_long(c, bloom)
    val base = incoming.select(col(idCol).as("id"), col(textCol).as("__t"))
    val wins = base.select(col("id"),
        posexplode(graft.functions.VectorFunctions
          .word_ngram_hashes60_pos(col("__t"), k)))
      .toDF("id", "pos", "h")
    val perH = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col("id"), col("pos"))).as("__keep"))
      .withColumn("__maybe", mightHave(col("h")))
    val confirmed = perH.where(col("__maybe"))
      .join(idx.withColumn("__in", lit(true)), Seq("h"), "left")
      .select(col("h"), coalesce(col("__in"), lit(false)).as("__hit"),
        col("__occ"), col("__keep"))
    val negatives = perH.where(!col("__maybe"))
      .select(col("h"), lit(false).as("__hit"), col("__occ"), col("__keep"))
    val flagged = confirmed.unionByName(negatives)
      .where(col("__hit") || col("__occ") >= 2)
      .select(col("h"), col("__hit"),
        col("__keep.id").as("__kid"), col("__keep.pos").as("__kpos"))
    substrIncrFinish(base, wins, flagged, idCol, k)
  }

  /** Incremental NEAR-dup detection: which documents of an incoming batch
    * are ≥ `threshold` Jaccard-similar to SOME document of the
    * already-ingested corpus — the ingest-time companion of
    * [[minhashPairs]], completing the incremental family (exact / Bloom /
    * near-dup). Returns (incoming id, corpus id, jaccard) pairs.
    *
    * At 100 TB: the corpus contributes one (band_key, id) row per band —
    * its banded LSH index, buildable once and reusable across batches —
    * and the small batch's banded rows join against it on the band key.
    * Only candidate ids (batch-bounded) pull shingle sets for the fused
    * sorted-merge Jaccard verify, so corpus text never shuffles for
    * non-colliding documents. Banding is recall-1-in-practice at the
    * default 16×2 (P(miss | j ≥ 0.7) ≈ 2e-5), and the verify is exact.
    */
  def incrementalMinhash(incoming: DataFrame, corpus: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         k: Int = 3, bands: Int = 16, rowsPerBand: Int = 2,
                         threshold: Double = 0.7): DataFrame = {
    val idx = OpCaches.register(
      minhashIndex(corpus, textCol, idCol, k, bands * rowsPerBand)
        .persist(StorageLevel.MEMORY_AND_DISK))
    incrementalMinhashIndexed(incoming, idx, textCol, idCol, k,
      bands, rowsPerBand, threshold)
  }

  /** ENCODE-ONCE face for near-dup ingest: the corpus minhash index — one
    * row per document, (id, sh sorted-distinct shingle hashes, sig minhash
    * lanes). The shingling + minhash pass over corpus TEXT (the expensive
    * encode) runs exactly once; each ingest batch re-derives band keys from
    * `sig` (narrow integer arithmetic, no text). At 100 TB this lands as a
    * parquet/bucketed table and is reused across every batch; the inline
    * [[incrementalMinhash]] routes through this same builder, so indexed ≡
    * inline by construction. `numHashes` must equal the query-time
    * bands×rowsPerBand — lane coefficients are lane-count-specific, so
    * [[incrementalMinhashIndexed]] fails loud on a width mismatch rather
    * than banding garbage.
    */
  def minhashIndex(corpus: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", k: Int = 3,
                   numHashes: Int = 32): DataFrame =
    corpus
      .select(col(idCol).as("id"),
        graft.functions.VectorFunctions.word_shingle_hashes(col(textCol), k).as("sh"))
      .select(col("id"), col("sh"),
        graft.functions.VectorFunctions.minhash_lanes(col("sh"), numHashes).as("sig"))

  /** One (id, band_key) row per band, from a signature column. */
  private def bandKeysFromSig(df: DataFrame, bands: Int,
                              rowsPerBand: Int): DataFrame = {
    // loud guard: banding a signature of the wrong lane count would emit
    // well-formed but meaningless band keys (coefficients differ per lane
    // count) — zero recall with no error. raise_error costs nothing on the
    // happy path and names the mismatch on the broken one.
    val guarded = when(size(col("sig")) =!= bands * rowsPerBand,
      raise_error(concat(lit(s"minhash index width ${bands * rowsPerBand} required, got "),
                         size(col("sig")).cast("string")))).otherwise(col("sig"))
    df.select(col("id"),
      explode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          transform(slice(guarded, b * rowsPerBand + 1, rowsPerBand),
                    x => x.cast("string"))), lit(b))
      }: _*)).as("band_key"))
  }

  /** Ingest a batch against a prebuilt [[minhashIndex]]: the batch is
    * shingled + banded inline, the corpus side bands from its stored
    * signatures (no text pass), candidates verify with the fused
    * sorted-merge Jaccard against the stored shingle sets. Returns
    * (incoming id, corpus id, jaccard), jaccard ≥ threshold.
    */
  def incrementalMinhashIndexed(incoming: DataFrame, index: DataFrame,
                                textCol: String = "text",
                                idCol: String = "doc_id",
                                k: Int = 3, bands: Int = 16,
                                rowsPerBand: Int = 2,
                                threshold: Double = 0.7): DataFrame = {
    val shIn = OpCaches.register(
      minhashIndex(incoming, textCol, idCol, k, bands * rowsPerBand)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val cand = bandKeysFromSig(shIn, bands, rowsPerBand).toDF("id_a", "band_key")
      .join(bandKeysFromSig(index, bands, rowsPerBand).toDF("id_b", "band_key"),
            Seq("band_key"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(shIn.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(index.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .where(least(size(col("sh_a")), size(col("sh_b"))).cast("double") /
             greatest(size(col("sh_a")), size(col("sh_b"))) >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.sorted_jaccard(
          col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Bloom-filter incremental dedup — the 100 TB face of
    * [[incrementalExact]]. When the already-ingested corpus is too large
    * for its distinct hash set to broadcast (an anti-join would shuffle
    * the batch against a corpus-sized build side), fold the corpus's text
    * hashes into a driver-aggregated Bloom filter once — `expectedItems`
    * at `fpp` costs ~1.2·n·ln(1/fpp)/ln²2 bits, e.g. ~1.8 GB for 10⁹ docs
    * at 0.1% — broadcast it, and probe per incoming document (a narrow
    * map, no shuffle of either side).
    *
    * Trade-off, stated plainly: no false negatives (every true duplicate
    * IS dropped), but a false-positive rate ≤ fpp of NEW documents is
    * wrongly dropped. That loss budget is the standard corpus-ingest
    * bargain; when exactness matters, route the survivors through
    * [[incrementalExact]] against only the Bloom-positive corpus shard.
    * In-batch duplicates collapse to the smallest id exactly as in
    * [[incrementalExact]].
    *
    * `expectedItems` sizes the filter; when not supplied (≤ 0) it is
    * derived from `corpus.count()` — one extra cheap job, vs the silent
    * failure mode of a fixed default: an undersized filter saturates and
    * the REAL false-positive rate climbs far above `fpp`, dropping
    * genuinely new documents without any error. Callers who know the
    * corpus cardinality (e.g. from the previous ingest round's bookkeeping)
    * pass it explicitly and skip the count.
    */
  def incrementalExactBloom(incoming: DataFrame, corpus: DataFrame,
                            textCol: String = "text",
                            idCol: String = "doc_id",
                            expectedItems: Long = -1L,
                            fpp: Double = 0.001): DataFrame = {
    val sized =
      if (expectedItems > 0L) expectedItems
      // floor of 1000 keeps the filter sane on tiny/empty corpora
      else math.max(1000L, corpus.count())
    val bloom = corpus.stat.bloomFilter(xxhash64(col(textCol)),
      sized, fpp)
    val seen = (c: Column) => org.apache.spark.sql.graftfn
      .BloomFunctions.bloom_might_contain_long(c, bloom)
    val inBatch = incoming.withColumn("__h", xxhash64(col(textCol)))
    val batchReps = inBatch
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
    inBatch.join(batchReps, Seq("__h", idCol))
      .where(!seen(col("__h")))
      .drop("__h")
      .distinct() // byte-identical duplicate rows, as in incrementalExact
  }

  /** [[incrementalExactBloom]] with the exact confirm pass folded in —
    * the "when exactness matters" route from that operator's docstring as
    * one operator: Bloom-NEGATIVE incoming docs are definitely new (no
    * false negatives), and Bloom-POSITIVE docs — true duplicates plus an
    * ≤ fpp sliver of new docs — are re-checked EXACTLY against only the
    * corpus shard whose text hashes appear in the flagged batch. Output
    * ≡ [[incrementalExact]] bit for bit; fpp now tunes only how much
    * corpus the confirm join touches, never the answer.
    *
    * Scale shape: the corpus streams once through the Bloom build and
    * once through a hash equi-join against the (small) flagged-hash set;
    * incoming text never shuffles except the flagged sliver's confirm
    * anti-join. With the default `expectedItems` (≤ 0) there is a THIRD
    * corpus pass — the sizing `corpus.count()` (a metadata-cheap count
    * job, but a full scan on a non-parquet source); production ingest
    * loops should pass the cardinality from the previous round's
    * bookkeeping so the corpus really does stream just twice.
    */
  def incrementalExactBloomVerified(incoming: DataFrame, corpus: DataFrame,
                                    textCol: String = "text",
                                    idCol: String = "doc_id",
                                    expectedItems: Long = -1L,
                                    fpp: Double = 0.001): DataFrame = {
    val sized =
      if (expectedItems > 0L) expectedItems
      else math.max(1000L, corpus.count())
    val bloom = corpus.stat.bloomFilter(xxhash64(col(textCol)), sized, fpp)
    val seen = (c: Column) => org.apache.spark.sql.graftfn
      .BloomFunctions.bloom_might_contain_long(c, bloom)
    val inBatch = incoming.withColumn("__h", xxhash64(col(textCol)))
    val batchReps = inBatch
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
    val reps = inBatch.join(batchReps, Seq("__h", idCol)).distinct()
    val clean = reps.where(!seen(col("__h")))
    val flagged = reps.where(seen(col("__h")))
    // corpus shard = texts whose hash the flagged batch carries (tiny at
    // low fpp); equi-join on the 8-byte hash, then exact text anti-join
    val shardTexts = corpus
      .select(col(textCol), xxhash64(col(textCol)).as("__ch"))
      .join(flagged.select(col("__h").as("__ch")).distinct(), Seq("__ch"),
        "left_semi")
      .select(col(textCol))
    flagged.join(shardTexts, Seq(textCol), "left_anti")
      .unionByName(clean)
      .drop("__h")
  }

  /** SemDeDup-style clustered embedding dedup: k-means-cluster the corpus
    * embeddings (deterministic driver-side fit on a capped sample, one
    * narrow assignment map), generate candidate pairs only WITHIN each
    * cluster, and cosine-verify exactly. Complements [[embeddingPairs]]:
    * LSH candidate cost is per-table bucket collisions; clustering makes
    * candidate cost Σ|cell|² with |cell| ≈ n/k, the economical shape when
    * near-dups are semantically concentrated (the SemDeDup observation).
    * Precision is exact (cosine-verified); recall misses only pairs split
    * across cells — `nclusters = 1` closes that (exact all-pairs through
    * the identical plan, the correctness-gate mode).
    *
    * Recall caveat: cells larger than `cap` (default [[maxBucketFanout]])
    * emit only star pairs to the cell-min id (see [[bucketPairs]]) — a
    * skewed Voronoi cell past the cap degrades pair output to a spanning
    * set. Gate/exact consumers pass `cap = Int.MaxValue` (recall-1 mode,
    * the simhashPairs precedent); production keeps the documented cap.
    */
  def semanticPairs(emb: DataFrame, vecCol: String = "embedding",
                    idCol: String = "vec_id", nclusters: Int = 16,
                    threshold: Double = 0.95, seed: Long = 42L,
                    maxTrain: Int = 10000,
                    cap: Int = maxBucketFanout): DataFrame =
    semanticPairs(emb,
      Similarity.fitIvf(emb, nclusters, vecCol, seed, maxTrain.toLong),
      vecCol, idCol, threshold, cap)

  /** Pre-trained-centroid overload (fit once with [[Similarity.fitIvf]],
    * reuse across batches — same fit-once shape as the ANN quantizers).
    * Same hot-cell `cap` contract as the primary overload — explicit
    * here (Scala bars default args on two overloads of one name):
    * production passes [[maxBucketFanout]], gates pass `Int.MaxValue`.
    */
  def semanticPairs(emb: DataFrame, model: Similarity.IvfModel,
                    vecCol: String, idCol: String,
                    threshold: Double,
                    cap: Int): DataFrame = {
    val vecs = emb.select(col(idCol).as("id"),
                          col(vecCol).cast("array<double>").as("v"))
    val cell = udf(Similarity.nearestOf(model.centers) _)
    val assigned = vecs.select(col("id"), cell(col("v")).as("cell"))
    // dedupe off: each vector lives in exactly ONE Voronoi cell, so the
    // candidate stream is duplicate-free by construction (§2.4 — the
    // distinct was a full shuffle of the quadratic within-cell pairs)
    val cand = bucketPairs(assigned, Seq("cell"), cap, dedupe = false)
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              Similarity.cosine(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Embedding near-dup: banded random-hyperplane LSH (deterministic
    * seeds), cosine verification within buckets only. Multiple independent
    * tables fix the single-table recall gap: one 12-plane table catches a
    * θ-apart pair w.p. (1-θ/π)^12 (~28% at cos 0.95); with T tables a pair
    * is a candidate if ANY table collides — miss = (1-(1-θ/π)^p)^T, and
    * near-identical dups (θ→0) are caught w.p. →1. Precision stays exact
    * (candidates are cosine-verified), so extra tables only cost bucket
    * rows — (id, table, bucket) triples, never vectors.
    */
  def embeddingPairs(emb: DataFrame, vecCol: String = "embedding",
                     idCol: String = "vec_id", planes: Int = 12,
                     tables: Int = 4, threshold: Double = 0.95): DataFrame = {
    val sig = emb.select(col(idCol).as("id") +:
      (0 until tables).map(t =>
        Similarity.hyperplaneSignature(col(vecCol), planes, seed = 42 + t)
          .as(s"b$t")): _*)
    val banded = sig.select(col("id"),
      posexplode(array((0 until tables).map(t => col(s"b$t")): _*)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cand = bucketPairs(banded, Seq("table", "bucket"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              Similarity.cosine(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Normalized edit-distance similarity: `1 − lev(a,b)/max(|a|,|b|,1)`,
    * rounded to 6dp — identical in DuckDB (`levenshtein` has the same
    * unit-cost insert/delete/substitute semantics in both engines), so
    * linkage scores built on it stay oracle-checkable. The character-level
    * complement of [[recordLinkage]]'s word-set Jaccard: catches
    * transposed/misspelled FIELDS where token sets are blind
    * ("acme crop" vs "acme corp").
    */
  def editSimilarity(a: Column, b: Column): Column =
    round(lit(1.0) - levenshtein(a, b).cast("double") /
      greatest(length(a), length(b), lit(1)).cast("double"), 6)

  /** Exactness-preserving upper bound on [[editSimilarity]] from lengths
    * alone: `lev(a,b) ≥ |len(a) − len(b)|`, so
    * `sim ≤ 1 − |Δlen|/max(len)`. Filter `editBound(a,b) >= t` BEFORE
    * scoring a `sim >= t` threshold — the O(1) gate skips the O(n·m)
    * DP for length-mismatched candidates without changing the result
    * (the [[ngramJaccardPairs]] length-ratio prefilter, for edit
    * distance; it cut the sorted-neighborhood gate's scoring 5-10× at
    * sf0.1).
    */
  def editBound(a: Column, b: Column): Column =
    lit(1.0) - abs(length(a) - length(b)).cast("double") /
      greatest(length(a), length(b), lit(1)).cast("double")

  /** Thresholded [[editSimilarity]] through the codegen'd Ukkonen band
    * DP (`graftfn.BandedLevenshtein`): a `sim >= minSim` consumer only
    * needs distances up to `(1−minSim)·maxlen`, so the kernel touches an
    * O(maxlen·k) band instead of the O(n·m) square and bails O(1) on
    * length-mismatched pairs. Returns the exact rounded similarity when
    * it can still reach `minSim` (band margin +1 covers the 6dp rounding
    * boundary), null otherwise — result-identical to filtering the full
    * [[editSimilarity]] (spec-checked), 4× faster on the
    * sorted-neighborhood gate at sf0.1.
    */
  def editSimilarityBounded(a: Column, b: Column, minSim: Double): Column = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"minSim must be in (0, 1], got $minSim")
    val maxl = greatest(length(a), length(b), lit(1))
    val k = (ceil(maxl.cast("double") * (1.0 - minSim)) + 1).cast("int")
    val lev = graft.functions.VectorFunctions.banded_levenshtein(a, b, k)
    when(lev <= k,
      round(lit(1.0) - lev.cast("double") / maxl.cast("double"), 6))
      .otherwise(lit(null).cast("double"))
  }

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo 1995)
    * — the OTHER classic blocking scheme: rank every record by a sort key
    * and pair each with its next `windowSize` neighbors. Where hash
    * blocking needs an exact shared value, the sort window catches
    * near-misses whose keys differ late in the string (typos, suffixes) —
    * run several passes with different keys for high recall.
    *
    * Returns (id_a, id_b, key_a, key_b) — id_a is the lower-ranked
    * record; score with [[editSimilarity]]/`sorted_jaccard` and feed
    * [[clusters]].
    *
    * Scale shape: the global rank comes from a range-partitioned sort +
    * `zipWithIndex` (deterministic for a sorted RDD — NOT a
    * single-partition window); each row explodes to `windowSize` probe
    * ranks and pairs via equi-join on rank. Only (id, key, rank) rows
    * shuffle.
    */
  def sortedNeighborhoodPairs(records: DataFrame, idCol: String,
                              sortKeyCol: String,
                              windowSize: Int): DataFrame =
    sortedNeighborhoodPairsImpl(records, idCol, sortKeyCol, windowSize,
      includeKeys = true)

  /** [[sortedNeighborhoodPairs]] with the key columns pruned BEFORE the
    * rank join — the candidate-generation face [[recordLinkageMultiPass]]
    * uses. The sort still orders by the full key (semantics unchanged),
    * but the ranked frame that persists and self-joins carries only
    * (id, rank): when the sort key is a document-sized text column the
    * full-face persist+join moves KBs per row that a pass feeding a
    * downstream scorer never reads.
    */
  private[ext] def sortedNeighborhoodIdPairs(records: DataFrame,
                                             idCol: String,
                                             sortKeyCol: String,
                                             windowSize: Int): DataFrame =
    sortedNeighborhoodPairsImpl(records, idCol, sortKeyCol, windowSize,
      includeKeys = false)

  private def sortedNeighborhoodPairsImpl(records: DataFrame, idCol: String,
                                          sortKeyCol: String,
                                          windowSize: Int,
                                          includeKeys: Boolean): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    val spark = records.sparkSession
    val sorted = records.select(col(idCol), col(sortKeyCol))
      .orderBy(col(sortKeyCol).asc, col(idCol).asc)
    val keptFields =
      if (includeKeys) sorted.schema.fields
      else sorted.schema.fields.take(1)
    val schema = org.apache.spark.sql.types.StructType(
      keptFields :+ org.apache.spark.sql.types.StructField(
        "__rk", org.apache.spark.sql.types.LongType, nullable = false))
    // both join sides read the rank; persist so the sort + zipWithIndex
    // (an RDD job, outside codegen) runs once, not once per side. The
    // RDD-backed frame defeats Catalyst column pruning, so unused key
    // columns are dropped HERE, before materialization.
    val ranked = OpCaches.register(spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        val base = if (includeKeys) r.toSeq else r.toSeq.take(1)
        org.apache.spark.sql.Row.fromSeq(base :+ i) }, schema)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val probeCols =
      col(idCol).as("id_a") +:
        (if (includeKeys) Seq(col(sortKeyCol).as("key_a")) else Nil) :+
        explode(sequence(col("__rk") + 1, col("__rk") + windowSize))
          .as("__rk2")
    val buildCols =
      col(idCol).as("id_b") +:
        (if (includeKeys) Seq(col(sortKeyCol).as("key_b")) else Nil) :+
        col("__rk").as("__rk2")
    val outCols =
      if (includeKeys)
        Seq(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
      else Seq(col("id_a"), col("id_b"))
    ranked.select(probeCols: _*)
      .join(ranked.select(buildCols: _*), Seq("__rk2"))
      .select(outCols: _*)
  }

  /** Multi-field record linkage (entity resolution): candidate pairs come
    * from blocking (records sharing `blockCols` values meet; nothing else
    * does — THE selectivity knob at scale), then each pair scores as the
    * weighted sum of per-field similarities:
    *   - `fuzzyFields`: word-set Jaccard over the field's tokens (the
    *     codegen'd sorted-merge kernel on portable hashes — exact, so the
    *     score is DuckDB-oracle-checkable);
    *   - `exactFields`: null-safe equality → 1.0 / 0.0.
    * Pairs at or above `threshold` (score rounded to 6dp — the
    * transcendental-free rounding contract) emit as (id_a, id_b, score).
    *
    * Feed the output to [[clusters]] + [[canonicalize]] for the full
    * merge: linkage is the pair-mining face of entity resolution, exactly
    * as [[minhashPairs]] is for near-dup text.
    *
    * Scale shape: ONE shuffle on the blocking key carries each record's
    * scoring payload (id, token-hash sets, exact fields) — full records
    * never shuffle — and every in-block pair scores inside that block
    * stage, before the threshold filter; no per-pair join runs. In-block
    * pairing is O(b²) per
    * block UNTIL b crosses [[maxBucketFanout]], after which the block
    * emits only O(b) star candidates anchored at its min id — measured
    * saturating (ScaleSpec: 10× the block size past the cap cost 1.5×
    * wall; the uncapped counterfactual is b(b-1)/2). The cap is a COST
    * guard, not a recall-preserving approximation here: unlike the
    * near-dup kernels (where a mega-bucket is near-identical content
    * and star transitivity reconstructs the cluster), a blocking key is
    * coarse — a true pair in a past-cap block surfaces only if one side
    * IS the block min or another pass finds it. FIXED-CARDINALITY
    * blocking keys (language, source, country) are therefore the
    * anti-pattern: blocks grow linearly with the corpus, cross the cap,
    * and recall silently degrades to the star's reach. Pick keys whose
    * cardinality grows with the data (phonetic name codes, sorted
    * token-prefix keys, zip+year), and pair every coarse pass with a
    * [[NeighborhoodBlocking]] pass — O(n·w) candidates at ANY corpus
    * size, no cap interaction — the implemented scale path
    * ([[recordLinkageMultiPass]]).
    */
  def recordLinkage(records: DataFrame, idCol: String,
                    blockCols: Seq[String],
                    fuzzyFields: Seq[(String, Double)],
                    exactFields: Seq[(String, Double)],
                    threshold: Double): DataFrame = {
    require(blockCols.nonEmpty, "recordLinkage needs blocking columns")
    recordLinkageMultiPass(records, idCol, Seq(KeyBlocking(blockCols)),
      fuzzyFields, exactFields, threshold)
  }

  /** One candidate-generation pass for [[recordLinkageMultiPass]]. */
  sealed trait BlockingPass

  /** Records sharing every `blockCols` value meet (equality-join
    * semantics: a null blocking key matches nothing). The single-pass
    * [[recordLinkage]] form. Blocks past [[maxBucketFanout]] degrade to
    * star candidates (see the [[recordLinkage]] scale-shape doc) — keys
    * must bound block size, or the pass needs a [[NeighborhoodBlocking]]
    * companion to own recall.
    */
  final case class KeyBlocking(blockCols: Seq[String]) extends BlockingPass {
    require(blockCols.nonEmpty, "KeyBlocking needs blocking columns")
  }

  /** Records within `windowSize` positions of each other in `sortKeyCol`
    * order meet ([[sortedNeighborhoodPairs]]) — catches near-misses that
    * defeat exact-key blocking (typo'd join keys, prefix-similar names).
    */
  final case class NeighborhoodBlocking(sortKeyCol: String,
                                        windowSize: Int) extends BlockingPass {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
  }

  /** Multi-pass record linkage: the union of each pass's candidate pairs
    * is scored ONCE with the shared fuzzy/exact field weights — the
    * standard production blocking recipe (an exact-key pass for the easy
    * mass + a sorted-neighborhood pass for near-miss keys), expressed as
    * one call. Candidates normalize to id_a < id_b and dedupe across
    * passes, so overlapping passes cost one score each. Scale shape is
    * per-pass candidate generation (each documented on its pass type)
    * plus one (id, token-hash set) scoring join over the deduped
    * candidates; a single [[KeyBlocking]] pass skips the join and scores
    * inside its block stage (the [[recordLinkage]] shape).
    */
  def recordLinkageMultiPass(records: DataFrame, idCol: String,
                             passes: Seq[BlockingPass],
                             fuzzyFields: Seq[(String, Double)],
                             exactFields: Seq[(String, Double)],
                             threshold: Double): DataFrame = {
    require(passes.nonEmpty, "recordLinkageMultiPass needs >= 1 pass")
    require(fuzzyFields.nonEmpty || exactFields.nonEmpty,
      "recordLinkage needs at least one scored field")
    val fz = fuzzyFields.zipWithIndex
    val ex = exactFields.zipWithIndex
    val keyCols = passes.collect { case KeyBlocking(cs) => cs }
      .flatten.distinct
    val side = records.select(
      (col(idCol).as("id") +: keyCols.map(col)) ++
        fz.map { case ((f, _), i) =>
          graft.functions.VectorFunctions
            .word_shingle_hashes(col(f), 1).as(s"fz$i") } ++
        ex.map { case ((f, _), i) => col(f).as(s"ex$i") }: _*)
    // Single-KeyBlocking callers ([[recordLinkage]], the gate rows) score
    // IN the block stage (r14, guide §8 "decide inline, move payloads
    // once"): the scoring payload (id, token-hash sets, exact fields)
    // rides the ONE blocking-key exchange, in-block pairs stream from the
    // collected (id-sorted) payload array through the same OrderedPairs
    // generator bucketPairs uses — the element type is generic — and the
    // threshold filter runs before anything else moves. The join shape
    // shuffled the payload through BOTH per-side scoring joins (2R) and
    // pushed the quadratic candidate stream through two more exchanges
    // (P id-pairs into the first join, P full a-side payloads into the
    // second) — the sf1-quadratic rows paid those two exchanges on their
    // largest intermediate. Pair set, scores and normalization are
    // identical: ids are unique per block (operator contract), the
    // id-first struct sort makes position order = id order (so id_a <
    // id_b exactly as before), past-cap blocks emit the same star pairs
    // anchored at the block-min id, and the score expression is
    // term-for-term the one the join path evaluated. Dirty input that
    // repeats an id in a block emits no (x, x) pair: both pair kinds drop
    // equal ids before scoring, as the join path's normalization does.
    passes match {
      case Seq(KeyBlocking(cs)) =>
        import org.apache.spark.sql.expressions.Window
        val pay = struct(col("id") +:
          (fz.map { case (_, i) => col(s"fz$i") } ++
           ex.map { case (_, i) => col(s"ex$i") }): _*)
        val w = Window.partitionBy(cs.map(col): _*)
        val base = side
          .where(cs.map(c => col(c).isNotNull).reduce(_ && _) &&
            col("id").isNotNull)
          .withColumn("__p", pay)
          .withColumn("__bn", count(lit(1)).over(w))
          .withColumn("__anchor", min(col("__p")).over(w))
        val smallPairs = base.where(col("__bn") <= maxBucketFanout)
          .groupBy(cs.map(col): _*)
          .agg(array_sort(collect_list(col("__p"))).as("arr"))
          .where(size(col("arr")) > 1)
          .select(graft.functions.VectorFunctions.ordered_pairs(col("arr")))
          .select(col("id_a").as("pa"), col("id_b").as("pb"))
          .where(col("pa.id") =!= col("pb.id"))
        val starPairs = base
          .where(col("__bn") > maxBucketFanout &&
            col("id") =!= col("__anchor.id"))
          .select(col("__anchor").as("pa"), col("__p").as("pb"))
        val inlineScore = (
          fz.map { case ((_, wt), i) =>
            graft.functions.VectorFunctions.sorted_jaccard(
              col(s"pa.fz$i"), col(s"pb.fz$i")) * wt } ++
          ex.map { case ((_, wt), i) =>
            when(col(s"pa.ex$i") <=> col(s"pb.ex$i"), wt).otherwise(0.0) })
          .reduce(_ + _)
        return smallPairs.union(starPairs)
          .select(col("pa.id").as("id_a"), col("pb.id").as("id_b"),
            round(inlineScore, 6).as("score"))
          .where(col("score") >= threshold)
      case _ => ()
    }
    val sidePruned = OpCaches.register(
      side.persist(StorageLevel.MEMORY_AND_DISK))
    val candByPass = passes.map {
      case KeyBlocking(cs) =>
        // null blocking keys match nothing; without the filter Spark's
        // groupBy would treat NULL as a regular value and pool EVERY
        // null-key record into one shared block — O(b²) pairs among
        // records that share no key at all.
        // dedupe off (r14, §2.4): a record carries ONE blocking-key
        // tuple, so a pair shares at most one block — bucketPairs'
        // distinct was a full shuffle of the quadratic candidate stream
        // with nothing to remove; cross-pass overlap is handled below.
        bucketPairs(
          sidePruned.select(col("id") +: cs.map(col): _*)
            .where(cs.map(c => col(c).isNotNull).reduce(_ && _)),
          cs, dedupe = false)
          .select(col("id_a"), col("id_b"))
      case NeighborhoodBlocking(sortKey, w) =>
        sortedNeighborhoodIdPairs(records.select(col(idCol), col(sortKey)),
          idCol, sortKey, w)
    }
    val normalized = candByPass.reduce(_ union _)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    // only overlap-capable pass mixes reach here (the single-KeyBlocking
    // case returned from the inline-scored path above): several passes,
    // or a sorted-neighborhood window (whose id order is unrelated to
    // id_a < id_b normalization), pay the one candidate dedup exchange
    // they actually need before the shared scoring joins.
    val cand = normalized.distinct()
    def renamed(suffix: String) = sidePruned.select(
      col("id").as(s"id$suffix") +:
        (fz.map { case (_, i) => col(s"fz$i").as(s"fz$i$suffix") } ++
         ex.map { case (_, i) => col(s"ex$i").as(s"ex$i$suffix") }): _*)
    val scored = cand
      .join(renamed("_a"), Seq("id_a"))
      .join(renamed("_b"), Seq("id_b"))
    val score = (
      fz.map { case ((_, w), i) =>
        graft.functions.VectorFunctions.sorted_jaccard(
          col(s"fz${i}_a"), col(s"fz${i}_b")) * w } ++
      ex.map { case ((_, w), i) =>
        when(col(s"ex${i}_a") <=> col(s"ex${i}_b"), w).otherwise(0.0) })
      .reduce(_ + _)
    scored.select(col("id_a"), col("id_b"), round(score, 6).as("score"))
      .where(col("score") >= threshold)
  }

  /** Dedup audit report: the cluster-size histogram a corpus owner reads
    * before committing to a dedup pass — how much is duplicated, in what
    * shapes (a few mega-clusters vs a long tail of pairs), and how many
    * documents canonicalization would remove. Singleton documents (in no
    * near-dup cluster) appear as the `cluster_size = 1` row, so `n_docs`
    * sums to the corpus size and the report is self-auditing.
    *
    * Per row: (cluster_size, n_clusters, n_docs, n_removable) where
    * n_removable = (size−1)·clusters — the docs a keep-one-per-cluster
    * canonicalization drops. Exact integer arithmetic; scale shape is
    * [[clusters]]' min-label propagation plus two tiny aggregations
    * (one row per distinct cluster SIZE at the end).
    */
  def dedupReport(corpus: DataFrame, pairs: DataFrame,
                  idCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sizes = clusters(pairs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).cast("long").as("sz"))
    val clustered = sizes.agg(coalesce(sum(col("sz")), lit(0L)))
      .first().getLong(0)
    val singletons = corpus.select(col(idCol)).distinct().count() - clustered
    // Negative ⇒ `pairs` references ids outside `corpus` (or null corpus
    // ids collapsed the distinct count): the report could no longer sum to
    // the corpus size, so fail loud instead of silently dropping the row.
    require(singletons >= 0L,
      s"dedupReport: pairs reference $clustered clustered ids but corpus " +
        s"has only ${clustered + singletons} distinct non-null ids — " +
        "pairs must be computed over (a subset of) this corpus")
    val hist = sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
    hist.unionByName(
        Seq((1L, singletons)).toDF("cluster_size", "n_clusters")
          .where(lit(singletons) > 0))
      .groupBy(col("cluster_size"))
      .agg(sum(col("n_clusters")).cast("long").as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))
      .orderBy(col("cluster_size"))
  }

  /** Corpus-level n-gram overlap report between two corpora — the
    * governance question BEFORE any per-doc action: "how much of crawl A
    * is already inside corpus B?" decides whether A is worth ingesting at
    * all, what a vendor's 'new' dataset actually adds, or how much two
    * dumps share. One row: distinct word-k-gram counts per side, the
    * shared count, both containments (|A∩B|/|A| and /|B| — asymmetric on
    * purpose: a small corpus can be fully contained in a big one that
    * barely notices) and Jaccard. Complements [[decontaminate]]/
    * `contaminationReport` (per-doc flags vs one corpus-level signal).
    *
    * Shape at 100 TB: each side's gram stream comes straight off its
    * scan (codegen'd `word_ngram_hashes60` — per-doc-distinct, sorted,
    * 60-bit portable hashes), then ONE shuffle on the gram hash with
    * map-side partial aggregation into side-membership bits, and a
    * scalar final aggregate. Nothing all-pairs, no join. Docs shorter
    * than k words contribute nothing (the kernel's contract).
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String = "text",
                    k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def grams(df: DataFrame, side: Int) = df
      .select(explode(graft.functions.VectorFunctions
        .word_ngram_hashes60(col(textCol), k)).as("g"))
      .select(col("g"), lit(side).as("s"))
    overlapReport(grams(a, 0).unionByName(grams(b, 1))
      .groupBy(col("g"))
      .agg(max(when(col("s") === 0, 1L).otherwise(0L)).as("inA"),
           max(when(col("s") === 1, 1L).otherwise(0L)).as("inB"))
      .agg(coalesce(sum(col("inA")), lit(0L)).cast("long").as("n_grams_a"),
           coalesce(sum(col("inB")), lit(0L)).cast("long").as("n_grams_b"),
           coalesce(sum(col("inA") * col("inB")), lit(0L)).cast("long")
             .as("n_shared")))
  }

  /** Write-once distinct-gram index for [[corpusOverlapIndexed]]: the
    * standing corpus's side of the overlap report, built once per corpus
    * version (the `bm25Index`/`minhashIndex` artifact convention) so
    * every incoming crawl is measured against it without re-encoding
    * the corpus. One column `g` (sorted-distinct 60-bit gram hashes).
    */
  def gramIndex(corpus: DataFrame, textCol: String = "text",
                k: Int = 5): DataFrame =
    corpus.select(explode(graft.functions.VectorFunctions
      .word_ngram_hashes60(col(textCol), k)).as("g")).distinct()

  /** [[corpusOverlap]] against a prebuilt [[gramIndex]] — the ingest-loop
    * face: the candidate corpus streams once (its gram stream distincts
    * in one shuffle and left-joins the index); the standing corpus costs
    * only an index count. `k` must match the index's build value.
    */
  def corpusOverlapIndexed(a: DataFrame, index: DataFrame,
                           textCol: String = "text",
                           k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gA = a.select(explode(graft.functions.VectorFunctions
      .word_ngram_hashes60(col(textCol), k)).as("g")).distinct()
    val nB = index.agg(count(lit(1)).cast("long").as("n_grams_b"))
    overlapReport(gA
      .join(index.select(col("g"), lit(1L).as("__inB")), Seq("g"), "left")
      .agg(count(lit(1)).cast("long").as("n_grams_a"),
           coalesce(sum(coalesce(col("__inB"), lit(0L))), lit(0L))
             .cast("long").as("n_shared"))
      .crossJoin(nB)
      .select(col("n_grams_a"), col("n_grams_b"), col("n_shared")))
  }

  /** Per-document n-gram novelty: every distinct word-k-gram is
    * attributed to its FIRST owner (minimum id among documents carrying
    * it), and each document reports how much of it is new —
    * `novelty = |grams first seen here| / |grams in doc|`. Summed over
    * an id-ordered corpus this is the saturation curve ("the 10th crawl
    * adds 3% new 5-grams") that decides when more of the same source
    * stops buying training signal; per-doc it separates template pages
    * (novelty → 0) from genuinely fresh content. Ids must be
    * comparable; order = attribution order.
    *
    * Shape: one gram-volume shuffle into a partial-agg min (the
    * first-owner table), an AQE-sized join back, one per-doc aggregate.
    * Docs shorter than k words report 0 grams and null novelty.
    */
  def ngramNovelty(df: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val grams = df.select(col(idCol).as("__id"),
      explode(graft.functions.VectorFunctions
        .word_ngram_hashes60(col(textCol), k)).as("g"))
    val owners = grams.groupBy(col("g")).agg(min(col("__id")).as("__owner"))
    val per = grams.join(owners, Seq("g"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
           sum(when(col("__owner") === col("__id"), 1L).otherwise(0L))
             .cast("long").as("n_novel"))
    df.select(col(idCol)).distinct()
      .join(per.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel") / nullif(col("n_grams"), lit(0L)), 6))
  }

  /** Ratio projection shared by the two overlap faces: input is one row
    * of (n_grams_a, n_grams_b, n_shared).
    */
  private def overlapReport(counts: DataFrame): DataFrame =
    counts.select(col("n_grams_a"), col("n_grams_b"), col("n_shared"),
      round(col("n_shared") / nullif(col("n_grams_a"), lit(0L)), 6)
        .as("containment_a_in_b"),
      round(col("n_shared") / nullif(col("n_grams_b"), lit(0L)), 6)
        .as("containment_b_in_a"),
      round(col("n_shared") /
        nullif(col("n_grams_a") + col("n_grams_b") - col("n_shared"),
          lit(0L)), 6).as("jaccard"))

  // ------------------------------------------------------------------ //
  // Benchmark decontamination — the GPT-3 / Llama recipe: a training
  // document that shares word n-grams with an evaluation benchmark is
  // contaminated and must be reported / dropped before training, or the
  // benchmark stops measuring generalization. Overlap is exact n-gram
  // (default 13-gram) set intersection on the engine-portable md5-derived
  // hash, so every face is DuckDB-oracle-checkable.
  // ------------------------------------------------------------------ //

  private def ngramSets(df: DataFrame, textCol: String, idCol: String,
                        n: Int, outId: String): DataFrame =
    df.select(col(idCol).as(outId),
        explode(graft.functions.VectorFunctions
          .word_ngram_hashes60(col(textCol), n)).as("__g"))

  /** Contamination report: (train_id, eval_id, n_shared) for every
    * train × eval pair sharing at least one word n-gram, with the count
    * of DISTINCT shared n-grams. Docs with fewer than `n` tokens have no
    * n-grams and cannot be contaminated (the standard convention).
    *
    * Scale shape: benchmarks are small next to a 100 TB corpus, so the
    * eval n-gram postings BROADCAST and the train side stays a narrow
    * explode over the scan — no shuffle of training text, only the
    * surviving (train_id, eval_id) hits shuffle into the count. The
    * n-gram hash sets are distinct per doc ([[WordNgramHashes60]]), so
    * `count(*)` per pair IS the distinct-shared-gram count.
    */
  def contaminationPairs(train: DataFrame, evalSet: DataFrame,
                         textCol: String, idCol: String, n: Int = 13,
                         broadcastEval: Boolean = true): DataFrame = {
    val t = ngramSets(train, textCol, idCol, n, "train_id")
    val e0 = ngramSets(evalSet, textCol, idCol, n, "eval_id")
    val e = if (broadcastEval) broadcast(e0) else e0
    t.join(e, Seq("__g"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** STREAMING/stateless contamination flag: tag each document with
    * `is_contaminated` — whether any of its word n-grams might appear in
    * the eval set — via a driver-built Bloom filter over the eval
    * n-grams (the [[incrementalExactBloom]] shape). Pure narrow map
    * after the one-time Bloom build, so it applies unchanged to a
    * STREAMING DataFrame (no state, no shuffle, no join) — the
    * continuous-ingest face of [[decontaminate]].
    *
    * Bloom false positives over-flag at rate `fpp` (never under-flag:
    * contamination recall is exactly 1); batch pipelines that cannot
    * tolerate over-dropping re-check flagged docs with the exact
    * [[contaminationPairs]] join — flagged docs are few, so the exact
    * pass runs on a sliver of the corpus.
    */
  def contaminationFlag(docs: DataFrame, evalSet: DataFrame,
                        textCol: String, idCol: String, n: Int = 13,
                        fpp: Double = 0.001): DataFrame = {
    val spark = docs.sparkSession
    val grams = ngramSets(evalSet, textCol, idCol, n, "eval_id")
      .select(col("__g"))
    val sized = math.max(1000L, grams.count())
    val bloom = grams.stat.bloomFilter(col("__g"), sized, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    // Null text hashes to a null gram array; flag as clean (no n-grams),
    // matching contaminationPairs/decontaminate, instead of NPE-ing.
    val hit = udf((gs: Seq[Long]) =>
      gs != null && gs.exists(bc.value.mightContainLong))
    docs.withColumn("is_contaminated",
      hit(graft.functions.VectorFunctions
        .word_ngram_hashes60(col(textCol), n)))
  }

  /** Multi-suite contamination census — every benchmark in ONE corpus
    * pass: a lab decontaminates against MANY eval suites at once, and
    * re-scanning 100 TB of training text per suite is the naive cost
    * this face removes. All suites' n-gram postings union (tagged by
    * suite name), broadcast ONCE, and join the single training-side
    * gram explode; per (train doc, suite) the report carries how many
    * of that suite's documents were hit and the max/total distinct
    * shared n-grams — the inputs to a per-suite drop threshold.
    * Returns (train_id, suite, n_eval_docs, n_shared_max,
    * n_shared_total). Feed `where(...)` + anti-join for the drop, as
    * [[decontaminate]] does for one suite.
    *
    * Broadcast-size caveat (ADVICE r9): with `broadcastEval = true` the
    * UNION of every suite's exploded postings broadcasts — the size
    * grows with suite count × eval token volume, so a census over
    * hundreds of suites can exceed the broadcast/driver budget even
    * when each individual suite would broadcast fine. Pass
    * `broadcastEval = false` for pathological aggregate volumes: that
    * does NOT force a shuffle, it removes the hint and lets size-based
    * planning decide (the dawidSkene confusion-table convention — AQE
    * still broadcasts a small union, and shuffles a huge one).
    */
  def contaminationBySuite(train: DataFrame,
                           suites: Seq[(String, DataFrame)],
                           textCol: String, idCol: String, n: Int = 13,
                           broadcastEval: Boolean = true): DataFrame = {
    require(suites.nonEmpty, "contaminationBySuite needs >= 1 suite")
    require(suites.map(_._1).distinct.size == suites.size,
      "duplicate suite names would merge census rows")
    val t = ngramSets(train, textCol, idCol, n, "train_id")
    val e0 = suites.map { case (name, df) =>
      ngramSets(df, textCol, idCol, n, "eval_id")
        .select(lit(name).as("suite"), col("eval_id"), col("__g"))
    }.reduce(_ unionByName _)
    val e = if (broadcastEval) broadcast(e0) else e0
    t.join(e, Seq("__g"))
      .groupBy(col("train_id"), col("suite"), col("eval_id"))
      .agg(count(lit(1)).cast("long").as("__s"))
      .groupBy(col("train_id"), col("suite"))
      .agg(count(lit(1)).cast("long").as("n_eval_docs"),
        max(col("__s")).as("n_shared_max"),
        sum(col("__s")).cast("long").as("n_shared_total"))
  }

  /** STREAMING face of [[contaminationBySuite]] — decontaminate on
    * INGEST: real pipelines census new training documents as they
    * arrive instead of re-scanning the corpus per release. The suites
    * are static (benchmarks change rarely); their unioned postings
    * collect ONCE into a driver map broadcast to executors — the same
    * budget the batch face's broadcast join spends — and each incoming
    * doc's census is then a pure narrow map over its own distinct
    * n-gram set. Because every output row depends on exactly one input
    * row, the plan is STATELESS (no streaming aggregation, no
    * watermark, works in append mode), and the union of per-batch
    * censuses equals the batch census of the union (spec-asserted).
    * Works identically on a batch frame.
    *
    * Returns the batch face's exact schema: (train_id, suite,
    * n_eval_docs, n_shared_max, n_shared_total); clean docs emit no
    * rows.
    */
  def contaminationBySuiteStream(train: DataFrame,
                                 suites: Seq[(String, DataFrame)],
                                 textCol: String, idCol: String,
                                 n: Int = 13): DataFrame = {
    require(suites.nonEmpty, "contaminationBySuiteStream needs >= 1 suite")
    require(suites.map(_._1).distinct.size == suites.size,
      "duplicate suite names would merge census rows")
    val spark = train.sparkSession
    // gram -> (suiteIdx, evalOrdinal) postings; eval ids only need to be
    // distinct within a suite, so they compress to dense ordinals
    val postings: Map[Long, Array[(Int, Int)]] = {
      val rows = suites.zipWithIndex.flatMap { case ((_, df), si) =>
        ngramSets(df, textCol, idCol, n, "eval_id")
          .select(col("eval_id").cast("string"), col("__g"))
          .collect()
          .map(r => (si, r.getString(0), r.getLong(1)))
      }
      val ord = rows.map { case (si, eid, _) => (si, eid) }.distinct
        .zipWithIndex.toMap
      rows.groupBy(_._3).map { case (g, ps) =>
        g -> ps.map { case (si, eid, _) => (si, ord((si, eid))) }
          .distinct.toArray
      }
    }
    val bc = spark.sparkContext.broadcast(postings)
    val suiteNames = suites.map(_._1).toArray
    val census = udf((gs: Seq[Long]) => {
      if (gs == null) Array.empty[(String, Long, Long, Long)]
      else {
        // distinct shared grams per (suite, eval doc): the doc's gram
        // set is distinct (WordNgramHashes60), so a plain accumulate
        // counts each shared gram once
        val perEval = scala.collection.mutable.HashMap
          .empty[(Int, Int), Long]
        gs.foreach { g =>
          bc.value.get(g).foreach(_.foreach { k =>
            perEval.update(k, perEval.getOrElse(k, 0L) + 1L) })
        }
        perEval.toSeq.groupBy(_._1._1).toArray.sortBy(_._1)
          .map { case (si, hits) =>
            (suiteNames(si), hits.size.toLong,
              hits.map(_._2).max, hits.map(_._2).sum)
          }
      }
    })
    train.select(col(idCol).as("train_id"),
        explode(census(graft.functions.VectorFunctions
          .word_ngram_hashes60(col(textCol), n))).as("c"))
      .select(col("train_id"), col("c._1").as("suite"),
        col("c._2").as("n_eval_docs"), col("c._3").as("n_shared_max"),
        col("c._4").as("n_shared_total"))
  }

  /** Drop every training document sharing more than `maxSharedNgrams`
    * distinct word n-grams with ANY evaluation document (default 0: any
    * overlap contaminates). Anti-join by train id — training text never
    * shuffles; pair counting happens on (train_id, eval_id, gram-hash)
    * rows only.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame, textCol: String,
                    idCol: String, n: Int = 13,
                    maxSharedNgrams: Long = 0L,
                    broadcastEval: Boolean = true): DataFrame = {
    require(maxSharedNgrams >= 0L,
      s"maxSharedNgrams must be >= 0, got $maxSharedNgrams")
    val bad = contaminationPairs(train, evalSet, textCol, idCol, n,
        broadcastEval)
      .groupBy(col("train_id"))
      .agg(max(col("n_shared")).as("__mx"))
      .where(col("__mx") > maxSharedNgrams)
      .select(col("train_id").as(idCol))
    train.join(bad, Seq(idCol), "left_anti")
  }
}
