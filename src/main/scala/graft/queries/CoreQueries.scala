package graft.queries

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, ParquetEnv}
import graft.serde.Serdes
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SURVEY §2 operator inventory, one DuckDB-oracle-checkable query per
  * operator, each built through the graft DSL + compiler (so the correctness
  * gate exercises the actual engine, not ad-hoc DataFrame code).
  *
  * Determinism rules (driver hashes values with columns sorted by name):
  *  - every query ends in a total ORDER BY on a unique column set;
  *  - names aliased identically in Spark and SQL;
  *  - double aggregates rounded to ≥2 decimals (fp summation order);
  *  - integer sums CAST to BIGINT in DuckDB (its sum(BIGINT) is HUGEINT);
  *  - raw event timestamps CAST to microsecond TIMESTAMP in DuckDB (fixture
  *    is TIMESTAMP_NS; Spark floors to micros).
  */
object CoreQueries {

  type Q = (SparkSession, String) => DataFrame

  /** events as a KStream: key=user_id, event-time=ts. */
  private val eventsConsumed =
    Consumed(keys = Seq("user_id"), eventTime = Some("ts"))

  private def run(node: KNode)(spark: SparkSession, dir: String): DataFrame =
    Compiler.compile(node, new ParquetEnv(spark, dir)).df

  // ------------------------------------------------------------------ //
  val queries: Map[String, Q] = Map(
    // ---- sources (§2.1) ----
    "src_stream" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .sort(col("event_id")))(s, d)
    },
    // pattern subscription: topics matching /^(nation|region)$/ merged.
    "src_stream_pattern" -> { (s, d) =>
      run(
        streamPattern("nation|region")
          .select(coalesce(col("n_name"), col("r_name")).as("name"))
          .sort(col("name")))(s, d)
    },
    "src_table" -> { (s, d) =>
      run(
        table("events", eventsConsumed, orderBy = Some("event_id"))
          .select(col("user_id"), col("event_type"), col("value"))
          .sort(col("user_id")))(s, d)
    },
    "src_global_table" -> { (s, d) =>
      run(
        globalTable("nation", Consumed(keys = Seq("n_nationkey")), unique = true)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .sort(col("n_nationkey")))(s, d)
    },

    // ---- stateless (§2.2) ----
    "op_filter" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .filter(col("value") > 100)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .sort(col("event_id")))(s, d)
    },
    "op_filter_not" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .filterNot(col("value") > 100)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .sort(col("event_id")))(s, d)
    },
    "op_map" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .map(keys = Seq((col("user_id") % 100).cast("long").as("k")),
               values = Seq(round(col("value") * 0.1, 3).as("v"), col("event_id")))
          .select(col("k"), col("v"), col("event_id"))
          .sort(col("event_id")))(s, d)
    },
    "op_map_values" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .mapValues(upper(col("event_type")).as("etype"), col("event_id"))
          .select(col("event_id"), col("user_id"), col("etype"))
          .sort(col("event_id")))(s, d)
    },
    "op_flat_map" -> { (s, d) =>
      // each record → 2 re-keyed records (tag a/b), the (k,v)→seq[(k',v')] shape
      run(
        stream(Seq("events"), eventsConsumed)
          .flatMap(
            array(
              struct(col("user_id").as("k"), lit("a").as("tag"),
                     col("value").as("v"), col("event_id")),
              struct(col("user_id").as("k"), lit("b").as("tag"),
                     round(col("value") * 2, 2).as("v"), col("event_id"))),
            keys = Seq("k"))
          .select(col("k"), col("tag"), col("v"), col("event_id"))
          .sort(col("event_id"), col("tag")))(s, d)
    },
    "op_flat_map_values" -> { (s, d) =>
      run(
        stream(Seq("documents"), Consumed(keys = Seq("doc_id")))
          .flatMapValues(split(col("text"), " "), as = "word")
          .filter(col("word") =!= "")
          .sort(col("doc_id"), col("word")))(s, d)
    },
    "wordcount" -> { (s, d) =>
      // the reference's flagship example (README.md:59-73): tokenize →
      // re-key by word → count
      run(
        stream(Seq("documents"), Consumed(keys = Seq("doc_id")))
          .flatMapValues(split(col("text"), " "), as = "word")
          .filter(col("word") =!= "")
          .groupBy(col("word"))
          .count(as = "n")
          .sort(col("word")))(s, d)
    },
    "op_select_key" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .selectKey(col("event_type").as("k"))
          .select(col("k"), col("event_id"), col("value"))
          .sort(col("event_id")))(s, d)
    },
    "op_branch" -> { (s, d) =>
      // branch 1 of [value>150, value>50, true]: first-match-wins
      val branches = stream(Seq("events"), eventsConsumed)
        .branch(col("value") > 150, col("value") > 50, lit(true))
      run(
        branches(1)
          .select(col("event_id"), col("value"))
          .sort(col("event_id")))(s, d)
    },
    "op_merge" -> { (s, d) =>
      val ev = stream(Seq("events"), eventsConsumed)
      run(
        ev.filter(col("event_type") === "click")
          .merge(ev.filter(col("event_type") === "purchase"))
          .select(col("event_id"), col("event_type"))
          .sort(col("event_id")))(s, d)
    },
    "op_to_stream" -> { (s, d) =>
      // table → changelog stream → re-key by value field → count:
      // "how many users' latest event is of each type"
      run(
        table("events", eventsConsumed, orderBy = Some("event_id"))
          .toStream(col("event_type"))
          .groupByKey
          .count(as = "n_users")
          .sort(col("event_type")))(s, d)
    },
    "op_peek" -> { (s, d) =>
      val seen = s.sparkContext.longAccumulator("peeked")
      run(
        stream(Seq("events"), eventsConsumed)
          .select(col("event_id"), col("event_type"))
          .peek(_ => seen.add(1))
          .sort(col("event_id")))(s, d)
    },
    "op_transform" -> { (s, d) =>
      // TransformOp: LLM-pipeline stages (graft.ext) as first-class
      // topology nodes — exact dedup (min-id survivor per identical
      // text), token-length band filter, token-count enrichment, all
      // inside ONE AST value (the reference's topology-as-data rationale,
      // README.md:25-37, extended to the corpus operators)
      import graft.ast.pipeline._
      run(
        stream(Seq("documents"), Consumed(keys = Seq("doc_id")))
          .dedupExact(textCol = "text", idCol = "doc_id")
          .lengthFilter(3, 1000000)
          .tokenCount(as = "n_tokens")
          .select(col("doc_id"), col("lang"), col("n_tokens"))
          .sort(col("doc_id")))(s, d)
    },
    "op_pipeline" -> { (s, d) =>
      // FLAGSHIP: the whole LLM training-data pipeline as ONE AST value —
      // source → exact dedup → C4 quality gate → PII redaction →
      // embedding join → semantic dedup → sequence packing — every stage
      // a named TransformOp node (topology-as-data carried to the full
      // corpus surface). Gate mode: the id bound keeps the exact
      // semantic pass affordable, and minNlist = 1 with an unbounded
      // targetCellSize pins ONE cell so the within-cell pairing is the
      // exact all-pairs DuckDB replays (the dedup_semantic precedent);
      // production uses the corpus-sized default cells.
      import graft.ast.pipeline._
      val embs = ExtShared.emb(s, d)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val cleaned = stream(Seq("documents"), Consumed(keys = Seq("doc_id")))
        .filter(col("doc_id") < 800)
        .dedupExact(textCol = "text", idCol = "doc_id")
        .qualityFilter()
        .piiRedact()
      val enriched = TransformOp(cleaned, "join_embeddings",
        df => df.join(broadcast(embs), Seq("doc_id")))
      run(
        enriched
          .semanticDedup(vecCol = "embedding", idCol = "doc_id",
            threshold = 0.95, targetCellSize = Int.MaxValue, minNlist = 1,
            cap = Int.MaxValue)
          .pack(budget = 1024)
          .select(col("doc_id"), col("lang"), col("tok"), col("start"),
            col("first_bin"), col("last_bin"))
          .sort(col("doc_id")))(s, d)
    },
    "op_serde_json" -> { (s, d) =>
      // value serde: decode the JSON props column, aggregate a field
      val propsSchema = StructType(Seq(StructField("k", LongType)))
      run(
        stream(Seq("events"), eventsConsumed)
          .mapValues(Serdes.json(propsSchema).decode(col("props"))
                       .getField("k").as("k"))
          .groupBy(col("user_id"))
          .agg(sum(col("k")).cast("long").as("sum_k"))
          .sort(col("user_id")))(s, d)
    },
    "op_serde_avro" -> { (s, d) =>
      // Avro value serde: encode each nation row's value columns to Avro
      // binary, decode back, and emit the decoded fields — the full wire
      // round-trip must be byte-faithful against the plain-scan oracle.
      val sch = StructType(Seq(
        StructField("n_name", StringType),
        StructField("n_regionkey", LongType)))
      val serde = Serdes.avro(sch)
      run(
        stream(Seq("nation"), Consumed(keys = Seq("n_nationkey")))
          .mapValues(serde.decode(serde.encode(
            struct(col("n_name"), col("n_regionkey")))).as("v"))
          .mapValues(col("v.n_name").as("n_name"),
                     col("v.n_regionkey").as("n_regionkey"))
          .sort(col("n_nationkey")))(s, d)
    },

    // ---- grouping & aggregation (§2.3) ----
    "agg_count" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .groupBy(col("event_type"))
          .count(as = "n")
          .sort(col("event_type")))(s, d)
    },
    "agg_count_windowed" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .groupByKey
          .windowedBy(WindowSpec.Tumbling("1 hour"))
          .count(as = "n")
          .select(col("window_start"), col("user_id"), col("n"))
          .sort(col("window_start"), col("user_id")))(s, d)
    },
    "agg_count_hopping" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .selectKey(col("event_type"))
          .groupByKey
          .windowedBy(WindowSpec.Hopping("1 day", "12 hours"))
          .count(as = "n")
          .select(col("window_start"), col("event_type"), col("n"))
          .sort(col("window_start"), col("event_type")))(s, d)
    },
    "agg_reduce" -> { (s, d) =>
      // typed per-key reduce kernel ((v1,v2)→v, eval.clj:280-283)
      // summation in integer cents: associative, so the nondeterministic
      // reduce order cannot shift a rounding boundary vs the oracle
      val node = ReduceOp(
        stream(Seq("events"), eventsConsumed)
          .mapValues(round(col("value") * 100).cast("long").as("value_c"))
          .groupByKey,
        reducer = (a: Row, b: Row) => Row(a.getLong(0) + b.getLong(0)))
      run(SortOp(SelectOp(node,
        Seq(col("user_id"), round(col("value_c") / 100.0, 2).as("value"))),
        Seq(col("user_id"))))(s, d)
    },
    "agg_aggregate" -> { (s, d) =>
      // typed initializer/aggregator/merger kernel (eval.clj:265-278)
      val node = AggregateOp[(Long, Long, Double)](
        stream(Seq("events"), eventsConsumed)
          .mapValues(col("value")).groupByKey,
        initializer = () => (0L, 0L, Double.MinValue),
        aggregator = (b, r) => {
          val v = r.getAs[Double]("value")
          (b._1 + 1, b._2 + math.round(v * 100), math.max(b._3, v))
        },
        merger = (x, y) => (x._1 + y._1, x._2 + y._2, math.max(x._3, y._3)),
        finisher = b => Row(b._1, b._2, b._3),
        outSchema = StructType(Seq(
          StructField("n", LongType), StructField("sum_c", LongType),
          StructField("max_v", DoubleType))))
      run(SortOp(SelectOp(node,
        Seq(col("user_id"), col("n"),
            round(col("sum_c") / 100.0, 2).as("sum_v"), col("max_v"))),
        Seq(col("user_id"))))(s, d)
    },
    "agg_session" -> { (s, d) =>
      run(
        stream(Seq("events"), eventsConsumed)
          .groupByKey
          .windowedBy(WindowSpec.Session("30 minutes"))
          .count(as = "n")
          .select(col("window_start").as("session_start"), col("user_id"), col("n"))
          .sort(col("user_id"), col("session_start")))(s, d)
    },

    "agg_session_user" -> { (s, d) =>
      // session windows over ARBITRARY user fns (custom kernel + :merger):
      // per-user sessions carrying (count, sum-of-cents)
      val node = SessionAggregateOp[(Long, Long)](
        stream(Seq("events"), eventsConsumed).mapValues(col("value")).groupByKey,
        gap = "30 minutes",
        initializer = () => (0L, 0L),
        aggregator = (b, r) =>
          (b._1 + 1, b._2 + math.round(r.getAs[Double]("value") * 100)),
        merger = (x, y) => (x._1 + y._1, x._2 + y._2),
        finisher = b => Row(b._1, b._2),
        outSchema = StructType(Seq(StructField("n", LongType),
                                   StructField("sum_c", LongType))))
      run(SortOp(SelectOp(node,
        Seq(col("user_id"), col("session_start"), col("session_end"),
            col("n"), round(col("sum_c") / 100.0, 2).as("sum_v"))),
        Seq(col("user_id"), col("session_start"))))(s, d)
    },
    "op_process" -> { (s, d) =>
      // Processor API (`:process!` eval_test.clj:421-425): running max per
      // user, emitting on every increase — arbitrary stateful per-record
      // logic with an opaque state handle, processed in event-time order
      val node = ProcessOp(
        stream(Seq("events"), eventsConsumed).mapValues(col("value")),
        init = () => Array[Byte](),
        process = (state, row) => {
          val prev = if (state.isEmpty) Double.MinValue
            else java.nio.ByteBuffer.wrap(state).getDouble
          val v = row.getAs[Double]("value")
          if (v > prev)
            (java.nio.ByteBuffer.allocate(8).putDouble(v).array(),
             Iterator.single(Row(row.getAs[Long]("user_id"), v)))
          else (state, Iterator.empty)
        },
        outSchema = StructType(Seq(StructField("user_id", LongType),
                                   StructField("vmax", DoubleType))))
      run(SortOp(node, Seq(col("user_id"), col("vmax"))))(s, d)
    },
    "agg_topk" -> { (s, d) =>
      // analytic-window superset (SURVEY §2.9): top-3 orders per customer
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      run(stream(Seq("orders"), Consumed(keys = Seq("o_custkey"))))(s, d)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("o_custkey"), col("rk").cast("long").as("rk"),
                col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rk"))
    },
    "agg_cube" -> { (s, d) =>
      run(stream(Seq("events"), eventsConsumed))(s, d)
        .cube(col("event_type"), (col("user_id") % 3).cast("long").as("ubucket"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("event_type").asc_nulls_first,
                 col("ubucket").asc_nulls_first)
    },
    "set_intersect" -> { (s, d) =>
      // set-op superset (§2.9): users who BOTH clicked and purchased.
      // intersect is a distinct semi-form — one shuffle per side on the
      // full key, partial-agg'd, no driver sets.
      val ev = run(stream(Seq("events"), eventsConsumed))(s, d)
      ev.where(col("event_type") === "click").select(col("user_id"))
        .intersect(
          ev.where(col("event_type") === "purchase").select(col("user_id")))
        .orderBy(col("user_id"))
    },
    "set_except" -> { (s, d) =>
      // users with a purchase over 100 but none over 180 (nested-set
      // difference — non-empty by construction, unlike view∖purchase:
      // every fixture user does everything)
      val ev = run(stream(Seq("events"), eventsConsumed))(s, d)
        .where(col("event_type") === "purchase")
      ev.where(col("value") > 100).select(col("user_id"))
        .except(ev.where(col("value") > 180).select(col("user_id")))
        .orderBy(col("user_id"))
    },
    "agg_pivot" -> { (s, d) =>
      // pivot superset (§2.9): one column per l_linestatus value. Values
      // passed EXPLICITLY — the discover-values overload runs a distinct
      // scan of the whole input before planning (a full extra pass at
      // 100 TB); a pinned value list also fixes the output schema.
      run(stream(Seq("lineitem"), Consumed()))(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")))
        .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))
        .orderBy(col("l_returnflag"))
    },
    "q5_region_revenue" -> { (s, d) =>
      // TPC-H Q5 shape: revenue per nation through the full dimension chain
      // lineitem ⋈ orders ⋈ customer ⋈ supplier? (simplified: customer
      // nation) ⋈ nation ⋈ region, region filtered — a 4-way join tree with
      // broadcast dimensions, built through the DSL
      val li = stream(Seq("lineitem"), Consumed(keys = Seq("l_orderkey")))
      val orders = table("orders", Consumed(keys = Seq("o_orderkey")),
                         unique = true)
      val custs = globalTable("customer", Consumed(keys = Seq("c_custkey")),
                              unique = true)
      val nation = globalTable("nation", Consumed(keys = Seq("n_nationkey")),
                               unique = true)
      val region = globalTable("region", Consumed(keys = Seq("r_regionkey")),
                               unique = true)
      run(
        li.join(orders)
          .joinGlobal(custs, derivedKey = Seq(col("o_custkey")))
          .joinGlobal(nation, derivedKey = Seq(col("c_nationkey")))
          .joinGlobal(region, derivedKey = Seq(col("n_regionkey")))
          .filter(col("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg(round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
                 * 100).cast("long")) / 100.0, 2).as("revenue"),
               count(lit(1)).cast("long").as("n_items"))
          .sort(col("n_name")))(s, d)
    },
    "agg_rollup" -> { (s, d) =>
      // grouping-sets superset (§2.9): rollup with subtotal + grand total
      run(stream(Seq("lineitem"), Consumed()))(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)
    },
    "agg_distinct" -> { (s, d) =>
      // exact distinct cardinality per group (§2.9 superset)
      run(
        stream(Seq("events"), eventsConsumed)
          .groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).cast("long").as("n_users"),
               count(lit(1)).cast("long").as("n"))
          .sort(col("event_type")))(s, d)
    },
    "agg_approx_distinct" -> { (s, d) =>
      // HLL sketch cardinality — the 100 TB path (no exact-distinct shuffle
      // explosion). Certificate-column gate: the estimate itself is
      // implementation-specific, so the hashed output carries the exact
      // count plus a bounded-relative-error claim the sketch must honor
      // (default rsd 0.05; certified at 3x = 15%) — DuckDB replays the
      // exact count and asserts the bound holds (TRUE).
      run(
        stream(Seq("lineitem"), Consumed())
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
               count_distinct(col("l_partkey")).cast("long").as("n_parts"))
          .sort(col("l_returnflag")))(s, d)
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("approx_parts") - col("n_parts"))
            .cast("double") / col("n_parts") <= 0.15).as("within_bound"))
    },
    "agg_salted" -> { (s, d) =>
      // skew-safe two-phase salted aggregation == plain aggregation result
      graft.ext.Skew.saltedSum(
          ParquetEnv.read(s, s"$d/lineitem.parquet")
            .select(col("l_returnflag"),
                    round(col("l_quantity") * 100).cast("long").as("qc")),
          keys = Seq("l_returnflag"), valueCol = "qc", salts = 16)
        .select(col("l_returnflag"),
                round(col("sum_qc") / 100.0, 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    "join_salted" -> { (s, d) =>
      // manual salted join for known-skewed keys (Skew.saltedJoin):
      // result ≡ the plain equi-join, only the shuffle partitioning
      // changes (hot keys spread over `salts` reducers)
      val orders = ParquetEnv.read(s, s"$d/orders.parquet")
      val cust = ParquetEnv.read(s, s"$d/customer.parquet")
        .withColumnRenamed("c_custkey", "o_custkey")
      graft.ext.Skew.saltedJoin(orders, cust, Seq("o_custkey"), salts = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .orderBy(col("o_orderkey"))
    },

    "join_bloom_prune" -> { (s, d) =>
      // runtime-filter join (RuntimeFilter.bloomPrunedJoin): result ≡ the
      // plain inner join — the Bloom prunes never-matching fact rows at
      // the scan (here supplier is cut to one nation, so most lineitem
      // rows drop before the shuffle); the join removes false positives
      val li = ParquetEnv.read(s, s"$d/lineitem.parquet")
      val sup = ParquetEnv.read(s, s"$d/supplier.parquet")
        .where(col("s_nationkey") === 3)
      graft.ext.RuntimeFilter.bloomPrunedJoin(li, sup, "l_suppkey", "s_suppkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity") * 100).cast("long").as("qty_cents"),
          col("s_name"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty_cents"),
          col("s_name"))
    },

    // ---- joins (§2.4) ----
    "join_table_table" -> { (s, d) =>
      // KTable ⋈ KTable on primary key: customers ⋈ per-customer order agg
      val custs = table("customer", Consumed(keys = Seq("c_custkey")),
                        unique = true)
      val orderAgg = stream(Seq("orders"), Consumed(keys = Seq("o_custkey")))
        .groupByKey
        .agg(count(lit(1)).cast("long").as("n_orders"),
             round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 2)
               .as("total"))
      run(
        custs.join(orderAgg,
            projection = Seq(col("c_custkey"), col("c_name"),
                             col("n_orders"), col("total")))
          .sort(col("c_custkey")))(s, d)
    },
    "join_left" -> { (s, d) =>
      val custs = table("customer", Consumed(keys = Seq("c_custkey")),
                        unique = true)
      val orderAgg = stream(Seq("orders"), Consumed(keys = Seq("o_custkey")))
        .groupByKey
        .agg(count(lit(1)).cast("long").as("n_orders"),
             round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 2)
               .as("total"))
      run(
        custs.leftJoin(orderAgg,
            projection = Seq(col("c_custkey"), col("c_name"),
                             coalesce(col("n_orders"), lit(0L)).as("n_orders"),
                             round(coalesce(col("total"), lit(0.0)), 2).as("total")))
          .sort(col("c_custkey")))(s, d)
    },
    "join_outer" -> { (s, d) =>
      // full outer of two per-nation aggregates
      val nc = stream(Seq("customer"), Consumed())
        .groupBy(col("c_nationkey").as("nationkey"))
        .count(as = "n_cust")
      val ns = stream(Seq("supplier"), Consumed())
        .groupBy(col("s_nationkey").as("nationkey"))
        .count(as = "n_supp")
      run(
        nc.outerJoin(ns,
            projection = Seq(col("nationkey"),
                             coalesce(col("n_cust"), lit(0L)).as("n_cust"),
                             coalesce(col("n_supp"), lit(0L)).as("n_supp")))
          .sort(col("nationkey")))(s, d)
    },
    "join_stream_table" -> { (s, d) =>
      // stream enriched with table state for its key
      val ev = stream(Seq("events"), eventsConsumed)
      val custs = table("customer", Consumed(keys = Seq("c_custkey")),
                        unique = true)
      run(
        ev.join(custs,
            projection = Seq(col("event_id"), col("user_id"), col("c_name"),
                             col("value")))
          .sort(col("event_id")))(s, d)
    },
    "join_global" -> { (s, d) =>
      // stream ⋈ GlobalKTable on a derived foreign key → broadcast lookup
      val li = stream(Seq("lineitem"), Consumed(keys = Seq("l_orderkey")))
      val parts = globalTable("part", Consumed(keys = Seq("p_partkey")),
                              unique = true)
      run(
        li.joinGlobal(parts, derivedKey = Seq(col("l_partkey")),
            projection = Seq(col("l_orderkey"), col("l_linenumber"),
                             col("p_name"), col("p_retailprice")))
          // (okey, linenumber) is not unique in the fixture → p_name breaks
          // the tie deterministically (duplicate rows are then identical)
          .sort(col("l_orderkey"), col("l_linenumber"), col("p_name"),
                col("p_retailprice")))(s, d)
    },
    "join_stream_stream_window" -> { (s, d) =>
      // stream-stream equi-join within a time band (JoinWindows analog):
      // lineitems shipped within 60 days of their order date
      val orders = stream(Seq("orders"),
        Consumed(keys = Seq("o_orderkey"), eventTime = Some("o_orderdate")))
      val li = stream(Seq("lineitem"),
        Consumed(keys = Seq("l_orderkey"), eventTime = Some("l_shipdate")))
      run(
        orders.join(li, window = Some(JoinWindow("0 seconds", "60 days")),
            projection = Seq(col("o_orderkey"), col("l_linenumber"),
                             col("l_quantity"), col("l_shipdate"),
                             col("o_orderstatus")))
          // fixture lineitem is not (orderkey, linenumber)-unique — sort the
          // full quad or tie order is engine luck
          .sort(col("o_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_shipdate")))(s, d)
    },

    "join_stream_stream_left" -> { (s, d) =>
      // left band join (`eval_test.clj:457-469`): every order, lineitem
      // columns null when nothing shipped within the window
      val orders = stream(Seq("orders"),
        Consumed(keys = Seq("o_orderkey"), eventTime = Some("o_orderdate")))
      val li = stream(Seq("lineitem"),
        Consumed(keys = Seq("l_orderkey"), eventTime = Some("l_shipdate")))
      run(
        orders.join(li, how = JoinHow.Left,
            window = Some(JoinWindow("0 seconds", "60 days")),
            projection = Seq(col("o_orderkey"), col("l_linenumber"),
                             col("l_quantity"), col("l_shipdate"),
                             col("o_orderstatus")))
          // fixture lineitem is not (orderkey, linenumber)-unique — the
          // full quad is the smallest total order
          .sort(col("o_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_shipdate")))(s, d)
    },
    "join_stream_stream_outer" -> { (s, d) =>
      // full-outer band join (`eval_test.clj:487-493`): unmatched orders AND
      // unmatched lineitems survive with nulls on the other side
      val orders = stream(Seq("orders"),
        Consumed(keys = Seq("o_orderkey"), eventTime = Some("o_orderdate")))
      val li = stream(Seq("lineitem"),
        Consumed(keys = Seq("l_orderkey"), eventTime = Some("l_shipdate")))
      run(
        orders.join(li, how = JoinHow.Outer,
            window = Some(JoinWindow("0 seconds", "60 days")),
            projection = Seq(col("o_orderkey"), col("l_linenumber"),
                             col("l_quantity"), col("l_shipdate"),
                             col("o_orderstatus")))
          // fixture lineitem is not (orderkey, linenumber)-unique — the
          // full quad is the smallest total order
          .sort(col("o_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_shipdate")))(s, d)
    },

    // ---- headline analytics (bench anchors; SURVEY §2.9 superset) ----
    "q1_pricing" -> { (s, d) =>
      run(
        stream(Seq("lineitem"), Consumed())
          .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(round(col("l_quantity") * 100).cast("long")) / 100.0, 2)
              .as("sum_qty"),
            round(sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0, 2)
              .as("sum_base_price"),
            round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long")) / 100.0, 2).as("sum_disc_price"),
            round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * (lit(1) + col("l_tax")) * 100).cast("long")) / 100.0, 2)
              .as("sum_charge"),
            round(sum(round(col("l_quantity") * 1000000).cast("long")) / 1e6
              / count(lit(1)), 4).as("avg_qty"),
            round(sum(round(col("l_extendedprice") * 1000000).cast("long")) / 1e6
              / count(lit(1)), 4).as("avg_price"),
            round(sum(round(col("l_discount") * 1000000).cast("long")) / 1e6
              / count(lit(1)), 6).as("avg_disc"),
            count(lit(1)).cast("long").as("count_order"))
          .sort(col("l_returnflag"), col("l_linestatus")))(s, d)
    },
    "q3_revenue" -> { (s, d) =>
      val li = stream(Seq("lineitem"),
        Consumed(keys = Seq("l_orderkey"), eventTime = Some("l_shipdate")))
      val orders = table("orders", Consumed(keys = Seq("o_orderkey")),
                         unique = true)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val custs = globalTable("customer", Consumed(keys = Seq("c_custkey")),
                              unique = true)
        .filter(col("c_mktsegment") === "BUILDING")
      run(
        li.filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
          .join(orders)
          .joinGlobal(custs, derivedKey = Seq(col("o_custkey")))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
                 * 100).cast("long")) / 100.0, 2).as("revenue"))
          .sort(col("l_orderkey")))(s, d)
    }
  )

  // ------------------------------------------------------------------ //
  val oracle: Map[String, String] = Map(
    "src_stream" ->
      """SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id""",
    "src_stream_pattern" ->
      """SELECT name FROM (SELECT n_name AS name FROM nation UNION ALL SELECT r_name FROM region) ORDER BY name""",
    "src_table" ->
      """SELECT user_id, arg_max(event_type, event_id) AS event_type,
         arg_max(value, event_id) AS value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "src_global_table" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",
    "op_filter" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE value > 100 ORDER BY event_id""",
    "op_filter_not" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE NOT (value > 100) ORDER BY event_id""",
    "op_map" ->
      """SELECT CAST(user_id % 100 AS BIGINT) AS k, round(value * 0.1, 3) AS v,
         event_id FROM events ORDER BY event_id""",
    "op_map_values" ->
      """SELECT event_id, user_id, upper(event_type) AS etype FROM events
         ORDER BY event_id""",
    "op_flat_map" ->
      """SELECT k, tag, v, event_id FROM (
           SELECT user_id AS k, 'a' AS tag, value AS v, event_id FROM events
           UNION ALL
           SELECT user_id, 'b', round(value * 2, 2), event_id FROM events)
         ORDER BY event_id, tag""",
    "op_flat_map_values" ->
      """SELECT doc_id, word FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' ORDER BY doc_id, word""",
    "wordcount" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY word""",
    "op_select_key" ->
      """SELECT event_type AS k, event_id, value FROM events ORDER BY event_id""",
    "op_branch" ->
      """SELECT event_id, value FROM events
         WHERE NOT (value > 150) AND value > 50 ORDER BY event_id""",
    "op_merge" ->
      """SELECT event_id, event_type FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
         ORDER BY event_id""",
    "op_to_stream" ->
      """SELECT event_type, count(*) AS n_users FROM (
           SELECT user_id, arg_max(event_type, event_id) AS event_type
           FROM events GROUP BY user_id)
         GROUP BY event_type ORDER BY event_type""",
    "op_peek" ->
      """SELECT event_id, event_type FROM events ORDER BY event_id""",
    "op_transform" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id
           FROM documents GROUP BY text)
         SELECT d.doc_id, d.lang,
           CAST(len(list_filter(string_split(d.text, ' '),
             x -> x <> '')) AS BIGINT) AS n_tokens
         FROM documents d JOIN keep USING (doc_id)
         WHERE len(list_filter(string_split(d.text, ' '),
           x -> x <> '')) BETWEEN 3 AND 1000000
         ORDER BY d.doc_id""",
    // full pipeline replay: min-id dedup -> C4 keep (thresholds on the
    // 4dp-rounded ratios, exactly c4Rules' arithmetic) -> PII regex chain
    // (identity on this digit-free corpus but replayed faithfully; Luhn
    // CC redaction is digit-gated, so it is exactly identity here — the
    // text_cc_redact gate owns its replay) -> exact all-pairs semantic
    // drop -> id-ordered prefix-sum packing
    "op_pipeline" ->
      """WITH base AS (SELECT doc_id, lang, text FROM documents
           WHERE doc_id < 800),
         keep AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text),
         d1 AS (SELECT b.doc_id, b.lang, b.text
           FROM base b JOIN keep USING (doc_id)),
         t AS (SELECT doc_id, lang, text,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM d1),
         q AS (SELECT doc_id, lang, text FROM t
           WHERE len(toks) BETWEEN 20 AND 100000
             AND round(list_sum(list_transform(toks, w -> length(w)))
               * 1.0 / greatest(len(toks), 1), 4) BETWEEN 3.0 AND 10.0
             AND round(len(list_filter(toks, w -> lower(w) IN
               ('the','a','and','of','to','in','is','it'))) * 1.0
               / greatest(len(toks), 1), 4) >= 0.02
             AND round(1.0 - len(list_distinct(toks)) * 1.0
               / greatest(len(toks), 1), 4) <= 0.6
             AND list_max(list_transform(toks, w -> length(w))) <= 20),
         r AS (SELECT doc_id, lang,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g'),
             '\+\d{9,15}\b', '<PHONE>', 'g') AS text
           FROM q),
         sem AS (SELECT r.doc_id, r.lang, r.text, e.embedding
           FROM r JOIN embeddings e ON e.vec_id = r.doc_id),
         dropped AS (SELECT DISTINCT b.doc_id FROM sem a, sem b
           WHERE a.doc_id < b.doc_id
             AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])) >= 0.95),
         surv AS (SELECT doc_id, lang, text FROM sem
           WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
         c AS (SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
             AS BIGINT) AS tok
           FROM surv),
         s AS (SELECT doc_id, lang, tok,
           COALESCE(SUM(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS start
           FROM c)
         SELECT doc_id, lang, tok, CAST(start AS BIGINT) AS start,
           CAST(start // 1024 AS BIGINT) AS first_bin,
           CAST((start + greatest(tok, 1) - 1) // 1024 AS BIGINT)
             AS last_bin
         FROM s ORDER BY doc_id""",
    "op_serde_json" ->
      """SELECT user_id, CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY user_id ORDER BY user_id""",
    "op_serde_avro" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    "agg_count" ->
      """SELECT event_type, count(*) AS n FROM events GROUP BY event_type
         ORDER BY event_type""",
    "agg_count_windowed" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         user_id, count(*) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "agg_count_hopping" ->
      """WITH slots AS (SELECT unnest([0, 1]) AS s)
         SELECT CAST(date_trunc('day', ts) - INTERVAL 12 HOUR * s
                     + INTERVAL 12 HOUR * CAST(extract(hour FROM ts) >= 12 AS INT) AS TIMESTAMP)
                AS window_start,
                event_type, count(*) AS n
         FROM events, slots
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "agg_reduce" ->
      """SELECT user_id, round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
         AS value FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_aggregate" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_v,
         max(value) AS max_v
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         flags AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (SELECT user_id, ts,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
           FROM flags)
         SELECT min(ts) AS session_start, user_id, count(*) AS n
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "agg_session_user" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         flags AS (SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (SELECT user_id, ts, value,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
           FROM flags)
         SELECT user_id, min(ts) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_v
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    "op_process" ->
      """WITH x AS (SELECT user_id, value,
           max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prevmax
         FROM events)
         SELECT user_id, value AS vmax FROM x
         WHERE prevmax IS NULL OR value > prevmax
         ORDER BY user_id, vmax""",
    "agg_topk" ->
      """SELECT o_custkey, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk""",
    "agg_cube" ->
      """SELECT event_type, CAST(user_id % 3 AS BIGINT) AS ubucket, count(*) AS n
         FROM events GROUP BY CUBE (event_type, CAST(user_id % 3 AS BIGINT))
         ORDER BY event_type ASC NULLS FIRST, ubucket ASC NULLS FIRST""",
    "set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""",
    "set_except" ->
      """SELECT user_id FROM events
           WHERE event_type = 'purchase' AND value > 100
         EXCEPT
         SELECT user_id FROM events
           WHERE event_type = 'purchase' AND value > 180
         ORDER BY user_id""",
    "agg_pivot" ->
      """SELECT l_returnflag,
         CAST(sum(CASE WHEN l_linestatus = 'F'
               THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS BIGINT)
           AS qty_f,
         CAST(sum(CASE WHEN l_linestatus = 'O'
               THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS BIGINT)
           AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q5_region_revenue" ->
      """SELECT n.n_name,
         round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue,
         count(*) AS n_items
         FROM lineitem l, orders o, customer c, nation n, region r
         WHERE l.l_orderkey = o.o_orderkey
           AND o.o_custkey = c.c_custkey
           AND c.c_nationkey = n.n_nationkey
           AND n.n_regionkey = r.r_regionkey
           AND r.r_name = 'ASIA'
         GROUP BY n.n_name ORDER BY n.n_name""",
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "agg_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         count(*) AS n FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         TRUE AS within_bound
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_salted" ->
      """SELECT l_returnflag,
         round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "join_salted" ->
      """SELECT o.o_orderkey, o.o_custkey, c.c_name,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
         ORDER BY o.o_orderkey""",
    "join_bloom_prune" ->
      """SELECT l.l_orderkey, l.l_linenumber,
         CAST(round(l.l_quantity * 100) AS BIGINT) AS qty_cents, s.s_name
         FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
         WHERE s.s_nationkey = 3
         ORDER BY l.l_orderkey, l.l_linenumber, qty_cents, s.s_name""",
    "join_table_table" ->
      """SELECT c.c_custkey, c.c_name, o.n_orders, o.total
         FROM customer c
         JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                      round(sum(o_totalprice), 2) AS total
               FROM orders GROUP BY o_custkey) o
           ON c.c_custkey = o.o_custkey
         ORDER BY c.c_custkey""".replace(
           "round(sum(o_totalprice), 2)",
           "round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)"),
    "join_left" ->
      """SELECT c.c_custkey, c.c_name,
         CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
         round(coalesce(o.total, 0), 2) AS total
         FROM customer c
         LEFT JOIN (SELECT o_custkey, count(*) AS n_orders,
                           round(sum(o_totalprice), 2) AS total
                    FROM orders GROUP BY o_custkey) o
           ON c.c_custkey = o.o_custkey
         ORDER BY c.c_custkey""".replace(
           "round(sum(o_totalprice), 2)",
           "round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)"),
    "join_outer" ->
      """SELECT coalesce(c.k, s.k) AS nationkey,
         CAST(coalesce(c.n_cust, 0) AS BIGINT) AS n_cust,
         CAST(coalesce(s.n_supp, 0) AS BIGINT) AS n_supp
         FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
         FULL OUTER JOIN (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
           ON c.k = s.k
         ORDER BY nationkey""",
    "join_stream_table" ->
      """SELECT e.event_id, e.user_id, c.c_name, e.value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""",
    "join_global" ->
      """SELECT l.l_orderkey, l.l_linenumber, p.p_name, p.p_retailprice
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         ORDER BY l.l_orderkey, l.l_linenumber, p.p_name, p.p_retailprice""",
    "join_stream_stream_window" ->
      """SELECT o.o_orderkey, l.l_linenumber, l.l_quantity, l.l_shipdate,
                o.o_orderstatus
         FROM orders o JOIN lineitem l
           ON o.o_orderkey = l.l_orderkey
          AND l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
         ORDER BY o.o_orderkey, l.l_linenumber, l.l_quantity, l.l_shipdate""",
    "join_stream_stream_left" ->
      """SELECT o.o_orderkey, l.l_linenumber, l.l_quantity, l.l_shipdate,
                o.o_orderstatus
         FROM orders o LEFT JOIN lineitem l
           ON o.o_orderkey = l.l_orderkey
          AND l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
         ORDER BY o.o_orderkey, l.l_linenumber NULLS FIRST,
                  l.l_quantity NULLS FIRST, l.l_shipdate NULLS FIRST""",
    "join_stream_stream_outer" ->
      """SELECT coalesce(o.o_orderkey, l.l_orderkey) AS o_orderkey,
                l.l_linenumber, l.l_quantity, l.l_shipdate, o.o_orderstatus
         FROM orders o FULL JOIN lineitem l
           ON o.o_orderkey = l.l_orderkey
          AND l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
         ORDER BY o_orderkey, l.l_linenumber NULLS FIRST,
                  l.l_quantity NULLS FIRST, l.l_shipdate NULLS FIRST""",
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 2) AS sum_qty,
         round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_base_price,
         round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0, 2) AS sum_disc_price,
         round(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) / 100.0, 2) AS sum_charge,
         round(sum(CAST(round(l_quantity * 1000000) AS BIGINT)) / 1e6 / count(*), 4) AS avg_qty,
         round(sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) / 1e6 / count(*), 4) AS avg_price,
         round(sum(CAST(round(l_discount * 1000000) AS BIGINT)) / 1e6 / count(*), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q3_revenue" ->
      """SELECT l.l_orderkey, o.o_orderdate,
         round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0, 2) AS revenue
         FROM customer c, orders o, lineitem l
         WHERE c.c_mktsegment = 'BUILDING'
           AND c.c_custkey = o.o_custkey
           AND l.l_orderkey = o.o_orderkey
           AND o.o_orderdate < TIMESTAMP '1998-01-01'
           AND l.l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l.l_orderkey, o.o_orderdate
         ORDER BY l.l_orderkey"""
  )
}
