package perfbench

import graft.queries.{CoreQueries, ExtQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import scala.collection.mutable
import scala.util.Random

/** `batch_suites`: one closed-loop client runs a fixed set of queries in a
  * seed-shuffled order, sweep after sweep. Each operation is
  *   1. the query function call (DSL → `KNode` → compile, eager analysis),
  *   2. forcing the physical plan (Catalyst optimization and planning),
  *   3. executing that plan and consuming every row on the executors
  *      (nothing is collected into the JVM heap),
  * and its latency runs from the call to the consumed result. Operator
  * caches are released after each operation, outside its latency.
  */
object Batch extends AdaptiveSparkPlanHelper {
  type Q = (SparkSession, String) => DataFrame

  /** The fixed rows, twelve so that a run (one cold checked sweep, one warm
    * sweep, two timed sweeps) fits its time budget. CoreQueries: grouped
    * aggregation, windowed stream-stream join, stateless explode, the
    * reference's wordcount, TPC-H Q5 (four broadcast joins, the most jobs
    * per query) and a global table (its size guard runs a job inside the
    * query function call). Ext*Queries: one row per family. The seed changes
    * the data and the order, never the rows.
    */
  val coreRows: Seq[String] = Seq("agg_aggregate", "join_stream_stream_window",
    "op_flat_map_values", "wordcount", "q5_region_revenue", "src_global_table")
  val extRows: Seq[String] = Seq(
    "dedup_incremental",              // ExtDedupQueries
    "sim_ann_bq",                     // ExtSimQueries
    "text_readability",               // ExtTextQueries
    "join_asof_tol",                  // ExtEventQueries
    "ds_sample_exact_weighted",       // ExtDataQueries
    "ds_contamination_suites_stream") // ExtStatsQueries

  private final case class Sample(name: String, totalMs: Double,
                                  compileMs: Double, planMs: Double,
                                  execMs: Double, exchanges: Int,
                                  traced: Boolean)

  /** Shuffle and broadcast exchanges in the final (adaptive) plan. */
  private def exchanges(plan: SparkPlan): Int = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    collectWithSubqueries(root) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
  }

  def run(spark: SparkSession, o: Opts, res: Result, tracer: Tracer,
          setupDone: () => Unit): Unit = {
    val sc = spark.sparkContext
    val qs: Seq[(String, Q)] =
      coreRows.map(n => n -> CoreQueries.queries(n)) ++
        extRows.map(n => n -> ExtQueries.queries(n))
    val rnd = new Random(o.seed)
    val sweepS = mutable.ArrayBuffer[Double]() // every sweep, warm-up too
    var tSweep = System.nanoTime()
    def lap(): Unit = {
      val t = System.nanoTime(); sweepS += (t - tSweep) / 1e9; tSweep = t
    }

    // Warm-up at the run's own scale: one sweep whose results are written
    // once, untimed, for the oracle check; then one unrecorded sweep of the
    // timed operation, so the first recorded sweep runs near steady state.
    val failedQueries = mutable.LinkedHashSet[String]()
    rnd.shuffle(qs).foreach { case (n, fn) =>
      res.attempted += 1
      try fn(spark, o.data).coalesce(1).write.mode("overwrite")
        .parquet(s"${o.out}/check/$n")
      catch { case e: Throwable => failedQueries += n; res.fail(n, e) }
      graft.ext.OpCaches.releaseAll()
    }
    val oracle = CoreQueries.oracle ++ ExtQueries.oracle
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${o.out}/oracle_sql.json"),
      Json.obj(qs.flatMap { case (n, _) =>
        oracle.get(n).map(sql => n -> Json.str(sql)) }))
    lap()
    val live = qs.filterNot(q => failedQueries(q._1))

    def op(n: String, fn: Q): Sample = {
      val t0 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "compile")
      val df = fn(spark, o.data)
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "exec")
      val qe = df.queryExecution
      qe.executedPlan
      val t2 = System.nanoTime()
      SQLExecution.withNewExecutionId(qe, Some(n)) {
        qe.executedPlan.execute().foreach(_ => ())
      }
      val t3 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, null)
      Sample(n, (t3 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        (t3 - t2) / 1e6, if (tracer.enabled) exchanges(qe.executedPlan) else 0,
        tracer.enabled)
    }

    rnd.shuffle(live).foreach { case (n, fn) =>
      try op(n, fn) catch { case _: Throwable => }
      graft.ext.OpCaches.releaseAll()
    }
    lap()
    setupDone()

    // Timed sweeps, whole ones so every query is sampled equally often: one
    // per 5 s of the run's time (a sweep takes 6-8 s on an idle 4-core host).
    // The count must not depend on how fast sweeps go, or CPU per query
    // would follow host load through the share of warm-up left in the
    // first sweep. A traced run alternates sweeps with and without
    // the listener (the first with it) and runs at least three, so counts
    // can be compared across two traced sweeps.
    val samples = mutable.ArrayBuffer[Sample]()
    val counts = mutable.Map[String, mutable.ArrayBuffer[Seq[Long]]]()
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    val sweepCpu = mutable.ArrayBuffer[(Boolean, Double)]() // CPU ms per op
    var leaked = 0
    val tStart = System.nanoTime()
    val cpu0 = Host.cpuNs()
    val alloc0 = Host.allocBytes()
    def elapsedS = (System.nanoTime() - tStart) / 1e9
    val sweeps = math.max(math.round(o.seconds / 5).toInt, if (o.trace) 3 else 1)
    for (sweep <- 0 until sweeps) {
      val sweepCpu0 = Host.cpuNs()
      val sweepOps0 = samples.size
      val traced = o.trace && sweep % 2 == 0
      if (traced) tracer.enable() else tracer.disable()
      rnd.shuffle(live).foreach { case (n, fn) =>
        res.attempted += 1
        val c0 = if (traced) tracer.snap("compile") else null
        val e0 = if (traced) tracer.snap("exec") else null
        try {
          val s = op(n, fn)
          samples += s
          if (traced) {
            val c = tracer.snap("compile") - c0
            val e = tracer.snap("exec") - e0
            layer("compile.jobs") += c.jobs
            layer("plan.exchanges") += s.exchanges
            layer("exec.jobs") += e.jobs
            layer("exec.stages") += e.stages
            layer("exec.tasks") += e.tasks
            layer("exec.shuffle_write_mb") += e.shuffleWrite / 1048576.0
            layer("exec.spill_mb") += e.spill / 1048576.0
            layer("exec.cpu_s") += e.cpuNs / 1e9
            layer("exec.gc_s") += e.gcMs / 1e3
            counts.getOrElseUpdate(n, mutable.ArrayBuffer()) += Seq(
              c.jobs + e.jobs, c.tasks + e.tasks, c.shuffleWrite + e.shuffleWrite)
          }
        } catch { case e: Throwable => res.fail(n, e) }
        graft.ext.OpCaches.releaseAll()
        if (traced && !sc.getPersistentRDDs.isEmpty) {
          // a persist that bypassed OpCaches: note it, then drop it so it
          // cannot slow later operations
          leaked = math.max(leaked, sc.getPersistentRDDs.size)
          spark.catalog.clearCache()
          sc.getPersistentRDDs.values.foreach(_.unpersist(false))
        }
      }
      sweepCpu += ((traced,
        (Host.cpuNs() - sweepCpu0) / 1e6 / (samples.size - sweepOps0).max(1)))
      lap()
    }
    tracer.disable()
    val wallS = elapsedS
    res.e2e("cpu_ms_per_op") = (Host.cpuNs() - cpu0) / 1e6 / samples.size.max(1)
    res.e2e("alloc_mb_per_op") =
      (Host.allocBytes() - alloc0) / 1048576.0 / samples.size.max(1)

    val lat = samples.map(_.totalMs).toSeq
    res.ungated ++= Seq("queries" -> lat.size.toDouble,
      "queries_per_s" -> lat.size / wallS,
      "query_p50_ms" -> Stats.pct(lat, 50),
      "query_p95_ms" -> Stats.pct(lat, 95))
    res.notes("sweep_s") = sweepS.map(x => f"$x%.2f").toSeq
    res.notes("query_median_ms") = samples.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${Stats.pct(v.map(_.totalMs).toSeq, 50)}%.0f" }
    res.notes("executions") = samples.groupBy(_.name)
      .map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted

    if (o.trace) {
      val (tr, untraced) = samples.partition(_.traced)
      val n = tr.size.max(1).toDouble
      res.layers("compile.ms") = Stats.mean(tr.map(_.compileMs).toSeq)
      res.layers("plan.ms") = Stats.mean(tr.map(_.planMs).toSeq)
      res.layers("exec.ms") = Stats.mean(tr.map(_.execMs).toSeq)
      Seq("compile.jobs", "plan.exchanges", "exec.jobs", "exec.stages",
        "exec.tasks", "exec.shuffle_write_mb", "exec.spill_mb", "exec.cpu_s",
        "exec.gc_s").foreach(k => res.layers(k) = layer(k) / n)
      res.layers("exec.busy_share") = layer("exec.cpu_s") /
        (tr.map(_.execMs).sum / 1e3 * sc.defaultParallelism).max(1e-9)
      res.layers("exec.cache_leaked_blocks") = leaked
      // every query runs once per sweep, so the means weigh queries alike
      res.layers("trace.overhead_pct") = Stats.overheadPct(
        tr.map(_.totalMs).toSeq, untraced.map(_.totalMs).toSeq)
      res.layers("trace.cpu_overhead_pct") = Stats.overheadPct(
        sweepCpu.collect { case (true, c) => c }.toSeq,
        sweepCpu.collect { case (false, c) => c }.toSeq)
      // count determinism: jobs, tasks and shuffle bytes of each query must
      // repeat exactly across the traced sweeps (same inputs, same plan)
      val fields = Seq("jobs", "tasks", "shuffle_bytes")
      val drift = counts.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        val moved = fields.indices.filter(i => v.map(_(i)).distinct.size > 1)
        if (moved.isEmpty) None
        else Some(k + " " + moved.map(i =>
          s"${fields(i)}=${v.map(_(i)).mkString("/")}").mkString(" "))
      }
      res.layers("exec.count_drift_queries") = drift.size
      res.notes("count_drift") = drift
    }
  }
}
