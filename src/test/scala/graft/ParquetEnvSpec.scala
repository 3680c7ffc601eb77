package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, ParquetEnv}
import graft.queries.{CoreQueries, ExtQueries}
import java.nio.file.Files
import org.apache.spark.sql.graftfn.ParquetFooters

/** The batch source env's compile contract: parquet schemas and the
  * global-table guard's row bound come from part-file footers read on the
  * driver, so compiling a topology starts no Spark job; every layout Spark
  * would read differently keeps Spark's own schema inference.
  */
class ParquetEnvSpec extends SparkSpecBase {

  import spark.implicits._

  private val fixtureDirs =
    Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")

  private def tmpDir(): String =
    Files.createTempDirectory("parquet-env-spec").toString

  test("compiling every CoreQueries topology and the benchmark's Ext rows " +
    "over ParquetEnv starts no Spark job") {
    // Rows whose query function does algorithmic driver work by design,
    // never a schema job: join_bloom_prune builds its Bloom filter from the
    // build side, op_pipeline fits semantic dedup's quantizer (a count and
    // adaptive barriers), sim_ann_bq fits its quantizer with two first()
    // calls, and ds_contamination_suites_stream collects its suite list
    // (one collect, run by AQE as two jobs).
    val driverWork = Map("join_bloom_prune" -> 5, "op_pipeline" -> 17,
      "sim_ann_bq" -> 2, "ds_contamination_suites_stream" -> 2)
    val ext = Seq("dedup_incremental", "sim_ann_bq", "text_readability",
      "join_asof_tol", "ds_sample_exact_weighted",
      "ds_contamination_suites_stream")
    val rows = CoreQueries.queries.toSeq.sortBy(_._1) ++
      ext.map(n => n -> ExtQueries.queries(n))
    val jobs = rows.map { case (n, q) =>
      val (_, sites) = jobSitesDuring(q(spark, sfDir))
      graft.ext.OpCaches.releaseAll()
      n -> sites
    }
    val unexpected = jobs.filter { case (n, s) => s.size != driverWork.getOrElse(n, 0) }
    assert(unexpected.isEmpty, s"compile-time jobs: $unexpected")
  }

  test("footer schema equals Spark's inferred schema and the footer row " +
    "count equals count() for every fixture table") {
    new ParquetEnv(spark, sfDir) // the env's session settings (nanosAsLong)
    for (dir <- fixtureDirs; f <- new java.io.File(dir).list().sorted) {
      val path = s"$dir/$f"
      val inferred = spark.read.parquet(path)
      val summary = ParquetFooters.summary(spark, path)
      assert(summary.isDefined, path)
      assert(ParquetEnv.read(spark, path).schema == inferred.schema, path)
      assert(summary.get.rows == inferred.count(), path)
      // same relation, so the same plans downstream
      assert(ParquetEnv.read(spark, path).queryExecution.analyzed
        .sameResult(inferred.queryExecution.analyzed), path)
    }
  }

  test("a flat multi-part directory reads from footers; a partitioned " +
    "tree and disagreeing part schemas fall back to inference") {
    val flat = s"${tmpDir()}/flat"
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3).write.parquet(flat)
    val fs = ParquetFooters.summary(spark, flat)
    assert(fs.map(_.rows).contains(40L))
    assert(jobsDuring(ParquetEnv.read(spark, flat))._2 == 0)
    assert(ParquetEnv.read(spark, flat).schema == spark.read.parquet(flat).schema)

    val parted = s"${tmpDir()}/parted"
    (1 to 40).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .write.partitionBy("p").parquet(parted)
    assert(ParquetFooters.summary(spark, parted).isEmpty)
    assert(jobsDuring(ParquetEnv.read(spark, parted))._2 > 0) // inference
    val pr = ParquetEnv.read(spark, parted)
    assert(pr.schema == spark.read.parquet(parted).schema)
    assert(pr.schema.fieldNames.toSeq == Seq("id", "p"))
    assert(pr.count() == 40)

    val mixed = tmpDir()
    val a = s"$mixed/a"; val b = s"$mixed/b"; val m = s"$mixed/m"
    Seq(1L).toDF("id").coalesce(1).write.parquet(a)
    Seq("x").toDF("id").coalesce(1).write.parquet(b)
    Files.createDirectory(java.nio.file.Paths.get(m))
    for ((src, tag) <- Seq(a -> "a", b -> "b");
         part <- new java.io.File(src).listFiles() if part.getName.startsWith("part-"))
      Files.copy(part.toPath, java.nio.file.Paths.get(m, s"part-$tag.parquet"))
    assert(ParquetFooters.summary(spark, m).isEmpty)
  }

  test("global table guard: a row bound within maxRows skips the count; " +
    "raw rows over it but compacted rows under it compile through the " +
    "count fallback") {
    val env = new ParquetEnv(spark, sfDir)
    val raw = env.rowBound("orders").get
    val customers = env.load("orders").select("o_custkey").distinct().count()
    assert(customers < raw)
    val node = globalTable("orders", Consumed(keys = Seq("o_custkey")))
    try {
      spark.conf.set("graft.globalTable.maxRows", raw.toString)
      assert(jobsDuring(Compiler.compile(node, env))._2 == 0)
      spark.conf.set("graft.globalTable.maxRows", customers.toString)
      val (f, jobs) = jobsDuring(Compiler.compile(node, env))
      assert(jobs > 0) // the bounded count ran
      assert(f.df.count() == customers)
      spark.conf.set("graft.globalTable.maxRows", (customers - 1).toString)
      val e = intercept[IllegalArgumentException](Compiler.compile(node, env))
      assert(e.getMessage.contains("broadcast guard"))
    } finally spark.conf.unset("graft.globalTable.maxRows")
  }
}
