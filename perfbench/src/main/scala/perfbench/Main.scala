package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: start Spark, warm the workload up,
  * measure it for the requested time and write `jvm.json` into the run's
  * output directory. `perfbench/run.py` builds, generates the inputs,
  * checks the outputs and prints the result line.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <input dir> --out <output dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    val tracer = new Tracer(spark)
    var setupS = 0.0
    val setupDone = () =>
      setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try o.workload match {
      case "batch_suites" =>
        Batch.run(spark, o, res, tracer, setupDone)
      case "stream_serve" => Serve.run(spark, o, res, tracer, setupDone)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      tracer.disable()
      spark.stop()
    }
    res.e2e("setup_s") = setupS
    res.ungated("peak_rss_mb") = Host.peakRssMb()
    val json = Json.obj(Seq(
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "e2e" -> Json.obj(res.e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(res.layers.map { case (k, v) => k -> Json.num(v) }),
      "ungated" -> Json.obj(res.ungated.map { case (k, v) => k -> Json.num(v) }),
      "notes" -> Json.obj(res.notes.map { case (k, v) =>
        k -> Json.arr(v.map(Json.str)) }),
      "errors" -> Json.arr(res.errors.map(Json.str))))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${o.out}/jvm.json"), json)
  }
}
