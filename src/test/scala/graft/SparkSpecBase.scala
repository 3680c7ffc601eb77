package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One shared session per suite; sf0.001 fixtures. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, streaming micro-batches
    * excluded.
    */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    val (out, sites) = jobSitesDuring(body)
    (out, sites.size)
  }

  /** The call sites (`<spark method> at <file>:<line>`, the name of each
    * job's result stage) of the Spark jobs started while `body` runs,
    * streaming micro-batches excluded. A marker job run after `body`
    * flushes the listener bus: events arrive in order, so once the
    * marker's start is seen every earlier job's start has been recorded.
    */
  protected def jobSitesDuring[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val marker = s"spec-marker-${System.nanoTime()}"
    val sites = new ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
        else if (p.forall(_.getProperty("sql.streaming.queryId") == null))
          sites.add(e.stageInfos.maxBy(_.stageId).name)
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
