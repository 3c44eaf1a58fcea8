package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates suite runtime otherwise). It carries
  * [[functions.GraftExtensions]] like every session the mains build, so
  * specs resolve the native functions and run the optimizer rule that
  * Bench and Verify run. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier
  val spark: SparkSession = SparkSpec.spark

  /** The jobs `body` starts in the session, once the listener bus has
    * delivered every event `body` posted. */
  def jobsStarted(body: => Unit): Seq[SparkListenerJobStart] = {
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** A job's `spark.job.description` property, if it has one. */
  def description(job: SparkListenerJobStart): Option[String] =
    Option(job.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
}
