package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.spark.ListenerBusShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the engine posture on 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
  /** The session's Hadoop configuration, as the sources' readers take it. */
  def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  /** The Spark jobs `f` starts from this thread (tagged through a local
    * property, which every job of the thread's actions carries). */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tagKey = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tagKey) == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(tagKey, tag)
    try {
      f
      ListenerBusShims.drain(sc)
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(l)
    }
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Engine.session(4)
  session.sparkContext.setLogLevel("ERROR")
}
