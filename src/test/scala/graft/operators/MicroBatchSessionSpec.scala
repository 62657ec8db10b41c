package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.SparkSpec

/** Stream harnesses run on their own child session
  * (`Engine.microBatchSession`): the caller's conf never changes, its
  * streaming listeners still see every batch at the 4-way state width,
  * two harnesses share one session side by side, and nothing is left in
  * the tmpdir. */
class MicroBatchSessionSpec extends SparkSpec {
  private val parts = "spark.sql.shuffle.partitions"

  /** A caller session whose shuffle width no harness uses. */
  private def caller(): SparkSession = {
    val ts = spark.newSession()
    ts.conf.set(parts, "6")
    ts
  }

  test("q49 never changes the calling session's shuffle partitions") {
    val ts = caller()
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(ts.conf.get(parts))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      StreamQueries.q49_dedup_filesource(ts, sf()).collect()
      ListenerBusShims.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(!seen.isEmpty)
    assert(seen.asScala.toSet == Set("6"))
  }

  test("a streaming listener on the caller sees q49's batches at 4-way state") {
    val ts = caller()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val l = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == "q49_stream_out") progress.add(e.progress)
    }
    ts.streams.addListener(l)
    try {
      StreamQueries.q49_dedup_filesource(ts, sf()).collect()
      ListenerBusShims.drain(spark.sparkContext)
    } finally ts.streams.removeListener(l)
    val ps = progress.asScala.toSeq
    assert(ps.exists(_.numInputRows > 0), "no data batch reached the listener")
    val widths = ps.flatMap(_.stateOperators.map(_.numShufflePartitions))
    assert(widths.nonEmpty && widths.forall(_ == 4), s"state widths $widths")
  }

  test("q49 and q30 run at once on one session, each with its sequential answer") {
    val ts = caller()
    val q49 = StreamQueries.q49_dedup_filesource(ts, sf()).collect().toSeq
    val q30 = StreamQueries.q30_stream_filesource(ts, sf()).collect().toSeq
    val both = Future.sequence(Seq(
      Future(StreamQueries.q49_dedup_filesource(ts, sf()).collect().toSeq),
      Future(StreamQueries.q30_stream_filesource(ts, sf()).collect().toSeq)))
    val Seq(c49, c30) = Await.result(both, 10.minutes)
    assert(c49 == q49)
    assert(c30 == q30)
    assert(ts.conf.get(parts) == "6")
  }

  test("q72 and q83 leave no watch, checkpoint or output dir in the tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    // StreamingSpec's own protocol check uses graft_e1x_spec*
    def ours(): Set[String] = tmp.list().filter(n =>
      n.startsWith("graft_restart") ||
        (n.startsWith("graft_e1x") && !n.startsWith("graft_e1x_spec"))).toSet
    val before = ours()
    // collect() after return: the results must outlive their dirs
    assert(StreamQueries.q72_stream_restart(spark, sf()).collect().nonEmpty)
    assert(StreamQueries.q83_stream_exactly_once(spark, sf()).collect().nonEmpty)
    assert(ours() -- before == Set.empty[String])
  }
}
