package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is the id of the span that caused it
  * (-1 for a root), `req` the request (loop or query) it belongs to.
  * Times are epoch milliseconds with a fractional part. */
final case class Span(id: Long, parent: Long, req: String, name: String,
                      start: Double, end: Double)

/** In-memory span store; written out only when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0L
  def nowMs: Double = System.currentTimeMillis().toDouble +
    (System.nanoTime() % 1000000L) / 1e6
  def newId(): Long = synchronized { next += 1; next }
  def put(id: Long, parent: Long, req: String, name: String, start: Double,
          end: Double): Unit = synchronized {
    buf += Span(id, parent, req, name, start, end)
  }
  def add(parent: Long, req: String, name: String, start: Double,
          end: Double): Long = {
    val id = newId(); put(id, parent, req, name, start, end); id
  }
  def all: Seq[Span] = synchronized(buf.toList)
  def clear(): Unit = synchronized(buf.clear())
}

/** Harness-owned listeners over one SparkSession: job/stage/task
  * counters, cached-block bytes, planning phases of every SQL execution
  * and the durations of every streaming micro-batch. Counters cover the
  * interval since the last [[reset]]. Job intervals are recorded as
  * root spans; `run.py` nests each under the span that contains it. */
final class Probe(spark: SparkSession, spans: Spans) {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val blocks = mutable.Map.empty[String, Long]
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill, runMs, gcMs = 0L
  var cachedPeak = 0L
  var planMs = 0.0
  var executions = 0L
  val batches = mutable.ArrayBuffer.empty[(Map[String, Long], Long)]
  /** Wall time spent inside this probe's callbacks (its own overhead). */
  @volatile var callbackNs = 0L

  private def cb[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callbackNs += System.nanoTime() - t0
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0; shuffleRead = 0
    spill = 0; runMs = 0; gcMs = 0; planMs = 0; executions = 0
    cachedPeak = blocks.values.sum
    batches.clear()
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cb {
      Probe.this.synchronized { jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = cb {
      Probe.this.synchronized {
        jobs += 1
        jobStart.remove(e.jobId).foreach { t0 =>
          spans.add(-1, "", "spark.job", t0.toDouble, e.time.toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cb {
      Probe.this.synchronized { stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cb {
      val m = e.taskMetrics
      if (m != null) Probe.this.synchronized {
        tasks += 1
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = cb {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD) Probe.this.synchronized {
        val sz = i.memSize + i.diskSize
        if (sz > 0) blocks(i.blockId.name) = sz else blocks.remove(i.blockId.name)
        cachedPeak = math.max(cachedPeak, blocks.values.sum)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = cb {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      Probe.this.synchronized { planMs += ms; executions += 1 }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = cb {
      import scala.jdk.CollectionConverters._
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Probe.this.synchronized { batches += ((d, e.progress.numInputRows)) }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Counters since the last reset, as JSON fields. The listener bus is
    * asynchronous: drain it first so every event of the interval counts. */
  def json(): String = {
    Probe.drain(spark)
    synchronized {
      val b = batches.toList
      val phases = Seq("addBatch", "walCommit", "commitOffsets",
        "queryPlanning", "getBatch", "latestOffset", "triggerExecution")
      val phaseJson = phases.map { p =>
        s""""$p":${Json.arr(b.map(_._1.getOrElse(p, 0L).toDouble))}"""
      }.mkString(",")
      val withData = b.count(_._2 > 0)
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_write_b":$shuffleWrite,"shuffle_read_b":$shuffleRead,""" +
        s""""spill_b":$spill,"run_ms":$runMs,"gc_ms":$gcMs,""" +
        s""""cached_peak_b":$cachedPeak,"plan_ms":$planMs,""" +
        s""""executions":$executions,"batches":${b.size},""" +
        s""""data_batches":$withData,"phases":{$phaseJson},""" +
        s""""callback_ms":${callbackNs / 1e6}}"""
    }
  }
}

object Probe {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchShims.drainListenerBus(spark.sparkContext)

  /** Peak resident set of this process (VmHWM), bytes. */
  def peakRssBytes(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(0L)
    finally src.close()
  }

  /** CPU time (user + system) of this process, seconds. */
  def cpuSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    try {
      val f = src.mkString.split("\\) ", 2)(1).split(' ')
      (f(11).toLong + f(12).toLong) / 100.0 // utime, stime in clock ticks
    } finally src.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(ds: Seq[Double]): String = ds.map(num).mkString("[", ",", "]")
  def spans(ss: Seq[Span]): String = ss.map { s =>
    s"""[${s.id},${s.parent},${str(s.req)},${str(s.name)},${num(s.start)},${num(s.end)}]"""
  }.mkString("[", ",", "]")
}
