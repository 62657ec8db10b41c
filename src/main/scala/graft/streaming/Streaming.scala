package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming layer — the BASELINE north star ("Structured
  * Streaming + in-memory caching") that SUBSUMES the reference's two
  * streaming-ish mechanisms (SURVEY.md §2.9):
  *  (a) chunked multi-run prepared inserts (tot_run/curr_run,
  *      oph_io_server_thread.h:60-66) → [[appendStream]]: each micro-batch
  *      appends to a cached fragment via foreachBatch;
  *  (b) ESDM read-stream reduction (sub_operation during read,
  *      oph_io_server_esdm.c:1890-1899) → fold any Column op into the
  *      stream before materialization.
  *
  * Watermarks + windows + session state are native extensions the
  * reference lacks. All aggregations are partial+final (map-side combine),
  * and state is partitioned by key — the standard 1000-executor shape.
  */
object Streaming {

  /** (a) multi_insert-as-a-stream: append each micro-batch into one
    * cached union fragment; `register` receives the running fragment
    * after every batch (e.g. to swap it into an IoServer catalog). */
  def appendStream(stream: DataFrame, register: DataFrame => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    var acc: Option[DataFrame] = None
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.persist()
        graft.core.Engine.materialize(b)
        val merged = acc match {
          case Some(prev) => prev.unionByName(b)
          case None => b
        }
        acc = Some(merged)
        register(merged)
        ()
      }
      .start()
  }

  /** Tumbling/sliding windowed aggregation with a watermark: counts and
    * a sum per (window, event_type)-style key. */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valCol: String, window_ : String, slide: Option[String] = None,
                  watermark: String = "10 minutes"): DataFrame = {
    val w = slide match {
      case Some(sl) => window(col(tsCol), window_, sl)
      case None => window(col(tsCol), window_)
    }
    events.withWatermark(tsCol, watermark)
      .groupBy(w.as("win"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valCol)).as("sum_value"))
      .select(col("win.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Long, total: Double,
                                  open: Boolean)
  final case class SessionBuf(n: Long, total: Double, lastMs: Long)

  /** Session windows with custom state (flatMapGroupsWithState): a
    * session closes after `gapMs` of inactivity per user. Demonstrates the
    * KeyValueGroupedDataset state API the reference has no analogue for. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuf, SessionSummary](
        OutputMode.Append, timeout) {
        (uid: Long, rows: Iterator[SessionEvent], st: GroupState[SessionBuf]) =>
          if (st.hasTimedOut) {
            val b = st.get
            st.remove()
            Iterator.single(SessionSummary(uid, b.n, b.total, open = false))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var buf = st.getOption.getOrElse(SessionBuf(0, 0.0, Long.MinValue))
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { e =>
              if (buf.lastMs != Long.MinValue && e.ts.getTime - buf.lastMs > gapMs) {
                closed += SessionSummary(uid, buf.n, buf.total, open = false)
                buf = SessionBuf(0, 0.0, Long.MinValue)
              }
              buf = SessionBuf(buf.n + 1, buf.total + e.value, e.ts.getTime)
            }
            st.update(buf)
            if (useTimeout) st.setTimeoutDuration(gapMs)
            closed.result().iterator
          }
      }
  }
}
