package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.core.{Engine, Tables}
import graft.functions.KeyAlgebra

/** Streaming operators run under the batch oracle (like d09): the
  * events table flows through the REAL micro-batch engine and the
  * emitted results must hash-match the equivalent batch SQL — proving
  * watermark/window semantics converge to the offline answer.
  */
object StreamQueries {

  /** Landing-directory lifecycle shared by every file-source harness: a
    * temp root holding the watch dir, deleted on EVERY exit path, so a
    * failure mid-query cannot leak a full events copy across a sweep.
    * What a harness derives from the watch path as a sibling
    * (`<watch>_ckpt`, `<watch>_out`, staged drops) lives under the same
    * root and dies with it. Results read lazily from OTHER paths (q39's
    * MV store) survive. */
  private[operators] def withWatchDir[T](prefix: String)(body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try body(java.nio.file.Files.createDirectory(root.resolve("watch")).toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  /** Stage a drop: `write` fills a fresh directory beside the watch dir,
    * and the returned closure MOVES its data files (not `_SUCCESS` or
    * `.crc` siblings) into the watch dir (same filesystem → instant
    * rename). r19 (guide §1/§2 — measured): the continuously-polling
    * FileStreamSource lists the watch dir every ~10 ms, so a multi-file
    * append written in place was routinely picked up HALF-DONE,
    * splitting one intended drop into 2–3 micro-batches (q48's engine
    * progress showed 6 data batches for 2 drops); at a ~0.7 s per-batch
    * floor that is pure harness overhead. Staging + rename makes each
    * drop appear (near-)atomically, one micro-batch per drop. Results
    * are unchanged by construction: the same rows reach the stream in
    * the same drop order, and every result set here was already
    * invariant to the engine's internal batch split (the race outcome
    * varied run to run before this change). */
  private[operators] def stageDrop(watch: String, tag: String)(
      write: String => Unit): () => Unit = {
    val dst = java.nio.file.Paths.get(watch)
    val stage = java.nio.file.Files.createTempDirectory(dst.getParent, s"stage_$tag")
    write(stage.toString)
    () => {
      stage.toFile.listFiles()
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          dst.resolve(s"$tag-${f.getName}"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE))
      org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    }
  }

  /** Deliver `d` into the watch dir as one staged parquet drop. */
  private[operators] def parquetDrop(watch: String, tag: String,
      d: DataFrame): () => Unit =
    () => stageDrop(watch, tag)(d.write.mode("overwrite").parquet(_))()

  /** The drops of one watch dir, in order, each written as 4 files. */
  private def fileDrops(watch: String, drops: DataFrame*): Seq[() => Unit] =
    drops.zipWithIndex.map { case (d, i) =>
      parquetDrop(watch, s"drop$i", d.coalesce(4))
    }

  /** Run each delivery (a MemoryStream `addData` or a staged drop) into
    * `q`, each followed by `processAllAvailable` — so a drop is
    * discovered through the file log as ONE micro-batch (no
    * maxFilesPerTrigger; the stream quiesces between deliveries) — then
    * `inspect` the query. The query is stopped on every exit path. */
  private[operators] def feed(q: StreamingQuery, deliveries: Seq[() => Unit],
      inspect: StreamingQuery => Unit = _ => ()): Unit =
    try {
      deliveries.foreach { d => d(); q.processAllAvailable() }
      inspect(q)
    } finally q.stop()

  /** The one micro-batch driver: start `out` — a stream built on a
    * [[graft.core.Engine.microBatchSession]] — into a memory sink named
    * `name`, [[feed]] it, then collect the sink into a frame of the
    * parent `s` and drop the sink view, so session memory doesn't
    * accumulate across a long query sweep. */
  private[operators] def drain(s: SparkSession, name: String, out: Dataset[_],
      mode: OutputMode, deliveries: Seq[() => Unit],
      inspect: StreamingQuery => Unit = _ => ()): DataFrame = {
    val ms = out.sparkSession
    val q = out.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try {
      feed(q, deliveries, inspect)
      collected(s, ms.table(name))
    } finally ms.catalog.dropTempView(name)
  }

  /** `df` materialized as a one-partition frame of `s`, so a harness
    * result outlives its sink, watch dir and child session. */
  private[operators] def collected(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(df.collect().toIndexedSeq, 1),
      df.schema)

  /** (min, max) of a long column — the one 2-value aggregate the driver
    * computes to place drop cut points and sentinels. */
  private def tsBounds(df: DataFrame, c: String): (Long, Long) = {
    val r = df.agg(min(c).as("lo"), max(c).as("hi")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** q23 — watermarked tumbling 1 h windows over the event stream in
    * append mode: two ts-ordered micro-batches plus a far-future
    * sentinel event advance the watermark past every real window, so
    * the closed-window stream equals the batch aggregation (q16's
    * shape). The sentinel's own (still-open) window is excluded. */
  def q23_stream_window(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val rows = Tables.events(s, dir).select(col("ts"), col("value"))
      .orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val sentinelNs = rows.last._1 + 7200L * 1000000000L
    val mid = rows.length / 2
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val agg = in.toDF().toDF("tns", "value")
      // nanos → timestamp at µs precision (exact integer truncation)
      .withColumn("ts", timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("window_start"),
        col("n"), col("sum_value"))
    val sentinelHour = sentinelNs / 3600000000000L * 3600L
    drain(s, "q23_stream_out", agg, OutputMode.Append, Seq(
      () => in.addData(rows.take(mid).toIndexedSeq),
      () => in.addData((rows.drop(mid) :+ (sentinelNs, 0.0)).toIndexedSeq)))
      .filter(col("window_start") < sentinelHour)
      .orderBy("window_start")
  }

  /** q72 — checkpoint RECOVERY across a process restart: run #1 ingests
    * the first half of the stream and is stopped with its windows still
    * open (nothing emitted); run #2 is a NEW query started on the SAME
    * checkpoint — Structured Streaming restores the file-source offsets
    * and the aggregation state store, the second half plus the sentinel
    * close every window, and the parquet sink's exactly-once manifest
    * guarantees no window is lost or doubled across the boundary. The
    * output must equal the all-at-once batch aggregate: a failed state
    * restore under-counts every window fed by run #1, a replayed batch
    * double-counts — both hash-fail.
    *
    * This is THE operational property a 100 TB streaming deployment
    * leans on (executors and drivers die mid-day); the other streaming
    * harnesses all run a single uninterrupted query. */
  def q72_stream_restart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ev = Tables.events(s, dir).select(col("ts").as("tns"), col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2
    val delaySec = (hi - lo) / 1000000000L + 3600L
    val sentinelNs = hi + (delaySec + 7200L) * 1000000000L
    val schema = StructType(Seq(
      StructField("tns", LongType), StructField("value", DoubleType)))
    val ms = Engine.microBatchSession(s)
    withWatchDir("graft_restart") { watch =>
      val outDir = watch + "_out"
      val ckpt = watch + "_ckpt"
      def startQuery() =
        ms.readStream.schema(schema).parquet(watch)
          .withColumn("ts",
            timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
          .withWatermark("ts", s"$delaySec seconds")
          .groupBy(window(col("ts"), "1 hour").as("win"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("sum_value"))
          .select(unix_timestamp(col("win.start")).as("window_start"),
            col("n"), col("sum_value"))
          .writeStream.outputMode(OutputMode.Append)
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .start()
      // run #1: first half, then the process "dies"
      feed(startQuery(), fileDrops(watch, ev.filter(col("tns") <= splitTs)))
      // run #2: resumes offsets + state from the checkpoint; r19: the
      // sentinel rides the same drop (q23's pattern) — the restart
      // property is exercised by the run boundary, not the drop count,
      // and the closed-window set is identical
      feed(startQuery(), fileDrops(watch, ev.filter(col("tns") > splitTs)
        .unionByName(Seq((sentinelNs, 0.0)).toDF("tns", "value"))))
      val sentinelHour = sentinelNs / 3600000000000L * 3600L
      collected(s, s.read.schema(StructType(Seq(
          StructField("window_start", LongType), StructField("n", LongType),
          StructField("sum_value", DoubleType))))
        .parquet(outDir)
        .filter(col("window_start") < sentinelHour))
    }.orderBy("window_start")
  }

  /** q83 — EXACTLY-ONCE sink under batch REDELIVERY: Structured
    * Streaming guarantees at-least-once delivery to a foreachBatch
    * sink — if the process dies after the sink published but before
    * the engine logged its commit, the restart REDELIVERS that batch
    * with the same batchId, and a non-idempotent sink double-writes.
    * The production protocol is the two-phase publish: data lands
    * under a per-batch directory, an empty marker file publishes it
    * atomically, and a redelivered batchId sees its marker and skips.
    * The harness FORCES the failure window deterministically: after
    * run #1 it deletes the engine's latest commit marker (exactly the
    * state a crash between sink-publish and engine-commit leaves),
    * restarts, and feeds the rest; the gate output is the per-type
    * aggregate over the PUBLISHED batches, which must equal the batch
    * answer over all events — any double-write breaks the counts.
    * StreamingSpec pins that the redelivery actually happened (the
    * attempts ledger shows the replayed batchId twice).
    *
    * At 100 TB: the marker protocol is O(1) metadata per micro-batch;
    * the skip costs one file stat. This is the q61 write-audit-publish
    * discipline applied at the micro-batch grain. */
  def q83_stream_exactly_once(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .select(col("ts").as("tns"), col("event_type"), col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2
    val schema = StructType(Seq(StructField("tns", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val ms = Engine.microBatchSession(s)
    withWatchDir("graft_e1x") { watch =>
      val outDir = new java.io.File(watch + "_out"); outDir.mkdirs()
      val ckpt = watch + "_ckpt"
      def startQuery() =
        ms.readStream.schema(schema).parquet(watch)
          .writeStream
          .foreachBatch {
            (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) => idempotentBatchWrite(outDir, batchId, df)
          }
          .option("checkpointLocation", ckpt)
          .start()
      feed(startQuery(), fileDrops(watch, ev.filter(col("tns") <= splitTs)))
      // force the crash window: sink published, engine commit lost
      dropLatestCommit(ckpt)
      feed(startQuery(), fileDrops(watch, ev.filter(col("tns") > splitTs)))
      // read ONLY published batches (marker present)
      val published = outDir.listFiles()
        .filter(f => f.isDirectory &&
          new java.io.File(outDir, f.getName + ".committed").exists())
        .map(_.getAbsolutePath)
      collected(s, s.read.schema(schema).parquet(published.toSeq: _*)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value")))
    }.orderBy("event_type")
  }

  /** Simulate the crash window between sink-publish and engine-commit:
    * remove the engine's latest commit marker (and its LocalFS `.crc`
    * checksum sibling, an artifact a real remote-FS crash would not
    * leave behind) so the restart redelivers that batch. */
  private[graft] def dropLatestCommit(ckpt: String): Unit = {
    val dir = new java.io.File(ckpt, "commits")
    val commits = dir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    require(commits.nonEmpty, "first run must commit at least one batch")
    val last = commits.last
    val crc = new java.io.File(dir, s".${last.getName}.crc")
    require(last.delete(), "could not remove the commit marker")
    if (crc.exists()) require(crc.delete(), "could not remove the crc twin")
  }

  /** The idempotent two-phase publish: write the batch directory, then
    * create the marker (the atomic publish); a redelivered batchId
    * sees its marker and skips. The attempts ledger is test
    * instrumentation only — StreamingSpec reads it to prove the
    * redelivery happened; it is NOT part of the protocol. */
  private[graft] def idempotentBatchWrite(outDir: java.io.File,
      batchId: Long, df: DataFrame): Unit = {
    val fw = new java.io.FileWriter(
      new java.io.File(outDir, "attempts.log"), true)
    try fw.write(s"$batchId\n") finally fw.close()
    val marker = new java.io.File(outDir, s"batch_$batchId.committed")
    if (marker.exists()) return // redelivery of a published batch: no-op
    df.write.mode("overwrite") // overwrite: a half-written retry heals
      .parquet(new java.io.File(outDir, s"batch_$batchId").getAbsolutePath)
    require(marker.createNewFile(), s"marker race for batch $batchId")
  }

  /** q30 — q23's watermarked window aggregation fed by a REAL file
    * source instead of a MemoryStream: three parquet drops land in a
    * watched directory (ts-split batch 1, batch 2, then the far-future
    * sentinel) and FileStreamSource discovers each through its file log
    * — real partitioned offsets, multiple part files per micro-batch,
    * no driver-side row injection anywhere (the drops are executor
    * writes of the events table itself). Must hash-match the same batch
    * oracle as q23. At scale this IS the production shape: a landing
    * directory on an object store, one micro-batch per arrival set. */
  def q30_stream_filesource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ev = Tables.events(s, dir).select(col("ts").as("tns"), col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2 // strict value boundary between drops
    // the file source may split one drop across micro-batches in any
    // file order, so the watermark delay covers the FULL event-time span
    // (no row can ever be late) and the sentinel sits beyond span+2h so
    // every real window still closes
    val delaySec = (hi - lo) / 1000000000L + 3600L
    val sentinelNs = hi + (delaySec + 7200L) * 1000000000L
    val schema = StructType(Seq(
      StructField("tns", LongType), StructField("value", DoubleType)))
    val sentinelHour = sentinelNs / 3600000000000L * 3600L
    withWatchDir("graft_fsrc") { watch =>
      val agg = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .withColumn("ts", timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
        .withWatermark("ts", s"$delaySec seconds")
        .groupBy(window(col("ts"), "1 hour").as("win"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(unix_timestamp(col("win.start")).as("window_start"),
          col("n"), col("sum_value"))
      // r19: sentinel folded into the last data drop (q23's pattern) —
      // the watermark still passes every real window before the final
      // eviction batch, so the closed-window set is identical, and one
      // whole micro-batch round (data + eviction) is saved
      drain(s, "q30_stream_out", agg, OutputMode.Append, fileDrops(watch,
        ev.filter(col("tns") <= splitTs),
        ev.filter(col("tns") > splitTs)
          .unionByName(Seq((sentinelNs, 0.0)).toDF("tns", "value"))))
    }.filter(col("window_start") < sentinelHour).orderBy("window_start")
  }

  /** As-of group handler shared by q26 (MemoryStream) and q45 (file
    * source): state is the latest purchase (ts, value); the group's
    * micro-batch replays in event-time order — at equal ts purchases
    * apply first (>= as-of), later event_id wins — so arrival order
    * inside a batch cannot change the answer. */
  private def asofHandler(user: Long,
      it: Iterator[(Long, Long, Long, String, Double)],
      state: org.apache.spark.sql.streaming.GroupState[(Long, Double)])
      : Iterator[(Long, Long, Long, Double, Long, Double)] = {
    val evs = it.toIndexedSeq.sortBy(e =>
      (e._3, if (e._4 == "purchase") 0 else 1, e._1))
    var st = state.getOption
    val emitted = evs.flatMap {
      case (_, _, ts, "purchase", v) =>
        if (st.isEmpty || ts >= st.get._1) st = Some((ts, v))
        Nil
      case (eid, u, ts, _, v) =>
        Seq((eid, u, ts, v,
          st.map(_._1).getOrElse(-1L), st.map(_._2).getOrElse(0.0)))
    }
    st.foreach(state.update)
    emitted.iterator
  }

  /** Bounded top-k group handler shared by q28 (MemoryStream) and q46
    * (file source): state is the current top-k (value DESC, event_id
    * ASC) — an ordered k-entry list, O(k) per arrival, and since the
    * comparator is a strict total order the retained set is independent
    * of arrival order. A flush tick emits the ranked winners. */
  private def topkHandler(k: Int)(user: Long,
      it: Iterator[(Long, Long, Double, Boolean)],
      state: org.apache.spark.sql.streaming.GroupState[List[(Double, Long)]])
      : Iterator[(Long, Long, Long, Double)] = {
    var top = state.getOption.getOrElse(Nil)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    it.foreach { case (_, eid, v, flush) =>
      if (flush) {
        emitted ++= top.zipWithIndex.map { case ((tv, te), i) =>
          (user, i + 1L, te, tv)
        }
        top = Nil
      } else {
        val (pre, post) = top.span(better(_, (v, eid)))
        top = (pre ::: (v, eid) :: post).take(k)
      }
    }
    if (top.isEmpty) state.remove() else state.update(top)
    emitted.iterator
  }

  /** q26 — streaming as-of enrichment: clicks and purchases flow through
    * flatMapGroupsWithState keyed by user; the state is the latest
    * purchase (ts, value) seen so far, and every click emits itself
    * enriched with that state — the stateful-streaming form of q24's
    * batch as-of join, and it must hash-match q24's DuckDB ASOF oracle.
    * Batches are split at a strict ts boundary (equal-ts runs never
    * straddle batches) and each per-group batch iterator is re-sorted by
    * (ts, purchase-first, event_id), so arrival order inside a
    * micro-batch cannot change the answer. At scale the state is one
    * (long, double) per user — keyed state sharded by user_id, no
    * global ordering anywhere. */
  def q26_stream_asof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val rows = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        KeyAlgebra.ldiv(col("ts"), lit(1000L)).as("ts"),
        col("event_type"), col("value"))
      .orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    var mid = rows.length / 2
    while (mid < rows.length && rows(mid)._3 == rows(mid - 1)._3) mid += 1
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String, Double)]
    val out = in.toDS()
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        asofHandler)
      .toDF("event_id", "user_id", "ts", "value", "purchase_ts",
        "purchase_value")
    drain(s, "q26_stream_out", out, OutputMode.Append, Seq(
      () => in.addData(rows.take(mid).toIndexedSeq),
      () => in.addData(rows.drop(mid).toIndexedSeq)))
      .orderBy("event_id")
  }

  /** q27 — streaming sessionization: per-user state (last ts, session
    * counter, open-session aggregates) in flatMapGroupsWithState; a gap
    * > 30 min closes the open session and emits it. A final flush tick
    * per user closes the tail sessions, so the emitted set hash-matches
    * q17's batch sessionization oracle. Sums are kept as exact
    * decimal(18,6) micros in the state (longs), so the emitted doubles
    * are bit-identical to the batch plan's decimal-sum cast at any
    * batch split. State per user is four longs — sharded by user_id,
    * nothing global. */
  def q27_stream_sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val gapNs = 1800L * 1000000000L
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), false))
    var mid = rows.length / 2
    while (mid < rows.length && rows(mid)._2 == rows(mid - 1)._2) mid += 1
    val flushes = rows.map(_._1).distinct.sorted
      .map(u => (u, Long.MaxValue, 0.0, true))
    def micros(v: Double): Long = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP) // Spark's decimal cast
      .movePointRight(6).longValueExact()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double, Boolean)]
    val out = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Double, Boolean)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long, Long)]) =>
          // (lastTs, sessionIdx, nEvents, sumMicros)
          val evs = it.toIndexedSeq.sortBy(e => (e._2, e._3))
          var st = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Double)]
          evs.foreach { case (_, ts, v, flush) =>
            if (flush) {
              st.foreach { case (_, idx, n, sm) =>
                closed += ((user, idx, n, sm.toDouble / 1e6))
              }
              st = None
            } else st match {
              case Some((lastTs, idx, n, sm)) if ts - lastTs <= gapNs =>
                st = Some((ts, idx, n + 1, sm + micros(v)))
              case Some((_, idx, n, sm)) =>
                closed += ((user, idx, n, sm.toDouble / 1e6))
                st = Some((ts, idx + 1, 1L, micros(v)))
              case None =>
                st = Some((ts, 1L, 1L, micros(v)))
            }
          }
          st match {
            case Some(v) => state.update(v)
            case None => state.remove()
          }
          closed.iterator
      }
      .toDF("user_id", "session_id", "n_events", "sum_value")
    drain(s, "q27_stream_out", out, OutputMode.Append, Seq(
      () => in.addData(rows.take(mid).toIndexedSeq),
      () => in.addData(rows.drop(mid).toIndexedSeq),
      () => in.addData(flushes.toIndexedSeq)))
      .orderBy("user_id", "session_id")
  }

  /** q28 — streaming bounded-state top-k: the streaming twin of the
    * batch [[graft.plans.TopKPerKey]] operator. Per-user state is the
    * current top-3 (value DESC, event_id ASC) — a 3-entry list updated
    * in O(k) per arrival, never the full history — and a final flush
    * tick emits the ranked winners, which must hash-match the batch
    * row_number oracle. State is O(users·k); sharded by user_id. */
  def q28_stream_topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val k = 3
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), false))
    val mid = rows.length / 2
    val flushes = rows.map(_._1).distinct.sorted.map(u => (u, -1L, 0.0, true))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double, Boolean)]
    val out = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        topkHandler(k))
      .toDF("user_id", "rank", "event_id", "value")
    drain(s, "q28_stream_out", out, OutputMode.Append, Seq(
      () => in.addData(rows.take(mid).toIndexedSeq),
      () => in.addData(rows.drop(mid).toIndexedSeq),
      () => in.addData(flushes.toIndexedSeq)))
      .orderBy("user_id", "rank")
  }

  /** q31 — watermarked STREAM-STREAM interval join (two-sided join
    * state, the canonical streaming enrichment): the click stream joins
    * the purchase stream on user with the purchase at most 24 h before
    * the click. Both sides carry watermarks and the range condition, so
    * each side's state is evicted as the shared watermark passes
    * ts − 24 h — bounded state at any scale, sharded by user_id. Fed as
    * two ts-split micro-batch rounds (cross-batch matches must come out
    * of join state, not the same batch); inner-join matches emit as
    * found, and the emitted pair set must hash-match the batch interval
    * join. */
  def q31_stream_join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("ts"), col("event_id"), col("user_id"), col("event_type"))
      .orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val (lo, hi) = (ev.head._1, ev.last._1)
    val splitNs = lo + (hi - lo) / 2 // strict value boundary between rounds
    val inC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val inP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val clicks = inC.toDF().toDF("ctns", "click_id", "c_user")
      .withColumn("cts", timestamp_micros(KeyAlgebra.ldiv(col("ctns"), lit(1000L))))
      .withWatermark("cts", "0 seconds")
    val purchases = inP.toDF().toDF("ptns", "purchase_id", "p_user")
      .withColumn("pts", timestamp_micros(KeyAlgebra.ldiv(col("ptns"), lit(1000L))))
      .withWatermark("pts", "0 seconds")
    val joined = clicks.join(purchases,
        expr("c_user = p_user AND pts BETWEEN cts - INTERVAL 24 HOURS AND cts"))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        // µs lag of µs-truncated stamps (floor(a)−floor(b), NOT
        // floor(a−b) — the oracle differences epoch_us values)
        (KeyAlgebra.ldiv(col("ctns"), lit(1000L)) -
          KeyAlgebra.ldiv(col("ptns"), lit(1000L))).as("lag_us"))
    def both(rows: Array[(Long, Long, Long, String)]): () => Unit = () => {
      inC.addData(rows.collect { case (t, id, u, "click") => (t, id, u) }.toIndexedSeq)
      inP.addData(rows.collect { case (t, id, u, "purchase") => (t, id, u) }.toIndexedSeq)
    }
    drain(s, "q31_stream_out", joined, OutputMode.Append, Seq(
      both(ev.filter(_._1 <= splitNs)), both(ev.filter(_._1 > splitNs))))
      .orderBy("click_id", "purchase_id")
  }

  /** q44 — watermarked stream-stream LEFT OUTER interval join: q31's
    * enrichment, but clicks with NO purchase in the trailing 24 h must
    * still emit — exactly once, with nulls — which only happens when the
    * shared watermark proves no future purchase can match (the outer
    * row's event time falls behind watermark − 24 h and its state
    * evicts). A far-future sentinel on BOTH streams drives the watermark
    * past every real click, so the full outer result materializes; the
    * sentinel rows themselves are excluded by user. Nulls are
    * coalesced to −1 on both engines — the driver comparator must see
    * BIGINT, not a nullable column pandas would widen to float64. At
    * scale this is the canonical "did the conversion happen" shape:
    * two-sided bounded state, sharded by user, evicted by watermark. */
  def q44_stream_outer_join(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("ts"), col("event_id"), col("user_id"), col("event_type"))
      .orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val (lo, hi) = (ev.head._1, ev.last._1)
    val splitNs = lo + (hi - lo) / 2
    // sentinel beyond hi + 24 h + margin: watermark passes every click's
    // match window, flushing all pending outer rows
    val sentinelNs = hi + (86400L + 7200L) * 1000000000L
    val inC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val inP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
    val clicks = inC.toDF().toDF("ctns", "click_id", "c_user")
      .withColumn("cts", timestamp_micros(KeyAlgebra.ldiv(col("ctns"), lit(1000L))))
      .withWatermark("cts", "0 seconds")
    val purchases = inP.toDF().toDF("ptns", "purchase_id", "p_user")
      .withColumn("pts", timestamp_micros(KeyAlgebra.ldiv(col("ptns"), lit(1000L))))
      .withWatermark("pts", "0 seconds")
    val joined = clicks.join(purchases,
        expr("c_user = p_user AND pts BETWEEN cts - INTERVAL 24 HOURS AND cts"),
        "leftOuter")
      .select(col("click_id"), coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("c_user").as("user_id"),
        coalesce(KeyAlgebra.ldiv(col("ctns"), lit(1000L)) -
          KeyAlgebra.ldiv(col("ptns"), lit(1000L)), lit(-1L)).as("lag_us"))
    def both(rows: Seq[(Long, Long, Long, String)]): () => Unit = () => {
      inC.addData(rows.collect { case (t, id, u, "click") => (t, id, u) }.toIndexedSeq)
      inP.addData(rows.collect { case (t, id, u, "purchase") => (t, id, u) }.toIndexedSeq)
    }
    drain(s, "q44_stream_out", joined, OutputMode.Append, Seq(
      both(ev.filter(_._1 <= splitNs).toIndexedSeq),
      // both streams carry the sentinel so the SHARED watermark advances;
      // r19: folded into the second feed (q23's pattern) — the outer
      // rows still emit in the final eviction batch once the watermark
      // passes every real click, and one micro-batch round is saved
      both(ev.filter(_._1 > splitNs).toIndexedSeq ++
        Seq((sentinelNs, -1L, -1L, "click"), (sentinelNs, -1L, -1L, "purchase")))))
      .filter(col("user_id") >= 0L)
      .orderBy("click_id", "purchase_id")
  }

  /** q36 — at-least-once delivery made exactly-once with the built-in
    * `dropDuplicatesWithinWatermark`: every event of micro-batch 1 is
    * delivered TWICE in-batch, and batch 2 re-delivers batch 1's last
    * hour on top of its own rows — the redelivery pattern of a
    * replaying source. The keyed dedup state (event_id, bounded by the
    * 1 h watermark delay — state EVICTS, unlike a global distinct)
    * absorbs every duplicate, so the per-user aggregate of the emitted
    * stream must equal the plain batch aggregate with no duplicates
    * anywhere. Complements d09/d10 (custom mapGroupsWithState dedup)
    * with the first-class engine API; re-deliveries stay inside the
    * watermark delay, which is exactly the API's contract. */
  def q36_stream_dedup_watermark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val rows = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val mid = rows.length / 2
    val batch1 = rows.take(mid)
    val hourNs = 3600L * 1000000000L
    val redeliver = batch1.filter(_._2 > batch1.last._2 - hourNs)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, Double)]
    val deduped = in.toDF().toDF("event_id", "tns", "user_id", "value")
      .withColumn("ts", timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "value")
    drain(s, "q36_stream_out", deduped, OutputMode.Append, Seq(
      () => in.addData((batch1 ++ batch1).toIndexedSeq), // in-batch double delivery
      () => in.addData((rows.drop(mid) ++ redeliver).toIndexedSeq))) // cross-batch
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  /** q89 — CHAINED STATEFUL operators in ONE streaming query
    * (dropDuplicatesWithinWatermark → watermarked window aggregation),
    * the multi-stateful pipeline Structured Streaming supports since
    * Spark 3.4: one query holds BOTH state stores — dedup state keyed
    * by event_id evicted at the watermark, window state emitted in
    * append mode as the watermark passes each window end — instead of
    * the two-query + intermediate-sink topology older engines forced.
    * Redelivery is injected q36-style (in-batch double delivery plus a
    * cross-batch tail-hour replay), so a dedup stage that dropped
    * nothing would inflate every affected window's count and fail the
    * hash; the oracle is the CLEAN batch hourly aggregate (q23's).
    * The query self-audits that the engine really ran two stateful
    * operators (lastProgress.stateOperators), so a silent plan rewrite
    * to one store cannot pass.
    *
    * Harness: like q30/q39, the stream is a REAL FileStreamSource over
    * a landing directory — two ts-split executor-written parquet drops
    * (the second carrying the first's tail hour again, plus a sentinel)
    * — so the driver holds only scalar cut points (a 3-value aggregate),
    * never event rows.
    *
    * Scale shape: both state stores are bounded by the watermark
    * horizon (dedup: ids within delay; windows: open windows only);
    * state is partitioned by the engine across executors like any
    * shuffle — the chain adds no driver state and no extra sink
    * round-trip at 100 TB stream volume. */
  def q89_stream_chained_stateful(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts").as("tns"), col("value"))
    val hourNs = 3600L * 1000000000L
    val b = ev.agg(count(lit(1)).as("n"), min("tns").as("lo"),
      max("tns").as("hi")).head()
    require(b.getLong(0) >= 2,
      s"q89 needs at least 2 events to form two drops, got ${b.getLong(0)}")
    val (lo, hi) = (b.getLong(1), b.getLong(2))
    val cut = lo + (hi - lo) / 2 // ts midpoint split (q39's cut idiom)
    val batch1 = ev.filter(col("tns") <= cut)
    val b1hi = batch1.agg(max("tns")).head().getLong(0)
    // the tail hour of drop 1, redelivered both in-batch and cross-batch
    // (doubling the WHOLE drop would only scale harness volume, not
    // exercise anything the tail does not)
    val redeliver = batch1.filter(col("tns") > b1hi - hourNs)
    val sentinelNs = hi + 4L * hourNs // past watermark + window
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("tns", LongType),
      StructField("value", DoubleType)))
    val sentinel = Seq((-1L, sentinelNs, 0.0)).toDF("event_id", "tns", "value")
    val sentinelHour = sentinelNs / 3600000000000L * 3600L
    withWatchDir("graft_q89_src") { watch =>
    val agg = Engine.microBatchSession(s).readStream.schema(schema)
      .parquet(watch)
      .withColumn("ts",
        timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id") // stateful op 1
      .groupBy(window(col("ts"), "1 hour").as("win")) // stateful op 2
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("window_start"),
        col("n"), col("sum_value"))
    drain(s, "q89_stream_out", agg, OutputMode.Append, fileDrops(watch,
      batch1.unionByName(redeliver), // in-batch duplicates
      ev.filter(col("tns") > cut).unionByName(redeliver) // cross-batch
        .unionByName(sentinel)),
      inspect = { q =>
        val nStateful = Option(q.lastProgress)
          .map(_.stateOperators.length).getOrElse(0)
        require(nStateful == 2,
          s"expected 2 chained stateful operators in one query, got $nStateful")
      })
    }.filter(col("window_start") < sentinelHour).orderBy("window_start")
  }

  /** q91 — STREAMING WARC crawl ingest (qn20's front door as a
    * continuous pipeline, the shape a live crawl actually runs): shards
    * LAND in a watched directory in two executor-written drops, a
    * binaryFile FileStreamSource discovers them through the file log,
    * each micro-batch walks its shards' gzip members with the same
    * from-spec reader (resync on truncation, Long-bounded hostile
    * Content-Length — the qn20 corruption classes are present in the
    * stream too), and a running per-shard ledger (good responses +
    * HTML bytes) accumulates in Complete mode. After both drops the
    * ledger must equal qn20's batch books exactly — same oracle, so a
    * stream that double-counts a redelivered shard, loses a record
    * after a corrupt member, or mis-frames a body breaks the hash.
    *
    * Scale shape: file discovery is the engine's incremental listing;
    * decode is scan-parallel per shard file inside the micro-batch; the
    * only state is the 8-row running aggregate. At crawl scale the
    * Complete-mode ledger swaps for an update-mode sink keyed by shard
    * — the dataflow is identical. */
  def q91_stream_warc_ingest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    withWatchDir("graft_q91_src") { watch =>
      val binSchema = StructType(Seq(
        StructField("path", StringType), StructField("modificationTime", TimestampType),
        StructField("length", LongType), StructField("content", BinaryType)))
      val agg = Engine.microBatchSession(s).readStream.format("binaryFile")
        .schema(binSchema)
        .load(watch)
        .select(col("content")).as[Array[Byte]]
        .mapPartitions(_.flatMap(NetCDFQueries.warcGoodDocs))
        .toDF("doc_id", "html_len")
        .groupBy(pmod(col("doc_id"), lit(8L)).cast("long").as("shard"))
        .agg(count(lit(1)).as("n_good"), sum("html_len").as("html_bytes"))
      // shards are STAGED outside the watched directory and renamed in
      // (see [[stageDrop]]): the file source must never list a
      // half-written shard
      def land(parity: Long, prefix: String): () => Unit = () =>
        stageDrop(watch, prefix)(stage => NetCDFQueries.writeWarcShards(
          docs.filter(pmod(col("doc_id"), lit(2L)) === parity).select(
            col("doc_id"), col("doc_id"), col("lang"), col("source"),
            col("text")), stage, prefix))()
      val books = drain(s, "q91_stream_out", agg, OutputMode.Complete,
        Seq(land(0L, "drop1"), land(1L, "drop2")))
      docs
        .groupBy(pmod(col("doc_id"), lit(8L)).cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"))
        .join(books, Seq("shard"), "left")
        .select(col("shard"), col("n_docs"),
          coalesce(col("n_good"), lit(0L)).as("n_good"),
          (col("n_docs") - coalesce(col("n_good"), lit(0L)))
            .as("n_quarantined"),
          coalesce(col("html_bytes"), lit(0L)).as("html_bytes"))
        .orderBy("shard")
    }
  }

  /** q39 — incremental materialized-view maintenance: a keyed aggregate
    * MV (user_id × event_type → count, exact decimal sum) kept in a
    * bucket-partitioned parquet store and updated per micro-batch via
    * `foreachBatch`. Each batch computes its own partial aggregate,
    * reads back ONLY the MV buckets its keys touch, merges (counts add,
    * decimal sums add — partial aggregates compose exactly), and
    * rewrites just those buckets through dynamic partition overwrite;
    * untouched buckets are never read or written. Three ts-ordered
    * micro-batches later, the store must equal the one-shot batch
    * aggregate — which is the oracle.
    *
    * Scale shape: update cost per batch is O(|batch| + |affected
    * buckets|), independent of MV history size — the foreachBatch merge
    * is Spark's primitive for MERGE INTO when the sink is plain files;
    * a table format (Delta/Iceberg) replaces the bucket rewrite with a
    * row-level commit but the dataflow is identical. localCheckpoint
    * cuts the read-side lineage so the store can be overwritten in the
    * same micro-batch that read it.
    *
    * Harness: like q30, the stream is a REAL FileStreamSource over a
    * landing directory — three ts-tercile drops, each an
    * executor-parallel parquet append discovered through the file log.
    * No driver-side row injection anywhere: the driver only computes the
    * two cut points (a 2-value aggregate), never holds event rows. */
  def q39_incremental_mv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    // Path is scoped by (dir, applicationId, session UUID) — see
    // SessionMemo.pathTag: two JVMs (or two sessions in one JVM)
    // sweeping the same sfDir concurrently each get their own store (a
    // shared deterministic path let one runner's re-entry clean a store
    // the other was still lazily reading). Within ONE session the path
    // is stable, so re-entry cleans the previous run's store — the
    // lazy-read contract below ("must outlive this call") only ever
    // spans a single session.
    val tag = graft.core.SessionMemo.pathTag(s, dir)
    val mvPath = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_q39_mv_$tag").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mvPath))
    val ev = Tables.events(s, dir)
      .select(col("ts").as("tns"), col("user_id"), col("event_type"), col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    withWatchDir("graft_q39_src") { watch =>
    val q = Engine.microBatchSession(s).readStream.schema(schema)
      .parquet(watch)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val partial = batch.groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).as("sv"))
          .withColumn("bucket", (col("user_id") % 16).cast("int"))
        val exists = new java.io.File(mvPath).exists()
        val merged = if (!exists) partial else {
          val affected = partial.select("bucket").distinct()
          // only the touched buckets are read; checkpoint cuts lineage
          // so the same path can be overwritten below
          val existing = sp.read.parquet(mvPath)
            .join(broadcast(affected), "bucket")
            .select(col("user_id"), col("event_type"), col("n_events"),
              col("sv").cast("decimal(18,6)").as("sv"),
              col("bucket").cast("int").as("bucket"))
            .localCheckpoint(true)
          existing.unionByName(partial)
            .groupBy("bucket", "user_id", "event_type")
            .agg(sum("n_events").cast("long").as("n_events"),
              sum("sv").cast("decimal(18,6)").as("sv"))
        }
        merged.select(col("user_id"), col("event_type"),
            col("n_events").cast("long").as("n_events"), col("sv"),
            col("bucket"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(mvPath)
      }
      .start()
    // the MV store must OUTLIVE this call (the returned frame reads it
    // lazily), so it is cleaned on re-entry, not here
    feed(q, fileDrops(watch, Seq(
      col("tns") <= c1,
      col("tns") > c1 && col("tns") <= c2,
      col("tns") > c2).map(p =>
      ev.filter(p).select("user_id", "event_type", "value")): _*))
    s.read.parquet(mvPath)
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("sv").cast("double").as("sum_value"))
      .orderBy("user_id", "event_type")
    }
  }

  /** q42 — streaming sessionization through the FIRST-CLASS
    * `session_window` gap-merge API: the engine's own session state
    * (merging overlapping [ts, ts+gap) intervals per key, evicted by
    * watermark) replaces q27's hand-built flatMapGroupsWithState — the
    * same batch-vs-streaming pairing as q40/q42 for sessionization that
    * q16/q23 form for tumbling windows. Fed like q30: a real
    * FileStreamSource landing directory, two ts-split executor-written
    * drops plus one far-future sentinel row that drives the watermark
    * past every real session's end, so every session closes and the
    * append-mode output must hash-match q40's batch session_window
    * oracle exactly. At scale the state is one open session interval
    * per active user — sharded by user_id, merged and evicted by the
    * engine, no custom state code to get wrong. */
  def q42_stream_session_window(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .select(col("ts").as("tns"), col("user_id"), col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2
    // no row may ever be late (file order within a drop is arbitrary):
    // the delay covers the full event-time span; the sentinel then sits
    // beyond span + gap + 2 h so the watermark passes every session end
    val delaySec = (hi - lo) / 1000000000L + 3600L
    val sentinelNs = hi + (delaySec + 7200L) * 1000000000L
    val schema = StructType(Seq(
      StructField("tns", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    withWatchDir("graft_q42_src") { watch =>
      val agg = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .withColumn("tsm", timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
        .withWatermark("tsm", s"$delaySec seconds")
        .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("sess_start_us"),
          unix_micros(col("sw.end")).as("sess_end_us"),
          col("n_events"), col("sum_value"))
      // r19: sentinel folded into the last data drop (q23's pattern) —
      // the delay covers the full span so nothing is late, the watermark
      // passes every real session end before the final eviction batch,
      // and one whole micro-batch round is saved
      drain(s, "q42_stream_out", agg, OutputMode.Append, fileDrops(watch,
        ev.filter(col("tns") <= splitTs),
        ev.filter(col("tns") > splitTs).unionByName(
          Seq((sentinelNs, -1L, 0.0)).toDF("tns", "user_id", "value"))))
    }
      // the sentinel's own session never closes (nothing advances the
      // watermark past it) and its user is excluded anyway
      .filter(col("user_id") >= 0L).orderBy("user_id", "sess_start_us")
  }

  /** q45 — q26's as-of enrichment fed by a REAL FileStreamSource: the
    * click/purchase rows land as two ts-split executor-parallel parquet
    * drops in a watched directory — the production ingest shape — and
    * flow through the SAME flatMapGroupsWithState handler as q26. No
    * driver-side row injection: the driver computes only the 2-value
    * ts-bounds aggregate for the cut point. File order inside a drop is
    * arbitrary; the handler's per-batch event-time re-sort absorbs it,
    * and the strict ts value boundary between drops keeps equal-ts runs
    * in one micro-batch. Must hash-match q24's batch ASOF oracle. */
  def q45_asof_filesource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("ts").as("tns"), col("event_id"), col("user_id"),
        col("event_type"), col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2 // strict value boundary between drops
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("tsus", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    withWatchDir("graft_q45_src") { watch =>
      val out = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .toDF("_1", "_2", "_3", "_4", "_5")
        .as[(Long, Long, Long, String, Double)]
        .groupByKey(_._2)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          asofHandler)
        .toDF("event_id", "user_id", "ts", "value", "purchase_ts",
          "purchase_value")
      def drop(p: Column): DataFrame = ev.filter(p)
        .select(col("event_id"), col("user_id"),
          KeyAlgebra.ldiv(col("tns"), lit(1000L)).as("tsus"),
          col("event_type"), col("value"))
      drain(s, "q45_stream_out", out, OutputMode.Append, fileDrops(watch,
        drop(col("tns") <= splitTs), drop(col("tns") > splitTs)))
    }.orderBy("event_id")
  }

  /** q46 — q28's bounded-state top-k fed by a REAL FileStreamSource:
    * two event-id-split drops, then a FLUSH drop that is itself an
    * executor-parallel write of `select user_id distinct` — so even the
    * flush ticks never pass through the driver. Same handler as q28;
    * the bounded-insert comparator is a strict total order, so the
    * retained top-k is independent of file arrival order. */
  def q46_topk_filesource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
    val k = 3
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
    val (lo, hi) = tsBounds(ev, "event_id")
    val splitId = lo + (hi - lo) / 2
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("value", DoubleType), StructField("flush", BooleanType)))
    withWatchDir("graft_q46_src") { watch =>
      val out = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .toDF("_1", "_2", "_3", "_4")
        .as[(Long, Long, Double, Boolean)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          topkHandler(k))
        .toDF("user_id", "rank", "event_id", "value")
      def dataDrop(p: Column): DataFrame = ev.filter(p)
        .withColumn("flush", lit(false))
      val flushDrop = ev.select("user_id").distinct()
        .select(col("user_id"), lit(-1L).as("event_id"),
          lit(0.0).as("value"), lit(true).as("flush"))
      drain(s, "q46_stream_out", out, OutputMode.Append, fileDrops(watch,
        dataDrop(col("event_id") <= splitId),
        dataDrop(col("event_id") > splitId),
        flushDrop))
    }.orderBy("user_id", "rank")
  }

  /** The deliveries of q47/q48: two drops split at `splitTs`, each the
    * click rows of `ev` into `watchC` and its purchase rows into
    * `watchP`, with an optional `sentinel` row (ts, -1, -1) on both sides
    * of the second drop. Parquet resolves columns BY NAME at read, so
    * each side carries its stream's schema names. Both sides are STAGED
    * first and renamed in back-to-back (r19, see [[stageDrop]]): the
    * in-place appends made the polling source pick up the click files
    * before the purchase write finished, splitting every intended drop
    * into 2-3 micro-batches. */
  private def joinDrops(ev: DataFrame, splitTs: Long, watchC: String,
      watchP: String, sentinel: Option[Long]): Seq[() => Unit] = {
    val s = ev.sparkSession
    import s.implicits._
    def side(p: Column, typ: String, dst: String, tag: String,
        last: Boolean, names: String*): () => Unit = {
      val rows = ev.filter(p && col("event_type") === typ)
        .select(col("tns").as(names(0)), col("event_id").as(names(1)),
          col("user_id").as(names(2)))
      val d = sentinel.filter(_ => last).fold(rows)(t =>
        rows.unionByName(Seq((t, -1L, -1L)).toDF(names: _*)))
      stageDrop(dst, tag)(d.write.mode("overwrite").parquet(_))
    }
    Seq(col("tns") <= splitTs, col("tns") > splitTs).zipWithIndex.map {
      case (p, i) => () =>
        val mvC = side(p, "click", watchC, s"c$i", i == 1,
          "ctns", "click_id", "c_user")
        val mvP = side(p, "purchase", watchP, s"p$i", i == 1,
          "ptns", "purchase_id", "p_user")
        mvC(); mvP()
    }
  }

  /** q47 — q31's watermarked stream-stream interval join with BOTH
    * sides fed by real FileStreamSources: clicks and purchases each
    * land in their own watched directory as ts-split executor-parallel
    * drops, and one micro-batch consumes the new files of both sources
    * together. The strict ts value boundary between drops gives the
    * same cross-batch state reuse q31 proves; no driver row injection
    * anywhere. Must hash-match the batch interval join. */
  def q47_join_filesource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("ts").as("tns"), col("event_id"), col("user_id"),
        col("event_type"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2
    val cSchema = StructType(Seq(
      StructField("ctns", LongType), StructField("click_id", LongType),
      StructField("c_user", LongType)))
    val pSchema = StructType(Seq(
      StructField("ptns", LongType), StructField("purchase_id", LongType),
      StructField("p_user", LongType)))
    val ms = Engine.microBatchSession(s)
    withWatchDir("graft_q47_c") { watchC =>
      withWatchDir("graft_q47_p") { watchP =>
        val clicks = ms.readStream.schema(cSchema).parquet(watchC)
          .withColumn("cts", timestamp_micros(KeyAlgebra.ldiv(col("ctns"), lit(1000L))))
          .withWatermark("cts", "0 seconds")
        val purchases = ms.readStream.schema(pSchema).parquet(watchP)
          .withColumn("pts", timestamp_micros(KeyAlgebra.ldiv(col("ptns"), lit(1000L))))
          .withWatermark("pts", "0 seconds")
        val joined = clicks.join(purchases,
            expr("c_user = p_user AND pts BETWEEN cts - INTERVAL 24 HOURS AND cts"))
          .select(col("click_id"), col("purchase_id"),
            col("c_user").as("user_id"),
            (KeyAlgebra.ldiv(col("ctns"), lit(1000L)) -
              KeyAlgebra.ldiv(col("ptns"), lit(1000L))).as("lag_us"))
        drain(s, "q47_stream_out", joined, OutputMode.Append,
          joinDrops(ev, splitTs, watchC, watchP, None))
      }
    }.orderBy("click_id", "purchase_id")
  }

  /** q48 — q44's stream-stream LEFT OUTER interval join from two real
    * FileStreamSources: the outer (no-purchase) rows only emit when the
    * shared watermark proves no future match can arrive, driven here by
    * a far-future sentinel row dropped into EACH landing directory.
    * Nulls coalesce to −1 as in q44. No driver row injection beyond the
    * two 1-row sentinels (harness control, not event data). */
  def q48_outer_join_filesource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("ts").as("tns"), col("event_id"), col("user_id"),
        col("event_type"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2
    val sentinelNs = hi + (86400L + 7200L) * 1000000000L
    val cSchema = StructType(Seq(
      StructField("ctns", LongType), StructField("click_id", LongType),
      StructField("c_user", LongType)))
    val pSchema = StructType(Seq(
      StructField("ptns", LongType), StructField("purchase_id", LongType),
      StructField("p_user", LongType)))
    val ms = Engine.microBatchSession(s)
    withWatchDir("graft_q48_c") { watchC =>
      withWatchDir("graft_q48_p") { watchP =>
        val clicks = ms.readStream.schema(cSchema).parquet(watchC)
          .withColumn("cts", timestamp_micros(KeyAlgebra.ldiv(col("ctns"), lit(1000L))))
          .withWatermark("cts", "0 seconds")
        val purchases = ms.readStream.schema(pSchema).parquet(watchP)
          .withColumn("pts", timestamp_micros(KeyAlgebra.ldiv(col("ptns"), lit(1000L))))
          .withWatermark("pts", "0 seconds")
        val joined = clicks.join(purchases,
            expr("c_user = p_user AND pts BETWEEN cts - INTERVAL 24 HOURS AND cts"),
            "leftOuter")
          .select(col("click_id"),
            coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
            col("c_user").as("user_id"),
            coalesce(KeyAlgebra.ldiv(col("ctns"), lit(1000L)) -
              KeyAlgebra.ldiv(col("ptns"), lit(1000L)), lit(-1L)).as("lag_us"))
        // both sources carry the sentinel so the SHARED watermark
        // advances past every real click's match window; r19: the
        // sentinel rides the SECOND drop (q23's fold pattern) — the outer
        // rows still all emit in the final eviction batch, and one whole
        // micro-batch round is saved
        drain(s, "q48_stream_out", joined, OutputMode.Append,
          joinDrops(ev, splitTs, watchC, watchP, Some(sentinelNs)))
      }
    }.filter(col("user_id") >= 0L).orderBy("click_id", "purchase_id")
  }

  /** q49 — q36's exactly-once dedup from a real FileStreamSource: drop 1
    * delivers every early event TWICE (an executor-parallel union write),
    * drop 2 delivers the rest plus a re-delivery of the trailing hour of
    * drop 1 — all within the 1 h watermark delay, the API's contract.
    * `dropDuplicatesWithinWatermark` state absorbs every duplicate, so
    * the per-user aggregate equals the duplicate-free batch answer. The
    * re-delivery cut uses the drop-1 ceiling (splitTs), which bounds the
    * true drop-1 maximum from above, so every re-delivered row is at or
    * above the post-drop-1 watermark — never late. */
  def q49_dedup_filesource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts").as("tns"), col("user_id"),
        col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2
    val hourNs = 3600L * 1000000000L
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("tns", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val batch1 = ev.filter(col("tns") <= splitTs)
    val redeliver = ev.filter(
      col("tns") > splitTs - hourNs && col("tns") <= splitTs)
    withWatchDir("graft_q49_src") { watch =>
      val deduped = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .withColumn("ts", timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id", "user_id", "value")
      drain(s, "q49_stream_out", deduped, OutputMode.Append, fileDrops(watch,
        batch1.union(batch1), // in-batch double delivery
        ev.filter(col("tns") > splitTs).union(redeliver))) // cross-batch
    }.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  /** Per-user funnel milestone handler shared conceptually with q53's
    * batch windows: state is the set-once triple (first view, first
    * click after it, first purchase after that) — O(1) per user. The
    * per-batch event-time re-sort absorbs arbitrary file order inside a
    * drop, and the strict ts boundary between drops keeps cross-batch
    * arrival event-time ordered — which is exactly what makes O(1)
    * milestone state sufficient (a click seen before its user's first
    * view can never qualify later, because any future view has a larger
    * ts). An unordered feed would need a watermark-delay reorder buffer
    * in state instead. */
  private def funnelHandler(user: Long,
      it: Iterator[(Long, String, Long)],
      state: org.apache.spark.sql.streaming.GroupState[
        (Option[Long], Option[Long], Option[Long])])
      : Iterator[(Long, Option[Long], Option[Long], Option[Long])] = {
    var (t1, t2, t3) = state.getOption.getOrElse(
      (Option.empty[Long], Option.empty[Long], Option.empty[Long]))
    it.toIndexedSeq.sortBy(_._3).foreach { case (_, et, ts) =>
      et match {
        case "view" if t1.isEmpty => t1 = Some(ts)
        case "click" if t2.isEmpty && t1.exists(ts > _) => t2 = Some(ts)
        case "purchase" if t3.isEmpty && t2.exists(ts > _) => t3 = Some(ts)
        case _ =>
      }
    }
    state.update((t1, t2, t3))
    Iterator.single((user, t1, t2, t3))
  }

  /** q54 — STREAMING funnel: q53's view→click→purchase milestones kept
    * incrementally in flatMapGroupsWithState over a REAL FileStreamSource
    * (three ts-tercile executor-parallel drops — state must survive and
    * extend across micro-batches). Update-mode emissions are monotone
    * (milestones only ever get set), so the final per-user state is the
    * field-wise max over the sink rows; its stage histogram must
    * hash-match q53's batch oracle exactly. */
  def q54_stream_funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts").as("tns"))
    val (lo, hi) = tsBounds(ev, "tns")
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("tns", LongType)))
    withWatchDir("graft_q54_src") { watch =>
      val out = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .toDF("_1", "_2", "_3")
        .as[(Long, String, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
          funnelHandler)
        .toDF("user_id", "t1", "t2", "t3")
      drain(s, "q54_stream_out", out, OutputMode.Update, fileDrops(watch,
        ev.filter(col("tns") <= c1),
        ev.filter(col("tns") > c1 && col("tns") <= c2),
        ev.filter(col("tns") > c2)))
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .withColumn("stage",
          when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
            .when(col("t1").isNotNull, 1L).otherwise(0L))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_users"),
          coalesce(sum(when(col("stage") === 3L, col("t3") - col("t1"))),
            lit(0L)).as("sum_lag_ns"))
        .orderBy("stage")
    }
  }

  /** Per-key CDC apply handler: state is the O(1) tuple (changes
    * applied, last change ts, tombstone flag, current value). Same
    * ordering contract as [[funnelHandler]] — per-batch (ts, event_id)
    * re-sort inside the handler plus strict ts boundaries between drops
    * give a total apply order, which is what makes last-write-wins O(1)
    * state sufficient. A delete ('error') tombstones the key; a later
    * upsert revives it with the new value — the Debezium/Delta-CDF
    * apply rule. */
  private def cdcHandler(user: Long,
      it: Iterator[(Long, Long, String, Long, Long)],
      state: org.apache.spark.sql.streaming.GroupState[
        (Long, Long, Long, Long)])
      : Iterator[(Long, Long, Long, Long, Long)] = {
    var (n, lastTs, alive, vfp) = state.getOption.getOrElse(
      (0L, Long.MinValue, 0L, 0L))
    it.toIndexedSeq.sortBy(r => (r._4, r._2)).foreach {
      case (_, _, et, tns, v) =>
        n += 1L; lastTs = tns
        if (et == "error") { alive = 0L; vfp = 0L }
        else { alive = 1L; vfp = v }
    }
    state.update((n, lastTs, alive, vfp))
    Iterator.single((user, n, lastTs, alive, vfp))
  }

  /** q64 — streaming CDC upsert apply: the change-data-capture shape
    * every lakehouse CDC sink runs (Debezium topic → keyed upsert/delete
    * apply → current-state table). The events stream is read as a
    * change log keyed by user_id ('error' rows are deletes, everything
    * else an upsert carrying the new value); flatMapGroupsWithState
    * applies last-write-wins per key across three REAL FileStreamSource
    * micro-batches, and the final current-state table (live keys only,
    * with their apply counts and last values) must hash-match the batch
    * argmax oracle. The streaming twin of q50/q62's batch merge-on-read.
    *
    * Scale shape: state is O(1) per key (4 longs), emissions are
    * monotone in apply count so the sink fold is a per-key max —
    * nothing in the path holds more than |keys| state, the same bound a
    * production CDC materializer carries. */
  def q64_cdc_upsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("tns"),
        floor(col("value") * 1000000d).cast("long").as("value_fp"))
    val (lo, hi) = tsBounds(ev, "tns")
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("tns", LongType),
      StructField("value_fp", LongType)))
    withWatchDir("graft_q64_src") { watch =>
      val out = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .toDF("_1", "_2", "_3", "_4", "_5")
        .as[(Long, Long, String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
          cdcHandler)
        .toDF("user_id", "n_changes", "last_tns", "alive", "value_fp")
      // n_changes is strictly increasing per key, so the latest state is
      // the arg-max row; struct max gives it without a second shuffle
      drain(s, "q64_stream_out", out, OutputMode.Update, fileDrops(watch,
        ev.filter(col("tns") <= c1),
        ev.filter(col("tns") > c1 && col("tns") <= c2),
        ev.filter(col("tns") > c2)))
        .groupBy("user_id")
        .agg(max(struct(col("n_changes"), col("last_tns"), col("alive"),
          col("value_fp"))).as("st"))
        .select(col("user_id"), col("st.n_changes").as("n_changes"),
          col("st.last_tns").as("last_tns"), col("st.alive").as("alive"),
          col("st.value_fp").as("value_fp"))
        .filter(col("alive") === 1L)
        .select("user_id", "n_changes", "last_tns", "value_fp")
        .orderBy("user_id")
    }
  }

  /** q60 — q55's drift monitor as a PRODUCTION STREAM: the reference
    * histogram (first-half counts n1) is a batch artifact; the new
    * ingest window (second half) arrives through a real FileStreamSource
    * in three executor-parallel parquet drops, and a streaming
    * aggregation accumulates its (event_type, bin) counts n2
    * incrementally — state is the 80-cell histogram, independent of
    * row count, exactly the monitor a pipeline keeps running against
    * a reference window. After the drops the χ² table is computed by
    * the SAME cell algebra as q55 ([[RelationalQueries.chi2FromCells]])
    * over reference ⟗ streamed counts — the incremental monitor must
    * converge to the batch statistic bit-for-bit (shared oracle). */
  def q60_stream_drift(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val ev = Tables.events(s, dir).select("ts", "event_type", "value")
    val mid = ev.agg((min("ts") + ldiv(max("ts") - min("ts"), lit(2L)))
      .as("mid")).head().getLong(0)
    def binned(df: DataFrame): DataFrame = df.withColumn("bin",
      least(ldiv(floor(col("value")).cast("long"), lit(32L)), lit(15L)))
    val ref = binned(ev.filter(col("ts") <= mid))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n1"))
    val newEv = ev.filter(col("ts") > mid)
    val (lo, hi) = tsBounds(newEv, "ts")
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val schema = StructType(Seq(StructField("ts", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    withWatchDir("graft_q60_src") { watch =>
      val n2s = binned(Engine.microBatchSession(s).readStream.schema(schema)
          .parquet(watch))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("n2"))
      val n2 = drain(s, "q60_stream_out", n2s, OutputMode.Complete,
        fileDrops(watch,
          newEv.filter(col("ts") <= c1),
          newEv.filter(col("ts") > c1 && col("ts") <= c2),
          newEv.filter(col("ts") > c2)))
      // cell set = keys of either half (q55's single groupBy over the
      // whole stream produces exactly this union)
      val cells = ref.join(n2, Seq("event_type", "bin"), "full_outer")
        .select(col("event_type"), col("bin"),
          coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"))
        .localCheckpoint()
      RelationalQueries.chi2FromCells(cells)
    }
  }

  /** q67 — stream–static enrichment join, the remaining Structured
    * Streaming join mode next to q31/q44/q47/q48's stream–stream pairs:
    * the event stream joins a STATIC per-user profile dimension (one
    * batch aggregate, resolved fresh against each micro-batch — the
    * Spark semantic that lets a dim table be swapped under a running
    * query). No watermark is needed: the static side never adds rows,
    * so the inner join emits each stream row exactly once on arrival.
    *
    * The output re-aggregates the enriched sink per user and carries
    * profile_cnt next to n_events — after the full replay the two MUST
    * agree, so the oracle checks the enrichment values, not just row
    * counts. At 100 TB the profile side broadcasts (or bucket-joins)
    * exactly as in batch; per-micro-batch cost is the stream slice, not
    * the dim build. */
  def q67_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts").as("tns"), col("user_id"),
        col("value"))
    val (lo, hi) = tsBounds(ev, "tns")
    val splitTs = lo + (hi - lo) / 2
    val profile = ev.groupBy("user_id")
      .agg(count(lit(1)).as("profile_cnt"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("tns", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    withWatchDir("graft_q67_src") { watch =>
      val enriched = Engine.microBatchSession(s).readStream.schema(schema)
        .parquet(watch)
        .join(profile, "user_id")
        .select(col("user_id"), col("event_id"), col("value"),
          col("profile_cnt"))
      drain(s, "q67_stream_out", enriched, OutputMode.Append, fileDrops(watch,
        ev.filter(col("tns") <= splitTs)
          .select("event_id", "tns", "user_id", "value"),
        ev.filter(col("tns") > splitTs)
          .select("event_id", "tns", "user_id", "value")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          first("profile_cnt").as("profile_cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy("user_id")
    }
  }

  /** q74 — per-key token-bucket rate limiting (streaming admission
    * control): each user's bucket holds up to 2 tokens, refills 1 per
    * 4 h of event time with remainder-preserving credit (the refill
    * anchor advances by whole periods only, so fractional credit is
    * never lost — the classic token-bucket, not a leaky floor), and
    * every event either consumes a token (admitted) or is dropped.
    * This is the ingest-side throttle a crawl/firehose pipeline puts in
    * front of per-domain or per-user hot keys. State is two longs per
    * key in `flatMapGroupsWithState`; decisions stream out per event in
    * Append mode and aggregate to per-user admit/drop books — the
    * deterministic recurrence is replayed by a DuckDB recursive CTE.
    *
    * Scale shape: keyed state bounded at 16 bytes/user; per-event O(1);
    * micro-batch boundaries can't change decisions because the
    * recurrence depends only on event-time order, which the harness
    * (and a watermark in production) delivers per key. */
  def q74_stream_rate_limit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val cap = 2L
    val period = 14400L * 1000000000L
    val rows = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var mid = rows.length / 2
    while (mid < rows.length && rows(mid)._2 == rows(mid - 1)._2) mid += 1
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val out = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          val evs = it.toIndexedSeq.sortBy(e => (e._2, e._3))
          var (tokens, lastRefill) =
            state.getOption.getOrElse((cap, evs.head._2))
          val decisions = evs.map { case (_, ts, eid) =>
            val refill = (ts - lastRefill) / period
            tokens = math.min(cap, tokens + refill)
            if (tokens == cap) lastRefill = ts
            else lastRefill += refill * period
            val admit = tokens >= 1L
            if (admit) tokens -= 1L
            (user, eid, if (admit) 1L else 0L)
          }
          state.update((tokens, lastRefill))
          decisions.iterator
      }
      .toDF("user_id", "event_id", "admitted")
    drain(s, "q74_stream_out", out, OutputMode.Append, Seq(
      () => in.addData(rows.take(mid).toIndexedSeq),
      () => in.addData(rows.drop(mid).toIndexedSeq)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum("admitted").as("n_admitted"),
        (count(lit(1)) - sum("admitted")).as("n_dropped"))
      .orderBy("user_id")
  }

  /** q80 — streaming LATE-DATA OBSERVABILITY (round-14 verdict item 5:
    * the streaming family executed everything but reported nothing
    * about late data). One watermarked window harness wires BOTH
    * accounting channels Structured Streaming exposes:
    *
    *  - `observe()` on the input (before the stateful operator) counts
    *    every row fed, per batch, through the observed-metrics channel;
    *  - `StateOperatorProgress.numRowsDroppedByWatermark` counts the
    *    rows the aggregation discarded as late.
    *
    * The feed makes lateness DETERMINISTIC: batch 1 carries the
    * even-event_id rows plus a watermark anchor two hours past the last
    * real window, so when the odd-event_id rows arrive in batch 2 every
    * one of them is behind the watermark and must be dropped, while two
    * fresh rows riding above the anchor must be accepted.
    *
    * The engine's drop counter has a granularity caveat this harness
    * measures rather than hides: for aggregations the watermark filter
    * runs at the STATE operator, after partial aggregation and the
    * exchange have merged the late inputs to one row per window — so
    * `numRowsDroppedByWatermark` counts dropped WINDOWS, not rows
    * (empirically pinned here: 720 distinct late hours, not 5 000 late
    * rows). Row-level loss is therefore RECONCILED the way a production
    * audit does it: fed (observed) − emitted (sink) − in-flight (state
    * rows at shutdown) = rows lost to the watermark. The ledger emits
    * all four, each independently oracle-checkable:
    *   −4 fed = |events| + 4 injected,
    *   −3 state_dropped = distinct hours among odd-id rows,
    *   −2 late_rows (reconciled) = |odd-id rows|,
    *   −1 in_flight = 1 (the sentinel's still-open window),
    * and the window rows must equal the even-only batch aggregate plus
    * the two anchor-side windows. A progress API that stopped
    * reporting, a watermark that admitted late rows (double-count) or
    * dropped fresh ones — each breaks a different ledger line.
    *
    * At 100 TB this ledger IS the data-loss audit: watermark drops are
    * silent by design, and fed − sink − in-flight is how a pipeline
    * proves its completeness SLO. */
  def q80_stream_late_ledger(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      Engine.microBatchSession(s).sqlContext
    val rows = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val hour = 3600L * 1000000000L
    val hi = rows.map(_._2).max
    val anchor = hi / hour * hour + 2 * hour
    val even = rows.filter(_._1 % 2 == 0).map(r => (r._2, r._3))
    val odd = rows.filter(_._1 % 2 != 0).map(r => (r._2, r._3))
    val fresh = Seq((anchor + hour / 2, 1.5), (anchor + hour + hour / 2, 2.5))
    val sentinel = (anchor + 10 * hour, 0.0)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val agg = in.toDF().toDF("tns", "value")
      .withColumn("ts", timestamp_micros(KeyAlgebra.ldiv(col("tns"), lit(1000L))))
      .observe("q80_obs", count(lit(1)).as("n_fed"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("window_start"),
        col("n"), col("sum_value"))
    var fed = 0L
    var stateDropped = 0L
    var inFlight = 0L
    val all = drain(s, "q80_stream_out", agg, OutputMode.Append, Seq(
      () => in.addData(even.toIndexedSeq :+ ((anchor, 0.0))),
      () => in.addData(odd.toIndexedSeq ++ fresh),
      () => in.addData(Seq(sentinel))),
      inspect = { q =>
        q.recentProgress.foreach { p =>
          val om = p.observedMetrics
          if (om.containsKey("q80_obs")) fed += om.get("q80_obs").getLong(0)
          p.stateOperators.foreach(so =>
            stateDropped += so.numRowsDroppedByWatermark)
        }
        inFlight = q.recentProgress.reverse
          .find(_.stateOperators.nonEmpty)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      })
    val sentinelHour = sentinel._1 / 3600000000000L * 3600L
    val emitted = all.collect().map(_.getLong(1)).sum
    val lateRows = fed - emitted - inFlight
    val ledger = Seq((-4L, fed, 0.0), (-3L, stateDropped, 0.0),
      (-2L, lateRows, 0.0), (-1L, inFlight, 0.0))
      .toDF("window_start", "n", "sum_value")
    all.filter(col("window_start") < sentinelHour)
      .unionByName(ledger)
      .orderBy("window_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q80_stream_late_ledger" -> (q80_stream_late_ledger _),
    "q74_stream_rate_limit" -> (q74_stream_rate_limit _),
    "q72_stream_restart" -> (q72_stream_restart _),
    "q83_stream_exactly_once" -> (q83_stream_exactly_once _),
    "q67_stream_static_join" -> (q67_stream_static_join _),
    "q60_stream_drift" -> (q60_stream_drift _),
    "q64_cdc_upsert" -> (q64_cdc_upsert _),
    "q54_stream_funnel" -> (q54_stream_funnel _),
    "q45_asof_filesource" -> (q45_asof_filesource _),
    "q46_topk_filesource" -> (q46_topk_filesource _),
    "q47_join_filesource" -> (q47_join_filesource _),
    "q48_outer_join_filesource" -> (q48_outer_join_filesource _),
    "q49_dedup_filesource" -> (q49_dedup_filesource _),
    "q42_stream_session_window" -> (q42_stream_session_window _),
    "q44_stream_outer_join" -> (q44_stream_outer_join _),
    "q39_incremental_mv" -> (q39_incremental_mv _),
    "q36_stream_dedup_watermark" -> (q36_stream_dedup_watermark _),
    "q89_stream_chained_stateful" -> (q89_stream_chained_stateful _),
    "q91_stream_warc_ingest" -> (q91_stream_warc_ingest _),
    "q31_stream_join" -> (q31_stream_join _),
    "q23_stream_window" -> (q23_stream_window _),
    "q30_stream_filesource" -> (q30_stream_filesource _),
    "q26_stream_asof" -> (q26_stream_asof _),
    "q27_stream_sessionize" -> (q27_stream_sessionize _),
    "q28_stream_topk" -> (q28_stream_topk _),
  )

  // Batch oracles shared by each MemoryStream harness and its
  // file-source twin — one SQL text per semantic, referenced twice.
  private val dedupOracle =
    """SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM events GROUP BY user_id ORDER BY user_id"""
  private val outerJoinOracle =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id, event_type
         FROM events)
       SELECT c.event_id AS click_id,
         coalesce(p.event_id, -1) AS purchase_id,
         c.user_id, coalesce(c.us - p.us, -1) AS lag_us
       FROM (SELECT * FROM e WHERE event_type = 'click') c
       LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id
         AND p.us BETWEEN c.us - 86400000000 AND c.us
       ORDER BY click_id, purchase_id"""
  private val innerJoinOracle =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id, event_type
         FROM events)
       SELECT c.event_id AS click_id, p.event_id AS purchase_id,
         c.user_id, (c.us - p.us) AS lag_us
       FROM e c JOIN e p ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.us BETWEEN c.us - 86400000000 AND c.us
       ORDER BY click_id, purchase_id"""
  private val topkOracle =
    """SELECT user_id, rank, event_id, value FROM (
         SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY value DESC, event_id) AS rank
         FROM events)
       WHERE rank <= 3 ORDER BY user_id, rank"""

  val oracles: Map[String, String] = Map(
    // the token-bucket recurrence stepped one event per user per level
    // by a recursive CTE: t2 = refilled tokens before admission; the
    // refill anchor advances by whole 4 h periods (or snaps to the
    // event when the bucket caps out), exactly as the Spark state does
    "q74_stream_rate_limit" ->
      """WITH RECURSIVE o AS (SELECT user_id, event_id, epoch_ns(ts) AS tns,
           row_number() OVER (PARTITION BY user_id
             ORDER BY epoch_ns(ts), event_id) AS rn
         FROM events),
       rec(user_id, rn, tokens, last_refill, admitted) AS (
         SELECT user_id, 1::BIGINT, 1::BIGINT, tns, 1::BIGINT
         FROM o WHERE rn = 1
         UNION ALL
         SELECT o.user_id, o.rn,
           CASE WHEN least(2, r.tokens + (o.tns - r.last_refill)
             // 14400000000000) >= 1
             THEN least(2, r.tokens + (o.tns - r.last_refill)
               // 14400000000000) - 1
             ELSE least(2, r.tokens + (o.tns - r.last_refill)
               // 14400000000000) END,
           CASE WHEN least(2, r.tokens + (o.tns - r.last_refill)
             // 14400000000000) = 2 THEN o.tns
             ELSE r.last_refill + ((o.tns - r.last_refill)
               // 14400000000000) * 14400000000000 END,
           CASE WHEN least(2, r.tokens + (o.tns - r.last_refill)
             // 14400000000000) >= 1 THEN 1 ELSE 0 END
         FROM rec r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
       SELECT user_id, count(*)::BIGINT AS n_events,
         CAST(sum(admitted) AS BIGINT) AS n_admitted,
         CAST(count(*) - sum(admitted) AS BIGINT) AS n_dropped
       FROM rec GROUP BY user_id ORDER BY user_id""",
    // full-replay convergence: the enriched stream re-aggregated per
    // user equals the batch join; profile_cnt == n_events by design
    "q67_stream_static_join" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
           count(*)::BIGINT AS profile_cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",
    // the incremental milestone state must converge to the offline
    // three-window funnel answer
    "q54_stream_funnel" -> RelationalQueries.oracles("q53_funnel"),
    // the incremental monitor must converge to the batch statistic
    "q60_stream_drift" -> RelationalQueries.oracles("q55_drift_chi2"),
    // last-write-wins argmax over the full change log; live keys only
    "q64_cdc_upsert" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
           epoch_ns(ts) AS tns,
           CAST(floor(value * 1000000) AS BIGINT) AS value_fp FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY tns DESC, event_id DESC) AS rn FROM e),
         agg AS (SELECT user_id, count(*)::BIGINT AS n_changes,
             max(tns)::BIGINT AS last_tns FROM e GROUP BY 1)
         SELECT a.user_id, a.n_changes, a.last_tns, r.value_fp
         FROM agg a JOIN r ON a.user_id = r.user_id AND r.rn = 1
         WHERE r.event_type <> 'error'
         ORDER BY a.user_id""",
    // each file-source twin must converge to the SAME batch answer as
    // its MemoryStream original — the ingest path is the only variable
    "q45_asof_filesource" -> RelationalQueries.oracles("q24_asof_join"),
    "q46_topk_filesource" -> topkOracle,
    "q47_join_filesource" -> innerJoinOracle,
    "q48_outer_join_filesource" -> outerJoinOracle,
    "q49_dedup_filesource" -> dedupOracle,
    // the engine-native streaming sessionizer must converge to the
    // batch session_window answer (q40's half-open-interval contract)
    "q42_stream_session_window" -> RelationalQueries.oracles("q40_session_window"),
    // after three incremental merges the MV store must equal the
    // one-shot batch aggregate
    "q39_incremental_mv" ->
      """SELECT user_id, event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // the watermarked dedup must make double delivery invisible: the
    // emitted stream aggregates to the duplicate-free batch answer
    "q36_stream_dedup_watermark" -> dedupOracle,
    // chained dedup -> window in one query must converge to the CLEAN
    // batch hourly aggregate: any duplicate surviving the first state
    // store inflates a window's count and fails the hash
    // the streaming ledger must converge to qn20's batch books exactly
    // — SAME oracle text: the accounting is a pure function of the
    // parquet regardless of how the shards arrived
    "q91_stream_warc_ingest" ->
      graft.operators.NetCDFQueries.oracles("qn20_warc_ingest"),
    "q89_stream_chained_stateful" ->
      """SELECT epoch_ns(ts) // 3600000000000 * 3600 AS window_start,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY window_start""",
    // the outer stream-stream join must emit the batch LEFT interval
    // join exactly — including the null-extended (here −1-coalesced)
    // rows that only watermark-driven state eviction can produce
    "q44_stream_outer_join" -> outerJoinOracle,
    // the stream-stream join must emit exactly the batch interval join
    "q31_stream_join" -> innerJoinOracle,
    // the ledger is the batch difference: fed = |events| + 4 injected,
    // dropped = |odd event_ids| (all behind the anchor watermark),
    // accepted = fed - dropped; windows = even-only batch aggregate
    // plus the two anchor-side windows
    "q80_stream_late_ledger" ->
      """WITH mx AS (SELECT (max(epoch_ns(ts)) // 3600000000000 + 2) * 3600
           AS anchor FROM events),
         win AS (SELECT epoch_ns(ts) // 3600000000000 * 3600 AS window_start,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
           FROM events WHERE event_id % 2 = 0 GROUP BY 1),
         cnt AS (SELECT count(*) AS total,
           count(*) FILTER (WHERE event_id % 2 <> 0) AS odd,
           count(DISTINCT epoch_ns(ts) // 3600000000000)
             FILTER (WHERE event_id % 2 <> 0) AS odd_windows FROM events)
         SELECT window_start, n, sum_value FROM win
         UNION ALL SELECT anchor, 2::BIGINT, 1.5::DOUBLE FROM mx
         UNION ALL SELECT anchor + 3600, 1::BIGINT, 2.5::DOUBLE FROM mx
         UNION ALL SELECT -4::BIGINT, total + 4, 0.0::DOUBLE FROM cnt
         UNION ALL SELECT -3::BIGINT, odd_windows, 0.0::DOUBLE FROM cnt
         UNION ALL SELECT -2::BIGINT, odd, 0.0::DOUBLE FROM cnt
         UNION ALL SELECT -1::BIGINT, 1::BIGINT, 0.0::DOUBLE FROM cnt
         ORDER BY window_start""",
    "q23_stream_window" ->
      """SELECT epoch_ns(ts) // 3600000000000 * 3600 AS window_start,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY window_start""",
    // the file-source stream must converge to the same batch windows
    "q30_stream_filesource" ->
      """SELECT epoch_ns(ts) // 3600000000000 * 3600 AS window_start,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY window_start""",
    // the restarted query must converge to the same batch aggregate —
    // lost state under-counts, a replayed batch double-counts
    // any double-write from the forced redelivery breaks these counts
    "q83_stream_exactly_once" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q72_stream_restart" ->
      """SELECT epoch_ns(ts) // 3600000000000 * 3600 AS window_start,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY window_start""",
    // the streaming enrichment must converge to the batch as-of answer
    "q26_stream_asof" -> RelationalQueries.oracles("q24_asof_join"),
    // the streaming sessionizer must converge to the batch sessionization
    "q27_stream_sessionize" -> RelationalQueries.oracles("q17_sessionize_batch"),
    "q28_stream_topk" -> topkOracle,
  )
}
