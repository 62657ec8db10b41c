package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** JVM side of the benchmark. Every line meant for `run.py` starts with
  * "@@ " and carries one JSON object; everything else on stdout is the
  * engine's own output.
  *
  *   corpus <dataDir> <q1,q2,...> <seconds> <trace 0|1> [recordDir]
  *     Runs the named `SparkEntry.queries` in order, in-process, under the
  *     session posture of `graft.Bench`. Each query's output is digested
  *     while it is produced (the digest is the timed action), so the
  *     check costs no second execution. One untimed pass warms the JVM;
  *     timed passes follow, caches cleared before each, until `seconds`
  *     have elapsed. With `recordDir`, each query's output is also written
  *     there as parquet, with its oracle SQL, for `record_digests.py`.
  *   serve <trace 0|1>
  *     Starts `graft.service.ServiceMain` (binary wire, ephemeral port) in
  *     this JVM, then answers commands on stdin: `mark`, `stats`,
  *     `probe <json>` (traced runs only) and `quit`.
  */
object Harness {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("corpus") => corpus(args.toIndexedSeq.tail)
    case Some("serve") => serve(args(1) == "1")
    case _ =>
      System.err.println("usage: Harness corpus|serve ...")
      sys.exit(2)
  }

  def emit(json: String): Unit = synchronized {
    System.out.println("@@ " + json); System.out.flush()
  }

  // ------------------------------------------------------------ corpus

  /** The session posture of `graft.Bench.main`. */
  def benchSession(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Order-independent digest of a query's output: row count and the
    * wrapping sum of one 64-bit hash per row. Equal multisets of rows
    * give equal digests. */
  def rowHash(r: Row): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < r.length) {
      val v: Long = r.get(i) match {
        case null => 0x5bd1e995L
        case l: Long => l
        case n: Int => n.toLong
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case f: Float => java.lang.Double.doubleToLongBits(f.toDouble)
        case b: Boolean => if (b) 1L else 2L
        case s: String =>
          val b = s.getBytes("UTF-8")
          (scala.util.hashing.MurmurHash3.bytesHash(b, 17).toLong << 32) ^
            (scala.util.hashing.MurmurHash3.bytesHash(b, 71).toLong & 0xffffffffL)
        case o => o.toString.hashCode.toLong
      }
      h = mix(h ^ mix(v + i))
      i += 1
    }
    h
  }

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def digest(spark: SparkSession, df: DataFrame): (Long, Long) = {
    val n = spark.sparkContext.longAccumulator("rows")
    val h = spark.sparkContext.longAccumulator("hash")
    df.foreachPartition { (it: Iterator[Row]) =>
      var c = 0L; var s = 0L
      it.foreach { r => c += 1; s += rowHash(r) }
      n.add(c); h.add(s)
    }
    (n.value.longValue, h.value.longValue)
  }

  private def corpus(a: IndexedSeq[String]): Unit = {
    val dataDir = a(0)
    val names = a(1).split(',').toSeq.filter(_.nonEmpty)
    val seconds = a(2).toDouble
    val trace = a(3) == "1"
    val record = a.lift(4)
    val known = graft.SparkEntry.queries
    val unknown = names.filterNot(known.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${unknown.mkString(",")}")
      sys.exit(3)
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = benchSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val spans = new Spans
    val probe = new Probe(spark, spans)
    if (trace) probe.attach()
    // shared inputs: every table's files found and its schema read
    graft.core.Tables.all.foreach(t => graft.core.Tables.t(spark, dataDir, t))
    emit("""{"event":"ready"}""")
    // warm-up: one untimed pass over the list, so the timed pass runs on
    // compiled code paths (the first pass in a JVM varies by tens of
    // percent from run to run); its memoized state is dropped below
    names.foreach { n =>
      try digest(spark, known(n)(spark, dataDir))
      catch { case _: Throwable => } // a failing query fails in the timed pass
    }
    graft.core.SessionMemo.clear(spark); spark.catalog.clearCache()
    probe.reset(); spans.clear()

    record.foreach { dir =>
      // reference outputs for the oracle check, written like graft.Verify
      names.foreach { n =>
        known(n)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$n")
        graft.core.SessionMemo.clear(spark); spark.catalog.clearCache()
      }
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
        .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"), oracle)
    }

    val cpu0 = Probe.cpuSeconds()
    val t0 = System.nanoTime()
    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (pass > 0) { graft.core.SessionMemo.clear(spark); spark.catalog.clearCache() }
      names.foreach { n =>
        val start = spans.nowMs
        val q0 = System.nanoTime()
        val outcome =
          try {
            val d = digest(spark, known(n)(spark, dataDir))
            s""""rows":${d._1},"hash":"${java.lang.Long.toHexString(d._2)}""""
          } catch { case e: Throwable =>
            s""""error":${Json.str(e.getClass.getSimpleName + ": " + e.getMessage)}"""
          }
        val secs = (System.nanoTime() - q0) / 1e9
        spans.add(-1, n, "query", start, spans.nowMs)
        results += s"""{"pass":$pass,"query":${Json.str(n)},"s":$secs,$outcome}"""
      }
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Probe.cpuSeconds() - cpu0
    val listeners = if (trace) probe.json() else "null"
    emit(s"""{"event":"result","wall_s":$wall,"cpu_s":$cpu,"passes":$pass,""" +
      s""""peak_rss_b":${Probe.peakRssBytes()},"cores":$cpus,""" +
      s""""queries":${results.mkString("[", ",", "]")},""" +
      s""""listeners":$listeners,"spans":${if (trace) Json.spans(spans.all) else "[]"}}""")
    spark.stop()
  }

  // ------------------------------------------------------------- serve

  private def serve(trace: Boolean): Unit = {
    val main = new Thread(() => graft.service.ServiceMain.main(Array("0", "binary")),
      "service-main")
    main.setDaemon(true)
    main.start()
    var spark: Option[SparkSession] = None
    while (spark.isEmpty) { Thread.sleep(20); spark = SparkSession.getDefaultSession }
    val s = spark.get
    val spans = new Spans
    val probe = new Probe(s, spans)
    if (trace) probe.attach()
    emit("""{"event":"ready"}""")
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var cpu0 = Probe.cpuSeconds()
    var line = in.readLine()
    while (line != null && line != "quit") {
      val (cmd, arg) = line.span(_ != ' ')
      cmd match {
        case "mark" =>
          if (trace) probe.reset()
          cpu0 = Probe.cpuSeconds()
          emit("""{"event":"marked"}""")
        case "stats" =>
          emit(s"""{"event":"stats","peak_rss_b":${Probe.peakRssBytes()},""" +
            s""""cpu_s":${Probe.cpuSeconds() - cpu0},""" +
            s""""listeners":${if (trace) probe.json() else "null"}}""")
        case "probe" if trace =>
          emit(Layers.run(s, arg.trim, spans))
        case other =>
          emit(s"""{"event":"error","error":${Json.str("unknown command " + other)}}""")
      }
      line = in.readLine()
    }
    sys.exit(0)
  }
}
