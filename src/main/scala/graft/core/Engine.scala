package graft.core

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}

/** The one engine posture. Bench, Verify, the service, the tools and the
  * test session all build their Spark session here, so the oracle checks
  * and the tests see the configuration the bench times and the service
  * runs (including `GraftExtensions`: the `graft_*` SQL functions and the
  * `LevenshteinGuard` rewrite). */
object Engine {
  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  // r18: AQE advisory-size partition coalescing ON
  // (parallelismFirst=false), with the advisory size PARAMETERIZED and
  // defaulted to the bench's own data scale (guide §2.2: derive the
  // partition count from the shuffle's bytes, not a core-count
  // constant). Measured at sf0.1: advisory=64m collapses the CPU-heavy
  // verify stages to 1 task and regresses them 1.3-2.2x (d05 5.0→10.9 s),
  // while advisory=4m coalesces only the genuinely tiny exchanges
  // (final sorts, label tables) and wins d03 5.5→3.8, d05 4.2→3.2,
  // d20 5.1→4.3 with the wide stages untouched. 4m is the LOCAL
  // default matched to sf0.1's MB-scale shuffles; a production
  // deployment sets SPARK_GRAFT_ADVISORY_PARTITION=64m..256m so
  // partitions land in the guide's 100 MB-1 GB band (see
  // OPTIMIZATION_r18.md for the full A/B table).
  private val advisoryPartition =
    sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "4m")

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisoryPartition)
      // events.parquet has shipped TIMESTAMP(NANOS), which Spark has no
      // native type for: read raw nanos-since-epoch longs (core.Tables)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // let mid-size dims broadcast (the 10 MB default is sized for
      // small executors)
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fill the cache of an already-persisted `df` with one action and
    * return its exact row count. The action runs on the cache entry's
    * own batch RDD and sums `CachedBatch.numRows`, so nothing is planned
    * beyond the cached plan. `count()` would fill the same blocks, but
    * under AQE it runs the fill as a `TableCacheQueryStage` and then a
    * partial-count shuffle stage and a final stage: three jobs and an
    * extra physical plan. The blocks land at the persisted storage level
    * and the relation's size and row-count stats are set, as the AQE
    * fill sets them.
    *
    * `df` may have no cache entry: it was never persisted, or a
    * concurrent `unpersist` of a same-plan DataFrame (they share one
    * entry) removed it after `persist`. Then `count()` runs, which is the
    * right count either way. */
  def materialize(df: DataFrame): Long =
    GraftSqlShims.cachedBatches(df) match {
      case Some(batches) => batches.map(_.numRows.toLong).fold(0L)(_ + _)
      case None => df.count()
    }

  /** The session a micro-batch harness runs its stream on: a clone of `s`
    * (its conf, `GraftExtensions` and execution listeners) with shuffle
    * partitions at 4, so the caller's conf is never touched and two
    * harnesses on one session plan independently. The harnesses run 2-4
    * tiny batches; at 32-way shuffle every stateful operator loads and
    * commits 32 state-store partitions per batch, a pure per-batch floor
    * at harness data sizes (and the same knob a production job sets to
    * match its state volume). 4 keeps real multi-partition semantics
    * (exchanges, several store shards) at an 8x lower floor, and the
    * collected results are partitioning-invariant, so oracle rows are
    * unchanged. A query fixes its state width when it starts, from this
    * session's conf.
    *
    * Spark carries no streaming listener to a clone, so the ones on `s`
    * are copied over: a progress listener on the caller still sees every
    * batch. Each call builds a new clone (Spark clones once more per
    * stream start anyway), and each leaves one idle streaming listener
    * bus behind: Spark never detaches a clone's bus from the shared one. */
  def microBatchSession(s: SparkSession): SparkSession = {
    val ms = GraftSqlShims.cloneSession(s)
    ms.conf.set("spark.sql.shuffle.partitions", "4")
    s.streams.listListeners().foreach(ms.streams.addListener)
    ms
  }
}
