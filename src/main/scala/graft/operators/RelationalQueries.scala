package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.KeyAlgebra

/** The reference's relational surface (SURVEY.md §2.1/§2.3) re-expressed as
  * DataFrame plans, each paired with a DuckDB oracle in [[oracles]].
  *
  * Determinism rules (the driver hash-compares against DuckDB):
  *  - sums/avgs of doubles go through DECIMAL casts so the result does not
  *    depend on float summation order, then back to DOUBLE;
  *  - every query orders by a unique key;
  *  - column names are aliased identically on both sides.
  *
  * Scale notes are inline: dims are broadcast, aggregations are partial
  * (map-side combine is automatic for all used aggregates), and no query
  * collects to the driver.
  */
object RelationalQueries {

  private def dsum(c: String) =
    sum(col(c).cast("decimal(18,2)")).cast("double")

  /** q01 — SELECT + WHERE + projection w/ expression (select path,
    * oph_io_server_query_engine.c:258-385). Filter and pruning reach the
    * parquet scan (PushedFilters in .explain). */
  def q01_filter_project(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q02 — CTAS (create_frag_select, oph_io_server_query_engine.c:35-237):
    * materialize a derived fragment as a temp view, then query it. */
  def q02_ctas(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_ctas_out")
    s.table("graft_ctas_out")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("sum_price"))
      .orderBy("o_custkey")
  }

  /** q03 — GROUP BY aggregation (oph_io_server_query_blocks.c:133-439),
    * generalized to multi-column groups (reference: single expr). */
  def q03_agg_group(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q04 — implicit total aggregation (no GROUP BY → 1 row;
    * oph_io_server_query_blocks.c:2557-2671). */
  def q04_agg_total(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n_rows"),
        dsum("l_quantity").as("sum_qty"),
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"))

  /** q05 — equi-join + agg. The reference's positional aligned merge
    * (oph_io_server_query_blocks.c:845-1082) generalizes to a hash join;
    * customer is a dim → broadcast (no shuffle of the fact side's join). */
  def q05_join_agg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("sum_price"))
      .orderBy("c_mktsegment")

  /** q06 — multi-way join through the dim chain, all dims broadcast:
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region. One shuffle total
    * (the final groupBy); the fact table never shuffles for joins. */
  def q06_join_chain(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("r_name")

  /** q07 — ORDER BY (multi-col, desc — generalizing the reference's
    * asc-only single-col insertion sort) + LIMIT/OFFSET
    * (oph_io_server_query_blocks.c:699-817). */
  def q07_order_limit(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(5).limit(10)

  /** q08 — the reference's "non-aggregate select fields take the first row
    * of each group" rule (oph_io_server_query_blocks.c:2438-2458): first =
    * lowest key, expressed as min_by (DuckDB arg_min). */
  def q08_first_in_group(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(min_by(col("o_totalprice"), col("o_orderkey")).as("first_price"),
        count(lit(1)).as("n"))
      .orderBy("o_custkey")

  /** q09 — oph_subset (filter + sequential_id re-key + materialize;
    * oph_io_server_query_procedures.c:37-218). Scalable numbering via
    * [[SequentialId]] (no single-partition window). */
  def q09_subset_rekey(s: SparkSession, dir: String): DataFrame = {
    val filtered = Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 49)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    SequentialId.withSequentialId(filtered, "id_dim",
        Seq(col("l_orderkey"), col("l_linenumber")), start = 1L)
      .select("id_dim", "l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("id_dim")
  }

  /** q10 — multi_insert (oph_io_server_query_engine.c:474-614): batched
    * literal rows appended to a fragment, then queried. */
  def q10_multi_insert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val extra = Seq((90, "GRAFTLAND"), (91, "OPHIDIA"), (92, "GRAFTLAND"))
      .toDF("r_regionkey", "r_name")
    Tables.region(s, dir).select("r_regionkey", "r_name")
      .unionByName(extra)
      .groupBy("r_name").agg(count(lit(1)).as("n"))
      .orderBy("r_name")
  }

  /** q11 — key algebra (§2.4): the full family — oph_id / oph_id2 /
    * oph_id3 (per-slot row-count subset remap, list [2,3,5] bs 4) /
    * oph_id_to_index (mixed-radix decode over sizes 5·4·50) /
    * oph_id_to_index2 — plus the oph_is_in_subset filter, over a dense
    * key. Pure column arithmetic → whole-stage codegen, filter pushed
    * to scan. */
  def q11_key_algebra(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.filter(KeyAlgebra.oph_is_in_subset(col("event_id"), 3, 7, 9000))
      .select(col("event_id"),
        KeyAlgebra.oph_id(col("event_id"), 10).as("block_id"),
        KeyAlgebra.oph_id2(col("event_id"), 10, 4).as("block_id2"),
        KeyAlgebra.oph_id3(col("event_id"), Seq(2L, 3L, 5L), 4L).as("id3"),
        KeyAlgebra.oph_id_to_index(col("event_id"), 5L, 4L, 50L).as("mr_idx"),
        KeyAlgebra.oph_id_to_index2(col("event_id"), 10, 100).as("dim_idx"))
      .orderBy("event_id")
  }

  /** q12 — DISTINCT (absent in the reference — SURVEY §2.3 "Not present";
    * native here). */
  def q12_distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** q13 — set ops (absent in the reference): parts never ordered. */
  def q13_except(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(col("p_partkey"))
      .except(Tables.lineitem(s, dir).select(col("l_partkey").as("p_partkey")))
      .orderBy("p_partkey")

  /** q29 — UNION and INTERSECT (the remaining set operations from the
    * reference's "not present" list; EXCEPT is q13): suppliers' nations
    * INTERSECT customers' nations, plus the UNION-distinct count of both
    * sides. Set ops hash-partition on the full row — the same shuffle
    * class as distinct. */
  def q29_union_intersect(s: SparkSession, dir: String): DataFrame = {
    val sn = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
    val cn = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
    val both = sn.intersect(cn)
    val either = sn.union(cn).distinct()
    both.agg(count(lit(1)).as("n_intersect"))
      .crossJoin(either.agg(count(lit(1)).as("n_union")))
  }

  /** q14 — HAVING + scalar subquery (absent in the reference). The
    * 1-row average is broadcast-cross-joined into the grouped plan, so
    * the whole query stays ONE lazy Catalyst plan — no eager `.first()`
    * job and no driver-side constant the optimizer can't see. */
  def q14_having_subquery(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val avgBal = c.agg(
      avg(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("avg_bal"))
    c.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), dsum("c_acctbal").as("sum_bal"))
      .crossJoin(broadcast(avgBal))
      .filter(col("sum_bal") > col("avg_bal") * 10)
      .drop("avg_bal")
      .orderBy("c_nationkey")
  }

  /** q15 — window functions (absent in the reference): top-3 orders per
    * segment. Partitioned window → parallel by segment. */
  def q15_window_rank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
      .orderBy("c_mktsegment", "rk")
  }

  /** q16 — tumbling time-window aggregation over the events stream table
    * (batch view of the Structured Streaming path; see graft.streaming).
    * `ts` arrives as raw nanos-since-epoch (nanosAsLong); trunc to the
    * hour with exact integer arithmetic. */
  def q16_time_window(s: SparkSession, dir: String): DataFrame =
    // hour ships as BIGINT epoch-seconds (not timestamp): integer keys
    // compare identically across the pandas/DuckDB comparator split.
    Tables.events(s, dir)
      .groupBy(
        (KeyAlgebra.ldiv(col("ts"), lit(3600000000000L)) * 3600L).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("hour", "event_type")

  /** q17 — batch sessionization (the SQL-expressible view of the
    * streaming session operator): a new session starts after > 30 min of
    * per-user inactivity; output per-session aggregates. All window
    * functions partition by user — parallel at any scale. */
  def q17_sessionize_batch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapNs = 1800L * 1000000000L // 30 min in nanos (ts is raw nanos)
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** q18 — ROLLUP grouping sets (absent in the reference; native here).
    * Grouping-null keys are replaced so the sort key is total. */
  def q18_rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum("l_quantity").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
        col("cnt"), col("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q20 — SLIDING time windows (1 h window, 30 min slide) as a batch
    * plan — the batch mirror of Structured Streaming's window(); each
    * event lands in 2 windows. Epoch-aligned, exact integer arithmetic
    * over the raw nanos. */
  def q20_sliding_window(s: SparkSession, dir: String): DataFrame = {
    val slideNs = 1800000000000L // 30 min
    val winNs = 3600000000000L // 1 h
    val e = Tables.events(s, dir)
      .withColumn("k", explode(array(lit(0L), lit(1L))))
      .withColumn("win_start_ns",
        (KeyAlgebra.ldiv(col("ts"), lit(slideNs)) - col("k")) * slideNs)
      .filter(col("ts") < col("win_start_ns") + winNs &&
        col("win_start_ns") >= 0)
    // window start ships as BIGINT epoch-seconds: the driver comparator
    // reads our parquet via pandas but the oracle via DuckDB, and their
    // timestamp dtypes (unit/tz) disagree — integers compare exactly.
    e.groupBy(KeyAlgebra.ldiv(col("win_start_ns"), lit(1000000000L))
        .as("window_start"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("window_start")
  }

  /** q21 — anti/semi joins (absent in the reference): parts that never
    * shipped, suppliers that did. */
  def q21_anti_semi(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val unshipped = Tables.part(s, dir)
      .join(li, col("p_partkey") === col("l_partkey"), "left_anti")
      .agg(count(lit(1)).as("n_unshipped_parts"))
    val active = Tables.supplier(s, dir)
      .join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .agg(count(lit(1)).as("n_active_suppliers"))
    unshipped.crossJoin(active)
  }

  /** q22 — exact interpolated percentiles (Spark `percentile` ==
    * DuckDB `quantile_cont`: sort + linear interpolation). */
  def q22_percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** q24 — as-of join (absent in the reference AND in Spark's built-in
    * operator set): each click event picks up the most recent purchase
    * at-or-before it for the same user. Implemented the scale-native way
    * — not a pairwise join at all: union both streams, one hash
    * partition by user_id, and a running last() carries the purchase
    * state forward through the sorted timeline. One shuffle, no
    * quadratic candidate set; semantics identical to DuckDB's native
    * ASOF JOIN, which is the oracle. */
  def q24_asof_join(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // microsecond timeline on both engines: DuckDB truncates parquet
    // nano timestamps to micros, so the as-of comparison must happen at
    // the precision the oracle can actually see
    val ev = Tables.events(s, dir)
      .withColumn("ts", KeyAlgebra.ldiv(col("ts"), lit(1000L)))
    // right side collapsed to one row per (user, ts) — last writer by
    // event_id wins — so the as-of match is deterministic in both engines
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max_by(col("value"), col("event_id")).as("pvalue"))
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"),
        col("ts").as("pts"), col("pvalue"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"), col("value"),
        lit(null).cast("long").as("pts"),
        lit(null).cast("double").as("pvalue"))
    // at equal ts the purchase row sorts first (side 0 < 1) → ts >= pts
    val w = Window.partitionBy("user_id").orderBy("ts", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purch.unionByName(clicks)
      .withColumn("m", last(when(col("side") === 0,
        struct(col("pts"), col("pvalue"))), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      // no-match sentinels (-1 / 0.0) instead of NULLs: a nullable int64
      // degrades to float64 in the pandas comparator and nano timestamps
      // don't survive the double mantissa
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        coalesce(col("m.pts"), lit(-1L)).as("purchase_ts"),
        coalesce(col("m.pvalue"), lit(0.0)).as("purchase_value"))
      .orderBy("event_id")
  }

  /** q25 — range (interval) join: per error event, the count and
    * value-sum of same-user clicks within ±5 minutes. The naive plan is
    * an inequality join (quadratic scan); the scale plan buckets both
    * sides into 5-minute epochs and explodes each error into its 3
    * candidate buckets, so the join is a plain equi-join on
    * (user_id, bucket) and the band predicate only refines in-bucket
    * pairs — candidate volume stays linear on skew-free time data. */
  def q25_range_join(s: SparkSession, dir: String): DataFrame = {
    val bandNs = 300000000L // 5 min in MICROS (oracle precision, see q24)
    val ev = Tables.events(s, dir)
      .withColumn("ts", KeyAlgebra.ldiv(col("ts"), lit(1000L)))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("value").as("cvalue"))
      .withColumn("cbucket", KeyAlgebra.ldiv(col("cts"), lit(bandNs)))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("db"))
      .withColumn("bucket", KeyAlgebra.ldiv(col("ts"), lit(bandNs)) + col("db"))
    errors.join(clicks,
        col("user_id") === col("cu") && col("bucket") === col("cbucket"))
      .filter(abs(col("cts") - col("ts")) <= bandNs)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_nearby"),
        sum(col("cvalue").cast("decimal(18,6)")).cast("double").as("sum_nearby"))
      .orderBy("event_id")
  }

  /** q19 — JSON property extraction from the events side-channel. */
  def q19_json(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** q32 — PIVOT to wide format: order value per priority (rows) ×
    * status (columns), with explicit pivot values so the plan is a
    * single partial+final aggregate (Spark's value-less pivot would add
    * a distinct-collect pre-pass — at 100 TB, always enumerate the
    * columns). Decimal sums keep the double results order-independent. */
  def q32_pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0.0)).as("total_f"),
        coalesce(col("O"), lit(0.0)).as("total_o"),
        coalesce(col("P"), lit(0.0)).as("total_p"))
      .orderBy("o_orderpriority")

  /** q33 — bucketed co-located join: the fact tables are written ONCE
    * as bucketed+sorted tables (8 buckets on the order key, one file
    * per bucket), and the join then needs NO exchange on either side —
    * the sort-merge join reads co-located buckets directly. This is the
    * storage layout a 100 TB deployment uses for its recurring join
    * keys: the shuffle is paid once at ingest, then every subsequent
    * join of any size is shuffle-free (the only exchanges left in this
    * plan are the final groupBy and the presentation sort). The
    * `merge` hint keeps the plan representative of the at-scale shape,
    * where neither side fits a broadcast. PlanSpec pins the
    * bucketed-scan + zero-join-exchange property. */
  def q33_bucketed_join(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = graft.core.SessionMemo.memoize(s, "q33-bucketed:" + dir) {
      // collision-free per-dir tag (hashCode could alias two dirs)
      // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val wh = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q33_wh_$tag")
      val (l, o) = (s"graft_q33_li_$tag", s"graft_q33_ord_$tag")
      // repartition on the bucket key first → one file per bucket, so
      // the in-bucket sort survives and the SMJ elides its sorts too
      Tables.lineitem(s, dir).repartition(8, col("l_orderkey"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", new java.io.File(wh, "li").getAbsolutePath)
        .mode("overwrite").saveAsTable(l)
      Tables.orders(s, dir).repartition(8, col("o_orderkey"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", new java.io.File(wh, "ord").getAbsolutePath)
        .mode("overwrite").saveAsTable(o)
      (l, o)
    }
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** q34 — GROUPING SETS with grouping_id: one pass produces the
    * (flag×status), per-flag, per-status and grand-total aggregates,
    * disambiguated by the grouping id — a single Expand + partial+final
    * aggregate instead of four scans. At 100 TB the expand factor (4×)
    * is the explicit cost knob; four separate queries would read the
    * fact table four times. */
  def q34_grouping_sets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
        col("gid"), col("cnt"), col("sum_qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** q35 — dynamic partition pruning: the fact table is laid out
    * partitioned by ship month (the other half of the q33 ingest-time
    * story — bucket the join keys, partition the time axis), and a
    * selective dim-side filter prunes fact PARTITIONS at runtime: the
    * broadcast of the filtered dim doubles as the partition filter, so
    * only the matching months are ever read from disk. At 100 TB this
    * is the difference between scanning 84 months and scanning 12 —
    * DPP is Spark's runtime answer when the pruning set isn't known
    * until the dim filter runs. PlanSpec pins the `dynamicpruning`
    * partition filter on the fact scan. */
  def q35_partition_pruning(s: SparkSession, dir: String): DataFrame = {
    val pt = graft.core.SessionMemo.memoize(s, "q35-part:" + dir) {
      // collision-free per-dir tag (hashCode could alias two dirs)
      // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val t = s"graft_q35_li_$tag"
      Tables.lineitem(s, dir)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        // cluster rows by their target partition before the write: one
        // file per month directory instead of tasks × months small files
        .repartition(col("ship_month"))
        .write.partitionBy("ship_month")
        .option("path", new java.io.File(new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft_q35_wh_$tag"), "li")
          .getAbsolutePath)
        .mode("overwrite").saveAsTable(t)
      t
    }
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1994)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()
    s.table(pt).join(dim, "ship_month")
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("ship_month")
  }

  /** Morton (Z-order) interleave of two 7-bit coordinates. Bit i of x
    * lands at z bit 2i, bit i of y at 2i+1 — monotone in both inputs,
    * so corner z-values bound any axis-aligned box. The monotone/box
    * properties hold ONLY on the [0,127] domain — bits above the 7th
    * would silently wrap and break the z-range = box equivalence q37
    * relies on, so out-of-range coordinates fail the job loudly via
    * raise_error instead of producing a plausible-but-wrong layout. */
  private def morton(x: Column, y: Column): Column = {
    // one guard term per coordinate (0L when valid, raise_error when
    // not), folded into the sum — wrapping each of the 7 bit taps in
    // the check instead would evaluate it 14x per row in the layout
    // write projection
    def check(c: Column): Column =
      when(c < 0 || c > 127, raise_error(concat(
        lit("morton: coordinate out of [0,127]: "), c.cast("string"))).cast("long"))
        .otherwise(lit(0L))
    (0 until 7).foldLeft(check(x) + check(y)) { (acc, i) =>
      acc + shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    }
  }

  /** The z-ordered orders layout shared by q37/q43 (one ingest-time
    * write per sf dir, memoized across the sweep like q33/q35/q41). */
  private def zOrderedOrders(s: SparkSession, dir: String): String =
    graft.core.SessionMemo.memoize(s, "q37-zorder:" + dir) {
      // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val p = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q37_z_$tag").getAbsolutePath
      // Month index base 1995-01 comes from the TESTDATA.md orders date
      // contract (current span 1995-01..2001-08, index 0..79); the 7-bit
      // morton domain caps the index at 127 = 2005-08. A driver-side data
      // regeneration past that ceiling fails the ingest loudly via the
      // morton guard rather than mis-laying the z-curve. If that happens,
      // update the base/width HERE and in the q37/q43 oracle SQL (which
      // hardcodes the same `(year-1995)*12 + month-1` formula) together.
      // Deterministic 16-way z-range layout: cut points come from the
      // KNOWN populated domain (64 customer buckets × 80 month indexes
      // → 5120 morton cells, equal-cell cuts, computed on the driver in
      // microseconds), so the ingest is ONE scan of the fact table.
      // repartitionByRange(zval) would run a reservoir-sampling pass —
      // a second full scan per ingest, pure waste at 100 TB when the
      // key domain is closed-form. Each range id becomes its own
      // partition DIRECTORY (one file: repartition puts a pid wholly in
      // one task), so per-file zval min/max stats stay tight contiguous
      // z-runs at EVERY scale — hash dispatch alone would co-locate
      // disjoint ranges in one file and break footer-stat pruning when
      // files are single-row-group small. sortWithinPartitions leads
      // with pid so the partitioned write's required ordering is
      // already satisfied and the zval ordering survives.
      val cells = (for (x <- 0L until 64L; y <- 0L until 80L)
        yield mortonLong(x, y)).sorted
      val bounds = (1 until 16).map(i => cells(i * cells.size / 16))
      val pid = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("zval") >= b, 1).otherwise(0) }
      Tables.orders(s, dir)
        .withColumn("zval", morton(col("o_custkey") % 64,
          (year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1))
        .withColumn("pid", pid)
        .repartition(16, col("pid"))
        .sortWithinPartitions("pid", "zval")
        .write.mode("overwrite").partitionBy("pid").parquet(p)
      p
    }

  /** Scalar Morton interleave (driver-side twin of [[morton]]). */
  private def mortonLong(x: Long, y: Long): Long =
    (0 until 7).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  /** Spec-only alias: ZOrderSpec compares the two curves' locality. */
  private[operators] def mortonLongForSpec(x: Long, y: Long): Long =
    mortonLong(x, y)

  /** Scalar HILBERT index, order 7 (128×128): the standard xy2d walk —
    * per bit level, take the quadrant, add its contribution, rotate/
    * reflect the frame. Unlike Morton, consecutive indexes are always
    * Manhattan-adjacent (ZOrderSpec measures the populated-domain mean
    * step at ~1.01 vs Morton's ~1.97), so equal-size index runs cover
    * tighter boxes — fewer row groups touched per box probe. */
  private[operators] def hilbertLong(x0: Long, y0: Long): Long = {
    require(0 <= x0 && x0 <= 127 && 0 <= y0 && y0 <= 127,
      s"hilbert: coordinate out of [0,127]: ($x0, $y0)")
    var x = x0; var y = y0; var d = 0L; var s = 64L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        // the reflection is GRID-wide (n-1 = 127), not quadrant-local:
        // an s-1 flip drives coordinates negative mid-walk, where JVM
        // two's-complement bitwise ops silently "work" but the SQL
        // replay's (v // s) % 2 does not — found as an oracle mismatch
        if (rx == 1) { x = 127L - x; y = 127L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Decompose an ARBITRARY inclusive box [xlo,xhi]×[ylo,yhi] (7-bit
    * domain) into disjoint contiguous z-value ranges — the general form
    * of q37's aligned-cell probe (the BIGMIN idea executed eagerly:
    * quadtree cells fully inside the box emit their contiguous Morton
    * range, straddling cells recurse, then touching ranges merge).
    * Range count is O((width+height)·log side) — tens for any box here —
    * so the predicate stays a short OR of BETWEENs that parquet row-group
    * stats can evaluate. */
  private[operators] def zBoxRanges(xlo: Long, xhi: Long, ylo: Long,
      yhi: Long): Seq[(Long, Long)] = {
    require(0 <= xlo && xlo <= xhi && xhi <= 127 &&
      0 <= ylo && ylo <= yhi && yhi <= 127, "box outside the 7-bit domain")
    def rec(cx: Long, cy: Long, s: Long): List[(Long, Long)] = {
      val (cxHi, cyHi) = (cx + s - 1, cy + s - 1)
      if (cxHi < xlo || cx > xhi || cyHi < ylo || cy > yhi) Nil // disjoint
      else if (cx >= xlo && cxHi <= xhi && cy >= ylo && cyHi <= yhi) {
        val z = mortonLong(cx, cy) // aligned cell → one contiguous run
        List((z, z + s * s - 1))
      } else {
        val h = s / 2 // z-order child visit: (0,0) (1,0) (0,1) (1,1)
        rec(cx, cy, h) ::: rec(cx + h, cy, h) :::
          rec(cx, cy + h, h) ::: rec(cx + h, cy + h, h)
      }
    }
    rec(0L, 0L, 128L).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: tail, (s1, e1)) if s1 == e0 + 1 => (s0, e1) :: tail
        case (acc, r) => r :: acc
      }.reverse
  }

  /** q37 — Z-order clustering for multi-dimensional data skipping: the
    * fact table is written sorted by the Morton interleave of (customer
    * bucket, month index), so parquet row-group min/max stats on the ONE
    * zval column prune a TWO-dimensional box query. The probe box here
    * is an aligned 8×8 quadtree cell, whose Morton image is the single
    * contiguous range [704, 767] — the z-range predicate is exactly the
    * box (the oracle states the box in raw customer/month terms, proving
    * the equivalence). General boxes decompose into O(log) aligned cells
    * (BIGMIN); one range per cell, same scan shape. At 100 TB this is
    * how you get file skipping on the SECOND and THIRD filter column,
    * where plain sort-by-one-column stats are exhausted — the layout
    * cost is ingest-time and amortized, like q33/q35. PlanSpec pins the
    * scan-level pruning (rows surviving the scan ≪ table rows). */
  def q37_zorder_layout(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(zOrderedOrders(s, dir))
      .filter(col("zval").between(704L, 767L))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("month")
  }

  /** q43 — ARBITRARY-box probe of the z-ordered layout via BIGMIN-style
    * range decomposition: q37 proves the aligned-cell case (one
    * contiguous z-range); q43 probes a box aligned to NOTHING — customer
    * bucket 5..37, month 10..53 — by decomposing it into the exact
    * disjoint set of contiguous z-ranges ([[zBoxRanges]], quadtree
    * recursion, ranges merged) and filtering the SAME layout with an OR
    * of BETWEENs. The oracle states the box in raw customer/month terms,
    * so a decomposition bug (coverage gap, overlap, off-by-one at a cell
    * edge) is a row-count/hash mismatch, not a silent perf loss. At
    * 100 TB this is the full production shape of multi-dim data
    * skipping: any box predicate on the two clustered dims becomes tens
    * of row-group-stat-prunable ranges on the one zval column. */
  def q43_zorder_bigmin(s: SparkSession, dir: String): DataFrame = {
    val ranges = zBoxRanges(5, 37, 10, 53)
    // envelope conjunct: pushable to parquet row-group stats (z-order
    // makes it contiguous); the exact per-row decision is the O(log r)
    // binary-search expression — an 80-term OR chain costs O(r) per row
    // and measured 4x the whole query at 10x scale
    val envelope = col("zval").between(ranges.head._1, ranges.last._2)
    s.read.parquet(zOrderedOrders(s, dir))
      .filter(envelope && graft.plans.SortedRangeContains(col("zval"), ranges))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("month")
  }

  /** The Hilbert-clustered orders layout, q37's twin with the curve
    * swapped: the column value is an exact LUT of [[hilbertLong]] over
    * the CLOSED 64×80 populated domain (5120 cells, computed on the
    * driver in microseconds — the ndcgDisc discipline: the state
    * machine never runs per row in the write projection), cut into 16
    * equal-cell ranges exactly as the z layout. element_at under ANSI
    * errors loudly if a regenerated dataset ever leaves the domain —
    * the morton-guard posture. */
  private def hilbertOrders(s: SparkSession, dir: String): String =
    graft.core.SessionMemo.memoize(s, "q84-hilbert:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val p = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q84_h_$tag").getAbsolutePath
      val lut: Array[Long] =
        Array.tabulate(64 * 80)(i => hilbertLong(i / 80, i % 80))
      val cells = lut.sorted
      val bounds = (1 until 16).map(i => cells(i * cells.length / 16))
      val hv = element_at(lit(lut),
        ((col("o_custkey") % 64) * 80 +
          (year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1
          + 1).cast("int"))
      val pid = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("hv") >= b, 1).otherwise(0) }
      Tables.orders(s, dir)
        .withColumn("hv", hv)
        .withColumn("pid", pid)
        .repartition(16, col("pid"))
        .sortWithinPartitions("pid", "hv")
        .write.mode("overwrite").partitionBy("pid").parquet(p)
      p
    }

  /** q84 — HILBERT-curve clustering, the locality upgrade over q37's
    * Z-order: the same two-dimensional (customer bucket × month)
    * layout problem, clustered by the order-7 Hilbert index instead of
    * Morton interleave. Every 4^k-aligned index run is a 2^k×2^k
    * square (here [512, 767] ⇔ the box [16..31]×[16..31]) exactly as
    * with Morton — but BETWEEN blocks the curve stays adjacent, so
    * unaligned probes decompose into ~2× fewer fragments (ZOrderSpec
    * measures mean curve step 1.01 vs 1.97 on this domain). The oracle
    * replays the xy2d state machine as a recursive CTE of depth 7 (the
    * bit count, not the data size — the m35 recursion discipline), so
    * a rotation/reflection bug in either engine is a hash mismatch.
    *
    * At 100 TB this is the OPTIMIZE ... CLUSTER BY choice between the
    * two curves: same ingest cost (one scan, closed-form cuts), same
    * probe API, measurably tighter file-stat windows. */
  def q84_hilbert_layout(s: SparkSession, dir: String): DataFrame = {
    s.read.parquet(hilbertOrders(s, dir))
      .filter(col("hv").between(512L, 767L))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("month")
  }

  /** q38 — salted join for hot keys, under the oracle: the fact side's
    * join key is collapsed to 8 values (every key hot — the power-law
    * limit where AQE's skew splitting and broadcast both stop helping if
    * the dim side is also large), and [[SkewJoin.saltedJoin]] spreads
    * each hot key over 16 reducers by joining on (key, salt) with the
    * dim replicated per salt. The salt never reaches the output, so the
    * aggregate is bit-identical to the plain join — which is exactly
    * what the DuckDB oracle states. The merge hint forces the
    * shuffled-join path the pattern exists for (the 8-row dim here
    * would otherwise broadcast); PlanSpec pins the salted exchange key.
    * At 100 TB: salts ≈ executors/hot-key-count, chosen from key
    * histograms at ingest. */
  def q38_salted_skew_join(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select((col("user_id") % 8).as("skew_key"), col("value"))
    val dim = ev.groupBy("skew_key").agg(count(lit(1)).as("k_total"))
    SkewJoin.saltedJoin(ev, dim.hint("merge"), "skew_key", salts = 16)
      .groupBy("skew_key")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("k_total")).as("dim_total"))
      .orderBy("skew_key")
  }

  /** q40 — sessionization through the FIRST-CLASS `session_window`
    * gap-merge API (q17 builds the same sessions from window-function
    * primitives; q27 runs them stateful-streaming). One partial+final
    * aggregate — the merge of overlapping [ts, ts+gap) intervals happens
    * inside the session-window operator, no per-row lag/running-sum
    * window pass — so unlike q17's sort-based window this shape keeps
    * map-side combine and scales out by user key alone. Timestamps are
    * truncated to micros on BOTH engines (ts is raw nanos; the oracle's
    * epoch_us does the same), and a new session opens at gap ≥ 30 min
    * exactly — `session_window`'s half-open-interval contract. */
  def q40_session_window(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("tsm",
        timestamp_micros(KeyAlgebra.ldiv(col("ts"), lit(1000L))))
    ev.groupBy(col("user_id"),
        session_window(col("tsm"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("sess_start_us"),
        unix_micros(col("sw.end")).as("sess_end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "sess_start_us")
  }

  /** q41 — small-file compaction, the unglamorous op every 100 TB lake
    * runs nightly: a streaming ingest leaves the fact table scattered
    * over tiny files (simulated here: 200 shards of sf lineitem); the
    * compactor sizes its output from the DATA and the CLUSTER
    * ([[graft.core.AutoScale.compactionTarget]]: ~128 MiB files with a
    * read-parallelism floor and a file-count cap past which file size
    * grows with volume) and rewrites them
    * range-clustered + sorted on (ship month, order key) so the
    * compacted table ALSO gains q37-style stats pruning on the sort
    * prefix. Correctness is bit-equality of content with the
    * pre-compaction table (the oracle aggregates the original);
    * PlanSpec asserts the file-count collapse. The op is one shuffle
    * (range exchange) + one write — at scale it runs per-partition
    * incrementally, compacting only partitions whose small-file count
    * crossed a threshold. */
  def q41_compact_small_files(s: SparkSession, dir: String): DataFrame = {
    val path = graft.core.SessionMemo.memoize(s, "q41-compact:" + dir) {
      // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val small = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q41_small_$tag").getAbsolutePath
      val compact = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q41_compact_$tag").getAbsolutePath
      Tables.lineitem(s, dir).repartition(200)
        .write.mode("overwrite").parquet(small)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      val totalBytes = fs.listStatus(new org.apache.hadoop.fs.Path(small))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      // volume- AND parallelism-derived (AutoScale.compactionTarget):
      // ~128 MiB files, but never fewer than the cluster can read
      // concurrently (unless files would drop under 4 MiB), and a
      // 65536-file cap past which file SIZE grows with volume instead
      val target = graft.core.AutoScale.compactionTarget(
        totalBytes, s.sparkContext.defaultParallelism)
      s.read.parquet(small)
        .repartitionByRange(target,
          date_format(col("l_shipdate"), "yyyy-MM"), col("l_orderkey"))
        .sortWithinPartitions(
          date_format(col("l_shipdate"), "yyyy-MM"), col("l_orderkey"))
        .write.mode("overwrite").parquet(compact)
      (small, compact)
    }
    s.read.parquet(path._2)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("ship_month")
  }

  /** q50 — merge-on-read with positional deletion vectors, the
    * lakehouse read path (Delta/Iceberg v2 style) that makes deletes
    * and upserts O(changed rows) instead of O(rewritten files): the
    * base table stays immutable; a deletion-vector table holds (file,
    * row position) of dead rows; a delta table holds upserted copies.
    * A reader merges all three: scan base, drop positions named by the
    * DV, drop keys superseded by the delta, union the delta.
    *
    * Spark-native: the row positions come from the parquet scan's
    * `_metadata.row_index` / `_metadata.file_path` columns — no
    * synthetic key column is written, exactly like a real DV — and
    * both the DV and the delta are broadcast anti-joins (at 100 TB DVs
    * are per-file bitmaps merged at scan time and the delta of one
    * ingest cycle is small; the base table is never rewritten). The
    * one-time base/DV/delta layout write is memoized per sweep like
    * q33/q41 and split into the bench's ingest figure. */
  def q50_merge_on_read(s: SparkSession, dir: String): DataFrame = {
    val (basePath, dvPath, deltaPath) =
      graft.core.SessionMemo.memoize(s, "q50-mor:" + dir) {
        // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
        def tmp(n: String) = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft_q50_${n}_$tag")
          .getAbsolutePath
        val (b, dv, dl) = (tmp("base"), tmp("dv"), tmp("delta"))
        Tables.lineitem(s, dir)
          .repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
          .write.mode("overwrite").parquet(b)
        // deletion vector: positions (not keys) of rows a delete
        // statement killed — resolved ONCE at delete time, so the read
        // path never re-evaluates the delete predicate
        s.read.parquet(b)
          .select(col("_metadata.file_path").as("del_file"),
            col("_metadata.row_index").as("del_pos"),
            col("l_orderkey"), col("l_linenumber"))
          .filter((col("l_orderkey") + col("l_linenumber")) % 13 === 5)
          .select("del_file", "del_pos")
          .coalesce(1).write.mode("overwrite").parquet(dv)
        // delta: upserted copies (quantity bumped) keyed by PK
        Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 17 === 2)
          .withColumn("l_quantity", col("l_quantity") + 1)
          .coalesce(1).write.mode("overwrite").parquet(dl)
        (b, dv, dl)
      }
    val base = s.read.parquet(basePath)
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    val dv = s.read.parquet(dvPath)
    val delta = s.read.parquet(deltaPath)
    val live = base
      .join(broadcast(dv), col("__file") === col("del_file") &&
        col("__pos") === col("del_pos"), "left_anti")
      .join(broadcast(delta.select(
        col("l_orderkey").as("dk"), col("l_linenumber").as("dl"))),
        col("l_orderkey") === col("dk") && col("l_linenumber") === col("dl"),
        "left_anti")
      .drop("__file", "__pos")
    live.unionByName(delta)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .orderBy("ship_month")
  }

  /** q59 — DV-density VACUUM, the maintenance op that completes the
    * q50 merge-on-read lifecycle (Delta OPTIMIZE / Iceberg
    * rewrite_data_files): deletion vectors make deletes O(changed
    * rows), but a file whose DV grows dense pays the anti-join on
    * every read for mostly-dead rows — so the vacuum REWRITES exactly
    * the files whose dead fraction crossed a threshold (≥ 25% here)
    * and drops their DV entries, while lightly-deleted files keep
    * riding their (cheap) DVs untouched.
    *
    * The delete workload is two-sided by construction: a key-range
    * delete (l_orderkey below max/4 — range-correlated with the file
    * layout, so the low files go dense) plus a uniform ~3% predicate
    * (every file keeps a sparse DV). The vacuum write sizes itself via
    * [[graft.core.AutoScale.compactionTarget]] like q41.
    *
    * Scale shape: per-file dead fractions are one groupBy over the
    * (file, pos) DV — bounded by file count, not rows; the rewrite
    * reads ONLY the hot files; the final read is (cold files ⟕anti
    * kept-DV) ∪ rewritten — at 100 TB the catalog swaps the file list
    * atomically, here the reader filters on `_metadata.file_path`.
    * Correctness is layout-independent: the merged table equals the
    * plain predicate delete, which the oracle replays; the file/DV
    * mechanics are pinned in VacuumSpec. */
  def q59_dv_vacuum(s: SparkSession, dir: String): DataFrame = {
    val (basePath, rewPath, dvKeptPath, hot) =
      graft.core.SessionMemo.memoize(s, "q59-vac:" + dir) {
        val tag = graft.core.SessionMemo.pathTag(s, dir)
        def tmp(n: String) = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft_q59_${n}_$tag")
          .getAbsolutePath
        val (b, dvP, reP, dvKeptP) =
          (tmp("base"), tmp("dv"), tmp("rewrite"), tmp("dvkept"))
        Tables.lineitem(s, dir)
          .repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
          .write.mode("overwrite").parquet(b)
        val maxK = Tables.lineitem(s, dir)
          .agg(max("l_orderkey")).collect()(0).getLong(0)
        val base = s.read.parquet(b)
          .withColumn("__file", col("_metadata.file_path"))
          .withColumn("__pos", col("_metadata.row_index"))
        base.filter(col("l_orderkey") < lit(maxK / 4) ||
            (col("l_orderkey") + col("l_linenumber")) % 29 === 3)
          .select(col("__file").as("del_file"), col("__pos").as("del_pos"))
          .coalesce(1).write.mode("overwrite").parquet(dvP)
        val dv = s.read.parquet(dvP)
        // per-file dead fraction: one count per FILE, never per row
        val hotFiles: Seq[String] = base.groupBy("__file")
          .agg(count(lit(1)).as("n"))
          .join(dv.groupBy(col("del_file").as("__file"))
            .agg(count(lit(1)).as("dead")), Seq("__file"), "left")
          .filter(coalesce(col("dead"), lit(0L)) * 4 >= col("n"))
          .select("__file").collect().map(_.getString(0)).toSeq
        // rewrite ONLY the hot files, live rows, q41-style sizing
        val hotLive = base.filter(col("__file").isin(hotFiles: _*))
          .join(broadcast(dv), col("__file") === col("del_file") &&
            col("__pos") === col("del_pos"), "left_anti")
          .drop("__file", "__pos")
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          s.sparkContext.hadoopConfiguration)
        val hotBytes = fs.listStatus(new org.apache.hadoop.fs.Path(b))
          .filter(st => hotFiles.contains("file://" + st.getPath.toUri.getPath))
          .map(_.getLen).sum
        hotLive.repartition(graft.core.AutoScale.compactionTarget(
            math.max(hotBytes, 1L), s.sparkContext.defaultParallelism))
          .write.mode("overwrite").parquet(reP)
        dv.filter(!col("del_file").isin(hotFiles: _*))
          .coalesce(1).write.mode("overwrite").parquet(dvKeptP)
        (b, reP, dvKeptP, hotFiles)
      }
    val cold = s.read.parquet(basePath)
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
      .filter(!col("__file").isin(hot: _*))
    val dvk = s.read.parquet(dvKeptPath)
    val live = cold
      .join(broadcast(dvk), col("__file") === col("del_file") &&
        col("__pos") === col("del_pos"), "left_anti")
      .drop("__file", "__pos")
      .unionByName(s.read.parquet(rewPath))
    live.groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .orderBy("ship_month")
  }

  /** Vacuum mechanics for VacuumSpec: (hot file count, cold file count,
    * kept-DV rows, pre-vacuum DV rows) of the memoized q59 store. */
  private[operators] def q59Mechanics(s: SparkSession, dir: String)
      : (Int, Int, Long, Long) = {
    q59_dv_vacuum(s, dir).count() // ensure the store is built
    val (basePath, _, dvKeptPath, hot) = graft.core.SessionMemo
      .peek[(String, String, String, Seq[String])](s, "q59-vac:" + dir)
      .getOrElse(throw new IllegalStateException("q59 store not memoized"))
    val nFiles = s.read.parquet(basePath)
      .select(col("_metadata.file_path")).distinct().count().toInt
    val tag = graft.core.SessionMemo.pathTag(s, dir)
    val dvAll = s.read.parquet(new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_q59_dv_$tag")
      .getAbsolutePath).count()
    (hot.size, nFiles - hot.size, s.read.parquet(dvKeptPath).count(), dvAll)
  }

  /** q51 — slowly-changing-dimension type-2 merge: fold a batch of
    * attribute changes into a versioned dimension without row-by-row
    * mutation. Baseline attribute = the priority of each customer's
    * latest pre-2000 order ('NONE' if none); the change batch = the
    * latest post-2000 order. A customer whose attribute changed emits a
    * CLOSED v1 row (valid_to = change date) plus an OPEN v2 row; an
    * unchanged customer emits its open v1 row untouched.
    *
    * Scale shape: each "latest order" table is one map-side-combined
    * max_by aggregate over orders keyed by customer (the latest-row
    * pick never sorts); the merge is ONE left join on the dimension key
    * followed by a per-row explode that emits 1 or 2 version rows — no
    * union of re-scanned branches, no window over the dimension, and at
    * 100 TB the change batch (active customers only) broadcasts while
    * the dimension streams. */
  def q51_scd2_merge(s: SparkSession, dir: String): DataFrame = {
    // total order for "latest": (date, orderkey) packed into one long —
    // epoch-day * 1e10 leaves orderkey headroom past any realistic SF
    def pick(alias: String) = expr(
      s"""max_by(named_struct('attr', o_orderpriority,
            'chg', date_format(o_orderdate, 'yyyy-MM-dd')),
          datediff(o_orderdate, DATE '1970-01-01') * 10000000000L + o_orderkey)
          AS $alias""")
    val before = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("2000-01-01"))
      .groupBy(col("o_custkey").as("custkey")).agg(pick("b"))
      .select(col("custkey"), col("b.attr").as("attr"))
    val batch = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .groupBy(col("o_custkey").as("custkey")).agg(pick("c"))
      .select(col("custkey"), col("c.attr").as("new_attr"),
        col("c.chg").as("chg_date"))
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey").as("custkey"))
      .join(before, Seq("custkey"), "left")
      .na.fill("NONE", Seq("attr"))
    val row = (v: Column, a: Column, f: Column, t: Column) =>
      struct(v.as("version"), a.as("attr"), f.as("vf"), t.as("vt"))
    val open = lit("9999-12-31")
    dim.join(batch, Seq("custkey"), "left")
      .select(col("custkey"), explode(
        when(col("new_attr").isNotNull && col("new_attr") =!= col("attr"),
          array(row(lit(1L), col("attr"), lit("1990-01-01"), col("chg_date")),
            row(lit(2L), col("new_attr"), col("chg_date"), open)))
        .otherwise(array(
          row(lit(1L), col("attr"), lit("1990-01-01"), open)))).as("v"))
      .select(col("custkey"), col("v.version").as("version"),
        col("v.attr").as("attr"), col("v.vf").as("valid_from"),
        col("v.vt").as("valid_to"))
      .orderBy("custkey", "version")
  }

  /** q52 — snapshot time travel over an add/remove commit log (the
    * Delta/Iceberg metadata pattern): three commits build the table —
    * v1 writes the pre-1998 segment, v2 appends 1998–1999, v3 appends
    * the rest AND rewrites the v1 file with status-'F' rows deleted
    * (remove + add in one commit, the compaction-with-delete shape).
    * Reading "as of v" replays the log to the active file set at v and
    * scans exactly those files — old data is never rewritten in place,
    * and any historical version stays readable.
    *
    * Scale shape: the log is the METADATA plane — a few rows per commit
    * replayed on the driver exactly as production table formats do; the
    * data plane stays a distributed parquet scan of the active files,
    * with partition pruning and pushdown intact because each version is
    * a plain parquet read. Output: per-status counts and totals at each
    * of the three versions from one unioned read. */
  /** q52/q66's shared snapshot store: 4 data files + a 5-row add/remove
    * commit log (memoized per sweep; see q52's doc). */
  private[operators] def q52Layout(
      s: SparkSession, dir: String): (String, Seq[String]) =
    graft.core.SessionMemo.memoize(s, "q52-tt:" + dir) {
      // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      def tmp(n: String) = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q52_${n}_$tag")
        .getAbsolutePath
      val o = Tables.orders(s, dir)
      val (fa, fb, fc, fd, lg) =
        (tmp("a"), tmp("b"), tmp("c"), tmp("d"), tmp("log"))
      o.filter(col("o_orderdate") < lit("1998-01-01"))
        .write.mode("overwrite").parquet(fa)
      o.filter(col("o_orderdate") >= lit("1998-01-01") &&
          col("o_orderdate") < lit("2000-01-01"))
        .write.mode("overwrite").parquet(fb)
      // v3 rewrite: fa minus deleted rows, re-read from fa (the rewrite
      // consumes the PREVIOUS snapshot, not the source table)
      s.read.parquet(fa).filter(col("o_orderstatus") =!= "F")
        .write.mode("overwrite").parquet(fc)
      o.filter(col("o_orderdate") >= lit("2000-01-01"))
        .write.mode("overwrite").parquet(fd)
      import s.implicits._
      Seq((1L, "add", fa), (2L, "add", fb),
        (3L, "remove", fa), (3L, "add", fc), (3L, "add", fd))
        .toDF("version", "action", "path")
        .coalesce(1).write.mode("overwrite").parquet(lg)
      (lg, Seq(fa, fb, fc, fd))
    }

  /** Commit-log replay on the driver (a handful of metadata rows per
    * commit): the file set active at snapshot `v`. */
  private def q52ActiveAt(log: Array[(Long, String, String)],
                          v: Long): Seq[String] = {
    val upTo = log.filter(_._1 <= v)
    upTo.collect { case (_, "add", p) => p }
      .filterNot(p => upTo.exists(e => e._2 == "remove" && e._3 == p))
      .toSeq
  }

  private def q52ReadLog(
      s: SparkSession, logPath: String): Array[(Long, String, String)] =
    s.read.parquet(logPath).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  /** Deterministic commit timestamp for q52's log: version v committed
    * at epoch 1e9 + v·86400 (one commit per "day"). A real log stores
    * these per commit; the closed form keeps the oracle static. */
  private[operators] def q52CommitTs(v: Long): Long =
    1000000000L + v * 86400L

  /** q85 — `TIMESTAMP AS OF` time travel, the second half of the
    * time-travel API next to q52's `VERSION AS OF`: a probe timestamp
    * resolves to the LATEST commit at-or-before it (the inclusive
    * boundary every lakehouse implements — probe == commit ts reads
    * that commit), then the read is q52's snapshot replay. Three
    * probes: mid-history (between commits 1 and 2 → v1), exactly AT
    * commit 2 (the boundary case → v2), and after the head (→ v3, the
    * current snapshot). A probe BEFORE the first commit fails loudly —
    * TimeTravelSpec pins both the rejection and the boundary rule.
    * Resolution is O(|commits|) driver-side metadata on the same
    * commit log q52/q61/q71/q81 share — at 100 TB it never touches a
    * data file until the resolved snapshot is read. */
  def q85_time_travel_asof(s: SparkSession, dir: String): DataFrame = {
    val (logPath, _) = q52Layout(s, dir)
    val log = q52ReadLog(s, logPath)
    val versions = log.map(_._1).distinct.sorted
    val probes = Seq(1000090000L, q52CommitTs(2), 1000999999L)
    probes.map { p =>
      val vs = versions.filter(v => q52CommitTs(v) <= p)
      require(vs.nonEmpty,
        s"AS OF $p predates the first commit ${q52CommitTs(versions.head)}")
      val v = vs.max
      s.read.parquet(q52ActiveAt(log, v): _*)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100)).cast("long"))
            .as("total_fp"))
        .withColumn("probe_ts", lit(p))
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("probe_ts", "version", "status", "n", "total_fp")
      .orderBy("probe_ts", "status")
  }

  /** q87 — COMMIT-LOG CHECKPOINTING (the Delta checkpoint shape):
    * q52/q81/q82/q85 replay the full log on every snapshot resolution —
    * O(|commits|) driver work that grows unboundedly in a long-lived
    * table. Here the store snapshots its ACTIVE FILE SET every 4
    * commits; resolving version v reads the latest checkpoint ≤ v (one
    * bounded parquet) plus the log SUFFIX (v_ckpt, v] — the range
    * filter pushes to the log scan, so a resolution never touches the
    * full history no matter how old the table. The 13-entry history
    * (12 appends + a v6 rewrite) exercises all the resolution classes:
    * pre-first-checkpoint (v3 — pure suffix replay from empty),
    * checkpoint + suffix (v7), checkpoint-exact (v12 — zero suffix),
    * and a `TIMESTAMP AS OF` probe (→ v9) riding the same
    * checkpointed resolution, the q85 rule re-bounded. Correctness is
    * layout-independent (the oracle restates each snapshot from the
    * source strata); CheckpointSpec pins the mechanics: suffix-only
    * reads, checkpoint choice, and equality with a full replay.
    *
    * At 100 TB: resolution cost = one checkpoint read + ≤ cadence log
    * entries, CONSTANT in table age — the property that makes
    * long-lived lakehouse tables resolvable at interactive latency. */
  def q87_log_checkpointing(s: SparkSession, dir: String): DataFrame = {
    val (logP, ckptP) = q87Layout(s, dir)
    val asofProbe = q52CommitTs(9) + 100
    val asofV = (1L to 12L).filter(q52CommitTs(_) <= asofProbe).max
    val snaps = Seq(("v03", 3L), ("v07", 7L), ("v12", 12L),
      ("asof", asofV))
    snaps.map { case (src, v) =>
      val (paths, _, _) = q87Resolve(s, logP, ckptP, v)
      s.read.parquet(paths: _*)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100)).cast("long"))
            .as("total_fp"))
        .withColumn("src", lit(src)).withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("src", "version", "status", "n", "total_fp")
      .orderBy("src", "version", "status")
  }

  /** Checkpointed snapshot resolution: latest checkpoint ≤ v, then the
    * log suffix (ckpt, v] only (version range pushed to the log scan).
    * Returns (active paths, checkpoint used, suffix entries replayed)
    * so CheckpointSpec can pin that no full-log read occurs. */
  private[operators] def q87Resolve(s: SparkSession, logPath: String,
      ckptDir: String, v: Long): (Seq[String], Option[Long], Long) = {
    val ckpt = Option(new java.io.File(ckptDir).listFiles()).toSeq.flatten
      .flatMap(f => "ckpt_v(\\d+)".r.findFirstMatchIn(f.getName)
        .map(_.group(1).toLong))
      .filter(_ <= v).sorted.lastOption
    val basePaths: Set[String] = ckpt match {
      case Some(cv) => s.read.parquet(s"$ckptDir/ckpt_v$cv")
        .collect().map(_.getString(0)).toSet
      case None => Set.empty
    }
    val from = ckpt.getOrElse(0L)
    val suffix = s.read.parquet(logPath)
      .filter(col("version") > from && col("version") <= v)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val active = suffix.foldLeft(basePaths) {
      case (acc, (_, "add", p)) => acc + p
      case (acc, (_, "remove", p)) => acc - p
      case (acc, (_, a, _)) =>
        throw new IllegalArgumentException(s"unknown log action $a")
    }
    (active.toSeq.sorted, ckpt, suffix.length.toLong)
  }

  /** 12-commit store with a v6 rewrite, checkpointed every 4 commits:
    * commit v adds the `o_custkey % 12 = v-1` stratum; v6 additionally
    * rewrites the v3 file dropping its 'F' rows. Each checkpoint is
    * the active path set at its version (memoized per sweep, ingest-
    * attributed). */
  private[operators] def q87Layout(
      s: SparkSession, dir: String): (String, String) =
    graft.core.SessionMemo.memoize(s, "q87-ckpt:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      def tmp(n: String) = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q87_${n}_$tag")
        .getAbsolutePath
      val o = Tables.orders(s, dir)
      val fs = (1 to 12).map(v => tmp(f"f$v%02d"))
      (1 to 12).foreach { v =>
        o.filter(col("o_custkey") % 12 === (v - 1))
          .write.mode("overwrite").parquet(fs(v - 1))
      }
      val f3r = tmp("f03r")
      // the rewrite consumes the PREVIOUS snapshot's file, not the source
      s.read.parquet(fs(2)).filter(col("o_orderstatus") =!= "F")
        .write.mode("overwrite").parquet(f3r)
      val entries = (1 to 12).flatMap { v =>
        Seq((v.toLong, "add", fs(v - 1))) ++
          (if (v == 6) Seq((6L, "remove", fs(2)), (6L, "add", f3r)) else Nil)
      }
      import s.implicits._
      val logP = tmp("log")
      entries.toDF("version", "action", "path")
        .coalesce(1).write.mode("overwrite").parquet(logP)
      val ckptP = tmp("ckpt")
      Seq(4L, 8L, 12L).foreach { cv =>
        // full replay is fine AT CHECKPOINT TIME (it rides the previous
        // checkpoint in production; here the log is 13 entries)
        val upTo = entries.filter(_._1 <= cv)
        val active = upTo.foldLeft(Set.empty[String]) {
          case (acc, (_, "add", p)) => acc + p
          case (acc, (_, _, p)) => acc - p
        }
        active.toSeq.sorted.toDF("path")
          .coalesce(1).write.mode("overwrite").parquet(s"$ckptP/ckpt_v$cv")
      }
      (logP, ckptP)
    }

  def q52_time_travel(s: SparkSession, dir: String): DataFrame = {
    val (logPath, files) = q52Layout(s, dir)
    require(files.size == 4)
    val log = q52ReadLog(s, logPath)
    def activeAt(v: Long): Seq[String] = q52ActiveAt(log, v)
    (1L to 3L).map { v =>
      s.read.parquet(activeAt(v): _*)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100)).cast("long")).as("total_fp"))
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("version", "status", "n", "total_fp")
      .orderBy("version", "status")
  }

  /** q71 — snapshot RESTORE (the Delta `RESTORE TABLE ... TO VERSION`
    * shape): roll the table back to version 2 as a NEW commit v4 whose
    * log entries remove every currently-active file absent from v2 and
    * re-add every v2 file no longer active. No data file is read or
    * written — RESTORE is O(|files|) driver-side METADATA, which is the
    * whole point at 100 TB (rolling back a bad load on a petabyte table
    * costs the same as on a megabyte one). History is preserved, not
    * erased: the audit reads versions 1..4 and must see v3 (the bad
    * state) intact and v4 byte-equal to v2 — an implementation that
    * rewrote data or truncated the log would fail one of the two.
    * Builds on q52's commit-log store. */
  def q71_restore_snapshot(s: SparkSession, dir: String): DataFrame = {
    val (logPath, _) = q52Layout(s, dir)
    val log = q52ReadLog(s, logPath)
    val head = log.map(_._1).max
    val curr = q52ActiveAt(log, head).toSet
    val target = q52ActiveAt(log, 2L).toSet
    val v = head + 1
    val restore =
      (curr -- target).toSeq.sorted.map((v, "remove", _)) ++
        (target -- curr).toSeq.sorted.map((v, "add", _))
    require(restore.nonEmpty, "RESTORE to the head would be a no-op")
    val withRestore = log ++ restore
    // last-action-wins replay (the production log semantics): a RESTORE
    // re-adds previously-removed files, so the set-based q52ActiveAt
    // (remove-is-permanent, fine for q52's forward-only history) would
    // silently drop them — exactly the corruption this op guards against
    def activeAt(v0: Long): Seq[String] =
      withRestore.filter(_._1 <= v0).groupBy(_._3).collect {
        case (p, es) if es.maxBy(_._1)._2 == "add" => p
      }.toSeq.sorted
    (1L to v).map { ver =>
      s.read.parquet(activeAt(ver): _*)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100)).cast("long"))
            .as("total_fp"))
        .withColumn("version", lit(ver))
    }.reduce(_ unionByName _)
      .select("version", "status", "n", "total_fp")
      .orderBy("version", "status")
  }

  /** q66 — snapshot changelog read (CDF): the row-level insert/delete
    * feed between two snapshots of q52's commit-log table — the
    * Iceberg/Delta "change data feed" a downstream incremental consumer
    * reads instead of re-scanning the table. The diff is computed from
    * the CHANGED FILES ONLY: the log replay (driver-side metadata)
    * yields removed = active(v2)∖active(v3) and added = active(v3)∖
    * active(v2); unchanged files (fb here) are never opened. Rows in a
    * removed file whose key survives into an added file are rewrite
    * carry-over, not changes — the two anti joins cancel them exactly.
    *
    * Scale shape: cost ∝ |changed files|, not table size — the whole
    * point of a changelog read at 100 TB; the two anti joins share one
    * hash partitioning on the PK and AQE broadcasts whichever changed
    * side is small. The oracle replays the semantics from the source
    * table (deletes = the v3 rewrite's dropped rows, inserts = the v3
    * load), layout-independent. */
  def q66_changelog_diff(s: SparkSession, dir: String): DataFrame = {
    val (logPath, _) = q52Layout(s, dir)
    val log = q52ReadLog(s, logPath)
    val (from, to) =
      (q52ActiveAt(log, 2L).toSet, q52ActiveAt(log, 3L).toSet)
    val removed = (from -- to).toSeq.sorted
    val added = (to -- from).toSeq.sorted
    require(removed.nonEmpty && added.nonEmpty)
    val remRows = s.read.parquet(removed: _*)
    val addRows = s.read.parquet(added: _*)
    val dels = remRows
      .join(addRows.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .select(lit("delete").as("change_type"),
        col("o_orderstatus").as("status"), col("o_orderkey"))
    val ins = addRows
      .join(remRows.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .select(lit("insert").as("change_type"),
        col("o_orderstatus").as("status"), col("o_orderkey"))
    dels.unionByName(ins)
      .groupBy("change_type", "status")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      .orderBy("change_type", "status")
  }

  /** q61 — write-audit-publish (WAP), the lakehouse ingestion contract
    * (Iceberg's stage-commit / audit-branch workflow): a writer stages
    * a snapshot's files OUTSIDE the readable table, AUDIT queries run
    * against the staged files (non-empty, no duplicate records), and
    * only a passing snapshot gets a commit-log row — readers resolve
    * the file set from the log and can never observe a bad batch.
    * Staged here: the base load, a good delta, and a deliberately
    * DUPLICATED delta whose PK audit fails and which therefore never
    * publishes.
    *
    * Scale shape: audits are ordinary distributed aggregates over the
    * staged files (count + distinct-record count — one shuffle each); the
    * log is metadata rows; the published view is a plain multi-path
    * scan. Correctness is layout-independent (counts by key-range
    * predicate), which the oracle replays; on a real catalog the log
    * append is the atomic commit. */
  def q61_wap_publish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (logPath, audits) =
      graft.core.SessionMemo.memoize(s, "q61-wap:" + dir) {
        val tag = graft.core.SessionMemo.pathTag(s, dir)
        def tmp(n: String) = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft_q61_${n}_$tag")
          .getAbsolutePath
        val li = Tables.lineitem(s, dir)
        val (p0, p1, p2, lg) = (tmp("s0"), tmp("s1"), tmp("s2"), tmp("log"))
        li.filter(col("l_orderkey") % 3 === 0)
          .write.mode("overwrite").parquet(p0)
        li.filter(col("l_orderkey") % 3 === 1)
          .write.mode("overwrite").parquet(p1)
        val bad = li.filter(col("l_orderkey") % 3 === 2)
        bad.unionByName(bad).write.mode("overwrite").parquet(p2) // dup rows
        // audit = distributed aggregates over the STAGED files (read
        // back from staging, not from the source table); the duplicate
        // audit is whole-record (the synthetic lineitem has no
        // single-column PK, but full rows are unique)
        val results = Seq("snap0" -> p0, "snap1" -> p1, "snap2" -> p2)
          .map { case (nm, p) =>
            val t = s.read.parquet(p)
            val n = t.count()
            val nDistinct = t.distinct().count()
            (nm, p, n, n - nDistinct, n > 0 && n == nDistinct)
          }
        // the atomic publish: ONLY passing snapshots reach the log
        results.filter(_._5).map(t => (t._1, t._2)).toDF("snap", "path")
          .coalesce(1).write.mode("overwrite").parquet(lg)
        (lg, results)
      }
    val published = s.read.parquet(logPath).select("path")
      .collect().map(_.getString(0)).sorted
    val viewN = s.read.parquet(published: _*).count()
    (audits.map { case (nm, _, n, dups, ok) => (nm, n, dups, ok, ok) } :+
      (("view", viewN, 0L, true, true)))
      .toDF("name", "n_rows", "n_dup_keys", "audit_ok", "published")
      .orderBy("name")
  }

  /** q62 — EQUALITY-delete merge-on-read, the Iceberg-v2 sibling of
    * q50's positional DVs: a delete file names key VALUES (any column
    * subset, not just the PK) plus a sequence number, and applies to
    * exactly the data rows whose file carries a STRICTLY SMALLER
    * sequence — so streaming upserts never resolve positions at write
    * time (the whole point: an equality delete is written blind, no
    * read of the base table), and a key re-inserted by a later batch
    * survives the older delete that killed its previous version.
    *
    * The layout exercises both delete shapes: gen0 (seq 1) is the base;
    * an upsert batch deletes PK keys at seq 2 and re-inserts bumped
    * copies at seq 3; a later NON-PK delete (by l_suppkey equality,
    * seq 4) kills matching rows in BOTH generations. The reader unions
    * the data generations and applies each delete file as a broadcast
    * anti-join on (key columns, data.seq < delete.seq).
    *
    * Scale shape: data files are never read at delete time and never
    * rewritten; the read path adds two broadcast anti-joins to the scan
    * (one ingest cycle's deletes are small). When accumulated equality
    * deletes grow past broadcast size, maintenance converts them to
    * positional DVs (q50) and density-vacuums (q59) — this trio is the
    * full lakehouse delete lifecycle. Layout write is memoized per
    * sweep like q50 and lands in the bench's ingest figure. */
  def q62_equality_deletes(s: SparkSession, dir: String): DataFrame = {
    val (gen0P, gen1P, delPkP, delSuppP) =
      graft.core.SessionMemo.memoize(s, "q62-eqdel:" + dir) {
        val tag = graft.core.SessionMemo.pathTag(s, dir)
        def tmp(n: String) = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft_q62_${n}_$tag")
          .getAbsolutePath
        val (g0, g1, dpk, dsp) =
          (tmp("gen0"), tmp("gen1"), tmp("delpk"), tmp("delsupp"))
        Tables.lineitem(s, dir).withColumn("seq", lit(1L))
          .write.mode("overwrite").parquet(g0)
        // upsert batch: blind equality delete of the PKs at seq 2 ...
        Tables.lineitem(s, dir).filter(col("l_orderkey") % 19 === 3)
          .select(col("l_orderkey").as("dk"), col("l_linenumber").as("dl"),
            lit(2L).as("dseq"))
          .coalesce(1).write.mode("overwrite").parquet(dpk)
        // ... and the re-inserted bumped copies at seq 3
        Tables.lineitem(s, dir).filter(col("l_orderkey") % 19 === 3)
          .withColumn("l_quantity", col("l_quantity") + 5)
          .withColumn("seq", lit(3L))
          .coalesce(1).write.mode("overwrite").parquet(g1)
        // later non-PK delete: all rows of the matching suppliers, by
        // column equality — applies to gen0 AND the seq-3 re-inserts
        Tables.lineitem(s, dir).filter(col("l_suppkey") % 23 === 7)
          .select(col("l_suppkey").as("ds")).distinct()
          .withColumn("dseq", lit(4L))
          .coalesce(1).write.mode("overwrite").parquet(dsp)
        (g0, g1, dpk, dsp)
      }
    val data = s.read.parquet(gen0P).unionByName(s.read.parquet(gen1P))
    val delPk = s.read.parquet(delPkP)
    val delSupp = s.read.parquet(delSuppP)
    data
      .join(broadcast(delPk),
        data("l_orderkey") === delPk("dk") &&
          data("l_linenumber") === delPk("dl") &&
          data("seq") < delPk("dseq"), "left_anti")
      .join(broadcast(delSupp),
        col("l_suppkey") === delSupp("ds") &&
          col("seq") < delSupp("dseq"), "left_anti")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .orderBy("ship_month")
  }

  /** q63 — incremental BATCH materialized-view maintenance (q39's
    * streaming foreachBatch merge, as the nightly-batch shape): a
    * stored aggregate over the closed past (ship months before
    * 2000-01-01) is NEVER rescanned; the view refresh aggregates only
    * the delta partition and merges it into the stored state by
    * re-aggregating the union of PARTIAL states (counts and sums are
    * mergeable; avg derives at read time — the algebraic/distributive
    * split every incremental-MV engine rests on).
    *
    * Scale shape: refresh cost is O(delta + |groups|), not O(base
    * facts) — the stored agg is group-cardinality-sized (here months ×
    * flags), so at 100 TB the nightly refresh reads one day of facts
    * plus a tiny state table. The merge groupBy is map-combined on the
    * same key as the stored layout. Layout write is memoized per sweep
    * like q50/q62 and lands in the bench's ingest figure. */
  def q63_incremental_mv(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "2000-01-01"
    val (aggP, deltaP) = graft.core.SessionMemo.memoize(s, "q63-imv:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      def tmp(n: String) = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q63_${n}_$tag")
        .getAbsolutePath
      val (ap, dp) = (tmp("agg"), tmp("delta"))
      Tables.lineitem(s, dir).filter(col("l_shipdate") < lit(cutoff))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
          col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"))
        .coalesce(1).write.mode("overwrite").parquet(ap)
      Tables.lineitem(s, dir).filter(col("l_shipdate") >= lit(cutoff))
        .write.mode("overwrite").parquet(dp)
      (ap, dp)
    }
    val deltaAgg = s.read.parquet(deltaP)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"))
    s.read.parquet(aggP).unionByName(deltaAgg)
      .groupBy("ship_month", "l_returnflag")
      .agg(sum("n_items").as("n_items"),
        sum("sum_qty").cast("double").as("sum_qty"),
        sum("sum_price").cast("double").as("sum_price"))
      .withColumn("avg_qty",
        col("sum_qty") / col("n_items").cast("double"))
      .orderBy("ship_month", "l_returnflag")
  }

  /** q65 — manifest/zone-map file skipping, the lakehouse READ-side
    * twin of q41's write-side clustering (Iceberg manifest filtering /
    * Delta data skipping): at write time each data file records the
    * min/max of its cluster key into a manifest table; at read time a
    * range predicate prunes the MANIFEST first — O(files), driver-side,
    * kilobytes — and plans the scan over only the files whose
    * [min,max] zone intersects the predicate, with the predicate kept
    * as a residual filter on the surviving rows (zone maps prune files,
    * they don't answer queries).
    *
    * Spark-native: the manifest is built in one metadata-column pass
    * (`_metadata.file_path` groupBy, like q50's DVs — no row keys
    * written); the pruned file list is a driver-side filter of the tiny
    * manifest, exactly what an Iceberg planner does with manifest
    * entries (bounded by file count, never row count); the surviving
    * paths go straight to `spark.read.parquet(paths*)`. The query band
    * [max/4, max/2] is derived from the manifest itself, so the oracle
    * can restate it from the raw table. Correctness is
    * layout-independent (plain BETWEEN replay); the skip mechanics —
    * strictly fewer files opened than written — are pinned in
    * ManifestSkipSpec. At 100 TB this is the difference between
    * opening 10⁶ footers and opening the ~10³ that can match. */
  def q65_manifest_skipping(s: SparkSession, dir: String): DataFrame = {
    val (dataP, manP) = q65Layout(s, dir)
    val man = s.read.parquet(manP)
    // band derived from the manifest (a files-count-sized table), not
    // from a scan of the data
    val mx = man.agg(max("max_ok")).head.getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    val keep = q65Survivors(man, lo, hi)
    s.read.parquet(keep: _*)
      .filter(col("l_orderkey").between(lo, hi)) // residual predicate
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Manifest prune: files whose [min,max] zone intersects [lo, hi].
    * Driver-side by design — the manifest IS the catalog's metadata
    * (one row per file); collecting it is what every table-format
    * planner does before handing Spark a file list. */
  private[operators] def q65Survivors(
      man: DataFrame, lo: Long, hi: Long): Seq[String] =
    man.filter(col("max_ok") >= lo && col("min_ok") <= hi)
      .select("file_path").collect().map(_.getString(0)).toSeq.sorted

  /** One-time clustered layout + manifest build (memoized per sweep,
    * split into the bench ingest figure like q41/q50). */
  private[operators] def q65Layout(
      s: SparkSession, dir: String): (String, String) =
    graft.core.SessionMemo.memoize(s, "q65-manifest:" + dir) {
      // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      def tmp(n: String) = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q65_${n}_$tag")
        .getAbsolutePath
      val (dp, mp) = (tmp("data"), tmp("manifest"))
      Tables.lineitem(s, dir)
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(dp)
      // zone maps in one metadata pass: per-file key min/max + rows
      s.read.parquet(dp)
        .groupBy(col("_metadata.file_path").as("file_path"))
        .agg(min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
          count(lit(1)).as("n_rows"))
        .coalesce(1).write.mode("overwrite").parquet(mp)
      (dp, mp)
    }

  /** q86 — TWO-LEVEL manifest planning (the Iceberg manifest-list →
    * manifest-shard shape): q65 collects the whole entry manifest
    * driver-side — right at 16 files, wrong at 100 TB where a manifest
    * is millions of rows and PRUNING ITSELF must be distributed. Here
    * the entry manifest is sharded by key order (a parquet partition
    * per shard) under a one-row-per-shard manifest LIST carrying
    * shard-level zones. Planning walks the levels: the driver prunes
    * the LIST (O(shards), kilobytes — what an Iceberg planner reads
    * first), the surviving shard partitions are partition-pruned and
    * their entries zone-filtered IN EXECUTORS, and only the final
    * bounded survivor file list is collected. Correctness is
    * layout-independent (plain BETWEEN replay on a [max/8, max/4]
    * band); the two-level mechanics — list prune skips shards, entry
    * rows never fully collect, two-level ≡ one-level survivors — are
    * pinned in ManifestSkipSpec. */
  def q86_manifest_two_level(s: SparkSession, dir: String): DataFrame = {
    val (shardsP, listP) = q86Layout(s, dir)
    // band derived from the LIST (a shards-count-sized table)
    val mx = s.read.parquet(listP).agg(max("max_ok")).head.getLong(0)
    val (lo, hi) = (mx / 8, mx / 4)
    val (_, keep) = q86Plan(s, shardsP, listP, lo, hi)
    s.read.parquet(keep: _*)
      .filter(col("l_orderkey").between(lo, hi)) // residual predicate
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Two-level prune: the driver touches only the manifest LIST; the
    * surviving shard partitions are pruned and their entries
    * zone-filtered in executors; the collect returns the bounded
    * survivor file list, never the full manifest. */
  private[operators] def q86Plan(s: SparkSession, shardsP: String,
      listP: String, lo: Long, hi: Long): (Seq[Int], Seq[String]) = {
    val shards = s.read.parquet(listP)
      .filter(col("max_ok") >= lo && col("min_ok") <= hi)
      .select("shard").collect().map(_.getInt(0)).toSeq.sorted
    val files = s.read.parquet(shardsP)
      .filter(col("shard").isin(shards: _*)) // partition-pruned shard scan
      .filter(col("max_ok") >= lo && col("min_ok") <= hi) // executor-side
      .select("file_path").collect().map(_.getString(0)).toSeq.sorted
    (shards, files)
  }

  /** Shard q65's entry manifest 4-entries-per-shard in key order and
    * build the one-row-per-shard manifest list (memoized per sweep,
    * ingest-attributed like q65Layout, whose data + manifest it
    * shares). */
  private[operators] def q86Layout(
      s: SparkSession, dir: String): (String, String) =
    graft.core.SessionMemo.memoize(s, "q86-manifest2:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      def tmp(n: String) = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q86_${n}_$tag")
        .getAbsolutePath
      val (_, mp) = q65Layout(s, dir)
      val (shardsP, listP) = (tmp("shards"), tmp("list"))
      import org.apache.spark.sql.expressions.Window
      s.read.parquet(mp)
        .withColumn("rn", row_number().over(Window.orderBy(col("min_ok"))))
        .withColumn("shard", ((col("rn") - 1) / lit(4)).cast("int"))
        .drop("rn")
        .write.partitionBy("shard").mode("overwrite").parquet(shardsP)
      s.read.parquet(shardsP).groupBy("shard")
        .agg(min("min_ok").as("min_ok"), max("max_ok").as("max_ok"),
          count(lit(1)).as("n_files"))
        .coalesce(1).write.mode("overwrite").parquet(listP)
      (shardsP, listP)
    }

  /** q69 — OPTIMISTIC concurrency control with conflict detection and
    * commit retry (the Iceberg/Delta multi-writer protocol the
    * single-writer q52/q61 family left open): three writers race from
    * the same base snapshot — an APPENDER (new file, removes nothing),
    * and two REWRITERS that both rewrite the same base file. Commit
    * validation is the standard file-level rule: a commit is clean iff
    * every file it removes is still active at the current head; an
    * append therefore NEVER conflicts (rebases trivially onto any
    * head), the first rewriter rebases past the append and commits, and
    * the second rewriter's attempt FAILS validation (its target file
    * was replaced), re-executes against the new head's replacement
    * file, and commits on retry. The output audits every attempt
    * (writer, base/committed version, outcome) with the table state
    * after it — the conflict row shows the state unchanged.
    *
    * Scale shape: validation is pure metadata (a driver-side replay of
    * a few log rows, exactly how production table formats do OCC —
    * retries re-run VALIDATION cheaply, and only a real conflict pays a
    * data-plane re-execute); every data operation is a distributed
    * parquet scan/write of the affected files only. The oracle replays
    * the end state of each version from the source table,
    * layout-independent, so a validation bug (lost update, phantom
    * rewrite) shifts row counts and fails the hash. */
  def q69_occ_conflict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = graft.core.SessionMemo.pathTag(s, dir)
    def tmp(n: String) = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_q69_${n}_$tag")
      .getAbsolutePath
    val o = Tables.orders(s, dir)
    val (fEarly, fLate, fApp, fRw1, fRw2) =
      (tmp("early"), tmp("late"), tmp("app"), tmp("rw1"), tmp("rw2"))
    o.filter(col("o_orderdate") < lit("1998-01-01"))
      .write.mode("overwrite").parquet(fEarly)
    o.filter(col("o_orderdate") >= lit("1998-01-01") &&
        col("o_orderdate") < lit("2000-01-01"))
      .write.mode("overwrite").parquet(fLate)
    // the commit log: (version, action, path); base snapshot v1
    var log = Vector((1L, "add", fEarly), (1L, "add", fLate))
    def activeAt(v: Long): Set[String] = {
      val upTo = log.filter(_._1 <= v)
      upTo.collect { case (_, "add", p) => p }
        .filterNot(p => upTo.exists(e => e._2 == "remove" && e._3 == p))
        .toSet
    }
    def head: Long = log.map(_._1).max
    /** OCC validation + publish: clean iff every removed file is still
      * active at the current head (so append-only commits always pass
      * regardless of how far the head moved past their base). */
    def tryCommit(removes: Seq[String], adds: Seq[String]): Option[Long] = {
      val act = activeAt(head)
      if (!removes.forall(act.contains)) None
      else {
        val v = head + 1
        log = log ++ removes.map((v, "remove", _)) ++ adds.map((v, "add", _))
        Some(v)
      }
    }
    def stateAt(v: Long): (Long, Long) = {
      val r = s.read.parquet(activeAt(v).toSeq.sorted: _*)
        .agg(count(lit(1)),
          sum(floor(col("o_totalprice") * lit(100)).cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // all three writers PREPARE against base v1 (data-plane work may
    // interleave arbitrarily; only commit order below is serial)
    o.filter(col("o_orderdate") >= lit("2000-01-01"))
      .write.mode("overwrite").parquet(fApp)
    s.read.parquet(fEarly).filter(col("o_orderstatus") =!= "F")
      .write.mode("overwrite").parquet(fRw1)
    val audit = scala.collection.mutable.Buffer.empty[
      (Long, String, Long, String, Long)]
    var attempt = 1L
    // 1) appender commits first -> v2
    val v2 = tryCommit(Nil, Seq(fApp)).get
    audit += ((attempt, "appender", 1L, "committed", v2)); attempt += 1
    // 2) rewriter-1: fEarly still active at v2 -> rebase past the
    //    append, commit -> v3
    val v3 = tryCommit(Seq(fEarly), Seq(fRw1)).get
    audit += ((attempt, "rewriter1", 1L, "committed", v3)); attempt += 1
    // 3) rewriter-2 prepared against v1 too: its removed file is gone
    //    at v3 -> CONFLICT (no log change; state column shows the
    //    unchanged head)
    require(tryCommit(Seq(fEarly), Seq(tmp("never"))).isEmpty,
      "OCC validation must reject a rewrite of a replaced file")
    audit += ((attempt, "rewriter2", 1L, "conflict", v3)); attempt += 1
    // 4) rewriter-2 re-executes against v3's replacement file and
    //    commits on retry -> v4
    s.read.parquet(fRw1).filter(col("o_totalprice") >= 50000)
      .write.mode("overwrite").parquet(fRw2)
    val v4 = tryCommit(Seq(fRw1), Seq(fRw2)).get
    audit += ((attempt, "rewriter2", v3, "committed", v4))
    audit.toSeq.map { case (at, w, base, outcome, vState) =>
      val (n, tot) = stateAt(vState)
      (at, w, base, outcome, vState, n, tot)
    }.toDF("attempt", "writer", "base_version", "outcome", "version",
      "n_rows", "total_fp")
      .orderBy("attempt")
  }

  /** q70 — ATOMIC multi-table transaction (the Nessie / Iceberg
    * multi-table-commit shape): two derived tables that must stay
    * mutually consistent — A = per-priority order totals, B = the
    * one-row grand total — publish together or not at all. The catalog
    * is a single versioned pointer map (version → snapshot per table):
    * one catalog entry swap publishes every table in the transaction,
    * so no reader can ever observe A at the new cut next to B at the
    * old one.
    *
    * The audited run: v1 holds both tables at cut 1997; a multi-table
    * txn T prepares both tables at cut 1999 against v1; a concurrent
    * compactor rewrites A's files (content-identical) and commits v2;
    * T's publish validation sees A's base snapshot replaced → the WHOLE
    * txn conflicts (nothing partial lands), then rebases — its writes
    * derive from the source table, not from A, so re-validation against
    * v2 suffices without recomputing data files — and commits v3. The
    * output audits every catalog version for the cross-table invariant
    * Σ A.total = B.total; the oracle replays each version's expected
    * state from `orders` alone, so a torn publish (A advanced, B not)
    * or a lost compaction both hash-fail.
    *
    * Scale posture: data-plane derivations are ordinary distributed
    * writes; catalog validation and publish are O(tables-in-txn)
    * driver-side metadata ops on a log that is millions of times
    * smaller than the data — exactly the production catalog shape.
    * Reference: the lakehouse-family extension of q69's single-table
    * OCC (same commit-log store, catalog lifted to a pointer PAIR). */
  def q70_multi_table_txn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = graft.core.SessionMemo.pathTag(s, dir)
    def tmp(n: String) = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_q70_${n}_$tag")
      .getAbsolutePath
    val o = Tables.orders(s, dir)
    val fp = floor(col("o_totalprice") * lit(100)).cast("long")
    def deriveA(cut: String, path: String): Unit =
      o.filter(col("o_orderdate") < lit(cut)).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(fp).as("t"))
        .write.mode("overwrite").parquet(path)
    def deriveB(cut: String, path: String): Unit =
      o.filter(col("o_orderdate") < lit(cut))
        .agg(count(lit(1)).as("n"), sum(fp).as("t"))
        .write.mode("overwrite").parquet(path)
    val (a1, b1, a2, b2, a1c) =
      (tmp("a1"), tmp("b1"), tmp("a2"), tmp("b2"), tmp("a1c"))
    deriveA("1997-01-01", a1); deriveB("1997-01-01", b1)
    // catalog: one entry per version carrying BOTH table pointers —
    // the atomic unit is the entry, never a per-table pointer
    var catalog = Vector((1L, "base", a1, b1))
    def head = catalog.last
    def tryCommit(event: String, base: (String, String),
        snapA: Option[String], snapB: Option[String]): Option[Long] = {
      val (_, _, curA, curB) = head
      val touchesA = snapA.isDefined
      val touchesB = snapB.isDefined
      if ((touchesA && base._1 != curA) || (touchesB && base._2 != curB))
        None
      else {
        val v = head._1 + 1
        catalog = catalog :+ ((v, event, snapA.getOrElse(curA),
          snapB.getOrElse(curB)))
        Some(v)
      }
    }
    // multi-table txn T prepares BOTH tables at the 1999 cut, base v1
    val txnBase = (head._3, head._4)
    deriveA("1999-01-01", a2); deriveB("1999-01-01", b2)
    // concurrent compactor: content-identical rewrite of A, commits v2
    s.read.parquet(a1).coalesce(1).write.mode("overwrite").parquet(a1c)
    require(tryCommit("compact_a", (a1, b1), Some(a1c), None).isDefined,
      "compactor commit must succeed against its own base")
    // T publish #1: A's base snapshot was replaced -> the WHOLE txn
    // conflicts; neither table pointer moves
    require(tryCommit("txn_commit", txnBase, Some(a2), Some(b2)).isEmpty,
      "multi-table OCC must reject when any touched table's base moved")
    // T rebases (writes derive from `orders`, not from A) and commits v3
    require(
      tryCommit("txn_commit", (head._3, head._4), Some(a2), Some(b2))
        .isDefined, "rebased multi-table commit must succeed")
    catalog.map { case (v, event, pa, pb) =>
      val ra = s.read.parquet(pa)
        .agg(count(lit(1)), coalesce(sum(col("t")), lit(0L))).head()
      val rb = s.read.parquet(pb)
        .select(col("n"), coalesce(col("t"), lit(0L))).head()
      (v, event, ra.getLong(0), ra.getLong(1), rb.getLong(0), rb.getLong(1),
        if (ra.getLong(1) == rb.getLong(1)) 1L else 0L)
    }.toDF("version", "event", "n_a_rows", "sum_a_fp", "n_orders",
      "sum_b_fp", "consistent")
      .orderBy("version")
  }


  /** q68 — copy-on-write MERGE with manifest-pruned rewrite scope (the
    * Delta/Iceberg COW `MERGE INTO` shape): a delta carries UPDATEs for
    * a narrow key band (quantity + 10) and INSERTs (the band's rows
    * shifted past the key domain); q65's zone-map manifest identifies
    * the ONLY files whose key range can contain a matched row, exactly
    * those are rewritten (non-matched residents carried inside them
    * verbatim), every other file is referenced UNCHANGED in the new
    * snapshot, and the inserts land as a fresh appended file.
    *
    * Scale shape: rewrite cost ∝ files-that-can-match (zone-pruned,
    * O(files) driver-side manifest filter), never table size — the COW
    * complement of q50's merge-on-read DVs (which defer the rewrite)
    * and q66's changelog (which reads the file-level diff this merge
    * produces). The update application is one scan of the candidate
    * files with a range predicate — no join at all, since the delta is
    * keyed by the band. MergeCowSpec pins the file mechanics (strict
    * rewrite subset, untouched files referenced by their ORIGINAL
    * paths); the oracle replays the table semantics
    * layout-independently. */
  def q68_merge_cow(s: SparkSession, dir: String): DataFrame = {
    val (newFiles, untouched) = q68Merge(s, dir)
    s.read.parquet(untouched ++ newFiles: _*)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** The COW merge build (memoized per sweep): returns (new file dirs,
    * untouched original file paths). */
  private[operators] def q68Merge(
      s: SparkSession, dir: String): (Seq[String], Seq[String]) =
    graft.core.SessionMemo.memoize(s, "q68-cow:" + dir) {
      val (_, manP) = q65Layout(s, dir)
      val man = s.read.parquet(manP)
      val mx = man.agg(max("max_ok")).head.getLong(0)
      val (loD, hiD) = (mx / 4, mx / 4 + mx / 100)
      val cand = q65Survivors(man, loD, hiD)
      val untouched = man.select("file_path").collect()
        .map(_.getString(0)).toSeq.sorted.diff(cand)
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      def tmp(n: String) = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q68_${n}_$tag")
        .getAbsolutePath
      val (rw, ins) = (tmp("rewrite"), tmp("insert"))
      // rewrite ONLY the candidate files: matched rows updated in
      // place, non-matched residents carried verbatim
      s.read.parquet(cand: _*)
        .withColumn("l_quantity",
          when(col("l_orderkey").between(loD, hiD), col("l_quantity") + 10)
            .otherwise(col("l_quantity")))
        .write.mode("overwrite").parquet(rw)
      // inserts: the band shifted wholly past the key domain
      s.read.parquet(cand: _*)
        .filter(col("l_orderkey").between(loD, hiD))
        .withColumn("l_orderkey", col("l_orderkey") + mx)
        .write.mode("overwrite").parquet(ins)
      (Seq(rw, ins), untouched)
    }

  /** q53 — ordered funnel analysis (view → click → purchase): for each
    * user, the first view, the first click strictly after that view, and
    * the first purchase strictly after that click; users are then counted
    * by the deepest stage reached, with the exact total view→purchase
    * conversion lag for full converters.
    *
    * Scale shape: the three "first event after X" milestones are three
    * chained window aggregates over the SAME partitioning (user_id), so
    * Catalyst plans ONE hash exchange and reuses its sort for all three
    * Window operators — per-user work is a linear scan, no self-joins
    * (the naive formulation is three event-table self-joins). The final
    * stage histogram is a 4-row partial+final aggregate. Lag sums stay
    * in exact long nanos — no float summation order dependence. */
  def q53_funnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
    Tables.events(s, dir)
      .select("user_id", "event_type", "ts")
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(byUser))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(byUser))
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

  /** q55 — distribution-drift detection: the two-sample χ² statistic
    * between the first and second halves of the event stream (split at
    * the midpoint timestamp), per event_type over 16 value bins — the
    * scheduled data-quality monitor a pipeline runs before trusting a
    * new ingest window. Per-bin contribution uses the exact identity
    * χ²_b = (n1·N2 − n2·N1)² / (N1·N2·(n1+n2)), carried in
    * decimal(38,0) (HUGEINT in the oracle) with a 1e-6 fixed-point
    * output — no float summation anywhere, so the statistic is
    * bit-identical at any parallelism.
    *
    * Scale shape: one broadcast 2-value aggregate for the cut point,
    * one map-side-combined groupBy(event_type, bin) — 80 cells
    * regardless of row count — and the χ² arithmetic runs on the tiny
    * cell table. */
  def q55_drift_chi2(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val ev = Tables.events(s, dir).select("ts", "event_type", "value")
    val mid = ev.agg((min("ts") + ldiv(max("ts") - min("ts"), lit(2L)))
      .as("mid"))
    // the 80-cell table is referenced twice (cells + totals); checkpoint
    // so the totals derivation does not replay the event scan
    val cells = ev.crossJoin(broadcast(mid))
      .withColumn("bin",
        least(ldiv(floor(col("value")).cast("long"), lit(32L)), lit(15L)))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("ts") <= col("mid"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("ts") > col("mid"), 1L).otherwise(0L)).as("n2"))
      .localCheckpoint()
    chi2FromCells(cells)
  }

  /** The q55 χ² cell algebra, shared with its streaming twin (q60):
    * `cells` = (event_type, bin, n1, n2) counts; returns the per-cell
    * statistic with the decimal(38) carry and the loud overflow
    * guard. */
  private[operators] def chi2FromCells(cells: DataFrame): DataFrame = {
    val tot = cells.groupBy("event_type")
      .agg(sum("n1").as("tn1"), sum("n2").as("tn2"))
    cells.join(broadcast(tot), "event_type")
      // diff stays at the decimal(38,0) ceiling (HUGEINT-like); the
      // diff²·1e6 numerator fits 38 digits only while |diff| < 1e16,
      // i.e. per-type half counts up to ~√(32e16) ≈ 5.7e8 rows. Beyond
      // that non-ANSI decimal would silently NULL while the DuckDB
      // HUGEINT oracle still answers — so raise loudly instead (the t19
      // LUT-guard pattern), never return a divergent NULL.
      .withColumn("diff", (col("n1").cast("decimal(38,0)") * col("tn2") -
        col("n2").cast("decimal(38,0)") * col("tn1")).cast("decimal(38,0)"))
      .withColumn("guard", when(abs(col("diff")) >= lit("10000000000000000")
          .cast("decimal(38,0)"),
        raise_error(lit("q55: |n1*tn2-n2*tn1| >= 1e16 — chi2 numerator " +
          "would exceed decimal(38,0); shard the window before the " +
          "monitor"))).otherwise(lit(null).cast("string")))
      // a type living entirely in one half has no defined statistic;
      // NULL in both engines (DuckDB's // would error, Spark's div nulls)
      .withColumn("chi2_fp", expr(
        """CAST(CASE WHEN tn1 = 0 OR tn2 = 0 THEN NULL
           WHEN guard IS NOT NULL THEN NULL
           ELSE (diff * diff * 1000000) div
             (CAST(tn1 AS DECIMAL(38,0)) * tn2 * (n1 + n2)) END AS BIGINT)"""))
      .select(col("event_type"), col("bin"), col("n1"), col("n2"),
        col("chi2_fp"))
      .orderBy("event_type", "bin")
  }

  /** q56 — cohort retention: users grouped by first-active day (cohort),
    * then per (cohort, day-offset) the count of cohort members active
    * that day and the exact 1e-6 fixed-point retention rate — the
    * triangle matrix behind every product-analytics retention chart,
    * and the q53 funnel's population-level companion.
    *
    * Scale shape: activity collapses to distinct (user, day) first (one
    * map-side-combined distinct — the event stream never reaches the
    * joins), first-active is one groupBy(user) over that, cohort sizes
    * are a tiny broadcast, and the retention cells are one
    * groupBy(cohort, day). All integer day arithmetic against the
    * broadcast epoch anchor. */
  def q56_cohort_retention(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val dayNs = 86400L * 1000000000L
    val ev = Tables.events(s, dir).select("user_id", "ts")
    val lo = ev.agg(min("ts").as("lo"))
    // ONE pass over the event stream: per-user distinct-day sets (the
    // map-side collect_set dedups within partitions, state bounded by
    // the calendar, not the event count), cohort = array_min. A naive
    // active/firsts/sizes formulation referenced the distinct subtree
    // three times and re-scanned events four times.
    val perUser = ev.crossJoin(broadcast(lo))
      .select(col("user_id"),
        ldiv(col("ts") - col("lo"), lit(dayNs)).as("day"))
      .groupBy("user_id").agg(collect_set("day").as("days"))
      .withColumn("cohort", array_min(col("days")))
    // the cell table is calendar² rows at most; checkpoint so the
    // day-0 self-derivation below does not replay the event scan
    val cells = perUser
      .select(col("cohort"), explode(col("days")).as("day"))
      .groupBy("cohort", "day")
      .agg(count(lit(1)).as("n_active"))
      .localCheckpoint()
    // every user is active on their cohort day, so the day-0 cell IS
    // the cohort size — no separate firsts pass
    val sizes = cells.filter(col("day") === col("cohort"))
      .select(col("cohort"), col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), "cohort")
      .select(col("cohort"), (col("day") - col("cohort")).as("day_offset"),
        col("n_active"), col("cohort_size"),
        ldiv(col("n_active") * 1000000L, col("cohort_size"))
          .as("retention_fp"))
      .orderBy("cohort", "day_offset")
  }

  /** q57 — lakehouse schema evolution: three snapshot generations of the
    * orders table written with WIDENING schemas (g1: base columns; g2:
    * + priority; g3: + status), then read as ONE dataset through
    * `mergeSchema` — late columns come back NULL for early generations,
    * exactly the add-column evolution contract every table format
    * guarantees. The aggregate proves both directions: per-generation
    * counts of missing values, and a whole-table group on an evolved
    * column with the null bucket preserved.
    *
    * Scale shape: schema merge is a FOOTER operation (one small read per
    * file, not per row); the scan itself stays one pass with pruning
    * intact. The generation writes memoize per (session, dir) like the
    * q33/q37 layout ingests. */
  def q57_schema_evolution(s: SparkSession, dir: String): DataFrame = {
    val root = graft.core.SessionMemo.memoize(s, "q57-se:" + dir) {
      // dir + applicationId + session UUID (see SessionMemo.pathTag):
      // path scope must match the per-session memo scope, else a second
      // session's rebuild clobbers the first session's readers
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q57_$tag").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.parquet(s"$base/g=1")
      o.filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.parquet(s"$base/g=2")
      o.filter(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"), col("o_orderstatus"))
        .write.parquet(s"$base/g=3")
      base
    }
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy(col("g"), coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
        .as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L))
          .as("n_no_status"),
        dsum("o_totalprice").as("sum_price"))
      .orderBy("g", "priority")
  }

  /** q58 — session path analysis: the event-type transition matrix
    * within q17's 30-minute sessions (consecutive-event bigrams, session
    * boundaries cut transitions) — the "where do users go next" report
    * that sits beside the funnel (q53) and retention (q56) views.
    *
    * Scale shape: the session numbering and the in-session lag share the
    * user_id hash exchange (the second window's (user, session)
    * clustering is satisfied by the user partitioning — only a sort is
    * added), and the transition matrix is a ≤ |types|² partial+final
    * aggregate. Equal timestamps are tie-broken by event_id in BOTH
    * engines so the bigram sequence is deterministic. */
  def q58_session_paths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapNs = 1800L * 1000000000L
    val bySess = Window.partitionBy("user_id", "session_id")
      .orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select("user_id", "event_id", "event_type", "ts")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_type", lag(col("event_type"), 1).over(bySess))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "next_type")
  }

  /** q73 — bloom-filter file-skip index: the metadata path a lakehouse
    * uses for POINT lookups on a high-cardinality column that zone maps
    * (q65's min/max manifests) cannot prune — `o_custkey` point probes
    * against a table laid out by `o_orderkey`, where every file's
    * custkey min/max spans the whole domain. Each of the 16 files
    * carries a bloom filter over its custkeys (k = 2 Lehmer-chain
    * probes into m = `AutoScale.bloomBits(rows/file)` bits — m is
    * data-derived so the filter keeps its ~1 % FP rate as the table
    * grows; the oracle replays the derivation from count(*)). A probe
    * key scans only files whose filter lights up on BOTH positions; the
    * output is the per-probe skip accounting (candidate files, truly
    * matching files, bloom false positives) plus the rows the pruned
    * scan returns — any filter-placement bug shows as n_true ≠ rows>0
    * files or n_false_pos < 0.
    *
    * Scale shape: the filter build is one scan + a distinct on
    * (file, bit) — bounded by m·files, not rows; the probe side joins a
    * tiny probe set against broadcast bit manifests; the verifying scan
    * is a semi-join on the probe keys. At 100 TB the manifests stay
    * metadata-sized (m bits/file) and probes never touch non-candidate
    * files — the same contract Delta/Iceberg bloom indexes ship.
    * Reference semantics: file-skip metadata generalizes the reference's
    * fragment-elimination on key ranges (oph_io_server query planning).
    * doc_id reduced mod 2^31−1 before the Lehmer multiply (int64-exact
    * past 8.4e9 keys, the c10/p22 pattern). */
  def q73_bloom_skip_index(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val n = base.agg(count(lit(1))).head().getLong(0)
    // file count derived from volume (~64k rows/file, floor 16) and the
    // filter width from rows/file — both replayed by the oracle from
    // count(*); a FIXED nf would mean 6 TB files at 100 TB, a fixed m
    // would saturate the filter (p09's lesson)
    val nf = math.max(16L,
      1L << graft.core.AutoScale.log2Ceil(math.max(n / 65536L, 1L)))
    val m = graft.core.AutoScale.bloomBits((n + nf - 1) / nf)
    val orders = base.withColumn("f", pmod(col("o_orderkey"), lit(nf)))
    def pos(key: Column, j: Int): Column =
      pmod(pmod(key, lit(2147483647L)) * 1103515245L +
        lit((j + 1L) * 12345L + 6789L), lit(2147483647L)) % m
    // per-file filter = the SET of lit bit positions; ~19 bits/key is
    // the honest bloom-index footprint, kept distributed — only the
    // PROBE side (tiny) ever broadcasts
    val bits = orders
      .select(col("f"), explode(array(pos(col("o_custkey"), 0),
        pos(col("o_custkey"), 1))).as("bit"))
      .distinct().cache()
    val probes = orders.filter(col("o_orderkey") % 997L === 1L)
      .select(col("o_custkey").as("key")).distinct()
    // candidate files: both probe positions present in the file's
    // filter; stream the big bits side, broadcast the probe side
    val cand1 = bits.join(broadcast(
        probes.withColumn("bit", pos(col("key"), 0))), Seq("bit"))
      .select(col("key"), col("f"))
    val cand = bits.join(broadcast(
        cand1.withColumn("bit", pos(col("key"), 1))), Seq("bit", "f"))
      .select(col("key"), col("f"))
    // ground truth: files that actually contain the probe key
    val truth = orders.join(broadcast(probes),
        orders("o_custkey") === probes("key"), "left_semi")
      .groupBy(col("o_custkey").as("key"), col("f"))
      .agg(count(lit(1)).as("rows_in_file"))
    val acct = cand.join(truth, Seq("key", "f"), "left")
      .groupBy("key")
      .agg(count(lit(1)).as("n_candidates"),
        count(col("rows_in_file")).as("n_true_files"),
        coalesce(sum("rows_in_file"), lit(0L)).as("rows_matched"))
    probes.join(broadcast(acct), Seq("key"), "left")
      .select(col("key").as("o_custkey"),
        lit(nf).as("n_files"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_true_files"), lit(0L)).as("n_true_files"),
        (coalesce(col("n_candidates"), lit(0L)) -
          coalesce(col("n_true_files"), lit(0L))).as("n_false_pos"),
        coalesce(col("rows_matched"), lit(0L)).as("rows_matched"))
      .orderBy("o_custkey")
  }

  /** q90 — parquet FORMAT-NATIVE skipping: bloom filters + column-index
    * page pruning, the production counterpart of q73's hand-rolled
    * side-table (q73 shows the mechanism; q90 is the path a 100 TB
    * deployment actually relies on — the skip structures live in the
    * file format itself, maintained by every writer, no sidecar).
    *
    * The layout write (memoized, ingest-billed like q33/q37) sorts
    * orders by o_orderkey (clustered min/max page stats for the range
    * probe) and enables per-column bloom filters on o_custkey —
    * dictionary encoding is disabled for that column because parquet-mr
    * subsumes the bloom into the dictionary when a chunk is fully
    * dict-encoded, and the point here is the bloom path. Small row
    * groups and page-row limits give the skip machinery something to
    * skip at test SF.
    *
    * Before serving, the operator PINS the native structures via the
    * parquet-mr metadata APIs (footer-only reads, bounded):
    *  - every data file carries a bloom filter for o_custkey;
    *  - a definitely-absent probe key is bloom-rejected in >= half the
    *    row groups (expected: all; the slack is honest bloom fpp);
    *  - a present key is bloom-accepted somewhere;
    *  - the narrow o_orderkey range probe, pushed through
    *    FilterCompat with column indexes on, yields
    *    getFilteredRecordCount() < getRecordCount() — pages were
    *    ACTUALLY dropped — while never dropping a matching row.
    * A silent regression to scan-everything fails these requires, not
    * just a benchmark.
    *
    * The served result is the three probes themselves (present-key eq,
    * absent-key eq, narrow range), all replayed by the oracle from the
    * parquet with min/max subqueries — format-independent semantics,
    * format-native access path. */
  def q90_parquet_native_skip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.ParquetReadOptions
    import scala.jdk.CollectionConverters._
    val stats = Tables.orders(s, dir).agg(
      min("o_custkey").as("ck_lo"), max("o_custkey").as("ck_hi"),
      min("o_orderkey").as("ok_lo"), max("o_orderkey").as("ok_hi")).head()
    val (ckLo, ckHi) = (stats.getLong(0), stats.getLong(1))
    val (okLo, okHi) = (stats.getLong(2), stats.getLong(3))
    val ckAbsent = ckHi + 424243L // provably absent (beyond max)
    val okSpan = math.max((okHi - okLo) / 50L, 1L) // narrow sorted range
    val path = graft.core.SessionMemo.memoize(s, "q90-bloom:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val p = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q90_bloom_$tag").getAbsolutePath
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        // disjoint per-file sorted runs (range partition + in-file sort):
        // page/rowgroup min-max stats cluster without a global sort, the
        // form that still works when each of 1000 executors writes its
        // own files
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .option("parquet.block.size", (128 * 1024).toString)
        .option("parquet.page.size", (16 * 1024).toString)
        // low row cap so even the smallest fixture yields multiple pages
        // per row group — a single-page group gives the column index
        // nothing to drop
        .option("parquet.page.row.count.limit", "200")
        .parquet(p)
      p
    }
    // ---- pin the native skip structures (footer-only, bounded) ----
    val conf = s.sparkContext.hadoopConfiguration
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      .sorted
    require(files.nonEmpty, "q90: layout wrote no parquet files")
    var groups = 0; var absentRejected = 0; var presentAccepted = false
    files.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        r.getFooter.getBlocks.asScala.foreach { b =>
          val ccmd = b.getColumns.asScala
            .find(_.getPath.toDotString == "o_custkey")
            .getOrElse(throw new IllegalStateException(
              s"q90: o_custkey chunk missing in $f"))
          require(ccmd.getBloomFilterOffset >= 0,
            s"q90: no bloom filter written for o_custkey in $f — " +
              "the format-native skip structure is absent")
          val bloom = r.getBloomFilterDataReader(b).readBloomFilter(ccmd)
          require(bloom != null, s"q90: bloom unreadable in $f")
          groups += 1
          if (!bloom.findHash(bloom.hash(ckAbsent))) absentRejected += 1
          if (bloom.findHash(bloom.hash(ckLo))) presentAccepted = true
        }
      } finally r.close()
    }
    require(absentRejected * 2 >= groups,
      s"q90: absent key bloom-rejected in only $absentRejected/$groups " +
        "row groups — blooms are not skipping")
    require(presentAccepted,
      "q90: present key bloom-rejected everywhere — bloom is unsound")
    // page-level pruning: the narrow range probe through the parquet-mr
    // read path with column indexes on must DROP pages without dropping
    // matching rows
    val rangePred = FilterApi.and(
      FilterApi.gtEq(FilterApi.longColumn("o_orderkey"),
        java.lang.Long.valueOf(okLo)),
      FilterApi.ltEq(FilterApi.longColumn("o_orderkey"),
        java.lang.Long.valueOf(okLo + okSpan)))
    var totalRows = 0L; var pageFilteredRows = 0L
    files.foreach { f =>
      val in = HadoopInputFile.fromPath(new Path(f), conf)
      val r = ParquetFileReader.open(in, ParquetReadOptions.builder()
        .withRecordFilter(FilterCompat.get(rangePred))
        .useColumnIndexFilter(true).build())
      try {
        totalRows += r.getRecordCount
        pageFilteredRows += r.getFilteredRecordCount
      } finally r.close()
    }
    val rangeTrue = s.read.parquet(path)
      .filter(col("o_orderkey").between(okLo, okLo + okSpan)).count()
    require(pageFilteredRows < totalRows || totalRows == rangeTrue,
      s"q90: column-index filtering dropped no pages " +
        s"($pageFilteredRows of $totalRows rows survive; $rangeTrue match)")
    require(pageFilteredRows >= rangeTrue,
      s"q90: page skipping dropped matching rows " +
        s"($pageFilteredRows < $rangeTrue) — unsound pruning")
    // ---- the served probes (oracle-replayable semantics) ----
    val t = s.read.parquet(path)
    def probe(name: String, p: Column): DataFrame =
      t.filter(p).agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("o_totalprice").cast("decimal(18,2)")), lit(0L))
            .cast("double").as("sum_price"))
        .select(lit(name).as("probe"), col("n_rows"), col("sum_price"))
    probe("ck_eq_lo", col("o_custkey") === ckLo)
      .unionByName(probe("ck_eq_absent", col("o_custkey") === ckAbsent))
      .unionByName(probe("ok_range",
        col("o_orderkey").between(okLo, okLo + okSpan)))
      .orderBy("probe")
  }

  /** q75 — field-id column mapping (the Iceberg/Delta-column-mapping
    * evolution model, complementing q57's name-based additive merge):
    * files carry arbitrary PHYSICAL column names; a per-file mapping
    * from stable field ids to physical names resolves reads, so RENAME
    * (field 2: qty → quantity) and DROP (field 3: price) are pure
    * metadata — a file written before the rename serves the renamed
    * column with zero rewrite, which is the only affordable evolution
    * model at 100 TB. File A predates the evolution (physical f1/f2/f3,
    * ids 1/2/3); file B is written after (g1/g2/g4, ids 1/2/4 — id 4 is
    * the post-drop ADD, so "discount" never collides with dead id 3
    * even though a future column could reuse the NAME "price"). The
    * read plans each file with its own id-resolved projection and
    * unions by the CURRENT logical schema; absent fields surface as
    * NULL. mergeSchema would be semantically WRONG here (it would map
    * f2 and g2 to different columns and resurrect dropped f3), which is
    * exactly what the field-id layer exists to prevent.
    *
    * Scale shape: mapping resolution is O(|files|) driver metadata; per
    * file the scan reads ONLY the physical columns the projection
    * touches (dropped f3 never leaves parquet — pinned by
    * SchemaMappingSpec), and the union's aggregate partial-aggregates
    * per file before one ≤8-group exchange. */
  def q75_column_mapping(s: SparkSession, dir: String): DataFrame = {
    val (pathA, pathB) = graft.core.SessionMemo.memoize(s, "q75-map:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q75_$tag").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("f1"),
          (col("o_custkey") % 100L).as("f2"),
          floor(col("o_totalprice") * 100).cast("long").as("f3"))
        .write.parquet(s"$base/A")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey").as("g1"),
          (col("o_custkey") % 100L).as("g2"),
          (col("o_orderkey") % 50L).as("g4"))
        .write.parquet(s"$base/B")
      (s"$base/A", s"$base/B")
    }
    // current logical schema after rename(2: qty→quantity), drop(3:
    // price), add(4: discount_fp); per-file physical mappings are the
    // table-format metadata a real catalog would store per data file
    val logical = Seq(1 -> "id", 2 -> "quantity", 4 -> "discount_fp")
    val mappings: Map[String, Map[Int, String]] = Map(
      pathA -> Map(1 -> "f1", 2 -> "f2", 3 -> "f3"),
      pathB -> Map(1 -> "g1", 2 -> "g2", 4 -> "g4"))
    Seq(pathA, pathB).map { p =>
      val phys = mappings(p)
      s.read.parquet(p).select(logical.map { case (fid, name) =>
        phys.get(fid).map(pn => col(pn).as(name))
          .getOrElse(lit(null).cast("long").as(name))
      }: _*)
    }.reduce(_ unionByName _)
      .groupBy((col("id") % 8L).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum("quantity").as("sum_qty"),
        sum(coalesce(col("discount_fp"), lit(0L))).as("sum_disc"))
      .orderBy("grp")
  }

  /** q76 — partition-spec evolution (the Iceberg model: the partition
    * layout is per-FILE metadata, so changing it never rewrites old
    * data): era-1 files are partitioned by order month only; era-2
    * files by (month, o_custkey%4 bucket). A query filtering on BOTH
    * month and bucket prunes each era under ITS OWN spec — era-2
    * directories drop 3/4 of buckets, era-1 directories prune by month
    * but must be scanned for the bucket predicate, which re-applies as
    * a residual. That asymmetry IS the feature: at 100 TB you evolve
    * the spec for new data and pay the residual scan only on the old
    * tail, instead of rewriting history (q37-style re-layout) or
    * rejecting the evolution (static Hive partitioning, q35). Pruning
    * is O(|directories|) driver metadata; PartitionEvolutionSpec pins
    * the per-era survivor accounting.
    *
    * Band and bucket constants replay from the data (month min/max →
    * middle third), the AutoScale discipline. */
  def q76_partition_evolution(s: SparkSession, dir: String): DataFrame = {
    val monthIdx = (year(col("o_orderdate")) - 1995) * 12 +
      month(col("o_orderdate")) - 1
    val base = graft.core.SessionMemo.memoize(s, "q76-pevo:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q76_$tag").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val o = Tables.orders(s, dir).withColumn("m", monthIdx)
      // repartition on the partition keys BEFORE the dynamic-partition
      // write: one file per directory instead of one per (task x dir) —
      // the standard small-files fix; without it this layout emits
      // 32x the files and every later read pays the listing
      o.filter(col("o_orderkey") % 3 === 0)
        .repartition(col("m"))
        .write.partitionBy("m").parquet(s"$root/era1")
      o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("b", pmod(col("o_custkey"), lit(4L)))
        .repartition(col("m"), col("b"))
        .write.partitionBy("m", "b").parquet(s"$root/era2")
      root
    }
    val (mLo, mHi) = {
      val r = Tables.orders(s, dir)
        .agg(min(monthIdx), max(monthIdx)).head()
      val (lo0, hi0) = (r.getInt(0).toLong, r.getInt(1).toLong)
      (lo0 + (hi0 - lo0) / 3, lo0 + 2 * (hi0 - lo0) / 3)
    }
    def dirs(era: String): Seq[java.io.File] =
      new java.io.File(s"$base/$era").listFiles().toSeq
        .filter(_.getName.startsWith("m="))
    // per-spec pruning over directory metadata: era1 knows only m,
    // era2 prunes m AND bucket
    val keep1 = dirs("era1")
      .filter(f => { val m = f.getName.drop(2).toLong; m >= mLo && m <= mHi })
      .map(_.getAbsolutePath)
    val keep2 = dirs("era2")
      .filter(f => { val m = f.getName.drop(2).toLong; m >= mLo && m <= mHi })
      .flatMap(_.listFiles().toSeq.filter(_.getName == "b=1"))
      .map(_.getAbsolutePath)
    val era1 = s.read.option("basePath", s"$base/era1").parquet(keep1: _*)
      .filter(pmod(col("o_custkey"), lit(4L)) === 1L) // residual: spec 1 can't prune it
    val era2 = s.read.option("basePath", s"$base/era2").parquet(keep2: _*)
      .drop("b")
    era1.unionByName(era2)
      .filter(col("m").between(mLo, mHi)) // residual band replay (q65 idiom)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * lit(100)).cast("long")).as("total_fp"))
      .orderBy("status")
  }

  /** q77 — snapshot EXPIRY with orphan-file deletion (the Iceberg
    * `expire_snapshots` / Delta `VACUUM` retention shape, distinct from
    * q59's DV-density rewrite): keep only the head snapshot, REBASE the
    * commit log to a single head entry set (expired versions disappear
    * from metadata, so a time travel past retention fails loudly rather
    * than silently reading half a table), and physically delete every
    * file no retained snapshot references (here fa — added at v1,
    * removed by v3's rewrite). Builds its own q52-shaped store because
    * expiry DESTROYS history: sharing q52's layout would corrupt
    * q52/q66/q71 in the same sweep. Reads afterwards go through the
    * REBASED log only — the head aggregate must be byte-identical to
    * pre-expiry v3, which the oracle replays from the source table.
    *
    * Scale shape: expiry is O(|log| + |files|) driver metadata plus
    * unlink calls; no data file is read or written — at 100 TB
    * reclaiming a petabyte of dead snapshots costs the same as a
    * megabyte. The accounting columns (files retained/deleted) are
    * structural constants of this fixture, asserted against the real
    * filesystem by SnapshotExpirySpec. */
  def q77_snapshot_expiry(s: SparkSession, dir: String): DataFrame = {
    val (newLog, nRet, nDel) =
      graft.core.SessionMemo.memoize(s, "q77-expire:" + dir) {
        val tag = graft.core.SessionMemo.pathTag(s, dir)
        def tmp(n: String) = new java.io.File(
          System.getProperty("java.io.tmpdir"), s"graft_q77_${n}_$tag")
          .getAbsolutePath
        val o = Tables.orders(s, dir)
        val (fa, fb, fc, fd, lg) =
          (tmp("a"), tmp("b"), tmp("c"), tmp("d"), tmp("log"))
        o.filter(col("o_orderdate") < lit("1998-01-01"))
          .write.mode("overwrite").parquet(fa)
        o.filter(col("o_orderdate") >= lit("1998-01-01") &&
            col("o_orderdate") < lit("2000-01-01"))
          .write.mode("overwrite").parquet(fb)
        s.read.parquet(fa).filter(col("o_orderstatus") =!= "F")
          .write.mode("overwrite").parquet(fc)
        o.filter(col("o_orderdate") >= lit("2000-01-01"))
          .write.mode("overwrite").parquet(fd)
        val log = Array((1L, "add", fa), (2L, "add", fb),
          (3L, "remove", fa), (3L, "add", fc), (3L, "add", fd))
        // EXPIRE: retain only the head. Active set from the full
        // history, then a rebased single-version log.
        val head = log.map(_._1).max
        val active = q52ActiveAt(log, head)
        val orphans = Seq(fa, fb, fc, fd).filterNot(active.contains)
        orphans.foreach(p =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
        import s.implicits._
        active.sorted.map((head, "add", _))
          .toDF("version", "action", "path")
          .coalesce(1).write.mode("overwrite").parquet(lg)
        (lg, active.size.toLong, orphans.size.toLong)
      }
    val log = q52ReadLog(s, newLog)
    require(log.forall(_._1 == 3L), "expired versions must leave the log")
    val files = q52ActiveAt(log, 3L)
    s.read.parquet(files: _*)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * lit(100)).cast("long")).as("total_fp"))
      .withColumn("n_files_retained", lit(nRet))
      .withColumn("n_files_deleted", lit(nDel))
      .orderBy("status")
  }

  /** q81 — BRANCHES with single-commit CHERRY-PICK over the commit-log
    * store (round-14 verdict item 6: the q52/q61/q66/q69/q70/q71 family
    * implies refs). The log gains a branch dimension: `audit` is
    * created AT main@2 (a ref is just (name, base version) — zero data
    * movement), commit audit@3 publishes a quarantine file (the rows
    * main's v3 rewrite dropped — the write-audit-publish consumer), and
    * the publish step CHERRY-PICKS exactly that one commit onto main as
    * v4: the picked commit's (action, path) set replays verbatim and
    * NOTHING else from the branch comes along. The proof is in the
    * aggregates: main@4 must equal the full orders table (v3 dropped
    * the F/pre-1998 rows; the pick restores exactly them), while a
    * merge-instead-of-pick would also have dragged the branch's stale
    * base (losing v3's rewrite and the fd load) and shifted every
    * count. audit@3 must see its base (main@2) plus its own commit —
    * with the quarantined rows counted TWICE (they exist in fa and fe),
    * pinning that branch replay stacks the branch log on the base
    * snapshot rather than deduplicating paths.
    *
    * Scale shape: branch create and cherry-pick are O(|commit|)
    * driver-side METADATA (the q71 point — refs cost the same on a
    * petabyte as on a megabyte); the data reads are the versioned
    * parquet scans themselves. Builds on q52's layout; cites the
    * Iceberg branch/tag + cherrypick_snapshot public semantics. */
  def q81_branch_cherry_pick(s: SparkSession, dir: String): DataFrame = {
    val (logPath, files) = q52Layout(s, dir)
    val fa = files.head
    // the branch-only file: the rows the v3 rewrite dropped, quarantined
    // and re-published through the audit branch
    val fe = graft.core.SessionMemo.memoize(s, "q81-fe:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      val p = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q81_e_$tag").getAbsolutePath
      s.read.parquet(fa).filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").parquet(p)
      p
    }
    val mainLog = q52ReadLog(s, logPath)
      .map { case (v, a, p) => ("main", v, a, p) }.toSeq
    val auditBase = 2L // ref: audit branched from main@2
    val auditLog = Seq(("audit", 3L, "add", fe))
    // cherry-pick EXACTLY commit audit@3 onto main as v4: its action
    // set verbatim, nothing else from the branch
    val picked = auditLog.filter(_._2 == 3L)
      .map { case (_, _, a, p) => ("main", 4L, a, p) }
    val full = mainLog ++ auditLog ++ picked
    def activeAt(branch: String, v: Long): Seq[String] = {
      val entries =
        if (branch == "main") full.filter(e => e._1 == "main" && e._2 <= v)
        else full.filter(e => e._1 == "main" && e._2 <= auditBase) ++
          full.filter(e => e._1 == branch && e._2 <= v)
      entries.groupBy(_._4).collect {
        case (p, es) if es.maxBy(_._2)._3 == "add" => p
      }.toSeq.sorted
    }
    Seq(("main", 1L), ("main", 2L), ("main", 3L), ("main", 4L),
      ("audit", 3L)).map { case (br, v) =>
      s.read.parquet(activeAt(br, v): _*)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100)).cast("long"))
            .as("total_fp"))
        .withColumn("branch", lit(br)).withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("branch", "version", "status", "n", "total_fp")
      .orderBy("branch", "version", "status")
  }

  /** q88 — three-way BRANCH MERGE with file-level conflict detection
    * (the Nessie/LakeFS operation q81's single-commit cherry-pick stops
    * short of): a branch diverges from main@2, both sides commit, and
    * merge applies the BRANCH's changes-since-fork onto the MAIN head —
    * removedB = base∖theirs, addedB = theirs∖base, merged = ours ∖
    * removedB ∪ addedB — iff no conflict, where a conflict is both
    * sides touching the same base file since the fork point (the
    * file-level rule every table-format merge implements; q69's OCC is
    * the same predicate on a linear log). Two branches exercise both
    * outcomes: `etl` rewrites fb (main touched only fa post-fork —
    * disjoint, commits as main@4) and `bad` rewrites fa (main's v3
    * also removed fa — conflict, REJECTED by name, main unchanged).
    * The output carries each state's aggregate with its outcome, and
    * the rejected row must hash-equal the main head — a merge that
    * mutated anything on rejection fails the gate.
    *
    * Scale shape: merge is pure METADATA — three set differences over
    * file lists (O(|files touched|), never a data read); only reading
    * the merged snapshot touches data, and that reads each active file
    * once. Builds on q52's commit-log store. */
  def q88_branch_merge(s: SparkSession, dir: String): DataFrame = {
    val (logPath, files) = q52Layout(s, dir)
    val Seq(fa, fb, _, _) = files
    val (fbo, faf) = graft.core.SessionMemo.memoize(s, "q88-br:" + dir) {
      val tag = graft.core.SessionMemo.pathTag(s, dir)
      def tmp(n: String) = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_q88_${n}_$tag")
        .getAbsolutePath
      val (p1, p2) = (tmp("fbo"), tmp("faf"))
      // branch rewrites consume the FORK-POINT snapshot's files
      s.read.parquet(fb).filter(col("o_orderstatus") === "O")
        .write.mode("overwrite").parquet(p1)
      s.read.parquet(fa).filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").parquet(p2)
      (p1, p2)
    }
    val mainLog = q52ReadLog(s, logPath)
    val forkV = 2L
    val base = q52ActiveAt(mainLog, forkV).toSet
    val ours = q52ActiveAt(mainLog, mainLog.map(_._1).max).toSet
    /** File-level three-way merge; Left(conflicts) or Right(merged). */
    def merge(theirs: Set[String]): Either[Seq[String], Set[String]] = {
      val removedB = base -- theirs
      val removedM = base -- ours
      val conflicts = (removedB & removedM).toSeq.sorted
      if (conflicts.nonEmpty) Left(conflicts)
      else Right(ours -- removedB ++ (theirs -- base))
    }
    val etlHead = base - fb + fbo // etl@3: rewrite fb
    val badHead = base - fa + faf // bad@3: rewrite fa — fa changed on main too
    val merged = merge(etlHead) match {
      case Right(m) => m
      case Left(c) => throw new IllegalStateException(s"etl must merge: $c")
    }
    val rejected = merge(badHead) match {
      case Left(conflicts) =>
        require(conflicts == Seq(fa), s"conflict must name fa, got $conflicts")
        ours // main is UNTOUCHED by a rejected merge
      case Right(_) =>
        throw new IllegalStateException("bad branch must conflict")
    }
    val states = Seq(
      ("main_v3", "committed", ours),
      ("etl_head", "committed", etlHead),
      ("merged_v4", "committed", merged),
      ("bad_merge", "rejected", rejected))
    states.map { case (src, outcome, fs) =>
      s.read.parquet(fs.toSeq.sorted: _*)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100)).cast("long"))
            .as("total_fp"))
        .withColumn("src", lit(src)).withColumn("outcome", lit(outcome))
    }.reduce(_ unionByName _)
      .select("src", "outcome", "status", "n", "total_fp")
      .orderBy("src", "status")
  }

  /** q82 — snapshot METADATA tables (the Iceberg `table$history` /
    * `table$files` surface): the commit log rendered as a queryable
    * audit table — per version, the active file count, files
    * added/removed by that commit, and the active ROW count read from
    * parquet FOOTER metadata only (a count() over a parquet file reads
    * row-group statistics, not data). This is the observability twin
    * of q80's streaming ledger: at 100 TB the first question about a
    * table is asked against its metadata tables, never its data —
    * cost here is O(|files|) regardless of table size. Builds on
    * q52's commit-log store; cites the public Iceberg metadata-table
    * semantics. */
  def q82_metadata_tables(s: SparkSession, dir: String): DataFrame = {
    val (logPath, _) = q52Layout(s, dir)
    val log = q52ReadLog(s, logPath)
    val head = log.map(_._1).max
    val rows = (1L to head).map { v =>
      val entries = log.filter(_._1 == v)
      val active = q52ActiveAt(log, v)
      (v, active.size.toLong,
        entries.count(_._2 == "add").toLong,
        entries.count(_._2 == "remove").toLong,
        active.map(p => s.read.parquet(p).count()).sum)
    }
    import s.implicits._
    rows.toDF("version", "n_active_files", "n_added", "n_removed",
      "rows_active").orderBy("version")
  }

  /** q78 — CHECK-constraint enforcement on the write path with a
    * violation QUARANTINE (the Delta/Iceberg table-constraint feature):
    * an ingest batch carries three injected defect classes — a negated
    * quantity (violates `l_quantity > 0 AND <= 50`), an out-of-domain
    * return flag (violates the A/N/R enum) and a NULLed part key
    * (violates NOT NULL) — and the committed table must admit NONE of
    * them while losing NO clean rows. Violating rows land in a
    * quarantine file tagged with every rule they break (a row can break
    * several; it quarantines once but counts per rule), clean rows
    * commit, and the report is read BACK FROM DISK — a validator that
    * "passes" by dropping rows, double-counting multi-rule violations,
    * or admitting defects breaks the per-bucket checksums. All counts
    * pair with a sum(floor(l_extendedprice·100)) checksum over the
    * bucket (extendedprice is untouched by the corruption, so it
    * fingerprints WHICH rows landed where).
    *
    * Scale shape: one scan computes all three predicates (codegen'd),
    * one partitioned write per sink, and the report aggregates are
    * map-side combined. No shuffle beyond the writes. */
  def q78_check_constraints(s: SparkSession, dir: String): DataFrame = {
    val tag = graft.core.SessionMemo.pathTag(s, dir)
    def tmp(n: String) = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_q78_${n}_$tag")
      .getAbsolutePath
    val k = col("l_orderkey") * 7L + col("l_linenumber")
    val corrupted = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        when(pmod(k, lit(101L)) === 0L, -col("l_quantity"))
          .otherwise(col("l_quantity")).as("l_quantity"),
        when(pmod(k, lit(103L)) === 1L, lit("X"))
          .otherwise(col("l_returnflag")).as("l_returnflag"),
        when(pmod(k, lit(107L)) === 2L, lit(null).cast("long"))
          .otherwise(col("l_partkey")).as("l_partkey"),
        col("l_extendedprice"))
    val flagged = corrupted
      .withColumn("bad_qty",
        !(col("l_quantity") > 0.0 && col("l_quantity") <= 50.0))
      .withColumn("bad_flag", !col("l_returnflag").isin("A", "N", "R"))
      .withColumn("bad_null", col("l_partkey").isNull)
      .withColumn("rules", concat_ws("|",
        when(col("bad_qty"), "qty_range"),
        when(col("bad_flag"), "flag_enum"),
        when(col("bad_null"), "partkey_null")))
    flagged.filter(!col("bad_qty") && !col("bad_flag") && !col("bad_null"))
      .drop("bad_qty", "bad_flag", "bad_null", "rules")
      .write.mode("overwrite").parquet(tmp("table"))
    flagged.filter(col("bad_qty") || col("bad_flag") || col("bad_null"))
      .drop("bad_qty", "bad_flag", "bad_null")
      .write.mode("overwrite").parquet(tmp("quarantine"))
    val cents = sum(floor(col("l_extendedprice") * 100.0).cast("long"))
    val committed = s.read.parquet(tmp("table"))
      .agg(count(lit(1)).as("n_rows"), cents.as("price_ck"))
      .select(lit("committed").as("rule"), col("n_rows"), col("price_ck"))
    val q = s.read.parquet(tmp("quarantine"))
    val quarantined = q
      .agg(count(lit(1)).as("n_rows"), cents.as("price_ck"))
      .select(lit("quarantined").as("rule"), col("n_rows"), col("price_ck"))
    val perRule = q
      .select(explode(split(col("rules"), "\\|")).as("rule"),
        col("l_extendedprice"))
      .groupBy("rule")
      .agg(count(lit(1)).as("n_rows"), cents.as("price_ck"))
    committed.unionByName(quarantined).unionByName(perRule)
      // mirror of the oracle's n_rows > 0 guard: an empty quarantine
      // aggregate would otherwise emit a (0, null) row the replay omits
      .filter(col("n_rows") > 0L)
      .orderBy("rule")
  }

  /** q79 — DYNAMIC partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic`, the INSERT OVERWRITE semantics
    * every partitioned warehouse restatement relies on): a month-
    * partitioned orders table takes a one-month restatement batch via
    * `mode("overwrite")`, and ONLY the touched partition may be
    * replaced — under the default STATIC mode the same write would
    * TRUNCATE every other month (79 partitions of data silently gone),
    * which is the classic production incident this mode exists to
    * prevent. The report reads the table back from disk: the restated
    * month must carry the new rows (+1024.00 on every price — exact in
    * double), every other month must hash-match its original content,
    * and the restated flag column marks which is which.
    *
    * Scale shape: partitioned writes are executor-parallel per
    * partition directory; the restatement touches one partition's
    * files regardless of table size; the report is one map-combined
    * per-month aggregate. The session conf is restored in a finally —
    * sweep neighbors must not inherit dynamic mode. */
  def q79_dynamic_overwrite(s: SparkSession, dir: String): DataFrame = {
    val tag = graft.core.SessionMemo.pathTag(s, dir)
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_q79_$tag").getAbsolutePath
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    // one-time layout (the q33/q41 ingest idiom): reps measure the
    // restatement overwrite, not the base build — which at 100 TB is
    // the whole point of dynamic mode (touch one partition, not 80)
    graft.core.SessionMemo.memoize(s, "q79-base:" + dir) {
      base.write.partitionBy("month").mode("overwrite").parquet(path)
      java.lang.Boolean.TRUE
    }
    val restated = base.filter(col("month") === "1997-06")
      .withColumn("o_totalprice", col("o_totalprice") + 1024.0)
      .withColumn("o_orderstatus", lit("R"))
    // per-write option, not the session-global conf: concurrent queries
    // on the shared session must not see each other's overwrite mode
    restated.write.partitionBy("month").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)
    s.read.parquet(path)
      .groupBy("month")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100.0).cast("long")).as("price_ck"),
        sum(when(col("o_orderstatus") === "R", 1L).otherwise(0L))
          .as("n_restated"))
      .orderBy("month")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q79_dynamic_overwrite" -> (q79_dynamic_overwrite _),
    "q81_branch_cherry_pick" -> (q81_branch_cherry_pick _),
    "q82_metadata_tables" -> (q82_metadata_tables _),
    "q78_check_constraints" -> (q78_check_constraints _),
    "q77_snapshot_expiry" -> (q77_snapshot_expiry _),
    "q76_partition_evolution" -> (q76_partition_evolution _),
    "q75_column_mapping" -> (q75_column_mapping _),
    "q73_bloom_skip_index" -> (q73_bloom_skip_index _),
    "q90_parquet_native_skip" -> (q90_parquet_native_skip _),
    "q58_session_paths" -> (q58_session_paths _),
    "q57_schema_evolution" -> (q57_schema_evolution _),
    "q56_cohort_retention" -> (q56_cohort_retention _),
    "q55_drift_chi2" -> (q55_drift_chi2 _),
    "q53_funnel" -> (q53_funnel _),
    "q52_time_travel" -> (q52_time_travel _),
    "q85_time_travel_asof" -> (q85_time_travel_asof _),
    "q86_manifest_two_level" -> (q86_manifest_two_level _),
    "q87_log_checkpointing" -> (q87_log_checkpointing _),
    "q88_branch_merge" -> (q88_branch_merge _),
    "q66_changelog_diff" -> (q66_changelog_diff _),
    "q69_occ_conflict" -> (q69_occ_conflict _),
    "q70_multi_table_txn" -> (q70_multi_table_txn _),
    "q71_restore_snapshot" -> (q71_restore_snapshot _),
    "q68_merge_cow" -> (q68_merge_cow _),
    "q51_scd2_merge" -> (q51_scd2_merge _),
    "q65_manifest_skipping" -> (q65_manifest_skipping _),
    "q61_wap_publish" -> (q61_wap_publish _),
    "q59_dv_vacuum" -> (q59_dv_vacuum _),
    "q63_incremental_mv" -> (q63_incremental_mv _),
    "q62_equality_deletes" -> (q62_equality_deletes _),
    "q50_merge_on_read" -> (q50_merge_on_read _),
    "q41_compact_small_files" -> (q41_compact_small_files _),
    "q40_session_window" -> (q40_session_window _),
    "q43_zorder_bigmin" -> (q43_zorder_bigmin _),
    "q38_salted_skew_join" -> (q38_salted_skew_join _),
    "q37_zorder_layout" -> (q37_zorder_layout _),
    "q84_hilbert_layout" -> (q84_hilbert_layout _),
    "q35_partition_pruning" -> (q35_partition_pruning _),
    "q34_grouping_sets" -> (q34_grouping_sets _),
    "q33_bucketed_join" -> (q33_bucketed_join _),
    "q32_pivot" -> (q32_pivot _),
    "q17_sessionize_batch" -> (q17_sessionize_batch _),
    "q20_sliding_window" -> (q20_sliding_window _),
    "q21_anti_semi" -> (q21_anti_semi _),
    "q22_percentiles" -> (q22_percentiles _),
    "q18_rollup" -> (q18_rollup _),
    "q19_json" -> (q19_json _),
    "q01_filter_project" -> (q01_filter_project _),
    "q02_ctas" -> (q02_ctas _),
    "q03_agg_group" -> (q03_agg_group _),
    "q04_agg_total" -> (q04_agg_total _),
    "q05_join_agg" -> (q05_join_agg _),
    "q06_join_chain" -> (q06_join_chain _),
    "q07_order_limit" -> (q07_order_limit _),
    "q08_first_in_group" -> (q08_first_in_group _),
    "q09_subset_rekey" -> (q09_subset_rekey _),
    "q10_multi_insert" -> (q10_multi_insert _),
    "q11_key_algebra" -> (q11_key_algebra _),
    "q12_distinct" -> (q12_distinct _),
    "q13_except" -> (q13_except _),
    "q14_having_subquery" -> (q14_having_subquery _),
    "q15_window_rank" -> (q15_window_rank _),
    "q16_time_window" -> (q16_time_window _),
    "q24_asof_join" -> (q24_asof_join _),
    "q25_range_join" -> (q25_range_join _),
    "q29_union_intersect" -> (q29_union_intersect _),
  )

  val oracles: Map[String, String] = Map(
    // replays nf/m from count(*) (AutoScale SQL twins), the 2-probe
    // Lehmer bit positions, the per-file bit sets and the skip math
    // the retained head (v3) replayed from the source table; the
    // accounting columns are structural constants of the 4-file fixture
    // (3 retained, 1 orphaned), asserted on disk by SnapshotExpirySpec
    // the restatement replayed in place: only 1997-06 carries the new
    // prices/status — a static-mode truncation (other months gone) or
    // a partial partition replace both break the hash
    "q79_dynamic_overwrite" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m') AS month FROM orders),
       t AS (SELECT month,
           CASE WHEN month = '1997-06' THEN o_totalprice + 1024.0
             ELSE o_totalprice END AS p,
           CASE WHEN month = '1997-06' THEN 'R'
             ELSE o_orderstatus END AS st
         FROM b)
       SELECT month, count(*)::BIGINT AS n,
         CAST(sum(CAST(floor(p * 100.0) AS BIGINT)) AS BIGINT)
           AS price_ck,
         sum(CASE WHEN st = 'R' THEN 1 ELSE 0 END)::BIGINT AS n_restated
       FROM t GROUP BY month ORDER BY month""",
    // the corruption rules and all five buckets replayed from lineitem;
    // the parquet table/quarantine round-trip exists only Spark-side
    "q78_check_constraints" ->
      """WITH c AS (SELECT
           CASE WHEN (l_orderkey*7 + l_linenumber) % 101 = 0
             THEN -l_quantity ELSE l_quantity END AS q,
           CASE WHEN (l_orderkey*7 + l_linenumber) % 103 = 1
             THEN 'X' ELSE l_returnflag END AS rf,
           CASE WHEN (l_orderkey*7 + l_linenumber) % 107 = 2
             THEN NULL ELSE l_partkey END AS pk,
           l_extendedprice AS ep
         FROM lineitem),
       f AS (SELECT q, rf, pk, ep,
           NOT (q > 0 AND q <= 50) AS bq,
           rf NOT IN ('A', 'N', 'R') AS bf,
           pk IS NULL AS bn FROM c),
       u AS (
         SELECT 'committed' AS rule, count(*)::BIGINT AS n_rows,
             CAST(sum(CAST(floor(ep * 100) AS BIGINT)) AS BIGINT)
               AS price_ck
           FROM f WHERE NOT bq AND NOT bf AND NOT bn
         UNION ALL
         SELECT 'quarantined', count(*)::BIGINT,
             CAST(sum(CAST(floor(ep * 100) AS BIGINT)) AS BIGINT)
           FROM f WHERE bq OR bf OR bn
         UNION ALL
         SELECT 'qty_range', count(*)::BIGINT,
             CAST(sum(CAST(floor(ep * 100) AS BIGINT)) AS BIGINT)
           FROM f WHERE bq
         UNION ALL
         SELECT 'flag_enum', count(*)::BIGINT,
             CAST(sum(CAST(floor(ep * 100) AS BIGINT)) AS BIGINT)
           FROM f WHERE bf
         UNION ALL
         SELECT 'partkey_null', count(*)::BIGINT,
             CAST(sum(CAST(floor(ep * 100) AS BIGINT)) AS BIGINT)
           FROM f WHERE bn)
       SELECT rule, n_rows, price_ck FROM u WHERE n_rows > 0
       ORDER BY rule""",
    "q77_snapshot_expiry" ->
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_fp,
           3::BIGINT AS n_files_retained, 1::BIGINT AS n_files_deleted
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1998-01-01'
            OR o_orderstatus <> 'F'
         GROUP BY 1 ORDER BY 1""",
    // layout-independent replay: same month band (middle third of the
    // observed month-index range, integer division) and bucket filter
    // straight off the source table
    "q76_partition_evolution" ->
      """WITH o AS (SELECT *,
             (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m
           FROM orders),
         mm AS (SELECT min(m)::BIGINT AS lo0, max(m)::BIGINT AS hi0 FROM o),
         band AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo,
             lo0 + 2 * ((hi0 - lo0)) // 3 AS hi FROM mm)
         SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
           sum(floor(o_totalprice * 100))::BIGINT AS total_fp
         FROM o, band
         WHERE m BETWEEN lo AND hi AND o_custkey % 4 = 1
         GROUP BY 1 ORDER BY 1""",
    // replays the evolved logical table from the source rows: even keys
    // are pre-evolution (no discount field -> 0), odd keys post-ADD
    "q75_column_mapping" ->
      """WITH src AS (SELECT o_orderkey AS id,
             o_custkey % 100 AS quantity,
             CASE WHEN o_orderkey % 2 = 0 THEN 0
                  ELSE o_orderkey % 50 END AS disc
           FROM orders)
         SELECT id % 8 AS grp, count(*)::BIGINT AS n,
           sum(quantity)::BIGINT AS sum_qty,
           sum(disc)::BIGINT AS sum_disc
         FROM src GROUP BY 1 ORDER BY grp""",
    // the three probes replayed straight off the parquet with min/max
    // subqueries — the format-native skip structures (blooms, column
    // indexes) are pinned Spark-side by requires in the operator, so the
    // oracle only has to agree on the SEMANTICS of the probes
    "q90_parquet_native_skip" ->
      """WITH s AS (SELECT min(o_custkey) AS ck_lo,
           max(o_custkey) + 424243 AS ck_ab,
           min(o_orderkey) AS ok_lo,
           greatest((max(o_orderkey) - min(o_orderkey)) // 50, 1) AS ok_span
         FROM orders)
         SELECT 'ck_eq_lo' AS probe, count(*)::BIGINT AS n_rows,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
             AS DOUBLE) AS sum_price
         FROM orders, s WHERE o_custkey = s.ck_lo
         UNION ALL
         SELECT 'ck_eq_absent', count(*)::BIGINT,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
             AS DOUBLE)
         FROM orders, s WHERE o_custkey = s.ck_ab
         UNION ALL
         SELECT 'ok_range', count(*)::BIGINT,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
             AS DOUBLE)
         FROM orders, s
         WHERE o_orderkey BETWEEN s.ok_lo AND s.ok_lo + s.ok_span
         ORDER BY probe""",
    "q73_bloom_skip_index" ->
      """WITH cnt AS (SELECT count(*)::BIGINT AS n FROM orders),
       nfv AS (SELECT n, greatest(16, 1::BIGINT << CAST(coalesce(
           (SELECT min(L) FROM range(0, 63) t(L)
            WHERE (1::BIGINT << L::INT) >= greatest(n // 65536, 1)), 62)
           AS INT)) AS nf FROM cnt),
       mv AS (SELECT n, nf, greatest(65536, 1::BIGINT << CAST(coalesce(
           (SELECT min(L) FROM range(0, 63) t(L)
            WHERE (1::BIGINT << L::INT) >= 19 * greatest((n + nf - 1) // nf, 1)),
           62) AS INT)) AS m FROM nfv),
       o AS (SELECT o_orderkey, o_custkey, o_orderkey % nf AS f
             FROM orders, mv),
       bits AS (SELECT DISTINCT f,
           ((o_custkey % 2147483647) * 1103515245 + (j + 1) * 12345 + 6789)
             % 2147483647 % m AS bit
         FROM o, mv, range(0, 2) r(j)),
       probes AS (SELECT DISTINCT o_custkey AS key FROM o
                  WHERE o_orderkey % 997 = 1),
       cand1 AS (SELECT p.key, b.f FROM probes p CROSS JOIN mv
           JOIN bits b ON b.bit =
             ((p.key % 2147483647) * 1103515245 + 12345 + 6789)
               % 2147483647 % m),
       cand AS (SELECT c.key, c.f FROM cand1 c CROSS JOIN mv
           JOIN bits b ON b.f = c.f AND b.bit =
             ((c.key % 2147483647) * 1103515245 + 2 * 12345 + 6789)
               % 2147483647 % m),
       truth AS (SELECT o_custkey AS key, f, count(*)::BIGINT AS rif
         FROM o WHERE o_custkey IN (SELECT key FROM probes)
         GROUP BY 1, 2),
       acct AS (SELECT c.key, count(*)::BIGINT AS n_candidates,
           count(t.rif)::BIGINT AS n_true_files,
           coalesce(sum(t.rif), 0)::BIGINT AS rows_matched
         FROM cand c LEFT JOIN truth t ON t.key = c.key AND t.f = c.f
         GROUP BY 1)
       SELECT p.key AS o_custkey, nf AS n_files,
         coalesce(a.n_candidates, 0)::BIGINT AS n_candidates,
         coalesce(a.n_true_files, 0)::BIGINT AS n_true_files,
         (coalesce(a.n_candidates, 0) - coalesce(a.n_true_files, 0))::BIGINT
           AS n_false_pos,
         coalesce(a.rows_matched, 0)::BIGINT AS rows_matched
       FROM probes p CROSS JOIN mv LEFT JOIN acct a ON a.key = p.key
       ORDER BY o_custkey""",
    "q58_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts)
           AS tns FROM events),
         s1 AS (SELECT *, CASE WHEN lag(tns) OVER w IS NULL
             OR tns - lag(tns) OVER w > 1800000000000
           THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY tns, event_id)),
         s2 AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
             ORDER BY tns, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id FROM s1),
         t AS (SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id, session_id
               ORDER BY tns, event_id) AS prev_type
           FROM s2)
         SELECT prev_type, next_type, count(*) AS n FROM t
         WHERE prev_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY prev_type, next_type""",
    // generation = orderkey % 3 + 1; pre-evolution columns are NULL for
    // early generations under mergeSchema
    "q57_schema_evolution" ->
      """SELECT CAST(o_orderkey % 3 + 1 AS INT) AS g,
         CASE WHEN o_orderkey % 3 + 1 >= 2 THEN o_orderpriority
           ELSE '<pre-evolution>' END AS priority,
         count(*) AS n,
         CAST(sum(CASE WHEN o_orderkey % 3 + 1 < 3 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_no_status,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price
         FROM orders GROUP BY 1, 2 ORDER BY g, priority""",
    "q56_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tns FROM events),
         lo AS (SELECT min(tns) AS lo FROM e),
         active AS (SELECT DISTINCT user_id,
             (tns - lo) // 86400000000000 AS day
           FROM e, lo),
         firsts AS (SELECT user_id, min(day) AS cohort FROM active
           GROUP BY user_id),
         sizes AS (SELECT cohort, count(*)::BIGINT AS cohort_size
           FROM firsts GROUP BY cohort),
         cells AS (SELECT f.cohort, a.day, count(*)::BIGINT AS n_active
           FROM active a JOIN firsts f USING (user_id)
           GROUP BY f.cohort, a.day)
         SELECT c.cohort, c.day - c.cohort AS day_offset, c.n_active,
           s.cohort_size,
           (c.n_active * 1000000) // s.cohort_size AS retention_fp
         FROM cells c JOIN sizes s USING (cohort)
         ORDER BY cohort, day_offset""",
    // exact-integer two-sample chi-square; HUGEINT carries diff² like
    // the decimal(38,0) path, `//` and `div` both truncate toward zero
    "q55_drift_chi2" ->
      """WITH e AS (SELECT epoch_ns(ts) AS tns, event_type, value
           FROM events),
         m AS (SELECT min(tns) + (max(tns) - min(tns)) // 2 AS mid FROM e),
         cells AS (SELECT event_type,
             least(CAST(floor(value) AS BIGINT) // 32, 15) AS bin,
             CAST(sum(CASE WHEN tns <= mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN tns > mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n2
           FROM e, m GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(n1) AS BIGINT) AS tn1,
             CAST(sum(n2) AS BIGINT) AS tn2
           FROM cells GROUP BY 1),
         j AS (SELECT c.event_type, c.bin, c.n1, c.n2, t.tn1, t.tn2,
             CAST(c.n1 AS HUGEINT) * t.tn2 - CAST(c.n2 AS HUGEINT) * t.tn1
               AS diff
           FROM cells c JOIN tot t USING (event_type))
         SELECT event_type, bin, n1, n2,
           CAST(CASE WHEN tn1 = 0 OR tn2 = 0 THEN NULL
             ELSE (diff * diff * 1000000) //
               (CAST(tn1 AS HUGEINT) * tn2 * (n1 + n2)) END AS BIGINT)
             AS chi2_fp
         FROM j ORDER BY event_type, bin""",
    "q53_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns
           FROM events),
         s1 AS (SELECT user_id, event_type, tns,
           min(CASE WHEN event_type = 'view' THEN tns END)
             OVER (PARTITION BY user_id) AS t1 FROM e),
         s2 AS (SELECT user_id, event_type, tns, t1,
           min(CASE WHEN event_type = 'click' AND tns > t1 THEN tns END)
             OVER (PARTITION BY user_id) AS t2 FROM s1),
         s3 AS (SELECT user_id, t1, t2,
           min(CASE WHEN event_type = 'purchase' AND tns > t2 THEN tns END)
             OVER (PARTITION BY user_id) AS t3 FROM s2),
         u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
           FROM s3 GROUP BY user_id),
         st AS (SELECT user_id, t1, t3,
           CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage FROM u)
         SELECT CAST(stage AS BIGINT) AS stage, count(*) AS n_users,
           CAST(coalesce(sum(CASE WHEN stage = 3 THEN t3 - t1 END), 0)
             AS BIGINT) AS sum_lag_ns
         FROM st GROUP BY stage ORDER BY stage""",
    // log replay in predicate form: v1 = pre-1998, v2 = pre-2000,
    // v3 = everything minus pre-1998 status-'F' rows (the v3 rewrite)
    // COW merge replay, layout-independent: band rows +10, band copy
    // shifted past the domain appended
    "q68_merge_cow" ->
      """WITH mx AS (SELECT max(l_orderkey) AS mk FROM lineitem),
         upd AS (SELECT l_returnflag,
             CASE WHEN l_orderkey BETWEEN mk // 4 AND mk // 4 + mk // 100
               THEN l_quantity + 10 ELSE l_quantity END AS q
           FROM lineitem, mx),
         ins AS (SELECT l_returnflag, l_quantity AS q FROM lineitem, mx
           WHERE l_orderkey BETWEEN mk // 4 AND mk // 4 + mk // 100)
         SELECT l_returnflag, count(*)::BIGINT AS n_items,
           CAST(sum(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         GROUP BY 1 ORDER BY 1""",
    // changelog semantics replayed from the source table: deletes are
    // the rows the v3 rewrite dropped (pre-1998 status F), inserts are
    // the v3 load (>= 2000); carry-over rewrite rows cancel
    "q66_changelog_diff" ->
      """WITH del AS (SELECT o_orderstatus AS status, o_orderkey
           FROM orders
           WHERE o_orderdate < TIMESTAMP '1998-01-01'
             AND o_orderstatus = 'F'),
         ins AS (SELECT o_orderstatus AS status, o_orderkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01')
         SELECT 'delete' AS change_type, status, count(*)::BIGINT AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM del GROUP BY 2
         UNION ALL
         SELECT 'insert' AS change_type, status, count(*)::BIGINT AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM ins GROUP BY 2
         ORDER BY 1, 2""",
    // end-state replay per version from the source table: v2 = all,
    // v3 = minus the early-F rewrite, v4 = v3 minus the early cheap
    // rows; the conflict attempt shows the unchanged v3 state
    // replays each catalog version's expected state from `orders`
    // alone: v1/v2 are the 1997 cut (the compaction is content-
    // identical by contract), v3 is the 1999 cut — a torn publish or a
    // lost compaction changes some version's aggregates and hash-fails
    "q70_multi_table_txn" ->
      """WITH s1 AS (SELECT
             count(DISTINCT o_orderpriority)::BIGINT AS np,
             CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT)),
               0) AS BIGINT) AS t,
             count(*)::BIGINT AS n
           FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
         s2 AS (SELECT
             count(DISTINCT o_orderpriority)::BIGINT AS np,
             CAST(coalesce(sum(CAST(floor(o_totalprice * 100) AS BIGINT)),
               0) AS BIGINT) AS t,
             count(*)::BIGINT AS n
           FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01')
         SELECT * FROM (
           SELECT 1::BIGINT AS version, 'base' AS event, np AS n_a_rows,
             t AS sum_a_fp, n AS n_orders, t AS sum_b_fp,
             1::BIGINT AS consistent FROM s1
           UNION ALL SELECT 2, 'compact_a', np, t, n, t, 1 FROM s1
           UNION ALL SELECT 3, 'txn_commit', np, t, n, t, 1 FROM s2)
         ORDER BY version""",
    "q69_occ_conflict" ->
      """WITH early AS (SELECT o_orderdate < TIMESTAMP '1998-01-01' AS e,
             o_orderstatus AS st, o_totalprice AS p FROM orders),
         st AS (SELECT
           count(*)::BIGINT AS n2,
           CAST(sum(CAST(floor(p * 100) AS BIGINT)) AS BIGINT) AS t2,
           count(*) FILTER (WHERE NOT (e AND st = 'F'))::BIGINT AS n3,
           CAST(sum(CAST(floor(p * 100) AS BIGINT))
             FILTER (WHERE NOT (e AND st = 'F')) AS BIGINT) AS t3,
           count(*) FILTER (WHERE NOT (e AND st = 'F')
             AND NOT (e AND st <> 'F' AND p < 50000))::BIGINT AS n4,
           CAST(sum(CAST(floor(p * 100) AS BIGINT))
             FILTER (WHERE NOT (e AND st = 'F')
               AND NOT (e AND st <> 'F' AND p < 50000)) AS BIGINT) AS t4
           FROM early)
         SELECT * FROM (
           SELECT 1::BIGINT AS attempt, 'appender' AS writer,
             1::BIGINT AS base_version, 'committed' AS outcome,
             2::BIGINT AS version, n2 AS n_rows, t2 AS total_fp FROM st
           UNION ALL SELECT 2, 'rewriter1', 1, 'committed', 3, n3, t3 FROM st
           UNION ALL SELECT 3, 'rewriter2', 1, 'conflict', 3, n3, t3 FROM st
           UNION ALL SELECT 4, 'rewriter2', 3, 'committed', 4, n4, t4 FROM st)
         ORDER BY attempt""",
    // q52's history plus the restore commit: v4 must equal v2 exactly
    // (metadata-only rollback), with v3 still readable in between
    "q71_restore_snapshot" ->
      """WITH snap AS (
         SELECT 1::BIGINT AS version, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
         UNION ALL
         SELECT 2::BIGINT, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
         UNION ALL
         SELECT 3::BIGINT, o_orderstatus, o_totalprice
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              OR o_orderstatus <> 'F'
         UNION ALL
         SELECT 4::BIGINT, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01')
       SELECT version, o_orderstatus AS status, count(*) AS n,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_fp
       FROM snap GROUP BY 1, 2 ORDER BY version, status""",
    // the history table replayed from the known layout semantics: the
    // active row counts are the q52 snapshot populations
    "q82_metadata_tables" ->
      """WITH c AS (SELECT
           (SELECT count(*) FROM orders
             WHERE o_orderdate < TIMESTAMP '1998-01-01') AS r1,
           (SELECT count(*) FROM orders
             WHERE o_orderdate < TIMESTAMP '2000-01-01') AS r2,
           (SELECT count(*) FROM orders
             WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                OR o_orderstatus <> 'F') AS r3)
         SELECT 1::BIGINT AS version, 1::BIGINT AS n_active_files,
           1::BIGINT AS n_added, 0::BIGINT AS n_removed,
           r1::BIGINT AS rows_active FROM c
         UNION ALL SELECT 2, 2, 1, 0, r2 FROM c
         UNION ALL SELECT 3, 3, 2, 1, r3 FROM c
         ORDER BY version""",
    // branch replay stacks the branch log on its base snapshot: audit@3
    // double-counts the quarantined rows (fa and fe both carry them);
    // the cherry-pick restores exactly v3's dropped rows, so main@4 is
    // the full table — a merge would have dragged the stale base along
    "q81_branch_cherry_pick" ->
      """WITH snap AS (
         SELECT 'main' AS branch, 1::BIGINT AS version,
             o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
         UNION ALL
         SELECT 'main', 2::BIGINT, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
         UNION ALL
         SELECT 'main', 3::BIGINT, o_orderstatus, o_totalprice
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              OR o_orderstatus <> 'F'
         UNION ALL
         SELECT 'main', 4::BIGINT, o_orderstatus, o_totalprice FROM orders
         UNION ALL
         SELECT 'audit', 3::BIGINT, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
         UNION ALL
         SELECT 'audit', 3::BIGINT, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
             AND o_orderstatus = 'F')
       SELECT branch, version, o_orderstatus AS status, count(*) AS n,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_fp
       FROM snap GROUP BY 1, 2, 3 ORDER BY branch, version, status""",
    // probe -> version by the same closed-form commit timestamps
    // (1e9 + v*86400): mid-history -> v1, exactly at commit 2 -> v2
    // (the inclusive boundary), after the head -> v3
    "q85_time_travel_asof" ->
      """WITH snap AS (
         SELECT 1::BIGINT AS version, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
         UNION ALL
         SELECT 2::BIGINT, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
         UNION ALL
         SELECT 3::BIGINT, o_orderstatus, o_totalprice
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              OR o_orderstatus <> 'F'),
       probes(probe_ts, version) AS (VALUES
         (1000090000::BIGINT, 1::BIGINT),
         (1000172800::BIGINT, 2::BIGINT),
         (1000999999::BIGINT, 3::BIGINT))
       SELECT p.probe_ts, p.version, s.o_orderstatus AS status,
         count(*) AS n,
         CAST(sum(CAST(floor(s.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_fp
       FROM probes p JOIN snap s ON s.version = p.version
       GROUP BY 1, 2, 3 ORDER BY probe_ts, status""",
    "q86_manifest_two_level" ->
      """WITH mx AS (SELECT max(l_orderkey) AS mk FROM lineitem)
         SELECT l_returnflag, count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
         FROM lineitem, mx
         WHERE l_orderkey BETWEEN mk // 8 AND mk // 4
         GROUP BY 1 ORDER BY 1""",
    "q87_log_checkpointing" ->
      """WITH snaps(src, v) AS (VALUES
           ('v03', 3), ('v07', 7), ('v12', 12), ('asof', 9))
         SELECT s.src, CAST(s.v AS BIGINT) AS version,
           o.o_orderstatus AS status, count(*) AS n,
           CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_fp
         FROM snaps s JOIN orders o
           ON (o.o_custkey % 12) < s.v
          AND NOT (s.v >= 6 AND (o.o_custkey % 12) = 2
                   AND o.o_orderstatus = 'F')
         GROUP BY 1, 2, 3
         ORDER BY src, version, status""",
    "q88_branch_merge" ->
      """WITH snap AS (
         SELECT 'main_v3' AS src, 'committed' AS outcome,
             o_orderstatus, o_totalprice FROM orders
           WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              OR o_orderstatus <> 'F'
         UNION ALL
         SELECT 'etl_head', 'committed', o_orderstatus, o_totalprice
           FROM orders
           WHERE o_orderdate < TIMESTAMP '1998-01-01'
              OR (o_orderdate < TIMESTAMP '2000-01-01'
                  AND o_orderstatus = 'O')
         UNION ALL
         SELECT 'merged_v4', 'committed', o_orderstatus, o_totalprice
           FROM orders
           WHERE (o_orderdate < TIMESTAMP '1998-01-01'
                  AND o_orderstatus <> 'F')
              OR o_orderdate >= TIMESTAMP '2000-01-01'
              OR (o_orderdate >= TIMESTAMP '1998-01-01'
                  AND o_orderdate < TIMESTAMP '2000-01-01'
                  AND o_orderstatus = 'O')
         UNION ALL
         SELECT 'bad_merge', 'rejected', o_orderstatus, o_totalprice
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              OR o_orderstatus <> 'F')
       SELECT src, outcome, o_orderstatus AS status, count(*) AS n,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_fp
       FROM snap GROUP BY 1, 2, 3 ORDER BY src, status""",
    "q52_time_travel" ->
      """WITH snap AS (
         SELECT 1::BIGINT AS version, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
         UNION ALL
         SELECT 2::BIGINT, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
         UNION ALL
         SELECT 3::BIGINT, o_orderstatus, o_totalprice
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              OR o_orderstatus <> 'F')
       SELECT version, o_orderstatus AS status, count(*) AS n,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_fp
       FROM snap GROUP BY 1, 2 ORDER BY version, status""",
    // SCD2 replay: arg_max == max_by over the same packed (date, key)
    // total order; changed customers emit a closed + an open version
    "q51_scd2_merge" ->
      """WITH pre AS (SELECT o_custkey AS custkey,
           arg_max(o_orderpriority,
             date_diff('day', DATE '1970-01-01', o_orderdate) * 10000000000
               + o_orderkey) AS attr
         FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
         GROUP BY 1),
       post AS (SELECT o_custkey AS custkey,
           arg_max(o_orderpriority,
             date_diff('day', DATE '1970-01-01', o_orderdate) * 10000000000
               + o_orderkey) AS new_attr,
           arg_max(strftime(o_orderdate, '%Y-%m-%d'),
             date_diff('day', DATE '1970-01-01', o_orderdate) * 10000000000
               + o_orderkey) AS chg_date
         FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
         GROUP BY 1),
       dim AS (SELECT c.c_custkey AS custkey,
           coalesce(pre.attr, 'NONE') AS attr, post.new_attr, post.chg_date
         FROM customer c
         LEFT JOIN pre ON pre.custkey = c.c_custkey
         LEFT JOIN post ON post.custkey = c.c_custkey)
       SELECT custkey, version, attr, valid_from, valid_to FROM (
         SELECT custkey, 1::BIGINT AS version, attr,
             '1990-01-01' AS valid_from,
             CASE WHEN new_attr IS NOT NULL AND new_attr <> attr
               THEN chg_date ELSE '9999-12-31' END AS valid_to
           FROM dim
         UNION ALL
         SELECT custkey, 2::BIGINT, new_attr, chg_date, '9999-12-31'
           FROM dim WHERE new_attr IS NOT NULL AND new_attr <> attr)
       ORDER BY custkey, version""",
    // replay of the merge: a row survives iff it was upserted (delta
    // wins, quantity+1) or neither deleted nor superseded
    // layout-independent truth: zone maps only skip files that cannot
    // match, so the pruned scan equals the plain BETWEEN replay
    "q65_manifest_skipping" ->
      """WITH mx AS (SELECT max(l_orderkey) AS mk FROM lineitem)
         SELECT l_returnflag, count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
         FROM lineitem, mx
         WHERE l_orderkey BETWEEN mk // 4 AND mk // 2
         GROUP BY 1 ORDER BY 1""",
    // the WAP contract, layout-independent: base + good delta publish,
    // the duplicated delta fails its PK audit and never reaches readers
    "q61_wap_publish" ->
      """WITH c0 AS (SELECT count(*) AS n FROM lineitem
           WHERE l_orderkey % 3 = 0),
         c1 AS (SELECT count(*) AS n FROM lineitem WHERE l_orderkey % 3 = 1),
         c2 AS (SELECT count(*) AS n FROM lineitem WHERE l_orderkey % 3 = 2)
         SELECT * FROM (
           SELECT 'snap0' AS name, n AS n_rows, 0::BIGINT AS n_dup_keys,
             true AS audit_ok, true AS published FROM c0
           UNION ALL SELECT 'snap1', n, 0::BIGINT, true, true FROM c1
           UNION ALL SELECT 'snap2', 2 * n, n, false, false FROM c2
           UNION ALL SELECT 'view', c0.n + c1.n, 0::BIGINT, true, true
             FROM c0, c1)
         ORDER BY name""",
    // layout-independent truth: the vacuumed table equals the plain
    // predicate delete (key-range + uniform), whatever the file split
    "q59_dv_vacuum" ->
      """WITH mx AS (SELECT max(l_orderkey) AS mk FROM lineitem)
         SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem, mx
         WHERE NOT (l_orderkey < mk // 4
           OR (l_orderkey + l_linenumber) % 29 = 3)
         GROUP BY 1 ORDER BY 1""",
    // full recompute: merging partial (count, sum) states must equal the
    // one-shot aggregate — the algebraic-merge property under test
    "q63_incremental_mv" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag,
         count(*) AS n_items,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / count(*)::DOUBLE AS avg_qty
       FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    // live set replay: gen0 survives unless PK-deleted (seq 1 < 2) or
    // supp-deleted (1 < 4); the seq-3 re-inserts outlive the seq-2 PK
    // delete and die only to the seq-4 supplier delete
    "q62_equality_deletes" ->
      """WITH live AS (
           SELECT l_shipdate, l_quantity, l_suppkey FROM lineitem
           WHERE l_orderkey % 19 <> 3 AND l_suppkey % 23 <> 7
           UNION ALL
           SELECT l_shipdate, l_quantity + 5, l_suppkey FROM lineitem
           WHERE l_orderkey % 19 = 3 AND l_suppkey % 23 <> 7)
         SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(DISTINCT l_suppkey) AS n_supp
         FROM live GROUP BY 1 ORDER BY 1""",
    "q50_merge_on_read" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         count(*) AS n_items,
         CAST(sum(CAST(CASE WHEN l_orderkey % 17 = 2 THEN l_quantity + 1
             ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       FROM lineitem
       WHERE l_orderkey % 17 = 2
          OR (l_orderkey + l_linenumber) % 13 <> 5
       GROUP BY 1 ORDER BY 1""",
    "q41_compact_small_files" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         count(*) AS n_items,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
       FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q40_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
       m AS (SELECT user_id, us, value,
           CASE WHEN lag(us) OVER w IS NULL
             OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS ns
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       sess AS (SELECT user_id, us, value,
           sum(ns) OVER (PARTITION BY user_id ORDER BY us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM m)
       SELECT user_id, min(us) AS sess_start_us,
         max(us) + 1800000000 AS sess_end_us, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start_us""",
    "q38_salted_skew_join" ->
      """WITH ev AS (SELECT user_id % 8 AS skew_key, value FROM events),
       dim AS (SELECT skew_key, count(*) AS k_total FROM ev GROUP BY 1)
       SELECT e.skew_key, count(*) AS n_events,
         CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
         max(d.k_total) AS dim_total
       FROM ev e JOIN dim d ON e.skew_key = d.skew_key
       GROUP BY 1 ORDER BY 1""",
    "q43_zorder_bigmin" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders
       WHERE o_custkey % 64 BETWEEN 5 AND 37
         AND (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
           BETWEEN 10 AND 53
       GROUP BY 1 ORDER BY 1""",
    // the xy2d state machine replayed as a depth-7 recursive CTE (one
    // step per bit level); (v & s) > 0 becomes (v // s) % 2 = 1 since
    // s is a power of two and v is non-negative
    "q84_hilbert_layout" ->
      """WITH RECURSIVE o AS (
           SELECT o_totalprice, o_orderdate,
             (o_custkey % 64)::BIGINT AS x,
             ((year(o_orderdate) - 1995) * 12
               + month(o_orderdate) - 1)::BIGINT AS y
           FROM orders),
         h AS (
           SELECT o_totalprice, o_orderdate, x, y,
             0::BIGINT AS d, 64::BIGINT AS s
           FROM o
           UNION ALL
           SELECT o_totalprice, o_orderdate,
             CASE WHEN ry = 0 THEN
               CASE WHEN rx = 1 THEN 127 - y ELSE y END ELSE x END AS x,
             CASE WHEN ry = 0 THEN
               CASE WHEN rx = 1 THEN 127 - x ELSE x END ELSE y END AS y,
             d + s * s * xor(3 * rx, ry) AS d,
             s // 2 AS s
           FROM (
             SELECT o_totalprice, o_orderdate, x, y, d, s,
               (x // s) % 2 AS rx, (y // s) % 2 AS ry
             FROM h WHERE s > 0))
       SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM h WHERE s = 0 AND d BETWEEN 512 AND 767
       GROUP BY 1 ORDER BY 1""",
    "q37_zorder_layout" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders
       WHERE o_custkey % 64 BETWEEN 8 AND 15
         AND (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
           BETWEEN 24 AND 31
       GROUP BY 1 ORDER BY 1""",
    "q32_pivot" ->
      """SELECT o_orderpriority,
         coalesce(CAST(sum(CASE WHEN o_orderstatus = 'F'
           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
           AS total_f,
         coalesce(CAST(sum(CASE WHEN o_orderstatus = 'O'
           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
           AS total_o,
         coalesce(CAST(sum(CASE WHEN o_orderstatus = 'P'
           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
           AS total_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q17_sessionize_batch" ->
      """SELECT user_id, session_id, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM (SELECT user_id, value,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM (SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000000
             THEN 1 ELSE 0 END AS new_sess
             FROM events))
         GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q20_sliding_window" ->
      """SELECT win_start_s AS window_start, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM (SELECT value,
             (epoch_ns(ts) // 1800000000000 - k) * 1800 AS win_start_s,
             epoch_ns(ts) AS tns
           FROM events, (SELECT unnest([0, 1]) AS k))
         WHERE tns < win_start_s * 1000000000 + 3600000000000
           AND win_start_s >= 0
         GROUP BY win_start_s ORDER BY window_start""",
    "q21_anti_semi" ->
      """SELECT
         (SELECT count(*) FROM part WHERE p_partkey NOT IN
           (SELECT l_partkey FROM lineitem)) AS n_unshipped_parts,
         (SELECT count(*) FROM supplier WHERE s_suppkey IN
           (SELECT l_suppkey FROM lineitem)) AS n_active_suppliers""",
    "q22_percentiles" ->
      """SELECT o_orderstatus,
         quantile_cont(o_totalprice, 0.5) AS median_price,
         quantile_cont(o_totalprice, 0.9) AS p90_price,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q35_partition_pruning" ->
      """WITH dim AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
         FROM orders
         WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1994)
       SELECT d.ship_month, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM lineitem l JOIN dim d ON strftime(l.l_shipdate, '%Y-%m') = d.ship_month
       GROUP BY 1 ORDER BY 1""",
    "q33_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q34_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
         coalesce(l_linestatus, '<all>') AS l_linestatus,
         CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         count(*) AS cnt,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           (l_returnflag), (l_linestatus), ())
         ORDER BY gid, l_returnflag, l_linestatus""",
    "q18_rollup" ->
      """SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
         coalesce(l_linestatus, '<all>') AS l_linestatus,
         count(*) AS cnt,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag, l_linestatus""",
    "q19_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         count(*) AS n FROM events GROUP BY k ORDER BY k""",
    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1.0 - l_discount) AS revenue
         FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "q02_ctas" ->
      """SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_custkey ORDER BY o_custkey""",
    "q03_agg_group" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q04_agg_total" ->
      """SELECT count(*) AS n_rows,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
         FROM lineitem""",
    "q05_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q06_join_chain" ->
      """SELECT r_name, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q07_order_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""",
    "q08_first_in_group" ->
      """SELECT o_custkey, arg_min(o_totalprice, o_orderkey) AS first_price,
         count(*) AS n FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q09_subset_rekey" ->
      """SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS id_dim,
         l_orderkey, l_linenumber, l_quantity
         FROM lineitem WHERE l_quantity >= 49
         ORDER BY id_dim""",
    "q10_multi_insert" ->
      """SELECT r_name, count(*) AS n FROM (
           SELECT r_regionkey, r_name FROM region
           UNION ALL SELECT 90, 'GRAFTLAND'
           UNION ALL SELECT 91, 'OPHIDIA'
           UNION ALL SELECT 92, 'GRAFTLAND')
         GROUP BY r_name ORDER BY r_name""",
    "q11_key_algebra" ->
      """SELECT event_id,
         1 + (event_id - 1) // 10 AS block_id,
         1 + (event_id - 1) % 4 + ((event_id - 1) // 40) * 4 AS block_id2,
         (event_id - 1) % 4
           + ((CASE WHEN ((event_id - 1) // 4) % 10 < 2 THEN 0
                    WHEN ((event_id - 1) // 4) % 10 < 5 THEN 1
                    ELSE 2 END)
              + (((event_id - 1) // 4) // 10) * 3) * 4 + 1 AS id3,
         1 + ((event_id - 1) // 20) % 50 AS mr_idx,
         1 + ((event_id - 1) // 10) % 100 AS dim_idx
         FROM events
         WHERE (event_id - 3) % 7 = 0 AND event_id >= 3 AND event_id <= 9000
         ORDER BY event_id""",
    "q12_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q13_except" ->
      """SELECT p_partkey FROM part
         EXCEPT SELECT l_partkey AS p_partkey FROM lineitem
         ORDER BY p_partkey""",
    "q14_having_subquery" ->
      """SELECT c_nationkey, count(*) AS n,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer GROUP BY c_nationkey
         HAVING sum_bal > (SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) * 10 FROM customer)
         ORDER BY c_nationkey""",
    "q15_window_rank" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders JOIN customer ON o_custkey = c_custkey) t
         WHERE rk <= 3 ORDER BY c_mktsegment, rk""",
    "q16_time_window" ->
      """SELECT epoch_ns(ts) // 3600000000000 * 3600 AS hour, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "q24_asof_join" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS pts,
             arg_max(value, event_id) AS pvalue
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, epoch_us(ts) AS ts, value
           FROM events WHERE event_type = 'click')
       SELECT c.event_id, c.user_id, c.ts, c.value,
         coalesce(p.pts, -1) AS purchase_ts,
         coalesce(p.pvalue, 0.0) AS purchase_value
       FROM c ASOF LEFT JOIN p
         ON c.user_id = p.user_id AND c.ts >= p.pts
       ORDER BY event_id""",
    "q29_union_intersect" ->
      """SELECT (SELECT count(*) FROM
           (SELECT s_nationkey AS nationkey FROM supplier
            INTERSECT
            SELECT c_nationkey FROM customer)) AS n_intersect,
         (SELECT count(*) FROM
           (SELECT s_nationkey AS nationkey FROM supplier
            UNION
            SELECT c_nationkey FROM customer)) AS n_union""",
    "q25_range_join" ->
      """SELECT e.event_id, count(*) AS n_nearby,
         CAST(sum(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_nearby
       FROM events e JOIN events c
         ON e.event_type = 'error' AND c.event_type = 'click'
         AND e.user_id = c.user_id
         AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 300000000
       GROUP BY 1 ORDER BY 1""",
  )
}
