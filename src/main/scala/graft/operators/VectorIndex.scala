package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionMemo

/** The IVF vector index the ANN family ([[SimilarityQueries]]) composes:
  * one global partition of the corpus into cells, then local
  * verification inside the probed cells (gather, then rank) — the
  * DITA-style global-index / local-verify split.
  *
  *  - TRAIN: [[cells]] (exact fixed-point per-cell means, collected:
  *    one row per cell), [[seeds]] (deterministic seed vectors for
  *    codebooks and re-trained quantizers).
  *  - ASSIGN / PROBE against literal centroids: [[assign]] is the narrow
  *    nearest-cell map, [[probe]] the nprobe nearest cells of each query
  *    — a codegen map, no centroid join, no window.
  *  - GATHER: [[gather]] joins the broadcast probes to the rows of the
  *    probed cells, self-matches excluded; [[gatherBucketed]] first
  *    prunes a bucketed table's files to the probed cells.
  *  - RANK: [[nearest]] (ascending distance) and [[best]] (descending
  *    score), both on the bounded [[graft.plans.TopKPerKey]] heap;
  *    [[candidates]] + [[rerank]] are the two-stage retrieval cascade.
  *  - PERSIST: [[persist]], the cell-bucketed (or partitioned) index
  *    write.
  *
  * Vectors are the `a` column (array<double>); queries carry
  * `query_id` and `qa` (plus `qn`, the norm, for cosine). Every
  * distance and score is the same left-fold arithmetic the DuckDB
  * oracles replay, so results are bit-exact across engines. */
object VectorIndex {

  /** Cell id → centroid, sorted by cell id. */
  type Cells = Seq[(Int, Seq[Double])]

  /** Left-fold dot product via the native codegen expression
    * ([[graft.plans.DotProduct]]) — identical evaluation order to
    * DuckDB's list_reduce. */
  def dot(x: Column, y: Column): Column = graft.plans.DotProduct(x, y)

  def norm(x: Column): Column = sqrt(dot(x, x))

  /** Squared L2 through the native codegen kernel
    * ([[graft.plans.L2Distance]]): bit-exact vs the interpreted
    * `aggregate(zip_with(...))` fold the oracles replay. */
  def l2(x: Column, y: Column): Column = graft.plans.L2Distance(x, y)

  /** Cosine of the query vector (`qa`, `qn`) against the row (`a`, `nrm`). */
  def cosine: Column = dot(col("qa"), col("a")) / (col("qn") * col("nrm"))

  /** `v − cent`, elementwise. */
  def residual(v: Column, cent: Column): Column = zip_with(v, cent, _ - _)

  // ---------------------------------------------------------------- train

  /** Exact per-cell means of `a` grouped by `key`: elementwise sums of
    * floor(x·1e9) as longs (order-independent, so every engine agrees),
    * divided back out. Collected — bounded at one row per cell. */
  def cells(df: DataFrame, key: String): Cells =
    df.groupBy(key)
      .agg(ArrayAggregates.ewSumLong(
          transform(col("a"), x => floor(x * 1e9).cast("long"))).as("ssum"),
        count(lit(1)).as("cnt"))
      .select(col(key), transform(col("ssum"),
        v => v.cast("double") / col("cnt").cast("double") / 1e9))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  /** The `k` lowest-`vec_id` values of column `v` in the
    * `vec_id % 31 = stratum` stratum — the deterministic seeding of
    * codebooks and re-trained quantizers. */
  def seeds(df: DataFrame, v: String, stratum: Int, k: Int): Seq[Seq[Double]] = {
    val r = df.filter(col("vec_id") % 31 === stratum).orderBy("vec_id")
      .limit(k).select(v).collect().map(_.getSeq[Double](0)).toSeq
    require(r.length == k, s"need $k seeds in stratum $stratum, got ${r.length}")
    r
  }

  /** The centroid of each row's cell `cell` (a literal map lookup). */
  def centroid(cs: Cells, cell: Column): Column =
    element_at(typedLit(cs.toMap), cell)

  // ------------------------------------------------------- assign / probe

  private def scored(cs: Cells, v: Column, withCent: Boolean): Seq[Column] =
    cs.map { case (c, cent) =>
      val fields = Seq(l2(v, lit(cent.toArray)).as("d"), lit(c).as("c"))
      struct((if (withCent) fields :+ lit(cent.toArray).as("cent") else fields): _*)
    }

  /** Nearest cell of `v` as a narrow codegen map against literal
    * centroids; ties go to the lower cell id (struct order). */
  def assign(cs: Cells, v: Column): Column =
    least(scored(cs, v, withCent = false): _*).getField("c")

  /** The `nprobe` nearest cells of each query (`qa`): one row per
    * (query, probed cell) with every column of `qs` plus `probe_cell`,
    * its rank `crk` (1 = nearest; ties to the lower cell id) and the
    * cell's centroid `cent`. */
  def probe(qs: DataFrame, cs: Cells, nprobe: Int): DataFrame =
    qs.select(col("*"), posexplode(slice(array_sort(
        array(scored(cs, col("qa"), withCent = true): _*)), 1, nprobe))
        .as(Seq("pos", "pc")))
      .select(qs.columns.map(col).toSeq ++ Seq(col("pc.c").as("probe_cell"),
        (col("pos") + 1).as("crk"), col("pc.cent").as("cent")): _*)

  // --------------------------------------------------------------- gather

  /** Rows of `table` in the probed cells, joined to their probes
    * (broadcast), self-matches excluded. Over a scan the join alone
    * picks the cells: a probed-cell filter would prune nothing. */
  def gather(table: DataFrame, probes: DataFrame, cellCol: String): DataFrame =
    table.join(broadcast(probes), col(cellCol) === col("probe_cell"))
      .filter(col("vec_id") =!= col("query_id"))

  /** The cells `probes` reach, collected (bounded by the cell count). */
  def probedCells(probes: DataFrame): Seq[Int] =
    probes.select("probe_cell").distinct().collect().map(_.getInt(0)).sorted.toSeq

  /** [[gather]] over a catalog table bucketed by `cellCol`: the probed
    * cells become a literal `isin` that prunes bucket files at planning
    * time, so the index side never shuffles. Callers gathering several
    * stores over one probe set pass its [[probedCells]] once. */
  def gatherBucketed(table: DataFrame, probes: DataFrame, cellCol: String,
      probed: Seq[Int]): DataFrame =
    gather(table.filter(col(cellCol).isin(probed: _*)), probes, cellCol)

  def gatherBucketed(table: DataFrame, probes: DataFrame, cellCol: String): DataFrame =
    gatherBucketed(table, probes, cellCol, probedCells(probes))

  /** Every (row, query) pair but self-matches: `qs` broadcasts, `rows`
    * streams once. */
  def pairs(rows: DataFrame, qs: DataFrame): DataFrame =
    rows.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("query_id"))

  /** `df`'s `vec_id % m = 0` rows as queries: `query_id`, `qa`, `cols`. */
  def asQueries(df: DataFrame, m: Long, cols: Column*): DataFrame =
    df.filter(col("vec_id") % m === 0)
      .select(col("vec_id").as("query_id") +: col("a").as("qa") +: cols: _*)

  // ----------------------------------------------------------------- rank

  /** `df` + `rank`: the top `k` rows per `keys` by `score` DESC, `tie`
    * ASC — `row_number()` semantics on the bounded heap. */
  def best(df: DataFrame, score: String, k: Int,
      keys: Seq[String] = Seq("query_id"), tie: String = "vec_id"): DataFrame =
    graft.plans.TopKPerKey(df, keys, score, tie, k)

  /** `df` + `rank`: the top `k` rows per `keys` by `dist` ASC, `tie`
    * ASC. The heap ranks DESC, so it sees `-dist + 0.0` (exact; the
    * +0.0 turns a -0.0 into 0.0, and the heap ties ±0.0 as the sort
    * does). */
  def nearest(df: DataFrame, dist: String, k: Int,
      keys: Seq[String] = Seq("query_id")): DataFrame =
    best(df.withColumn("neg_dist", -col(dist) + lit(0.0)), "neg_dist", k, keys)
      .drop("neg_dist")

  /** The neighbor-list output: query_id, the rank (named `rank`),
    * neighbor_id, then `cols`, in (query_id, rank) order. */
  def neighbors(df: DataFrame, rank: String, cols: Column*): DataFrame =
    df.select(Seq(col("query_id"), col("rank").as(rank),
        col("vec_id").as("neighbor_id")) ++ cols: _*)
      .orderBy("query_id", rank)

  /** floor(c · scale) as a long — the fixed-point output form. */
  def fp(c: Column, scale: Double): Column = floor(c * scale).cast("long")

  /** Top-`k` rows per query by cosine over every (row, query) pair:
    * query_id, vec_id, sim, rank. */
  def topSim(rows: DataFrame, qs: DataFrame, k: Int): DataFrame =
    best(pairs(rows.select("vec_id", "a", "nrm"), qs.select("query_id", "qa", "qn"))
      .select(col("query_id"), col("vec_id"), cosine.as("sim")), "sim", k)

  /** Candidate stage of a two-stage retrieval: the cosine top-`c` of
    * each query over the cheap representation (`a`, `nrm` of `rows`). */
  def candidates(rows: DataFrame, qs: DataFrame, c: Int): DataFrame =
    topSim(rows, qs, c).select("query_id", "vec_id")

  /** Rerank stage: the candidates' rows gathered by vec_id (a point
    * lookup, not a second scan), their queries by query_id (broadcast),
    * scored by `score` and cut to the top `k` as `sim`. */
  def rerank(cand: DataFrame, rows: DataFrame, qs: DataFrame, score: Column,
      k: Int): DataFrame =
    best(cand.join(rows, "vec_id").join(broadcast(qs), "query_id")
      .select(col("query_id"), col("vec_id"), score.as("sim")), "sim", k)

  // -------------------------------------------------------------- persist

  /** Per-(session, dir) temp-dir home of the index artifact `name`. */
  def home(s: SparkSession, dir: String, name: String): java.io.File =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${name}_${SessionMemo.pathTag(s, dir)}")

  /** Writes `df` as the table `graft_<name>_<tag>` at [[home]] —
    * 8 buckets on `key`, sorted by (key, vec_id), the persisted IVF
    * layout; or, `partitioned`, one directory per `key` value — and
    * returns the table name. */
  def persist(df: DataFrame, key: String, name: String, dir: String,
      partitioned: Boolean = false): String = {
    val h = home(df.sparkSession, dir, name)
    val w = if (partitioned) df.write.partitionBy(key)
      else df.repartition(8, col(key)).write.bucketBy(8, key).sortBy(key, "vec_id")
    w.option("path", h.getAbsolutePath).mode("overwrite").saveAsTable(h.getName)
    h.getName
  }
}
