package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Engine, SessionMemo, Tables}
import graft.functions.KeyAlgebra.ldiv
import VectorIndex._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * s01 is the exact brute-force baseline: the query set is tiny and
  * broadcast, so the scan side streams once with no shuffle — the correct
  * plan at 100 TB (k·n dot products, embarrassingly parallel).
  *
  * s02 is the scale path: IVF — a coarse quantizer (here: per-label
  * centroids, computed with exact fixed-point elementwise sums) routes
  * each query to its nearest centroid's bucket, and only that bucket is
  * scanned (nprobe=1). At 100 TB the buckets are the partition keys, so
  * a probe touches 1/k of the data.
  *
  * Every query here is a composition of [[VectorIndex]]: train the
  * cells, probe, gather the probed cells, rank on the bounded heap,
  * persist the index — each defined once there.
  *
  * On the `vec_id % 50` that recurs through this family: it is the
  * WORKLOAD definition ("queries = 2% of the corpus"), not an internal
  * algorithm parameter — the oracles replay the same modulus, and it
  * deliberately stays fixed so query count grows with the corpus the way
  * a real serving workload does. INTERNAL sampling parameters are the
  * opposite: they must be size-derived (the s13/d23 idiom —
  * `greatest(k, n/100)` from a count(*)) or the sampled stage goes
  * quadratic at scale. For the scan-stage baselines (s01, s16) the
  * product queries × corpus is the quantity that grows at 100 TB; the
  * indexed variants (s02/s09 IVF, s03 LSH) bound per-query work and are
  * the deployment path — the scan baselines exist as their recall
  * yardstick, run on samples, not the full corpus.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("a", col("embedding").cast("array<double>"))

  /** [[emb]] with its norm `nrm`; zero-norm vectors have no cosine. */
  private def normed(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).withColumn("nrm", norm(col("a"))).filter(col("nrm") > 0.0)

  /** s01 — brute-force cosine top-5 for query vectors (vec_id % 50 = 0),
    * rank by (sim desc, vec_id) with self excluded. */
  def s01_ann_bruteforce(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normed(s, dir)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val ranked = pairs(base, asQueries(base, 50, col("nrm").as("qn")))
      .withColumn("sim", cosine)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
    neighbors(ranked, "rank", col("sim"))
  }

  /** s02 — IVF (nprobe=1): centroid per label via exact fixed-point mean,
    * query → nearest centroid (L2², lowest label wins ties) → top-3
    * within that bucket by (L2² asc, vec_id). */
  def s02_ann_ivf(s: SparkSession, dir: String): DataFrame =
    ivfTopk(s, dir, 50L, 1)
      // the gathered row's own label is the probed cell (join key)
      .select(col("query_id"), col("label").as("probe_label"),
        col("rank"), col("vec_id").as("neighbor_id"), col("dist"))
      .orderBy("query_id", "rank")

  /** In-query IVF top-3 over the label cells — s02/s03 pin the reference
    * modulus 50; s13 passes its size-derived one so the eval's query
    * sample stays constant-size at any scale. */
  private def ivfTopk(s: SparkSession, dir: String, modulus: Long,
      nprobe: Int): DataFrame = {
    val base = emb(s, dir)
    val probes = probe(asQueries(base, modulus), cells(base, "label"), nprobe)
    nearest(gather(base, probes, "label")
      .withColumn("dist", l2(col("qa"), col("a"))), "dist", 3)
  }

  /** s03 — multi-probe IVF (nprobe=3): probing the 3 nearest centroid
    * buckets recovers most of the recall single-probe IVF loses at the
    * bucket boundary, still touching only nprobe/k of the data. Top-3
    * across the union of probed buckets. */
  def s03_ann_ivf_multiprobe(s: SparkSession, dir: String): DataFrame =
    neighbors(ivfTopk(s, dir, 50L, 3), "rank", col("dist"))

  /** The shared int8-quantized vector store: original doubles + norms,
    * the dequantized int8 view + its norms, persisted and eagerly
    * materialized ONCE per (session, dir) — s04 and s05 share it.
    * CollapseProject would otherwise inline the 64-element quantize
    * transform into the dot product and re-run it per candidate PAIR
    * instead of per vector. */
  private def quantizedStore(s: SparkSession, dir: String): DataFrame =
    SessionMemo.memoize(s, "ann:quantizedStore:" + dir) {
      val df = emb(s, dir)
        .withColumn("nrm", norm(col("a")))
        .withColumn("amax", array_max(transform(col("a"), x => abs(x))))
        .withColumn("scale",
          when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax") / 127.0))
        // trunc toward zero == cast long (|x/scale| ≤ 127, exact)
        .withColumn("da", transform(col("a"),
          x => (x / col("scale")).cast("long").cast("double") * col("scale")))
        .withColumn("dnrm", norm(col("da")))
        .select("vec_id", "a", "nrm", "da", "dnrm")
        .persist()
      Engine.materialize(df)
      df
    }

  /** The quantized view of [[quantizedStore]] as (vec_id, a, nrm). */
  private def dequantized(store: DataFrame): DataFrame =
    store.select(col("vec_id"), col("da").as("a"), col("dnrm").as("nrm"))

  /** s04 — int8-quantized ANN: per-vector symmetric quantization
    * (scale = max|x|/127, q = trunc(x/scale) ∈ [-127,127] — an 8×
    * smaller vector store), cosine top-5 computed on the DEQUANTIZED
    * vectors for both sides. Rank/tie rules as s01; zero-norm
    * dequantized vectors (all components under one quantum) drop out of
    * both sides. At 100 TB the int8 store is what actually ships to the
    * executors; the scan shape is s01's broadcast-query stream. */
  def s04_ann_quantized(s: SparkSession, dir: String): DataFrame = {
    val base = dequantized(quantizedStore(s, dir).filter(col("dnrm") > 0.0))
    neighbors(topSim(base, asQueries(base, 50, col("nrm").as("qn")), 5),
      "rank", col("sim"))
  }

  /** s05 — two-stage retrieval cascade: the int8-quantized metric
    * (s04's store) proposes top-20 recall candidates per query, then
    * full-precision cosine reranks the survivors to the final top-5.
    * The cheap metric touches every vector; the exact one touches 20
    * gathered rows per query — at 100 TB stage 2 is a point-lookup join
    * on vec_id against the full-precision store, not a second scan.
    * Rank/tie rules as s01. */
  def s05_ann_rerank(s: SparkSession, dir: String): DataFrame = {
    val base = quantizedStore(s, dir)
      .filter(col("dnrm") > 0.0 && col("nrm") > 0.0)
    val q = dequantized(base)
    cascade(candidates(q, asQueries(q, 50, col("nrm").as("qn")), 20), base)
  }

  /** The exact stage shared by s05/s11: full-vector cosine over the
    * candidates, top-5 as the s01 output. */
  private def cascade(cand: DataFrame, base: DataFrame): DataFrame =
    neighbors(rerank(cand, base.select("vec_id", "a", "nrm"),
      asQueries(base, 50, col("nrm").as("qn")), cosine, 5), "rank", col("sim"))

  /** s06 — s01's brute-force top-5, planned through the custom
    * [[graft.plans.TopKPerKey]] whole-operator extension (LogicalPlan +
    * Strategy + SparkPlan): bounded per-key heaps replace the
    * Exchange→Sort→Window→Filter chain — O(n log k) and O(keys·k)
    * memory instead of a full per-key sort. Same rank/tie semantics as
    * s01, so it shares s01's DuckDB oracle shape. */
  def s06_ann_topk_operator(s: SparkSession, dir: String): DataFrame = {
    val base = normed(s, dir)
    neighbors(topSim(base, asQueries(base, 50, col("nrm").as("qn")), 5),
      "rank", col("sim"))
  }

  /** s10 — FILTERED vector search (hybrid search): top-5 cosine
    * neighbors among only the candidates passing a metadata predicate
    * (label ∈ [2,5]) — the production retrieval shape where every query
    * carries structured filters next to the vector. The predicate is
    * applied BEFORE the distance computation so it reaches the parquet
    * scan as a pushed filter (PlanSpec pins it): at 100 TB the
    * label-filtered scan reads a fraction of the corpus and the rest of
    * the plan is s06's — broadcast query set, one streamed candidate
    * pass, bounded TopKPerKey ranking. Post-filtering a plain ANN top-k
    * instead would break the k-guarantee (filtered-out neighbors eat
    * the budget); filtering first keeps the result exactly the top-5 of
    * the allowed subset, which is what the oracle states. Queries come
    * from the FULL set — a query need not satisfy its own filter. */
  def s10_ann_filtered(s: SparkSession, dir: String): DataFrame = {
    val base = normed(s, dir)
    neighbors(topSim(base.filter(col("label").between(2, 5)),
      asQueries(base, 50, col("nrm").as("qn")), 5), "rank", col("sim"))
  }

  /** s07 — exact cosine RANGE search (every neighbor with sim ≥ θ, not
    * top-k) with block-norm pruning: each vector precomputes the norms
    * of its 8 8-dim blocks, and Cauchy–Schwarz per block gives
    * q·v ≤ Σ_j |q_j||v_j| — an 8-multiply upper bound screened before
    * the 64-multiply exact dot product. The bound is mathematically ≥
    * the true cosine (a 1e-9 slack absorbs float error), so pruning
    * NEVER loses a result — the output is exact and oracle-matched
    * against the unpruned brute force. At 100 TB this is the shape of a
    * block-max scan: the wide vector column stays unread for the ~P%
    * of rows the screen rejects (with a columnar layout the blocks
    * would be their own columns).
    *
    * The query-set modulus is DATA-DERIVED: `vec_id % m` with m the
    * smallest power of two ≥ n/128 (and ≥ 20, the historical value at
    * the oracle SFs, where the derivation is a no-op). A fixed modulus
    * makes the query WORKLOAD grow with the corpus and the probe
    * quadratic — a range-search operator's cost should be
    * (bounded query set) × corpus, and the DuckDB oracle replays the
    * same integer derivation from count(*). */
  def s07_range_search(s: SparkSession, dir: String): DataFrame = {
    val theta = 0.3
    val n = Tables.embeddings(s, dir).count()
    val m = math.max(20L,
      1L << graft.core.AutoScale.bandBits(n, target = 128, minB = 0, maxB = 40))
    val blockNorms = (j: Column) =>
      sqrt(aggregate(slice(col("a"), j * 8 + 1, lit(8)), lit(0.0),
        (acc, x) => acc + x * x))
    val base = normed(s, dir)
      .withColumn("bn", transform(sequence(lit(0), lit(7)), blockNorms))
    pairs(base, asQueries(base, m, col("nrm").as("qn"), col("bn").as("qbn")))
      .withColumn("bound",
        aggregate(zip_with(col("qbn"), col("bn"), (p, q) => p * q),
          lit(0.0), _ + _) / (col("qn") * col("nrm")))
      .filter(col("bound") >= theta - 1e-9) // the 8-mult screen
      .withColumn("sim", cosine)
      .filter(col("sim") >= theta)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "neighbor_id")
  }

  /** s11 — Matryoshka (prefix-dimension) retrieval: the coarse pass
    * ranks by cosine over only the FIRST 16 of 64 dimensions — the
    * nested-prefix property of Matryoshka representation learning
    * (Kusupati et al. 2022): a prefix of the embedding is itself a
    * usable lower-capacity embedding — then the top-20 survivors per
    * query are reranked with the full 64-dim cosine to the final
    * top-5. Stage 1 reads 1/4 of the vector bytes per candidate (at
    * 100 TB with the prefix stored as its own column the scan itself
    * shrinks 4×, the same column-pruning shape as s07's block screen);
    * stage 2 is a point-lookup join on the 20·|Q| surviving vec_ids,
    * not a second scan. Rank/tie rules as s01/s05 (desc sim, then
    * vec_id); both stages replay bit-exact in SQL via the shared
    * left-fold dot. */
  def s11_ann_matryoshka(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
      .withColumn("p", slice(col("a"), 1, 16))
      .withColumn("nrm", norm(col("a")))
      .withColumn("pnrm", norm(col("p")))
      .filter(col("nrm") > 0.0 && col("pnrm") > 0.0)
    // stage 1: 16-dim prefix cosine — 16 multiplies/candidate
    val pre = base.select(col("vec_id"), col("p").as("a"), col("pnrm").as("nrm"))
    cascade(candidates(pre, asQueries(pre, 50, col("nrm").as("qn")), 20), base)
  }

  /** s08 — product quantization (PQ) with asymmetric distance (Jégou
    * et al.): the 64-dim space splits into M=8 subspaces of 8 dims,
    * each with a K=16-entry codebook, so a database vector compresses
    * 64 doubles → 8 four-bit codes (64×) and a query scores a vector
    * with 8 TABLE LOOKUPS instead of 64 multiplies — each query
    * precomputes its 8×16 lookup table of subspace distances once, and
    * the per-pair ADC estimate is the sum of 8 gathered entries.
    *
    * The codebook is deterministically "trained" (centroid c = the
    * c-th seed vector in vec_id order, seeds = vec_id % 31 == 1) so the
    * full encode → LUT → ADC → top-5 cascade replays bit-for-bit in
    * SQL — same left-fold order everywhere, ties broken by lowest code
    * / lowest vec_id. At 100 TB the codebook is a broadcast constant
    * (collecting K=16 rows is the same model-artifact pattern as c02's
    * centroids), encoding is a map-only pass over the scan, the stored
    * index is 8 bytes/vector, and the ranking runs through the bounded
    * [[graft.plans.TopKPerKey]] heap operator. */
  def s08_ann_pq(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir).select("vec_id", "a")
    // native PQ kernels ([[graft.plans.PQKernels]]): same arithmetic as
    // the HOF formulation (PQKernelSpec pins it), but three flat loops
    // instead of a ~4000-node expression tree — plan+codegen time was
    // the dominant cost of this query at bench scale
    val cb = seeds(base, "a", 1, 16).flatten
    val coded = base.withColumn("codes", graft.plans.PQEncode(col("a"), cb))
    val qs = asQueries(base, 50, graft.plans.PQLut(col("a"), cb).as("qlut"))
    adcTop5(pairs(coded.select("vec_id", "codes"), qs.drop("qa")))
  }

  /** ADC top-5 by (adc asc, vec_id) over PQ candidates — s08/s09. */
  private def adcTop5(cand: DataFrame): DataFrame =
    neighbors(nearest(cand.withColumn("adc",
        graft.plans.PQAdc(col("qlut"), col("codes"))), "adc", 5),
      "rank", fp(col("adc"), 1e6).as("adc_fp"))

  /** Residual PQ codes against the label cells `cs` (s09, and s19's
    * store): each vector's residual to its own cell's centroid, encoded
    * with the codebook of the 16 seed residuals. Returns the coded rows
    * (`r`, `codes`) and the flat codebook. */
  private def pqCode(base: DataFrame, cs: Cells): (DataFrame, Seq[Double]) = {
    val resid = base.withColumn("r", residual(col("a"), centroid(cs, col("label"))))
    val cb = seeds(resid, "r", 1, 16).flatten
    (resid.withColumn("codes", graft.plans.PQEncode(col("r"), cb)), cb)
  }

  /** nprobe=2 probes carrying each probed cell's query-residual LUT
    * (`qlut`) — s09, s19 and s25 probe the IDENTICAL cells by
    * construction. */
  private def pqProbe(qs: DataFrame, cs: Cells, cb: Seq[Double]): DataFrame =
    probe(qs, cs, 2).withColumn("qlut",
      graft.plans.PQLut(residual(col("qa"), col("cent")), cb))

  /** s09 — IVF-PQ, the composition production ANN engines (FAISS
    * IndexIVFPQ) run at billion-vector scale: s02's coarse cells bound
    * WHICH vectors are touched (nprobe/k of the index), s08's product
    * quantization bounds the BYTES per touched vector (8 codes = 8 B
    * instead of 512 B of floats) — except the codes quantize the
    * RESIDUAL a − centroid(cell), which is far better centered than the
    * raw vector, so the same codebook budget buys less distortion.
    * Asymmetric distance: per (query, probed cell) one 8×16 LUT of
    * sub-distances from the query's CELL residual, then each candidate
    * costs 8 lookups. Two cells probed; candidate sets are disjoint
    * (a vector lives in exactly one cell). Everything deterministic —
    * fixed-point centroid means, seed-vector residual codebooks — so
    * the DuckDB oracle replays the full arithmetic. Top-5 through the
    * bounded-heap [[graft.plans.TopKPerKey]] operator.
    *
    * At 100 TB: cells are the PARTITIONING (cluster by cell id at
    * ingest; a probe reads nprobe partitions), the codebook broadcast
    * is 4 KB, and the scan cost per query is nprobe · |cell| · 8
    * lookups — the product of both compressions. */
  def s09_ann_ivf_pq(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val cs = cells(base, "label")
    val (coded, cb) = pqCode(base, cs)
    adcTop5(gather(coded.select("vec_id", "label", "codes"),
      pqProbe(asQueries(base, 50), cs, cb), "label"))
  }

  /** s12 — k-NN self-join: EVERY vector's top-3 in-cell neighbors by
    * cosine — the kNN-graph construction pass under graph-based semantic
    * clustering and kNN-dedup (the edges d14-style component labeling or
    * a community detector would consume). Cells are the IVF coarse
    * buckets (label, as in d06/s02), so the pair space is
    * cluster-bounded, never corpus².
    *
    * Ranking uses fixed-point cosine (floor ×1e9 — dot and norms are
    * left-fold doubles identical in both engines, the division is one
    * correctly-rounded IEEE op, so the floor agrees bitwise) through the
    * bounded [[graft.plans.TopKPerKey]] heap: ≤ k rows per vector reach
    * the exchange, not the full in-cell neighbor list.
    *
    * Cells are DATA-SCALED (the round-11 verdict's s12 item): a label
    * whose population exceeds [[SubCellCap]] is re-quantized into
    * ceil(size/cap) SUB-CELLS — deterministic sub-centroids (the m
    * lowest vec_ids, s02's IVF assignment rule with a sub_idx
    * tie-break), squared-distance argmin assignment — so in-cell pair
    * work is bounded by cap·n instead of going quadratic as the corpus
    * grows past the fixed label set. At the oracle SFs every label is
    * under the cap and the derivation is a no-op (outputs unchanged);
    * the DuckDB oracle replays the same split from count(*). At 100 TB:
    * (label, sub) = partition key, per-cell quadratic work ≤ cap², heap
    * memory O(k) per vector; production would sample seeds instead of
    * the row_number pass and recurse on still-skewed sub-cells. */
  val SubCellCap = 256

  def s12_knn_join(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normed(s, dir).select("vec_id", "label", "a", "nrm").persist()
    Engine.materialize(base) // eager fill: the self-join would race the cache
    // per-label population → sub-cell count m (tiny: one row per label)
    val sizes = base.groupBy("label").agg(count(lit(1)).as("sz"))
      .withColumn("m", expr(s"(sz + ${SubCellCap - 1}) div $SubCellCap"))
    // deterministic sub-centroids for oversized labels only
    val w = Window.partitionBy("label").orderBy("vec_id")
    val subSeeds = base.join(broadcast(sizes.filter(col("m") > 1)), "label")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("m"))
      .select(col("label").as("s_label"),
        (col("rn") - 1).cast("long").as("sub_idx"), col("a").as("sv"))
    // assignment: squared-distance argmin over the label's seeds
    // (sub_idx tie-break); unsplit labels → sub 0
    val subAsg = base.join(broadcast(subSeeds), col("label") === col("s_label"))
      .withColumn("dist2", l2(col("a"), col("sv")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("sub_idx"))).as("ms"))
      .select(col("vec_id"), col("ms.sub_idx").as("sub"))
    // materialize the assigned cells once: the self-join references the
    // subtree twice and would re-run the seed window + assignment on
    // both sides (the d19 localCheckpoint-barrier lesson)
    val sub = base.join(subAsg, Seq("vec_id"), "left")
      .withColumn("sub", coalesce(col("sub"), lit(0L)))
      .localCheckpoint()
    val edges = sub.as("x").join(sub.as("y"),
        col("x.label") === col("y.label") && col("x.sub") === col("y.sub") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr"),
        fp(dot(col("x.a"), col("y.a")) / (col("x.nrm") * col("y.nrm")), 1e9)
          .as("cos_fp"))
    best(edges, "cos_fp", 3, Seq("vec_id"), "nbr")
      .select(col("vec_id"), col("rank"), col("nbr").as("neighbor_id"),
        col("cos_fp"))
      .orderBy("vec_id", "rank")
  }

  /** d20 — graph-based semantic clustering: mutual-kNN edges (a↔b where
    * each ranks the other in its top-3) over the [[s12_knn_join]] graph,
    * closed into clusters by the O(log²n) [[GraphComponents]] pass;
    * vectors with no mutual neighbor stay singletons. Mutuality is the
    * standard symmetrization that keeps hub vectors from welding
    * unrelated clusters together — the curation-pipeline step between
    * pairwise similarity (d06/d12) and a cluster manifest.
    *
    * Scale shape: the kNN edges are already bounded (≤ 3 per vector);
    * the mutual join is edge-keyed; component labeling is the same
    * logarithmic-round machinery d14 uses. Lives here to share s12's
    * oracle CTE. */
  def d20_knn_clusters(s: SparkSession, dir: String): DataFrame = {
    // materialize the (≤ 3n-row) edge list: the mutuality self-join
    // would otherwise evaluate the whole s12 pipeline twice
    val knn = s12_knn_join(s, dir)
      .select(col("vec_id").as("u"), col("neighbor_id").as("v"))
      .localCheckpoint()
    val mutual = knn.as("x").join(knn.as("y"),
        col("x.u") === col("y.v") && col("x.v") === col("y.u") &&
          col("x.u") < col("x.v"))
      .select(col("x.u").as("u"), col("x.v").as("v"))
    val lab = Tables.embeddings(s, dir).select("vec_id")
      .join(GraphComponents.labels(mutual), col("vec_id") === col("node"), "left")
      .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("cluster"))
    lab.join(lab.groupBy("cluster").agg(count(lit(1)).as("n_members")),
        "cluster")
      .select("vec_id", "cluster", "n_members")
      .orderBy("vec_id")
  }

  /** Exact L2² top-3 per query, the recall ground truth of s13/s17:
    * one brute-force pass over the bounded query sample. */
  private def truth(base: DataFrame, qs: DataFrame): DataFrame =
    nearest(pairs(base, qs).withColumn("d2", l2(col("qa"), col("a"))), "d2", 3)
      .select(col("query_id").as("eq"), col("vec_id").as("eid"))

  /** The size-derived recall-eval query modulus max(50, n/100). */
  private def evalModulus(base: DataFrame): Long =
    math.max(50L, base.count() / 100L)

  /** s13 — ANN recall@k evaluation: the tuning loop every approximate
    * index ships with — exact L2 top-3 ground truth (one brute-force
    * pass over the query sample) joined against s02's IVF (nprobe=1)
    * answer, per-query hit counts, and a `query_id = -1` summary row
    * with corpus mean recall at 1e-6 fixed point. This is how nprobe /
    * cell-count knobs get picked: measure recall on a sampled query
    * set, dial until the target, never brute-force the full corpus.
    *
    * Scale shape: the query-sample modulus is SIZE-DERIVED —
    * max(50, n/100), so the sample stays ~100 queries at any corpus
    * size instead of growing with a fixed modulus (a fixed %50 made the
    * exact stage quadratic: 5.9× wall at the 10× probe; derived, it is
    * flat). Ground truth is brute-force ONLY over that bounded sample
    * (broadcast against one corpus scan, s01's shape), the hit check is
    * a LEFT SEMI join on (query, neighbor), and the summary folds
    * |queries| rows — the whole eval is one scan at 100 TB. The oracle
    * replays the modulus from count(*) like every AutoScale knob. */
  def s13_ann_recall(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val modulus = evalModulus(base)
    val qs = asQueries(base, modulus)
    val perQuery = ivfTopk(s, dir, modulus, 1)
      .join(truth(base, qs),
        col("query_id") === col("eq") && col("vec_id") === col("eid"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val all = qs.select("query_id")
      .join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_fp", ldiv(col("n_hits") * 1000000L, lit(3L)))
    val mean = all.agg(lit(-1L).as("query_id"), sum("n_hits").as("n_hits"),
      ldiv(sum("n_hits") * 1000000L, count(lit(1)) * 3L).as("recall_fp"))
    all.unionByName(mean).orderBy("query_id")
  }

  /** s14 — MaxSim late-interaction retrieval (the ColBERT shape): each
    * document is a BAG of token vectors, and score(q, d) =
    * Σ_{t ∈ q} max_{j ∈ d} cos(q_t, d_j) — every query token finds its
    * best-matching document token, and the per-token winners sum. The
    * synthetic corpus has one 64-d vector per row, so the multi-vector
    * layout is materialized by slicing it into four 16-d "token"
    * vectors — a stand-in with the exact plan shape of a real
    * `array<array<float>>` token-embedding column (per-row slice → the
    * interaction matrix is computed inline, never exploded).
    *
    * Two stages, the published late-interaction architecture: a
    * single-vector cosine pass gathers C = 20 candidates per query
    * (s05's plan — brute candidate generation is the recall baseline;
    * s02's IVF is the indexed path), then the 4×4 MaxSim interaction
    * runs ONLY on candidates. The r13 10× probe measured the all-pairs
    * interaction at 169 s vs ~11 s for this shape — with real
    * ~100-token documents the interaction is 100× a dot, so
    * interaction-on-everything is the canonical late-interaction
    * scaling mistake.
    *
    * Scale posture: queries are a tiny broadcast set, the document side
    * streams ONCE through the single-dot scorer inside whole-stage
    * codegen, ranking goes through the bounded TopKPerKey heap operator
    * (no shuffle proportional to the corpus), and the expensive
    * interaction touches C·|queries| rows. At 100 TB with real
    * token-bag columns the same plan holds; only stage 2 widens. */
  def s14_maxsim_multivector(s: SparkSession, dir: String): DataFrame = {
    val T = 4
    // every token vector must have a cosine: all sub-norms positive
    val docs = (0 until T).foldLeft(emb(s, dir)) { (d, t) =>
        d.withColumn(s"t$t", slice(col("a"), t * 16 + 1, 16))
          .withColumn(s"n$t", norm(col(s"t$t")))
      }
      .filter((0 until T).map(t => col(s"n$t") > 0.0).reduce(_ && _))
      .withColumn("nrm", norm(col("a")))
    val qs = asQueries(docs, 50, col("nrm").as("qn") +: (0 until T).flatMap(t =>
      Seq(col(s"t$t").as(s"qt$t"), col(s"n$t").as(s"qn$t"))): _*)
    // stage 1 — ColBERT-style candidate generation: ONE whole-vector
    // cosine per (doc, query) pair. The T² token-level interaction is
    // 16× the arithmetic; running it all-pairs was the r13 probe's
    // 169 s cliff at 10× data. Late-interaction systems gather a
    // candidate set with a single-vector scorer first, then rerank.
    val cand = candidates(docs, qs, 20)
    // stage 2 — Σ_t max_j cos(q_t, d_j) on the C = 20 candidates only:
    // left-to-right sum of per-token maxima, mirrored exactly by the
    // oracle's greatest(...) + greatest(...)
    val score = (0 until T).map { t =>
      greatest((0 until T).map { j =>
        dot(col(s"qt$t"), col(s"t$j")) / (col(s"qn$t") * col(s"n$j"))
      }: _*)
    }.reduceLeft(_ + _)
    neighbors(rerank(cand, docs.select(col("vec_id") +: (0 until T).flatMap(t =>
        Seq(col(s"t$t"), col(s"n$t"))): _*), qs.drop("qa", "qn"), score, 5),
      "rank", col("sim"))
  }

  /** s15 — HYBRID retrieval with reciprocal-rank fusion (the production
    * "BM25 + vectors" shape): the lexical arm is t16's BM25 top-10 over
    * the shared query-term table, the vector arm is cosine top-10 with
    * the query ids' own embeddings (queries-as-documents), and the two
    * rankings fuse by RRF_fp = Σ 1e6 ÷ (60 + rank) — rank-based fusion
    * needs no score normalization across arms, which is exactly why
    * production hybrid search uses it (the BM25 fixed-point and the
    * cosine double are incomparable units). A document missing from one
    * arm contributes only the other term; final ranking re-ranks by
    * (rrf desc, doc_id) through the bounded TopKPerKey heap.
    *
    * Scale shape: both arms are already bounded-output plans (broadcast
    * query sets, TopKPerKey); the fusion joins two ≤ 10·|Q|-row sets —
    * negligible at any corpus size. At 100 TB the cost is the two arm
    * scans, unchanged from t16/s06. */
  def s15_hybrid_rrf(s: SparkSession, dir: String): DataFrame = {
    val lex = TextQueries.t16_bm25_topk(s, dir)
      .select(col("q_id"), col("doc_id"), col("rank").as("lex_rank"))
    val base = normed(s, dir)
    val qs = base.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("a").as("qa"), col("nrm").as("qn"))
    val vec = topSim(base, qs, 10)
      .select(col("query_id").as("q_id"), col("vec_id").as("doc_id"),
        col("rank").as("vec_rank"))
    def rrf(r: Column): Column =
      when(r.isNull, 0L).otherwise(ldiv(lit(1000000L), lit(60L) + r))
    val fused = lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_fp", rrf(col("lex_rank")) + rrf(col("vec_rank")))
      .select(col("q_id"), col("doc_id"), col("rrf_fp"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
    best(fused, "rrf_fp", 10, Seq("q_id"), "doc_id")
      .select("q_id", "rank", "doc_id", "rrf_fp", "lex_rank", "vec_rank")
      .orderBy("q_id", "rank")
  }

  /** s16 — binary (sign-bit) quantization with exact rerank: the 1-bit
    * member of the quantization family (s04 int8, s08/s09 PQ). Each
    * vector compresses to a 63-bit sign word (bit i−1 set when dim i is
    * positive; dim 64 unused so the code fits the oracle's signed
    * BIGINT, the m06 convention); stage 1 ranks candidates per query by
    * Hamming distance on the words — one XOR + popcount per pair, the
    * memory-bandwidth trick binary quantization exists for (8 B/vector
    * instead of 512 B, a 64× smaller scan) — keeping C = 20 through the
    * bounded-heap [[graft.plans.TopKPerKey]]; stage 2 reranks the
    * candidates with the exact cosine and keeps top 5. Sign bits
    * approximate angle like SimHash (d04) approximates text cosine;
    * production variants center each dim first — a preprocessing knob,
    * not a structural change.
    *
    * Scale shape: the code build rides the scan; stage 1's exchange
    * moves ≤ keys·C heap survivors (partial heaps before the shuffle);
    * stage 2 touches C rows per query. Same plan skeleton as s05, so
    * the two quantizers A/B-test cleanly. */
  def s16_ann_binary_quant(s: SparkSession, dir: String): DataFrame = {
    val pows = lit(Array.tabulate(63)(1L << _))
    val base = normed(s, dir)
      .withColumn("code", aggregate(
        zip_with(slice(col("a"), 1, 63), pows,
          (x, p) => when(x > 0.0, p).otherwise(0L)),
        lit(0L), (acc, x) => acc.bitwiseOR(x)))
    val qs = asQueries(base, 50, col("nrm").as("qn"), col("code").as("qcode"))
    val ham = pairs(base.select("vec_id", "code"), qs.select("query_id", "qcode"))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("code").bitwiseXOR(col("qcode"))).as("ham"))
    val cand = nearest(ham, "ham", 20).select("query_id", "vec_id")
    neighbors(rerank(cand, base.select("vec_id", "a", "nrm"),
      qs.select("query_id", "qa", "qn"), cosine, 5), "rank", col("sim"))
  }

  /** s17 — IVF nprobe SWEEP: recall@3 at nprobe ∈ {1, 2, 4, 8} from
    * ONE pass — the actual tuning curve behind the knob s13 evaluates
    * at a single setting. The trick is that fixed-centroid probe order
    * is NESTED: the cells probed at nprobe = p are the first p of the
    * nprobe = 8 list, so one candidate gather tagged with each
    * candidate's CELL RANK answers every sweep point by thresholding —
    * four bounded-heap top-3s over the same candidate frame instead
    * of four index runs. Ground truth is s13's brute-force top-3 over
    * the same size-derived query sample.
    *
    * Scale shape: the sample is AutoScale-bounded (~100 queries at any
    * corpus size), candidates are sample × probed-cell volume (the
    * exact stage s13 already pays dominates), and everything after the
    * gather is ranked per (query, nprobe) group of ≤ probed cells ×
    * cell size. One scan at 100 TB, like s13. */
  def s17_nprobe_sweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = emb(s, dir)
    val qs = asQueries(base, evalModulus(base))
    val cands = gather(base, probe(qs, cells(base, "label"), 8), "label")
      .select(col("query_id"), col("vec_id"),
        l2(col("qa"), col("a")).as("d2"), col("crk"))
      .withColumn("nprobe", explode(array(Seq(1, 2, 4, 8).map(lit): _*)))
      .filter(col("crk") <= col("nprobe"))
    val nq = qs.count()
    val hits = nearest(cands, "d2", 3, Seq("query_id", "nprobe"))
      .join(truth(base, qs),
        col("query_id") === col("eq") && col("vec_id") === col("eid"),
        "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    Seq(1, 2, 4, 8).toDF("nprobe")
      .join(hits, Seq("nprobe"), "left")
      .select(col("nprobe").cast("long").as("nprobe"),
        lit(nq).as("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        ldiv(coalesce(col("n_hits"), lit(0L)) * 1000000L,
          lit(math.max(1L, nq * 3L))).as("recall_fp"))
      .orderBy("nprobe")
  }

  /** The index rows of `df`: each vector with its nearest cell of `cs`. */
  private def cellRows(df: DataFrame, cs: Cells): DataFrame =
    df.withColumn("cell", assign(cs, col("a"))).select("vec_id", "label", "a", "cell")

  /** The MEMOIZED generation-1 IVF build shared by s18 (delta-aware
    * serve), s20 (merge), s21, s22 and s23: the size-derived delta
    * modulus (counted once per build, not per serve), frozen
    * fixed-point centroids over the indexed subset, nearest-cell
    * assignment, cell-bucketed/sorted table. Returns
    * (table, centroids, deltaMod). */
  private def ivfBuild(s: SparkSession, dir: String): (String, Cells, Long) =
    SessionMemo.memoize(s, "s18-ivf:" + dir) {
      val base = emb(s, dir)
      val deltaMod = math.max(97L, base.count() / 50L)
      val indexed = base.filter(col("vec_id") % deltaMod =!= 1L)
      val cs = cells(indexed, "label")
      (persist(cellRows(indexed, cs), "cell", "s18_ivf", dir), cs, deltaMod)
    }

  /** Label-PARTITIONED twin of [[ivfBuild]]'s table (same rows, second
    * layout): s22's narrow single-label serve reads THIS, so the label
    * predicate becomes partition pruning instead of a full index scan —
    * the q76 per-era pruning idiom applied to the vector index. At
    * 100 TB the two layouts are the standard primary/secondary-index
    * trade: one extra copy of the index buys label-pruned filtered
    * serving. */
  private def ivfByLabel(s: SparkSession, dir: String): String = {
    val (t1, _, _) = ivfBuild(s, dir)
    SessionMemo.memoize(s, "s22-bylabel:" + dir) {
      persist(s.table(t1).select("vec_id", "a", "cell", "label"), "label",
        "s22_bylabel", dir, partitioned = true)
    }
  }

  /** s18's serve candidates: the nprobe=2 bucket-pruned index arm
    * (from_delta 0) plus the brute-force delta side-scan (from_delta 1),
    * both with their L2² `d2`, filtered by `keep`. */
  private def deltaServe(idx: DataFrame, delta: DataFrame, qs: DataFrame,
      cs: Cells, keep: Column = lit(true)): DataFrame = {
    def arm(df: DataFrame, fromDelta: Long): DataFrame = df.filter(keep)
      .select(col("query_id"), col("vec_id"),
        l2(col("qa"), col("a")).as("d2"), lit(fromDelta).as("from_delta"))
    arm(gatherBucketed(idx, probe(qs, cs, 2), "cell"), 0L)
      .unionByName(arm(pairs(delta, qs), 1L))
  }

  /** The L2² top-3 serve output: query_id, rk, neighbor_id, d2_fp, `cols`. */
  private def serveTop3(cand: DataFrame, cols: Column*): DataFrame =
    neighbors(nearest(cand, "d2", 3), "rk",
      fp(col("d2"), 1e9).as("d2_fp") +: cols: _*)

  /** s18 — PERSISTED, reusable ANN index (round-14 verdict item 2):
    * every other s-query derives its IVF clustering in-query; real
    * serving amortizes the index. Three pieces:
    *
    *  1. BUILD (paid once, memoized — the q33 ingest idiom): centroids
    *     are computed over the indexed subset (exact fixed-point sums),
    *     every indexed vector is assigned to its nearest centroid with
    *     a NARROW MAP against literal centroids (`least` over
    *     (distance, cell) structs — no shuffle, no window; the cell
    *     count is bounded so the comparison chain stays in codegen),
    *     and the corpus is written as a cell-bucketed, cell-sorted
    *     table — the persisted IVF layout.
    *  2. SERVE: a query batch assigns itself to its top-2 cells
    *     (nprobe=2) against the same literal centroids, the probed
    *     cell set (bounded by the cell count) becomes an `isin` filter
    *     on the bucket column — Spark prunes unprobed BUCKET FILES at
    *     planning time — and the tiny assignment broadcast joins
    *     against the pruned scan. Zero index-side exchange: the index
    *     is never re-clustered, re-shuffled, or re-sorted per batch
    *     (PlanSpec pins this).
    *  3. INCREMENTAL ADD (the d16 delta-vs-index shape): vectors that
    *     arrived since the last rebuild (a bounded set — rebuild
    *     cadence caps it; here the size-derived modulus keeps ~50 rows
    *     at any SF) are NOT in the persisted table; serving scans the
    *     delta brute-force next to the index probe and merges, exactly
    *     how IVF systems serve fresh writes. `from_delta` marks which
    *     side produced each neighbor, proving fresh vectors surface
    *     without a rebuild.
    *
    * At 100 TB: the build is one shuffle paid once per rebuild cadence;
    * per batch, work = probed cells × cell size + |delta| × |batch|,
    * with the index scan reading ONLY probed buckets. Ranking is the
    * bounded heap top-3 per query, never a window over the batch ×
    * cell-size candidate volume. No reference counterpart file — this
    * is the brief's similarity-search lane. */
  def s18_ann_persisted(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val (tbl, cs, deltaMod) = ivfBuild(s, dir)
    serveTop3(deltaServe(s.table(tbl),
      base.filter(col("vec_id") % deltaMod === 1L), asQueries(base, 50), cs),
      col("from_delta"))
  }

  /** The delta-free serve of s20/s23: nprobe=2 bucket-pruned gather
    * over the persisted table `tbl` with its L2² `d2`. */
  private def indexServe(s: SparkSession, dir: String, tbl: String,
      cs: Cells): DataFrame =
    gatherBucketed(s.table(tbl), probe(asQueries(emb(s, dir), 50), cs, 2), "cell")
      .withColumn("d2", l2(col("qa"), col("a")))

  /** s20 — INDEX MERGE, the LSM compaction step s18 implies: s18
    * serves vectors that arrived after the last rebuild from a
    * side-scan; at some point the delta folds INTO the persisted index
    * so serving returns to pure bucket-pruned reads. The merge assigns
    * the delta with the generation-1 centroids FROZEN (real systems do
    * not re-train the quantizer on compaction — re-clustering would
    * invalidate every existing cell assignment) and rewrites base ∪
    * delta as the generation-2 cell-bucketed table; the serve is then
    * s18's index path with NO delta union, and its results must equal
    * the frozen-centroid IVF over the full corpus — which is exactly
    * what the oracle computes. (Note the semantics SHIFT at merge, as
    * in real IVF systems: pre-merge, s18's side-scan sees every delta
    * vector for every query; post-merge a delta vector is visible only
    * through its cell, like any other vector.) AnnMergeSpec pins the
    * compaction invariants: no row lost or duplicated, per-cell sizes
    * = generation-1 + delta assignments, and the heap-based serve
    * equal to an independent window-based derivation.
    *
    * At 100 TB: the merge is one bounded rewrite per compaction cadence
    * (cost ∝ index size, amortized over every batch served since the
    * last one), after which per-batch cost drops the |delta|·|batch|
    * side-scan term. Builds on s18's memoized generation-1 (shared memo
    * — the sweep pays the build once for both). */
  def s20_ann_index_merge(s: SparkSession, dir: String): DataFrame = {
    val (t1, cs, deltaMod) = ivfBuild(s, dir)
    val t2 = SessionMemo.memoize(s, "s20-merged:" + dir) {
      val delta = emb(s, dir).filter(col("vec_id") % deltaMod === 1L)
      persist(s.table(t1).unionByName(cellRows(delta, cs)), "cell", "s20_ivf", dir)
    }
    serveTop3(indexServe(s, dir, t2, cs))
  }

  /** s21 — TOMBSTONE DELETES on the persisted index, the third LSM
    * operation next to s18's build and s20's merge: vectors removed
    * from the corpus (takedowns, dedup retractions) cannot be erased
    * from an immutable cell-bucketed index without a rewrite, so
    * deletes are LOGICAL — a small tombstone set masked at serve time
    * — until the next compaction folds them out. The physical index,
    * its centroids and its cell assignments are all UNCHANGED (exactly
    * as real IVF systems behave between compactions); the mask applies
    * only to what serving may RETURN: tombstoned vectors issue no
    * queries, appear in no candidate list (index arm AND delta
    * side-scan arm), and masking can only ever promote deeper
    * neighbors — never reorder survivors (AnnMergeSpec pins both
    * properties against an unmasked s18 serve). The `% 7` deletion set
    * is workload, not an index parameter: it models which rows a
    * takedown hits, so it does not AutoScale.
    *
    * At 100 TB: the tombstone set is orders of magnitude smaller than
    * the index (takedowns are rare); it broadcasts, and the mask is a
    * broadcast anti-join on vec_id — serving cost is s18's plus one
    * hash-probe per candidate, with zero index-side I/O amplification.
    * Reference anchor: none (the reference has no vector path); this
    * is the brief's similarity-search serving lane. */
  def s21_ann_tombstones(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val (tbl, cs, deltaMod) = ivfBuild(s, dir)
    val tomb = base.filter(col("vec_id") % 7 === 3).select("vec_id")
    def mask(df: DataFrame): DataFrame =
      df.join(broadcast(tomb), Seq("vec_id"), "left_anti")
    // the index layout is untouched; the tombstone anti-join gates what
    // leaves the probed cells
    serveTop3(deltaServe(mask(s.table(tbl)),
      mask(base.filter(col("vec_id") % deltaMod === 1L)),
      asQueries(mask(base), 50), cs), col("from_delta"))
  }

  /** s22 — FILTERED serving on the persisted index with a
    * SELECTIVITY-DRIVEN path choice, the production vector-DB decision
    * s10 (brute-force pre-filter) and s18 (unfiltered probe) bracket:
    * every query carries its own metadata predicate — f = query_id % 3
    * classes: no filter, a broad half-corpus filter (label even), or a
    * narrow single-label filter — and the engine picks the access path
    * per class. BROAD filters ride the probed-cell serve with the
    * predicate applied to the candidate gather (post-filtering a cell
    * gather is cheap and loses little recall when most candidates
    * pass); NARROW filters switch to an EXACT scan of the
    * label-filtered corpus (index ∪ delta) — probing cells for a 1/8
    * filter would mostly gather rows the predicate kills, and the
    * filtered subset is small enough that exact search is both cheaper
    * AND better (full recall), which is exactly why real systems
    * switch. The output carries the path taken; the oracle replays
    * both paths per query class, so a wrong strategy OR a wrong result
    * under either strategy fails the hash.
    *
    * At 100 TB: the broad path stays cell-pruned (work ∝ probed
    * cells); the narrow path reads the predicate-pushed subset
    * (PushedFilters on label — with a label-partitioned layout it
    * becomes partition pruning). The switch threshold here is the
    * filter CLASS; a deployment derives it from column statistics. */
  def s22_ann_filtered_serve(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val (tbl, cs, deltaMod) = ivfBuild(s, dir)
    val qs = asQueries(base, 50, (col("vec_id") % 3).as("f"),
      (ldiv(col("vec_id"), lit(50L)) % 8).cast("int").as("target"))
    val delta = base.filter(col("vec_id") % deltaMod === 1L)
    val broad = deltaServe(s.table(tbl), delta,
        qs.filter(col("f") < 2).drop("target"), cs,
        col("f") === 0L || col("label") % 2 === 0)
      .drop("from_delta").withColumn("path", lit("probed"))
    // narrow path: the label-partitioned index twin + a broadcast
    // EQUI-join on the partition column — dynamic partition pruning
    // reads only the queried labels' partitions (PlanSpec pins the
    // dynamicpruning expression on this scan), instead of streaming
    // the whole index past the predicate
    def narrow(src: DataFrame): DataFrame = src.select("vec_id", "label", "a")
      .join(broadcast(qs.filter(col("f") === 2)), col("label") === col("target"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        l2(col("qa"), col("a")).as("d2"), lit("exact").as("path"))
    serveTop3(broad.unionByName(narrow(s.table(ivfByLabel(s, dir))))
      .unionByName(narrow(delta)), col("path"))
  }

  /** Atomic generation-pointer publish (the q61 write-audit-publish
    * idiom applied to the vector index): the pointer file names the
    * serving generation; a rebuild stages its table FULLY, audits it,
    * then renames the new pointer into place — a reader resolves either
    * the old or the new generation, never a partial one. */
  private[operators] def publishGeneration(ptr: java.io.File,
      table: String): Unit = {
    val tmp = new java.io.File(ptr.getParentFile, ptr.getName + ".tmp")
    java.nio.file.Files.write(tmp.toPath, table.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, ptr.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
  private[operators] def currentGeneration(ptr: java.io.File): Option[String] =
    if (ptr.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(ptr.toPath),
        "UTF-8").trim)
    else None

  /** s23 — QUANTIZER RE-TRAIN + GENERATION SWAP, the LSM operation the
    * s18/s19/s20/s21/s22 lifecycle was missing: s20's compaction
    * correctly FREEZES the generation-1 quantizer, but a frozen cell
    * count diverges from the corpus as it grows (production scales
    * cells ~√n — the per-probe work re-bound). The rebuild re-trains
    * the quantizer at the AutoScale cell count k₂ = max(4, ⌊√n⌋/2)
    * with a deterministic seeding (the k₂ lowest-id vectors of the
    * `% 31 = 2` stratum, the s09/s19 codebook rule) plus ONE Lloyd
    * refinement (assign to seeds → exact fixed-point per-cell means →
    * that IS the new quantizer), re-assigns the FULL corpus (gen-1
    * index ∪ delta), and swaps serving atomically: stage the gen-2
    * cell-bucketed table, AUDIT it against the rows the serving state
    * holds (gen-1 + delta — no row may be lost), then publish via an
    * atomic pointer rename ([[publishGeneration]]). The serve is then
    * s18's bucket-pruned probe against the POINTER-resolved table with
    * no delta side-scan, and its per-probe work is re-bounded by the
    * new cell count (`n_cells` rides the output so the oracle pins the
    * re-trained quantizer's size, not just the neighbor sets).
    *
    * At 100 TB: rebuild cost = two assignment scans + one bounded
    * rewrite, paid per re-train cadence (corpus doubling, not per
    * batch); the old generation serves reads throughout and the swap
    * is one rename. AnnMergeSpec pins the swap invariants. */
  def s23_ann_generation_rebuild(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
    val (t1, _, deltaMod) = ivfBuild(s, dir)
    val (cents2, k2, ptrPath) =
      SessionMemo.memoize(s, "s23-gen2:" + dir) {
        val wh = home(s, dir, "s23_wh")
        wh.mkdirs()
        val ptr = new java.io.File(wh, "CURRENT")
        publishGeneration(ptr, t1) // the pre-rebuild serving state
        val n = base.count()
        val k = math.max(4, math.floor(math.sqrt(n.toDouble)).toInt / 2)
        val seeded = seeds(base, "a", 2, k).zipWithIndex.map(_.swap)
        // one Lloyd step: nearest-seed assignment, then the exact
        // fixed-point elementwise mean of each non-empty cell
        val cs = cells(base.withColumn("cell", assign(seeded, col("a"))), "cell")
        val t = persist(cellRows(base, cs), "cell", "s23_gen2", dir)
        // audit BEFORE publish: gen-2 must hold every row the serving
        // state (gen-1 index + delta side-scan) holds
        val expected = s.table(t1).count() +
          base.filter(col("vec_id") % deltaMod === 1L).count()
        val got = s.table(t).count()
        require(got == expected && got == n,
          s"gen-2 audit: $got rows, expected $expected (n=$n)")
        publishGeneration(ptr, t)
        (cs, k, ptr.getAbsolutePath)
      }
    val tbl = currentGeneration(new java.io.File(ptrPath)).getOrElse(
      throw new IllegalStateException("no published index generation"))
    serveTop3(indexServe(s, dir, tbl, cents2), lit(k2.toLong).as("n_cells"))
  }

  /** The memoized PQ-IVF store (table, label centroids, codebook) —
    * shared by s19's serve and s25's quantizer bake-off. */
  private def pqStore(s: SparkSession, dir: String): (String, Cells, Seq[Double]) =
    SessionMemo.memoize(s, "s19-pqivf:" + dir) {
      val base = emb(s, dir)
      val cs = cells(base, "label")
      val (coded, cb) = pqCode(base, cs)
      (persist(coded.select("vec_id", "label", "a", "codes"), "label", "s19_pq", dir),
        cs, cb)
    }

  /** Quantized gather → top-20 by `adc` asc → exact L2² rerank of those
    * 20 on the stored full vectors → top-5 with both distances (s19/s24). */
  private def refine(cand: DataFrame, adc: Column): DataFrame =
    neighbors(nearest(nearest(cand.withColumn("adc", adc), "adc", 20).drop("rank")
        .withColumn("d2", l2(col("qa"), col("a"))), "d2", 5),
      "rk", fp(col("d2"), 1e9).as("d2_fp"), fp(col("adc"), 1e6).as("adc_fp"))

  /** s19 — PERSISTED PQ-IVF serving with exact RERANK (the FAISS
    * IVF-PQ + refine layout, persisted): s09 derives residual PQ codes
    * in-query on every run; a serving deployment encodes ONCE and
    * stores the 8-byte codes next to the full vectors in the
    * cell-bucketed table (s18's layout idiom), then every query batch
    * reads codes from the pruned buckets — at 100 TB the ADC scan
    * touches 8 B/vector instead of 512 B, which is why PQ exists. The
    * serve is the production two-stage shape: asymmetric-distance
    * (per-query LUT against the shared residual codebook, native
    * [[graft.plans.PQAdc]] kernel) gathers top-20 candidates per query
    * from the probed cells, and ONLY those 20 pay the exact
    * [[graft.plans.L2Distance]] rerank on the stored full vectors —
    * the refine stage that converts quantized recall into exact final
    * ranks. Output carries both distances, so the oracle pins the ADC
    * ordering AND the reranked truth.
    *
    * Scale shape: index encode is one scan paid at build (memoized,
    * reported under ingest); per batch, work = probed cells × 8-byte
    * codes + 20·|batch| full-vector reranks; both top-k stages are
    * bounded TopKPerKey heaps, no window over the candidate volume. */
  def s19_pq_persisted(s: SparkSession, dir: String): DataFrame = {
    val (tbl, cs, cb) = pqStore(s, dir)
    refine(gatherBucketed(s.table(tbl), pqProbe(asQueries(emb(s, dir), 50), cs, cb),
        "label"),
      graft.plans.PQAdc(col("qlut"), col("codes")))
  }

  /** The memoized SQ8 store (table, label centroids, per-dim mins and
    * scales) — shared by s24's serve and s25's quantizer bake-off. */
  private def sqStore(s: SparkSession, dir: String)
      : (String, Cells, Seq[Double], Seq[Double]) =
    SessionMemo.memoize(s, "s24-sq8:" + dir) {
      val base = emb(s, dir)
      val mm = base.agg(
        ArrayAggregates.ewMinDouble(col("a")).as("mins"),
        ArrayAggregates.ewMaxDouble(col("a")).as("maxs")).head
      val mn = mm.getSeq[Double](0)
      val sc = mn.zip(mm.getSeq[Double](1)).map { case (lo, hi) => hi - lo }
      val t = persist(base.withColumn("sq", graft.plans.Sq8Encode(col("a"), mn, sc))
        .select("vec_id", "label", "a", "sq"), "label", "s24_sq", dir)
      (t, cells(base, "label"), mn, sc)
    }

  /** s24 — PERSISTED SQ8 serving with exact rerank, the third
    * quantization layout next to PQ (s19, 8 B/vector) and binary (s16,
    * 8 B/vector): SCALAR quantization stores one uint8 per dimension
    * against per-dimension [min, max] bounds — 64 B/vector, 8× less
    * scan bandwidth than the full doubles with far better fidelity
    * than PQ, the default "cheap but accurate" tier real vector stores
    * ship (FAISS SQ8 / Milvus SQ8 / Lucene scalar quantization). s04
    * already quantizes IN-QUERY with a per-VECTOR symmetric scale —
    * this is the other half: a persisted per-DIMENSION index whose
    * codes amortize across batches, the s18/s19 serving posture. The
    * build computes the 64 per-dimension ranges (one elementwise
    * min/max aggregate — bounded driver state), encodes once
    * ([[graft.plans.Sq8Encode]], exact integer transform), and persists
    * codes next to the full vectors in the label-bucketed layout; the
    * serve is the s19 two-stage shape: asymmetric distance against the
    * dequantized codes ([[graft.plans.Sq8Adc]], native codegen — the
    * s18 interpreted-HOF lesson) gathers top-20 per query from the
    * probed cells, and only those 20 pay the exact rerank. Output
    * carries both distances so the oracle pins the quantized ordering
    * AND the reranked truth.
    *
    * Scale shape: per batch, work = probed cells × 64-byte codes +
    * 20·|batch| full-vector reranks; both top-k stages are bounded
    * heaps. The quantizer state (128 doubles) ships as codegen
    * references, never a join. */
  def s24_sq8_persisted(s: SparkSession, dir: String): DataFrame = {
    val (tbl, cs, mins, scales) = sqStore(s, dir)
    refine(gatherBucketed(s.table(tbl), probe(asQueries(emb(s, dir), 50), cs, 2),
        "label"),
      graft.plans.Sq8Adc(col("qa"), col("sq"), mins, scales))
  }

  /** s25 — QUANTIZER BAKE-OFF: recall@3 of the two persisted quantized
    * serving paths (s19's 8-byte PQ, s24's 64-byte SQ8) against the
    * exact full-vector ordering, all three over the IDENTICAL probed
    * cells — the tuning table a deployment reads to pick its
    * fidelity/bandwidth point, and the isolation s13 doesn't give
    * (s13 measures PROBE loss vs the global truth; this measures
    * QUANTIZER loss alone, cells held fixed). Both stores share the
    * label-centroid probe by construction, so the only degree of
    * freedom between rows is the code. Output per quantizer:
    * bytes/vector, query count, top-3 hits against exact, recall ppm —
    * with the exact row itself as the 1e6 anchor. Expected (and
    * oracle-pinned) ordering: sq8 ≥ pq — 64 B/vector buys measurably
    * more recall than 8 B, which is the whole reason both tiers exist.
    *
    * Scale shape: three bounded-heap top-3 passes over the same probed
    * cell gathers (PQ codes, SQ codes, full vectors), one broadcast of
    * the 3-rows-per-query sets for the hit join — cost tracks s19+s24
    * serves, no new shuffle class. */
  def s25_quantizer_recall(s: SparkSession, dir: String): DataFrame = {
    val (pqTbl, cs, cb) = pqStore(s, dir)
    val (sqTbl, _, mins, scales) = sqStore(s, dir)
    val qs = asQueries(emb(s, dir), 50)
    val probes = pqProbe(qs, cs, cb)
    def top3(cand: DataFrame, d: Column): DataFrame =
      nearest(cand.withColumn("d", d), "d", 3).select("query_id", "vec_id")
    val probed = probedCells(probes) // one collect for both stores
    val pqCand = gatherBucketed(s.table(pqTbl), probes, "label", probed)
    val exact3 = top3(pqCand, l2(col("qa"), col("a")))
    val pq3 = top3(pqCand, graft.plans.PQAdc(col("qlut"), col("codes")))
    val sq3 = top3(gatherBucketed(s.table(sqTbl), probes.drop("qlut"), "label", probed),
      graft.plans.Sq8Adc(col("qa"), col("sq"), mins, scales))
    val nq = qs.count()
    def row(approx: DataFrame, name: String, bytes: Long): DataFrame =
      approx.join(exact3, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("quantizer"), lit(bytes).as("bytes_per_vec"),
          lit(nq).as("n_queries"), col("hits"),
          ldiv(col("hits") * 1000000L, lit(nq * 3L)).as("recall_ppm"))
    row(exact3, "exact", 512L)
      .unionByName(row(pq3, "pq8x16", 8L))
      .unionByName(row(sq3, "sq8", 64L))
      .orderBy("quantizer")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s25_quantizer_recall" -> (s25_quantizer_recall _),
    "s24_sq8_persisted" -> (s24_sq8_persisted _),
    "s19_pq_persisted" -> (s19_pq_persisted _),
    "s20_ann_index_merge" -> (s20_ann_index_merge _),
    "s17_nprobe_sweep" -> (s17_nprobe_sweep _),
    "s18_ann_persisted" -> (s18_ann_persisted _),
    "s23_ann_generation_rebuild" -> (s23_ann_generation_rebuild _),
    "s21_ann_tombstones" -> (s21_ann_tombstones _),
    "s22_ann_filtered_serve" -> (s22_ann_filtered_serve _),
    "s16_ann_binary_quant" -> (s16_ann_binary_quant _),
    "s15_hybrid_rrf" -> (s15_hybrid_rrf _),
    "s14_maxsim_multivector" -> (s14_maxsim_multivector _),
    "s13_ann_recall" -> (s13_ann_recall _),
    "d20_knn_clusters" -> (d20_knn_clusters _),
    "s12_knn_join" -> (s12_knn_join _),
    "s09_ann_ivf_pq" -> (s09_ann_ivf_pq _),
    "s08_ann_pq" -> (s08_ann_pq _),
    "s07_range_search" -> (s07_range_search _),
    "s06_ann_topk_operator" -> (s06_ann_topk_operator _),
    "s05_ann_rerank" -> (s05_ann_rerank _),
    "s01_ann_bruteforce" -> (s01_ann_bruteforce _),
    "s02_ann_ivf" -> (s02_ann_ivf _),
    "s03_ann_ivf_multiprobe" -> (s03_ann_ivf_multiprobe _),
    "s04_ann_quantized" -> (s04_ann_quantized _),
    "s10_ann_filtered" -> (s10_ann_filtered _),
    "s11_ann_matryoshka" -> (s11_ann_matryoshka _),
  )

  private val sqlDot =
    "list_reduce(list_transform(range(1, 65), i -> X[i] * Y[i]), (p,q) -> p+q)"

  /** Shared by s01 and s06 (identical ranking, different physical plan). */
  private lazy val bruteTopkSql = s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      n0 AS (SELECT vec_id, a,
        sqrt(list_reduce(list_transform(a, x -> x*x), (p,q) -> p+q)) AS nrm FROM e),
      n AS (SELECT * FROM n0 WHERE nrm > 0),
      sims AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
          ${sqlDot.replace("X", "q.a").replace("Y", "d.a")} / (q.nrm * d.nrm) AS sim
        FROM n q, n d
        WHERE q.vec_id % 50 = 0 AND d.vec_id <> q.vec_id)
      SELECT query_id, rank, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) WHERE rank <= 3 + 2 ORDER BY query_id, rank"""

  /** Shared CTE: per-vector in-cell top-3 by fixed-point cosine —
    * consumed by the s12 and d20 oracles. Replays the data-scaled
    * sub-cell split (cap 256, ceil(size/cap) lowest-vec_id seeds,
    * squared-distance argmin with sub_idx tie-break); a no-op at the
    * oracle SFs where every label is under the cap. */
  private val sqlKnnCte = """
      e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      n AS (SELECT vec_id, label, a,
          sqrt(list_reduce(list_transform(range(1, 65), i -> a[i] * a[i]),
            (p, q) -> p + q)) AS nrm
        FROM e),
      nz AS (SELECT * FROM n WHERE nrm > 0),
      szs AS (SELECT label, (count(*) + 255) // 256 AS m
        FROM nz GROUP BY label),
      seeds AS (SELECT label, rn - 1 AS sub_idx, a AS sv FROM (
          SELECT nz.label, nz.a, s.m,
            row_number() OVER (PARTITION BY nz.label ORDER BY nz.vec_id) AS rn
          FROM nz JOIN szs s USING (label) WHERE s.m > 1)
        WHERE rn <= m),
      subA AS (SELECT vec_id, sub_idx AS sub FROM (
          SELECT nz.vec_id, seeds.sub_idx,
            row_number() OVER (PARTITION BY nz.vec_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (nz.a[i] - seeds.sv[i]) * (nz.a[i] - seeds.sv[i])),
                (p, q) -> p + q), seeds.sub_idx) AS rnk
          FROM nz JOIN seeds USING (label))
        WHERE rnk = 1),
      cells AS (SELECT nz.*, coalesce(subA.sub, 0) AS sub
        FROM nz LEFT JOIN subA USING (vec_id)),
      prs AS (SELECT x.vec_id AS vec_id, y.vec_id AS nbr,
          CAST(floor(list_reduce(list_transform(range(1, 65),
              i -> x.a[i] * y.a[i]), (p, q) -> p + q)
            / (x.nrm * y.nrm) * 1e9) AS BIGINT) AS cos_fp
        FROM cells x JOIN cells y ON x.label = y.label AND x.sub = y.sub
          AND x.vec_id <> y.vec_id),
      knn AS (SELECT vec_id, nbr, cos_fp, rank FROM (
          SELECT vec_id, nbr, cos_fp,
            CAST(row_number() OVER (PARTITION BY vec_id
              ORDER BY cos_fp DESC, nbr) AS BIGINT) AS rank
          FROM prs)
        WHERE rank <= 3)"""

  // dot over one 16-d token slice (s14); X/Y substituted per pair
  private val sqlDot16 =
    "list_reduce(list_transform(range(1, 17), i -> X[i] * Y[i]), (p,q) -> p+q)"

  val oracles: Map[String, String] = Map(
    // both arms replayed in full (t16's BM25 pipeline + the brute
    // cosine ranking), fused by integer RRF and re-ranked
    // same 63-bit sign words, Hamming-ascending candidate rank (tie:
    // vec_id), exact-cosine rerank — the TopKPerKey (ord DESC, tie ASC)
    // order replayed as row_number
    "s16_ann_binary_quant" -> s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      n0 AS (SELECT vec_id, a,
        sqrt(list_reduce(list_transform(a, x -> x*x), (p,q) -> p+q)) AS nrm FROM e),
      c AS (SELECT vec_id, a, nrm,
          list_reduce(list_transform(range(1, 64),
            i -> CASE WHEN a[i] > 0 THEN 1::BIGINT << (i::INT - 1)
                 ELSE 0::BIGINT END), (x, y) -> x | y) AS code
        FROM n0 WHERE nrm > 0),
      cand AS (SELECT query_id, vec_id FROM (
          SELECT q.vec_id AS query_id, x.vec_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              bit_count(xor(q.code, x.code)) ASC, x.vec_id) AS rq
          FROM c q, c x WHERE q.vec_id % 50 = 0 AND x.vec_id <> q.vec_id)
        WHERE rq <= 20),
      r AS (SELECT cand.query_id, cand.vec_id AS neighbor_id,
          ${sqlDot.replace("X", "q.a").replace("Y", "x.a")} / (q.nrm * x.nrm) AS sim
        FROM cand JOIN c x ON x.vec_id = cand.vec_id
          JOIN c q ON q.vec_id = cand.query_id)
      SELECT query_id, rank, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS rank
        FROM r) WHERE rank <= 5 ORDER BY query_id, rank""",
    "s15_hybrid_rrf" -> s"""
      WITH qt(q_id, term) AS (SELECT * FROM (VALUES
           (0,'spark'),(0,'join'),(0,'merge'),
           (1,'table'),(1,'scan'),(1,'fast'),(1,'slow'),
           (2,'key'),(2,'hash'),(2,'value'),
           (3,'window'),(3,'sort'),(3,'batch'),
           (4,'row'),(4,'line'),(4,'part'),
           (5,'query'),(5,'order'),(5,'the'))),
       tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       dld AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       st AS (SELECT count(*) AS n_docs,
           CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         FROM dld),
       post AS (SELECT term, doc_id, count(*) AS tf FROM tok
         WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
       dfv AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       sc AS (SELECT CAST(q.q_id AS BIGINT) AS q_id, p.doc_id,
           CAST(floor(
             ((st.n_docs - v.df + 0.5) / (v.df + 0.5)) *
             ((CAST(p.tf AS DOUBLE) * 2.2) /
              (CAST(p.tf AS DOUBLE) + 1.2 *
               (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / st.avgdl))) *
             1e6) AS BIGINT) AS c
         FROM post p JOIN qt q USING (term) JOIN dfv v USING (term)
              JOIN dld d USING (doc_id), st),
       agg AS (SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS score_fp
         FROM sc GROUP BY 1, 2),
       lexr AS (SELECT q_id, doc_id, rank AS lex_rank FROM (
           SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY score_fp DESC, doc_id) AS rank
           FROM agg) WHERE rank <= 10),
       e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
         FROM embeddings),
       n0 AS (SELECT vec_id, a,
           sqrt(list_reduce(list_transform(a, x -> x*x), (p,q) -> p+q))
             AS nrm FROM e),
       n AS (SELECT * FROM n0 WHERE nrm > 0),
       vsims AS (SELECT q.vec_id AS q_id, d.vec_id AS doc_id,
           ${sqlDot.replace("X", "q.a").replace("Y", "d.a")} / (q.nrm * d.nrm)
             AS sim
         FROM n q, n d WHERE q.vec_id < 6 AND d.vec_id <> q.vec_id),
       vecr AS (SELECT q_id, doc_id, rank AS vec_rank FROM (
           SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY sim DESC, doc_id) AS rank
           FROM vsims) WHERE rank <= 10),
       fused AS (SELECT coalesce(l.q_id, v.q_id) AS q_id,
           coalesce(l.doc_id, v.doc_id) AS doc_id,
           CAST(CASE WHEN l.lex_rank IS NULL THEN 0
               ELSE 1000000 // (60 + l.lex_rank) END
             + CASE WHEN v.vec_rank IS NULL THEN 0
               ELSE 1000000 // (60 + v.vec_rank) END AS BIGINT) AS rrf_fp,
           CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(v.vec_rank, 0) AS BIGINT) AS vec_rank
         FROM lexr l FULL OUTER JOIN vecr v
           ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
       SELECT q_id, rank, doc_id, rrf_fp, lex_rank, vec_rank FROM (
         SELECT q_id, doc_id, rrf_fp, lex_rank, vec_rank,
           row_number() OVER (PARTITION BY q_id
             ORDER BY rrf_fp DESC, doc_id) AS rank
         FROM fused) WHERE rank <= 10 ORDER BY q_id, rank""",
    "s14_maxsim_multivector" -> {
      def d16(x: String, y: String) =
        sqlDot16.replace("X", x).replace("Y", y)
      def cos(t: Int, j: Int) =
        s"${d16(s"q.t$t", s"d.t$j")} / (q.n$t * d.n$j)"
      val score = (0 until 4).map { t =>
        s"greatest(${(0 until 4).map(j => cos(t, j)).mkString(", ")})"
      }.mkString(" + ")
      val slices = (0 until 4).map(t =>
        s"a[${t * 16 + 1}:${t * 16 + 16}] AS t$t").mkString(", ")
      val norms = (0 until 4).map(t =>
        s"sqrt(${d16(s"t$t", s"t$t")}) AS n$t").mkString(", ")
      s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      sl AS (SELECT vec_id, a, $slices FROM e),
      n AS (SELECT vec_id, a, t0, t1, t2, t3,
          sqrt(${sqlDot.replace("X", "a").replace("Y", "a")}) AS nrm,
          $norms FROM sl),
      g AS (SELECT * FROM n WHERE n0 > 0 AND n1 > 0 AND n2 > 0 AND n3 > 0),
      cand AS (SELECT query_id, vec_id FROM (
          SELECT q.vec_id AS query_id, d.vec_id AS vec_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              ${sqlDot.replace("X", "q.a").replace("Y", "d.a")}
                / (q.nrm * d.nrm) DESC, d.vec_id) AS rq
          FROM g q, g d WHERE q.vec_id % 50 = 0 AND d.vec_id <> q.vec_id)
        WHERE rq <= 20),
      sims AS (SELECT c.query_id, d.vec_id AS neighbor_id, $score AS sim
        FROM cand c JOIN g d ON c.vec_id = d.vec_id
          JOIN g q ON c.query_id = q.vec_id)
      SELECT query_id, rank, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    "s12_knn_join" -> s"""
      WITH $sqlKnnCte
      SELECT vec_id, rank, nbr AS neighbor_id, cos_fp FROM knn
      ORDER BY vec_id, rank""",
    "d20_knn_clusters" -> s"""
      WITH RECURSIVE $sqlKnnCte,
      k3 AS (SELECT vec_id AS u, nbr AS v FROM knn),
      mutual AS (SELECT x.u, x.v FROM k3 x
        JOIN k3 y ON x.u = y.v AND x.v = y.u
        WHERE x.u < x.v),
      edges AS (SELECT u, v FROM mutual UNION SELECT v, u FROM mutual),
      lbl(node, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT ed.v, l.comp FROM lbl l JOIN edges ed ON l.node = ed.u),
      fin AS (SELECT node, min(comp) AS comp FROM lbl GROUP BY node),
      lab AS (SELECT a.vec_id, coalesce(f.comp, a.vec_id) AS cluster
        FROM (SELECT vec_id FROM embeddings) a
        LEFT JOIN fin f ON a.vec_id = f.node),
      sizes AS (SELECT cluster, count(*) AS n_members FROM lab
        GROUP BY cluster)
      SELECT l.vec_id, l.cluster, s.n_members
      FROM lab l JOIN sizes s USING (cluster)
      ORDER BY l.vec_id""",
    "s09_ann_ivf_pq" -> """
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      res AS (SELECT e.vec_id, e.label,
          list_transform(range(1, 65), i -> e.a[i] - c.centroid[i]) AS r
        FROM e JOIN cent c ON e.label = c.c_label),
      cb AS (SELECT row_number() OVER (ORDER BY vec_id) AS c1, r AS a
        FROM (SELECT vec_id, r FROM res WHERE vec_id % 31 = 1
          ORDER BY vec_id LIMIT 16)),
      ms AS (SELECT unnest(range(0, 8)) AS m),
      dist AS (SELECT res.vec_id, ms.m, cb.c1,
          list_reduce(list_transform(range(1, 9),
            i -> (res.r[ms.m*8+i] - cb.a[ms.m*8+i])
               * (res.r[ms.m*8+i] - cb.a[ms.m*8+i])), (p, q) -> p + q) AS d
        FROM res CROSS JOIN cb CROSS JOIN ms),
      codes AS (SELECT vec_id, m, c1 FROM (
          SELECT vec_id, m, c1,
            row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c1) AS rn
          FROM dist) WHERE rn = 1),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, c_label AS probe_label,
          list_transform(range(1, 65), i -> qa[i] - centroid[i]) AS qr
        FROM (SELECT q.query_id, q.qa, c.c_label, c.centroid,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p, q2) -> p + q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 2),
      terms AS (SELECT p.query_id, dv.vec_id, co.m,
          list_reduce(list_transform(range(1, 9),
            i -> (p.qr[co.m*8+i] - cb.a[co.m*8+i])
               * (p.qr[co.m*8+i] - cb.a[co.m*8+i])), (p2, q) -> p2 + q) AS t
        FROM probes p
        JOIN res dv ON dv.label = p.probe_label AND dv.vec_id <> p.query_id
        JOIN codes co ON co.vec_id = dv.vec_id
        JOIN cb ON cb.c1 = co.c1),
      adc AS (SELECT query_id, vec_id,
          list_reduce(list(t ORDER BY m), (x, y) -> x + y) AS adc
        FROM terms GROUP BY 1, 2)
      SELECT query_id, rank, vec_id AS neighbor_id,
        CAST(floor(adc * 1e6) AS BIGINT) AS adc_fp
      FROM (SELECT query_id, vec_id, adc, row_number() OVER (
          PARTITION BY query_id ORDER BY adc, vec_id) AS rank FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // s19 = s09's ADC pipeline + the persisted-refine stage: top-20 by
    // (adc, vec_id), exact l2 rerank on the stored full vectors, top-5
    // by (d2, vec_id); both distances shipped so the quantized ordering
    // AND the reranked truth hash-check
    "s25_quantizer_recall" -> """
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, qa, c_label AS probe_label, centroid FROM (
          SELECT q.query_id, q.qa, c.c_label, c.centroid,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p, q2) -> p + q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 2),
      cand AS (SELECT p.query_id, p.qa, v.vec_id, v.a
        FROM probes p JOIN e v
          ON v.label = p.probe_label AND v.vec_id <> p.query_id),
      ex3 AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
            ORDER BY list_reduce(list_transform(range(1, 65),
              i -> (qa[i] - a[i]) * (qa[i] - a[i])), (x, y) -> x + y),
              vec_id) AS rk
          FROM cand) WHERE rk <= 3),
      res AS (SELECT e.vec_id, e.label,
          list_transform(range(1, 65), i -> e.a[i] - c.centroid[i]) AS r
        FROM e JOIN cent c ON e.label = c.c_label),
      cb AS (SELECT row_number() OVER (ORDER BY vec_id) AS c1, r AS a
        FROM (SELECT vec_id, r FROM res WHERE vec_id % 31 = 1
          ORDER BY vec_id LIMIT 16)),
      ms AS (SELECT unnest(range(0, 8)) AS m),
      dist AS (SELECT res.vec_id, ms.m, cb.c1,
          list_reduce(list_transform(range(1, 9),
            i -> (res.r[ms.m*8+i] - cb.a[ms.m*8+i])
               * (res.r[ms.m*8+i] - cb.a[ms.m*8+i])), (p, q) -> p + q) AS d
        FROM res CROSS JOIN cb CROSS JOIN ms),
      codes AS (SELECT vec_id, m, c1 FROM (
          SELECT vec_id, m, c1,
            row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c1) AS rn
          FROM dist) WHERE rn = 1),
      qres AS (SELECT query_id, probe_label,
          list_transform(range(1, 65), i -> qa[i] - centroid[i]) AS qr
        FROM probes),
      terms AS (SELECT q.query_id, dv.vec_id, co.m,
          list_reduce(list_transform(range(1, 9),
            i -> (q.qr[co.m*8+i] - cb.a[co.m*8+i])
               * (q.qr[co.m*8+i] - cb.a[co.m*8+i])), (p2, q2) -> p2 + q2) AS t
        FROM qres q
        JOIN res dv ON dv.label = q.probe_label AND dv.vec_id <> q.query_id
        JOIN codes co ON co.vec_id = dv.vec_id
        JOIN cb ON cb.c1 = co.c1),
      adcpq AS (SELECT query_id, vec_id,
          list_reduce(list(t ORDER BY m), (x, y) -> x + y) AS adc
        FROM terms GROUP BY 1, 2),
      pq3 AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
            ORDER BY adc, vec_id) AS rk FROM adcpq) WHERE rk <= 3),
      mm AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
        FROM (SELECT i, min(a[i]) AS mn, max(a[i]) AS mx
          FROM e, range(1, 65) t(i) GROUP BY i)),
      scodes AS (SELECT vec_id, label,
          list_transform(range(1, 65), i ->
            CASE WHEN (mm.maxs[i] - mm.mins[i]) <= 0 THEN 0.0
              ELSE least(greatest(floor((a[i] - mm.mins[i])
                / (mm.maxs[i] - mm.mins[i]) * 255.0), 0.0), 255.0) END) AS q
        FROM e, mm),
      adcsq AS (SELECT p.query_id, v.vec_id,
          list_reduce(list_transform(range(1, 65), i ->
            (p.qa[i] - (mm.mins[i] + v.q[i] * (mm.maxs[i] - mm.mins[i]) / 255.0))
            * (p.qa[i] - (mm.mins[i] + v.q[i] * (mm.maxs[i] - mm.mins[i]) / 255.0))),
            (x, y) -> x + y) AS adc
        FROM probes p
        JOIN scodes v ON v.label = p.probe_label AND v.vec_id <> p.query_id, mm),
      sq3 AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
            ORDER BY adc, vec_id) AS rk FROM adcsq) WHERE rk <= 3),
      nq AS (SELECT count(*) AS n FROM qs)
      SELECT * FROM (
        SELECT 'exact' AS quantizer, 512::BIGINT AS bytes_per_vec,
          nq.n::BIGINT AS n_queries,
          (SELECT count(*) FROM ex3)::BIGINT AS hits,
          ((SELECT count(*) FROM ex3) * 1000000 // (nq.n * 3))::BIGINT
            AS recall_ppm
        FROM nq
        UNION ALL
        SELECT 'pq8x16', 8::BIGINT, nq.n::BIGINT,
          (SELECT count(*) FROM pq3 JOIN ex3 USING (query_id, vec_id))::BIGINT,
          ((SELECT count(*) FROM pq3 JOIN ex3 USING (query_id, vec_id))
            * 1000000 // (nq.n * 3))::BIGINT
        FROM nq
        UNION ALL
        SELECT 'sq8', 64::BIGINT, nq.n::BIGINT,
          (SELECT count(*) FROM sq3 JOIN ex3 USING (query_id, vec_id))::BIGINT,
          ((SELECT count(*) FROM sq3 JOIN ex3 USING (query_id, vec_id))
            * 1000000 // (nq.n * 3))::BIGINT
        FROM nq)
      ORDER BY quantizer""",
    "s24_sq8_persisted" -> """
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      mm AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
        FROM (SELECT i, min(a[i]) AS mn, max(a[i]) AS mx
          FROM e, range(1, 65) t(i) GROUP BY i)),
      codes AS (SELECT vec_id, label, a,
          list_transform(range(1, 65), i ->
            CASE WHEN (mm.maxs[i] - mm.mins[i]) <= 0 THEN 0.0
              ELSE least(greatest(floor((a[i] - mm.mins[i])
                / (mm.maxs[i] - mm.mins[i]) * 255.0), 0.0), 255.0) END) AS q
        FROM e, mm),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, qa, c_label AS probe_label FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p, q2) -> p + q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 2),
      adc AS (SELECT p.query_id, p.qa, v.vec_id, v.a,
          list_reduce(list_transform(range(1, 65), i ->
            (p.qa[i] - (mm.mins[i] + v.q[i] * (mm.maxs[i] - mm.mins[i]) / 255.0))
            * (p.qa[i] - (mm.mins[i] + v.q[i] * (mm.maxs[i] - mm.mins[i]) / 255.0))),
            (x, y) -> x + y) AS adc
        FROM probes p
        JOIN codes v ON v.label = p.probe_label AND v.vec_id <> p.query_id, mm),
      top20 AS (SELECT query_id, qa, vec_id, a, adc FROM (
          SELECT query_id, qa, vec_id, a, adc,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adc, vec_id) AS arn
          FROM adc) WHERE arn <= 20),
      rr AS (SELECT query_id, vec_id, adc,
          list_reduce(list_transform(range(1, 65),
            i -> (qa[i] - a[i]) * (qa[i] - a[i])), (x, y) -> x + y) AS d2
        FROM top20)
      SELECT query_id, rank AS rk, vec_id AS neighbor_id,
        CAST(floor(d2 * 1e9) AS BIGINT) AS d2_fp,
        CAST(floor(adc * 1e6) AS BIGINT) AS adc_fp
      FROM (SELECT query_id, vec_id, adc, d2,
          row_number() OVER (PARTITION BY query_id
            ORDER BY d2, vec_id) AS rank
        FROM rr) WHERE rank <= 5
      ORDER BY query_id, rk""",
    "s19_pq_persisted" -> """
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      res AS (SELECT e.vec_id, e.label,
          list_transform(range(1, 65), i -> e.a[i] - c.centroid[i]) AS r
        FROM e JOIN cent c ON e.label = c.c_label),
      cb AS (SELECT row_number() OVER (ORDER BY vec_id) AS c1, r AS a
        FROM (SELECT vec_id, r FROM res WHERE vec_id % 31 = 1
          ORDER BY vec_id LIMIT 16)),
      ms AS (SELECT unnest(range(0, 8)) AS m),
      dist AS (SELECT res.vec_id, ms.m, cb.c1,
          list_reduce(list_transform(range(1, 9),
            i -> (res.r[ms.m*8+i] - cb.a[ms.m*8+i])
               * (res.r[ms.m*8+i] - cb.a[ms.m*8+i])), (p, q) -> p + q) AS d
        FROM res CROSS JOIN cb CROSS JOIN ms),
      codes AS (SELECT vec_id, m, c1 FROM (
          SELECT vec_id, m, c1,
            row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c1) AS rn
          FROM dist) WHERE rn = 1),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, c_label AS probe_label,
          list_transform(range(1, 65), i -> qa[i] - centroid[i]) AS qr
        FROM (SELECT q.query_id, q.qa, c.c_label, c.centroid,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p, q2) -> p + q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 2),
      terms AS (SELECT p.query_id, dv.vec_id, co.m,
          list_reduce(list_transform(range(1, 9),
            i -> (p.qr[co.m*8+i] - cb.a[co.m*8+i])
               * (p.qr[co.m*8+i] - cb.a[co.m*8+i])), (p2, q) -> p2 + q) AS t
        FROM probes p
        JOIN res dv ON dv.label = p.probe_label AND dv.vec_id <> p.query_id
        JOIN codes co ON co.vec_id = dv.vec_id
        JOIN cb ON cb.c1 = co.c1),
      adc AS (SELECT query_id, vec_id,
          list_reduce(list(t ORDER BY m), (x, y) -> x + y) AS adc
        FROM terms GROUP BY 1, 2),
      top20 AS (SELECT query_id, vec_id, adc FROM (
          SELECT query_id, vec_id, adc,
            row_number() OVER (PARTITION BY query_id
              ORDER BY adc, vec_id) AS arn
          FROM adc) WHERE arn <= 20),
      rr AS (SELECT t.query_id, t.vec_id, t.adc,
          list_reduce(list_transform(range(1, 65),
            i -> (q.qa[i] - d.a[i]) * (q.qa[i] - d.a[i])),
            (x, y) -> x + y) AS d2
        FROM top20 t
        JOIN qs q ON q.query_id = t.query_id
        JOIN e d ON d.vec_id = t.vec_id)
      SELECT query_id, rank AS rk, vec_id AS neighbor_id,
        CAST(floor(d2 * 1e9) AS BIGINT) AS d2_fp,
        CAST(floor(adc * 1e6) AS BIGINT) AS adc_fp
      FROM (SELECT query_id, vec_id, adc, d2,
          row_number() OVER (PARTITION BY query_id
            ORDER BY d2, vec_id) AS rank
        FROM rr) WHERE rank <= 5
      ORDER BY query_id, rk""",
    "s08_ann_pq" -> """
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      cb AS (SELECT row_number() OVER (ORDER BY vec_id) AS c1, a
        FROM (SELECT vec_id, a FROM e WHERE vec_id % 31 = 1
          ORDER BY vec_id LIMIT 16)),
      ms AS (SELECT unnest(range(0, 8)) AS m),
      dist AS (SELECT e.vec_id, ms.m, cb.c1,
          list_reduce(list_transform(range(1, 9),
            i -> (e.a[ms.m*8+i] - cb.a[ms.m*8+i])
               * (e.a[ms.m*8+i] - cb.a[ms.m*8+i])), (p, q) -> p + q) AS d
        FROM e CROSS JOIN cb CROSS JOIN ms),
      codes AS (SELECT vec_id, m, c1 FROM (
          SELECT vec_id, m, c1,
            row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c1) AS rn
          FROM dist) WHERE rn = 1),
      terms AS (SELECT qe.vec_id AS query_id, c.vec_id, c.m,
          list_reduce(list_transform(range(1, 9),
            i -> (qe.a[c.m*8+i] - cb.a[c.m*8+i])
               * (qe.a[c.m*8+i] - cb.a[c.m*8+i])), (p, q) -> p + q) AS t
        FROM e qe
        JOIN codes c ON c.vec_id <> qe.vec_id
        JOIN cb ON cb.c1 = c.c1
        WHERE qe.vec_id % 50 = 0),
      adc AS (SELECT query_id, vec_id,
          list_reduce(list(t ORDER BY m), (x, y) -> x + y) AS adc
        FROM terms GROUP BY 1, 2)
      SELECT query_id, rank, vec_id AS neighbor_id,
        CAST(floor(adc * 1e6) AS BIGINT) AS adc_fp
      FROM (SELECT query_id, vec_id, adc, row_number() OVER (
          PARTITION BY query_id ORDER BY adc, vec_id) AS rank FROM adc)
      WHERE rank <= 5 ORDER BY query_id, rank""",
    // brute force — the pruned plan must lose nothing; query modulus
    // derived from count(*) exactly like the Spark side:
    // m = max(20, smallest 2^b with 2^b * 128 >= n)
    "s07_range_search" -> s"""
      WITH cnt AS (SELECT count(*) AS nn FROM embeddings),
      prm AS (SELECT greatest(20::BIGINT,
          1::BIGINT << CAST(coalesce(min(b), 40) AS INT)) AS m
        FROM range(0, 41) t(b), cnt WHERE (1::BIGINT << b) * 128 >= nn),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      n0 AS (SELECT vec_id, a,
        sqrt(list_reduce(list_transform(a, x -> x*x), (p,q) -> p+q)) AS nrm FROM e),
      n AS (SELECT * FROM n0 WHERE nrm > 0)
      SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        ${sqlDot.replace("X", "q.a").replace("Y", "d.a")} / (q.nrm * d.nrm) AS sim
      FROM n q, n d, prm
      WHERE q.vec_id % prm.m = 0 AND d.vec_id <> q.vec_id
        AND ${sqlDot.replace("X", "q.a").replace("Y", "d.a")} / (q.nrm * d.nrm)
          >= 0.3
      ORDER BY query_id, neighbor_id""",
    "s05_ann_rerank" -> s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      sc AS (SELECT vec_id, a,
          CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS s
        FROM (SELECT vec_id, a,
          list_max(list_transform(a, x -> abs(x))) AS amax FROM e)),
      d AS (SELECT vec_id, a,
          list_transform(a, x -> trunc(x / s) * s) AS da FROM sc),
      n AS (SELECT vec_id, a, da,
          sqrt(list_reduce(list_transform(a, x -> x*x), (p,q) -> p+q)) AS nrm,
          sqrt(list_reduce(list_transform(da, x -> x*x), (p,q) -> p+q)) AS dnrm
        FROM d),
      nz AS (SELECT * FROM n WHERE dnrm > 0 AND nrm > 0),
      cand AS (SELECT query_id, vec_id FROM (
          SELECT q.vec_id AS query_id, x.vec_id AS vec_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              ${sqlDot.replace("X", "q.da").replace("Y", "x.da")}
                / (q.dnrm * x.dnrm) DESC, x.vec_id) AS rq
          FROM nz q, nz x WHERE q.vec_id % 50 = 0 AND x.vec_id <> q.vec_id)
        WHERE rq <= 20),
      sims AS (SELECT c.query_id, x.vec_id AS neighbor_id,
          ${sqlDot.replace("X", "q.a").replace("Y", "x.a")} / (q.nrm * x.nrm) AS sim
        FROM cand c JOIN nz x ON c.vec_id = x.vec_id
          JOIN nz q ON c.query_id = q.vec_id)
      SELECT query_id, rank, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) WHERE rank <= 5 ORDER BY query_id, rank""",
    "s11_ann_matryoshka" -> s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      n0 AS (SELECT vec_id, a, a[1:16] AS p,
          sqrt(list_reduce(list_transform(a, x -> x*x), (p,q) -> p+q)) AS nrm,
          sqrt(list_reduce(list_transform(a[1:16], x -> x*x), (p,q) -> p+q))
            AS pnrm
        FROM e),
      n AS (SELECT * FROM n0 WHERE nrm > 0 AND pnrm > 0),
      cand AS (SELECT query_id, vec_id FROM (
          SELECT q.vec_id AS query_id, x.vec_id AS vec_id,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              ${sqlDot.replace("range(1, 65)", "range(1, 17)")
                      .replace("X", "q.p").replace("Y", "x.p")}
                / (q.pnrm * x.pnrm) DESC, x.vec_id) AS rq
          FROM n q, n x WHERE q.vec_id % 50 = 0 AND x.vec_id <> q.vec_id)
        WHERE rq <= 20),
      sims AS (SELECT c.query_id, x.vec_id AS neighbor_id,
          ${sqlDot.replace("X", "q.a").replace("Y", "x.a")} / (q.nrm * x.nrm) AS sim
        FROM cand c JOIN n x ON c.vec_id = x.vec_id
          JOIN n q ON c.query_id = q.vec_id)
      SELECT query_id, rank, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) WHERE rank <= 5 ORDER BY query_id, rank""",
    "s04_ann_quantized" -> s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
        FROM embeddings),
      sc AS (SELECT vec_id, a,
          CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS s
        FROM (SELECT vec_id, a,
          list_max(list_transform(a, x -> abs(x))) AS amax FROM e)),
      d AS (SELECT vec_id,
          list_transform(a, x -> trunc(x / s) * s) AS da FROM sc),
      n AS (SELECT vec_id, da,
          sqrt(list_reduce(list_transform(da, x -> x*x), (p,q) -> p+q)) AS nrm
        FROM d),
      nz AS (SELECT * FROM n WHERE nrm > 0),
      sims AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
          ${sqlDot.replace("X", "q.da").replace("Y", "x.da")} / (q.nrm * x.nrm) AS sim
        FROM nz q, nz x
        WHERE q.vec_id % 50 = 0 AND x.vec_id <> q.vec_id)
      SELECT query_id, rank, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) WHERE rank <= 5 ORDER BY query_id, rank""",
    "s01_ann_bruteforce" -> bruteTopkSql,
    // filtered search: the top-5 OF THE ALLOWED SUBSET (predicate before
    // ranking) — a post-filtered ANN would rank differently and mismatch
    "s10_ann_filtered" -> s"""
      WITH e AS (SELECT vec_id, label,
        list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      n0 AS (SELECT vec_id, label, a,
        sqrt(list_reduce(list_transform(a, x -> x*x), (p,q) -> p+q)) AS nrm FROM e),
      n AS (SELECT * FROM n0 WHERE nrm > 0),
      sims AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
          ${sqlDot.replace("X", "q.a").replace("Y", "d.a")} / (q.nrm * d.nrm) AS sim
        FROM n q, n d
        WHERE q.vec_id % 50 = 0 AND d.vec_id <> q.vec_id
          AND d.label BETWEEN 2 AND 5)
      SELECT query_id, rank, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) WHERE rank <= 5 ORDER BY query_id, rank""",
    // s06 is the same ranking computed by the custom TopKPerKey physical
    // operator — the oracle proves plan equivalence, not just plausibility
    "s06_ann_topk_operator" -> bruteTopkSql,
    // s02's IVF CTE chain + a brute-force L2 ground truth over the same
    // query sample; recall joins the two answer sets. The sample modulus
    // replays the engine's size-derived max(50, n/100).
    // s13's chain with the cell assignment kept to rank 8 and the
    // candidate top-3 windowed per (query, nprobe); probe order is
    // nested so all four sweep points come from one candidate gather
    // s20 = the frozen-centroid IVF over the FULL corpus: centroids
    // from the pre-merge indexed subset, every vector (incl. the merged
    // delta) assigned by argmin against them, top-3 from probed cells
    "s20_ann_index_merge" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      nn AS (SELECT greatest(97, count(*) // 50) AS dm FROM embeddings),
      idx0 AS (SELECT e.* FROM e, nn WHERE vec_id % nn.dm <> 1),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM idx0, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      asn AS (SELECT vec_id, a, c_label AS cell FROM (
          SELECT d.vec_id, d.a, c.c_label,
            row_number() OVER (PARTITION BY d.vec_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (d.a[i] - c.centroid[i]) * (d.a[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS rk
          FROM e d, cent c) WHERE rk = 1),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, qa, c_label AS probe_cell FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 2),
      cand AS (SELECT p.query_id, v.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (p.qa[i] - v.a[i]) * (p.qa[i] - v.a[i])),
            (x, y) -> x + y) AS d2
        FROM probes p JOIN asn v ON v.cell = p.probe_cell
        WHERE v.vec_id <> p.query_id)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
        CAST(floor(d2 * 1e9) AS BIGINT) AS d2_fp
      FROM (SELECT query_id, vec_id, d2,
          row_number() OVER (PARTITION BY query_id
            ORDER BY d2, vec_id) AS rk FROM cand)
      WHERE rk <= 3 ORDER BY query_id, rk""",
    // both access paths replayed per query class: broad filters ride
    // the probed-cell serve with the predicate on the gather, narrow
    // filters take the exact label-filtered scan
    "s22_ann_filtered_serve" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      nn AS (SELECT greatest(97, count(*) // 50) AS dm FROM embeddings),
      idx0 AS (SELECT e.* FROM e, nn WHERE vec_id % nn.dm <> 1),
      delta AS (SELECT e.* FROM e, nn WHERE vec_id % nn.dm = 1),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM idx0, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      asn AS (SELECT vec_id, label, a, c_label AS cell FROM (
          SELECT d.vec_id, d.label, d.a, c.c_label,
            row_number() OVER (PARTITION BY d.vec_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (d.a[i] - c.centroid[i]) * (d.a[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS rk
          FROM idx0 d, cent c) WHERE rk = 1),
      qs AS (SELECT vec_id AS query_id, a AS qa, vec_id % 3 AS f,
          ((vec_id // 50) % 8)::INT AS target
        FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, qa, f, c_label AS probe_cell FROM (
          SELECT q.query_id, q.qa, q.f, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS crk
          FROM qs q, cent c WHERE q.f < 2) WHERE crk <= 2),
      cand AS (
        SELECT p.query_id, v.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (p.qa[i] - v.a[i]) * (p.qa[i] - v.a[i])),
            (x, y) -> x + y) AS d2,
          'probed' AS path
        FROM probes p JOIN asn v ON v.cell = p.probe_cell
        WHERE v.vec_id <> p.query_id AND (p.f = 0 OR v.label % 2 = 0)
        UNION ALL
        SELECT q.query_id, d.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (q.qa[i] - d.a[i]) * (q.qa[i] - d.a[i])),
            (x, y) -> x + y) AS d2,
          'probed' AS path
        FROM qs q, delta d
        WHERE q.f < 2 AND d.vec_id <> q.query_id
          AND (q.f = 0 OR d.label % 2 = 0)
        UNION ALL
        SELECT q.query_id, x.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (q.qa[i] - x.a[i]) * (q.qa[i] - x.a[i])),
            (x, y) -> x + y) AS d2,
          'exact' AS path
        FROM qs q, e x
        WHERE q.f = 2 AND x.label = q.target AND x.vec_id <> q.query_id),
      top AS (SELECT query_id, vec_id, d2, path,
          row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
        FROM cand)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
        CAST(floor(d2 * 1e9) AS BIGINT) AS d2_fp, path
      FROM top WHERE rk <= 3 ORDER BY query_id, rk""",
    // s18's replay with the tombstone mask (vec_id % 7 = 3) applied
    // ONLY to queries and candidates — centroids and cell assignment
    // deliberately see the full corpus (logical deletes do not touch
    // the physical index between compactions)
    "s21_ann_tombstones" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      nn AS (SELECT greatest(97, count(*) // 50) AS dm FROM embeddings),
      idx0 AS (SELECT e.* FROM e, nn WHERE vec_id % nn.dm <> 1),
      delta AS (SELECT e.* FROM e, nn WHERE vec_id % nn.dm = 1),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM idx0, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      asn AS (SELECT vec_id, a, c_label AS cell FROM (
          SELECT d.vec_id, d.a, c.c_label,
            row_number() OVER (PARTITION BY d.vec_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (d.a[i] - c.centroid[i]) * (d.a[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS rk
          FROM idx0 d, cent c) WHERE rk = 1),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e
        WHERE vec_id % 50 = 0 AND vec_id % 7 <> 3),
      probes AS (SELECT query_id, qa, c_label AS probe_cell FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 2),
      cand AS (
        SELECT p.query_id, v.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (p.qa[i] - v.a[i]) * (p.qa[i] - v.a[i])),
            (x, y) -> x + y) AS d2,
          0 AS from_delta
        FROM probes p JOIN asn v ON v.cell = p.probe_cell
        WHERE v.vec_id <> p.query_id AND v.vec_id % 7 <> 3
        UNION ALL
        SELECT q.query_id, d.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (q.qa[i] - d.a[i]) * (q.qa[i] - d.a[i])),
            (x, y) -> x + y) AS d2,
          1 AS from_delta
        FROM qs q, delta d
        WHERE d.vec_id <> q.query_id AND d.vec_id % 7 <> 3),
      top AS (SELECT query_id, vec_id, d2, from_delta,
          row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
        FROM cand)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
        CAST(floor(d2 * 1e9) AS BIGINT) AS d2_fp,
        CAST(from_delta AS BIGINT) AS from_delta
      FROM top WHERE rk <= 3 ORDER BY query_id, rk""",
    "s18_ann_persisted" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      nn AS (SELECT greatest(97, count(*) // 50) AS dm FROM embeddings),
      idx0 AS (SELECT e.* FROM e, nn WHERE vec_id % nn.dm <> 1),
      delta AS (SELECT e.* FROM e, nn WHERE vec_id % nn.dm = 1),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM idx0, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      asn AS (SELECT vec_id, a, c_label AS cell FROM (
          SELECT d.vec_id, d.a, c.c_label,
            row_number() OVER (PARTITION BY d.vec_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (d.a[i] - c.centroid[i]) * (d.a[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS rk
          FROM idx0 d, cent c) WHERE rk = 1),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, qa, c_label AS probe_cell FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (x, y) -> x + y), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 2),
      cand AS (
        SELECT p.query_id, v.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (p.qa[i] - v.a[i]) * (p.qa[i] - v.a[i])),
            (x, y) -> x + y) AS d2,
          0 AS from_delta
        FROM probes p JOIN asn v ON v.cell = p.probe_cell
        WHERE v.vec_id <> p.query_id
        UNION ALL
        SELECT q.query_id, d.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (q.qa[i] - d.a[i]) * (q.qa[i] - d.a[i])),
            (x, y) -> x + y) AS d2,
          1 AS from_delta
        FROM qs q, delta d WHERE d.vec_id <> q.query_id),
      top AS (SELECT query_id, vec_id, d2, from_delta,
          row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
        FROM cand)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
        CAST(floor(d2 * 1e9) AS BIGINT) AS d2_fp,
        CAST(from_delta AS BIGINT) AS from_delta
      FROM top WHERE rk <= 3 ORDER BY query_id, rk""",
    "s23_ann_generation_rebuild" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      k AS (SELECT greatest(4,
          CAST(floor(sqrt(count(*)::DOUBLE)) AS BIGINT) // 2) AS k2 FROM e),
      seeds AS (SELECT rn - 1 AS cell, a AS sv FROM (
          SELECT a, row_number() OVER (ORDER BY vec_id) AS rn
          FROM e WHERE vec_id % 31 = 2), k WHERE rn <= k.k2),
      asn1 AS (SELECT vec_id, a, cell FROM (
          SELECT e.vec_id, e.a, s.cell,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (e.a[i] - s.sv[i]) * (e.a[i] - s.sv[i])),
                (x, y) -> x + y), s.cell) AS rk
          FROM e, seeds s) WHERE rk = 1),
      cent2 AS (SELECT cell, list(m ORDER BY i) AS centroid FROM (
          SELECT cell, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS m
          FROM asn1, range(1, 65) t(i) GROUP BY cell, i)
        GROUP BY cell),
      asn2 AS (SELECT vec_id, a, cell FROM (
          SELECT e.vec_id, e.a, c.cell,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (e.a[i] - c.centroid[i]) * (e.a[i] - c.centroid[i])),
                (x, y) -> x + y), c.cell) AS rk
          FROM e, cent2 c) WHERE rk = 1),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT query_id, qa, cell AS probe_cell FROM (
          SELECT q.query_id, q.qa, c.cell,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (x, y) -> x + y), c.cell) AS crk
          FROM qs q, cent2 c) WHERE crk <= 2),
      cand AS (SELECT p.query_id, v.vec_id,
          list_reduce(list_transform(range(1, 65),
            i -> (p.qa[i] - v.a[i]) * (p.qa[i] - v.a[i])),
            (x, y) -> x + y) AS d2
        FROM probes p JOIN asn2 v ON v.cell = p.probe_cell
        WHERE v.vec_id <> p.query_id),
      top AS (SELECT query_id, vec_id, d2,
          row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rk
        FROM cand)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
        CAST(floor(d2 * 1e9) AS BIGINT) AS d2_fp,
        (SELECT k2 FROM k)::BIGINT AS n_cells
      FROM top WHERE rk <= 3 ORDER BY query_id, rk""",
    "s17_nprobe_sweep" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      md AS (SELECT greatest(50, count(*) // 100) AS m FROM embeddings),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e, md
        WHERE vec_id % md.m = 0),
      assigned AS (SELECT query_id, qa, c_label AS probe_label, crk FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p,q2) -> p+q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 8),
      cands AS (SELECT s.query_id, d.vec_id, s.crk,
          list_reduce(list_transform(range(1, 65),
            i -> (s.qa[i] - d.a[i]) * (s.qa[i] - d.a[i])),
            (p,q2) -> p+q2) AS d2
        FROM assigned s JOIN e d ON d.label = s.probe_label
        WHERE d.vec_id <> s.query_id),
      np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
      approx AS (SELECT nprobe, query_id, vec_id FROM (
          SELECT np.nprobe, c.query_id, c.vec_id,
            row_number() OVER (PARTITION BY c.query_id, np.nprobe
              ORDER BY c.d2, c.vec_id) AS rk
          FROM cands c JOIN np ON c.crk <= np.nprobe)
        WHERE rk <= 3),
      exact AS (SELECT query_id AS eq, neighbor_id AS eid FROM (
          SELECT q.query_id,
            row_number() OVER (PARTITION BY q.query_id
              ORDER BY list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - d.a[i]) * (q.qa[i] - d.a[i])), (p,q2) -> p+q2),
                d.vec_id) AS rank,
            d.vec_id AS neighbor_id
          FROM qs q JOIN e d ON d.vec_id <> q.query_id)
        WHERE rank <= 3),
      hits AS (SELECT a.nprobe, count(*)::BIGINT AS n_hits
        FROM approx a JOIN exact x
          ON a.query_id = x.eq AND a.vec_id = x.eid
        GROUP BY a.nprobe),
      nq AS (SELECT count(*)::BIGINT AS n FROM qs)
      SELECT np.nprobe::BIGINT AS nprobe, nq.n AS n_queries,
        coalesce(h.n_hits, 0)::BIGINT AS n_hits,
        CAST(coalesce(h.n_hits, 0) * 1000000 // greatest(nq.n * 3, 1) AS BIGINT)
          AS recall_fp
      FROM np LEFT JOIN hits h ON h.nprobe = np.nprobe, nq
      ORDER BY nprobe""",
    "s13_ann_recall" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      md AS (SELECT greatest(50, count(*) // 100) AS m FROM embeddings),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e, md
        WHERE vec_id % md.m = 0),
      assigned AS (SELECT query_id, qa, c_label AS probe_label FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p,q2) -> p+q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk = 1),
      approx AS (SELECT query_id, neighbor_id FROM (
          SELECT s.query_id,
            row_number() OVER (PARTITION BY s.query_id
              ORDER BY list_reduce(list_transform(range(1, 65),
                i -> (s.qa[i] - d.a[i]) * (s.qa[i] - d.a[i])), (p,q2) -> p+q2),
                d.vec_id) AS rank,
            d.vec_id AS neighbor_id
          FROM assigned s JOIN e d ON d.label = s.probe_label
          WHERE d.vec_id <> s.query_id)
        WHERE rank <= 3),
      exact AS (SELECT query_id AS eq, neighbor_id AS eid FROM (
          SELECT q.query_id,
            row_number() OVER (PARTITION BY q.query_id
              ORDER BY list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - d.a[i]) * (q.qa[i] - d.a[i])), (p,q2) -> p+q2),
                d.vec_id) AS rank,
            d.vec_id AS neighbor_id
          FROM qs q JOIN e d ON d.vec_id <> q.query_id)
        WHERE rank <= 3),
      per AS (SELECT q.query_id,
          (SELECT count(*) FROM approx a JOIN exact x
            ON a.query_id = x.eq AND a.neighbor_id = x.eid
            WHERE a.query_id = q.query_id)::BIGINT AS n_hits
        FROM qs q)
      SELECT query_id, n_hits, n_hits * 1000000 // 3 AS recall_fp FROM per
      UNION ALL
      SELECT -1::BIGINT, sum(n_hits)::BIGINT,
        sum(n_hits)::BIGINT * 1000000 // (count(*) * 3) FROM per
      ORDER BY query_id""",
    "s02_ann_ivf" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      assigned AS (SELECT query_id, qa, c_label AS probe_label FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p,q2) -> p+q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk = 1)
      SELECT query_id, probe_label, rank, neighbor_id, dist FROM (
        SELECT s.query_id, s.probe_label,
          row_number() OVER (PARTITION BY s.query_id
            ORDER BY list_reduce(list_transform(range(1, 65),
              i -> (s.qa[i] - d.a[i]) * (s.qa[i] - d.a[i])), (p,q2) -> p+q2),
              d.vec_id) AS rank,
          d.vec_id AS neighbor_id,
          list_reduce(list_transform(range(1, 65),
            i -> (s.qa[i] - d.a[i]) * (s.qa[i] - d.a[i])), (p,q2) -> p+q2) AS dist
        FROM assigned s JOIN e d ON d.label = s.probe_label
        WHERE d.vec_id <> s.query_id)
      WHERE rank <= 3 ORDER BY query_id, rank""",
    "s03_ann_ivf_multiprobe" -> s"""
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      cent AS (SELECT label AS c_label,
          list(s ORDER BY i) AS centroid FROM (
          SELECT label, i,
            sum(CAST(floor(a[i] * 1e9) AS BIGINT))::DOUBLE / count(*)::DOUBLE / 1e9 AS s
          FROM e, range(1, 65) t(i) GROUP BY label, i)
        GROUP BY label),
      qs AS (SELECT vec_id AS query_id, a AS qa FROM e WHERE vec_id % 50 = 0),
      probed AS (SELECT query_id, qa, c_label AS probe_label FROM (
          SELECT q.query_id, q.qa, c.c_label,
            row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_reduce(list_transform(range(1, 65),
                i -> (q.qa[i] - c.centroid[i]) * (q.qa[i] - c.centroid[i])),
                (p,q2) -> p+q2), c.c_label) AS crk
          FROM qs q, cent c) WHERE crk <= 3)
      SELECT query_id, rank, neighbor_id, dist FROM (
        SELECT s.query_id,
          row_number() OVER (PARTITION BY s.query_id
            ORDER BY list_reduce(list_transform(range(1, 65),
              i -> (s.qa[i] - d.a[i]) * (s.qa[i] - d.a[i])), (p,q2) -> p+q2),
              d.vec_id) AS rank,
          d.vec_id AS neighbor_id,
          list_reduce(list_transform(range(1, 65),
            i -> (s.qa[i] - d.a[i]) * (s.qa[i] - d.a[i])), (p,q2) -> p+q2) AS dist
        FROM probed s JOIN e d ON d.label = s.probe_label
        WHERE d.vec_id <> s.query_id)
      WHERE rank <= 3 ORDER BY query_id, rank""",
  )
}
