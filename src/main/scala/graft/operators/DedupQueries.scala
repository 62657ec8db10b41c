package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Engine, Tables}
import graft.functions.TextFunctions._

/** Deduplication operators for the training-data pipeline: exact,
  * canonicalized, MinHash+LSH, SimHash and n-gram Jaccard.
  *
  * Scale posture: every variant is built so the quadratic step only ever
  * happens INSIDE an LSH bucket / hash group, never across the corpus:
  *  - exact/canonical dedup: one hash partitioning on the digest — the
  *    classic 100 TB exact-dedup shape;
  *  - MinHash: signatures are per-row (scan-parallel); the band join is
  *    an equi-join on (band index, band signature), so Spark hash-joins
  *    buckets and only bucket-mates are compared;
  *  - SimHash: pairing is an equi-join on the high 30 bits (a band), so
  *    candidate pairs stay near-linear; the full cross-join fallback is
  *    what we do NOT do;
  *  - hot buckets are BOUNDED, losslessly: exact duplicates collapse to
  *    one representative before sketching, and any residual hot bucket is
  *    triangle-split into pair-groups that preserve every candidate pair
  *    exactly once — no single quadratic straggler task at 100 TB, and no
  *    recall loss either.
  *
  * The sketch, band, candidate-join, verify, collapse and fill stages are
  * [[NearDup]]'s; each near-dup query here is a composition of them.
  */
object DedupQueries {

  /** d01 — exact dedup by content digest: every row keeps its group
    * representative (min doc_id with identical text) — the memoized
    * [[NearDup.collapse]] membership the near-dup queries sketch from. */
  def d01_dedup_exact(s: SparkSession, dir: String): DataFrame =
    NearDup.collapse(s, dir)._2
      .select(col("doc_id"), col("rep_id"), col("gsz").as("group_size"),
        (col("doc_id") =!= col("rep_id")).as("is_dup"))
      .orderBy("doc_id")

  /** d02 — canonicalized dedup: normalize to the sorted distinct-token
    * set, so token-order shuffles & repetition count as duplicates. */
  def d02_dedup_canonical(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        concat_ws(" ", array_sort(distinctTokens(col("text")))).as("canon"))
    val reps = d.groupBy("canon")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("group_size"))
    d.join(reps, "canon")
      .select(col("doc_id"), col("rep_id"), col("group_size"),
        (col("doc_id") =!= col("rep_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** d11 — duplicate provenance audit: canonical-form duplicate groups
    * that span more than one `source`, summarized per span width — the
    * data-cleaning report that tells an ingest run which feeds are
    * mirroring each other. One hash-partitioned groupBy on the canon
    * digest, then a tiny re-aggregation; nothing driver-side. */
  def d11_dedup_provenance(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        concat_ws(" ", array_sort(distinctTokens(col("text")))).as("canon"))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min("doc_id").as("rep_id"))
      .filter(col("n_sources") >= 2)
      .groupBy("n_sources")
      .agg(count(lit(1)).as("n_groups"),
        sum("n_docs").as("n_docs"),
        sum("rep_id").as("rep_id_sum"))
      .orderBy("n_sources")
  }

  /** Plan memo: one entry per (session, dir, key). Values are cached
    * DataFrames (small: collapse membership, verified pair sets), so
    * holding them for the session is the point — every dedup query in a
    * Verify/Bench sweep reuses the same physical artifacts instead of
    * re-deriving them. The builder runs OUTSIDE the lock (it may fire
    * cache-fill jobs); a concurrent duplicate build is tolerated and the
    * first insert wins. */
  private def memoize[T <: AnyRef](s: SparkSession, dir: String, key: String)
      (build: => T): T =
    graft.core.SessionMemo.memoize(s, "dedup:" + dir + ":" + key)(build)

  /** DATA-DERIVED MinHash geometry shared by the whole d03/d05/d07/d10/
    * d14/d17/p13 family: 2 bands × r rows with
    * r = [[graft.core.AutoScale.minhashRows]](|documents|, 8). A fixed
    * r makes the spurious-candidate count n²·J_bg^r grow quadratically
    * with the corpus; r ∝ log n keeps it bounded. At the oracle SFs
    * (n ≤ 65536) this is exactly the historical 8 — outputs unchanged —
    * and every consuming oracle replays the same integer derivation
    * from count(*). Memoized per (session, dir): one count-star per
    * sweep. */
  private def minhashR(s: SparkSession, dir: String): Int =
    memoize(s, dir, "minhashR") {
      Integer.valueOf(graft.core.AutoScale.minhashRows(
        Tables.documents(s, dir).count(), 8))
    }.intValue

  /** Verified near-dup pairs (the shared core of d03 and d07), memoized
    * per (session, dir) so d07 reuses d03's cached pair set without even
    * rebuilding the plan. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    memoize(s, dir, "verifiedPairs") { verifiedPairs0(s, dir) }

  private def verifiedPairs0(s: SparkSession, dir: String): DataFrame = {
    val (reps, members) = NearDup.collapse(s, dir)
    val r = minhashR(s, dir)
    // token sets as SORTED hash arrays (one native pass: md5 per distinct
    // token, pre-sorted): the verify runs a codegen merge loop per pair
    val docs = NearDup.fill(NearDup.sketch(reps, tokenHashes, r))
    val repPairs = NearDup.lshVerifiedPairs(docs, r, 99, 100, 2 * r - 2, "jaccard")
    // cached (and the enclosing method memoized): d03 and d07 share the
    // computed pair set
    NearDup.expandPairs(members, repPairs, "jaccard", lit(1.0)).cache()
  }

  /** The sorted distinct-token hash set of `text` that the d03 family
    * sketches and verifies over. */
  private def tokenHashes: Column = graft.plans.TokenHashesSorted(col("text"))

  /** d03 — MinHash + LSH near-dup detection: 2r-hash signature, 2 bands
    * × r rows (r = [[minhashR]], data-derived), candidates = band-bucket
    * join + estimate prefilter (at most 2 of the 2r hashes differ),
    * verified by exact Jaccard over distinct-token sets, threshold 0.99. */
  def d03_minhash_lsh(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir).orderBy("doc_a", "doc_b")

  /** d07 — the dedup APPLIED: keep one representative per near-dup
    * neighborhood. A doc is dropped when any verified pair links it to a
    * lower doc_id (one propagation step; at 100 TB iterate the same join
    * to a fixpoint for full connected components — each step is one
    * shuffle). Output: the kept corpus with its dup count. */
  def d07_dedup_apply(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir).select("doc_a", "doc_b")
    // min neighbor over both directions
    val minNbr = pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("nbr"))
      .unionByName(pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nbr")))
      .groupBy("doc_id").agg(min("nbr").as("min_nbr"))
    Tables.documents(s, dir)
      .join(minNbr, Seq("doc_id"), "left")
      .filter(col("min_nbr").isNull || col("min_nbr") >= col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"))
  }

  /** d14 — the transitive closure d07's one-step collapse approximates:
    * full connected components over the verified near-dup pair graph
    * ([[GraphComponents]], large-star/small-star), so chains A~B~C where
    * A and C never pair directly still land in ONE cluster. Output: one
    * row per clustered doc with its component id (= min doc_id of the
    * cluster) and the cluster size — the canonical "duplicate cluster
    * manifest" a 100 TB dedup pass hands to the keep/drop stage. */
  def d14_dedup_components(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir).join(componentSizes(s, dir), "comp")
      .select(col("node").as("doc_id"), col("comp"), col("n").as("n_members"))
      .orderBy("doc_id")

  /** `(comp, n)`: the member count of each [[componentLabels]] cluster
    * (d14's manifest, p13's weights, d24's histogram). */
  private def componentSizes(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir).groupBy("comp").agg(count(lit(1)).as("n"))

  /** Connected-component labels over the verified near-dup pair graph,
    * memoized per (session, dir) like [[verifiedPairs]]: d14 (the
    * cluster manifest) and p13 (dedup-aware sampling weights) share one
    * O(log n)-round [[GraphComponents]] pass instead of each paying the
    * iterative join chain. The result is localCheckpoint'd eagerly — it
    * is one bounded row per clustered doc, and the final distinct()
    * shuffle of the labeling must not replay per consumer. */
  private def componentLabels(s: SparkSession, dir: String): DataFrame =
    memoize(s, dir, "componentLabels") {
      GraphComponents.labels(verifiedPairs(s, dir).select("doc_a", "doc_b"))
        .localCheckpoint(true)
    }

  /** d22 — keep-best representative selection over the full component
    * closure: the policy step between d14's cluster manifest and the
    * corpus cut. d07 keeps the MIN doc_id of an exact-digest group; a
    * production near-dup pass keeps the highest-QUALITY member of each
    * transitive cluster — here the lexical-diversity score (distinct
    * tokens / tokens, p15's signal) with doc_id as the deterministic
    * tie-break; singletons keep themselves. Output is the full keep/drop
    * manifest with provenance (component, size, score).
    *
    * Scale shape: the quality score is scan-parallel; the component
    * labels are the SAME memoized [[componentLabels]] artifact d14 and
    * p13 ride (third consumer, zero extra graph rounds); the keep
    * decision is one window over comp — cluster-bounded groups, and
    * singletons coalesce to their own id so no group exceeds the
    * cluster-size bound. */
  def d22_cluster_keep_best(s: SparkSession, dir: String): DataFrame =
    keepBestManifest(s, dir)
      .select("doc_id", "comp", "n_members", "score_fp", "kept")
      .orderBy("doc_id")

  /** The d22 keep-best pipeline with `source` and `n_tok` carried
    * through (r19): p27's reweight ledger needs exactly those two extra
    * per-doc columns, and deriving them HERE lets p27 ride the same
    * single corpus tokenize pass instead of re-scanning and re-joining
    * the corpus against d22's output (guide §2.4). d22 itself projects
    * them away, so Catalyst column pruning keeps its plan unchanged. */
  private[operators] def keepBestManifest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.KeyAlgebra.ldiv
    val scores = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_dist"))
      .withColumn("score_fp", when(col("n_tok") === 0L, 0L)
        .otherwise(ldiv(col("n_dist") * 1000000L, col("n_tok"))))
      .select("doc_id", "source", "n_tok", "score_fp")
    val lbl = componentLabels(s, dir).withColumnRenamed("node", "doc_id")
    val w = Window.partitionBy("comp")
      .orderBy(col("score_fp").desc, col("doc_id"))
    scores.join(lbl, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("comp")))
      .withColumn("kept", (row_number().over(w) === 1).cast("long"))
  }

  /** d17 — INCREMENTAL minhash dedup: probe an arriving delta batch
    * (doc_id % 10 == 0) against the band index of the already-ingested
    * corpus (the other 90%), without ever pairing corpus docs with each
    * other. This is the shape a 100 TB pipeline actually runs day-to-day:
    * the corpus band table (doc_id, band, key, sig, tk) is a STORED
    * artifact partitioned by (band, key); each new batch computes its own
    * signatures scan-parallel and hash-joins the index on the same key —
    * cost scales with |delta| × bucket occupancy, not |corpus|², and the
    * index update afterward is an append. The verify cascade (estimate
    * ≥ 13/16, lossless size-ratio gate, exact Jaccard ≥ 0.95 via the
    * sorted-merge intersect) is d03's, inline on the probe join. */
  def d17_incremental_minhash(s: SparkSession, dir: String): DataFrame = {
    val r = minhashR(s, dir)
    val docs = NearDup.sketch(Tables.documents(s, dir), tokenHashes, r)
    def bands(in: Column) = NearDup.bands(docs.filter(in), r, "doc_id", "sig", "tk")
    val delta = col("doc_id") % 10 === 0
    // estimate prefilter: allow 3 mismatching hashes of the 2r
    NearDup.jaccard(NearDup.probe(bands(delta), bands(!delta)),
        "n.", "c.", 19, 20, Some(2 * r - 3), "jaccard")
      .select(col("n.doc_id").as("doc_new"), col("c.doc_id").as("doc_idx"),
        col("jaccard"))
      .distinct()
      .orderBy("doc_new", "doc_idx")
  }

  /** p13 — dedup-AWARE sampling: instead of dropping near-duplicates
    * (d07) or keeping them all, weight each document by 1/cluster-size
    * over the d14 connected components and draw a deterministic
    * systematic (Madow) sample over the exact integer prefix sum —
    * every near-dup CLUSTER contributes ~equal expected mass, so
    * templated content stops dominating the sample without discarding
    * its variants entirely. This is the soft-dedup knob production
    * corpus builds increasingly prefer over hard dropping.
    *
    * Scale shape: component labels come from the O(log n)-round
    * [[GraphComponents]] pass (shared/memoized with d14), the weight
    * join is key-partitioned, and the prefix sum is p04/p10's
    * three-level [[PrefixSum.blockStarts]] scan — the only single-task
    * window holds one row per 512² docs. Weights and selection are pure
    * integer arithmetic
    * (1e6/size fixed point, floor-division systematic rule), replayed
    * exactly by the recursive-CTE oracle. */
  def p13_dedup_aware_sample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    import org.apache.spark.sql.expressions.Window
    val k = 128L
    val csize = componentLabels(s, dir).join(componentSizes(s, dir), "comp")
      .select(col("node").as("doc_id"), col("n"))
    val w = Tables.documents(s, dir).select(col("doc_id"))
      .join(csize, Seq("doc_id"), "left")
      .withColumn("csize", coalesce(col("n"), lit(1L)))
      .withColumn("wt", ldiv(lit(1000000L), col("csize")))
      .withColumn("blk", ldiv(col("doc_id"), lit(512L)))
    val blkStart = PrefixSum.blockStarts(
      w.groupBy("blk").agg(sum("wt").as("blk_wt")), "blk", "blk_wt")
    val totalDf = w.agg(sum("wt").as("total"))
    w.join(blkStart, "blk")
      .withColumn("within", coalesce(
        sum("wt").over(Window.partitionBy("blk").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(totalDf))
      .withColumn("cum", col("blk_start") + col("within") + col("wt"))
      .withColumn("copies", ldiv(col("cum") * k, col("total")) -
        ldiv((col("cum") - col("wt")) * k, col("total")))
      .where(col("copies") >= 1L)
      .select(col("doc_id"), col("csize"), col("wt"), col("copies"))
      .orderBy("doc_id")
  }

  /** d15 — duplicated n-gram SPAN coverage (the positional variant of
    * exact-substring dedup from Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): every word 10-gram occurring ≥2
    * times across the corpus (cross-doc or self-repeat) marks its 10
    * token positions as duplicated; a doc's score is the fraction of its
    * positions covered by ANY such span. Unlike t08 (distinct-shingle
    * document frequency) this measures how much of the TEXT is inside a
    * repeated run — the signal used to cut, not just rank, documents.
    *
    * Scale posture: gram emit is scan-parallel (10 longs/position), the
    * occurrence count is one hash-partition groupBy, the join back is on
    * the same key, and the position explode touches only DUPLICATED
    * grams (≤10× their count) — never the whole corpus. */
  def d15_dup_ngram_spans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    // r18: native one-pass kernel (bit-identical to the HOF chain —
    // transform(sequence, i => md5Long60(concat_ws(slice))) — pinned in
    // TokenGramKernelsSpec); the lambda route paid one interpreted
    // md5→hex→conv chain per gram
    val grams = toks.filter(size(col("tk")) >= 10)
      .select(col("doc_id"), posexplode(
        graft.plans.TokenGramMd5Positional(col("tk"), 10)))
      .select(col("doc_id"), col("pos"), col("col").as("g"))
    val dup = grams.groupBy("g").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val cov = grams.join(dup, "g")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 9)).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
    toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("cov_fp",
        floor(col("n_covered").cast("double") / col("n_tokens").cast("double")
          * 1e6).cast("long"))
      .orderBy("doc_id")
  }

  /** d16 — asymmetric containment dedup: C(A,B) = |grams(A) ∩ grams(B)|
    * / min(|A|,|B|) over token-5-gram sets, flagging documents (nearly)
    * CONTAINED in a larger one — the quote/excerpt/boilerplate-wrapper
    * case Jaccard structurally misses (J ≤ min/max vanishes as sizes
    * diverge, containment doesn't).
    *
    * Candidate generation is the inverted-index rare-term prune
    * (plagiarism-detection standard): only grams with document
    * frequency ≤ 8 propose pairs, so each posting list contributes at
    * most C(8,2) = 28 pairs and the gram self-join is a bounded hash
    * join — never all-pairs. The exact intersection then runs the
    * allocation-free [[graft.plans.SortedIntersectSize]] merge loop on
    * the two sorted gram arrays. At 100 TB the df-cap is the knob:
    * posting lists shard by gram key, and a lower cap trades recall on
    * heavily-duplicated content (already caught by d01/d03) for a hard
    * per-gram work bound. */
  def d16_containment(s: SparkSession, dir: String): DataFrame = {
    val docs = NearDup.fill(Tables.documents(s, dir)
      .select(col("doc_id"),
        array_sort(graft.plans.Gram5TokenHashSet(col("text"))).as("g"))
      .filter(size(col("g")) > 0))
    val gx = docs.select(col("doc_id"), explode(col("g")).as("gram"))
    val rare = gx.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 8)
    val posting = gx.join(rare.select("gram"), "gram")
    val cand = posting.as("x").join(posting.as("y"),
        col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val ga = docs.select(col("doc_id").as("doc_a"), col("g").as("ga"))
    val gb = docs.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    cand.join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("inter",
        graft.plans.SortedIntersectSize(col("ga"), col("gb")).cast("double"))
      .withColumn("cont", col("inter") /
        least(size(col("ga")), size(col("gb"))).cast("double"))
      .filter(col("cont") >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        size(col("ga")).cast("long").as("n_a"),
        size(col("gb")).cast("long").as("n_b"),
        floor(col("cont") * 1e6).cast("long").as("cont_fp"))
      .orderBy("doc_a", "doc_b")
  }

  /** d18 — train/eval DECONTAMINATION: the pipeline stage that removes
    * benchmark leakage from a training corpus (the 13-gram-collision
    * methodology of the GPT-3/Llama data cards, here on the engine's
    * 5-token gram kernel). Docs with doc_id % 37 == 0 stand in for the
    * held-out eval set; a training doc is flagged when it shares ≥ 3
    * distinct grams with a single benchmark doc. Output per
    * contaminated doc: how many benchmark docs it hits, the worst
    * single-benchmark overlap, and the total.
    *
    * Scale shape: this is an inverted-index probe, not a dedup pass —
    * the benchmark gram postings are the SMALL side (an eval suite is
    * MBs against a 100 TB corpus; Spark broadcasts it under AQE) and
    * the training side streams through one hash join keyed on gram.
    * Cost is |train grams| × benchmark-bucket occupancy; the corpus
    * never self-joins. */
  def d18_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val gx = Tables.documents(s, dir)
      .select(col("doc_id"), explode(
        graft.plans.Gram5TokenHashSet(col("text"))).as("gram"))
    val bench = gx.filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("bench_id"), col("gram"))
    val train = gx.filter(col("doc_id") % 37 =!= 0)
    val pair = train.join(bench, "gram")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("ov"))
      .filter(col("ov") >= 3L)
    pair.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench"), max("ov").as("max_overlap"),
        sum("ov").as("tot_overlap"))
      .orderBy("doc_id")
  }

  /** d04 — SimHash near-dup: 60-bit signatures, candidates share the
    * high-30-bit band (equi-join, not cross join), kept if Hamming
    * distance ≤ 2. */
  def d04_simhash(s: SparkSession, dir: String): DataFrame = {
    val (reps, members) = NearDup.collapse(s, dir)
    // simhash is order-invariant, so the pre-sorted hash set changes nothing
    val d = NearDup.fill(reps
      .select(col("doc_id"), simhashFromHashes(tokenHashes).as("sh"))
      .withColumn("band", graft.functions.KeyAlgebra.ldiv(col("sh"), lit(1L << 30))))
    val repPairs = NearDup.selfJoin(d, "doc_id", Seq("band"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
    NearDup.expandPairs(members, repPairs, "hamming", lit(0L))
      .orderBy("doc_a", "doc_b")
  }

  /** d05 — n-gram Jaccard near-dup: MinHash/LSH over the character
    * 4-GRAM hash set (sketching the same feature space the verify stage
    * measures — a token-based sketch keeps ~96% of candidates here),
    * then exact gram-Jaccard ≥ 0.9 on the survivors. */
  def d05_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    val (reps, members) = NearDup.collapse(s, dir)
    val r = minhashR(s, dir)
    // grams hashed to longs (portable md5-60) in one native pass per row:
    // distinct 4-grams, distinct values, sorted for the merge-loop verify;
    // minhash is order-independent so the same array feeds both
    val docs = NearDup.fill(
      NearDup.sketch(reps, graft.plans.Gram4HashSet(col("text")), r))
    val repPairs = NearDup.lshVerifiedPairs(docs, r, 9, 10, 2 * r - 2, "jaccard4")
    NearDup.expandPairs(members, repPairs, "jaccard4", lit(1.0))
      .orderBy("doc_a", "doc_b")
  }

  /** d06 — embedding-cosine near-dup: candidate pairs restricted to the
    * same coarse bucket (label = the IVF cell), exact cosine via the
    * codegen dot product, threshold 0.4. At 100 TB the bucket is the
    * partition key, so the quadratic step never crosses buckets. */
  def d06_dedup_embcos(s: SparkSession, dir: String): DataFrame = {
    val e = NearDup.fill(NearDup.vectors(Tables.embeddings(s, dir))
      .select("vec_id", "label", "a", "nrm"))
    NearDup.cosine(e.as("x").join(e.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id")), 0.4)
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  /** ±1 hyperplane component for signature bit `j`, dim `i` (0-based):
    * bit 16 of n·2654435761 (Knuth multiplicative hash), n = j·64+i+1 —
    * pure integer arithmetic the DuckDB oracle regenerates verbatim. */
  private def hyperSign(j: Int, i: Int): Double = {
    val n = (j * 64 + i + 1).toLong
    if (n * 2654435761L / 65536L % 2L == 1L) 1.0 else -1.0
  }

  /** d08 — embedding near-dup at scale: random-hyperplane LSH (SimHash
    * for cosine space). Signatures from fixed hyperplanes, 2 bands ×
    * `bandBits` bits; candidates share a band value; exact-cosine
    * verify ≥ 0.4. The LSH-bucketed scale path for
    * [[d06_dedup_embcos]]: the self-join is confined to band buckets
    * instead of label groups.
    *
    * `bandBits` is DATA-DERIVED ([[graft.core.AutoScale.bandBits]]):
    * the smallest b ≥ 8 with 2^b·8 ≥ n, so mean bucket occupancy stays
    * ≤ 8 and the bucket self-join does ≤ 8n pair work — LINEAR in the
    * corpus instead of n²/256. At the oracle SFs (n ≤ 2048) this is
    * exactly the former fixed 8 bits; at 10× it is 12, at 10⁹ vectors
    * it is 27 — the engine re-parameterizes unattended, and the DuckDB
    * oracle replays the same integer derivation from count(*). */
  def d08_dedup_emblsh(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra
    // one pass: corpus size (for the band-bit derivation) AND the
    // per-dim mean (for centering). Random-hyperplane LSH assumes
    // centered data: on an anisotropic corpus (every embedding sharing
    // a dominant direction) the raw sign bits correlate and the
    // buckets collapse into a few mega-buckets no amount of extra
    // band bits can split — measured at 26×: max occupancy 1765 and
    // 37M pairs/band against a target of 8 and ~330k. Hashing x − mean
    // re-balances the signs; the VERIFY cosine stays on the original
    // vectors. The mean is exact-integer (sums of floor(x·1e9) longs,
    // then the same two IEEE divisions in both engines), so the oracle
    // replays it bit-for-bit.
    val st = Tables.embeddings(s, dir)
      .select(transform(col("embedding").cast("array<double>"),
        x => floor(x * 1e9).cast("long")).as("v"))
      .agg(count(lit(1)).as("n"),
        graft.operators.ArrayAggregates.ewSumLong(col("v")).as("sv"))
      .collect()(0)
    val n = st.getLong(0)
    val m: Array[Double] =
      st.getSeq[Long](1).map(_.toDouble / n.toDouble / 1e9).toArray
    val bb = graft.core.AutoScale.bandBits(n, target = 8, minB = 8, maxB = 20)
    val sigCol = (0 until 2 * bb).map { j =>
      val plane = lit((0 until 64).map(i => hyperSign(j, i)).toArray)
      when(aggregate(zip_with(col("ac"), plane, (x, h) => x * h),
        lit(0.0), (acc, x) => acc + x) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val e = NearDup.fill(NearDup.vectors(Tables.embeddings(s, dir))
      .withColumn("ac", zip_with(col("a"), lit(m), (x, mm) => x - mm))
      .withColumn("sig", sigCol)
      .select("vec_id", "a", "nrm", "sig"))
    // vectors RIDE the band rows (the d03 inline-cascade lesson): the
    // exact-cosine verify runs as a codegen filter ON the band join's
    // output, so no candidate pair ever hits a shuffle — the old
    // distinct-then-two-join-backs shape shuffled every candidate pair
    // three times, and candidates (not survivors) dominate on a
    // near-threshold-clustered corpus (26×: ~37M candidates → 114-row
    // scale of survivors). Band rows are 2 × n × (64 doubles) — the
    // payload cost is linear and tiny next to a pair-level exchange.
    val banded0 = e.select(col("vec_id"), col("a"), col("nrm"),
      explode(array(
        struct(lit(0).as("b"), pmod(col("sig"), lit(1L << bb)).as("bkey")),
        struct(lit(1).as("b"),
          KeyAlgebra.ldiv(col("sig"), lit(1L << bb)).as("bkey"))))
        .as("bb"))
      .select(col("vec_id"), col("a"), col("nrm"),
        col("bb.b").as("b"), col("bb.bkey").as("bkey"))
    NearDup.cosine(NearDup.selfJoin(banded0, "vec_id", Seq("b", "bkey")), 0.4)
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        col("cos"))
      .distinct() // ≤ #bands copies of each SURVIVOR
      .orderBy("id_a", "id_b")
  }

  /** d09 — the STREAMING exact-dedup operator under the batch oracle:
    * documents arrive in two doc_id-ordered micro-batches through a
    * MemoryStream into [[graft.streaming.StreamingDedup.dedupExactStream]];
    * the emitted first-seen-wins decisions must equal the batch answer
    * (min doc_id per content hash) — proving the incremental operator
    * converges to the same corpus as the offline pass. */
  def d09_dedup_stream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      graft.core.Engine.microBatchSession(s).sqlContext
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mid = docs.length / 2
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingDedup.dedupExactStream(
      in.toDF().toDF("doc_id", "text"))
    StreamQueries.drain(s, "d09_stream_out", out,
      org.apache.spark.sql.streaming.OutputMode.Append, Seq(
        () => in.addData(docs.take(mid).toIndexedSeq),
        () => in.addData(docs.drop(mid).toIndexedSeq)))
      .select(col("doc_id"), col("kept"), col("dup_of"))
      .orderBy("doc_id")
  }

  /** d13 — d09's streaming exact dedup fed by a REAL file source: two
    * doc_id-split parquet drops land in a watched directory (executor
    * writes of the documents table — no driver-side row injection) and
    * FileStreamSource discovers each as a micro-batch through its file
    * log. Keyed first-seen state must converge to the batch min-id
    * answer under real partitioned offsets; d09's oracle unchanged. The
    * production ingest shape: a landing directory + stateful dedup at
    * arrival time. */
  def d13_dedup_stream_filesource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val hiRow = docs.agg(max("doc_id")).head()
    val half = if (hiRow.isNullAt(0)) 0L else hiRow.getLong(0) / 2
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // the watched dir holds a full copy of the table: withWatchDir
    // deletes it on EVERY exit path
    StreamQueries.withWatchDir("graft_dsrc") { watch =>
      val out = graft.streaming.StreamingDedup.dedupExactStream(
        graft.core.Engine.microBatchSession(s).readStream.schema(schema)
          .parquet(watch))
      // drops are hash-partitioned BY CONTENT so a dup group inside one
      // drop never straddles part files: whatever subset of a drop's
      // files a micro-batch captures, it holds whole groups, and the
      // in-batch min-id tie-break keeps first-seen == batch min id even
      // if the source splits a drop across micro-batches (drops are
      // staged + renamed in, see StreamQueries.stageDrop)
      StreamQueries.drain(s, "d13_stream_out", out,
        org.apache.spark.sql.streaming.OutputMode.Append, Seq(
          StreamQueries.parquetDrop(watch, "d0",
            docs.filter(col("doc_id") <= half).repartition(4, col("text"))),
          StreamQueries.parquetDrop(watch, "d1",
            docs.filter(col("doc_id") > half).repartition(4, col("text")))))
    }.select(col("doc_id"), col("kept"), col("dup_of")).orderBy("doc_id")
  }

  /** d10 — the STREAMING LSH near-dup candidate operator under the
    * batch oracle: documents arrive in two micro-batches through
    * [[graft.streaming.StreamingDedup.nearDupCandidateStream]]; the
    * union of emitted candidates (across both bands, deduped) must
    * equal the batch band-join + estimate-filter answer — proving the
    * incremental operator surfaces exactly the offline candidate set
    * regardless of batch boundaries (no bucket exceeds the state cap at
    * these SFs, so the capped stream is still exhaustive). Probes a
    * deterministic 1-in-7 subset: the operator's candidate OUTPUT is
    * quadratic in cluster size by definition, and this row is a
    * batch-boundary-invariance check, not a throughput claim — the
    * batch family (d03) covers the full corpus. */
  def d10_dedup_stream_lsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      graft.core.Engine.microBatchSession(s).sqlContext
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .filter(col("doc_id") % 7 === 0)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mid = docs.length / 2
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingDedup.nearDupCandidateStream(
      in.toDF().toDF("doc_id", "text"), k = 2 * minhashR(s, dir),
      minEst = 0.5)
    StreamQueries.drain(s, "d10_stream_out", out,
      org.apache.spark.sql.streaming.OutputMode.Append, Seq(
        () => in.addData(docs.take(mid).toIndexedSeq),
        () => in.addData(docs.drop(mid).toIndexedSeq)))
      .select(col("doc_a"), col("doc_b"), col("est")).distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** d12 — semantic dedup (the SemDeDup pattern: coarse clusters bound
    * the candidate set, exact cosine within a cluster marks the dups):
    * a vector is a duplicate when a LOWER-id neighbor in its cluster has
    * cosine ≥ 0.4. Cluster ids come from the deterministic fixed-point
    * Lloyd pass ([[ClusterQueries.lloydAssignments]]) so the DuckDB
    * oracle replays them exactly; cosines use the same left-fold double
    * arithmetic as d06. Scale shape: the quadratic step never crosses
    * cluster boundaries — cid is the shuffle key and k grows with the
    * corpus, so cluster population (and the per-task pair count) stays
    * bounded. */
  def d12_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    val asg = ClusterQueries.lloydAssignments(s, dir).select("vec_id", "cid")
    val e = NearDup.fill(NearDup.vectors(Tables.embeddings(s, dir))
      .join(asg, "vec_id")
      .select("vec_id", "cid", "a", "nrm"))
    val dups = NearDup.cosine(e.as("x").join(e.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") > col("y.vec_id")), 0.4)
      .select(col("x.vec_id").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    // r18: materialize eagerly so the cache can be released instead of
    // leaking across a 346-query sweep (the t38 pattern ADVICE flagged)
    val out = e.select("vec_id", "cid").join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
      .localCheckpoint(true) // one row per vector
    e.unpersist()
    out.orderBy("vec_id")
  }

  /** d19 — edit-distance near-dup verification: candidate pairs from two
    * anchor keys (the 32-char prefix and 32-char suffix — docs that are
    * small edits of each other almost always agree on at least one end),
    * a cheap |len_a − len_b| ≤ 40 prefilter, then exact Levenshtein with
    * a 20% relative threshold (dist·5 ≤ max(len)). Distance is an exact
    * integer, so the pair set hashes identically in any engine.
    *
    * Scale shape: candidates come from ONE equi-join on (kind, anchor) —
    * an inverted anchor index, quadratic only inside an anchor bucket
    * (the d03 banding argument; a hot anchor would get the same
    * triangle skew-split d04 uses). The O(len²) Levenshtein verify runs
    * only on survivors of the length prefilter, which is pushed ahead of
    * it in the same codegen stage. */
  def d19_editdist(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    // slim anchor index: no text rides the self-join, and crucially the
    // O(len²) Levenshtein CANNOT be pushed into this join's condition
    // (texts are only joined back after the distinct) — an earlier
    // text-carrying formulation let Catalyst evaluate levenshtein ahead
    // of the doc_id< conjunct, i.e. once per anchor-bucket ORDERED pair
    // including self-pairs: 14 s instead of 0.5 s at sf0.1
    val anchored = docs
      .withColumn("kind", explode(array(lit(0), lit(1))))
      .withColumn("anchor",
        when(col("kind") === 0, substring(col("text"), 1, 32))
          .otherwise(expr("substring(text, greatest(length(text) - 31, 1), 32)")))
      .select("doc_id", "len", "kind", "anchor")
    val cand = anchored.as("x").join(anchored.as("y"),
        col("x.kind") === col("y.kind") && col("x.anchor") === col("y.anchor") &&
          col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.len") - col("y.len")) <= 40)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // The verify stage is tiny in BYTES but O(len²) in CPU per row, and
    // the optimizer works against it twice: the threshold filter gets
    // pushed into the text joins' conditions (evaluating Levenshtein a
    // second time per pair), and AQE's byte-based coalesce squeezes the
    // post-distinct pairs onto ONE task, serializing the whole verify
    // (10.5 s at 10×, vs ~2 s decomposed). The checkpoint is a
    // pushdown barrier that pins the candidate set (it is small by
    // construction — banding bounds it), and the explicit repartition
    // sizes the CPU-bound stage by row count, which AQE honors.
    val withTexts = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("len").as("la")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("len").as("lb")), "doc_b")
      .localCheckpoint()
    withTexts
      .repartition(s.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("dist") * 5L <= greatest(col("la"), col("lb")))
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  /** d21 — EXACT-substring dedup coverage (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" cut
    * rule, re-expressed distributed): a character 20-gram occurring in
    * ≥ 2 DISTINCT documents marks its span duplicated; a document's
    * score is the fraction of its characters inside any such span.
    * Differs from d15 on all three axes: character-level (catches
    * cross-token boilerplate a word-gram misses), cross-document only
    * (self-repeats are t20's job), and coverage by ISLAND MERGE —
    * overlapping matched spans collapse via one lag/running-sum window
    * per document (sum of max−min+K per island), never an explode of
    * covered positions + distinct (d15's shape, which multiplies the
    * matched rows by K before deduplicating them again).
    *
    * (The reference single-node algorithm is a suffix array; the
    * distributed re-expression is the grouped-shingle inverted index —
    * same output set for fixed K.)
    *
    * Scale shape: position emit is scan-parallel; the cross-doc test is
    * ONE map-combined min/max groupBy(gram) — "≥ 2 distinct docs" is
    * exactly min(doc) ≠ max(doc), so no countDistinct expand — feeding
    * a LEFT SEMI join back on the same key (no fan-out: a gram shared
    * by a million documents adds zero rows); the island merge shuffles
    * once on doc_id. Hot grams (corpus boilerplate) are absorbed by
    * partial aggregation, not a pair join. */
  def d21_substring_spans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.KeyAlgebra.ldiv
    val K = 20
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
    // The shuffle key is a 128-bit hash pair (two seeded xxhash64
    // longs as FLAT columns), not the raw 20-char gram: a fixed
    // 16-byte primitive key beats a variable-length string for
    // exchange width and agg-hash cost, and 128 bits keeps cross-doc
    // false merges negligible even at 10^14 grams. xxhash64 is
    // codegen-native (an md5 pair measured 2x SLOWER than the raw
    // string from hex-string materialization + conv parsing; packing
    // the pair in a struct measured ~20% slower end-to-end because
    // non-primitive grouping keys fall off HashAggregate's fast
    // fixed-width map). The oracle deliberately does NOT replay the
    // hash: it groups by the raw gram (independent formulation, the
    // m12 pattern) — identical rows unless the hash falsely merges
    // grams, which would fail the compare.
    // r18: the per-position substr+hash pair ran as TWO window passes
    // with a 20-char UTF8String copy each (~40 bytes copied per char of
    // corpus); [[graft.plans.Gram20WindowHashes]] hashes every window in
    // place in ONE pass, and g2 needs no second string hash at all —
    // Spark folds xxhash64(s, lit(7)) left-to-right, so it equals
    // XXH64.hashInt(7, g1) ([[graft.plans.Xx64IntWithSeed]]). Values
    // bit-identical (kernel spec pins both against the old expressions).
    val pos = docs
      .select(col("doc_id"), col("len"),
        posexplode(graft.plans.Gram20WindowHashes(col("text"))))
      .select(col("doc_id"), col("len"),
        (col("pos") + 1).cast("long").as("p"),
        col("col").as("g1"),
        graft.plans.Xx64IntWithSeed(7, col("col")).as("g2"))
    // "appears in >= 2 distinct docs" == min(doc) != max(doc): a plain
    // map-combined min/max agg, no countDistinct expand (which cost 3x
    // the agg wall at sf0.1 — PERF.md round-12 session-4 note)
    val crossDoc = pos.groupBy("g1", "g2")
      .agg(min(col("doc_id")).as("mnd"), max(col("doc_id")).as("mxd"))
      .filter(col("mnd") =!= col("mxd"))
      .select("g1", "g2")
    val matched = pos.join(crossDoc, Seq("g1", "g2"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("p")
    val isl = matched
      .withColumn("brk", when(lag(col("p"), 1).over(w).isNull ||
        col("p") - lag(col("p"), 1).over(w) > K, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cov = isl.groupBy("doc_id", "isl")
      .agg(min(col("p")).as("mn"), max(col("p")).as("mx"),
        count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("mx") - col("mn") + K).as("covered"),
        sum(col("c")).as("n_matched"))
    docs.select("doc_id", "len")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("len"),
        greatest(col("len") - (K - 1), lit(0L)).as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .withColumn("cov_fp", when(col("len") === 0L, 0L)
        .otherwise(ldiv(col("covered") * 1000000L, col("len"))))
      .orderBy("doc_id")
  }

  /** d23 — LSH dedup quality eval (the dedup-family twin of s13's ANN
    * recall@k): on a deterministic query sample (doc_id % 25), compare
    * the d03 band-join CANDIDATE set against exact-Jaccard ground truth
    * (J ≥ 0.9 over distinct-token sets, enumerated exhaustively for the
    * sample) and report candidate precision/recall — the numbers a
    * pipeline owner reads before trusting a sketch configuration at a
    * new corpus. Vacuous denominators score 1e6 (no truth → nothing
    * missed; no candidates → no false positives). Shares d03's exact
    * signature/band construction, so the eval measures the REAL
    * operator, not a reimplementation.
    *
    * Scale shape: ground truth is sample-bounded (|sample|·n merge
    * loops behind a lossless size-ratio gate, queries broadcast); the
    * candidate probe broadcasts the sample's band keys onto the corpus
    * band stream. Nothing quadratic in the corpus. */
  def d23_lsh_recall_eval(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val r = minhashR(s, dir)
    // filled once for truth, bands and counts; the fill's row count is n
    val docs = NearDup.sketch(Tables.documents(s, dir), tokenHashes, r).persist()
    val n = Engine.materialize(docs)
    // size-derived sample modulus (the s13 idiom): ~100 queries at any
    // scale, so the exhaustive truth pass stays LINEAR in the corpus
    // (sample x n), never quadratic
    val m = math.max(25L, n / 100L)
    val qs = docs.filter(col("doc_id") % m === 0)
      .select(col("doc_id").as("q_id"), col("sig").as("q_sig"),
        col("tk").as("q_tk"))
    // exhaustive, no estimate prefilter: the truth the sketch is judged by
    val truth = NearDup.jaccard(
        docs.crossJoin(broadcast(qs)).filter(col("doc_id") =!= col("q_id")),
        "", "q_", 9, 10, None, "j")
      .select("q_id", "doc_id")
    val cand = NearDup.probe(
        broadcast(NearDup.bands(qs.select(col("q_id"), col("q_sig").as("sig")), r, "q_id")),
        NearDup.bands(docs, r, "doc_id"))
      .filter(col("doc_id") =!= col("q_id"))
      .select("q_id", "doc_id").distinct()
    val hit = cand.join(truth, Seq("q_id", "doc_id"), "left_semi")
    qs.agg(count(lit(1)).as("n_queries"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_queries"), col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_cand") === 0L, 1000000L)
          .otherwise(ldiv(col("n_hit") * 1000000L, col("n_cand")))
          .as("precision_fp"),
        when(col("n_truth") === 0L, 1000000L)
          .otherwise(ldiv(col("n_hit") * 1000000L, col("n_truth")))
          .as("recall_fp"))
  }

  /** d24 — duplication-profile histogram: the one-page answer to "how
    * duplicated is this corpus" — near-dup clusters bucketed by size
    * (1, 2, 3–4, 5–8, 9+), with cluster/doc counts and the largest
    * cluster per bucket. The fourth consumer of the memoized component
    * labels (after d14's manifest, p13's sampling weights and d22's
    * keep-best cut); singletons are derived from count(*) minus the
    * clustered docs, in the plan — never materialized, and no driver
    * count. The 9+ bucket's max_size is
    * the number a corpus owner reads first: a single giant cluster
    * usually means boilerplate, not duplication.
    *
    * Scale shape: one ≤|clusters|-row aggregate over the shared labels
    * plus integer bucket CASEs — nothing new touches the corpus. */
  def d24_cluster_histogram(s: SparkSession, dir: String): DataFrame = {
    val labels = lit(Array("1", "2", "3-4", "5-8", "9+"))
    val clustered = componentSizes(s, dir)
      .withColumn("b", when(col("n") === 2L, 1L)
        .when(col("n") <= 4L, 2L).when(col("n") <= 8L, 3L).otherwise(4L))
      .groupBy("b")
      .agg(count(lit(1)).as("n_clusters"), sum("n").as("n_docs"),
        max("n").as("max_size"))
    val nSingle = col("n_tot") - col("n_clustered")
    val singletons = Tables.documents(s, dir).agg(count(lit(1)).as("n_tot"))
      .crossJoin(componentLabels(s, dir).agg(count(lit(1)).as("n_clustered")))
      .select(lit(0L).as("b"), nSingle.as("n_clusters"), nSingle.as("n_docs"),
        when(nSingle > 0L, 1L).otherwise(0L).as("max_size"))
    singletons.unionByName(clustered)
      .withColumn("bucket", element_at(labels, col("b").cast("int") + 1))
      .select("b", "bucket", "n_clusters", "n_docs", "max_size")
      .orderBy("b")
  }

  /** d25 — content-defined chunking (CDC) dedup: cut every document at
    * positions where a rolling hash of the trailing 8 characters hits
    * 0 mod 16 (avg ~16-char chunks), hash each chunk, and report the
    * per-document share of characters living in chunks that ALSO occur
    * in another document. Content-defined boundaries are what storage
    * dedup (LBFS/Venti lineage) and long-document partial-dup detection
    * use instead of fixed grams: an insertion shifts every fixed-stride
    * window after it, but CDC boundaries re-synchronize within one
    * chunk, so the shared tail still dedups. Complements d15/d21 (gram
    * spans) with the boundary-stable formulation.
    *
    * The window hash is recomputed per position (8 multiplies) rather
    * than rolled — stateless, so one codegen'd HOF chain expresses it
    * in BOTH engines with no per-row state to carry; the chunk pass is
    * O(8·chars) scan work.
    *
    * Scale shape: the d15/t23 inverted-index posture — chunks hashed to
    * 8-byte longs, ONE map-combined distinct-doc count per chunk key,
    * one join back on the same hash partitioning, per-doc aggregate.
    * Posting lists never materialize; nothing all-pairs. */
  def d25_cdc_chunks(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    // the boundary scan (trailing-8 polynomial mod 16, [[graft.plans
    // .TextHashKernels.cdcChunks]]) runs as ONE native codegen call per
    // row: the equivalent filter(sequence)/aggregate HOF chain is
    // interpreted and cost 25.6 s at sf0.1 (~8 substring+ascii exprs
    // per character) vs ~1 s native — the t20/d05 kernel lesson again
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.plans.CdcChunks(col("text"))).as("chunk"))
      .select(col("doc_id"), length(col("chunk")).cast("long").as("clen"),
        md5Long60(col("chunk")).as("g"))
    val dfc = chunks.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("dfc"))
    chunks.join(dfc, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("clen").as("n_chars"),
        sum(when(col("dfc") >= 2L, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("dfc") >= 2L, col("clen")).otherwise(0L))
          .as("dup_chars"))
      .withColumn("dup_share_fp",
        ldiv(col("dup_chars") * 1000000L, col("n_chars")))
      .orderBy("doc_id")
  }

  /** d26 — near-dup THRESHOLD sweep: the tuning curve for the one knob
    * every LSH dedup deploy argues about. One candidate+verify pass at
    * the loosest setting (J ≥ 0.7, estimate prefilter DISABLED — the
    * 0.99-tuned 2-mismatch prefilter would silently undercount the low
    * bins), then every verified pair is bucketed into the thresholds it
    * clears {0.70, 0.80, 0.90, 0.99}; per threshold the accepted pair
    * count and the number of documents touched. Read bottom-up it
    * answers "how much more corpus does each relaxation remove" —
    * the cost/aggressiveness curve d23 (fixed-threshold recall) can't
    * show. Thresholds compare in IEEE double identically in both
    * engines (same ppm literal ÷ 1e6).
    *
    * Scale shape: the d03 posture — banded candidate join (bucket-
    * capped), codegen merge-loop verify once per candidate, then a
    * constant 4-way explode and two ≤4-group aggregates. The sweep
    * costs ONE extra verify pass over the 0.7-candidates, not one pass
    * per threshold. */
  def d26_threshold_sweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = minhashR(s, dir)
    val docs = NearDup.sketch(Tables.documents(s, dir), tokenHashes, r)
    // minEq 0: the estimate prefilter passes every candidate
    val pairs = NearDup.lshVerifiedPairs(docs, r, 70, 100, 0, "jaccard")
    val thr = Seq(700000L, 800000L, 900000L, 990000L)
    val tagged = pairs
      .withColumn("thr_ppm", explode(array(thr.map(lit): _*)))
      .filter(col("jaccard") >= col("thr_ppm").cast("double") / 1000000.0)
      .cache()
    val np = tagged.groupBy("thr_ppm").agg(count(lit(1)).as("n_pairs"))
    val nd = tagged
      .select(col("thr_ppm"), explode(array(col("doc_a"), col("doc_b")))
        .as("d"))
      .distinct()
      .groupBy("thr_ppm").agg(count(lit(1)).as("n_docs_linked"))
    thr.toDF("thr_ppm")
      .join(np, Seq("thr_ppm"), "left")
      .join(nd, Seq("thr_ppm"), "left")
      .select(col("thr_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_linked"), lit(0L)).as("n_docs_linked"))
      .orderBy("thr_ppm")
  }

  /** d27 — BLOOM-FILTER dedup prefilter for delta-vs-corpus ingest (the
    * d16 shape at its 100 TB posture): before the delta batch pays the
    * exact membership join against the corpus, a bloom filter screens
    * it — three deterministic md5-derived bucket functions over a
    * size-derived modulus m = 2·|corpus|+1, membership = all three
    * buckets occupied. The filter side the join ships is the DISTINCT
    * bucket set per hash: at most m values, about 0.79·|corpus| at this
    * load factor, so it grows LINEARLY with the corpus rather than
    * staying flat. Bloom-positive rows alone pay the exact verify, and
    * the op reports the audit arithmetic: true dups (exact, keyed on
    * the 32-char head fingerprint — the URL/head surrogate crawl dedup
    * actually keys on), bloom passes, false positives, and the measured
    * FPR against the non-dup population.
    * Bloom filters cannot produce false negatives, so
    * n_dup ≤ n_bloom_pass always — the oracle re-derives every count
    * including each hash's bucket occupancy.
    *
    * Scale shape: three broadcast LEFT SEMI joins (filter side ≤ m, so
    * the broadcast grows with the corpus) + one exact semi-join over
    * ONLY the bloom-positive rows; at 100 TB the exact join's probe
    * side shrinks from |delta| to |dups| + FPR·|delta|, which is the
    * cost model that makes bloom prefilters standard in ingest dedup.
    * One driver count (|corpus|, for m); every other figure comes out of
    * one aggregate in the returned plan.
    * No reference counterpart — the brief's deduplication lane. */
  def d27_bloom_prefilter(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 32).as("key"))
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val nCorpus = corpus.count()
    val m = 2L * nCorpus + 1L // size-derived: load factor fixed at scale
    def bucket(j: Int, c: Column): Column =
      md5Long60(concat(lit(j.toString), c)) % m
    val delta = docs.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id"), col("key"),
        bucket(0, col("key")).as("q0"), bucket(1, col("key")).as("q1"),
        bucket(2, col("key")).as("q2"))
    // buckets are ≥ 0, so -1 stands for a null key: one distinct value in
    // the occupancy count, matching no delta bucket, as null does. A
    // non-null set is one plan for the count and the semi-join, which
    // would otherwise add a not-null filter and shuffle the set again
    val sets = (0 to 2).map(j =>
      corpus.select(coalesce(bucket(j, col("key")), lit(-1L)).as(s"b$j")).distinct())
    val pass = delta
      .join(broadcast(sets(0)), col("q0") === col("b0"), "left_semi")
      .join(broadcast(sets(1)), col("q1") === col("b1"), "left_semi")
      .join(broadcast(sets(2)), col("q2") === col("b2"), "left_semi")
    // exact verify over ONLY the bloom-positive rows
    val dup = pass.join(corpus.select("key").distinct(), Seq("key"), "left_semi")
    // every other figure in ONE aggregate over the union of the counted
    // rows, each tagged with its figure: the distinct sets are shared with
    // the semi-joins instead of recomputed per driver count
    val figures = Seq("b0_occ" -> sets(0), "b1_occ" -> sets(1),
      "b2_occ" -> sets(2), "n_delta" -> delta, "n_bloom_pass" -> pass, "n_dup" -> dup)
      .zipWithIndex
    val counts = figures.map { case ((name, _), i) => count(when(col("f") === i, 1)).as(name) }
    figures.map { case ((_, df), i) => df.select(lit(i).as("f")) }.reduce(_ union _)
      .agg(counts.head, counts.tail: _*)
      .select(lit(nCorpus).as("n_corpus"), col("n_delta"), lit(m).as("m"),
        col("b0_occ"), col("b1_occ"), col("b2_occ"),
        col("n_bloom_pass"), col("n_dup"),
        (col("n_bloom_pass") - col("n_dup")).as("n_false_pos"),
        ldiv((col("n_bloom_pass") - col("n_dup")) * 1000000L,
          greatest(lit(1L), col("n_delta") - col("n_dup"))).as("fpr_fp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d27_bloom_prefilter" -> (d27_bloom_prefilter _),
    "d26_threshold_sweep" -> (d26_threshold_sweep _),
    "d25_cdc_chunks" -> (d25_cdc_chunks _),
    "d24_cluster_histogram" -> (d24_cluster_histogram _),
    "d23_lsh_recall_eval" -> (d23_lsh_recall_eval _),
    "d22_cluster_keep_best" -> (d22_cluster_keep_best _),
    "d21_substring_spans" -> (d21_substring_spans _),
    "d19_editdist" -> (d19_editdist _),
    "d12_semantic_dedup" -> (d12_semantic_dedup _),
    "d10_dedup_stream_lsh" -> (d10_dedup_stream_lsh _),
    "d06_dedup_embcos" -> (d06_dedup_embcos _),
    "d07_dedup_apply" -> (d07_dedup_apply _),
    "d08_dedup_emblsh" -> (d08_dedup_emblsh _),
    "d09_dedup_stream" -> (d09_dedup_stream _),
    "d13_dedup_stream_filesource" -> (d13_dedup_stream_filesource _),
    "d01_dedup_exact" -> (d01_dedup_exact _),
    "d02_dedup_canonical" -> (d02_dedup_canonical _),
    "d03_minhash_lsh" -> (d03_minhash_lsh _),
    "d17_incremental_minhash" -> (d17_incremental_minhash _),
    "p13_dedup_aware_sample" -> (p13_dedup_aware_sample _),
    "d04_simhash" -> (d04_simhash _),
    "d14_dedup_components" -> (d14_dedup_components _),
    "d16_containment" -> (d16_containment _),
    "d18_decontaminate" -> (d18_decontaminate _),
    "d15_dup_ngram_spans" -> (d15_dup_ngram_spans _),
    "d05_ngram_jaccard" -> (d05_ngram_jaccard _),
    "d11_dedup_provenance" -> (d11_dedup_provenance _),
  )

  /** Rows-per-band CTE replaying [[graft.core.AutoScale.minhashRows]]:
    * r = max(8, (log2ceil(|documents|) + 1) // 2). Every minhash oracle
    * joins this CTE so its signature width (2r), band slices and
    * estimate thresholds follow the corpus exactly like the Spark
    * side. */
  private val sqlPrmR =
    """prmR AS (SELECT greatest(8, (CAST(coalesce(min(L), 62) AS INT) + 1) // 2) AS r
       FROM range(0, 63) t(L)
       WHERE (1::BIGINT << L) >= (SELECT count(*) FROM documents))"""

  /** Requires `prmR` in the enclosing FROM (signature width = 2r). */
  private val sqlSig =
    """list_transform(range(0, 2*r), k -> list_min(list_transform(
       list_transform(list_distinct(string_split(text, ' ')),
         t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647),
       h -> (((1103515245*(k+1) + 12345) % 2147483647) * h
             + ((1103515245*(k+101) + 12345) % 2147483647)) % 2147483647)))"""

  private val sqlSimhash =
    """list_reduce(list_transform(range(0, 60), b ->
       CASE WHEN list_reduce(list_transform(
         list_transform(list_distinct(string_split(text, ' ')),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)), h ->
         CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END), (x,y) -> x+y) > 0
       THEN (1::BIGINT << b) ELSE 0::BIGINT END), (x,y) -> x+y)"""

  /** The full keep-best manifest chain (minhash sigs → banded
    * candidates → verified pairs → recursive component closure →
    * quality scores → `sized` with per-comp rank) shared by the d22
    * oracle and p27's dedup-reweight oracle in
    * [[PipelineQueries]] — ends at the `sized` CTE, consumers append
    * their own final SELECT (and further CTEs with a leading comma). */
  private[operators] lazy val sqlKeepBestChain: String = s"""
      WITH RECURSIVE $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(a.tk || b.tk))::DOUBLE AS jaccard
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 2)
        WHERE jaccard >= 0.99),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      lbl(doc_id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, l.comp FROM lbl l JOIN edges e ON l.doc_id = e.u),
      final AS (SELECT doc_id, min(comp) AS comp FROM lbl GROUP BY doc_id),
      scored AS (SELECT doc_id,
          CASE WHEN n_tok = 0 THEN 0
            ELSE n_dist * 1000000 // n_tok END AS score_fp
        FROM (SELECT doc_id,
            len(string_split(text, ' '))::BIGINT AS n_tok,
            len(list_distinct(string_split(text, ' ')))::BIGINT AS n_dist
          FROM documents)),
      alldocs AS (SELECT s.doc_id, coalesce(f.comp, s.doc_id) AS comp,
          s.score_fp
        FROM scored s LEFT JOIN final f ON s.doc_id = f.doc_id),
      sized AS (SELECT doc_id, comp, score_fp,
          count(*) OVER (PARTITION BY comp) AS n_members,
          row_number() OVER (PARTITION BY comp
            ORDER BY score_fp DESC, doc_id) AS rk
        FROM alldocs)"""

  val oracles: Map[String, String] = Map(
    // every count re-derived: bucket sets per hash, the 3-way EXISTS
    // bloom test, the exact dup verify, and the FPR quotient
    "d27_bloom_prefilter" ->
      """WITH doc AS (SELECT doc_id, substr(text, 1, 32) AS key
           FROM documents),
         c AS MATERIALIZED (SELECT * FROM doc WHERE doc_id % 7 <> 3),
         d AS MATERIALIZED (SELECT * FROM doc WHERE doc_id % 7 = 3),
         nn AS (SELECT count(*)::BIGINT AS n_corpus,
           (2 * count(*) + 1)::BIGINT AS m FROM c),
         cb AS MATERIALIZED (SELECT DISTINCT j,
             CAST('0x' || substr(md5(j::VARCHAR || key), 1, 15) AS BIGINT)
               % m AS b
           FROM c, nn, range(0, 3) t(j)),
         db AS MATERIALIZED (SELECT doc_id, key,
             CAST('0x' || substr(md5('0' || key), 1, 15) AS BIGINT) % m AS q0,
             CAST('0x' || substr(md5('1' || key), 1, 15) AS BIGINT) % m AS q1,
             CAST('0x' || substr(md5('2' || key), 1, 15) AS BIGINT) % m AS q2
           FROM d, nn),
         pass AS MATERIALIZED (SELECT * FROM db WHERE
           EXISTS (SELECT 1 FROM cb WHERE cb.j = 0 AND cb.b = db.q0) AND
           EXISTS (SELECT 1 FROM cb WHERE cb.j = 1 AND cb.b = db.q1) AND
           EXISTS (SELECT 1 FROM cb WHERE cb.j = 2 AND cb.b = db.q2)),
         agg AS (SELECT
           (SELECT count(*) FROM d)::BIGINT AS n_delta,
           (SELECT count(*) FROM pass)::BIGINT AS n_pass,
           (SELECT count(*) FROM pass p
             WHERE EXISTS (SELECT 1 FROM c WHERE c.key = p.key))::BIGINT
             AS n_dup,
           (SELECT count(*) FILTER (WHERE j = 0) FROM cb)::BIGINT AS b0,
           (SELECT count(*) FILTER (WHERE j = 1) FROM cb)::BIGINT AS b1,
           (SELECT count(*) FILTER (WHERE j = 2) FROM cb)::BIGINT AS b2)
         SELECT nn.n_corpus, agg.n_delta, nn.m,
           agg.b0 AS b0_occ, agg.b1 AS b1_occ, agg.b2 AS b2_occ,
           agg.n_pass AS n_bloom_pass, agg.n_dup,
           (agg.n_pass - agg.n_dup)::BIGINT AS n_false_pos,
           CAST((agg.n_pass - agg.n_dup) * 1000000
             // greatest(agg.n_delta - agg.n_dup, 1) AS BIGINT) AS fpr_fp
         FROM nn, agg""",
    // the d03 candidate chain WITHOUT the estimate prefilter, verified
    // once at 0.7, then bucketed into the thresholds each pair clears
    "d26_threshold_sweep" -> s"""
      WITH $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      j AS (SELECT doc_a, doc_b, jaccard FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(a.tk || b.tk))::DOUBLE AS jaccard
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id)
        WHERE jaccard >= 0.7),
      th AS (SELECT unnest([700000, 800000, 900000, 990000])::BIGINT
        AS thr_ppm),
      tp AS (SELECT th.thr_ppm, j.doc_a, j.doc_b FROM j, th
        WHERE j.jaccard >= th.thr_ppm / 1000000.0),
      np AS (SELECT thr_ppm, count(*)::BIGINT AS n_pairs FROM tp
        GROUP BY thr_ppm),
      nd AS (SELECT thr_ppm, count(*)::BIGINT AS n_docs_linked FROM (
          SELECT DISTINCT thr_ppm, d FROM (
            SELECT thr_ppm, doc_a AS d FROM tp
            UNION ALL SELECT thr_ppm, doc_b FROM tp))
        GROUP BY thr_ppm)
      SELECT th.thr_ppm, coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
        coalesce(nd.n_docs_linked, 0)::BIGINT AS n_docs_linked
      FROM th LEFT JOIN np ON np.thr_ppm = th.thr_ppm
        LEFT JOIN nd ON nd.thr_ppm = th.thr_ppm
      ORDER BY th.thr_ppm""",
    // the same stateless window polynomial, boundary rule and chunk
    // cut replayed over ranges; DuckDB's range(8, len+1) is already
    // empty below 8 chars (Spark's sequence() would count DOWN, hence
    // the guard on the engine side)
    "d25_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, text, length(text)::BIGINT AS len
           FROM documents),
         b AS (SELECT doc_id, text, len,
             list_filter(range(8, len + 1), i ->
               list_reduce(list_transform(range(i - 7, i + 1),
                 k -> ascii(substr(text, k::INT, 1))::BIGINT),
                 (acc, c) -> (acc * 31 + c) % 2147483647) % 16 = 0)
               AS bs
           FROM t),
         ch AS (SELECT doc_id, text, len,
             CASE WHEN len(bs) > 0 AND bs[len(bs)] = len THEN bs
               ELSE list_concat(bs, [len]) END AS ends,
             list_concat([1]::BIGINT[],
               list_transform(list_filter(bs, x -> x < len), x -> x + 1))
               AS starts
           FROM b),
         ck AS (SELECT doc_id,
             unnest(list_transform(range(1, len(starts)::BIGINT + 1),
               j -> substr(text, starts[j::INT]::INT,
                 (ends[j::INT] - starts[j::INT] + 1)::INT))) AS chunk
           FROM ch),
         gk AS (SELECT doc_id, length(chunk)::BIGINT AS clen,
             CAST('0x' || substr(md5(chunk), 1, 15) AS BIGINT) AS g
           FROM ck),
         dfc AS (SELECT g, count(DISTINCT doc_id)::BIGINT AS dfc
           FROM gk GROUP BY g),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_chunks,
             sum(clen)::BIGINT AS n_chars,
             sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END)::BIGINT
               AS n_dup_chunks,
             sum(CASE WHEN dfc >= 2 THEN clen ELSE 0 END)::BIGINT
               AS dup_chars
           FROM gk JOIN dfc USING (g) GROUP BY doc_id)
         SELECT doc_id, n_chunks, n_chars, n_dup_chunks, dup_chars,
           CAST((dup_chars * 1000000) // n_chars AS BIGINT)
             AS dup_share_fp
         FROM agg ORDER BY doc_id""",
    // same d03 signatures and band keys; ground truth re-derived as
    // exact Jaccard over distinct tokens for the sample
    "d23_lsh_recall_eval" -> s"""
      WITH $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      md AS (SELECT greatest(25, count(*) // 100) AS m FROM documents),
      q AS (SELECT doc_id AS q_id, sig AS q_sig, tk AS q_tk
        FROM sigs, md WHERE doc_id % md.m = 0),
      truth AS MATERIALIZED (SELECT q.q_id, d.doc_id FROM sigs d, q
        WHERE d.doc_id <> q.q_id
          AND len(list_intersect(d.tk, q.q_tk))::DOUBLE /
              len(list_distinct(d.tk || q.q_tk))::DOUBLE >= 0.9),
      cb AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      qb AS (SELECT q_id, b,
          array_to_string(q_sig[b*r+1 : b*r+r], '_') AS bkey
        FROM q, prmR, range(0, 2) t(b)),
      cand AS MATERIALIZED (SELECT DISTINCT qb.q_id, cb.doc_id
        FROM cb JOIN qb ON cb.b = qb.b AND cb.bkey = qb.bkey
        WHERE cb.doc_id <> qb.q_id),
      hit AS (SELECT c.q_id, c.doc_id FROM cand c
        JOIN truth t ON t.q_id = c.q_id AND t.doc_id = c.doc_id),
      n AS (SELECT (SELECT count(*) FROM q)::BIGINT AS n_queries,
        (SELECT count(*) FROM truth)::BIGINT AS n_truth,
        (SELECT count(*) FROM cand)::BIGINT AS n_cand,
        (SELECT count(*) FROM hit)::BIGINT AS n_hit)
      SELECT n_queries, n_truth, n_cand, n_hit,
        CASE WHEN n_cand = 0 THEN 1000000
          ELSE (n_hit * 1000000) // n_cand END::BIGINT AS precision_fp,
        CASE WHEN n_truth = 0 THEN 1000000
          ELSE (n_hit * 1000000) // n_truth END::BIGINT AS recall_fp
      FROM n""",
    "d21_substring_spans" ->
      """WITH pos AS (
           SELECT doc_id, len, unnest(ps)::BIGINT AS p, unnest(gs) AS g
           FROM (SELECT doc_id, length(text)::BIGINT AS len,
               range(1, greatest(length(text) - 18, 1)) AS ps,
               list_transform(range(1, greatest(length(text) - 18, 1)),
                 i -> substr(text, i::INT, 20)) AS gs
             FROM documents)),
         crossdoc AS (SELECT g FROM pos GROUP BY g
           HAVING count(DISTINCT doc_id) >= 2),
         matched AS (SELECT doc_id, p FROM pos
           WHERE g IN (SELECT g FROM crossdoc)),
         isl AS (SELECT doc_id, p,
             CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 20
               THEN 1 ELSE 0 END AS brk
           FROM matched WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
         isl2 AS (SELECT doc_id, p,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
           FROM isl),
         per_isl AS (SELECT doc_id, island, min(p) AS mn, max(p) AS mx,
             count(*) AS c FROM isl2 GROUP BY doc_id, island),
         cov AS (SELECT doc_id, sum(mx - mn + 20)::BIGINT AS covered,
             sum(c)::BIGINT AS n_matched FROM per_isl GROUP BY doc_id)
         SELECT d.doc_id, length(d.text)::BIGINT AS len,
           greatest(length(d.text)::BIGINT - 19, 0) AS n_grams,
           coalesce(cov.n_matched, 0)::BIGINT AS n_matched,
           coalesce(cov.covered, 0)::BIGINT AS covered,
           CASE WHEN length(d.text) = 0 THEN 0
             ELSE coalesce(cov.covered, 0) * 1000000 // length(d.text)
           END::BIGINT AS cov_fp
         FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
         ORDER BY d.doc_id""",
    "d19_editdist" ->
      """WITH a AS (
           SELECT doc_id, text, length(text) AS len,
             substr(text, 1, 32) AS anchor, 0 AS kind FROM documents
           UNION ALL
           SELECT doc_id, text, length(text),
             substr(text, greatest(length(text) - 31, 1), 32), 1
           FROM documents),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.text AS ta, y.text AS tb,
             greatest(x.len, y.len) AS mx
           FROM a x JOIN a y ON x.kind = y.kind AND x.anchor = y.anchor
             AND x.doc_id < y.doc_id
           WHERE abs(x.len - y.len) <= 40)
         SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
         FROM cand
         WHERE levenshtein(ta, tb) * 5 <= mx
         ORDER BY doc_a, doc_b""",
    "d12_semantic_dedup" ->
      s"""${ClusterQueries.lloydCte},
       n AS (SELECT a2.vec_id, a2.cid,
           list_transform(em.embedding, x -> x::DOUBLE) AS a
         FROM a2 JOIN embeddings em ON a2.vec_id = em.vec_id),
       nn AS (SELECT vec_id, cid, a,
           sqrt(list_reduce(list_transform(range(1, 65), i -> a[i] * a[i]),
             (p,q) -> p+q)) AS nrm FROM n),
       dup AS (SELECT DISTINCT x.vec_id FROM nn x JOIN nn y
           ON x.cid = y.cid AND x.vec_id > y.vec_id
         WHERE list_reduce(list_transform(range(1, 65), i -> x.a[i] * y.a[i]),
             (p,q) -> p+q) / (x.nrm * y.nrm) >= 0.4)
       SELECT nn.vec_id, nn.cid, dup.vec_id IS NOT NULL AS is_dup
       FROM nn LEFT JOIN dup ON nn.vec_id = dup.vec_id
       ORDER BY nn.vec_id""",
    "d10_dedup_stream_lsh" -> s"""
      WITH $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig FROM documents, prmR
        WHERE doc_id % 7 = 0),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id)
      SELECT doc_a, doc_b, est FROM (
        SELECT doc_a, doc_b,
          list_reduce(list_transform(range(1, 2*r + 1),
            i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
            (x,y) -> x+y) / (2.0 * r) AS est
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id, prmR)
      WHERE est >= 0.5 ORDER BY doc_a, doc_b""",
    "d09_dedup_stream" ->
      """SELECT doc_id, doc_id = mn AS kept, mn AS dup_of
         FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS mn
               FROM documents)
         ORDER BY doc_id""",
    // the file-source stream must converge to the same batch answer
    "d13_dedup_stream_filesource" ->
      """SELECT doc_id, doc_id = mn AS kept, mn AS dup_of
         FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS mn
               FROM documents)
         ORDER BY doc_id""",
    // band bits derived from count(*) exactly like AutoScale.bandBits
    // (smallest b in [8,20] with 2^b * 8 >= n); signs taken on the
    // MEAN-CENTERED vectors (exact-integer mean, two IEEE divisions)
    "d08_dedup_emblsh" -> """
      WITH cnt AS (SELECT count(*) AS n FROM embeddings),
      prm AS (SELECT CAST(coalesce(min(b), 20) AS INT) AS bb
        FROM range(8, 21) t(b), cnt WHERE (1::BIGINT << b) * 8 >= n),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a
          FROM embeddings),
      msum AS (SELECT i,
          CAST(sum(CAST(floor(a[i] * 1e9) AS BIGINT)) AS BIGINT) AS sv,
          count(*) AS nn
        FROM e, range(1, 65) t(i) GROUP BY i),
      mm AS (SELECT list(CAST(sv AS DOUBLE) / CAST(nn AS DOUBLE) / 1e9
          ORDER BY i) AS m FROM msum),
      n AS (SELECT vec_id, a,
        sqrt(list_reduce(list_transform(range(1, 65), i -> a[i] * a[i]),
          (p,q) -> p+q)) AS nrm FROM e),
      s AS (SELECT vec_id, a, nrm,
        list_reduce(list_transform(range(0, 2 * prm.bb), j ->
          CASE WHEN list_reduce(list_transform(range(1, 65), i ->
            (a[i] - mm.m[i]) *
              (CASE WHEN (j*64 + i) * 2654435761 // 65536 % 2 = 1
                    THEN 1.0 ELSE -1.0 END)),
            (p,q) -> p+q) > 0
          THEN (1::BIGINT << j) ELSE 0::BIGINT END), (x,y) -> x+y) AS sig
        FROM n, prm, mm),
      banded AS (SELECT vec_id, 0 AS b, sig % (1::BIGINT << prm.bb) AS bkey
          FROM s, prm
        UNION ALL SELECT vec_id, 1, sig // (1::BIGINT << prm.bb) FROM s, prm),
      cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM banded x JOIN banded y ON x.b = y.b AND x.bkey = y.bkey
          AND x.vec_id < y.vec_id)
      SELECT id_a, id_b, cos FROM (
        SELECT id_a, id_b,
          list_reduce(list_transform(range(1, 65), i -> xa.a[i] * ya.a[i]),
            (p,q) -> p+q) / (xa.nrm * ya.nrm) AS cos
        FROM cand JOIN n xa ON id_a = xa.vec_id JOIN n ya ON id_b = ya.vec_id)
      WHERE cos >= 0.4 ORDER BY id_a, id_b""",
    "d06_dedup_embcos" -> """
      WITH e AS (SELECT vec_id, label,
          list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),
      n AS (SELECT vec_id, label, a,
        sqrt(list_reduce(list_transform(range(1, 65), i -> a[i] * a[i]),
          (p,q) -> p+q)) AS nrm FROM e)
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        list_reduce(list_transform(range(1, 65), i -> x.a[i] * y.a[i]),
          (p,q) -> p+q) / (x.nrm * y.nrm) AS cos
      FROM n x JOIN n y ON x.label = y.label AND x.vec_id < y.vec_id
      WHERE list_reduce(list_transform(range(1, 65), i -> x.a[i] * y.a[i]),
          (p,q) -> p+q) / (x.nrm * y.nrm) >= 0.4
      ORDER BY id_a, id_b""",
    "d01_dedup_exact" ->
      """SELECT doc_id, rep_id, group_size, doc_id <> rep_id AS is_dup
         FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id,
           count(*) OVER (PARTITION BY md5(text)) AS group_size FROM documents)
         ORDER BY doc_id""",
    "d02_dedup_canonical" ->
      """SELECT doc_id, rep_id, group_size, doc_id <> rep_id AS is_dup
         FROM (SELECT doc_id,
           min(doc_id) OVER (PARTITION BY canon) AS rep_id,
           count(*) OVER (PARTITION BY canon) AS group_size
           FROM (SELECT doc_id,
             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS canon
             FROM documents))
         ORDER BY doc_id""",
    "d11_dedup_provenance" ->
      """WITH g AS (SELECT
           array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
             AS canon,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           min(doc_id) AS rep_id
         FROM documents GROUP BY 1)
       SELECT n_sources, count(*) AS n_groups,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(rep_id) AS BIGINT) AS rep_id_sum
       FROM g WHERE n_sources >= 2 GROUP BY 1 ORDER BY 1""",
    "d17_incremental_minhash" -> s"""
      WITH $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_idx
        FROM bands n JOIN bands c ON n.b = c.b AND n.bkey = c.bkey
        WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
      pre AS (SELECT doc_new, doc_idx,
          len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(a.tk || b.tk))::DOUBLE AS jaccard
        FROM cand JOIN sigs a ON cand.doc_new = a.doc_id
          JOIN sigs b ON cand.doc_idx = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 3)
      SELECT doc_new, doc_idx, jaccard FROM pre
      WHERE jaccard >= 0.95 ORDER BY doc_new, doc_idx""",
    "d03_minhash_lsh" -> s"""
      WITH $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      prefiltered AS (SELECT doc_a, doc_b, a.tk AS atk, b.tk AS btk
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 2)
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(atk, btk))::DOUBLE /
            len(list_distinct(atk || btk))::DOUBLE AS jaccard
        FROM prefiltered)
      WHERE jaccard >= 0.99 ORDER BY doc_a, doc_b""",
    "d07_dedup_apply" -> s"""
      WITH $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(a.tk || b.tk))::DOUBLE AS jaccard
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 2)
        WHERE jaccard >= 0.99),
      nbr AS (SELECT doc_id, min(nbr) AS min_nbr FROM (
          SELECT doc_b AS doc_id, doc_a AS nbr FROM pairs
          UNION ALL SELECT doc_a AS doc_id, doc_b AS nbr FROM pairs)
        GROUP BY doc_id)
      SELECT count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
      FROM documents d LEFT JOIN nbr ON d.doc_id = nbr.doc_id
      WHERE nbr.min_nbr IS NULL OR nbr.min_nbr >= d.doc_id""",
    "d18_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 3),
             i -> CAST('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)
                  AS BIGINT)))) AS gram
         FROM toks WHERE len(t) >= 5),
       b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 37 = 0),
       t AS (SELECT doc_id, gram FROM g WHERE doc_id % 37 <> 0),
       pair AS (SELECT t.doc_id, b.bench_id, count(*) AS ov
         FROM t JOIN b USING (gram) GROUP BY 1, 2 HAVING count(*) >= 3)
       SELECT doc_id, count(*) AS n_bench, max(ov) AS max_overlap,
         CAST(sum(ov) AS BIGINT) AS tot_overlap
       FROM pair GROUP BY 1 ORDER BY doc_id""",
    "d16_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 3),
             i -> CAST('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)
                  AS BIGINT)))) AS gram
         FROM toks WHERE len(t) >= 5),
       sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
         JOIN df ON df.gram = a.gram
         WHERE df.df <= 8),
       inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         FROM cand c JOIN g a ON a.doc_id = c.doc_a
         JOIN g b ON b.doc_id = c.doc_b AND b.gram = a.gram
         GROUP BY 1, 2)
       SELECT i.doc_a, i.doc_b,
         sa.n::BIGINT AS n_a, sb.n::BIGINT AS n_b,
         CAST(floor(i.inter::DOUBLE / least(sa.n, sb.n)::DOUBLE * 1e6)
           AS BIGINT) AS cont_fp
       FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a
       JOIN sz sb ON sb.doc_id = i.doc_b
       WHERE i.inter::DOUBLE / least(sa.n, sb.n)::DOUBLE >= 0.8
       ORDER BY doc_a, doc_b""",
    "d15_dup_ngram_spans" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      st AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 8)) AS pos
        FROM toks WHERE len(tk) >= 10),
      gh AS (SELECT doc_id, pos,
          CAST('0x' || substr(md5(array_to_string(tk[pos:pos+9], ' ')), 1, 15)
            AS BIGINT) AS g
        FROM st),
      dup AS (SELECT g FROM gh GROUP BY g HAVING count(*) >= 2),
      cov AS (SELECT doc_id, count(*) AS n_covered FROM (
          SELECT DISTINCT doc_id, p FROM (
            SELECT doc_id, unnest(range(pos, pos + 10)) AS p
            FROM gh JOIN dup USING (g)))
        GROUP BY doc_id)
      SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
        coalesce(c.n_covered, 0)::BIGINT AS n_covered,
        CAST(floor(coalesce(c.n_covered, 0)::DOUBLE / len(t.tk)::DOUBLE * 1e6)
          AS BIGINT) AS cov_fp
      FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id
      ORDER BY t.doc_id""",
    // d14's closure chain + quality rank inside each component;
    // singletons coalesce to their own id
    "d22_cluster_keep_best" -> s"""
      $sqlKeepBestChain
      SELECT doc_id, comp, n_members::BIGINT AS n_members, score_fp,
        (rk = 1)::BIGINT AS kept
      FROM sized ORDER BY doc_id""",
    // d14's component closure + integer bucket CASEs; singletons from
    // count(*) minus the clustered docs
    "d24_cluster_histogram" -> s"""
      WITH RECURSIVE $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(a.tk || b.tk))::DOUBLE AS jaccard
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 2)
        WHERE jaccard >= 0.99),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      lbl(doc_id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, l.comp FROM lbl l JOIN edges e ON l.doc_id = e.u),
      fin AS (SELECT doc_id, min(comp) AS comp FROM lbl GROUP BY doc_id),
      sz AS (SELECT comp, count(*)::BIGINT AS sz FROM fin GROUP BY comp),
      cl AS (SELECT CASE WHEN sz = 2 THEN 1 WHEN sz <= 4 THEN 2
            WHEN sz <= 8 THEN 3 ELSE 4 END::BIGINT AS b,
          count(*)::BIGINT AS n_clusters, sum(sz)::BIGINT AS n_docs,
          max(sz)::BIGINT AS max_size
        FROM sz GROUP BY 1),
      sing AS (SELECT 0::BIGINT AS b,
          ((SELECT count(*) FROM documents) -
           (SELECT count(*) FROM fin))::BIGINT AS n,
          1 AS one)
      SELECT b, ['1', '2', '3-4', '5-8', '9+'][b::INT + 1] AS bucket,
        n_clusters, n_docs, max_size FROM (
        SELECT b, n AS n_clusters, n AS n_docs,
          CASE WHEN n > 0 THEN 1 ELSE 0 END::BIGINT AS max_size FROM sing
        UNION ALL
        SELECT b, n_clusters, n_docs, max_size FROM cl)
      ORDER BY b""",
    "d14_dedup_components" -> s"""
      WITH RECURSIVE $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(a.tk || b.tk))::DOUBLE AS jaccard
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 2)
        WHERE jaccard >= 0.99),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      lbl(doc_id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, l.comp FROM lbl l JOIN edges e ON l.doc_id = e.u),
      final AS (SELECT doc_id, min(comp) AS comp FROM lbl GROUP BY doc_id),
      sizes AS (SELECT comp, count(*) AS n_members FROM final GROUP BY comp)
      SELECT f.doc_id, f.comp, s.n_members
      FROM final f JOIN sizes s ON f.comp = s.comp
      ORDER BY f.doc_id""",
    "p13_dedup_aware_sample" -> s"""
      WITH RECURSIVE $sqlPrmR,
      sigs AS (SELECT doc_id, $sqlSig AS sig,
          list_distinct(string_split(text, ' ')) AS tk FROM documents, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM sigs, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(a.tk || b.tk))::DOUBLE AS jaccard
        FROM cand JOIN sigs a ON cand.doc_a = a.doc_id
          JOIN sigs b ON cand.doc_b = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 2)
        WHERE jaccard >= 0.99),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      lbl(doc_id, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, l.comp FROM lbl l JOIN edges e ON l.doc_id = e.u),
      final AS (SELECT doc_id, min(comp) AS comp FROM lbl GROUP BY doc_id),
      sz AS (SELECT comp, count(*) AS n FROM final GROUP BY comp),
      fl AS (SELECT f.doc_id, sz.n FROM final f JOIN sz ON f.comp = sz.comp),
      w AS (SELECT d.doc_id, coalesce(fl.n, 1) AS csize,
          1000000 // coalesce(fl.n, 1) AS wt
        FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id),
      c AS (SELECT doc_id, csize, wt,
          sum(wt) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM w),
      t2 AS (SELECT c.*, (SELECT sum(wt) FROM w) AS total FROM c)
      SELECT doc_id, CAST(csize AS BIGINT) AS csize,
        CAST(wt AS BIGINT) AS wt, CAST(copies AS BIGINT) AS copies
      FROM (SELECT doc_id, csize, wt,
          (cum * 128) // total - ((cum - wt) * 128) // total AS copies
        FROM t2)
      WHERE copies >= 1 ORDER BY doc_id""",
    "d04_simhash" -> s"""
      WITH sh AS (SELECT doc_id, $sqlSimhash AS sh FROM documents),
      banded AS (SELECT doc_id, sh, sh >> 30 AS band FROM sh)
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        bit_count(xor(x.sh, y.sh))::BIGINT AS hamming
      FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.sh, y.sh)) <= 2
      ORDER BY doc_a, doc_b""",
    "d05_ngram_jaccard" -> s"""
      WITH g AS (SELECT doc_id,
          list_sort(list_distinct(list_transform(
            list_distinct(list_transform(range(1, length(text) - 2),
              i -> substr(text, i::INT, 4))),
            g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)))) AS grams
        FROM documents),
      $sqlPrmR,
      base AS (SELECT doc_id, grams,
          list_transform(range(0, 2*r), k -> list_min(list_transform(
            list_transform(grams, h -> h % 2147483647),
            h -> (((1103515245*(k+1) + 12345) % 2147483647) * h
                  + ((1103515245*(k+101) + 12345) % 2147483647)) % 2147483647))) AS sig
        FROM g, prmR),
      bands AS (SELECT doc_id, b,
          array_to_string(sig[b*r+1 : b*r+r], '_') AS bkey
        FROM base, prmR, range(0, 2) t(b)),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
          AND x.doc_id < y.doc_id),
      prefiltered AS (SELECT doc_a, doc_b, a.grams AS ga, b.grams AS gb
        FROM cand JOIN base a ON cand.doc_a = a.doc_id
          JOIN base b ON cand.doc_b = b.doc_id, prmR
        WHERE list_reduce(list_transform(range(1, 2*r + 1),
          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END),
          (x,y) -> x+y) >= 2*r - 2)
      SELECT doc_a, doc_b, jaccard4 FROM (
        SELECT doc_a, doc_b,
          len(list_intersect(ga, gb))::DOUBLE /
            len(list_distinct(ga || gb))::DOUBLE AS jaccard4
        FROM prefiltered)
      WHERE jaccard4 >= 0.9 ORDER BY doc_a, doc_b""",
  )
}
