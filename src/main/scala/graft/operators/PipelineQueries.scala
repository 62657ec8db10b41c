package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{AutoScale, Engine, Fixpoint, Tables}
import graft.functions.TextFunctions._

/** Composite training-corpus preparation pipeline — the text-analysis
  * and dedup operators chained the way a real 100 TB ingest run chains
  * them. Per-row scoring is scan-parallel codegen; the only shuffle is
  * the content-hash dedup (partitioned by hash, no skew: hashes are
  * uniform); the final aggregate is partial+final.
  */
object PipelineQueries {

  private val stop = Seq("the", "a", "of", "and", "to")
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "key", "hash"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "row", "scan"),
    "fr" -> Seq("order", "query", "value"),
    "zh" -> Seq("spark", "join", "merge"))

  /** p01 — quality-score filter (≥ 0.4) → predicted-language filter
    * (en) → exact dedup (first doc per content hash) → corpus stats.
    * Sums are exact (long token counts, 1e9 fixed-point quality) so the
    * result is identical at any parallelism. */
  def p01_corpus_pipeline(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => t.isInCollection(stop))).cast("double") /
          size(col("toks")).cast("double"))
      .withColumn("quality",
        (lit(1.0) - col("stop_ratio")) *
          least(lit(1.0), col("n_tokens").cast("double") / 100.0))
    val scored = markers.foldLeft(base) { case (df, (lg, ms)) =>
      df.withColumn(s"s_$lg",
        size(filter(col("toks"), t => t.isInCollection(ms))).cast("long"))
    }
    val best = greatest(markers.map { case (lg, _) => col(s"s_$lg") }: _*)
    val pred = markers.reverse.foldLeft(lit("??")) { case (els, (lg, _)) =>
      when(col(s"s_$lg") === best, lit(lg)).otherwise(els)
    }
    scored
      .filter(col("quality") >= 0.4 && pred === "en")
      .withColumn("rep",
        min("doc_id").over(Window.partitionBy(md5Long60(col("text")))))
      .filter(col("doc_id") === col("rep"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(floor(col("quality") * 1e9).cast("long")).as("quality_fp"))
  }

  /** p02 — benchmark-contamination check: the corpus split into an
    * "eval" subset (doc_id ≡ 0 mod 97, standing in for a benchmark) and
    * the train rest; a train doc is contaminated when it shares any
    * token 5-gram with the eval set. Output: contaminated doc →
    * distinct shared-gram count.
    *
    * Scale shape: the eval gram set is SMALL (benchmarks are), so it
    * broadcasts — the train side streams once through a broadcast hash
    * join keyed on the gram hash and aggregates partial+final; no
    * shuffle of the 100 TB side. */
  def p02_contamination(s: SparkSession, dir: String): DataFrame = {
    // native kernel: one md5 pass per gram window instead of a Catalyst
    // md5 chain per gram (same values; see TextHashKernels); cached —
    // both the eval and the train branch read it
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.plans.Gram5TokenHashSet(col("text"))).as("g"))
      .cache()
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** p03 — deterministic stratified sampling: a reproducible ~10%
    * Bernoulli sample keyed by pure doc_id arithmetic (no RNG state —
    * identical on 4 cores or 1000 executors), reported per length
    * stratum with exact counts, a kept-id checksum and a ppm rate.
    * One scan, one partial+final aggregation. */
  def p03_sample_stratified(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val keep = pmod(col("doc_id") * lit(2654435761L), lit(2147483647L)) % 100 < 10
    Tables.documents(s, dir)
      .withColumn("stratum", ldiv(col("n_chars"), lit(256L)))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_total"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(keep, col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .withColumn("rate_ppm", ldiv(col("n_kept") * 1000000L, col("n_total")))
      .orderBy("stratum")
  }

  /** p04 — token-budget sequence packing (concat-and-chunk): documents
    * are laid out in doc_id order, token counts accumulate, and every
    * doc is assigned to the 2048-token training window its first token
    * lands in — how an LLM ingest run turns a corpus into fixed-length
    * sequences. Per window: doc count, token sum, doc_id range.
    *
    * Scale shape: the global running sum is [[PrefixSum.blockStarts]]'s
    * distributed three-level scan — per-block subtotals (512 docs per
    * block) roll up into superblocks, the only single-task window runs
    * over n_docs/512² superblock rows, and the per-doc cumsum windows
    * are partitioned by block. The 100 TB side never single-threads. */
  def p04_sequence_packing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        ldiv(col("doc_id"), lit(512L)).as("blk"))
    val blkStart = PrefixSum.blockStarts(
      docs.groupBy("blk").agg(sum("n_tok").as("blk_tok")), "blk", "blk_tok")
    docs.join(blkStart, "blk")
      .withColumn("within", coalesce(
        sum("n_tok").over(Window.partitionBy("blk").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("window_id", ldiv(col("blk_start") + col("within"), lit(2048L)))
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("window_id")
  }

  /** p05 — token-budget domain mixing: each source (domain) gets a
    * deterministic character budget derived from its name, documents are
    * prioritized by content hash (reproducible, order-free), and docs
    * are taken per-domain until the running total crosses the budget —
    * how a training run holds domain proportions steady regardless of
    * how much raw data each crawl contributed. One window partitioned by
    * source (parallel across domains) + one partial+final aggregation.
    * At 100 TB the per-domain ordering is the only sort, and it shards
    * by the domain key. */
  def p05_domain_mix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("prio", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .withColumn("prio", md5Long60(col("text")))
      // substring to END of string (no length cap), matching the
      // oracle's substr(source, 4) — a cap would silently diverge on
      // source names longer than 13 chars
      .withColumn("budget",
        (expr("substring(source, 4)").cast("long") % 4L + 1L) * 1500L)
      .withColumn("before", coalesce(sum("n_chars").over(w), lit(0L)))
      .withColumn("kept", col("before") < col("budget"))
      .groupBy("source")
      .agg(max("budget").as("budget"),
        count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_kept"),
        sum(when(col("kept"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy("source")
  }

  /** p19 — temperature-based mixture sampling, the published
    * multilingual/multi-source mixing rule (mT5 / XLM-R / Llama-style):
    * source i is allocated docs ∝ size_i^α with α = 1/2, which
    * UP-samples small sources relative to proportional mixing and
    * down-weights the dominant crawl — the standard fix for
    * low-resource starvation. Distinct from p05 (absolute per-domain
    * budgets): here the allocation is RELATIVE, derived from the
    * measured sizes, and the total doc budget is fixed.
    *
    * Determinism: size^(1/2) is ONE correctly-rounded IEEE sqrt per
    * source (identical in DuckDB), floored to 1e-6 fixed point; the
    * allocation is exact integer floor(B·w_i/Σw); selection inside a
    * source is by (content-hash, doc_id) — reproducible and order-free.
    *
    * Scale shape: sizes are one map-side-combined aggregate; the
    * weight/allocation table is |sources| rows (broadcast); selection
    * is one per-source window — shards by source exactly like p05. */
  def p19_temperature_mix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val budget = 200L
    val docs = Tables.documents(s, dir)
      .withColumn("prio", md5Long60(col("text")))
    val sizes = docs.groupBy("source")
      .agg(sum("n_chars").as("sz"), count(lit(1)).as("n_docs"))
      .withColumn("w_fp",
        floor(sqrt(col("sz").cast("double")) * 1e6).cast("long"))
    val tot = sizes.agg(sum("w_fp").as("wtot"))
    val alloc = sizes.crossJoin(broadcast(tot))
      .withColumn("alloc", ldiv(lit(budget) * col("w_fp"), col("wtot")))
      .select("source", "sz", "n_docs", "w_fp", "alloc")
    val w = Window.partitionBy("source").orderBy("prio", "doc_id")
    docs.join(broadcast(alloc), "source")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("kept", col("rn") <= col("alloc"))
      .groupBy("source")
      .agg(max("sz").as("sz"), max("w_fp").as("w_fp"),
        max("alloc").as("alloc"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy("source")
  }

  /** p06 — leakproof train/val split: the split key is the CANONICAL
    * GROUP representative (d02's sorted-distinct-token form), not the
    * document, so exact and canonical near-duplicates can never straddle
    * the boundary and leak eval data into training. Deterministic hash
    * split ~10% val; output = per-split doc/group/char totals. Same
    * plan shape as d02: one hash shuffle on the canonical form, then a
    * partial+final aggregation. */
  def p06_split_leakproof(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("canon",
        concat_ws(" ", array_sort(array_distinct(tokens(col("text"))))))
      .withColumn("rep",
        min("doc_id").over(Window.partitionBy("canon")))
      .withColumn("split",
        when(pmod(col("rep") * lit(2654435761L), lit(2147483647L)) % 100 < 10,
          lit("val")).otherwise(lit("train")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_groups"),
        sum("n_chars").as("n_chars_total"),
        sum("doc_id").as("doc_id_sum"))
      .orderBy("split")
  }

  /** p07 — token-rarity quality bucketing (the integer-exact stand-in
    * for CCNet-style LM-perplexity bucketing, which is not replayable
    * across engines float-for-float): each document scores by the MEAN
    * DOCUMENT FREQUENCY of its token occurrences — rare-token-dense docs
    * land in low buckets — and the corpus reports per-bucket totals.
    * Plan: one distinct + aggregate builds the (small) vocabulary df
    * table, which BROADCASTS into the occurrence join; per-doc and
    * per-bucket aggregations are partial+final. At 100 TB the corpus
    * side never shuffles for the join — only for the two groupBys. */
  def p07_rarity_bucketing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val dfc = occ.distinct().groupBy("tok")
      .agg(count(lit(1)).as("dfc"))
    occ.join(broadcast(dfc), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum("dfc").as("sdf"))
      .withColumn("bucket", ldiv(ldiv(col("sdf"), col("n")), lit(50L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("n_tokens"),
        sum("doc_id").as("doc_id_sum"))
      .orderBy("bucket")
  }

  /** p08 — temperature-based domain resampling (the α-sampling of
    * multilingual / multi-domain training mixes): domain weights
    * w_d = n_d^α with α = 0.5 flatten the raw size distribution, the
    * normalized share q_d = w_d / Σw_d sets a per-domain target count
    * out of a 20k-doc budget, and each domain keeps its n_target
    * hash-prioritized documents — over-represented domains are
    * down-sampled, small domains keep everything. α = 0.5 means the
    * weight is sqrt(n_d): correctly-rounded IEEE on every engine, so the
    * shares replay bit-for-bit (a general pow() would not). Σw_d folds
    * over the name-sorted domain list for a deterministic double sum.
    *
    * Plan: one count groupBy (domains are few → the weight table
    * broadcasts), one row_number window per domain partition, one
    * partial+final aggregate. The only sort shards by domain — the same
    * plan at 100 TB. */
  def p08_domain_temperature(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val wts = docs.groupBy("source").agg(count(lit(1)).as("n_d"))
      .withColumn("w", sqrt(col("n_d").cast("double")))
    val tot = wts.agg(
      aggregate(array_sort(collect_list(struct(col("source"), col("w")))),
        lit(0.0), (a, x) => a + x.getField("w")).as("wsum"))
    val q = wts.crossJoin(broadcast(tot))
      .withColumn("q_fp", floor(col("w") / col("wsum") * 1e6).cast("long"))
      .withColumn("n_target", expr("(q_fp * 20000) div 1000000"))
      .select("source", "q_fp", "n_target")
    val ranked = docs
      .withColumn("prio", md5Long60(col("text")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("prio", "doc_id")))
    ranked.join(broadcast(q), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        max("q_fp").as("q_fp"),
        max("n_target").as("n_target"),
        sum(when(col("rk") <= col("n_target"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") <= col("n_target"), col("doc_id")).otherwise(0L))
          .as("kept_id_sum"))
      .orderBy("source")
  }

  /** p09 — Bloom-filter contamination prescreen (p02's semi-join behind
    * a sketch): the benchmark set's 5-gram hashes build a from-scratch
    * Bloom filter (m = 65536 bits, k = 2 probes carved from one 60-bit
    * hash), the corpus prescreens against the filter, and only Bloom
    * PASSES take the exact membership join. Per doc: Bloom hits, exact
    * hits, and the sketch's false positives — the FP rate itself is
    * deterministic and sits under the oracle.
    *
    * Scale: this is the runtime-filter pattern (what Spark's own DPP /
    * bloom runtime filters do): the bit set broadcasts (8 KiB of
    * payload as positions here), the corpus side is screened scan-side
    * by broadcast semi-joins with NO shuffle, and the expensive exact
    * join runs only on the sketch's survivors. No false negatives by
    * construction, so the final answer is exact at any scale. */
  def p09_bloom_prescreen(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.plans.Gram5TokenHashSet(col("text"))).as("g"))
      .cache()
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct().cache()
    // DATA-DERIVED filter size (AutoScale.bloomBits): smallest power of
    // two >= 19 bits/key (≈1% FP at k=2), floored at the historical
    // 65536 — a fixed m saturates as the benchmark set grows and the
    // prescreen stops screening. The oracle replays the derivation.
    val m = graft.core.AutoScale.bloomBits(evalGrams.count())
    // the filter: the SET of bit positions the benchmark grams light up
    val bits = evalGrams
      .select(explode(array(col("g") % m, ldiv(col("g"), lit(m)) % m))
        .as("bit")).distinct().cache()
    val train = grams.filter(col("doc_id") % 97 =!= 0)
      .withColumn("p1", col("g") % m)
      .withColumn("p2", ldiv(col("g"), lit(m)) % m)
    val pass = train
      .join(broadcast(bits.withColumnRenamed("bit", "p1")), Seq("p1"), "left_semi")
      .join(broadcast(bits.withColumnRenamed("bit", "p2")), Seq("p2"), "left_semi")
    val exact = pass.join(broadcast(evalGrams.withColumn("hit", lit(1L))),
      Seq("g"), "left")
    exact.groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_bloom"),
        countDistinct(when(col("hit") === 1, col("g"))).as("n_exact"))
      .withColumn("n_false_pos", col("n_bloom") - col("n_exact"))
      .orderBy("doc_id")
  }

  /** p10 — deterministic weighted sampling (systematic / Madow
    * sampling): every document's inclusion count is exactly
    * floor(cum·k/W) − floor((cum−w)·k/W) over the token-weight prefix
    * sum, so expected multiplicity is proportional to weight, the draw
    * is reproducible bit-for-bit (no RNG — the "randomness" is the
    * fixed doc_id order), and heavy docs can be drawn more than once,
    * exactly how a token-budgeted epoch samples a corpus.
    *
    * Scale shape: the prefix sum is the same distributed three-level
    * layout as p04 ([[PrefixSum.blockStarts]]: block subtotals →
    * superblock roll-up → per-block partitioned windows), and the grand
    * total W rides in on a broadcast one-row aggregate, not a driver
    * collect.
    * All arithmetic is exact BIGINT: cum·k tops out at W·k, which at
    * 100 TB (W ≈ 2·10^13 tokens, k = 64) is ~10^15 — six orders below
    * the long ceiling, so the floor-division identity never degrades
    * to floating point. */
  def p10_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val k = 64L
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"),
        ldiv(col("doc_id"), lit(512L)).as("blk"))
    val blkStart = PrefixSum.blockStarts(
      docs.groupBy("blk").agg(sum("n_tok").as("blk_tok")), "blk", "blk_tok")
    val totalDf = docs.agg(sum("n_tok").as("total"))
    docs.join(blkStart, "blk")
      .withColumn("within", coalesce(
        sum("n_tok").over(Window.partitionBy("blk").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(totalDf))
      .withColumn("cum", col("blk_start") + col("within") + col("n_tok"))
      .withColumn("copies", ldiv(col("cum") * k, col("total")) -
        ldiv((col("cum") - col("n_tok")) * k, col("total")))
      .where(col("copies") >= 1L)
      .select(col("doc_id"), col("n_tok"), col("copies"))
      .orderBy("doc_id")
  }

  /** p11 — quality-filter funnel report: the C4/RefinedWeb-style
    * cascade (min length → stopword fluency → repetition cap → max
    * length) applied cumulatively, reported as one row per stage with
    * in/kept/dropped counts — the attrition table every corpus-prep run
    * publishes so a data curator can see WHERE documents die. All
    * stage predicates are exact integer arithmetic (ratios compared in
    * fixed point, stop_count·50 ≥ n_tok for the 2% rule) so the funnel
    * replays bit-for-bit in SQL.
    *
    * Scale shape: one scan, per-row flag columns (the repetition stat
    * is the t07 codegen kernel — no per-doc explode), ONE partial+final
    * aggregate producing a single row of stage counters, and a 4-row
    * driver-side expansion. At 100 TB this costs exactly one pass. */
  def p11_filter_funnel(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val flags = Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("st", graft.plans.RepetitionStats(col("text")))
      .select(size(col("toks")).cast("long").as("n_tok"),
        size(filter(col("toks"), t => t.isInCollection(stop))).cast("long")
          .as("n_stop"),
        floor(element_at(col("st"), 3).cast("double") /
          element_at(col("st"), 1).cast("double") * 1e6).cast("long")
          .as("top_word_fp"))
      .withColumn("k1", col("n_tok") >= 30)
      .withColumn("k2", col("k1") && col("n_stop") * 50L >= col("n_tok"))
      .withColumn("k3", col("k2") && col("top_word_fp") <= 120000L)
      .withColumn("k4", col("k3") && col("n_tok") <= 95)
    def kept(c: String) = sum(when(col(c), 1L).otherwise(0L))
    val agg = flags.agg(count(lit(1)).as("n0"), kept("k1").as("n1"),
      kept("k2").as("n2"), kept("k3").as("n3"), kept("k4").as("n4"))
    def row(stage: Int, name: String, nIn: String, nKept: String) =
      struct(lit(stage.toLong).as("stage"), lit(name).as("filter"),
        col(nIn).as("n_in"), col(nKept).as("n_kept"))
    agg.select(explode(array(
        row(1, "min_length", "n0", "n1"),
        row(2, "stopword_fluency", "n1", "n2"),
        row(3, "repetition_cap", "n2", "n3"),
        row(4, "max_length", "n3", "n4"))).as("r"))
      .select(col("r.stage"), col("r.filter"), col("r.n_in"), col("r.n_kept"))
      .withColumn("n_dropped", col("n_in") - col("n_kept"))
      .orderBy("stage")
  }

  /** p12 — dataset card: the per-source summary a training run publishes
    * next to the data. Doc/char/token totals, exact-duplicate share
    * (distinct content hashes vs docs) and the language mix, all from
    * ONE partial+final aggregate over one scan (the lang mix is a
    * conditional-count pivot over the known lang set, not a second
    * groupBy). 20 output rows at any scale; at 100 TB this is the
    * cheapest shape a full-corpus profile can take — no second pass,
    * no join, map-side state bounded by sources × columns. */
  def p12_dataset_card(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val d = Tables.documents(s, dir)
      .withColumn("n_toks",
        size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long"))
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars").cast("long")).as("total_chars"),
      sum(col("n_toks")).as("total_tokens"),
      countDistinct(md5(col("text").cast("binary"))).as("n_unique_texts"),
      min(col("n_chars").cast("long")).as("min_chars"),
      max(col("n_chars").cast("long")).as("max_chars")) ++
      langs.map(l => count(when(col("lang") === l, 1)).as(s"n_$l"))
    d.groupBy(col("source").as("scope"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("avg_doc_tokens",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("dup_share",
        (col("n_docs") - col("n_unique_texts")).cast("double") /
          col("n_docs").cast("double"))
      .select((Seq("scope", "n_docs", "total_chars", "total_tokens",
        "avg_doc_tokens", "n_unique_texts", "dup_share", "min_chars",
        "max_chars").map(col) ++
        langs.map(l => (col(s"n_$l").cast("double") /
          col("n_docs").cast("double")).as(s"share_$l"))): _*)
      .orderBy("scope")
  }

  /** p14 — deterministic epoch shuffle: the training-order permutation
    * every pretraining run needs, with NO RNG state — order is a
    * multiplicative-hash permutation (odd multiplier 1103515245 is a
    * bijection of the low 32 doc_id bits; doc_id breaks the ties that
    * only appear past 2^32 docs) and the dense sequence numbers come
    * from [[SequentialId]]'s range-partition + zipWithIndex layout, so
    * re-running the shuffle on any cluster size reproduces the epoch
    * bit-for-bit and there is no single-partition row_number window
    * anywhere. Shard = 8192-doc training file, the unit a loader
    * prefetches. */
  def p14_epoch_shuffle(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val hashed = Tables.documents(s, dir)
      .select(col("doc_id"),
        pmod(pmod(col("doc_id"), lit(4294967296L)) * 1103515245L,
          lit(4294967296L)).as("h"))
    SequentialId.withSequentialId(hashed, "seq", Seq(col("h"), col("doc_id")))
      .withColumn("shard", ldiv(col("seq") - 1, lit(8192L)))
      .select("seq", "doc_id", "h", "shard")
      .orderBy("seq")
  }

  /** p15 — quality-ranked token-budget selection: rank every doc by a
    * deterministic quality score (lexical diversity, fixed-point
    * distinct-token ratio), then fill a token budget of 60% of the
    * corpus greedily from the top — "give me the best N tokens", the
    * data-selection step between scoring and training. A doc is kept iff
    * the running token total THROUGH it stays ≤ budget, so the kept set
    * is a prefix of the quality ordering and never overshoots.
    *
    * Scale shape: the global quality rank is [[SequentialId]] (range
    * exchange + broadcast offsets, no single-task sort) and the running
    * total over that rank is [[PrefixSum.blockStarts]]'s three-level
    * scan keyed by rank-block — the same no-global-window layout as
    * p04, but over a quality ordering instead of doc_id order. Output
    * is per-source kept counts + token sums with an id-sum checksum. */
  def p15_token_budget(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_dist"))
      .withColumn("score",
        when(col("n_tok") === 0L, lit(0L))
          .otherwise(ldiv(col("n_dist") * 1000000L, col("n_tok"))))
    val budget = docs.agg(ldiv(sum("n_tok") * 6L, lit(10L)).as("budget"))
    val ranked = SequentialId.withSequentialId(
      docs, "rank", Seq(col("score").desc, col("doc_id")))
      .withColumn("blk", ldiv(col("rank") - 1L, lit(512L)))
    val blkStart = PrefixSum.blockStarts(
      ranked.groupBy("blk").agg(sum("n_tok").as("blk_tok")), "blk", "blk_tok")
    ranked.join(blkStart, "blk")
      .withColumn("cum", col("blk_start") + sum("n_tok").over(
        Window.partitionBy("blk").orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(budget))
      .withColumn("kept", col("cum") <= col("budget"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tok_kept"),
        sum(when(col("kept"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy("source")
  }

  /** p16 — RAG/context chunking with overlap: each document is split
    * into 32-token chunks on a 24-token stride (8-token overlap), the
    * standard retrieval-index preparation step. A chunk row carries its
    * provenance (doc_id, chunk index, token offset) so downstream
    * embedding + retrieval can map hits back to source spans.
    *
    * Scale shape: pure scan-parallel row expansion — tokenize once,
    * `sequence`+`explode` the stride starts, `slice` the token array per
    * start. No shuffle at all before the output sort; fan-out is bounded
    * by n_tokens/stride per row, so partition sizes grow by the same
    * ~1.3× factor at any corpus size. All inside whole-stage codegen. */
  def p16_chunking(s: SparkSession, dir: String): DataFrame = {
    val win = 32
    val stride = 24L
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      // split() never yields an empty array (min 1 token), so the
      // stride sequence [0, n) is always well-formed
      .withColumn("chunk_start",
        explode(sequence(lit(0L), col("n") - 1L, lit(stride))))
      .withColumn("chunk", slice(col("toks"), col("chunk_start") + 1L, lit(win)))
      .select(col("doc_id"),
        graft.functions.KeyAlgebra.ldiv(col("chunk_start"), lit(stride))
          .as("chunk_idx"),
        col("chunk_start"),
        size(col("chunk")).cast("long").as("chunk_len"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The deterministic doc link graph shared by p17/p18/p21/p25: 3
    * affine-map out-links plus a ring edge per node (self-loops deflected
    * to the successor), so outdegree ≥ 1 and indegree ≥ 1 everywhere.
    * Returns (nodes, edges, n). */
  private def docLinkGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long) = {
    val docs = Tables.documents(s, dir).select("doc_id")
    val n = docs.count() // one scalar: the node count
    val edges = docs
      .select(col("doc_id").as("src"), explode(array(
        (col("doc_id") * 31L + 7L) % n, (col("doc_id") * 17L + 3L) % n,
        (col("doc_id") * 13L + 11L) % n, (col("doc_id") + 1L) % n)).as("d0"))
      .select(col("src"),
        when(col("d0") === col("src"), (col("d0") + 1L) % n)
          .otherwise(col("d0")).as("dst"))
      .distinct()
    (docs, edges, n)
  }

  /** The [[docLinkGraph]] as canonical undirected edges (a, b), a < b:
    * self-loops dropped, one row per edge (p21, p25). */
  private def undirected(s: SparkSession, dir: String): DataFrame = {
    val (_, edges, _) = docLinkGraph(s, dir)
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  /** p17 — PageRank quality weighting: 6 damped power iterations over a
    * deterministic link graph on the document set (the CommonCrawl-style
    * "centrality as a quality prior" signal a pretraining pipeline
    * attaches to each page before sampling). The graph is the
    * [[docLinkGraph]], so every node has outdegree ≥ 1 and indegree ≥ 1 —
    * no dangling mass, no uncovered node, and the DuckDB oracle can
    * replay the identical iteration as a recursive CTE with a single
    * recursive reference.
    *
    * Determinism: ranks are fixed-point longs (1e12 = total mass), every
    * step integer division — the result is bit-identical at any
    * parallelism and in any engine (the c03 integer-power-iteration
    * trick). Scale shape: one iteration = join(ranks, edges) on src +
    * groupBy dst — both sides hash-partitioned on the join key; at
    * 100 TB the edge table is pre-bucketed by src so the per-iteration
    * shuffle is ranks-only (the classic Pregel layout). The rounds run
    * on [[graft.core.Fixpoint.iterate]], which cuts each round's lineage.
    * Dangling-node handling (a broadcast 1-row mass aggregate added to
    * the base term) is omitted only because the construction proves
    * outdeg ≥ 1; a general corpus would add it. */
  def p17_pagerank(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val Scale = 1000000000000L
    val (docs, edges, n) = docLinkGraph(s, dir)
    val base = 15L * Scale / (100L * n)
    val width = AutoScale.shuffleWidth(s, 4L * n) // ≤4 out-edges per node
    val ed = edges.join(edges.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    Engine.materialize(ed.persist()) // reused 6×
    def power(ranks: DataFrame): DataFrame =
      ranks.join(ed, col("node") === col("src"))
        .select(col("dst"), ldiv(col("rank"), col("outdeg")).as("c"))
        .repartition(width, col("dst"))
        .groupBy("dst")
        .agg((lit(base) + ldiv(lit(85L) * sum("c"), lit(100L))).as("rank"))
        .withColumnRenamed("dst", "node")
    val ranks = Fixpoint.iterate(
      power(docs.select(col("doc_id").as("node"), lit(Scale / n).as("rank"))), 5)(power) // 1 + 5
    ed.unpersist()
    ranks.select(col("node").as("doc_id"), col("rank").as("rank_fp"))
      .orderBy("doc_id")
  }

  /** p18 — multi-source k-hop BFS over the [[docLinkGraph]]: exact hop
    * distance (≤ 8) from the seed set {doc_id ≡ 0 mod 97} to every
    * reachable node — the "distance to a trusted seed" crawl-frontier
    * signal (TrustRank-style) that complements p17's global centrality.
    *
    * Scale shape: textbook distributed BFS relaxation — each round is
    * join(frontier, edges) on src + groupBy node with min(dist), both
    * hash-partitioned on the same key; rounds = the hop cap (8), so the
    * total work is O(k · |E|) regardless of corpus size, and the rounds
    * run on [[graft.core.Fixpoint.iterate]] like p17's. The DuckDB oracle
    * replays it as a bounded recursive CTE; both sides cap at 8 hops so
    * the outputs agree even for nodes whose true distance exceeds the cap
    * (absent both sides). */
  def p18_bfs_hops(s: SparkSession, dir: String): DataFrame = {
    val (docs, edges, n) = docLinkGraph(s, dir)
    val width = AutoScale.shuffleWidth(s, 4L * n)
    Engine.materialize(edges.persist()) // reused 8×
    def relax(dist: DataFrame): DataFrame =
      dist.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
        .unionByName(dist)
        .repartition(width, col("node"))
        .groupBy("node").agg(min("dist").as("dist"))
    val dist = Fixpoint.iterate(relax(docs.filter(col("doc_id") % 97L === 0L)
      .select(col("doc_id").as("node"), lit(0L).as("dist"))), 7)(relax) // 1 + 7 hops
    edges.unpersist()
    dist.orderBy("node")
  }

  /** p21 — degree-ordered triangle counting over the [[docLinkGraph]]:
    * the graph-health summary (edge count, wedge count, triangle count,
    * global transitivity) a crawl/link-graph pipeline reports before
    * trusting p17's centrality prior — a near-zero transitivity says
    * "this graph is random noise", a high one says "real community
    * structure".
    *
    * Scale shape: the canonical distributed triangle algorithm
    * (Suri–Vassilvitskii / Cohen): symmetrize to canonical a<b edges,
    * orient every edge from the (degree, id)-SMALLER endpoint to the
    * larger, so the oriented out-degree of ANY node — even a celebrity
    * hub — is O(√m); then one self-join on the wedge pivot u
    * (bounded fan-out per key because of the orientation) and one
    * membership join close the wedges. Every join is hash-partitioned
    * on its key; nothing is quadratic in degree on the original graph.
    * The DuckDB oracle replays the identical orientation and joins. */
  def p21_triangle_count(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val und = undirected(s, dir).cache()
    // r19 measured negative: eager und.count()/oriented.count() fills
    // ADDED ~0.15 s (3.11 -> 3.26 s) — in local mode the BlockManager's
    // per-block getOrElseUpdate already serializes racing fills, so the
    // extra fill jobs buy nothing. Left lazy deliberately.
    // undirected degree per node (both endpoints)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low (deg, id) -> high; a<b already breaks degree ties
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"))
      .cache()
    // wedge u->v, v->w closed by the membership edge u->w (the total
    // order makes u->w the only possible orientation of that edge)
    val e1 = oriented.select(col("u"), col("v"))
    val e2 = oriented.select(col("u").as("v"), col("v").as("w"))
    val e3 = oriented.select(col("u"), col("v").as("w"), lit(1L).as("hit"))
    val tri = e1.join(e2, "v").join(e3, Seq("u", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val edgeWedge = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg
        .agg(sum(ldiv(col("deg") * (col("deg") - 1L), lit(2L)))
          .as("n_wedges"))))
    // n_wedges = 0 (degenerate/empty edge set) must yield 0, not a
    // NULL-vs-error divergence between Spark's IntegralDivide and
    // DuckDB's //; the single summary row is materialized eagerly
    // (localCheckpoint) so the two caches can be released instead of
    // leaking executor memory across a bench sweep.
    val out = edgeWedge.crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0L, 0L)
          .otherwise(ldiv(col("n_triangles") * 3000000L, col("n_wedges")))
          .as("transitivity_fp"))
      .localCheckpoint()
    und.unpersist()
    oriented.unpersist()
    out
  }

  /** p22 — rendezvous (highest-random-weight) shard assignment with a
    * reshard-stability audit: every document goes to the shard
    * maximizing hash(doc, shard) over 16 shards, then the same rule is
    * re-evaluated over 17 and the audit reports, per old shard, how
    * many documents MOVE — HRW's guarantee is that growing the pool
    * only pulls docs INTO the new shard (expected share 1/17 ≈ 5.9 %),
    * never reshuffles between survivors. This is the shard map a
    * training pipeline wants for cache/locality-stable resharding,
    * where mod-N hashing would move (N−1)/N of the corpus.
    *
    * Determinism: hash(doc, shard) is the c10 Lehmer chain on
    * (doc_id, shard), replayed verbatim by the oracle; the argmax
    * tie-break is the higher shard id (max_by on packed hash·32+shard).
    *
    * Scale shape: pure scan-parallel — the 16/17-way score evaluation
    * is a constant-width explode + one map-side-combined argmax per
    * doc (array_max over a transform, no shuffle at all), then one
    * 16-key aggregate. Nothing anywhere is proportional to shard
    * count × corpus beyond the constant 17×. */
  def p22_rendezvous_shards(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    // doc_id reduced mod 2^31−1 BEFORE the multiply (the p14/c10 pmod
    // pattern): id·1103515245 wraps int64 past id ≈ 8.4e9 — silently in
    // Spark, loudly in DuckDB. No-op below 2^31−1 ids.
    def score(shard: Column): Column =
      (pmod(col("doc_id"), lit(2147483647L)) * 1103515245L +
        (shard + 1L) * 12345L + 6789L) % 2147483647L * 16807L % 2147483647L
    // argmax via max over (score*32 + shard): higher score wins, ties
    // to the higher shard id; score < 2^31 so the pack never overflows
    def assign(n: Int): Column = {
      val packed = array((0 until n).map(k =>
        score(lit(k.toLong)) * 32L + k.toLong): _*)
      array_max(packed) % 32L
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), assign(16).as("shard16"),
        assign(17).as("shard17"))
      .groupBy(col("shard16").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard16") =!= col("shard17"), 1L).otherwise(0L))
          .as("n_moved"))
      .withColumn("moved_fp", ldiv(col("n_moved") * 1000000L, col("n_docs")))
      .orderBy("shard")
  }

  /** p20 — curriculum pacing schedule: documents are ranked by an
    * integer difficulty signal (mean token length at 1e-6 fixed point —
    * longer words ≈ harder text), cut into GLOBAL difficulty terciles,
    * and a 3-epoch pacing table (easy-first: epoch 1 samples
    * easy/mid/hard at 100/50/20 %, epoch 2 at 60/100/60, epoch 3 at
    * 20/50/100) draws each epoch's training set with a deterministic
    * per-(doc, epoch) md5 gate — the curriculum-learning analogue of
    * p19's temperature mixing, scheduling by DIFFICULTY over time
    * instead of by source size.
    *
    * Scale shape: the tercile is c06's layout — [[SequentialId]] global
    * rank (range exchange + broadcast offsets, no single-task sort),
    * bucket = (rank−1)·3 // n — so no ntile over an unpartitioned
    * window; the epoch fan-out is a constant 3× sequence-explode and the
    * output groupBy lands on 9 keys, map-side combined. The sampled-set
    * id-sum rides along as the checksum that pins per-row membership,
    * not just counts. */
  def p20_curriculum(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    import graft.functions.TextFunctions.md5Long60
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t).cast("long"))
          .as("total_chars"))
      .withColumn("diff_fp", when(col("n_tok") === 0L, 0L)
        .otherwise(ldiv(col("total_chars") * 1000000L, col("n_tok"))))
    val n = docs.agg(count(lit(1)).as("n_tot"))
    val bucketed = SequentialId.withSequentialId(
        docs, "rn", Seq(col("diff_fp"), col("doc_id")))
      .crossJoin(broadcast(n))
      .withColumn("tercile", ldiv((col("rn") - 1L) * 3L, col("n_tot")))
    val pct = when(col("epoch") === 1L,
        element_at(lit(Array(100L, 50L, 20L)), col("tercile").cast("int") + 1))
      .when(col("epoch") === 2L,
        element_at(lit(Array(60L, 100L, 60L)), col("tercile").cast("int") + 1))
      .otherwise(
        element_at(lit(Array(20L, 50L, 100L)), col("tercile").cast("int") + 1))
    bucketed
      .withColumn("epoch", explode(sequence(lit(1L), lit(3L))))
      .withColumn("gate", md5Long60(
        concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string"))) % 100L)
      .withColumn("sampled", col("gate") < pct)
      .groupBy("epoch", "tercile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"), col("n_tok")).otherwise(0L))
          .as("tok_sampled"),
        sum(when(col("sampled"), col("doc_id")).otherwise(0L))
          .as("sampled_id_sum"))
      .orderBy("epoch", "tercile")
  }

  /** p23 — greedy k-center coreset selection (farthest-point
    * traversal, the 2-approximation of Gonzalez 1985): the data-
    * selection primitive behind coverage-maximizing subset choice —
    * pick the point farthest (min squared distance to any selected
    * center) from the current set, k times, then assign every point to
    * its nearest center. Seed = lowest vec_id; ties on the argmax break
    * to the lowest vec_id; assignment ties break to the earliest
    * round. Distances are the left-fold Σ(x−y)² both engines evaluate
    * in identical order, reported ×10⁶ floored so the gate compares
    * integers.
    *
    * Scale shape: k scans (k = 8 constant), each a broadcast of ≤k
    * center vectors + one TakeOrdered(1) — no shuffle wider than the
    * reduction tree, state on the driver is k·64 doubles. The argmax
    * recomputes only the distance to the NEWEST center and folds it
    * into the carried minimum, so total work is one dot per point per
    * round — the standard distributed farthest-point sweep. */
  def p23_kcenter_coreset(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
    def dist(c: Array[Double]): Column =
      aggregate(zip_with(col("a"), lit(c), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def center(r: Row, mind: Double) = (r.getLong(0), r.getSeq[Double](1).toArray, mind)
    var centers = Vector(center(base.orderBy("vec_id").select("vec_id", "a").head(), 0.0))
    // the farthest point on a filled frame (no recomputed least(...) chain)
    def pick(scored: DataFrame): Unit = {
      val p = scored.filter(!col("vec_id").isInCollection(centers.map(_._1)))
        .orderBy(col("mind").desc, col("vec_id")).select("vec_id", "a", "mind").head()
      centers :+= center(p, p.getDouble(2))
    }
    // k = 8: the seed, then 6 rounds that each pick a center and fold only
    // the distance to it into the carried minimum, then the 8th pick on
    // the last frame (nothing reads a fold of its distance)
    pick(Fixpoint.iterate(base.withColumn("mind", dist(centers.head._2)), 6) { scored =>
      pick(scored)
      scored.withColumn("mind", least(col("mind"), dist(centers.last._2)))
    })
    // assignment pass: nearest center (the least (distance, round)
    // struct), tie -> earliest round
    val counts = base.groupBy(least(centers.indices.map(i =>
        struct(dist(centers(i)._2).as("d"), lit(i.toLong).as("i"))): _*)("i").as("best"))
      .agg(count(lit(1)).as("n_assigned"))
    import s.implicits._
    val sel = centers.zipWithIndex.map { case ((id, _, mind), i) =>
      (i.toLong, i.toLong + 1L, id, math.floor(mind * 1e6).toLong)
    }.toDF("best", "round", "vec_id", "mind_fp")
    sel.join(counts, Seq("best"), "left")
      .select(col("round"), col("vec_id"), col("mind_fp"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
      .orderBy("round")
  }

  /** p24 — DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every candidate document by how much more likely its hashed-unigram
    * bag is under a target-domain distribution than under the raw pool,
    * and keep the top tenth. Target exemplars = source `src0`;
    * candidates = everything else. Features hash through the portable
    * 60-bit md5 into B = 1024 buckets (the paper's fixed hashed feature
    * space — B is a property of the method, not of the data size); both
    * bucket distributions get add-one smoothing. The per-bucket
    * log-likelihood ratio is frozen to fixed-point — floor(1e6·ln p_t) −
    * floor(1e6·ln p_r) — BEFORE the per-document sum, so each doc score
    * is an integer dot product: order-independent, exactly replayable.
    *
    * Scale shape: one token scan aggregates B-bounded bucket counts
    * (partial agg collapses every partition to ≤B rows before a ≤B-row
    * exchange); the ≤1024-row weight table broadcasts back onto the
    * token stream, whose per-doc integer sum partial-aggregates to one
    * row per document before its shuffle. Selection is a distributed
    * SequentialId rank (range partition + broadcast prefix offsets — no
    * driver TakeOrdered, no single-partition window) filtered to
    * K = ⌈n_cand/10⌉. No all-pairs, no unbounded driver state. */
  def p24_dsir_selection(s: SparkSession, dir: String): DataFrame = {
    val (scored, k) = p24Scored(s, dir)
    SequentialId.withSequentialId(
        scored, "rank", Seq(col("w_fp").desc, col("doc_id")))
      .filter(col("rank") <= k)
      .select("rank", "doc_id", "n_tok", "w_fp")
      .orderBy("rank")
  }

  /** The pre-rank scoring pipeline, split out so PlanSpec can pin the
    * broadcast/partial-agg shape (the SequentialId step materializes a
    * LogicalRDD, which hides upstream plans from executedPlan). */
  private[operators] def p24Scored(
      s: SparkSession, dir: String): (DataFrame, Long) = {
    val B = 1024L
    val tgt = "src0"
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
    val tok = docs
      .select(col("doc_id"), col("source"), explode(col("tk")).as("t"))
      .withColumn("b", md5Long60(col("t")) % B)
    val isTgt = col("source") === tgt
    val counts = tok.groupBy("b").agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("ct"),
      sum(when(isTgt, 0L).otherwise(1L)).as("cr"))
    val totals = tok.agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("nt"),
      sum(when(isTgt, 0L).otherwise(1L)).as("nr"))
    val w = s.range(B).withColumnRenamed("id", "b")
      .join(counts, Seq("b"), "left")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (floor(log((col("ct") + 1L).cast("double") /
                   (col("nt") + B).cast("double")) * 1e6) -
         floor(log((col("cr") + 1L).cast("double") /
                   (col("nr") + B).cast("double")) * 1e6)).as("wfp"))
    val scored = tok.filter(!isTgt)
      .join(broadcast(w), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("wfp").as("w_fp"))
    val nCand = docs.filter(!isTgt).count()
    (scored, (nCand + 9L) / 10L)
  }

  /** p25 — synchronous label propagation (LPA, Raghavan et al. 2007)
    * over the [[docLinkGraph]]: 4 fixed rounds where every node adopts
    * the most frequent label among its neighbors (ties → smallest
    * label; neighbor votes only, no self-vote), then the surviving
    * communities report size and membership checksum. Community
    * detection complements d14's connected components: CC answers "is
    * there any path", LPA finds DENSE regions inside one component —
    * the granularity a crawl pipeline wants for per-community sampling
    * caps. Fixed round count + deterministic tie-break make the
    * synchronous variant bit-identical at any parallelism (async LPA,
    * the common default, is order-dependent and unreproducible).
    *
    * Scale shape: each round is one hash join of the label table onto
    * the symmetrized edge list, a per-(node, label) partial count, and
    * a per-node integer argmin — all exchanges on 8-byte node keys;
    * state is one row per node, votes are bounded by degree. The rounds
    * run on [[graft.core.Fixpoint.iterate]] like p17/p18's. */
  def p25_label_propagation(s: SparkSession, dir: String): DataFrame = {
    val sym = lpaEdges(s, dir).persist()
    val vote = lpaRound(sym, AutoScale.shuffleWidth(s, Engine.materialize(sym))) _
    val lab = Fixpoint.iterate(vote(sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))), 3)(vote) // 1 + 3 rounds
    sym.unpersist() // the final round is filled
    lab.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), sum("node").as("id_sum"))
      .orderBy("community")
  }

  /** p25's symmetrized edge list (src, dst) of the [[docLinkGraph]]:
    * self-loops dropped, one row per direction of each undirected edge. */
  private[operators] def lpaEdges(s: SparkSession, dir: String): DataFrame = {
    val und = undirected(s, dir)
    und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
  }

  /** One p25 round: every node of `lab` (node, label) takes the most
    * frequent label among its `sym` neighbors, ties to the smallest. ONE
    * exchange: HashPartitioning(dst) satisfies both the (dst, label) vote
    * count and the per-node argmin. */
  private[operators] def lpaRound(sym: DataFrame, width: Int)(lab: DataFrame): DataFrame =
    lab.join(sym, col("node") === col("src"))
      .repartition(width, col("dst"))
      .groupBy(col("dst"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("dst").as("node"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
      .select(col("node"), col("m.l").as("label"))

  /** p26 — selection tradeoff curve: the report a data-selection owner
    * reads before fixing a keep-fraction — rank the corpus by the p15
    * lexical-diversity quality score, split into global deciles, and
    * emit per decile the doc/token mass plus the CUMULATIVE tokens and
    * cumulative mean quality of "keep the top k deciles". Quantifies
    * what each extra retention step costs in quality, the curve behind
    * every "keep top X%" decision (DSIR/p15/p20 pick a point; this
    * shows the whole curve).
    *
    * Scale shape: one [[SequentialId]] rank (range exchange + broadcast
    * offsets), a 10-group aggregate, and a window over the 10-ROW
    * decile table (bounded, never the data). All integer fixed point. */
  def p26_selection_curve(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_dis"))
      .withColumn("q_fp", when(col("n_tok") === 0L, 0L)
        .otherwise(ldiv(col("n_dis") * 1000000L, col("n_tok"))))
    val n = docs.agg(count(lit(1)).as("n_tot"))
    val deciles = SequentialId.withSequentialId(
        docs, "rn", Seq(col("q_fp").desc, col("doc_id")))
      .crossJoin(broadcast(n))
      .withColumn("decile", ldiv((col("rn") - 1L) * 10L, col("n_tot")))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("q_fp").as("qsum"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles // ≤10 rows: the global window is bounded by construction
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cum_qsum", sum("qsum").over(w))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        ldiv(col("qsum"), col("n_docs")).as("mean_q_fp"),
        col("cum_tokens"),
        ldiv(col("cum_qsum"), col("cum_docs")).as("cum_mean_q_fp"))
      .orderBy("decile")
  }

  /** p27 — count-preserving dedup reweighting (the SemDeDup/D4 family's
    * second half): after d22 keeps the best member of every near-dup
    * cluster, training on the kept docs UNWEIGHTED silently reshapes
    * the data distribution — a 40-copy boilerplate cluster and a unique
    * document both contribute one doc. The fix every dedup-aware
    * sampler applies is weight = cluster size on the kept
    * representative. This operator is the LEDGER for that decision:
    * per source, the raw token mass, the kept token mass (what plain
    * dedup trains on), the weighted token mass (kept × members — what
    * count-preserving sampling trains on), and the ppm ratios of each
    * to raw. bias_fp ≈ 1e6 means reweighting restored the original
    * source proportions; the deviation is exactly the quality-keep
    * policy trading away representativeness (it keeps the most
    * lexically diverse member, whose token count is not the cluster
    * mean).
    *
    * Scale shape: rides d22's manifest, whose component labels are the
    * memoized [[DedupQueries]] artifact (fifth consumer, zero extra
    * graph rounds); one doc_id hash join + a per-source map-combined
    * aggregate. Nothing new grows with data. */
  def p27_dedup_reweight(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    // r19 (guide §2.4/§1.2: don't compute things twice): the manifest is
    // d22's logic INLINED with `source` and `n_tok` carried through,
    // instead of calling d22 and re-scanning + re-tokenizing the whole
    // corpus a second time just to join n_tok back on doc_id. One corpus
    // tokenize pass and one full-size hash join removed; the per-doc
    // (n_members, kept) values are computed by the identical
    // score/label/window pipeline, so the aggregate input — hence the
    // oracle row set — is unchanged (re-verified at both SFs).
    val manifest = DedupQueries.keepBestManifest(s, dir)
    manifest
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("kept").as("n_kept"),
        sum("n_tok").as("tok_raw"),
        sum(when(col("kept") === 1L, col("n_tok")).otherwise(0L))
          .as("tok_kept"),
        sum(when(col("kept") === 1L, col("n_tok") * col("n_members"))
          .otherwise(0L)).as("tok_weighted"))
      .withColumn("kept_share_fp",
        ldiv(col("tok_kept") * 1000000L, col("tok_raw")))
      .withColumn("bias_fp",
        ldiv(col("tok_weighted") * 1000000L, col("tok_raw")))
      .orderBy("source")
  }

  /** p28 — proportional source-INTERLEAVED training order: p14 gives a
    * hash-random epoch permutation; production mixture training often
    * wants the deterministic stratified order instead — every source
    * spread evenly through the epoch so no window of consecutive steps
    * over-trains one source (the low-discrepancy "stride scheduling"
    * construction: doc r of a size-s source sorts at key (2r−1)/(2s),
    * the systematic-sampling midpoint rule p10 uses for weights,
    * applied to ORDER). The report is the interleave QUALITY ledger:
    * per source, the worst gap between consecutive positions × s / N
    * in ppm — exactly 1e6·~1 for a perfect interleave, and the number
    * a loader reads to bound worst-case window skew.
    *
    * Scale shape: NO per-source window anywhere (a
    * row_number().over(partitionBy(source)) would serialize each
    * source into one task at 100 TB). Per-source ranks come from one
    * global [[SequentialId]] layout over (source, doc_id) minus
    * broadcast per-source offsets; global positions from a second
    * SequentialId over the interleave key; per-source gaps from a
    * distributed self-join on (source, rank+1). Two range exchanges +
    * one hash join — bit-identical at any parallelism. */
  def p28_interleave_order(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val docs = Tables.documents(s, dir).select("doc_id", "source")
    val seqd = SequentialId.withSequentialId(docs, "gseq",
      Seq(col("source"), col("doc_id")))
    val offs = seqd.groupBy("source")
      .agg(min(col("gseq")).as("off"), count(lit(1)).as("s_size"))
    val ranked = seqd.join(broadcast(offs), "source")
      .withColumn("r", col("gseq") - col("off") + 1L)
      .withColumn("k", ldiv((col("r") * 2L - 1L) * 1000000000000L,
        col("s_size") * 2L))
    val positioned = SequentialId.withSequentialId(
      ranked.select("doc_id", "source", "r", "s_size", "k"), "pos",
      Seq(col("k"), col("source"), col("doc_id")))
    val nTot = docs.count()
    val gaps = positioned.as("a").join(
        positioned.select(col("source").as("bs"), (col("r") - 1L).as("br"),
          col("pos").as("next_pos")).as("b"),
        col("a.source") === col("bs") && col("a.r") === col("br"))
      .select(col("a.source").as("source"),
        (col("next_pos") - col("a.pos")).as("gap"))
    val agg = positioned.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), min("pos").as("first_pos"),
        max("pos").as("last_pos"))
    val g = gaps.groupBy("source").agg(max("gap").as("max_gap"))
    agg.join(g, Seq("source"), "left")
      .withColumn("max_gap", coalesce(col("max_gap"), lit(0L)))
      .withColumn("skew_ppm",
        ldiv(col("max_gap") * col("n_docs") * 1000000L, lit(nTot)))
      .orderBy("source")
  }

  /** p29 — DATA-CONSTRAINED EPOCH BUDGET (the repeat-planning table a
    * token-budgeted run reads): given per-source token counts, a total
    * training budget B = 2× the corpus, temperature weights
    * w = ⌊√tokens⌋ (the p08/p19 α = 0.5 mix), and a 4-epoch repetition
    * cap, allocate the budget proportionally to weight with the cap
    * binding on small sources and their surplus REDISTRIBUTED to the
    * rest — the waterfill every data-constrained scaling plan solves.
    * Closed form instead of iteration: sources cap in ascending order
    * of their cap threshold 4·tokens/weight, so one prefix scan in
    * that order decides the cap set — the cap TEST is exact integer
    * cross-multiplication ((B − 4·prefT)·w > 4·t·(W − prefW)); only
    * the final allocation pays one floor division. Output per source:
    * tokens, weight, capped flag, allocated tokens, fixed-point epoch
    * count. PipelineSpec-style invariants live in SelectionSpec: the
    * closed form must equal an INDEPENDENT iterative waterfill replay,
    * allocations must exhaust ≤ B and cap at 4 epochs.
    *
    * Scale shape: one map-combined aggregate to the per-source frame
    * (≤ |sources| rows — every window below runs on that bounded
    * frame, never the data), then pure arithmetic. */
  def p29_epoch_budget(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("tk"))
      .groupBy("source").agg(sum("tk").as("t"))
      .withColumn("w", floor(sqrt(col("t").cast("double"))).cast("long"))
    val tot = src.agg(sum(col("t")).as("ttot"), sum(col("w")).as("wtot"))
    // threshold order (4e9-scaled — wide enough that only true ties
    // collide); the t·4e9 product and every other T-scale product below
    // are carried in decimal(38,0) (HUGEINT in the oracle, the c04/c22
    // pattern): a source past ~2.3e9 tokens would silently wrap int64
    // in Spark while DuckDB errors — the worst divergence class. All
    // numerands are non-negative, so decimal `div` and HUGEINT `//`
    // (both truncate toward zero) agree exactly.
    val thr = expr(
      "CAST(CAST(t AS DECIMAL(38,0)) * 4000000000 div w AS BIGINT)")
    val ord = Window.orderBy(thr, col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val g = src.crossJoin(broadcast(tot))
      .withColumn("b", col("ttot") * 2L)
      .withColumn("pref_t", coalesce(sum("t").over(ord), lit(0L)))
      .withColumn("pref_w", coalesce(sum("w").over(ord), lit(0L)))
      .withColumn("capped", expr(
        "(CAST(b AS DECIMAL(38,0)) - 4 * CAST(pref_t AS DECIMAL(38,0))) * w" +
          " > 4 * CAST(t AS DECIMAL(38,0)) * (wtot - pref_w)"))
    val capTot = g.agg(
      sum(when(col("capped"), col("t")).otherwise(0L)).as("cap_t"),
      sum(when(col("capped"), col("w")).otherwise(0L)).as("cap_w"))
    // the uncapped set is nonempty by construction: B = 2·T < 4·T, so
    // capping every source would over-spend the budget
    g.crossJoin(broadcast(capTot))
      .withColumn("alloc", when(col("capped"), col("t") * 4L)
        .otherwise(expr(
          "CAST((CAST(b AS DECIMAL(38,0)) - 4 * CAST(cap_t AS DECIMAL(38,0)))" +
            " * w div (wtot - cap_w) AS BIGINT)")))
      .select(col("source"), col("t").as("n_tokens"), col("w").as("weight"),
        when(col("capped"), 1L).otherwise(0L).as("capped"),
        col("alloc").as("alloc_tokens"),
        expr("CAST(CAST(alloc AS DECIMAL(38,0)) * 1000000 div t AS BIGINT)")
          .as("epochs_fp"))
      .orderBy("source")
  }

  /** p30 — the crawl→corpus FUNNEL end-to-end: raw WARC shards →
    * per-record parse with quarantine (qn20's reader) → HTML text
    * extraction fused into the shard scan ([[NetCDFQueries.warcGoodPages]]
    * — the page string never leaves the executor) → a token-count
    * quality gate → exact dedup on the extracted text. The fixture adds
    * the web's mirror/syndication shape: every `doc_id % 23 == 0` page
    * is ALSO served under a second URI (`id + max_id + 1`), same
    * content — the duplicates the dedup stage exists to remove (a
    * mirror survives to the dedup stage only when BOTH its URIs escape
    * quarantine and the page passes quality, which the oracle replays
    * as pure doc_id arithmetic). Output is the per-stage funnel books
    * (docs, chars) a corpus data card reports.
    *
    * Scale shape: one scan-parallel decode+extract pass over the
    * shards (cached across the stage aggregates), a single exchange for
    * the distinct-text dedup (at 100 TB the key would be a text hash —
    * same shuffle, narrower rows), and four bounded aggregates. */
  def p30_crawl_funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val m = docs.agg(max("doc_id")).head().getLong(0)
    val corpus = docs.select(col("doc_id").as("uri_id"),
        col("doc_id").as("page_id"), col("lang"), col("source"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + lit(m + 1)).as("uri_id"),
          col("doc_id").as("page_id"), col("lang"), col("source"),
          col("text")))
    val landing = java.nio.file.Files
      .createTempDirectory("graft_p30_warc").toString
    NetCDFQueries.writeWarcShards(corpus, landing, "funnel")
    val parsed = s.read.format("binaryFile").load(landing)
      .select(col("content")).as[Array[Byte]]
      .mapPartitions(_.flatMap(NetCDFQueries.warcGoodPages))
      .toDF("uri_id", "page_text")
      .cache() // one decode+extract pass serves all stage aggregates
    try {
      val quality = parsed
        .filter(size(split(col("page_text"), " ")) >= 12)
      // r18: exact dedup collapses on the 16-byte md5 DIGEST (+ length
      // for the books), the d01 idiom — the old distinct() on raw
      // page_text shuffled the full text bytes where 24 bytes/row
      // decide everything (guide §2.3 "shuffle keys, not payloads");
      // same rows booked (distinct texts ↔ distinct digests).
      val distinctQ = quality.select(
        md5(col("page_text").cast("binary")).as("digest"),
        length(col("page_text")).cast("long").as("len")).distinct()
      def books(df: DataFrame, c: Column): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(length(c).cast("long")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      val (n1, c1) = books(corpus, col("text"))
      val (n2, c2) = books(parsed, col("page_text"))
      val (n3, c3) = books(quality, col("page_text"))
      val (n4, c4) = {
        val r = distinctQ.agg(count(lit(1)),
          coalesce(sum(col("len")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      Seq(("1_raw", n1, c1), ("2_parsed", n2, c2),
        ("3_quality", n3, c3), ("4_unique", n4, c4))
        .toDF("stage", "n_docs", "n_chars")
        .orderBy("stage")
    } finally parsed.unpersist()
  }

  /** p31 — URL frontier canonicalization + dedup (the step between
    * qn21's robots gate and the fetch queue: a frontier must recognize
    * `HTTP://Example.COM:80/a/../doc/1` and `http://example.com/doc/1`
    * as ONE fetch or it crawls the web twice). Every document gets a
    * deterministically MESSY url (six normalization classes: default
    * port + case, dot-segments, unsorted query + fragment, https
    * default port, percent-encoded unreserved, nested dot-segments),
    * and every `doc_id % 23 == 0` doc ALSO gets a differently-messy
    * TWIN of the same canonical (the mirror shape p30 uses). The
    * from-spec canonicalizer ([[graft.sources.Url]], RFC 3986 §6 +
    * frontier query sort) must collapse each twin pair while keeping
    * every distinct page distinct; the books pin the canonical STRINGS
    * through their summed length, which the oracle replays as CASE
    * arithmetic per class.
    *
    * Scale shape: per-row string work then ONE map-combined aggregate
    * keyed by (source, canonical) — the dedup shuffle a real frontier
    * runs, hash-partitioned, no skew (canonicals embed the doc id). */
  def p31_url_frontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Url
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .flatMap { case (id, src) =>
        val (base, twin) = (id % 6) match {
          case 0 => (s"HTTP://Example.COM:80/doc/$id",
            s"http://example.com/./doc/$id")
          case 1 => (s"http://example.com/a/../v1/doc/$id",
            s"http://EXAMPLE.com/v1/./doc/$id")
          case 2 => (s"http://example.com/doc/$id?b=2&a=1#f",
            s"HTTP://example.com:80/doc/$id?a=1&b=2")
          case 3 => (s"https://EXAMPLE.com:443/./doc/$id",
            s"https://example.com/doc/$id#x")
          case 4 => (s"http://example.com/doc/%7E$id",
            s"http://example.com/doc/~$id")
          case _ => (s"http://example.com/v5/./doc/$id",
            s"http://example.com/a/b/../../v5/doc/$id")
        }
        val rows = Seq((src, Url.canonicalize(base))) ++
          (if (id % 23 == 0) Seq((src, Url.canonicalize(twin))) else Nil)
        rows
      }
      .toDF("source", "canon")
      .groupBy("source", "canon").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(sum("cnt").as("n_urls"), count(lit(1)).as("n_unique"),
        sum(length(col("canon")).cast("long")).as("canon_chars"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p31_url_frontier" -> (p31_url_frontier _),
    "p30_crawl_funnel" -> (p30_crawl_funnel _),
    "p29_epoch_budget" -> (p29_epoch_budget _),
    "p28_interleave_order" -> (p28_interleave_order _),
    "p27_dedup_reweight" -> (p27_dedup_reweight _),
    "p26_selection_curve" -> (p26_selection_curve _),
    "p25_label_propagation" -> (p25_label_propagation _),
    "p24_dsir_selection" -> (p24_dsir_selection _),
    "p23_kcenter_coreset" -> (p23_kcenter_coreset _),
    "p22_rendezvous_shards" -> (p22_rendezvous_shards _),
    "p21_triangle_count" -> (p21_triangle_count _),
    "p20_curriculum" -> (p20_curriculum _),
    "p18_bfs_hops" -> (p18_bfs_hops _),
    "p17_pagerank" -> (p17_pagerank _),
    "p16_chunking" -> (p16_chunking _),
    "p15_token_budget" -> (p15_token_budget _),
    "p14_epoch_shuffle" -> (p14_epoch_shuffle _),
    "p12_dataset_card" -> (p12_dataset_card _),
    "p11_filter_funnel" -> (p11_filter_funnel _),
    "p10_weighted_sample" -> (p10_weighted_sample _),
    "p09_bloom_prescreen" -> (p09_bloom_prescreen _),
    "p08_domain_temperature" -> (p08_domain_temperature _),
    "p07_rarity_bucketing" -> (p07_rarity_bucketing _),
    "p01_corpus_pipeline" -> (p01_corpus_pipeline _),
    "p02_contamination" -> (p02_contamination _),
    "p03_sample_stratified" -> (p03_sample_stratified _),
    "p04_sequence_packing" -> (p04_sequence_packing _),
    "p05_domain_mix" -> (p05_domain_mix _),
    "p06_split_leakproof" -> (p06_split_leakproof _),
    "p19_temperature_mix" -> (p19_temperature_mix _),
  )

  /** p23 oracle: the greedy traversal unrolled into k chained CTEs —
    * cR = argmax of the carried min-distance (ties to lowest vec_id,
    * selected points excluded), mR = least(prev, dist to cR); the same
    * left-fold Σ(x−y)² and least() the Spark side evaluates. */
  private lazy val p23Sql: String = {
    val k = 8
    def dist(p: String, c: String): String =
      s"list_reduce(list_transform(range(1, 65), i -> ($p[i] - $c[i]) * ($p[i] - $c[i])), (x, y) -> x + y)"
    val sb = new StringBuilder
    sb.append("WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS a FROM embeddings),\n")
    sb.append("c1 AS MATERIALIZED (SELECT vec_id, a, 0.0::DOUBLE AS mind FROM e ORDER BY vec_id LIMIT 1),\n")
    sb.append(s"m1 AS MATERIALIZED (SELECT e.vec_id, e.a, ${dist("e.a", "c1.a")} AS mind FROM e, c1),\n")
    for (r <- 2 to k) {
      val prev = r - 1
      val excl = (1 until r).map(i => s"SELECT vec_id FROM c$i")
        .mkString(" UNION ALL ")
      sb.append(s"c$r AS MATERIALIZED (SELECT vec_id, a, mind FROM m$prev " +
        s"WHERE vec_id NOT IN ($excl) ORDER BY mind DESC, vec_id LIMIT 1),\n")
      if (r < k)
        sb.append(s"m$r AS MATERIALIZED (SELECT m$prev.vec_id, m$prev.a, " +
          s"least(m$prev.mind, ${dist(s"m$prev.a", s"c$r.a")}) AS mind " +
          s"FROM m$prev, c$r),\n")
    }
    val dcols = (1 to k).map(i => s"${dist("e.a", s"c$i.a")} AS d$i")
      .mkString(", ")
    val tables = (1 to k).map(i => s"c$i").mkString(", ")
    sb.append(s"asg AS (SELECT e.vec_id, $dcols FROM e, $tables),\n")
    val leastAll = s"least(${(1 to k).map(i => s"d$i").mkString(", ")})"
    val caseExpr = (1 to k).map(i =>
      s"WHEN d$i = $leastAll THEN $i").mkString("CASE ", " ", " END")
    sb.append(s"b AS (SELECT vec_id, $caseExpr AS rnd FROM asg),\n")
    sb.append("counts AS (SELECT rnd, count(*)::BIGINT AS n FROM b GROUP BY rnd),\n")
    val sel = (1 to k).map(i =>
      s"SELECT $i AS round, vec_id, floor(mind * 1e6)::BIGINT AS mind_fp FROM c$i")
      .mkString(" UNION ALL ")
    sb.append(s"sel AS ($sel)\n")
    sb.append("SELECT s.round::BIGINT AS round, s.vec_id, s.mind_fp, " +
      "coalesce(c.n, 0)::BIGINT AS n_assigned " +
      "FROM sel s LEFT JOIN counts c ON c.rnd = s.round ORDER BY round")
    sb.toString
  }

  /** p25 oracle: the four synchronous LPA rounds unrolled — per round a
    * neighbor-vote count and a (count DESC, label) argmin via
    * row_number, the same tie-break the Spark argmin struct encodes.
    * Round CTEs are MATERIALIZED: each is referenced once but DuckDB's
    * optimizer may still inline the 4-deep join chain into exponential
    * re-evaluation (the p23 lesson). */
  private lazy val p25Sql: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         e0 AS (SELECT doc_id AS src, unnest([
             (doc_id * 31 + 7) % (SELECT n FROM nn),
             (doc_id * 17 + 3) % (SELECT n FROM nn),
             (doc_id * 13 + 11) % (SELECT n FROM nn),
             (doc_id + 1) % (SELECT n FROM nn)]) AS d0
           FROM documents),
         edges AS (SELECT DISTINCT src,
             CASE WHEN d0 = src THEN (d0 + 1) % (SELECT n FROM nn)
               ELSE d0 END AS dst
           FROM e0),
         und AS (SELECT DISTINCT least(src, dst) AS a,
             greatest(src, dst) AS b
           FROM edges WHERE src <> dst),
         sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
           UNION ALL SELECT b AS src, a AS dst FROM und),
         r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
           FROM sym),
      """)
    for (r <- 1 to 4) {
      sb.append(
        s"""v$r AS MATERIALIZED (SELECT e.dst AS node, l.label,
             count(*)::BIGINT AS c
             FROM sym e JOIN r${r - 1} l ON l.node = e.src
             GROUP BY e.dst, l.label),
           r$r AS MATERIALIZED (SELECT node, label FROM (
             SELECT node, label, row_number() OVER
               (PARTITION BY node ORDER BY c DESC, label) AS rn FROM v$r)
             WHERE rn = 1),
        """)
    }
    sb.append(
      """fin AS (SELECT label AS community, count(*)::BIGINT AS n_members,
           sum(node)::BIGINT AS id_sum FROM r4 GROUP BY label)
         SELECT community, n_members, id_sum FROM fin ORDER BY community""")
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    // the frontier books as CASE arithmetic: every doc yields one
    // canonical (twins collapse), and the canonical string per class is
    // a fixed prefix + the doc id, so the summed length pins the exact
    // normalized strings — a dropped query sort, a surviving dot
    // segment or an undecoded %7E shifts canon_chars
    "p31_url_frontier" ->
      """SELECT source,
           CAST(count(*) + sum(CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_urls,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(CASE CAST(doc_id % 6 AS INT)
               WHEN 0 THEN 23 WHEN 1 THEN 26 WHEN 2 THEN 31
               WHEN 3 THEN 24 WHEN 4 THEN 24 ELSE 26 END
             + length(CAST(doc_id AS VARCHAR))) AS BIGINT) AS canon_chars
         FROM documents GROUP BY source ORDER BY source""",
    // the funnel replayed as pure doc_id arithmetic + the t33 extracted
    // -text reconstruction: mirror URIs are id + max_id + 1, quarantine
    // is uri % 17, quality is the 12-token gate on the reconstructed
    // extracted text, dedup is DISTINCT extracted text (page id is
    // embedded in the page, so distinct text == distinct page)
    "p30_crawl_funnel" ->
      """WITH mm AS (SELECT max(doc_id) AS m FROM documents),
         corpus AS (
           SELECT doc_id AS uri, doc_id AS page, lang, source, text
           FROM documents
           UNION ALL
           SELECT doc_id + mm.m + 1, doc_id, lang, source, text
           FROM documents, mm WHERE doc_id % 23 = 0),
         parsed AS (SELECT * FROM corpus WHERE uri % 17 <> 0),
         ex AS (SELECT uri, page,
             trim(regexp_replace(
               'Doc ' || page || ' Document ' || page || ' ' || text ||
                 ' source "' || source || '" & lang ' || lang,
               '[ \t\r\n]+', ' ', 'g')) AS t
           FROM parsed),
         q AS (SELECT * FROM ex
           WHERE length(t) - length(replace(t, ' ', '')) + 1 >= 12),
         stages AS (
           SELECT '1_raw' AS stage, count(*)::BIGINT AS n_docs,
             coalesce(sum(length(text)), 0)::BIGINT AS n_chars FROM corpus
           UNION ALL SELECT '2_parsed', count(*)::BIGINT,
             coalesce(sum(length(t)), 0)::BIGINT FROM ex
           UNION ALL SELECT '3_quality', count(*)::BIGINT,
             coalesce(sum(length(t)), 0)::BIGINT FROM q
           UNION ALL SELECT '4_unique', count(*)::BIGINT,
             coalesce(sum(length(t)), 0)::BIGINT
           FROM (SELECT DISTINCT t FROM q))
         SELECT stage, n_docs, n_chars FROM stages ORDER BY stage""",
    // the stride-scheduling construction replayed with window
    // functions (the oracle may window per source; the engine must
    // not) — same key arithmetic, same (k, source, doc_id) total order
    // the same closed-form waterfill: cap set decided by one prefix
    // scan in threshold order, exact cross-multiplied cap test
    "p29_epoch_budget" ->
      """WITH src AS (SELECT source,
           sum(len(string_split(text, ' ')))::BIGINT AS t
         FROM documents GROUP BY source),
       w AS (SELECT source, t,
           CAST(floor(sqrt(t::DOUBLE)) AS BIGINT) AS w FROM src),
       tot AS (SELECT sum(t)::BIGINT AS ttot, sum(w)::BIGINT AS wtot FROM w),
       g AS (SELECT source, t, w, ttot, wtot, 2 * ttot AS b,
           coalesce(sum(t) OVER (ORDER BY (t::HUGEINT * 4000000000) // w, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pref_t,
           coalesce(sum(w) OVER (ORDER BY (t::HUGEINT * 4000000000) // w, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pref_w
         FROM w, tot),
       c AS (SELECT *,
           (b::HUGEINT - 4 * pref_t) * w > 4 * t::HUGEINT * (wtot - pref_w)
             AS capped FROM g),
       ct AS (SELECT coalesce(sum(CASE WHEN capped THEN t END), 0) AS cap_t,
           coalesce(sum(CASE WHEN capped THEN w END), 0) AS cap_w FROM c),
       a AS (SELECT source, t, w, capped,
           CASE WHEN capped THEN 4 * t::HUGEINT
             ELSE ((b::HUGEINT - 4 * cap_t) * w) // (wtot - cap_w) END AS alloc
         FROM c, ct)
       SELECT source, t AS n_tokens, w AS weight,
         (CASE WHEN capped THEN 1 ELSE 0 END)::BIGINT AS capped,
         alloc::BIGINT AS alloc_tokens,
         (alloc::HUGEINT * 1000000 // t)::BIGINT AS epochs_fp
       FROM a ORDER BY source""",
    "p28_interleave_order" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
       rk AS (SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r,
           count(*) OVER (PARTITION BY source) AS s_size
         FROM d),
       ky AS (SELECT doc_id, source, r, s_size,
           ((r*2 - 1) * 1000000000000) // (s_size * 2) AS k FROM rk),
       ps AS (SELECT doc_id, source, r,
           row_number() OVER (ORDER BY k, source, doc_id) AS pos FROM ky),
       gaps AS (SELECT source,
           pos - lag(pos) OVER (PARTITION BY source ORDER BY r) AS gap
         FROM ps),
       mg AS (SELECT source, coalesce(max(gap), 0)::BIGINT AS max_gap
         FROM gaps GROUP BY source),
       ag AS (SELECT source, count(*)::BIGINT AS n_docs,
           min(pos)::BIGINT AS first_pos, max(pos)::BIGINT AS last_pos
         FROM ps GROUP BY source),
       n AS (SELECT count(*) AS nt FROM d)
       SELECT ag.source, ag.n_docs, ag.first_pos, ag.last_pos,
         mg.max_gap,
         CAST((mg.max_gap * ag.n_docs * 1000000) // n.nt AS BIGINT)
           AS skew_ppm
       FROM ag JOIN mg ON mg.source = ag.source, n
       ORDER BY ag.source""",
    // d22's full keep-best chain (shared fragment) + the source join
    // and per-source token-mass ledger
    "p27_dedup_reweight" -> s"""
      ${DedupQueries.sqlKeepBestChain},
      led AS (SELECT d.source,
          count(*)::BIGINT AS n_docs,
          sum(CASE WHEN z.rk = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
          sum(len(string_split(d.text, ' ')))::BIGINT AS tok_raw,
          sum(CASE WHEN z.rk = 1
            THEN len(string_split(d.text, ' ')) ELSE 0 END)::BIGINT
            AS tok_kept,
          sum(CASE WHEN z.rk = 1
            THEN len(string_split(d.text, ' ')) * z.n_members
            ELSE 0 END)::BIGINT AS tok_weighted
        FROM documents d JOIN sized z ON z.doc_id = d.doc_id
        GROUP BY d.source)
      SELECT source, n_docs, n_kept, tok_raw, tok_kept, tok_weighted,
        CAST((tok_kept * 1000000) // tok_raw AS BIGINT) AS kept_share_fp,
        CAST((tok_weighted * 1000000) // tok_raw AS BIGINT) AS bias_fp
      FROM led ORDER BY source""",
    // same quality score, same (q_fp DESC, doc_id) rank and integer
    // decile split, same bounded cumulative window
    "p26_selection_curve" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
           FROM documents),
       sc AS (SELECT doc_id, len(tk)::BIGINT AS n_tok,
           CASE WHEN len(tk) = 0 THEN 0
             ELSE (len(list_distinct(tk)) * 1000000) // len(tk) END::BIGINT
             AS q_fp
         FROM d),
       n AS (SELECT count(*)::BIGINT AS n_tot FROM sc),
       r AS (SELECT doc_id, n_tok, q_fp,
           row_number() OVER (ORDER BY q_fp DESC, doc_id) AS rn FROM sc),
       dec AS (SELECT ((rn - 1) * 10) // n_tot AS decile,
           count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
           sum(q_fp)::BIGINT AS qsum
         FROM r, n GROUP BY 1),
       cum AS (SELECT decile, n_docs, n_tokens, qsum,
           sum(n_tokens) OVER (ORDER BY decile)::BIGINT AS cum_tokens,
           sum(n_docs) OVER (ORDER BY decile)::BIGINT AS cum_docs,
           sum(qsum) OVER (ORDER BY decile)::BIGINT AS cum_qsum
         FROM dec)
       SELECT decile::BIGINT AS decile, n_docs, n_tokens,
         (qsum // n_docs)::BIGINT AS mean_q_fp, cum_tokens,
         (cum_qsum // cum_docs)::BIGINT AS cum_mean_q_fp
       FROM cum ORDER BY decile""",
    "p25_label_propagation" -> p25Sql,
    // same md5-60 bucket hash, same add-one smoothing, same fixed-point
    // freeze of the per-bucket log-ratio before the integer doc sum
    "p24_dsir_selection" ->
      """WITH tok AS (SELECT doc_id, source,
                unnest(string_split(text, ' ')) AS t FROM documents),
         tb AS (SELECT doc_id, source,
                CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1024 AS b
                FROM tok),
         cnt AS (SELECT b,
                sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS ct,
                sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END)::BIGINT AS cr
                FROM tb GROUP BY b),
         tot AS (SELECT
                sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS nt,
                sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END)::BIGINT AS nr
                FROM tb),
         w AS (SELECT r.range AS b,
                (floor(ln((coalesce(ct, 0) + 1)::DOUBLE / (nt + 1024)::DOUBLE) * 1e6)::BIGINT
               - floor(ln((coalesce(cr, 0) + 1)::DOUBLE / (nr + 1024)::DOUBLE) * 1e6)::BIGINT) AS wfp
                FROM range(1024) r LEFT JOIN cnt ON cnt.b = r.range, tot),
         sc AS (SELECT doc_id, count(*)::BIGINT AS n_tok,
                sum(wfp)::BIGINT AS w_fp
                FROM tb JOIN w USING (b) WHERE source <> 'src0'
                GROUP BY doc_id),
         k AS (SELECT ((count(*) + 9) // 10)::BIGINT AS k
               FROM documents WHERE source <> 'src0'),
         ranked AS (SELECT doc_id, n_tok, w_fp,
                row_number() OVER (ORDER BY w_fp DESC, doc_id) AS rank
                FROM sc)
         SELECT rank::BIGINT AS rank, doc_id, n_tok, w_fp
         FROM ranked, k WHERE rank <= k.k ORDER BY rank""",
    "p23_kcenter_coreset" -> p23Sql,
    // same Lehmer score per (doc, shard), same packed-argmax tie-break
    "p22_rendezvous_shards" ->
      """WITH a AS (SELECT doc_id,
           list_max(list_transform(range(0, 16), k ->
             (((doc_id % 2147483647) * 1103515245 + (k + 1) * 12345 + 6789)
               % 2147483647 * 16807) % 2147483647 * 32 + k)) % 32
             AS shard16,
           list_max(list_transform(range(0, 17), k ->
             (((doc_id % 2147483647) * 1103515245 + (k + 1) * 12345 + 6789)
               % 2147483647 * 16807) % 2147483647 * 32 + k)) % 32
             AS shard17
           FROM documents)
         SELECT shard16 AS shard, count(*)::BIGINT AS n_docs,
           CAST(sum(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_moved,
           (CAST(sum(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // count(*) AS moved_fp
         FROM a GROUP BY 1 ORDER BY 1""",
    // identical orientation replay: canonical a<b edges, degree from
    // both endpoints, low-(deg,id) -> high orientation, wedge join +
    // membership join; wedges counted on the UNDIRECTED degrees
    "p21_triangle_count" ->
      """WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         e0 AS (SELECT doc_id AS src, unnest([
             (doc_id * 31 + 7) % (SELECT n FROM nn),
             (doc_id * 17 + 3) % (SELECT n FROM nn),
             (doc_id * 13 + 11) % (SELECT n FROM nn),
             (doc_id + 1) % (SELECT n FROM nn)]) AS d0
           FROM documents),
         edges AS (SELECT DISTINCT src,
             CASE WHEN d0 = src THEN (d0 + 1) % (SELECT n FROM nn)
               ELSE d0 END AS dst
           FROM e0),
         und AS (SELECT DISTINCT least(src, dst) AS a,
             greatest(src, dst) AS b
           FROM edges WHERE src <> dst),
         deg AS (SELECT node, count(*)::BIGINT AS deg FROM
             (SELECT a AS node FROM und
              UNION ALL SELECT b AS node FROM und)
           GROUP BY node),
         o AS (SELECT CASE WHEN da.deg <= db.deg THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg <= db.deg THEN u.b ELSE u.a END AS v
           FROM und u JOIN deg da ON da.node = u.a
             JOIN deg db ON db.node = u.b),
         tri AS (SELECT count(*)::BIGINT AS t FROM o e1
           JOIN o e2 ON e2.u = e1.v
           JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v),
         w AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges
           FROM deg)
         SELECT (SELECT count(*) FROM und)::BIGINT AS n_edges,
           (SELECT wedges FROM w) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           CASE WHEN (SELECT wedges FROM w) = 0 THEN 0
             ELSE ((SELECT t FROM tri) * 3000000) // (SELECT wedges FROM w)
             END AS transitivity_fp""",
    "p20_curriculum" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         sc AS (SELECT doc_id, len(toks)::BIGINT AS n_tok,
             list_reduce(list_transform(toks, t -> length(t)::BIGINT),
               (a, b) -> a + b) AS total_chars
           FROM d),
         diff AS (SELECT doc_id, n_tok,
             CASE WHEN n_tok = 0 THEN 0
               ELSE total_chars * 1000000 // n_tok END AS diff_fp
           FROM sc),
         ranked AS (SELECT doc_id, n_tok,
             row_number() OVER (ORDER BY diff_fp, doc_id) AS rn,
             count(*) OVER () AS n_tot
           FROM diff),
         b AS (SELECT doc_id, n_tok,
             (rn - 1) * 3 // n_tot AS tercile FROM ranked),
         ep AS (SELECT b.*, epoch FROM b
           CROSS JOIN (SELECT unnest([1, 2, 3])::BIGINT AS epoch)),
         g AS (SELECT epoch, tercile, n_tok, doc_id,
             CAST('0x' || substr(md5(doc_id::VARCHAR || ':' ||
               epoch::VARCHAR), 1, 15) AS BIGINT) % 100 <
             CASE WHEN epoch = 1 THEN [100, 50, 20][tercile + 1]
                  WHEN epoch = 2 THEN [60, 100, 60][tercile + 1]
                  ELSE [20, 50, 100][tercile + 1] END AS sampled
           FROM ep)
         SELECT epoch, tercile::BIGINT AS tercile, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN sampled THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
           sum(CASE WHEN sampled THEN n_tok ELSE 0 END)::BIGINT AS tok_sampled,
           sum(CASE WHEN sampled THEN doc_id ELSE 0 END)::BIGINT AS sampled_id_sum
         FROM g GROUP BY epoch, tercile ORDER BY epoch, tercile""",
    // bounded-depth BFS as a recursive CTE: UNION dedups (node, dist)
    // pairs, the dist < 8 guard terminates it, min() collapses to the
    // true capped hop distance
    "p18_bfs_hops" ->
      """WITH RECURSIVE
         nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         e0 AS (SELECT doc_id AS src, unnest([
             (doc_id * 31 + 7) % (SELECT n FROM nn),
             (doc_id * 17 + 3) % (SELECT n FROM nn),
             (doc_id * 13 + 11) % (SELECT n FROM nn),
             (doc_id + 1) % (SELECT n FROM nn)]) AS d0
           FROM documents),
         edges AS (SELECT DISTINCT src,
             CASE WHEN d0 = src THEN (d0 + 1) % (SELECT n FROM nn)
               ELSE d0 END AS dst
           FROM e0),
         d(node, dist) AS (
           SELECT doc_id, 0::BIGINT FROM documents WHERE doc_id % 97 = 0
           UNION
           SELECT e.dst, d.dist + 1 FROM d JOIN edges e ON e.src = d.node
           WHERE d.dist < 8)
         SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM d
         GROUP BY node ORDER BY node""",
    // identical integer fixed-point iteration, replayed as a recursive
    // CTE (single recursive reference: the join+group covers every node
    // because the ring edge guarantees indegree >= 1)
    "p17_pagerank" ->
      """WITH RECURSIVE
         nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         e0 AS (SELECT doc_id AS src, unnest([
             (doc_id * 31 + 7) % (SELECT n FROM nn),
             (doc_id * 17 + 3) % (SELECT n FROM nn),
             (doc_id * 13 + 11) % (SELECT n FROM nn),
             (doc_id + 1) % (SELECT n FROM nn)]) AS d0
           FROM documents),
         edges AS (SELECT DISTINCT src,
             CASE WHEN d0 = src THEN (d0 + 1) % (SELECT n FROM nn)
               ELSE d0 END AS dst
           FROM e0),
         deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges
           GROUP BY src),
         ed AS (SELECT e.src, e.dst, d.outdeg
           FROM edges e JOIN deg d USING (src)),
         pr(iter, node, rank) AS (
           SELECT 0, doc_id,
             CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
           FROM documents
           UNION ALL
           SELECT p.iter + 1, ed.dst,
             CAST((15 * 1000000000000) // (100 * (SELECT n FROM nn))
               + (85 * sum(p.rank // ed.outdeg)) // 100 AS BIGINT)
           FROM pr p JOIN ed ON ed.src = p.node
           WHERE p.iter < 6
           GROUP BY p.iter, ed.dst)
         SELECT node AS doc_id, rank AS rank_fp FROM pr
         WHERE iter = 6 ORDER BY doc_id""",
    "p16_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         s AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t)
         SELECT doc_id, u.start // 24 AS chunk_idx,
           u.start AS chunk_start,
           len(toks[u.start + 1 : u.start + 32])::BIGINT AS chunk_len,
           array_to_string(toks[u.start + 1 : u.start + 32], ' ')
             AS chunk_text
         FROM s, (SELECT unnest(range(0, n, 24)) AS start) u
         ORDER BY doc_id, chunk_idx""",
    "p15_token_budget" ->
      """WITH m AS (SELECT doc_id, source,
           len(string_split(text, ' '))::BIGINT AS n_tok,
           CASE WHEN len(string_split(text, ' ')) = 0 THEN 0
             ELSE (len(list_distinct(string_split(text, ' '))) * 1000000)
                  // len(string_split(text, ' ')) END AS score
         FROM documents),
       b AS (SELECT (sum(n_tok) * 6) // 10 AS budget FROM m),
       r AS (SELECT m.*, sum(n_tok) OVER (ORDER BY score DESC, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum FROM m),
       k AS (SELECT r.*, r.cum <= b.budget AS kept FROM r CROSS JOIN b)
       SELECT source, count(*)::BIGINT AS n_total,
         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
         CAST(sum(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT)
           AS kept_id_sum
       FROM k GROUP BY source ORDER BY source""",
    // the permutation is pure integer arithmetic, so the oracle replays
    // it exactly; row_number here is DuckDB's — the Spark side must
    // produce the identical dense numbering WITHOUT a global window
    "p14_epoch_shuffle" ->
      """SELECT row_number() OVER (ORDER BY h, doc_id) AS seq, doc_id, h,
         (row_number() OVER (ORDER BY h, doc_id) - 1) // 8192 AS shard
       FROM (SELECT doc_id,
           ((doc_id % 4294967296) * 1103515245) % 4294967296 AS h
         FROM documents)
       ORDER BY seq""",
    "p12_dataset_card" ->
      """WITH d AS (SELECT source, lang, text, n_chars,
           len(list_filter(string_split(text, ' '), t -> length(t) > 0))
             AS n_toks
         FROM documents)
       SELECT source AS scope,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(sum(n_toks) AS BIGINT) / CAST(count(*) AS DOUBLE)
           AS avg_doc_tokens,
         count(DISTINCT md5(text)) AS n_unique_texts,
         (count(*) - count(DISTINCT md5(text)))
           / CAST(count(*) AS DOUBLE) AS dup_share,
         CAST(min(n_chars) AS BIGINT) AS min_chars,
         CAST(max(n_chars) AS BIGINT) AS max_chars,
         count(CASE WHEN lang = 'de' THEN 1 END) / CAST(count(*) AS DOUBLE)
           AS share_de,
         count(CASE WHEN lang = 'en' THEN 1 END) / CAST(count(*) AS DOUBLE)
           AS share_en,
         count(CASE WHEN lang = 'es' THEN 1 END) / CAST(count(*) AS DOUBLE)
           AS share_es,
         count(CASE WHEN lang = 'fr' THEN 1 END) / CAST(count(*) AS DOUBLE)
           AS share_fr,
         count(CASE WHEN lang = 'zh' THEN 1 END) / CAST(count(*) AS DOUBLE)
           AS share_zh
       FROM d GROUP BY source ORDER BY scope""",
    "p11_filter_funnel" ->
      """WITH f AS (SELECT
           len(string_split(text, ' '))::BIGINT AS n_tok,
           len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','to')))::BIGINT AS n_stop,
           CAST(floor(list_max(list_transform(list_distinct(string_split(text, ' ')),
               u -> len(list_filter(string_split(text, ' '), x -> x = u))))::DOUBLE
             / len(string_split(text, ' ')) * 1e6) AS BIGINT) AS top_word_fp
         FROM documents),
       k AS (SELECT n_tok >= 30 AS k1,
           n_tok >= 30 AND n_stop * 50 >= n_tok AS k2,
           n_tok >= 30 AND n_stop * 50 >= n_tok
             AND top_word_fp <= 120000 AS k3,
           n_tok >= 30 AND n_stop * 50 >= n_tok
             AND top_word_fp <= 120000 AND n_tok <= 95 AS k4
         FROM f),
       a AS (SELECT count(*)::BIGINT AS n0,
           CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           CAST(sum(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
         FROM k)
       SELECT stage, filter, n_in, n_kept, n_in - n_kept AS n_dropped FROM (
         SELECT 1::BIGINT AS stage, 'min_length' AS filter, n0 AS n_in, n1 AS n_kept FROM a
         UNION ALL SELECT 2, 'stopword_fluency', n1, n2 FROM a
         UNION ALL SELECT 3, 'repetition_cap', n2, n3 FROM a
         UNION ALL SELECT 4, 'max_length', n3, n4 FROM a)
       ORDER BY stage""",
    "p10_weighted_sample" ->
      """WITH t AS (SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
       c AS (SELECT doc_id, n_tok,
           CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum,
           CAST(sum(n_tok) OVER () AS BIGINT) AS total FROM t)
       SELECT doc_id, n_tok,
         CAST((cum*64)//total - ((cum-n_tok)*64)//total AS BIGINT) AS copies
       FROM c
       WHERE (cum*64)//total - ((cum-n_tok)*64)//total >= 1
       ORDER BY doc_id""",
    "p09_bloom_prescreen" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 3),
             i -> CAST('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)
                  AS BIGINT)))) AS g
         FROM toks WHERE len(t) >= 5),
       ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
       prmM AS (SELECT greatest(65536::BIGINT,
           1::BIGINT << CAST(coalesce(min(L), 62) AS INT)) AS m
         FROM range(0, 63) t(L), (SELECT count(*) AS n FROM ev) c
         WHERE (1::BIGINT << L) >= 19 * c.n),
       bits AS (SELECT DISTINCT bit FROM (
           SELECT g % (SELECT m FROM prmM) AS bit FROM ev
           UNION ALL SELECT (g // (SELECT m FROM prmM)) %
             (SELECT m FROM prmM) FROM ev)),
       train AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 97 <> 0),
       pass AS (SELECT doc_id, g FROM train
         WHERE g % (SELECT m FROM prmM) IN (SELECT bit FROM bits)
           AND (g // (SELECT m FROM prmM)) % (SELECT m FROM prmM)
             IN (SELECT bit FROM bits))
       SELECT p.doc_id,
         count(DISTINCT p.g) AS n_bloom,
         count(DISTINCT CASE WHEN ev.g IS NOT NULL THEN p.g END) AS n_exact,
         count(DISTINCT p.g) - count(DISTINCT CASE WHEN ev.g IS NOT NULL
           THEN p.g END) AS n_false_pos
       FROM pass p LEFT JOIN ev ON p.g = ev.g
       GROUP BY p.doc_id ORDER BY p.doc_id""",
    "p08_domain_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_d FROM documents GROUP BY source),
       w AS (SELECT source, n_d, sqrt(n_d::DOUBLE) AS w FROM c),
       t AS (SELECT list_reduce(list(w ORDER BY source), (x, y) -> x + y)
           AS wsum FROM w),
       q AS (SELECT source,
           CAST(floor(w.w / t.wsum * 1e6) AS BIGINT) AS q_fp
         FROM w CROSS JOIN t),
       q2 AS (SELECT source, q_fp, (q_fp * 20000) // 1000000 AS n_target FROM q),
       r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(text), 1, 15) AS BIGINT), doc_id)
           AS rk FROM documents)
       SELECT r.source, count(*) AS n_total, max(q_fp) AS q_fp,
         max(n_target) AS n_target,
         CAST(sum(CASE WHEN rk <= n_target THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         CAST(sum(CASE WHEN rk <= n_target THEN doc_id ELSE 0 END) AS BIGINT)
           AS kept_id_sum
       FROM r JOIN q2 USING (source)
       GROUP BY r.source ORDER BY r.source""",
    "p07_rarity_bucketing" ->
      """WITH occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
       df AS (SELECT tok, count(DISTINCT doc_id) AS dfc FROM occ GROUP BY tok),
       d AS (SELECT occ.doc_id, count(*) AS n,
           CAST(sum(dfc) AS BIGINT) AS sdf
         FROM occ JOIN df USING (tok) GROUP BY occ.doc_id)
       SELECT (sdf // n) // 50 AS bucket,
         count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
       FROM d GROUP BY 1 ORDER BY 1""",
    "p01_corpus_pipeline" ->
      """WITH scored AS (SELECT doc_id, text, n_tokens, quality,
           s_de, s_en, s_es, s_fr, s_zh,
           greatest(s_de, s_en, s_es, s_fr, s_zh) AS best
         FROM (SELECT doc_id, text,
           len(toks)::BIGINT AS n_tokens,
           (1.0 - len(list_filter(toks, t -> t IN ('the','a','of','and','to')))::DOUBLE
             / len(toks)::DOUBLE) * least(1.0, len(toks)::DOUBLE / 100.0) AS quality,
           len(list_filter(toks, t -> t IN ('table','key','hash')))::BIGINT AS s_de,
           len(list_filter(toks, t -> t IN ('the','a','fast','slow')))::BIGINT AS s_en,
           len(list_filter(toks, t -> t IN ('data','row','scan')))::BIGINT AS s_es,
           len(list_filter(toks, t -> t IN ('order','query','value')))::BIGINT AS s_fr,
           len(list_filter(toks, t -> t IN ('spark','join','merge')))::BIGINT AS s_zh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents))),
       kept AS (SELECT doc_id, text, n_tokens, quality FROM scored
         WHERE quality >= 0.4 AND
           (CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
                 WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
                 ELSE 'zh' END) = 'en'),
       dedup AS (SELECT doc_id, n_tokens, quality FROM (
           SELECT doc_id, n_tokens, quality,
             min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM kept)
         WHERE doc_id = rep)
       SELECT count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(CAST(floor(quality * 1e9) AS BIGINT)) AS BIGINT) AS quality_fp
       FROM dedup""",
    "p02_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 3),
             i -> CAST('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)
                  AS BIGINT)))) AS g
         FROM toks WHERE len(t) >= 5),
       ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
       SELECT tr.doc_id, count(DISTINCT tr.g)::BIGINT AS n_shared
       FROM g tr JOIN ev ON tr.g = ev.g
       WHERE tr.doc_id % 97 <> 0
       GROUP BY tr.doc_id ORDER BY tr.doc_id""",
    "p03_sample_stratified" ->
      """SELECT n_chars // 256 AS stratum,
         count(*) AS n_total,
         CAST(sum(CASE WHEN (doc_id * 2654435761) % 2147483647 % 100 < 10
           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN (doc_id * 2654435761) % 2147483647 % 100 < 10
           THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
         CAST(sum(CASE WHEN (doc_id * 2654435761) % 2147483647 % 100 < 10
           THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS rate_ppm
       FROM documents GROUP BY 1 ORDER BY 1""",
    "p04_sequence_packing" ->
      """WITH t AS (SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
       c AS (SELECT doc_id, n_tok,
           coalesce(CAST(sum(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS strt FROM t)
       SELECT strt // 2048 AS window_id,
         count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
       FROM c GROUP BY 1 ORDER BY 1""",
    // one IEEE sqrt per source (identical both engines), exact integer
    // floor allocation, (content-hash, doc_id) selection order
    "p19_temperature_mix" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS prio
         FROM documents),
         sz AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS sz,
             count(*) AS n_docs,
             CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1e6) AS BIGINT)
               AS w_fp
           FROM d GROUP BY source),
         al AS (SELECT source, sz, n_docs, w_fp,
             200 * w_fp // (SELECT sum(w_fp) FROM sz) AS alloc
           FROM sz),
         r AS (SELECT d.doc_id, d.source,
             row_number() OVER (PARTITION BY d.source
               ORDER BY d.prio, d.doc_id) AS rn
           FROM d)
         SELECT al.source, al.sz, al.w_fp, CAST(al.alloc AS BIGINT) AS alloc,
           CAST(sum(CASE WHEN r.rn <= al.alloc THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN r.rn <= al.alloc THEN r.doc_id ELSE 0 END)
             AS BIGINT) AS kept_id_sum
         FROM r JOIN al ON r.source = al.source
         GROUP BY al.source, al.sz, al.w_fp, al.alloc
         ORDER BY al.source""",
    "p05_domain_mix" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
           CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS prio,
           (CAST(substr(source, 4) AS BIGINT) % 4 + 1) * 1500 AS budget
         FROM documents),
       c AS (SELECT *, coalesce(CAST(sum(n_chars) OVER (PARTITION BY source
           ORDER BY prio, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           0) AS strt FROM d)
       SELECT source, max(budget) AS budget, count(*) AS n_total,
         CAST(sum(CASE WHEN strt < budget THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         CAST(sum(CASE WHEN strt < budget THEN n_chars ELSE 0 END) AS BIGINT)
           AS chars_kept,
         CAST(sum(CASE WHEN strt < budget THEN doc_id ELSE 0 END) AS BIGINT)
           AS kept_id_sum
       FROM c GROUP BY source ORDER BY source""",
    "p06_split_leakproof" ->
      """WITH d AS (SELECT doc_id, n_chars,
           min(doc_id) OVER (PARTITION BY
             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS rep
         FROM documents)
       SELECT CASE WHEN (rep * 2654435761) % 2147483647 % 100 < 10
           THEN 'val' ELSE 'train' END AS split,
         count(*) AS n_docs,
         count(DISTINCT rep) AS n_groups,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
         CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
       FROM d GROUP BY 1 ORDER BY 1""",
  )
}
