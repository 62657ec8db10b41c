package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixpoint, Tables}
import graft.functions.TextFunctions._

/** Text-analysis operators for the large-scale training-data pipeline:
  * token counting, quality scoring, language-ID, document fingerprinting.
  * All per-row column arithmetic — embarrassingly parallel, no shuffles,
  * whole-stage codegen'd; at 100 TB these run at scan speed.
  */
object TextQueries {

  /** t01 — token counting + quality scoring (length / stopword-ratio
    * heuristics over exact integer counts). */
  def t01_token_quality(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        aggregate(col("toks"), lit(0L), (a, t) => a + length(t).cast("long"))
          .as("total_chars"),
        (size(filter(col("toks"), t => t.isInCollection(stop))).cast("double") /
          size(col("toks")).cast("double")).as("stop_ratio"))
      .withColumn("avg_token_len",
        col("total_chars").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality",
        (lit(1.0) - col("stop_ratio")) *
          least(lit(1.0), col("n_tokens").cast("double") / 100.0))
      .orderBy("doc_id")
  }

  private[operators] val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "key", "hash"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "row", "scan"),
    "fr" -> Seq("order", "query", "value"),
    "zh" -> Seq("spark", "join", "merge"))

  /** t02 — language-ID by n-gram/marker-token scoring: count marker hits
    * per language, argmax with lexicographic tie-break. (The corpus is
    * synthetic so the markers are a fixed profile table; a real profile
    * set drops in without changing the plan shape.) */
  def t02_langid(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
    val scored = markers.foldLeft(base) { case (df, (lg, ms)) =>
      df.withColumn(s"s_$lg",
        size(filter(col("toks"), t => t.isInCollection(ms))).cast("long"))
    }
    val best = greatest(markers.map { case (lg, _) => col(s"s_$lg") }: _*)
    // first matching language in de<en<es<fr<zh order (lexicographic
    // tie-break, mirrored by the oracle's CASE chain)
    val predFirst = markers.reverse.foldLeft(lit("??")) { case (els, (lg, _)) =>
      when(col(s"s_$lg") === best, lit(lg)).otherwise(els)
    }
    scored.select(col("doc_id") +: col("lang").as("actual_lang") +:
        markers.map { case (lg, _) => col(s"s_$lg") } :+
        predFirst.as("pred_lang"): _*)
      .orderBy("doc_id")
  }

  /** t03 — document fingerprinting: 60-bit content hash, min-token-hash
    * (1-function MinHash) and SimHash. */
  def t03_fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("hs", tokenHashes(col("text"))) // one md5 pass per row
      .select(col("doc_id"),
        md5Long60(col("text")).as("content_fp"),
        array_min(col("hs")).as("min_token_fp"),
        simhashFromHashes(col("hs")).as("simhash"))
      .orderBy("doc_id")

  /** t04 — BPE-ish subword tokenization: split into letter runs, digit
    * runs and single symbols (the pre-merge vocabulary of a byte-pair
    * tokenizer), and report exact counts. Identical regex-class semantics
    * in the JVM and DuckDB's RE2 for these simple classes. */
  def t04_bpe_tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("pieces",
        regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
      .select(col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        size(array_distinct(col("pieces"))).cast("long").as("n_vocab"),
        aggregate(col("pieces"), lit(0L), (a, p) => a + length(p).cast("long"))
          .as("n_covered_chars"))
      .orderBy("doc_id")

  /** t05 — context-window chunking: every document split into
    * overlapping 32-token windows at stride 16 (the packing step that
    * turns a corpus into training sequences), each window identified by
    * its index, token count and content hash. Scan-parallel: one
    * explode per row, no shuffle until the output sort. */
  def t05_context_windows(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("nw",
        ldiv(size(col("toks")).cast("long") - 1, lit(16L)).cast("int"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("nw"))).as("w"))
      .withColumn("win", slice(col("toks"), col("w") * 16 + 1, lit(32)))
      .select(col("doc_id"), col("w").cast("long").as("win_idx"),
        size(col("win")).cast("long").as("n_win_tokens"),
        md5Long60(concat_ws(" ", col("win"))).as("win_hash"))
      .orderBy("doc_id", "win_idx")
  }

  /** t06 — corpus vocabulary build (the statistics pass of tokenizer
    * training): term frequency, document frequency and per-doc rate for
    * every token. Plan shape: explode → hash aggregate keyed on the
    * token, with Spark's partial (map-side) combine doing the heavy
    * lifting — at 100 TB the shuffle carries one partial row per
    * (partition, token), not one per occurrence. df uses a distinct
    * (token, doc_id) pre-aggregate, which shuffles on the same key. */
  def t06_vocabulary(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = occ.groupBy("tok").agg(count(lit(1)).as("tf"))
    val df = occ.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(df, "tok")
      .withColumn("rate_fp",
        floor(col("tf").cast("double") / col("df").cast("double") * 1e6)
          .cast("long"))
      .orderBy("tok")
  }

  /** t07 — repetition-based quality heuristics (the Gopher/C4-style
    * filter rules adapted to this corpus): type-token ratio, most-
    * frequent-word share, most-frequent-bigram share, and the resulting
    * keep/drop decision. The four integer counters come from ONE native
    * hash pass per row ([[graft.plans.RepetitionStats]] — exactly the
    * values of the O(n·distinct) nested-lambda formulation the DuckDB
    * oracle replays); the fixed-point ratios are plain column
    * arithmetic. Scan-parallel, no shuffle. */
  def t07_quality_repetition(s: SparkSession, dir: String): DataFrame = {
    def fp(num: Column, den: Column): Column =
      floor(num.cast("double") / den.cast("double") * 1e6).cast("long")
    Tables.documents(s, dir)
      .withColumn("st", graft.plans.RepetitionStats(col("text")))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_tokens"),
        fp(element_at(col("st"), 2), element_at(col("st"), 1)).as("ttr_fp"),
        fp(element_at(col("st"), 3), element_at(col("st"), 1)).as("top_word_fp"),
        // single-token docs have no bigrams: 0/(n-1) would be 0/0 → NaN
        // here but NULL in the oracle's list_max-over-empty — pin both
        // sides to 0 explicitly
        when(element_at(col("st"), 1) > 1L,
          fp(element_at(col("st"), 4), element_at(col("st"), 1) - 1))
          .otherwise(lit(0L)).as("top_gram_fp"))
      .withColumn("keep",
        col("ttr_fp") >= 450000L && col("top_word_fp") <= 120000L &&
          col("top_gram_fp") <= 60000L)
      .orderBy("doc_id")
  }

  /** t08 — cross-document boilerplate share: the fraction of a
    * document's distinct 5-gram hashes that occur in at least one OTHER
    * document (document frequency ≥ 2) — the shingle-level signal
    * template/boilerplate filters rank on. One native gram-hash pass
    * per row (p02's kernel), a gram-keyed partial+final count for the
    * document frequency, one shuffle join back: no cross join, no
    * per-pair work — the identical plan at 100 TB. Docs under 5 tokens
    * have no grams and drop out (the oracle filters identically). */
  def t08_boilerplate_share(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.plans.Gram5TokenHashSet(col("text"))).as("g"))
    val dfc = grams.groupBy("g").agg(count(lit(1)).as("dfc"))
    grams.join(dfc, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("dfc") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("share_fp",
        floor(col("n_shared").cast("double") / col("n_grams").cast("double")
          * 1e6).cast("long"))
      .orderBy("doc_id")
  }

  /** t09 — bigram language-model scoring (the perplexity-proxy quality
    * filter): train Laplace-smoothed bigram counts over the WHOLE corpus
    * (two hash-partition groupBys — the distributed "train" step), then
    * score every document by its average negative log-likelihood
    * −mean ln((c(w1,w2)+1)/(c(w1)+V)). High avg_nll = text the corpus LM
    * finds surprising — the classic heuristic for boilerplate/garbage
    * ranking when a real LM is too expensive to run at 100 TB.
    *
    * Scale posture: the count model stays distributed (joined back on
    * its hash keys, never driver-side); V is a 1-row broadcast. The
    * per-doc sum folds position-sorted terms so the double addition
    * order is deterministic (bit-identical to the oracle's list_reduce).
    */
  def t09_bigram_lm(s: SparkSession, dir: String): DataFrame =
    bigramNll(s, dir).orderBy("doc_id")

  /** Per-doc (doc_id, n_bigrams, avg_nll_fp) — shared train+score core
    * of t09 (plain scoring) and t15 (tercile bucketing). */
  private def bigramNll(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val big = toks
      .select(col("doc_id"),
        posexplode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col("doc_id"), col("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vdf = toks.select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val term = big.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vdf))
      .withColumn("t", -log((col("c2") + 1).cast("double") /
        (col("c1") + col("v")).cast("double")))
    val perDoc = term.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      aggregate(array_sort(collect_list(struct(col("pos"), col("t")))),
        lit(0.0), (acc, x) => acc + x.getField("t")).as("total"))
    // ln differs by 1 ulp between the JVM and libm on rare inputs (same
    // class as a18's atan2 note), so the score ships at 1e4 fixed point:
    // a ≤1e-12 cross-engine wobble against a 1e-4 grid never flips floor
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        floor(coalesce(col("total") / col("n_bigrams").cast("double"), lit(0.0))
          * 1e4).cast("long").as("avg_nll_fp"))
  }

  /** t15 — CCNet-style perplexity bucketing: score every doc with the
    * t09 corpus bigram LM, then split the corpus into head / middle /
    * tail terciles of ascending avg-NLL (head = the third the LM finds
    * most predictable — in CCNet the slice kept for LM training; tail =
    * the surprising third that gets dropped or down-weighted).
    *
    * The tercile assignment needs a GLOBAL rank over the score — the
    * classic single-partition window trap. Instead the rank comes from
    * [[SequentialId.withSequentialId]] (range-exchange sort + broadcast
    * partition offsets, no single-task stage) and the bucket is pure
    * integer arithmetic on (rank, N): bucket = ((rank−1)·3) div N, so
    * both engines replay it exactly — no ntile, whose remainder
    * distribution DuckDB and Spark define differently. */
  def t15_perplexity_bucket(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val scored = bigramNll(s, dir).select("doc_id", "avg_nll_fp")
    val n = scored.agg(count(lit(1)).as("n"))
    val ranked = SequentialId.withSequentialId(
      scored, "rank", Seq(col("avg_nll_fp"), col("doc_id")))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket",
        when(ldiv((col("rank") - 1) * 3, col("n")) === 0, "head")
          .when(ldiv((col("rank") - 1) * 3, col("n")) === 1, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("avg_nll_fp"), col("rank"), col("bucket"))
      .orderBy("doc_id")
  }

  /** t10 — PII scrub audit (the C4/Dolma-style pattern pass, made
    * testable): seed deterministic synthetic PII into a known subset of
    * docs (emails on doc_id≡0 mod 7, phone numbers on ≡0 mod 11), then
    * run the regex scrubber every pipeline ships — count matches,
    * replace with redaction tags, report per-doc before/after sizes.
    * The seeded plant rate makes recall CHECKABLE: the oracle replays
    * the seeding, so a scrubber that under-matches breaks the hash.
    * Scan-parallel per-row regex work, no shuffle; the patterns stay in
    * the RE2-compatible subset (no backreferences/lookahead) so they
    * run identically on any regex engine. */
  def t10_pii_scrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val phoneRe = "555-[0-9]{4}"
    Tables.documents(s, dir)
      .withColumn("seeded", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("seeded"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("seeded"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("seeded"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        length(col("seeded")).cast("long").as("len_before"),
        length(col("scrubbed")).cast("long").as("len_after"))
      .orderBy("doc_id")
  }

  /** t11 — HyperLogLog cardinality sketch, from scratch (Flajolet et
    * al.): per-source distinct 4-gram estimate from a 64-bucket HLL,
    * reported next to the exact count so the sketch's error is itself
    * under the oracle. This is THE mergeable structure for distinct
    * counting at 100 TB — the per-bucket max is a partial+final
    * aggregate, so the full pass never holds more than m=64 longs per
    * (source, partition).
    *
    * Built to replay bit-for-bit in SQL: the rank is the TRAILING-zero
    * count extracted arithmetically (w & −w — no log2 anywhere), each
    * harmonic term 2^−ρ is the dyadic 0.5/lowbit, the harmonic sum
    * folds bucket-sorted, and only the small-range correction touches
    * ln (quantized at 1e4 fixed point like t09). */
  def t11_hll_cardinality(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val m = 64
    // r18 measured negative: caching occ for its two consumers REGRESSED
    // 2.37→2.93 s at sf0.1 — materializing the exploded gram rows into
    // the block store costs more than re-running the native kernel
    // explode from the (tiny) parquet twice. Left lazy deliberately.
    val occ = Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.plans.Gram4HashSet(col("text"))).as("hv"))
      .distinct()
    val mx = occ
      .select(col("source"), (col("hv") % m).as("b"),
        ldiv(col("hv"), lit(m.toLong)).as("w"))
      .withColumn("lb", when(col("w") === 0, 0L)
        .otherwise(col("w").bitwiseAND(-col("w"))))
      .groupBy("source", "b").agg(max("lb").as("lb"))
    val grid = Tables.documents(s, dir).select("source").distinct()
      .withColumn("b", explode(sequence(lit(0L), lit(m - 1L))))
    val z = grid.join(mx, Seq("source", "b"), "left")
      .withColumn("term", when(col("lb").isNull || col("lb") === 0, 1.0)
        .otherwise(lit(0.5) / col("lb")))
      .withColumn("empty", when(col("lb").isNull, 1L).otherwise(0L))
      .groupBy("source")
      .agg(aggregate(array_sort(collect_list(struct(col("b"), col("term")))),
        lit(0.0), (a, x) => a + x.getField("term")).as("zsum"),
        sum("empty").as("v"))
    val est = z.withColumn("e0", lit(0.709 * m * m) / col("zsum"))
      .withColumn("e", when(col("e0") <= 2.5 * m && col("v") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
        .otherwise(col("e0")))
    occ.groupBy("source").agg(count(lit(1)).as("n_exact"))
      .join(est.select(col("source"), floor(col("e") * 1e4).cast("long")
        .as("hll_fp")), "source")
      .orderBy("source")
  }

  /** t12 — Count-Min sketch heavy hitters (Cormode & Muthukrishnan),
    * from scratch: a d=3 × w=512 counter grid over the token stream,
    * each row keyed by an independent 40-bit slice of the token's md5.
    * The top-20 exact-count tokens are reported next to their sketch
    * estimate, so the CMS overestimate (collisions only ever ADD) is
    * itself under the oracle.
    *
    * Scale shape: the sketch is the mergeable structure for frequency
    * estimation at 100 TB — the grid build is one partial+final count
    * aggregate whose state is at most d·w = 1536 cells per partition,
    * and the estimate probe joins a 20-row candidate set against the
    * 1536-row grid (broadcast). The exact top-20 pass exists only to
    * put the sketch error under the oracle; a production run keeps the
    * sketch and drops the exact count. */
  def t12_cms_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    val w = 512L
    val d = 3
    // row-j hash: hex digits [1+5j, 10+5j) of md5 — disjoint slices,
    // independent enough for the CMS min bound, replayable in SQL
    def hj(j: Int, c: Column): Column =
      conv(substring(md5(c.cast("binary")), 1 + 5 * j, 10), 16, 10)
        .cast("long") % w
    def probes(c: Column): Column = array((0 until d).map(j =>
      struct(lit(j).as("j"), hj(j, c).as("b"))): _*)
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
    val cells = toks.select(explode(probes(col("tok"))).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
    top.select(col("tok"), col("n_exact"), explode(probes(col("tok"))).as("jb"))
      .join(broadcast(cells),
        col("jb.j") === cells("j") && col("jb.b") === cells("b"))
      .groupBy("tok").agg(max("n_exact").as("n_exact"), min("c").as("cms_est"))
      .select(col("tok").as("token"), col("n_exact"), col("cms_est"))
      .orderBy(col("n_exact").desc, col("token").asc)
  }

  /** t13 — KMV (k-minimum-values) distinct sketch with set operations
    * (Bar-Yossef et al. / the DataSketches theta family): keep the k=64
    * smallest 60-bit 4-gram hashes per source; the kth value θ estimates
    * the distinct count as (k-1)·2^60/θ. Sketches MERGE by taking the
    * k smallest of the union of sketch values, which gives union
    * cardinality and — counting merged values present in both input
    * sketches — a Jaccard/intersection estimate. Exact counts ride along
    * so the sketch error itself is under the oracle.
    *
    * Scale shape: the k-min heap is [[graft.plans.TopKPerKey]], so each
    * input partition contributes ≤k rows per source to the exchange —
    * the sketch state is 512 bytes/source regardless of data volume,
    * and the union/intersection steps touch ONLY sketch rows (the
    * global estimates never rescan the corpus; that is the entire point
    * of a mergeable sketch at 100 TB). */
  def t13_kmv_distinct(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val theta2pow = 1.152921504606846976e18 // 2^60, hash range
    def estimate(kth: Column): Column =
      (lit((k - 1).toDouble) * lit(theta2pow)) / kth.cast("double")
    // r18 measured negative: caching tok for its 5 consumers (plus an
    // eager sketch checkpoint) REGRESSED 2.43→4.04 s at sf0.1 — the
    // exploded gram rows cost more to materialize than the native kernel
    // explode costs to re-run from the tiny parquet. Left lazy
    // deliberately (at 100 TB the sketch SHARDS would be persisted, not
    // the exploded corpus).
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(graft.plans.Gram4HashSet(col("text"))).as("hv"))
      .distinct()
    // per-source sketch: bounded-heap k-min (score = -hv ⇒ ascending hv).
    // The heap's ord is a double: rounding −hv to 53 bits is monotone, and
    // the exact long hv tie-break restores a total order, so the k-min
    // set is still exact.
    //
    // r19 (VERDICT item 8) measured NEGATIVES, both reverted:
    //  - cube("source") + countDistinct folding perSrc/unionAll into one
    //    grouping-sets pass REGRESSED 2.56 -> 4.37 s isolated (Expand
    //    doubles the shuffled rows and the (gid, source, hv) distinct
    //    aggregate costs more than the corpus explode it saves);
    //  - eagerly localCheckpoint'ing the tiny sketch was neutral-to-
    //    negative: all of t13's redundant subtrees run as PARALLEL
    //    stages of one noop job, so on an under-utilized 32-core box
    //    the recomputes are nearly free wall-clock while the checkpoint
    //    adds a serial barrier.
    // What SHIPPED is the one-pass exact intersection below (one corpus
    // subtree removed, no new barrier — neutral at sf0.1, one fewer
    // full pass at 100 TB).
    val sk = graft.plans.TopKPerKey(
        tok.withColumn("neg", (-col("hv")).cast("double")),
        Seq("source"), "neg", "hv", k)
      .select("source", "hv", "rank")
    val perSrc = tok.groupBy("source").agg(count(lit(1)).as("n_exact"))
      .join(sk.filter(col("rank") === k).select(col("source"), col("hv").as("kth")),
        "source")
      .select(col("source").as("scope"), col("n_exact"),
        floor(estimate(col("kth")) * lit(1e4)).cast("long").as("kmv_fp"))
    // union-of-all: merge the 20 sketches (k smallest of sketch values)
    val merged = sk.select("hv").distinct().orderBy("hv").limit(k)
      .agg(max("hv").as("kth"))
    val unionAll = tok.agg(countDistinct(col("hv")).as("n_exact"))
      .crossJoin(merged)
      .select(lit("__union_all").as("scope"), col("n_exact"),
        floor(estimate(col("kth")) * lit(1e4)).cast("long").as("kmv_fp"))
    // intersection src0 ∩ src1: merged k-min + membership in both sketches
    val skA = sk.filter(col("source") === "src0").select("hv")
    val skB = sk.filter(col("source") === "src1").select("hv")
    val ab = skA.union(skB).distinct().orderBy("hv").limit(k)
    val abStats = ab.join(skA.withColumnRenamed("hv", "ha"), col("hv") === col("ha"), "left_semi")
      .join(skB.withColumnRenamed("hv", "hb"), col("hv") === col("hb"), "left_semi")
      .agg(count(lit(1)).as("rho"))
      .crossJoin(ab.agg(max("hv").as("kth")))
    // exact intersection in ONE pass: tok is distinct (source, hv), so
    // an hv lives in both sources iff its filtered group has 2 rows —
    // replaces the 2-subtree intersect that re-derived tok twice
    val iExact = tok.filter(col("source").isin("src0", "src1"))
      .groupBy("hv").agg(count(lit(1)).as("nsrc"))
      .filter(col("nsrc") === 2L)
      .agg(count(lit(1)).as("n_exact"))
    val inter = iExact.crossJoin(abStats)
      .select(lit("__inter_src0_src1").as("scope"), col("n_exact"),
        floor((col("rho").cast("double") / lit(k.toDouble)) *
          estimate(col("kth")) * lit(1e4)).cast("long").as("kmv_fp"))
    perSrc.unionByName(unionAll).unionByName(inter).orderBy("scope")
  }

  /** t14 — Zipf frequency-rank curve over the corpus gram vocabulary:
    * document frequency at the doubling ranks 1, 2, 4, …, 512, with the
    * exact fixed-point ratio df(r)/df(2r) whose log2 is the local Zipf
    * exponent. Pure integer arithmetic end to end (counts, ranks, one
    * integer division) — no libm, so the oracle replay is exact by
    * construction, unlike a float least-squares fit. Global curve plus
    * one per source — the skew of this curve is the standard corpus
    * diagnostic for vocabulary collapse (template-heavy sources go
    * flat, diverse sources track s≈1).
    *
    * Scale shape: df is one hash groupBy over per-doc distinct grams;
    * the curve needs only ranks ≤1024, so ranking goes through the
    * bounded [[graft.plans.TopKPerKey]] operator (per-partition k-heaps,
    * partial → exchange → final, ≤k·partitions rows shuffled) instead of
    * a SinglePartition sort over the full vocabulary — the vocabulary is
    * bounded by the gram space, not the corpus, but at web scale that is
    * still 10⁷–10⁸ rows a global sort would funnel through one task. */
  def t14_zipf_curve(s: SparkSession, dir: String): DataFrame = {
    val ranks = (0 to 9).map(1L << _) // 1, 2, 4, ..., 512
    val occ = Tables.documents(s, dir)
      .select(col("source"), explode(graft.plans.Gram4HashSet(col("text"))).as("hv"))
    def curve(df: DataFrame, scope: Column, part: Seq[String]): DataFrame = {
      // TopKPerKey ranks by (ord DESC, tie ASC) — exactly the
      // row_number() order the oracle replays; max rank consumed is 1024.
      // The doc-frequency ord is a LONG and ranks exactly at any corpus
      // size (TopKPerKey compares long ords with no double mantissa cap).
      val keyed = if (part.isEmpty) df.withColumn("__scope", lit(0L)) else df
      val keys = if (part.isEmpty) Seq("__scope") else part
      val ranked = graft.plans.TopKPerKey(keyed, keys, "df", "hv", 1024)
        .filter(col("rank").isInCollection(ranks ++ ranks.map(_ * 2)))
      val a = ranked.select((part.map(col) :+ col("rank") :+ col("df")): _*)
      val b = ranked.select((part.map(col) :+ (col("rank") / 2).cast("long")
        .as("rank") :+ col("df").as("df2")): _*)
      a.join(b, part :+ "rank")
        .filter(col("rank").isInCollection(ranks))
        .select(scope.as("scope"), col("rank"), col("df"),
          graft.functions.KeyAlgebra.ldiv(col("df") * 1000000L, col("df2"))
            .as("ratio2_fp"))
    }
    // r18: the global df is the per-source df summed over sources
    // (identical counts — each (source, hv) row partitions occ), so the
    // global curve re-aggregates the per-source counts instead of paying
    // a second full gram-explode pass over the corpus. Caching perSrcDf
    // for its two consumers measured NEGATIVE (2.9 vs 2.4 s at sf0.1 —
    // the materialization outweighs one cheap kernel re-run); lazy
    // recompute deliberately.
    val perSrcDf = occ.groupBy("source", "hv").agg(count(lit(1)).as("df"))
    val globalDf = perSrcDf.groupBy("hv").agg(sum("df").as("df"))
    curve(globalDf, lit("__global"), Nil)
      .unionByName(curve(perSrcDf, col("source"), Seq("source")))
      .orderBy("scope", "rank")
  }

  /** t16 — BM25 keyword retrieval: top-10 documents per query over an
    * inverted postings index, the retrieval half of a RAG / data-curation
    * stack. The idf uses BM25's rational core (N − df + ½)/(df + ½)
    * WITHOUT the enclosing log: log is monotone, so per-term ranking is
    * unchanged, and dropping it keeps every arithmetic step an
    * IEEE-exact +/−/×/÷ that the DuckDB oracle replays bit-for-bit (libm
    * log is not cross-engine reproducible in the last ulp). Per-term
    * contributions are floored to 1e-6 fixed point BEFORE the per-doc
    * sum, so the sum is an order-independent exact integer.
    *
    * Scale shape: the query-term table broadcasts into the posting scan,
    * so only postings of query terms ever leave the scan — at 100 TB the
    * corpus pass is one explode + map-side-combined groupBy(term, doc),
    * and df for the handful of query terms is an aggregate over that
    * already-filtered posting set, not a full-vocabulary pass. Document
    * length rides the explode (no doc-side join), corpus stats are one
    * broadcast 1-row aggregate, and the final ranking is the bounded
    * [[graft.plans.TopKPerKey]] heap — ≤ k rows per query per partition
    * reach the exchange, never the full score list. */
  /** Shared by t16 (retrieval) and c08 (ranking eval). */
  private[operators] val bm25QueryTerms: Seq[(Long, String)] = Seq(
    (0L, "spark"), (0L, "join"), (0L, "merge"),
    (1L, "table"), (1L, "scan"), (1L, "fast"), (1L, "slow"),
    (2L, "key"), (2L, "hash"), (2L, "value"),
    (3L, "window"), (3L, "sort"), (3L, "batch"),
    (4L, "row"), (4L, "line"), (4L, "part"),
    (5L, "query"), (5L, "order"), (5L, "the"))

  def t16_bm25_topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qterms = bm25QueryTerms.toDF("q_id", "term")
    // dl rides the explode so no doc-length join is needed later
    val post = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    val dfT = post.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("tot"))
    val scored = post
      .join(broadcast(dfT), "term")
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("tot").cast("double") / col("n_docs").cast("double"))
      // k1 = 1.2, b = 0.75 (so 1−b = 0.25, k1+1 = 2.2); parenthesization
      // mirrored EXACTLY in the oracle so every double matches
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("num", col("tf").cast("double") * lit(2.2))
      .withColumn("den", col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
      .withColumn("c_fp",
        floor(col("idf") * (col("num") / col("den")) * lit(1e6)).cast("long"))
    val score = scored.groupBy("q_id", "doc_id")
      .agg(sum("c_fp").as("score_fp"), count(lit(1)).as("n_terms_hit"))
    graft.plans.TopKPerKey(score, Seq("q_id"), "score_fp", "doc_id", 10)
      .select("q_id", "rank", "doc_id", "score_fp", "n_terms_hit")
      .orderBy("q_id", "rank")
  }

  /** t17 — mergeable quantile sketch (HDR-histogram family): per-event-
    * type p50/p90/p99/p99.9 from a power-of-two histogram with 5
    * significant bits (values bucketed to ~3% relative error). The
    * sketch state is the bucket-count map — bounded by the VALUE DOMAIN
    * (≤ 32·64 buckets), not the row count, and merges by addition, so
    * the whole quantile computation is one map-side-combined groupBy at
    * any scale; the cumulative walk + quantile pick run over the tiny
    * bucket table. This is the missing member of the sketch family next
    * to t11 HLL / t12 CMS / t13 KMV: distributed percentiles without a
    * global sort (Spark's percentile_approx is the same idea with an
    * opaque, non-replayable state).
    *
    * Determinism: bucketing is pure integer bit arithmetic (floor-log2
    * via bin-string length, truncating shifts) on cents longs from one
    * shared IEEE multiply+floor; the quantile target uses ceil in exact
    * integers. Every step replays in DuckDB. */
  def t17_hdr_quantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = Tables.events(s, dir)
      .select(col("event_type"), floor(col("value") * lit(100)).cast("long").as("v"))
      .withColumn("idx", expr(
        """CASE WHEN v < 32 THEN v ELSE
             (length(bin(v)) - 1) * 32 + (shiftright(v, length(bin(v)) - 6) - 32)
           END"""))
      .groupBy("event_type", "idx").agg(count(lit(1)).as("cnt"))
    import org.apache.spark.sql.expressions.Window
    // bounded window: ≤ 2048 bucket rows per type regardless of volume
    val cum = hist.withColumn("cum", sum("cnt").over(
        Window.partitionBy("event_type").orderBy("idx")))
      .join(hist.groupBy("event_type").agg(sum("cnt").as("n")), "event_type")
    val spec = Seq(("p50", 1L, 2L), ("p90", 9L, 10L),
      ("p99", 99L, 100L), ("p999", 999L, 1000L)).toDF("q_label", "qn", "qd")
    cum.crossJoin(broadcast(spec))
      .filter(col("cum") >= expr("(n * qn + qd - 1) div qd"))
      .groupBy("event_type", "q_label")
      .agg(min("idx").as("idx"), first("n").as("n"))
      .withColumn("q_lb", expr(
        """CASE WHEN idx < 32 THEN idx
           ELSE shiftleft(idx % 32 + 32, CAST(idx div 32 AS INT) - 5) END"""))
      .select("event_type", "q_label", "n", "idx", "q_lb")
      .orderBy("event_type", "q_label")
  }

  /** t18 — per-document keyword extraction by TF-IDF: top-3 terms per
    * doc under score = tf · N / df (the raw-frequency-ratio IDF variant:
    * integer product then ONE IEEE division, which is correctly rounded
    * and therefore bit-identical across engines — a log-based IDF would
    * hash-compare at the mercy of libm ulps). Terms under 4 chars are
    * dropped as stopword-ish.
    *
    * Scale shape: tf is one map-side-combined groupBy(doc, term); df
    * reduces THAT result (already one row per (doc,term)), so the
    * vocabulary pass reads the aggregated table, not the token stream.
    * The df join shuffles on term — at 100 TB the vocabulary does not
    * broadcast, and term is near-uniform (no skew salt needed). Top-3 is
    * a per-doc row_number over ≤ doc-length rows; a corpus with
    * million-term docs would swap in the bounded [[graft.plans.TopKPerKey]]
    * heap exactly as t14/t16 do. */
  def t18_tfidf_keywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(filter(tokens(col("text")), t => length(t) >= 4)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    // df as a count over the term partition: ONE pass over the (doc,
    // term) table — a tf⋈groupBy(tf) self-join would re-run the token
    // explode for each reference
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** Shared integer log2 LUT: entLut(k) = floor(log2(k)·2^20), k ≤ 2048.
    * Computed ONCE here and embedded verbatim into BOTH the Spark plan
    * (lit array) and the DuckDB oracle text (interpolated literal), so
    * the irrational log never crosses an engine boundary — the engines
    * compare pure integer arithmetic against the same table. */
  private val EntLutSize = 2048
  private val entLut: Array[Long] = Array.tabulate(EntLutSize + 1)(k =>
    if (k < 1) 0L
    else math.floor(math.log(k) / math.log(2) * 1048576.0).toLong)

  /** t19 — character-entropy quality scoring (the gibberish /
    * low-information filter: natural text sits near ~4 bits/char, pad
    * runs and binary junk fall out at the extremes). Exact-integer
    * entropy: H·L·2^20 = Σ_c cnt_c·(LUT[L] − LUT[cnt_c]) over the
    * shared [[entLut]], then per-char ent_fp = that // L — deterministic
    * to the bit with no libm in either engine. Docs longer than the LUT
    * raise loudly (the morton-guard convention) instead of clamping
    * silently; current corpus max is ~600 chars, the LUT holds 2048.
    *
    * Scale shape: one scan-parallel projection — per-doc distinct-char
    * counts via replace-length HOFs (O(distinct·len) per row, no
    * explode), zero shuffles before the output sort. */
  def t19_char_entropy(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .withColumn("lut", lit(entLut))
      .withColumn("guard", when(col("len") > EntLutSize, raise_error(concat(
        lit(s"t19: doc length exceeds entropy LUT ($EntLutSize): "),
        col("len").cast("string"))).cast("long")).otherwise(lit(0L)))
      .withColumn("cnts", expr(
        """transform(array_distinct(split(text, '')),
           ch -> length(text) - length(replace(text, ch, '')))"""))
      .withColumn("ent_num", col("guard") + expr(
        """aggregate(cnts, 0L, (acc, c) -> acc +
           c * (element_at(lut, len + 1) - element_at(lut, c + 1)))"""))
      .select(col("doc_id"), col("len").cast("long").as("len"),
        size(col("cnts")).cast("long").as("n_distinct"),
        when(col("len") === 0, lit(0L))
          .otherwise(graft.functions.KeyAlgebra.ldiv(col("ent_num"), col("len")))
          .as("ent_fp"))
      .orderBy("doc_id")
  }

  /** t20 — the CHARACTER-share half of the Gopher/MassiveText
    * repetition rules (Rae et al. 2021, table A1), complementing t07's
    * count-based stats (type-token ratio, top word/bigram OCCURRENCE
    * shares): Gopher's thresholds for n-gram rules are over the
    * fraction of CHARACTERS the repetition covers, which weights long
    * repeated grams correctly. Three exact integer signals per
    * document —
    *
    *  - duplicate-word fraction: 1 − |distinct words| / |words|;
    *  - duplicate-3-gram fraction over word trigrams (t07 stops at
    *    bigrams);
    *  - top-2-gram character share: occurrences of the most frequent
    *    word bigram × its character length, over the document's
    *    characters —
    *
    * all at 1e-6 fixed point, and a keep decision at the published
    * thresholds (drop when dup-words ≥ 0.30, top-2-gram char share
    * ≥ 0.20, or dup-3-grams ≥ 0.60).
    *
    * Scale shape: ENTIRELY per-row — one native codegen pass per
    * document ([[graft.plans.RepetitionCharStats]], the t07 kernel
    * pattern; a Catalyst HOF fold over the bigram array computed the
    * same numbers but higher-order functions are CodegenFallback, and
    * the interpreted per-element struct state cost 17 s at sf0.1 vs
    * ~1 s native) — so no (doc, gram) row ever reaches a shuffle; at
    * 100 TB this is scan-speed like t01. The oracle replays the
    * statistic the relational way (unnest + group + rank), proving the
    * kernel against an independent formulation. */
  def t20_repetition_filter(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    // [nWords, nDistinctWords, n3grams, nDistinct3, topBiCnt, topBiChars]
    Tables.documents(s, dir)
      .withColumn("st", graft.plans.RepetitionCharStats(col("text")))
      .select(col("doc_id"), col("n_chars"),
        element_at(col("st"), 1).as("n_words"),
        element_at(col("st"), 2).as("ndw"),
        element_at(col("st"), 3).as("n3"),
        element_at(col("st"), 4).as("nd3"),
        element_at(col("st"), 5).as("top2_cnt"),
        element_at(col("st"), 6).as("top2_chars"))
      .withColumn("dupword_fp",
        ldiv((col("n_words") - col("ndw")) * 1000000L, col("n_words")))
      .withColumn("dup3_fp", when(col("n3") === 0L, 0L).otherwise(
        ldiv((col("n3") - col("nd3")) * 1000000L, col("n3"))))
      .withColumn("top2_fp",
        ldiv(col("top2_cnt") * col("top2_chars") * 1000000L, col("n_chars")))
      .withColumn("kept", col("dupword_fp") < 300000L &&
        col("top2_fp") < 200000L && col("dup3_fp") < 600000L)
      .select("doc_id", "n_words", "dupword_fp", "dup3_fp", "top2_cnt",
        "top2_fp", "kept")
      .orderBy("doc_id")
  }

  /** t21 — hashed-feature linear quality classifier INFERENCE (the
    * fastText / CCNet-classifier shape: documents scored by a linear
    * model over hashed bag-of-words + bag-of-bigram features, then
    * thresholded into keep/drop — the way production corpora run a
    * trained quality classifier over every document at ingest).
    *
    * Features are all word unigrams plus all adjacent word bigrams
    * (`w1_w2`); each hashes through the portable 60-bit md5 hash into
    * one of 4096 buckets, and the "trained" weight vector is generated
    * from the bucket id by a Knuth multiplicative mix
    * (`(bucket·2654435761) mod 2^31 − 2^30`, i.e. fixed-point in
    * [−2^30, 2^30)) so BOTH engines materialize the identical model
    * without shipping a weights file. score_num = Σ weight(feature)
    * (exact integer), score_fp = score_num ÷ n_feat (truncating
    * integral division — Spark IntegralDivide and DuckDB `//` both
    * truncate toward zero), keep = score_num ≥ 0.
    *
    * Scale shape: ENTIRELY per-row — the bigram array comes from a
    * zip_with over two slices (no explode), the score is one arithmetic
    * fold; no shuffle before the output sort, so at 100 TB this runs at
    * scan speed like t01. A real model swaps the weight mix for a
    * broadcast `lit(weights)` array lookup — same plan shape. */
  def t21_quality_classifier(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val B = 4096
    def weight(h: Column): Column =
      (h % B) * 2654435761L % 2147483648L - 1073741824L
    Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      // zip_with over slices: size<2 yields empty slices -> empty bigrams
      // (sequence(1, size-1) would descend for size=1 and crash element_at)
      .withColumn("bigrams", zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit("_"), b)))
      .withColumn("feats", concat(col("toks"), col("bigrams")))
      .select(col("doc_id"),
        size(col("feats")).cast("long").as("n_feat"),
        aggregate(transform(col("feats"), f => weight(md5Long60(f))),
          lit(0L), (a, w) => a + w).as("score_num"))
      .withColumn("score_fp", ldiv(col("score_num"), col("n_feat")))
      .withColumn("keep", (col("score_num") >= 0L).cast("long"))
      .orderBy("doc_id")
  }

  /** t22 — distributed BPE tokenizer TRAINING (the merge-learning loop,
    * not t04's pre-merge segmentation): 4 rounds of the byte-pair
    * algorithm over the corpus vocabulary — count adjacent symbol pairs
    * weighted by word frequency, pick the most frequent pair
    * (lexicographic tie-break), merge it everywhere, repeat. Output is
    * the learned merge table (rank, pair, merged symbol, pair count) —
    * the artifact a tokenizer ships.
    *
    * Merge application is the space-joined string rewrite: a word's
    * segmentation is `' s1 s2 … '` and applying (a,b) is one
    * `replace(' a b ', ' ab ')` — non-overlapping left-to-right with
    * boundary spaces CONSUMED, which both engines implement
    * identically. (On runs of identical symbols this merges a subset of
    * what textbook leftmost-greedy BPE would — e.g. `a a a a` becomes
    * `[aa, a, aa... ]` pattern-dependent — a deterministic,
    * engine-identical deviation, documented rather than papered over;
    * an exact-greedy kernel would need lookahead, which DuckDB's RE2
    * lacks.)
    *
    * Scale shape: the heavy reduction is `groupBy(word)` over the
    * corpus — ONE map-combined shuffle, after which every round runs on
    * the distinct-vocabulary table (orders of magnitude smaller; this
    * is why production BPE trainers all start with a word-count pass).
    * Each round is a scan-parallel pair explode + map-combined
    * groupBy(pair) + a 1-row argmax to the driver (the merge decision
    * is inherently sequential) + one scan-parallel replace, each
    * generation filled and cut by [[graft.core.Fixpoint.iterate]] like
    * p17's fixed-point rounds. */
  def t22_bpe_train(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, merges) = bpeTrain(s, dir)
    merges.toDF("rank", "lsym", "rsym", "merged", "pair_cnt")
      .orderBy("rank")
  }

  /** The 4-round merge-learning loop shared by t22 (which ships the
    * merge table) and t30 (which applies the trained segmentation):
    * returns the word-vocabulary frame with its post-merge `seg`
    * column alongside the learned merges. Memoized per (session, dir),
    * so a sweep that runs both trains once. */
  private def bpeTrain(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) =
    graft.core.SessionMemo.memoize(s, "text:" + dir + ":bpeTrain") { bpeTrain0(s, dir) }

  private def bpeTrain0(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) = {
    val vocab = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("seg", concat(lit(" "),
        array_join(split(col("w"), ""), " "), lit(" ")))
    var merges = Vector.empty[(Long, String, String, String, Long)]
    val words = Fixpoint.iterate(vocab, 4) { words =>
      val syms = split(trim(col("seg")), " ")
      val best = words
        .select(col("cnt"), explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r")).head()
      val (l, r, pc) = (best.getString(0), best.getString(1), best.getLong(2))
      merges :+= ((merges.size + 1L, l, r, l + r, pc))
      words.withColumn("seg", org.apache.spark.sql.functions.replace(
        col("seg"), lit(s" $l $r "), lit(s" $l$r ")))
    }
    (words, merges)
  }

  /** t30 — BPE ENCODE: apply the t22-trained segmentation to every
    * document and report the numbers a token-budget planner actually
    * consumes — per-doc word count, SUBWORD token count, character
    * count and the chars-per-subtoken compression ratio (the
    * "fertility" figure every tokenizer eval prints). Training and
    * encoding share one artifact: the word-vocabulary frame already
    * holds each word's post-merge segmentation, so encoding is a join,
    * not a per-document re-run of the merge rules — exactly how a
    * production tokenizer applies a frozen vocab at corpus scale.
    *
    * Scale shape: the trainer's one map-combined groupBy(word) pass,
    * then documents explode → hash join to the vocabulary on the word
    * key → per-doc map-combined aggregate. The vocabulary is
    * Heaps-law-bounded (≪ corpus rows) but unbounded in absolute
    * terms, so the join stays a shuffle join rather than assuming
    * broadcastability; nothing all-pairs, nothing driver-side beyond
    * t22's four 1-row argmaxes. */
  def t30_bpe_encode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val (words, _) = bpeTrain(s, dir)
    val vocab = words.select(col("w"),
      size(split(trim(col("seg")), " ")).cast("long").as("n_sub"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(vocab, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(col("n_sub")).as("n_subtokens"))
      .withColumn("fertility_fp",
        ldiv(col("n_chars") * 1000000L, col("n_subtokens")))
      .orderBy("doc_id")
  }

  /** Min-cost (Viterbi) segmentation of one word under an integer
    * piece-cost table; pieces are 1..4 chars, single chars always
    * present. Ties break to the SHORTEST piece (ascending k with a
    * strict improve — the oracle's CASE order mirrors this). */
  private[operators] def viterbiSeg(w: String, cost: Map[String, Long]): Seq[String] = {
    val n = w.length
    if (n == 0) return Nil
    val mx = Long.MaxValue / 4
    val dp = Array.fill(n + 1)(mx)
    dp(0) = 0L
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var k = 1
      while (k <= math.min(4, i)) {
        val c = cost.getOrElse(w.substring(i - k, i), mx)
        if (c < mx && dp(i - k) + c < dp(i)) {
          dp(i) = dp(i - k) + c
          back(i) = k
        }
        k += 1
      }
      i += 1
    }
    val acc = scala.collection.mutable.ListBuffer.empty[String]
    var p = n
    while (p > 0) {
      val k = back(p)
      acc.prepend(w.substring(p - k, p))
      p -= k
    }
    acc.toList
  }

  /** t31 — UNIGRAM-LM tokenizer training (round-14 verdict item 7, the
    * SentencePiece-style companion to t22's BPE): init a VOCAB-BOUNDED
    * candidate set (every 1-char piece plus the top-48 substrings of
    * length 2–4 by corpus frequency), freeze each piece's score as the
    * INTEGER cost ⌊total_chars·10⁶ / freq⌋ (the scaled inverse
    * unigram probability — no floating log anywhere, so the prune
    * decisions replay exactly in both engines), then one fixed EM
    * round: the E-step Viterbi-segments every word under the frozen
    * costs and counts piece usage, the M-step keeps the top-24
    * multi-char pieces by (usage, freq, piece) and re-segments. The
    * output ships the kept vocabulary with its training statistics
    * plus the corpus token counts before and after the prune — the
    * compression figure a tokenizer eval reads.
    *
    * Scale shape: three scan-parallel passes over the word-vocabulary
    * frame (candidate counting, E-step, final segmentation), each a
    * flatMap + map-combined aggregate; the candidate top-K is a bounded
    * TakeOrdered, the vocabulary and usage tables the driver touches
    * are vocab-bounded (≤ 48 + alphabet rows) and broadcast back. The
    * per-word Viterbi is O(len·4) against the broadcast map — at
    * 100 TB the words frame is Heaps-bounded and the DP never leaves
    * the executor. The oracle replays the forward DP and the
    * backtrack as recursive CTEs whose depth is the longest WORD, not
    * the corpus size (the m35 recursion discipline). */
  /** The trained unigram model shared by t31 (training statistics) and
    * t32 (corpus encode): the kept multi-char pieces with their
    * training stats, the frozen integer piece costs after the prune,
    * and the corpus token totals under v0/v1. Memoized per (session,
    * dir) — the t31/t32 pair pays the three training passes once. */
  private[operators] final case class UnigramModel(
      totalChars: Long, tokensV0: Long, tokensV1: Long,
      kept: Seq[(String, Long, Long)], costs1: Map[String, Long])

  private[operators] def unigramModel(s: SparkSession,
      dir: String): UnigramModel =
    graft.core.SessionMemo.memoize(s, "unigram:" + dir) {
      import s.implicits._
      val words = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // reused by three passes
      val totalChars = words
        .agg(sum(length(col("w")).cast("long") * col("cnt"))).head().getLong(0)
      val cand = words.as[(String, Long)]
        .flatMap { case (w, cnt) =>
          (1 to math.min(4, w.length)).iterator.flatMap(l =>
            (0 to w.length - l).iterator.map(i => (w.substring(i, i + l), cnt)))
        }
        .toDF("piece", "c").groupBy("piece").agg(sum("c").as("freq"))
        .localCheckpoint()
      val singles = cand.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq // alphabet
      val multi0 = cand.filter(length(col("piece")) >= 2)
        .orderBy(col("freq").desc, col("piece")).limit(48)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      def costs(vocab: Seq[(String, Long)]): Map[String, Long] =
        vocab.map { case (p, f) => p -> totalChars * 1000000L / f }.toMap
      // E-step: Viterbi under the frozen v0 costs, usage map-combined
      val bc0 = s.sparkContext.broadcast(costs(singles ++ multi0))
      val usageRows = words.as[(String, Long)]
        .flatMap { case (w, cnt) => viterbiSeg(w, bc0.value).map((_, cnt)) }
        .toDF("piece", "u").groupBy("piece").agg(sum("u").as("usage"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // <= |v0|
      val tokensV0 = usageRows.values.sum
      // M-step prune: keep the top-24 multi-char pieces; scores are
      // integers, so this ordering replays exactly in the oracle
      val kept = multi0
        .map { case (p, f) => (p, f, usageRows.getOrElse(p, 0L)) }
        .sortBy { case (p, f, u) => (-u, -f, p) }
        .take(24)
      val costs1 = costs(singles ++ kept.map(k => (k._1, k._2)))
      val bc1 = s.sparkContext.broadcast(costs1)
      val tokensV1 = words.as[(String, Long)]
        .map { case (w, cnt) => viterbiSeg(w, bc1.value).length * cnt }
        .toDF("t").agg(sum("t")).head().getLong(0)
      UnigramModel(totalChars, tokensV0, tokensV1, kept, costs1)
    }

  def t31_unigram_train(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = unigramModel(s, dir)
    val totalChars = m.totalChars
    val tokensV0 = m.tokensV0
    val tokensV1 = m.tokensV1
    val keptRows = m.kept.zipWithIndex.map { case ((p, f, u), i) =>
      (i + 1L, p, f, u)
    }
    (Seq((-2L, "<tokens_v1>", totalChars, tokensV1),
      (-1L, "<tokens_v0>", totalChars, tokensV0)) ++ keptRows)
      .toDF("rank", "piece", "freq", "usage")
      .orderBy("rank")
  }

  /** t32 — corpus ENCODE under the trained unigram LM (the serving
    * half of t31, as t30 is to t22's BPE): every document is segmented
    * by the same per-word Viterbi under the frozen post-prune integer
    * costs, and the output is the per-source data-card row a tokenizer
    * eval reads — document count, unigram token count, character
    * count, and the fixed-point chars-per-token compression ratio.
    * The source totals must tie out to t31's corpus-wide
    * `<tokens_v1>` figure (pinned by UnigramTrainSpec).
    *
    * Scale shape: ONE scan-parallel pass over documents — the DP runs
    * per word occurrence against the broadcast cost map (O(len·4),
    * never leaves the executor; the map is alphabet + 24 pieces), and
    * the only shuffle is the final source-bounded aggregate. Training
    * is the memoized [[unigramModel]], paid once across t31/t32. */
  def t32_unigram_encode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    import s.implicits._
    val bc = s.sparkContext.broadcast(unigramModel(s, dir).costs1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .map { case (_, src, text) =>
        var toks = 0L
        var chars = 0L
        text.split(" ", -1).foreach { w =>
          toks += viterbiSeg(w, bc.value).length
          chars += w.length
        }
        (src, toks, chars)
      }
      .toDF("source", "toks", "chars")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"),
        sum("chars").as("n_chars"))
      .withColumn("chars_per_tok_fp",
        ldiv(col("n_chars") * 1000000L, greatest(col("n_tokens"), lit(1L))))
      .orderBy("source")
  }

  /** t33 — HTML→text extraction features (the crawl→corpus step between
    * qn20's WARC walk and every other t-family operator): each document
    * is rendered into its deterministic synthetic page
    * ([[graft.sources.Html.synth]] — title, style and script elements, a
    * markup-bearing comment, entity-escaped body text) and run through
    * the from-spec extractor ([[graft.sources.Html.extractText]]:
    * comment/script/style dropped with content, tags become separators,
    * entities decoded AFTER tag handling, whitespace collapsed). The
    * features are the char/token counts plus head/tail slices of the
    * extracted text, so the hash covers the extraction end-to-end.
    *
    * The oracle reconstructs the EXPECTED extracted text in SQL —
    * `Doc {id} Document {id} {text} source "{source}" & lang {lang}`,
    * whitespace-collapsed — an independent formulation: a broken entity
    * decode, a comment leaking into text, or a script body surviving
    * extraction all change the extracted string and break the hash.
    * (The `&#68;ocument` heading pins numeric-entity decode; the `&amp;`
    * and `&quot;` literals pin the named decode path.)
    *
    * Scale shape: pure per-row string work in one scan-parallel
    * mapPartitions — no shuffle before the output sort; at 100 TB this
    * runs at scan speed like the media decoders. */
  def t33_html_extract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Html
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)]
      .mapPartitions { it =>
        it.map { case (id, lang, source, text) =>
          val t = Html.extractText(Html.synth(id, lang, source, text))
          val nTok = if (t.isEmpty) 0L else (t.count(_ == ' ') + 1).toLong
          (id, t.length.toLong, nTok, t.take(64), t.takeRight(32))
        }
      }
      .toDF("doc_id", "n_chars", "n_tokens", "head64", "tail32")
      .orderBy("doc_id")
  }

  /** The t34 feature hash — ONE function serves training and inference
    * (the t22→t30 train/serve-consistency rule, pinned by NbTrainSpec):
    * a token's hashed bucket in [0, 1024). */
  private[operators] val NbBuckets = 1024
  private[operators] def nbFeat(tok: Column): Column =
    pmod(md5Long60(tok), lit(NbBuckets.toLong))

  /** t34 — quality/langid classifier TRAINING in-corpus (the gap t21
    * leaves: t21 scores with GIVEN weights; production pipelines train
    * the model on their own corpus). Multinomial naive Bayes with add-1
    * smoothing over [[nbFeat]]-hashed token unigrams: the TRAIN split
    * (doc_id % 5 ≠ 0) yields the closed-form model — per-(class,
    * feature) token counts, per-class token totals and doc counts, all
    * exact integers the oracle replays — and the HELD-OUT split
    * (doc_id % 5 = 0) is scored with
    * score(d,c) = ln(n_docs_c) + Σ_f tf_f·ln(cnt_fc+1) − n_tok_d·ln(tot_c+B)
    * (the shared −ln(n_train) prior denominator cancels across classes
    * and is dropped; absent features contribute ln(0+1) = 0, so only
    * present (feat, class) pairs ever join). Scores are floor-quantized
    * at 1e4 (the t09/t15 ln discipline — the only irrational step) and
    * the argmax tie-breaks on class name. Evaluation is the exact c07
    * machinery ([[ClusterQueries.prf1Eval]]): per-class P/R/F1 plus the
    * ~macro row.
    *
    * Scale shape: the model is a groupBy over the train scan (map-side
    * combined, ≤ classes×B rows — broadcast); scoring is one broadcast
    * join from test features plus a per-doc window for the argmax
    * (hash-partitioned by doc_id, no single-task stage). At 100 TB the
    * train pass is scan-bound and the model stays kilobytes. */
  def t34_nb_train(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)
    def feats(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("tok"))
        .withColumn("feat", nbFeat(col("tok")))
    // the closed-form NB model: exact integer counts
    val model = feats(train).groupBy("lang", "feat")
      .agg(count(lit(1)).as("cnt"))
    val cls = feats(train).groupBy("lang")
      .agg(count(lit(1)).as("tot"),
        countDistinct(col("doc_id")).as("n_docs"))
    val testTf = feats(test).groupBy("doc_id", "feat")
      .agg(count(lit(1)).as("tf"))
    val testLen = testTf.groupBy("doc_id").agg(sum("tf").as("n_tok"))
    val hit = testTf.join(broadcast(model), Seq("feat"))
      .groupBy(col("doc_id"), col("lang").as("cand"))
      .agg(sum(col("tf") * log(col("cnt") + lit(1.0))).as("h"))
    val scored = test.select(col("doc_id"), col("lang").as("actual_lang"))
      .join(testLen, Seq("doc_id")) // inner: every doc has >= 1 token
      .crossJoin(broadcast(cls.select(col("lang").as("cand"),
        col("tot"), col("n_docs"))))
      .join(hit, Seq("doc_id", "cand"), "left")
      .withColumn("score_fp", floor((log(col("n_docs").cast("double")) +
          coalesce(col("h"), lit(0.0)) -
          col("n_tok").cast("double") *
            log(col("tot").cast("double") + lit(NbBuckets.toDouble))) * 1e4)
        .cast("long"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_fp").desc, col("cand").asc)
    ClusterQueries.prf1Eval(scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("actual_lang"), col("cand").as("pred_lang")))
  }

  /** t36 — boilerplate BLOCK classification (the jusText/readability
    * step between t33's whole-page extraction and a clean corpus: real
    * crawl pages bury the content between nav bars, related-links rails
    * and footers). Each document renders into its chrome-bearing page
    * ([[graft.sources.Html.synthChrome]]), [[graft.sources.Html.blockStats]]
    * segments it at block-level tags and accounts per block (visible
    * chars, anchor chars), and the keep-rule is integer-exact link
    * density: a block is CONTENT iff 2·link_chars < text_chars — no
    * float division anywhere. Output per doc: block counts and the
    * content/boilerplate char split.
    *
    * The oracle replays the expected books from the template structure:
    * the three chrome blocks are constants (nav 15, related 22, footer
    * 24 — all link-heavy, all classified boilerplate), title and h1 are
    * `Doc {id}`, and the paragraph is the collapsed document text
    * (absent when empty). A segmentation bug, an anchor leak across
    * blocks, or a density-rule slip shifts the books.
    *
    * Scale shape: pure per-row string work, one scan-parallel
    * mapPartitions, no shuffle before the output sort (t33's shape). */
  def t36_boilerplate_blocks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Html
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bs = Html.blockStats(Html.synthChrome(id, text))
          val (content, boiler) = bs.partition { case (t, l) => 2 * l < t }
          (id, bs.size.toLong, content.size.toLong,
            content.map(_._1.toLong).sum, boiler.map(_._1.toLong).sum)
        }
      }
      .toDF("doc_id", "n_blocks", "n_content", "content_chars", "boiler_chars")
      .orderBy("doc_id")
  }

  /** t37 — UTF-8 validation/repair books (the encoding-sanitation step
    * between raw crawl bytes and every string operator: real dumps
    * carry truncated sequences, stray continuations, overlongs and
    * surrogate encodings, and the pipeline must repair them
    * deterministically — one U+FFFD per maximal invalid subpart — not
    * crash or silently mangle). Each document's byte stream is the
    * ASCII text plus two deterministic suffixes: `doc_id % 5 == 0`
    * appends a VALID multibyte probe (2-, 3- and 4-byte codepoints:
    * é € 😀 — 9 bytes, 3 codepoints), `doc_id % 7 == 0` appends an
    * INVALID tail chosen by `doc_id % 3` (lone C3 lead → 1 repair;
    * two stray continuations → 2; truncated 3-byte E2 82 → 1). The
    * from-spec decoder ([[graft.sources.Utf8]], the WHATWG state
    * machine) books bytes, output codepoints and repairs per doc; the
    * oracle replays the books as closed-form doc_id arithmetic, so a
    * decoder that over- or under-repairs any class breaks the hash.
    *
    * Scale shape: pure per-row byte work in one scan-parallel
    * mapPartitions, no shuffle before the output sort. */
  def t37_utf8_sanitize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Utf8
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val validProbe = Array(0xC3, 0xA9, 0xE2, 0x82, 0xAC,
          0xF0, 0x9F, 0x98, 0x80).map(_.toByte) // é € 😀
        it.map { case (id, text) =>
          // byte books require one byte per char on the base text
          require(text.forall(_ < 128),
            s"doc $id: non-ASCII char — base bytes would diverge from chars")
          val base = text.getBytes("US-ASCII")
          val valid = if (id % 5 == 0) validProbe else Array.empty[Byte]
          val bad: Array[Byte] =
            if (id % 7 == 0) (id % 3) match {
              case 0 => Array(0xC3.toByte) // truncated 2-byte lead
              case 1 => Array(0x80.toByte, 0x80.toByte) // stray continuations
              case _ => Array(0xE2.toByte, 0x82.toByte) // truncated 3-byte
            } else Array.empty[Byte]
          val bytes = base ++ valid ++ bad
          val (cps, repl) = Utf8.decodeStats(bytes)
          (id, bytes.length.toLong, cps.toLong, repl.toLong)
        }
      }
      .toDF("doc_id", "n_bytes", "n_chars", "n_repl")
      .orderBy("doc_id")
  }

  /** t23 — corpus n-gram novelty: for every document, the share of its
    * DISTINCT token-5-grams whose first corpus occurrence (min doc_id
    * over all holders) is this document — the redundancy-curve signal
    * data curation reads to decide when a source is "mined out"
    * (novelty falling toward 0 as a crawl re-sees the same text), and
    * the per-document complement of d15's duplicated-span coverage.
    *
    * Scale shape: the inverted-index pattern — grams hashed to 8-byte
    * longs ([[md5Long60]], the d15 idiom) so the gram exchange moves
    * fixed-width keys, one groupBy(g).min(doc_id) builds the first-seen
    * index, and the join back re-uses the same hash partitioning on g
    * (no second shuffle shape). Nothing is ever all-pairs; posting
    * lists never materialize beyond the (g, first_doc) pair. */
  def t23_ngram_novelty(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    // r18: the existing p02 kernel computes exactly this column — the
    // value-distinct md5Long60 of the token 5-grams (explode order is
    // irrelevant downstream; <5-token docs yield the empty set = the
    // old filter). Replaces an interpreted md5 chain per gram.
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.plans.Gram5TokenHashSet(col("text"))).as("g"))
    val first = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_fp", ldiv(col("n_novel") * 1000000L, col("n_grams")))
      .orderBy("doc_id")
  }

  /** t24 — winsorized corpus statistics: per-source mean document
    * length with the tails clipped at the corpus-global p1/p99 — the
    * robust version of every data-card number (one 10M-token scrape
    * artifact otherwise drags a source's mean by orders of magnitude).
    * The clip bounds come from t17's HDR value-domain sketch (≤ 2048
    * log-linear buckets), NOT from a global sort: the sketch is
    * mergeable, so the bounds are computable in one partial+final pass
    * at any scale, and both engines resolve identical bucket
    * lower-bounds — exact integer agreement, no quantile
    * interpolation ambiguity.
    *
    * Scale shape: pass 1 builds the bounded histogram (map-side
    * combined, ≤ 2048 rows — the cum window runs over the SKETCH, never
    * the data); pass 2 re-scans with the broadcast 1-row bounds and
    * aggregates per source. Two scans total, no data-sized shuffle. */
  def t24_winsorized_stats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("v"))
    val hist = docs.withColumn("idx", expr(
        """CASE WHEN v < 32 THEN v ELSE
             (length(bin(v)) - 1) * 32 + (shiftright(v, length(bin(v)) - 6) - 32)
           END"""))
      .groupBy("idx").agg(count(lit(1)).as("cnt"))
    val n = docs.agg(count(lit(1)).as("n"))
    // bounded global window: ≤ 2048 sketch rows regardless of volume
    val cum = hist.withColumn("cum", sum("cnt").over(Window.orderBy("idx")))
    def lb(c: String) = expr(
      s"""CASE WHEN $c < 32 THEN $c
          ELSE shiftleft($c % 32 + 32, CAST($c div 32 AS INT) - 5) END""")
    val bounds = cum.crossJoin(broadcast(n))
      .select(
        min(when(col("cum") >= expr("(n * 1 + 99) div 100"), col("idx")))
          .as("idx_lo"),
        min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("idx")))
          .as("idx_hi"))
      .select(lb("idx_lo").as("lo"), lb("idx_hi").as("hi"))
    docs.crossJoin(broadcast(bounds))
      .withColumn("w", greatest(least(col("v"), col("hi")), col("lo")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum("v").as("tok_sum"), sum("w").as("wtok_sum"))
      .withColumn("mean_fp", ldiv(col("tok_sum") * 1000000L, col("n_docs")))
      .withColumn("wmean_fp", ldiv(col("wtok_sum") * 1000000L, col("n_docs")))
      .orderBy("source")
  }

  /** t25 — Gopher/MassiveText quality gates (Rae et al. 2021, table A1
    * — the published rule set large-scale text curation actually
    * ships): word-count bounds [50, 100k], mean word length [3, 10],
    * ≥80 % words containing a letter, symbol-to-word ratio ≤ 0.1
    * (`#` + `…` as the paper defines), ≥2 required stop words from
    * {the, be, to, of, and, that, have, with}. Per-source accounting of
    * every rule's fail count plus the all-rules pass count — the shape
    * a curation dashboard tracks per crawl source. All fixed-point
    * integer (×1000 ratios, IntegralDivide) so the oracle replays every
    * gate bit-for-bit. "Contains a letter" is the locale-free
    * lower(w) ≠ upper(w) trick, identical in both engines.
    *
    * Scale shape: one scan, per-row HOFs inside codegen (no UDF, no
    * explode — the word arrays never leave their row), one partial+
    * final aggregate on the low-cardinality source key. */
  def t25_gopher_gates(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val d = Tables.documents(s, dir)
      .select(col("source"), words.as("ws"),
        (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))
          + ldiv(length(col("text")) -
            length(replace(col("text"), lit("..."), lit(""))), lit(3L)))
          .cast("long").as("symbols"))
      .select(col("source"), col("symbols"),
        size(col("ws")).cast("long").as("nw"),
        aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w))
          .as("wlsum"),
        size(filter(col("ws"), w => lower(w) =!= upper(w))).cast("long")
          .as("alpha"),
        size(filter(col("ws"), w => lower(w).isInCollection(stops)))
          .cast("long").as("stops"))
      .select(col("source"),
        (col("nw") >= 50L && col("nw") <= 100000L).as("p_words"),
        (col("nw") > 0L &&
          ldiv(col("wlsum") * 1000L, col("nw")).between(3000L, 10000L))
          .as("p_mwl"),
        (col("nw") > 0L &&
          ldiv(col("alpha") * 1000L, col("nw")) >= 800L).as("p_alpha"),
        (col("nw") > 0L &&
          ldiv(col("symbols") * 1000L, col("nw")) <= 100L).as("p_symbol"),
        (col("stops") >= 2L).as("p_stop"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p_words") && col("p_mwl") && col("p_alpha") &&
          col("p_symbol") && col("p_stop"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("p_words"), 1L).otherwise(0L)).as("fail_words"),
        sum(when(!col("p_mwl"), 1L).otherwise(0L)).as("fail_mwl"),
        sum(when(!col("p_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(!col("p_symbol"), 1L).otherwise(0L)).as("fail_symbol"),
        sum(when(!col("p_stop"), 1L).otherwise(0L)).as("fail_stop"))
      .orderBy("source")
  }

  /** t26 — stupid-backoff trigram LM scoring (Brants et al. 2007, the
    * smoothing-free backoff used at web scale; the CCNet pattern of
    * training a reference LM and scoring candidates with it): the LM
    * trains on the reference half of the corpus (sources src0–src9) and
    * scores every candidate doc (src10–src19). Per trigram position,
    * S(w₃|w₁w₂) = c₃/c₂(w₁w₂) when the trigram is known, else
    * 0.4·c₂(w₂w₃)/c₁(w₂), else 0.4²·c₁(w₃)/N, else 0 — each branch
    * frozen to 1e6 fixed point with integer division (0.4 = ·2 ÷ 5)
    * BEFORE the per-doc mean, so scores are exact integers at any
    * parallelism; the per-level hit counts ship alongside as the
    * diagnostic a filter-threshold picker reads. Unlike t09's add-one
    * bigram NLL, this scores out-of-domain text against a held-out
    * reference model, so genuine backoff happens (t09 scores the corpus
    * with its own LM — every gram is known by construction).
    *
    * Scale shape: gram tables aggregate on 60-bit md5 keys (8 B
    * exchange, the d15 idiom) with map-side partial counts; the
    * candidate trigram stream resolves the backoff chain with five
    * hash-partitioned equi-joins (left, null = unseen), then one per-doc
    * integer aggregate. Production LMs add count floors to prune c₂/c₃
    * (CCNet does the same) — a knob, not a structural change. */
  def t26_stupid_backoff(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KeyAlgebra.ldiv
    // r18 measured negative: caching docs/c1/c2 for their repeat
    // consumers REGRESSED 1.57→2.07 s at sf0.1 — tokenized-array rows
    // cost more to materialize than to recompute from the tiny parquet.
    // Left lazy deliberately.
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
    val isTrain = length(col("source")) === 4 // src0..src9
    def positions(df: DataFrame, k: Int): DataFrame = df
      .select(col("doc_id"), col("tk"),
        explode(when(size(col("tk")) >= k,
          sequence(lit(1), size(col("tk")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("i"))
    def gram(n: Int): Column = md5Long60(concat_ws(" ",
      (0 until n).map(j => element_at(col("tk"), col("i") + j)): _*))
    val train = docs.filter(isTrain)
    val c3 = positions(train, 3).select(gram(3).as("h123"))
      .groupBy("h123").agg(count(lit(1)).as("c3"))
    val c2 = positions(train, 2).select(gram(2).as("h12"))
      .groupBy("h12").agg(count(lit(1)).as("c2"))
    val c1 = train.select(explode(col("tk")).as("t"))
      .select(md5Long60(col("t")).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("c1"))
    val nTot = train.select(explode(col("tk")).as("t")).count()
    val cands = docs.filter(!isTrain)
    val pos = positions(cands, 3).select(col("doc_id"),
      gram(3).as("h123"), gram(2).as("h12"),
      md5Long60(concat_ws(" ", element_at(col("tk"), col("i") + 1),
        element_at(col("tk"), col("i") + 2))).as("h23"),
      md5Long60(element_at(col("tk"), col("i") + 1)).as("h2"),
      md5Long60(element_at(col("tk"), col("i") + 2)).as("h3"))
    val scored = pos
      .join(c3, Seq("h123"), "left")
      .join(c2.toDF("h12", "c2den"), Seq("h12"), "left")
      .join(c2.toDF("h23", "c2num"), Seq("h23"), "left")
      .join(c1.toDF("h2", "c1mid"), Seq("h2"), "left")
      .join(c1.toDF("h3", "c1last"), Seq("h3"), "left")
      .withColumn("lvl",
        when(col("c3").isNotNull, 3L)
          .when(col("c2num").isNotNull, 2L)
          .when(col("c1last").isNotNull, 1L).otherwise(0L))
      .withColumn("s_fp",
        when(col("c3").isNotNull, ldiv(col("c3") * 1000000L, col("c2den")))
          .when(col("c2num").isNotNull,
            ldiv(ldiv(col("c2num") * 1000000L, col("c1mid")) * 2L, lit(5L)))
          .when(col("c1last").isNotNull,
            ldiv(ldiv(ldiv(col("c1last") * 1000000L, lit(nTot)) * 2L,
              lit(5L)) * 2L, lit(5L)))
          .otherwise(lit(0L)))
    val agg = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_tri"),
      sum(when(col("lvl") === 3L, 1L).otherwise(0L)).as("n_hit3"),
      sum(when(col("lvl") === 2L, 1L).otherwise(0L)).as("n_back2"),
      sum(when(col("lvl") === 1L, 1L).otherwise(0L)).as("n_back1"),
      ldiv(sum("s_fp"), count(lit(1))).as("sb_score_fp"))
    cands.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_hit3"), lit(0L)).as("n_hit3"),
        coalesce(col("n_back2"), lit(0L)).as("n_back2"),
        coalesce(col("n_back1"), lit(0L)).as("n_back1"),
        coalesce(col("sb_score_fp"), lit(0L)).as("sb_score_fp"))
      .orderBy("doc_id")
  }

  /** t27 — Luhn-validated card-number detection: the precision fix real
    * PII scrubbers need on top of t10's pattern match — a 16-digit run
    * is only a card number if its mod-10 double-every-second-digit
    * checksum (Luhn, ISO/IEC 7812 — public) closes, which rejects ~90 %
    * of random digit runs. Deterministic candidates are seeded from
    * doc_id: every 5th doc gets a 16-digit number whose check digit is
    * CORRECT when doc_id % 10 = 0 and off-by-one otherwise, so both the
    * accept and the reject paths run on every SF. Detection is the
    * regex pass; validation recomputes the checksum on the EXTRACTED
    * string (position i doubled when i is odd, 1-based from the left of
    * a 16-digit number) — all integer, both engines replay it digit by
    * digit.
    *
    * Scale shape: seed, extract and validate all ride the scan; the
    * only exchange is the final orderBy. */
  def t27_luhn_pii(s: SparkSession, dir: String): DataFrame = {
    // 15 payload digits from doc_id, then the Luhn check digit
    val base15 = lpad(((col("doc_id") % 100000000000L) * 7919L + 123L)
      .cast("string"), 15, "0")
    def luhnTerm(d: Column, doubled: Boolean): Column =
      if (doubled) when(d * 2L > 9L, d * 2L - 9L).otherwise(d * 2L) else d
    // payload positions 1..15 of a 16-digit number: doubled when i odd
    val paySum = (1 to 15).map(i => luhnTerm(
      substring(base15, i, 1).cast("long"), i % 2 == 1)).reduce(_ + _)
    val check = (lit(10L) - paySum % 10L) % 10L
    val seeded = Tables.documents(s, dir)
      .withColumn("seeded", concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" card "), base15,
          when(col("doc_id") % 10 === 0, check)
            .otherwise((check + 1L) % 10L))).otherwise(lit(""))))
    val cands = seeded.select(col("doc_id"),
      explode_outer(regexp_extract_all(col("seeded"),
        lit("[0-9]{16}"), lit(0))).as("c"))
    val candSum = (1 to 16).map(i => luhnTerm(
      substring(col("c"), i, 1).cast("long"), i % 2 == 1)).reduce(_ + _)
    cands
      .withColumn("valid", when(col("c").isNull, lit(null))
        .otherwise((candSum % 10L === 0L).cast("long")))
      .groupBy("doc_id")
      .agg(count(col("c")).as("n_cand"),
        coalesce(sum("valid"), lit(0L)).as("n_valid"),
        (count(col("c")) - coalesce(sum("valid"), lit(0L))).as("n_rejected"))
      .orderBy("doc_id")
  }

  /** t28 — log-odds-ratio corpus comparison with the informative
    * Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words" —
    * the standard answer to "which words distinguish corpus A from
    * corpus B", where raw frequency ratios over-weight rare words and
    * TF-IDF ignores the comparison corpus). Groups: the t26 split
    * (src0–9 vs src10–19); prior = the POOLED corpus counts themselves
    * (α_w = y_w, α₀ = n, the paper's recommendation), so every prior
    * input is an exact integer and both engines form identical doubles
    * before the ln/sqrt. z_w = δ_w/σ_w with the paper's variance
    * 1/(y1+α) + 1/(y2+α); output = top 10 words each way (the A-side
    * and B-side vocabularies), z frozen at 1e6.
    *
    * Scale shape: one token scan → per-word partial+final counts
    * (vocabulary-bounded), a broadcast 1-row total, two TakeOrdered
    * top-10s. Nothing global beyond k=10 reductions. */
  def t28_log_odds(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val isG1 = length(col("source")) === 4
    val counts = docs.groupBy("w").agg(
      sum(when(isG1, 1L).otherwise(0L)).as("y1"),
      sum(when(isG1, 0L).otherwise(1L)).as("y2"))
    val tot = counts.agg(sum("y1").as("n1"), sum("y2").as("n2"))
    val scored = counts.crossJoin(broadcast(tot))
      .withColumn("aw", (col("y1") + col("y2")).cast("double"))
      .withColumn("a0", (col("n1") + col("n2")).cast("double"))
      .withColumn("d",
        log((col("y1") + col("aw")) /
          (col("n1") + col("a0") - col("y1") - col("aw"))) -
        log((col("y2") + col("aw")) /
          (col("n2") + col("a0") - col("y2") - col("aw"))))
      .withColumn("z", col("d") /
        sqrt(lit(1.0) / (col("y1") + col("aw")) +
          lit(1.0) / (col("y2") + col("aw"))))
      .select(col("w"), col("y1"), col("y2"),
        floor(col("z") * 1e6).cast("long").as("z_fp"))
    def side(df: DataFrame, name: String, desc: Boolean): DataFrame = {
      val ord = if (desc) Seq(col("z_fp").desc, col("w")) else Seq(col("z_fp"), col("w"))
      val top = df.orderBy(ord: _*).limit(10)
      // rank over the bounded 10-row result (p23/p26 convention)
      top.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(ord: _*)).cast("long"))
        .withColumn("side", lit(name))
    }
    side(scored, "g1", desc = true)
      .unionByName(side(scored, "g2", desc = false))
      .select("side", "rank", "w", "y1", "y2", "z_fp")
      .orderBy("side", "rank")
  }

  /** t29 — Heaps-law vocabulary growth curve: how the distinct-token
    * vocabulary grows as the corpus is ingested in order — THE curve a
    * tokenizer-training or dedup-planning pass reads to decide how much
    * corpus is enough (vocab saturating ⇒ more data adds tokens, not
    * words). Documents are ranked globally by doc_id ([[SequentialId]]
    * — range exchange + broadcast offsets, no single-task sort), the
    * corpus is cut at the 10 prefix deciles ⌊n·d/10⌋, and each token is
    * charged to the decile of its FIRST occurrence; the cumulative sum
    * of those per-decile counts IS the growth curve.
    *
    * Scale shape: one token explode → min-rank aggregate with map-side
    * combine (the shuffle carries one partial row per partition×token,
    * t06's posture), then a vocabulary-bounded 10-bucket aggregate and
    * a 10-row cumulative window — nothing row-scale crosses the wire
    * after the first aggregate. The decile cut list is 10 driver longs
    * from one count(*). */
  def t29_heaps_growth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val n = docs.count()
    val cuts = (1 to 10).map(d => n * d / 10)
    val ranked = SequentialId.withSequentialId(docs, "rnk", Seq(col("doc_id")))
    val first = ranked
      .select(col("rnk"), explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(min("rnk").as("fr"))
    val cutsArr = array(cuts.map(lit(_)): _*)
    val perDecile = first
      .withColumn("decile",
        lit(11L) - size(filter(cutsArr, c => col("fr") <= c)).cast("long"))
      .groupBy("decile").agg(count(lit(1)).as("new_tokens"))
    val deciles = s.range(1, 11).toDF("decile")
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles.join(broadcast(perDecile), Seq("decile"), "left")
      .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
      .withColumn("n_docs_prefix", element_at(cutsArr, col("decile").cast("int")))
      .withColumn("vocab_size", sum("new_tokens").over(w)) // 10-row window
      .select(col("decile"), col("n_docs_prefix"), col("vocab_size"),
        col("new_tokens"))
      .orderBy("decile")
  }

  /** t38 — interpolated Kneser–Ney bigram LM head (Kneser & Ney 1995;
    * Chen & Goodman 1998, the smoothing that n-gram LM toolkits ship as
    * the default — the published-standard counterpart to t26's stupid
    * backoff). With absolute discount D = 0.75,
    * P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *          + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··),
    * where N₁₊(w₁·)/N₁₊(·w₂) count distinct continuations/predecessors
    * and N₁₊(··) the bigram types — the continuation-probability idea
    * that distinguishes KN from plain discounting. D = 3/4 keeps the
    * formula rational: both terms are frozen to 1e12 fixed point in
    * decimal(38,0) `div` arithmetic (the p29/c04 carry pattern —
    * HUGEINT `//` in the oracle; every numerand non-negative, so both
    * truncate identically), and the output is the top-50 bigram head
    * with its sufficient statistics — the rows an LM-pruning or
    * quality-weighting pass actually consumes.
    *
    * Scale shape: one in-row bigram explode → hash aggregate with
    * map-side combine to the TYPE table (vocabulary-bounded, cached —
    * the one expensive pass); the head is a TakeOrdered top-k off it,
    * and the context/continuation statistics aggregate the type table
    * FILTERED to the head's ≤50 keys through broadcast semi-joins —
    * the full-table w1/w2 re-shuffles a naive join-everything plan
    * would pay (the 26× probe billed that shape at 51 s) never happen.
    * N₁₊(··) is one count; every join onto the head broadcasts. */
  def t38_kneser_ney(s: SparkSession, dir: String): DataFrame = {
    // the bigram map side is CPU-bound; a single-file test fixture scans
    // as ONE split and serializes it (the d19 starvation class — 4.9 s
    // single-threaded at sf0.1). Re-split only when the scan is actually
    // starved: a real corpus arrives in thousands of splits and must NOT
    // pay a full text exchange here.
    val docs0 = Tables.documents(s, dir).select(col("doc_id"),
      tokens(col("text")).as("ws"))
    val par = s.sparkContext.defaultParallelism
    val docs = if (docs0.rdd.getNumPartitions < par)
      docs0.repartition(par, col("doc_id")) else docs0
    val pairs = docs
      .select(explode(expr(
        "transform(slice(ws, 1, greatest(size(ws) - 1, 0))," +
          " (w, i) -> struct(w AS w1, ws[i + 1] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // r18: localCheckpoint instead of cache() — same eager reuse across
    // the three consumers, but the blocks are context-cleaned when the
    // plan is garbage-collected instead of pinned in the CacheManager
    // until an explicit unpersist that no caller could safely place
    // (the returned plan still references both frames), so a 346-query
    // sweep no longer accumulates two storage-cached frames per t38 run
    val bg = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    // head is consumed three times (two key filters + the final join):
    // checkpoint the 50 rows so the TakeOrdered over the type table runs once
    val head = bg.orderBy(desc("c12"), col("w1"), col("w2")).limit(50)
      .localCheckpoint(true)
    val types = bg.agg(count(lit(1)).as("nbb"))
    val ctx = bg
      .join(broadcast(head.select("w1").distinct()), Seq("w1"), "left_semi")
      .groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n_cont"))
    val cont = bg
      .join(broadcast(head.select("w2").distinct()), Seq("w2"), "left_semi")
      .groupBy("w2").agg(count(lit(1)).as("n_pred"))
    head.join(broadcast(ctx), Seq("w1")).join(broadcast(cont), Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("kn_fp", expr(
        "CAST(CAST(4 * c12 - 3 AS DECIMAL(38,0)) * 1000000000000" +
          " div (4 * c1) AS BIGINT)" +
          " + CAST(CAST(3 * n_cont AS DECIMAL(38,0)) * n_pred" +
          // divisor in DECIMAL(38,0) (oracle: HUGEINT): 4*c1*nbb in
          // 64-bit wraps silently at large corpora exactly where the
          // oracle raises — decimal math keeps both engines consistent
          " * 1000000000000 div (CAST(4 * c1 AS DECIMAL(38,0)) * nbb) AS BIGINT)"))
      .orderBy(desc("c12"), col("w1"), col("w2"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n_cont"), col("n_pred"), col("kn_fp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t38_kneser_ney" -> (t38_kneser_ney _),
    "t29_heaps_growth" -> (t29_heaps_growth _),
    "t28_log_odds" -> (t28_log_odds _),
    "t27_luhn_pii" -> (t27_luhn_pii _),
    "t26_stupid_backoff" -> (t26_stupid_backoff _),
    "t25_gopher_gates" -> (t25_gopher_gates _),
    "t24_winsorized_stats" -> (t24_winsorized_stats _),
    "t23_ngram_novelty" -> (t23_ngram_novelty _),
    "t22_bpe_train" -> (t22_bpe_train _),
    "t31_unigram_train" -> (t31_unigram_train _),
    "t32_unigram_encode" -> (t32_unigram_encode _),
    "t30_bpe_encode" -> (t30_bpe_encode _),
    "t21_quality_classifier" -> (t21_quality_classifier _),
    "t20_repetition_filter" -> (t20_repetition_filter _),
    "t19_char_entropy" -> (t19_char_entropy _),
    "t18_tfidf_keywords" -> (t18_tfidf_keywords _),
    "t17_hdr_quantiles" -> (t17_hdr_quantiles _),
    "t16_bm25_topk" -> (t16_bm25_topk _),
    "t14_zipf_curve" -> (t14_zipf_curve _),
    "t13_kmv_distinct" -> (t13_kmv_distinct _),
    "t12_cms_heavy_hitters" -> (t12_cms_heavy_hitters _),
    "t11_hll_cardinality" -> (t11_hll_cardinality _),
    "t10_pii_scrub" -> (t10_pii_scrub _),
    "t09_bigram_lm" -> (t09_bigram_lm _),
    "t01_token_quality" -> (t01_token_quality _),
    "t02_langid" -> (t02_langid _),
    "t03_fingerprint" -> (t03_fingerprint _),
    "t04_bpe_tokens" -> (t04_bpe_tokens _),
    "t05_context_windows" -> (t05_context_windows _),
    "t06_vocabulary" -> (t06_vocabulary _),
    "t07_quality_repetition" -> (t07_quality_repetition _),
    "t08_boilerplate_share" -> (t08_boilerplate_share _),
    "t15_perplexity_bucket" -> (t15_perplexity_bucket _),
    "t33_html_extract" -> (t33_html_extract _),
    "t34_nb_train" -> (t34_nb_train _),
    "t36_boilerplate_blocks" -> (t36_boilerplate_blocks _),
    "t37_utf8_sanitize" -> (t37_utf8_sanitize _),
  )

  /** t31 oracle: the Viterbi forward DP and its backtrack as recursive
    * CTEs (depth = longest word, the m35 recursion discipline), run
    * once per vocabulary. The forward state carries dp at the last
    * four positions (pieces are <= 4 chars); the backtrack re-derives
    * the argmin with the SAME shortest-piece tie rule as the Scala DP
    * (CASE order 1, 2, 3, else 4). */
  private def t31DpSql(v: String, sfx: String): String = {
    val mx = "1152921504606846976"
    s"""fwd$sfx AS (
         SELECT w, cnt, 0 AS i, 0::BIGINT AS d0,
           NULL::BIGINT AS d1, NULL::BIGINT AS d2, NULL::BIGINT AS d3
         FROM wd
         UNION ALL
         SELECT w, cnt, i,
           least(coalesce(d0 + c1, $mx), coalesce(d1 + c2, $mx),
                 coalesce(d2 + c3, $mx), coalesce(d3 + c4, $mx)),
           d0, d1, d2
         FROM (
           SELECT f.w, f.cnt, f.i + 1 AS i, f.d0, f.d1, f.d2, f.d3,
             c1.cost AS c1, c2.cost AS c2, c3.cost AS c3, c4.cost AS c4
           FROM fwd$sfx f
           LEFT JOIN $v c1 ON c1.piece = substr(f.w, f.i + 1, 1)
           LEFT JOIN $v c2 ON f.i >= 1 AND c2.piece = substr(f.w, f.i, 2)
           LEFT JOIN $v c3 ON f.i >= 2 AND c3.piece = substr(f.w, f.i - 1, 3)
           LEFT JOIN $v c4 ON f.i >= 3 AND c4.piece = substr(f.w, f.i - 2, 4)
           WHERE f.i < length(f.w))),
       dpt$sfx AS MATERIALIZED (SELECT w, i, d0 AS dp FROM fwd$sfx),
       bwd$sfx AS (
         SELECT w, cnt, length(w) AS pos, NULL::VARCHAR AS piece FROM wd
         UNION ALL
         SELECT w, cnt, pos - k, substr(w, pos - k + 1, k)
         FROM (
           SELECT b.w, b.cnt, b.pos,
             CASE WHEN coalesce(p1.dp + c1.cost, $mx) = d.dp THEN 1
                  WHEN coalesce(p2.dp + c2.cost, $mx) = d.dp THEN 2
                  WHEN coalesce(p3.dp + c3.cost, $mx) = d.dp THEN 3
                  ELSE 4 END AS k
           FROM bwd$sfx b
           JOIN dpt$sfx d ON d.w = b.w AND d.i = b.pos
           LEFT JOIN dpt$sfx p1 ON p1.w = b.w AND p1.i = b.pos - 1
           LEFT JOIN $v c1 ON c1.piece = substr(b.w, b.pos, 1)
           LEFT JOIN dpt$sfx p2 ON p2.w = b.w AND p2.i = b.pos - 2
           LEFT JOIN $v c2 ON b.pos >= 2 AND c2.piece = substr(b.w, b.pos - 1, 2)
           LEFT JOIN dpt$sfx p3 ON p3.w = b.w AND p3.i = b.pos - 3
           LEFT JOIN $v c3 ON b.pos >= 3 AND c3.piece = substr(b.w, b.pos - 2, 3)
           WHERE b.pos > 0))"""
  }

  /** t32 oracle: the same training chain as t31 (through the pruned v1
    * vocabulary and its Viterbi backtrack), then per-WORD token counts
    * from bwd1 joined back onto each document's word list — the
    * distinct-word DP runs once, exactly as the engine's broadcast DP
    * visits each occurrence with the same frozen costs. */
  private lazy val t32Sql: String =
    s"""WITH RECURSIVE wd AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt FROM
         (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         GROUP BY w),
       tot AS MATERIALIZED (SELECT sum(cnt * length(w))::BIGINT AS tc FROM wd),
       sub AS MATERIALIZED (SELECT substr(w, i, l) AS piece, sum(cnt)::BIGINT AS freq FROM
         (SELECT w, cnt, unnest(range(1, length(w) + 1)) AS i FROM wd),
         range(1, 5) t(l)
         WHERE i + l - 1 <= length(w)
         GROUP BY 1),
       singles AS MATERIALIZED (SELECT piece, freq FROM sub WHERE length(piece) = 1),
       multi0 AS MATERIALIZED (SELECT piece, freq FROM sub WHERE length(piece) >= 2
         ORDER BY freq DESC, piece LIMIT 48),
       v0 AS MATERIALIZED (SELECT piece, freq, tc * 1000000 // freq AS cost FROM
         (SELECT * FROM singles UNION ALL SELECT * FROM multi0), tot),
       ${t31DpSql("v0", "0")},
       usage0 AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS usage FROM bwd0
         WHERE piece IS NOT NULL GROUP BY piece),
       kept AS MATERIALIZED (SELECT piece, freq FROM
         (SELECT m.piece, m.freq, coalesce(u.usage, 0)::BIGINT AS usage
           FROM multi0 m LEFT JOIN usage0 u ON u.piece = m.piece)
         ORDER BY usage DESC, freq DESC, piece LIMIT 24),
       v1 AS MATERIALIZED (SELECT piece, freq, tc * 1000000 // freq AS cost FROM
         (SELECT piece, freq FROM singles
          UNION ALL SELECT piece, freq FROM kept), tot),
       ${t31DpSql("v1", "1")},
       wlen AS MATERIALIZED (SELECT w, count(*)::BIGINT AS ntok FROM bwd1
         WHERE piece IS NOT NULL GROUP BY w),
       dw AS (SELECT doc_id, source,
           unnest(string_split(text, ' ')) AS w FROM documents),
       per AS (SELECT d.source, d.doc_id,
           sum(coalesce(wl.ntok, 0))::BIGINT AS toks,
           sum(length(d.w))::BIGINT AS chars
         FROM dw d LEFT JOIN wlen wl ON wl.w = d.w
         GROUP BY 1, 2)
       SELECT source, count(*)::BIGINT AS n_docs,
         sum(toks)::BIGINT AS n_tokens,
         sum(chars)::BIGINT AS n_chars,
         (sum(chars)::BIGINT * 1000000
           // greatest(sum(toks)::BIGINT, 1))::BIGINT AS chars_per_tok_fp
       FROM per GROUP BY source ORDER BY source"""

  private lazy val t31Sql: String =
    s"""WITH RECURSIVE wd AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt FROM
         (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         GROUP BY w),
       tot AS MATERIALIZED (SELECT sum(cnt * length(w))::BIGINT AS tc FROM wd),
       sub AS MATERIALIZED (SELECT substr(w, i, l) AS piece, sum(cnt)::BIGINT AS freq FROM
         (SELECT w, cnt, unnest(range(1, length(w) + 1)) AS i FROM wd),
         range(1, 5) t(l)
         WHERE i + l - 1 <= length(w)
         GROUP BY 1),
       singles AS MATERIALIZED (SELECT piece, freq FROM sub WHERE length(piece) = 1),
       multi0 AS MATERIALIZED (SELECT piece, freq FROM sub WHERE length(piece) >= 2
         ORDER BY freq DESC, piece LIMIT 48),
       v0 AS MATERIALIZED (SELECT piece, freq, tc * 1000000 // freq AS cost FROM
         (SELECT * FROM singles UNION ALL SELECT * FROM multi0), tot),
       ${t31DpSql("v0", "0")},
       usage0 AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS usage FROM bwd0
         WHERE piece IS NOT NULL GROUP BY piece),
       kept AS MATERIALIZED (SELECT row_number() OVER
           (ORDER BY usage DESC, freq DESC, piece)::BIGINT AS rank,
           piece, freq, usage FROM
         (SELECT m.piece, m.freq, coalesce(u.usage, 0)::BIGINT AS usage
           FROM multi0 m LEFT JOIN usage0 u ON u.piece = m.piece)
         ORDER BY usage DESC, freq DESC, piece LIMIT 24),
       v1 AS MATERIALIZED (SELECT piece, freq, tc * 1000000 // freq AS cost FROM
         (SELECT piece, freq FROM singles
          UNION ALL SELECT piece, freq FROM kept), tot),
       ${t31DpSql("v1", "1")},
       tok0 AS (SELECT sum(cnt)::BIGINT AS t FROM bwd0
         WHERE piece IS NOT NULL),
       tok1 AS (SELECT sum(cnt)::BIGINT AS t FROM bwd1
         WHERE piece IS NOT NULL)
       SELECT rank, piece, freq, usage FROM kept
       UNION ALL SELECT -1::BIGINT, '<tokens_v0>', tc, t FROM tok0, tot
       UNION ALL SELECT -2::BIGINT, '<tokens_v1>', tc, t FROM tok1, tot
       ORDER BY rank"""

  private def sqlHs =
    "list_transform(list_distinct(string_split(text, ' ')), t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))"

  /** t27 oracle: the Luhn arithmetic unrolled digit-by-digit in SQL —
    * same seed construction, same doubled-position rule. */
  private lazy val t27Sql: String = {
    def term(src: String, i: Int): String = {
      val d = s"substr($src, $i, 1)::BIGINT"
      if (i % 2 == 1) s"(CASE WHEN $d * 2 > 9 THEN $d * 2 - 9 ELSE $d * 2 END)"
      else d
    }
    val paySum = (1 to 15).map(term("base15", _)).mkString(" + ")
    val candSum = (1 to 16).map(term("cand", _)).mkString(" + ")
    s"""WITH b AS (SELECT doc_id, text,
         lpad(((doc_id % 100000000000) * 7919 + 123)::VARCHAR, 15, '0')
           AS base15 FROM documents),
       p AS (SELECT doc_id, text, base15, ($paySum) AS paysum FROM b),
       se AS (SELECT doc_id, text || CASE WHEN doc_id % 5 = 0
           THEN ' card ' || base15 ||
             (CASE WHEN doc_id % 10 = 0 THEN (10 - paysum % 10) % 10
               ELSE ((10 - paysum % 10) % 10 + 1) % 10 END)::VARCHAR
           ELSE '' END AS seeded FROM p),
       c AS (SELECT doc_id,
           unnest(regexp_extract_all(seeded, '[0-9]{16}')) AS cand FROM se),
       v AS (SELECT doc_id, CASE WHEN ($candSum) % 10 = 0 THEN 1 ELSE 0 END
           AS valid FROM c),
       agg AS (SELECT doc_id, count(*)::BIGINT AS n_cand,
           sum(valid)::BIGINT AS n_valid FROM v GROUP BY doc_id)
       SELECT d.doc_id, coalesce(n_cand, 0)::BIGINT AS n_cand,
         coalesce(n_valid, 0)::BIGINT AS n_valid,
         (coalesce(n_cand, 0) - coalesce(n_valid, 0))::BIGINT AS n_rejected
       FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
       ORDER BY d.doc_id"""
  }

  val oracles: Map[String, String] = Map(
    // the KN sufficient statistics as plain aggregates over the bigram
    // type table; both fixed-point terms in HUGEINT `//` (decimal div on
    // the Spark side — non-negative, truncation agrees); DuckDB lists
    // are 1-based, so w[i], w[i+1] over range(1, len) walks the pairs
    "t38_kneser_ney" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
         bgm AS (SELECT w[i::INT] AS w1, w[(i + 1)::INT] AS w2
           FROM (SELECT w, unnest(range(1, len(w))) AS i FROM ws)),
         bg AS (SELECT w1, w2, count(*)::BIGINT AS c12
           FROM bgm GROUP BY 1, 2),
         l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             count(*)::BIGINT AS n_cont FROM bg GROUP BY 1),
         r AS (SELECT w2, count(*)::BIGINT AS n_pred FROM bg GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS nbb FROM bg)
         SELECT w1, w2, c12, c1, n_cont, n_pred,
           CAST((4 * c12 - 3)::HUGEINT * 1000000000000 // (4 * c1)
             + (3 * n_cont)::HUGEINT * n_pred * 1000000000000
               // (4 * c1 * nbb) AS BIGINT) AS kn_fp
         FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
         ORDER BY c12 DESC, w1, w2 LIMIT 50""",
    // full training replay: the closed-form NB counts as CTEs (exact
    // integers), the same dropped-constant score with floor-1e4
    // quantization (ln is the t09/t15 precedent), the same class-name
    // tie-break, then the c07 eval tail verbatim
    "t34_nb_train" ->
      s"""WITH train AS (SELECT doc_id, lang, text FROM documents
           WHERE doc_id % 5 <> 0),
         test AS (SELECT doc_id, lang, text FROM documents
           WHERE doc_id % 5 = 0),
         trainTok AS (SELECT doc_id, lang,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % $NbBuckets
               AS feat
           FROM train, unnest(string_split(text, ' ')) AS u(tok)),
         model AS (SELECT lang, feat, count(*)::BIGINT AS cnt
           FROM trainTok GROUP BY 1, 2),
         cls AS (SELECT lang, count(*)::BIGINT AS tot,
             count(DISTINCT doc_id)::BIGINT AS n_docs
           FROM trainTok GROUP BY 1),
         testTok AS (SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % $NbBuckets
               AS feat
           FROM test, unnest(string_split(text, ' ')) AS u(tok)),
         tf AS (SELECT doc_id, feat, count(*)::BIGINT AS tf
           FROM testTok GROUP BY 1, 2),
         tlen AS (SELECT doc_id, sum(tf)::BIGINT AS n_tok FROM tf GROUP BY 1),
         hit AS (SELECT t.doc_id, m.lang, sum(t.tf * ln(m.cnt + 1)) AS h
           FROM tf t JOIN model m USING (feat) GROUP BY 1, 2),
         scored AS (SELECT d.doc_id, d.lang AS actual_lang, c.lang AS cand,
             CAST(floor((ln(c.n_docs) + coalesce(h.h, 0)
               - l.n_tok * ln(c.tot + $NbBuckets)) * 1e4) AS BIGINT) AS s
           FROM test d JOIN tlen l USING (doc_id) CROSS JOIN cls c
           LEFT JOIN hit h ON h.doc_id = d.doc_id AND h.lang = c.lang),
         preds AS (SELECT doc_id, actual_lang, cand AS pred_lang FROM
           (SELECT doc_id, actual_lang, cand, row_number() OVER
              (PARTITION BY doc_id ORDER BY s DESC, cand) AS rn
            FROM scored) WHERE rn = 1),
         ba AS (SELECT actual_lang AS cls, count(*)::BIGINT AS support,
             sum(CASE WHEN pred_lang = actual_lang THEN 1 ELSE 0 END)::BIGINT
               AS tp
           FROM preds GROUP BY 1),
         bp AS (SELECT pred_lang AS cls, count(*)::BIGINT AS n_pred
           FROM preds GROUP BY 1),
         per AS (SELECT coalesce(ba.cls, bp.cls) AS cls,
             coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
             coalesce(n_pred, 0) - coalesce(tp, 0) AS fp,
             coalesce(support, 0) - coalesce(tp, 0) AS fn
           FROM ba FULL OUTER JOIN bp ON ba.cls = bp.cls),
         met AS (SELECT cls, support, tp, fp, fn,
             CASE WHEN tp + fp = 0 THEN 0
               ELSE tp * 1000000 // (tp + fp) END AS prec_fp,
             CASE WHEN support = 0 THEN 0
               ELSE tp * 1000000 // support END AS rec_fp,
             CASE WHEN tp * 2 + fp + fn = 0 THEN 0
               ELSE tp * 2000000 // (tp * 2 + fp + fn) END AS f1_fp
           FROM per)
         SELECT cls, support, tp, fp, fn, prec_fp, rec_fp, f1_fp FROM met
         UNION ALL
         SELECT '~macro', sum(support)::BIGINT, sum(tp)::BIGINT,
           sum(fp)::BIGINT, sum(fn)::BIGINT,
           sum(prec_fp)::BIGINT // count(*),
           sum(rec_fp)::BIGINT // count(*),
           sum(f1_fp)::BIGINT // count(*)
         FROM met ORDER BY cls""",
    // closed-form doc_id arithmetic: which suffixes a doc carries and
    // what the maximal-subpart decoder must book for each are pure
    // functions of (doc_id, length(text)) — base text is ASCII so
    // DuckDB's char length IS the byte length
    "t37_utf8_sanitize" ->
      """SELECT doc_id,
           CAST(length(text)
             + CASE WHEN doc_id % 5 = 0 THEN 9 ELSE 0 END
             + CASE WHEN doc_id % 7 <> 0 THEN 0
                    WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS BIGINT)
             AS n_bytes,
           CAST(length(text)
             + CASE WHEN doc_id % 5 = 0 THEN 3 ELSE 0 END
             + CASE WHEN doc_id % 7 <> 0 THEN 0
                    WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS BIGINT)
             AS n_chars,
           CAST(CASE WHEN doc_id % 7 <> 0 THEN 0
                     WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS BIGINT)
             AS n_repl
         FROM documents ORDER BY doc_id""",
    // expected books rebuilt from the synthChrome template structure:
    // chrome blocks are link-heavy constants (nav 15, rel 22, footer 24
    // — boilerplate under 2·link < text), title/h1 are 'Doc {id}', the
    // paragraph is the collapsed text and vanishes when empty
    "t36_boilerplate_blocks" ->
      """WITH x AS (SELECT doc_id,
           trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS t
         FROM documents)
         SELECT doc_id,
           CAST(5 + CASE WHEN t = '' THEN 0 ELSE 1 END AS BIGINT) AS n_blocks,
           CAST(2 + CASE WHEN t = '' THEN 0 ELSE 1 END AS BIGINT)
             AS n_content,
           CAST(2 * (4 + length(CAST(doc_id AS VARCHAR))) + length(t)
             AS BIGINT) AS content_chars,
           CAST(61 AS BIGINT) AS boiler_chars
         FROM x ORDER BY doc_id""",
    // the EXPECTED extracted text rebuilt in SQL (synth's entity
    // roundtrip is the identity, tags become separators, whitespace
    // collapses) — a leaked comment/script or a broken entity decode
    // changes the string and breaks the hash
    "t33_html_extract" ->
      """WITH x AS (SELECT doc_id,
           trim(regexp_replace(
             'Doc ' || doc_id || ' Document ' || doc_id || ' ' || text ||
               ' source "' || source || '" & lang ' || lang,
             '[ \t\r\n]+', ' ', 'g')) AS t
         FROM documents)
         SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
           CAST(CASE WHEN t = '' THEN 0
             ELSE length(t) - length(replace(t, ' ', '')) + 1 END AS BIGINT)
             AS n_tokens,
           substr(t, 1, 64) AS head64,
           CASE WHEN length(t) <= 32 THEN t
             ELSE substr(t, length(t) - 31) END AS tail32
         FROM x ORDER BY doc_id""",
    // independent relational formulation: row_number rank, min-rank per
    // token, decile via the same ⌊n·d/10⌋ cut list, cumulative window
    "t29_heaps_growth" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
       d AS (SELECT text,
           row_number() OVER (ORDER BY doc_id)::BIGINT AS rnk
         FROM documents),
       occ AS (SELECT rnk, unnest(string_split(text, ' ')) AS tok FROM d),
       first AS (SELECT tok, min(rnk) AS fr FROM occ GROUP BY tok),
       fd AS (SELECT tok,
           11 - length(list_filter(list_transform(range(1, 11),
             dd -> n.n * dd // 10), c -> fr <= c)) AS decile
         FROM first, n),
       newt AS (SELECT decile, count(*)::BIGINT AS new_tokens
         FROM fd GROUP BY 1),
       ds AS (SELECT dd AS decile FROM range(1, 11) t(dd))
       SELECT ds.decile::BIGINT AS decile,
         (n.n * ds.decile // 10)::BIGINT AS n_docs_prefix,
         (sum(coalesce(new_tokens, 0)) OVER (ORDER BY ds.decile))::BIGINT
           AS vocab_size,
         coalesce(new_tokens, 0)::BIGINT AS new_tokens
       FROM ds LEFT JOIN newt ON ds.decile = newt.decile, n
       ORDER BY decile""",
    "t27_luhn_pii" -> t27Sql,
    // same pooled-prior integer inputs, same ln/sqrt shape, same 1e6
    // freeze and (z, word) tie-break on both top-10s
    "t28_log_odds" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
           FROM documents),
       c AS (SELECT w,
           sum(CASE WHEN length(source) = 4 THEN 1 ELSE 0 END)::BIGINT AS y1,
           sum(CASE WHEN length(source) = 4 THEN 0 ELSE 1 END)::BIGINT AS y2
         FROM tok GROUP BY w),
       n AS (SELECT sum(y1)::BIGINT AS n1, sum(y2)::BIGINT AS n2 FROM c),
       sc AS (SELECT w, y1, y2,
           CAST(floor(1e6 * (
             (ln((y1 + (y1+y2)::DOUBLE) /
                 (n1 + (n1+n2)::DOUBLE - y1 - (y1+y2)::DOUBLE))
            - ln((y2 + (y1+y2)::DOUBLE) /
                 (n2 + (n1+n2)::DOUBLE - y2 - (y1+y2)::DOUBLE)))
             / sqrt(1.0 / (y1 + (y1+y2)::DOUBLE)
                  + 1.0 / (y2 + (y1+y2)::DOUBLE)))) AS BIGINT) AS z_fp
         FROM c, n),
       g1 AS (SELECT 'g1' AS side, row_number() OVER
             (ORDER BY z_fp DESC, w) AS rank, w, y1, y2, z_fp
           FROM sc ORDER BY z_fp DESC, w LIMIT 10),
       g2 AS (SELECT 'g2' AS side, row_number() OVER
             (ORDER BY z_fp, w) AS rank, w, y1, y2, z_fp
           FROM sc ORDER BY z_fp, w LIMIT 10)
       SELECT side, rank::BIGINT AS rank, w, y1, y2, z_fp
       FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
       ORDER BY side, rank""",
    // same md5-60 gram keys, same integer backoff chain (0.4 = *2 // 5),
    // same per-doc integer mean; `//` and IntegralDivide agree on the
    // nonnegative values here
    "t26_stupid_backoff" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS tk
           FROM documents),
       tr AS (SELECT * FROM d WHERE length(source) = 4),
       cnd AS (SELECT * FROM d WHERE length(source) = 5),
       tr3 AS (SELECT CAST('0x' || substr(md5(tk[i::INT] || ' ' ||
             tk[i::INT + 1] || ' ' || tk[i::INT + 2]), 1, 15) AS BIGINT) AS h
           FROM tr, unnest(range(1, len(tk) - 1)) u(i)),
       c3 AS (SELECT h AS h123, count(*)::BIGINT AS c3 FROM tr3 GROUP BY h),
       tr2 AS (SELECT CAST('0x' || substr(md5(tk[i::INT] || ' ' ||
             tk[i::INT + 1]), 1, 15) AS BIGINT) AS h
           FROM tr, unnest(range(1, len(tk))) u(i)),
       c2 AS (SELECT h AS h12, count(*)::BIGINT AS c2 FROM tr2 GROUP BY h),
       tr1 AS (SELECT CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
           FROM tr, unnest(tk) u(t)),
       c1 AS (SELECT h AS h1, count(*)::BIGINT AS c1 FROM tr1 GROUP BY h),
       nt AS (SELECT count(*)::BIGINT AS n FROM tr1),
       pos AS (SELECT doc_id,
           CAST('0x' || substr(md5(tk[i::INT] || ' ' || tk[i::INT + 1]
             || ' ' || tk[i::INT + 2]), 1, 15) AS BIGINT) AS h123,
           CAST('0x' || substr(md5(tk[i::INT] || ' ' || tk[i::INT + 1]),
             1, 15) AS BIGINT) AS h12,
           CAST('0x' || substr(md5(tk[i::INT + 1] || ' ' || tk[i::INT + 2]),
             1, 15) AS BIGINT) AS h23,
           CAST('0x' || substr(md5(tk[i::INT + 1]), 1, 15) AS BIGINT) AS h2,
           CAST('0x' || substr(md5(tk[i::INT + 2]), 1, 15) AS BIGINT) AS h3
           FROM cnd, unnest(range(1, len(tk) - 1)) u(i)),
       sc AS (SELECT doc_id,
           CASE WHEN a.c3 IS NOT NULL THEN 3
                WHEN bn.c2 IS NOT NULL THEN 2
                WHEN cl.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
           CASE WHEN a.c3 IS NOT NULL THEN (a.c3 * 1000000) // bd.c2
                WHEN bn.c2 IS NOT NULL
                  THEN (((bn.c2 * 1000000) // cm.c1) * 2) // 5
                WHEN cl.c1 IS NOT NULL
                  THEN (((((cl.c1 * 1000000) // n) * 2) // 5) * 2) // 5
                ELSE 0 END AS s
           FROM pos
           LEFT JOIN c3 a ON a.h123 = pos.h123
           LEFT JOIN c2 bd ON bd.h12 = pos.h12
           LEFT JOIN c2 bn ON bn.h12 = pos.h23
           LEFT JOIN c1 cm ON cm.h1 = pos.h2
           LEFT JOIN c1 cl ON cl.h1 = pos.h3, nt),
       agg AS (SELECT doc_id, count(*)::BIGINT AS n_tri,
           sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END)::BIGINT AS n_hit3,
           sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END)::BIGINT AS n_back2,
           sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END)::BIGINT AS n_back1,
           (sum(s) // count(*))::BIGINT AS sb_fp
           FROM sc GROUP BY doc_id)
       SELECT c.doc_id, coalesce(n_tri, 0)::BIGINT AS n_tri,
         coalesce(n_hit3, 0)::BIGINT AS n_hit3,
         coalesce(n_back2, 0)::BIGINT AS n_back2,
         coalesce(n_back1, 0)::BIGINT AS n_back1,
         coalesce(sb_fp, 0)::BIGINT AS sb_score_fp
       FROM cnd c LEFT JOIN agg ON agg.doc_id = c.doc_id
       ORDER BY c.doc_id""",
    // each Gopher gate replayed with DuckDB list lambdas; // division
    // (non-negative operands) mirrors IntegralDivide; lower<>upper is
    // the same contains-a-letter trick
    "t25_gopher_gates" ->
      """WITH w AS (SELECT source,
           list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws,
           (length(text) - length(replace(text, '#', ''))
            + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT
             AS symbols
         FROM documents),
       f AS (SELECT source, symbols, len(ws)::BIGINT AS nw,
           coalesce(list_reduce(list_prepend(0::BIGINT,
             list_transform(ws, x -> length(x)::BIGINT)),
             (a, b) -> a + b), 0) AS wlsum,
           len(list_filter(ws, x -> lower(x) <> upper(x)))::BIGINT AS alpha,
           len(list_filter(ws, x -> lower(x) IN ('the','be','to','of',
             'and','that','have','with')))::BIGINT AS stops
         FROM w),
       p AS (SELECT source,
           (nw >= 50 AND nw <= 100000) AS p_words,
           (nw > 0 AND wlsum * 1000 // nw BETWEEN 3000 AND 10000) AS p_mwl,
           (nw > 0 AND alpha * 1000 // nw >= 800) AS p_alpha,
           (nw > 0 AND symbols * 1000 // nw <= 100) AS p_symbol,
           (stops >= 2) AS p_stop
         FROM f)
       SELECT source, count(*)::BIGINT AS n_docs,
         CAST(sum(CASE WHEN p_words AND p_mwl AND p_alpha AND p_symbol
           AND p_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         CAST(sum(CASE WHEN NOT p_words THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_words,
         CAST(sum(CASE WHEN NOT p_mwl THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_mwl,
         CAST(sum(CASE WHEN NOT p_alpha THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_alpha,
         CAST(sum(CASE WHEN NOT p_symbol THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_symbol,
         CAST(sum(CASE WHEN NOT p_stop THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_stop
       FROM p GROUP BY source ORDER BY source""",
    // same HDR bucket index/lower-bound algebra as t17, p1/p99 picks,
    // then the clipped per-source re-aggregation
    "t24_winsorized_stats" ->
      """WITH d AS (SELECT doc_id, source,
           len(string_split(text, ' '))::BIGINT AS v FROM documents),
         h AS (SELECT CASE WHEN v < 32 THEN v ELSE
             (length(bin(v)) - 1) * 32 + ((v >> (length(bin(v)) - 6)) - 32)
           END AS idx, count(*) AS cnt
           FROM d GROUP BY 1),
         c AS (SELECT idx, sum(cnt) OVER (ORDER BY idx) AS cum,
             sum(cnt) OVER () AS n FROM h),
         pk AS (SELECT
             min(CASE WHEN cum >= (n * 1 + 99) // 100 THEN idx END)
               AS idx_lo,
             min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN idx END)
               AS idx_hi
           FROM c),
         b AS (SELECT
             CASE WHEN idx_lo < 32 THEN idx_lo
               ELSE (idx_lo % 32 + 32) << (idx_lo // 32 - 5) END AS lo,
             CASE WHEN idx_hi < 32 THEN idx_hi
               ELSE (idx_hi % 32 + 32) << (idx_hi // 32 - 5) END AS hi
           FROM pk)
         SELECT source, count(*)::BIGINT AS n_docs,
           CAST(any_value(b.lo) AS BIGINT) AS lo,
           CAST(any_value(b.hi) AS BIGINT) AS hi,
           CAST(sum(CASE WHEN v < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_lo,
           CAST(sum(CASE WHEN v > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_hi,
           CAST(sum(v) AS BIGINT) AS tok_sum,
           CAST(sum(greatest(least(v, b.hi), b.lo)) AS BIGINT) AS wtok_sum,
           (CAST(sum(v) AS BIGINT) * 1000000) // count(*) AS mean_fp,
           (CAST(sum(greatest(least(v, b.hi), b.lo)) AS BIGINT) * 1000000)
             // count(*) AS wmean_fp
         FROM d, b GROUP BY source ORDER BY source""",
    // same md5-hashed distinct 5-grams, first-seen = min(doc_id),
    // novelty share at 1e-6 fixed point
    "t23_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           FROM documents),
         t2 AS (SELECT doc_id, tk, len(tk)::BIGINT AS n FROM t
           WHERE len(tk) >= 5),
         g0 AS (SELECT doc_id, tk,
             unnest(range(0, n - 4))::BIGINT AS i FROM t2),
         g AS (SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(array_to_string(
               tk[(i + 1)::INT : (i + 5)::INT], ' ')), 1, 15) AS BIGINT)
               AS g
           FROM g0),
         fst AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
         SELECT doc_id, count(*)::BIGINT AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           (CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // count(*) AS novelty_fp
         FROM g JOIN fst f USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    // four unrolled BPE rounds: pair-count over the weighted vocabulary,
    // 1-row argmax, boundary-space replace — the same decision sequence
    // the engine's driver loop takes
    // t22's four merge rounds replayed with the word key carried
    // through, then the encode join + per-doc aggregate
    "t30_bpe_encode" ->
      """WITH w0 AS (SELECT w, count(*)::BIGINT AS cnt FROM
           (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         s0 AS (SELECT w, cnt, ' ' ||
             array_to_string(string_split(w, ''), ' ') || ' ' AS seg
           FROM w0),
         p1 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s0))
             GROUP BY 1, 2),
         b1 AS (SELECT l, r FROM p1 ORDER BY pc DESC, l, r LIMIT 1),
         s1 AS (SELECT w, cnt, replace(seg, ' '||b1.l||' '||b1.r||' ',
             ' '||b1.l||b1.r||' ') AS seg FROM s0, b1),
         p2 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s1))
             GROUP BY 1, 2),
         b2 AS (SELECT l, r FROM p2 ORDER BY pc DESC, l, r LIMIT 1),
         s2 AS (SELECT w, cnt, replace(seg, ' '||b2.l||' '||b2.r||' ',
             ' '||b2.l||b2.r||' ') AS seg FROM s1, b2),
         p3 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s2))
             GROUP BY 1, 2),
         b3 AS (SELECT l, r FROM p3 ORDER BY pc DESC, l, r LIMIT 1),
         s3 AS (SELECT w, cnt, replace(seg, ' '||b3.l||' '||b3.r||' ',
             ' '||b3.l||b3.r||' ') AS seg FROM s2, b3),
         p4 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s3))
             GROUP BY 1, 2),
         b4 AS (SELECT l, r FROM p4 ORDER BY pc DESC, l, r LIMIT 1),
         s4 AS (SELECT w, replace(seg, ' '||b4.l||' '||b4.r||' ',
             ' '||b4.l||b4.r||' ') AS seg FROM s3, b4),
         vocab AS (SELECT w,
             len(string_split(trim(seg, ' '), ' '))::BIGINT AS n_sub
           FROM s4),
         dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
             sum(len(dw.w))::BIGINT AS n_chars,
             sum(vocab.n_sub)::BIGINT AS n_subtokens
           FROM dw JOIN vocab ON dw.w = vocab.w GROUP BY doc_id)
         SELECT doc_id, n_words, n_chars, n_subtokens,
           CAST((n_chars * 1000000) // n_subtokens AS BIGINT)
             AS fertility_fp
         FROM agg ORDER BY doc_id""",
    "t31_unigram_train" -> t31Sql,
    "t32_unigram_encode" -> t32Sql,
    "t22_bpe_train" ->
      """WITH w0 AS (SELECT w, count(*)::BIGINT AS cnt FROM
           (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY w),
         s0 AS (SELECT cnt, ' ' ||
             array_to_string(string_split(w, ''), ' ') || ' ' AS seg
           FROM w0),
         p1 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s0))
             GROUP BY 1, 2),
         b1 AS (SELECT l, r, pc FROM p1 ORDER BY pc DESC, l, r LIMIT 1),
         s1 AS (SELECT cnt, replace(seg, ' '||b1.l||' '||b1.r||' ',
             ' '||b1.l||b1.r||' ') AS seg FROM s0, b1),
         p2 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s1))
             GROUP BY 1, 2),
         b2 AS (SELECT l, r, pc FROM p2 ORDER BY pc DESC, l, r LIMIT 1),
         s2 AS (SELECT cnt, replace(seg, ' '||b2.l||' '||b2.r||' ',
             ' '||b2.l||b2.r||' ') AS seg FROM s1, b2),
         p3 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s2))
             GROUP BY 1, 2),
         b3 AS (SELECT l, r, pc FROM p3 ORDER BY pc DESC, l, r LIMIT 1),
         s3 AS (SELECT cnt, replace(seg, ' '||b3.l||' '||b3.r||' ',
             ' '||b3.l||b3.r||' ') AS seg FROM s2, b3),
         p4 AS (SELECT syms[i] AS l, syms[i+1] AS r,
             sum(cnt)::BIGINT AS pc FROM
             (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM
               (SELECT cnt, string_split(trim(seg, ' '), ' ') AS syms
                 FROM s3))
             GROUP BY 1, 2),
         b4 AS (SELECT l, r, pc FROM p4 ORDER BY pc DESC, l, r LIMIT 1)
         SELECT 1::BIGINT AS rank, l AS lsym, r AS rsym, l||r AS merged,
           pc AS pair_cnt FROM b1
         UNION ALL SELECT 2::BIGINT, l, r, l||r, pc FROM b2
         UNION ALL SELECT 3::BIGINT, l, r, l||r, pc FROM b3
         UNION ALL SELECT 4::BIGINT, l, r, l||r, pc FROM b4
         ORDER BY rank""",
    "t21_quality_classifier" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents),
         feats AS (SELECT doc_id, list_concat(w,
             list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1]))
           AS fs FROM toks),
         scored AS (SELECT doc_id, len(fs)::BIGINT AS n_feat,
           list_reduce(list_prepend(0::BIGINT, list_transform(fs, f ->
             ((CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 4096)
               * 2654435761) % 2147483648 - 1073741824)),
             (a, b) -> a + b) AS score_num
           FROM feats)
         SELECT doc_id, n_feat, score_num, score_num // n_feat AS score_fp,
           (score_num >= 0)::BIGINT AS keep
         FROM scored ORDER BY doc_id""",
    // independent formulation of the top-bigram statistic: unnest +
    // group + (c DESC, g ASC) rank, vs the engine's per-row sorted fold
    "t20_repetition_filter" ->
      """WITH toks AS (SELECT doc_id, n_chars,
           string_split(text, ' ') AS w FROM documents),
         st AS (SELECT doc_id, n_chars, len(w) AS nw,
             len(list_distinct(w)) AS ndw,
             greatest(len(w) - 2, 0) AS n3,
             CASE WHEN len(w) >= 3 THEN len(list_distinct(
               list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
             ELSE 0 END AS nd3
           FROM toks),
         bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS g
           FROM toks WHERE len(w) >= 2),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         top AS (SELECT doc_id, g, c FROM (
             SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
               ORDER BY c DESC, g) AS rn FROM cnt)
           WHERE rn = 1)
         SELECT st.doc_id, CAST(st.nw AS BIGINT) AS n_words,
           (st.nw - st.ndw) * 1000000 // st.nw AS dupword_fp,
           CASE WHEN st.n3 = 0 THEN 0
             ELSE (st.n3 - st.nd3) * 1000000 // st.n3 END AS dup3_fp,
           CAST(coalesce(top.c, 0) AS BIGINT) AS top2_cnt,
           coalesce(top.c * length(top.g), 0) * 1000000 // st.n_chars
             AS top2_fp,
           ((st.nw - st.ndw) * 1000000 // st.nw < 300000)
             AND (coalesce(top.c * length(top.g), 0) * 1000000
               // st.n_chars < 200000)
             AND (CASE WHEN st.n3 = 0 THEN 0
               ELSE (st.n3 - st.nd3) * 1000000 // st.n3 END < 600000)
             AS kept
         FROM st LEFT JOIN top ON st.doc_id = top.doc_id
         ORDER BY st.doc_id""",
    // the SAME integer LUT is interpolated here, so both engines do
    // pure integer arithmetic — no libm log anywhere
    "t19_char_entropy" -> s"""
      WITH lut AS (SELECT [${entLut.mkString(", ")}]::BIGINT[] AS l),
      d AS (SELECT doc_id, text, length(text) AS len FROM documents),
      c AS (SELECT doc_id, len,
          list_transform(list_distinct(string_split(text, '')),
            ch -> length(text) - length(replace(text, ch, ''))) AS cnts
        FROM d)
      SELECT doc_id, CAST(len AS BIGINT) AS len,
        CAST(len(cnts) AS BIGINT) AS n_distinct,
        CASE WHEN len = 0 THEN 0 ELSE
          CAST(list_reduce(list_transform(cnts,
            c -> CAST(c AS BIGINT) * (l[len + 1] - l[c + 1])),
            (x, y) -> x + y) // len AS BIGINT) END AS ent_fp
      FROM c, lut ORDER BY doc_id""",
    "t18_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id,
           unnest(list_filter(string_split(text, ' '),
             t -> length(t) >= 4)) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
         GROUP BY 1, 2),
       dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       nn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
       sc AS (SELECT tf.doc_id, tf.term,
           CAST(tf.tf * nn.n_docs AS DOUBLE) / CAST(dfx.df AS DOUBLE)
             AS score
         FROM tf JOIN dfx USING (term) CROSS JOIN nn)
       SELECT doc_id, rnk, term, score FROM (
         SELECT doc_id, term, score,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS BIGINT) AS rnk
         FROM sc)
       WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // HDR bucket walk in exact integer bit arithmetic; >> and shiftright,
    // div and //, all truncate identically on these positive longs
    "t17_hdr_quantiles" ->
      """WITH b AS (SELECT event_type,
           CAST(floor(value * 100) AS BIGINT) AS v FROM events),
       h AS (SELECT event_type,
           CASE WHEN v < 32 THEN v ELSE
             (length(bin(v)) - 1) * 32 + ((v >> (length(bin(v)) - 6)) - 32)
           END AS idx, count(*) AS cnt
         FROM b GROUP BY 1, 2),
       c AS (SELECT event_type, idx, cnt,
           sum(cnt) OVER (PARTITION BY event_type ORDER BY idx) AS cum,
           sum(cnt) OVER (PARTITION BY event_type) AS n
         FROM h),
       spec(q_label, qn, qd) AS (SELECT * FROM (VALUES
         ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100),
         ('p999', 999, 1000))),
       pick AS (SELECT event_type, q_label, min(idx) AS idx,
           CAST(any_value(n) AS BIGINT) AS n
         FROM c, spec WHERE cum >= (n * qn + qd - 1) // qd
         GROUP BY 1, 2)
       SELECT event_type, q_label, n, idx,
         CASE WHEN idx < 32 THEN idx
           ELSE (idx % 32 + 32) << (idx // 32 - 5) END AS q_lb
       FROM pick ORDER BY event_type, q_label""",
    // rational-idf BM25 replay; parenthesization matches the Spark plan
    // term by term so every IEEE double (and its 1e-6 floor) is identical
    "t16_bm25_topk" ->
      """WITH qt(q_id, term) AS (SELECT * FROM (VALUES
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
       agg AS (SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS score_fp,
           count(*) AS n_terms_hit FROM sc GROUP BY 1, 2)
       SELECT q_id, rank, doc_id, score_fp, n_terms_hit FROM (
         SELECT q_id, doc_id, score_fp, n_terms_hit,
           row_number() OVER (PARTITION BY q_id
             ORDER BY score_fp DESC, doc_id) AS rank
         FROM agg) WHERE rank <= 10 ORDER BY q_id, rank""",
    "t14_zipf_curve" ->
      """WITH g AS (SELECT source, unnest(list_distinct(list_transform(
             range(1, length(text) - 2), i -> substr(text, i::INT, 4)))) AS gr
         FROM documents),
       occ AS (SELECT source,
           CAST('0x' || substr(md5(gr), 1, 15) AS BIGINT) AS hv FROM g),
       gdf AS (SELECT hv, count(*) AS df FROM occ GROUP BY 1),
       grank AS (SELECT hv, df,
           row_number() OVER (ORDER BY df DESC, hv) AS rank FROM gdf),
       gsel AS (SELECT rank, df FROM grank
         WHERE rank IN (1,2,4,8,16,32,64,128,256,512,1024)),
       gout AS (SELECT '__global' AS scope, a.rank, a.df,
           (a.df * 1000000) // b.df AS ratio2_fp
         FROM gsel a JOIN gsel b ON b.rank = a.rank * 2
         WHERE a.rank <= 512),
       sdf AS (SELECT source, hv, count(*) AS df FROM occ GROUP BY 1, 2),
       srank AS (SELECT source, hv, df, row_number() OVER (
           PARTITION BY source ORDER BY df DESC, hv) AS rank FROM sdf),
       ssel AS (SELECT source, rank, df FROM srank
         WHERE rank IN (1,2,4,8,16,32,64,128,256,512,1024)),
       sout AS (SELECT a.source AS scope, a.rank, a.df,
           (a.df * 1000000) // b.df AS ratio2_fp
         FROM ssel a JOIN ssel b ON b.source = a.source
           AND b.rank = a.rank * 2
         WHERE a.rank <= 512)
       SELECT * FROM gout UNION ALL SELECT * FROM sout
       ORDER BY scope, rank""",
    "t13_kmv_distinct" ->
      """WITH tok AS (SELECT DISTINCT source,
           CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hv
         FROM (SELECT source, unnest(list_distinct(list_transform(
             range(1, length(text) - 2), i -> substr(text, i::INT, 4)))) AS g
           FROM documents)),
       sk AS (SELECT source, hv,
           row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM tok),
       sk64 AS (SELECT source, hv, rn FROM sk WHERE rn <= 64),
       exact AS (SELECT source, count(*) AS n_exact FROM tok GROUP BY 1),
       kth AS (SELECT source, max(hv) AS kth FROM sk64 GROUP BY 1
         HAVING count(*) = 64),
       per_src AS (SELECT e.source AS scope, e.n_exact,
           CAST(floor(((63.0 * 1152921504606846976.0) / k.kth) * 1e4) AS BIGINT)
             AS kmv_fp
         FROM exact e JOIN kth k USING (source)),
       guni AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
         FROM (SELECT DISTINCT hv FROM sk64)),
       grow AS (SELECT '__union_all' AS scope,
           (SELECT count(DISTINCT hv) FROM tok) AS n_exact,
           CAST(floor(((63.0 * 1152921504606846976.0)
             / max(CASE WHEN rn = 64 THEN hv END)) * 1e4) AS BIGINT) AS kmv_fp
         FROM guni WHERE rn <= 64),
       ab AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
         FROM (SELECT DISTINCT hv FROM sk64 WHERE source IN ('src0', 'src1'))),
       ab64 AS (SELECT hv FROM ab WHERE rn <= 64),
       rho AS (SELECT count(*) AS r FROM ab64
         WHERE hv IN (SELECT hv FROM sk64 WHERE source = 'src0')
           AND hv IN (SELECT hv FROM sk64 WHERE source = 'src1')),
       abkth AS (SELECT max(hv) AS kth FROM ab64),
       iexact AS (SELECT count(*) AS n FROM
         (SELECT hv FROM tok WHERE source = 'src0'
          INTERSECT SELECT hv FROM tok WHERE source = 'src1')),
       irow AS (SELECT '__inter_src0_src1' AS scope,
           (SELECT n FROM iexact) AS n_exact,
           CAST(floor((((SELECT r FROM rho) / 64.0)
             * ((63.0 * 1152921504606846976.0) / (SELECT kth FROM abkth)))
             * 1e4) AS BIGINT) AS kmv_fp)
       SELECT * FROM per_src UNION ALL SELECT * FROM grow
       UNION ALL SELECT * FROM irow ORDER BY scope""",
    "t12_cms_heavy_hitters" ->
      """WITH tf AS (SELECT tok
           FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
           WHERE length(tok) > 0),
       rows3 AS (SELECT unnest(range(0, 3)) AS j),
       cells AS (SELECT j,
           CAST('0x' || substr(md5(tok), (1 + 5*j)::INT, 10) AS BIGINT) % 512
             AS b, count(*) AS c
         FROM tf CROSS JOIN rows3 GROUP BY 1, 2),
       top AS (SELECT tok, count(*) AS n_exact FROM tf GROUP BY tok
         ORDER BY n_exact DESC, tok LIMIT 20),
       est AS (SELECT t.tok, max(t.n_exact) AS n_exact, min(c.c) AS cms_est
         FROM top t CROSS JOIN rows3 r
         JOIN cells c ON c.j = r.j AND c.b =
           CAST('0x' || substr(md5(t.tok), (1 + 5*r.j)::INT, 10) AS BIGINT) % 512
         GROUP BY t.tok)
       SELECT tok AS token, n_exact::BIGINT AS n_exact, cms_est::BIGINT AS cms_est
       FROM est ORDER BY n_exact DESC, token""",
    "t11_hll_cardinality" ->
      """WITH occ AS (SELECT DISTINCT source,
           CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hv
         FROM (SELECT source, unnest(list_distinct(list_transform(
             range(1, length(text) - 2), i -> substr(text, i::INT, 4)))) AS g
           FROM documents)),
       hb AS (SELECT source, hv % 64 AS b, hv // 64 AS w FROM occ),
       mx AS (SELECT source, b,
           max(CASE WHEN w = 0 THEN 0 ELSE w & (-w) END) AS lb
         FROM hb GROUP BY source, b),
       grid AS (SELECT s.source, gb.b
         FROM (SELECT DISTINCT source FROM documents) s,
           (SELECT unnest(range(0, 64)) AS b) gb),
       z AS (SELECT source,
           list_reduce(list(
             CASE WHEN lb IS NULL OR lb = 0 THEN 1.0 ELSE 0.5 / lb END
             ORDER BY b), (x, y) -> x + y) AS zsum,
           CAST(sum(CASE WHEN lb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
         FROM (SELECT g.source, g.b, mx.lb FROM grid g
           LEFT JOIN mx ON g.source = mx.source AND g.b = mx.b)
         GROUP BY source),
       est AS (SELECT source,
           CASE WHEN (0.709 * 64 * 64 / zsum) <= 160.0 AND v > 0
                THEN 64.0 * ln(64.0 / v)
                ELSE 0.709 * 64 * 64 / zsum END AS e
         FROM z),
       ex AS (SELECT source, count(*) AS n_exact FROM occ GROUP BY source)
       SELECT ex.source, ex.n_exact,
         CAST(floor(est.e * 1e4) AS BIGINT) AS hll_fp
       FROM ex JOIN est ON ex.source = est.source ORDER BY ex.source""",
    "t10_pii_scrub" ->
      """WITH seeded AS (SELECT doc_id, text ||
           (CASE WHEN doc_id % 7 = 0
             THEN ' contact user' || doc_id || '@example.com' ELSE '' END) ||
           (CASE WHEN doc_id % 11 = 0
             THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             ELSE '' END) AS t
         FROM documents),
       scrub AS (SELECT doc_id, t,
           regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+',
             '<EMAIL>', 'g'), '555-[0-9]{4}', '<PHONE>', 'g') AS sc
         FROM seeded)
       SELECT doc_id,
         len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+'))::BIGINT
           AS n_emails,
         len(regexp_extract_all(t, '555-[0-9]{4}'))::BIGINT AS n_phones,
         length(t)::BIGINT AS len_before,
         length(sc)::BIGINT AS len_after
       FROM scrub ORDER BY doc_id""",
    "t09_bigram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       pos AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS pos FROM toks),
       big AS (SELECT doc_id, pos, tk[pos] AS w1, tk[pos+1] AS w2 FROM pos),
       c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
       c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
       v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(tk) AS t FROM toks)),
       term AS (SELECT b.doc_id, b.pos,
           -ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)::DOUBLE) AS t
         FROM big b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
           JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v),
       agg AS (SELECT doc_id, count(*) AS n_bigrams,
           list_reduce(list(t ORDER BY pos), (x, y) -> x + y) AS total
         FROM term GROUP BY doc_id)
       SELECT d.doc_id, coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
         CAST(floor(coalesce(a.total / a.n_bigrams::DOUBLE, 0.0) * 1e4)
           AS BIGINT) AS avg_nll_fp
       FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
       ORDER BY d.doc_id""",
    "t15_perplexity_bucket" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       pos AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS pos FROM toks),
       big AS (SELECT doc_id, pos, tk[pos] AS w1, tk[pos+1] AS w2 FROM pos),
       c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
       c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
       v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(tk) AS t FROM toks)),
       term AS (SELECT b.doc_id, b.pos,
           -ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)::DOUBLE) AS t
         FROM big b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
           JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v),
       agg AS (SELECT doc_id, count(*) AS n_bigrams,
           list_reduce(list(t ORDER BY pos), (x, y) -> x + y) AS total
         FROM term GROUP BY doc_id),
       score AS (SELECT d.doc_id,
           CAST(floor(coalesce(a.total / a.n_bigrams::DOUBLE, 0.0) * 1e4)
             AS BIGINT) AS avg_nll_fp
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
       r AS (SELECT doc_id, avg_nll_fp,
           row_number() OVER (ORDER BY avg_nll_fp, doc_id) AS rank,
           count(*) OVER () AS n FROM score)
       SELECT doc_id, avg_nll_fp, rank,
         CASE ((rank - 1) * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
           ELSE 'tail' END AS bucket
       FROM r ORDER BY doc_id""",
    "t08_boilerplate_share" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 3),
             i -> CAST('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)
                  AS BIGINT)))) AS g
         FROM toks WHERE len(t) >= 5),
       df AS (SELECT g, count(*) AS dfc FROM g GROUP BY g)
       SELECT gg.doc_id, count(*)::BIGINT AS n_grams,
         CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         CAST(floor(CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) AS share_fp
       FROM g gg JOIN df USING (g)
       GROUP BY gg.doc_id ORDER BY gg.doc_id""",
    "t05_context_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       w AS (SELECT doc_id, toks,
           unnest(range(0, ((len(toks) - 1) // 16) + 1)) AS w FROM t)
       SELECT doc_id, w::BIGINT AS win_idx,
         len(toks[w*16+1 : w*16+32])::BIGINT AS n_win_tokens,
         CAST('0x' || substr(md5(array_to_string(toks[w*16+1 : w*16+32], ' ')),
           1, 15) AS BIGINT) AS win_hash
       FROM w ORDER BY doc_id, win_idx""",
    "t04_bpe_tokens" ->
      """SELECT doc_id,
         len(pieces)::BIGINT AS n_pieces,
         len(list_distinct(pieces))::BIGINT AS n_vocab,
         list_reduce(list_transform(pieces, p -> length(p)::BIGINT), (a,b) -> a+b)
           AS n_covered_chars
         FROM (SELECT doc_id,
           regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]') AS pieces
           FROM documents)
         ORDER BY doc_id""",
    "t01_token_quality" ->
      """SELECT doc_id, n_tokens, n_distinct, total_chars, stop_ratio,
         total_chars::DOUBLE / n_tokens::DOUBLE AS avg_token_len,
         (1.0 - stop_ratio) * least(1.0, n_tokens::DOUBLE / 100.0) AS quality
         FROM (SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           len(list_distinct(toks))::BIGINT AS n_distinct,
           list_reduce(list_transform(toks, t -> length(t)::BIGINT), (a,b) -> a+b) AS total_chars,
           len(list_filter(toks, t -> t IN ('the','a','of','and','to')))::DOUBLE / len(toks)::DOUBLE AS stop_ratio
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
         ORDER BY doc_id""",
    "t02_langid" ->
      """SELECT doc_id, lang AS actual_lang, s_de, s_en, s_es, s_fr, s_zh,
         CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
              WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
              ELSE 'zh' END AS pred_lang
         FROM (SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
           greatest(s_de, s_en, s_es, s_fr, s_zh) AS best
           FROM (SELECT doc_id, lang,
             len(list_filter(toks, t -> t IN ('table','key','hash')))::BIGINT AS s_de,
             len(list_filter(toks, t -> t IN ('the','a','fast','slow')))::BIGINT AS s_en,
             len(list_filter(toks, t -> t IN ('data','row','scan')))::BIGINT AS s_es,
             len(list_filter(toks, t -> t IN ('order','query','value')))::BIGINT AS s_fr,
             len(list_filter(toks, t -> t IN ('spark','join','merge')))::BIGINT AS s_zh
             FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)))
         ORDER BY doc_id""",
    "t06_vocabulary" ->
      """WITH occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents)
       SELECT tok, count(*) AS tf,
         count(DISTINCT doc_id) AS df,
         CAST(floor(count(*)::DOUBLE / count(DISTINCT doc_id)::DOUBLE * 1e6)
           AS BIGINT) AS rate_fp
       FROM occ GROUP BY tok ORDER BY tok""",
    "t07_quality_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       m AS (SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           CAST(floor(len(list_distinct(toks))::DOUBLE / len(toks) * 1e6)
             AS BIGINT) AS ttr_fp,
           CAST(floor(list_max(list_transform(list_distinct(toks),
               u -> len(list_filter(toks, x -> x = u))))::DOUBLE
             / len(toks) * 1e6) AS BIGINT) AS top_word_fp,
           CASE WHEN len(toks) > 1 THEN
             CAST(floor(list_max(list_transform(
                 list_distinct(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1])),
                 g -> len(list_filter(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1]), x -> x = g))))::DOUBLE
               / (len(toks) - 1) * 1e6) AS BIGINT)
           ELSE 0 END AS top_gram_fp
         FROM t)
       SELECT doc_id, n_tokens, ttr_fp, top_word_fp, top_gram_fp,
         (ttr_fp >= 450000 AND top_word_fp <= 120000 AND top_gram_fp <= 60000)
           AS keep
       FROM m ORDER BY doc_id""",
    "t03_fingerprint" ->
      s"""SELECT doc_id,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS content_fp,
         list_min($sqlHs) AS min_token_fp,
         list_reduce(list_transform(range(0, 60), b ->
           CASE WHEN list_reduce(list_transform($sqlHs, h ->
             CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END), (x,y) -> x+y) > 0
           THEN (1::BIGINT << b) ELSE 0::BIGINT END), (x,y) -> x+y) AS simhash
         FROM documents ORDER BY doc_id""",
  )
}
