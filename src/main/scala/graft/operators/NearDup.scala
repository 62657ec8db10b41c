package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Engine, SessionMemo, Tables}
import graft.functions.TextFunctions.minhashFromHashes

/** The near-duplicate stages the dedup family ([[DedupQueries]]) composes:
  * sketch, band, pair up inside a bucket, verify — with the quadratic step
  * only ever inside a band bucket, never across the corpus.
  *
  *  - SKETCH: [[sketch]] (`(doc_id, sig, tk)`: the 2r-hash MinHash
  *    signature over a sorted hash set, which rides along as the verify
  *    payload) and [[bands]] (one row per (band, key)).
  *  - CANDIDATES: [[selfJoin]], the bucket self-join behind the lossless
  *    triangle split, and [[probe]], the probe-vs-index equi-join.
  *  - VERIFY: [[jaccard]] (estimate prefilter, size-ratio gate, exact
  *    merge-loop Jaccard, threshold), composed with the others as
  *    [[lshVerifiedPairs]]; [[cosine]] over [[vectors]].
  *  - COLLAPSE: [[collapse]] (one representative per exact digest,
  *    memoized) and [[expandPairs]] (rep-level pairs back to doc level).
  *  - FILL: [[fill]], the eager cache fill through [[Engine.materialize]]
  *    (one job, where a `count()` takes three under AQE).
  *
  * Every score is the left-fold / integer arithmetic the DuckDB oracles
  * replay, so results are bit-exact across engines. */
object NearDup {

  // --------------------------------------------------------------- sketch

  /** `(doc_id, sig, tk)`: the 2r-hash MinHash signature of the sorted hash
    * set `hashes` (of each `df` row), which is kept as the payload `tk`
    * the exact Jaccard is measured over. */
  def sketch(df: DataFrame, hashes: Column, r: Int): DataFrame =
    df.withColumn("hs", hashes)
      .select(col("doc_id"), minhashFromHashes(col("hs"), 2 * r).as("sig"),
        col("hs").as("tk"))

  /** 2 bands × `r` rows: one row per (`carry` columns, band, key), the key
    * being the band's `r` signature hashes joined with `_`. */
  def bands(sk: DataFrame, r: Int, carry: String*): DataFrame =
    sk.select(carry.map(col) :+ explode(transform(sequence(lit(0), lit(1)), b =>
        struct(b.as("band"),
          concat_ws("_", slice(col("sig"), b * r + 1, lit(r))).as("key"))))
        .as("bk"): _*)
      .select(carry.map(col) ++ Seq(col("bk.band"), col("bk.key")): _*)

  // ----------------------------------------------------------- candidates

  /** Rows per bucket before the LOSSLESS triangle split kicks in. The split
    * changes no result (every candidate pair survives, exactly once), so
    * the trigger is tuned for task granularity, not correctness: a bucket
    * of n rows becomes S(S+1)/2 tasks of roughly (2·cap)² candidate
    * comparisons each instead of one C(n,2) straggler. */
  private val BucketCap = 1024

  /** Replication bound for the triangle split: a hot-bucket row is copied
    * into at most MaxSplit pair-groups, so shuffle amplification is
    * bounded even for a degenerate mega-bucket. Beyond cap·MaxSplit rows
    * per bucket, per-task work grows again — but a bucket that large has
    * a quadratic PAIR OUTPUT, which no plan can bound without losing
    * pairs; the exact-dup [[collapse]] is what keeps real crawl corpora
    * below this, and collapsing near-identical clusters to
    * representatives (d07's output) is the documented mitigation beyond
    * it. */
  private[operators] val MaxSplit = 64

  private val SubEnc = 1L << 20 // encodes a (i,j) pair-group as i·SubEnc+j

  /** Every pair of `rows` that share the bucket `keys`, once, as the self-
    * join under aliases x/y with `x.id < y.id`. A bucket over `cap` rows is
    * triangle-split first: its rows get salt s = hash(id) mod S,
    * S = ⌈n/cap⌉ clamped to [[MaxSplit]], and are replicated to the S
    * pair-groups {(min(k,s), max(k,s)) : k < S}; the group joins as part
    * of the bucket key and [[triangleCond]] keeps a pair only in the one
    * group matching its own salt pair, so every in-bucket pair is produced
    * exactly once while the biggest task shrinks from C(n,2) to ~(2·cap)²
    * — the classic triangle-partitioned all-pairs join. */
  def selfJoin(rows: DataFrame, id: String, keys: Seq[String],
      cap: Int = BucketCap): DataFrame = {
    val split = triangleSplit(rows, id, cap, keys)
    split.as("x").join(split.as("y"), triangleCond(id, keys))
  }

  /** Adds `bsalt` and `tgrp` to `rows`. The histogram is CACHED: it is
    * joined against both sides of the self-join, and recomputing that full
    * groupBy was the round-5 d03/d04 regression. Cold buckets take the
    * identity path (S=1, one group, zero replication). */
  private def triangleSplit(rows: DataFrame, id: String, cap: Int,
      keys: Seq[String]): DataFrame = {
    val counts = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .cache()
    val joined = rows.join(counts, keys)
    // branch so the Generate (explode) touches ONLY hot-bucket rows —
    // the cold 99% stay in one whole-stage-codegen pass with constant
    // salt/group and zero replication
    val cold = joined.filter(col("bucket_n") <= cap)
      .withColumn("bsalt", lit(0L)).withColumn("tgrp", lit(0L))
      .drop("bucket_n")
    val hot = joined.filter(col("bucket_n") > cap)
      .withColumn("nsub",
        least(ceil(col("bucket_n") / lit(cap.toDouble)), lit(MaxSplit.toLong))
          .cast("long"))
      .withColumn("bsalt", pmod(xxhash64(col(id)), col("nsub")))
      .withColumn("tgrp",
        explode(transform(sequence(lit(0L), col("nsub") - 1), k =>
          when(k <= col("bsalt"), k * SubEnc + col("bsalt"))
            .otherwise(col("bsalt") * SubEnc + k))))
      .drop("bucket_n", "nsub")
    cold.unionByName(hot)
  }

  /** Bucket keys equal, same pair-group, the pair canonical in that group
    * (its salt pair IS the group — drops the duplicates a row's other
    * group memberships would produce), ordered ids. */
  private def triangleCond(id: String, keys: Seq[String]): Column = {
    val same = keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _)
    val canonical = least(col("x.bsalt"), col("y.bsalt")) * SubEnc +
      greatest(col("x.bsalt"), col("y.bsalt")) === col("x.tgrp")
    same && col("x.tgrp") === col("y.tgrp") && canonical &&
      col(s"x.$id") < col(s"y.$id")
  }

  /** [[bands]] rows of `probe` (alias n) joined to those of `index`
    * (alias c) on (band, key): cost is |probe| × bucket occupancy, and the
    * index never pairs with itself. */
  def probe(probe: DataFrame, index: DataFrame): DataFrame =
    probe.as("n").join(index.as("c"),
      col("n.band") === col("c.band") && col("n.key") === col("c.key"))

  // --------------------------------------------------------------- verify

  /** The Jaccard cascade on candidate pairs whose sides carry `sig` and
    * `tk` under the column prefixes `x` and `y`, as codegen'd filters:
    * at least `minEq` of the 2r signature hashes equal
    * ([[graft.plans.EqCount]], none when empty), the lossless size-ratio
    * gate (J ≤ min/max of the set sizes, so it is implied by the
    * threshold), the exact Jaccard `score` via the
    * [[graft.plans.SortedIntersectSize]] merge loop
    * (|A∪B| = |A|+|B|−|A∩B|), kept at ≥ num/den. */
  def jaccard(cand: DataFrame, x: String, y: String, num: Int, den: Int,
      minEq: Option[Int], score: String): DataFrame = {
    val (pa, pb) = (col(x + "tk"), col(y + "tk"))
    minEq.fold(cand)(k =>
        cand.filter(graft.plans.EqCount(col(x + "sig"), col(y + "sig")) >= k))
      .filter(least(size(pa), size(pb)) * den >= greatest(size(pa), size(pb)) * num)
      .withColumn("inter", graft.plans.SortedIntersectSize(pa, pb).cast("double"))
      .withColumn(score, col("inter") / (size(pa) + size(pb) - col("inter")).cast("double"))
      .filter(col(score) >= lit(num.toDouble / den))
  }

  /** MinHash-LSH verified pairs `(doc_a, doc_b, score)` of a [[sketch]],
    * the whole cascade INLINE in the band join: signature and payload ride
    * the band rows through the ONE shuffle (2 × |sk| rows), [[jaccard]]
    * runs on the join output, so no pair-level row hits a shuffle until
    * only verified pairs remain; `distinct` then dedups the ≤ 2 band
    * copies of each survivor.
    *
    * Why inline beats the slim-join-then-re-join shape: bucket rows are
    * #bands × |docs| regardless of clustering, while candidate pairs are
    * quadratic in bucket occupancy — on a near-dup-clustered corpus pairs
    * ≫ docs, and that shape shuffled every candidate pair three times
    * (distinct + two payload joins). The per-pair kernels are
    * allocation-free codegen loops, and [[selfJoin]]'s triangle split
    * bounds the per-bucket blow-up. */
  def lshVerifiedPairs(sk: DataFrame, r: Int, num: Int, den: Int, minEq: Int,
      score: String): DataFrame =
    jaccard(selfJoin(bands(sk, r, "doc_id", "sig", "tk"), "doc_id", Seq("band", "key")),
        "x.", "y.", num, den, Some(minEq), score)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"), col(score))
      .distinct()

  /** `df` with its `embedding` as `a` (array<double>) and the norm `nrm`. */
  def vectors(df: DataFrame): DataFrame =
    df.withColumn("a", col("embedding").cast("array<double>"))
      .withColumn("nrm", VectorIndex.norm(col("a")))

  /** Candidate pairs of [[vectors]] rows (aliases x/y) whose cosine `cos`
    * is ≥ `min`. */
  def cosine(cand: DataFrame, min: Double): DataFrame =
    cand.withColumn("cos",
        VectorIndex.dot(col("x.a"), col("y.a")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cos") >= min)

  // ------------------------------------------------------------- collapse

  /** Exact-duplicate pre-collapse: sketching and the band join run on ONE
    * representative per content digest; [[expandPairs]] re-expands the
    * pairs to doc level. Exact duplicates are the dominant duplicate class
    * of a crawl corpus, so this shrinks the quadratic stage's input, and
    * it is lossless: exact copies have identical signatures.
    * Returns (reps(doc_id, text), members(doc_id, rep_id, gsz)), members
    * filled. MEMOIZED per (session, dir): the whole d-family collapses the
    * same `documents` input once per session. */
  def collapse(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionMemo.memoize(s, "dedup:" + dir + ":collapsed") {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // one hash partitioning on the digest: the group's min id and size
      // as window aggregates, no group table joined back
      val group = Window.partitionBy(md5(col("text").cast("binary")))
      val members = fill(docs.select(col("doc_id"),
        min("doc_id").over(group).as("rep_id"), count(lit(1)).over(group).as("gsz")))
      // reps from the FILLED membership via a semi-join on doc_id:
      // re-deriving the groups would re-run the digest shuffle
      val reps = docs.join(members.filter(col("doc_id") === col("rep_id"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      (reps, members)
    }

  /** Rep-level pairs back to doc level: every member of a duplicate group
    * inherits its representative's pairs, and the group's own members pair
    * up at `exactScore` (identical docs collide in every band and pass
    * every verify threshold). */
  def expandPairs(members: DataFrame, repPairs: DataFrame, scoreCol: String,
      exactScore: Column): DataFrame = {
    val m = members.select(col("doc_id"), col("rep_id"))
    val cross = repPairs
      .join(m.select(col("rep_id").as("doc_a"), col("doc_id").as("ma")), "doc_a")
      .join(m.select(col("rep_id").as("doc_b"), col("doc_id").as("mb")), "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col(scoreCol))
    val dups = members.filter(col("gsz") > 1)
    val within = dups.as("x").join(dups.as("y"),
        col("x.rep_id") === col("y.rep_id") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        exactScore.as(scoreCol))
    cross.unionByName(within)
  }

  // ----------------------------------------------------------------- fill

  /** `df` persisted and filled by one job: a self-join over an unfilled
    * cache would race the fill. */
  def fill(df: DataFrame): DataFrame = {
    val p = df.persist()
    Engine.materialize(p)
    p
  }
}
