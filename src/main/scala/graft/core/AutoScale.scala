package graft.core

import org.apache.spark.sql.SparkSession

/** Data-derived sketch/layout parameters (the round-11 verdict's top
  * item): the LSH band width, compaction target and ANN cell count
  * must scale with the CORPUS, not sit at constants tuned for one SF —
  * a fixed 8-bit band that holds 8 rows/bucket at sf0.1 holds 8000 at
  * 1000× and the bucket self-join goes quadratic with no code bug.
  *
  * Every derivation here is INTEGER-EXACT so the DuckDB oracle can
  * replay it verbatim from `count(*)` — no float `log2` whose rounding
  * at exact powers of two could disagree between engines. The SQL
  * twin of each function is documented inline and used by the
  * corresponding oracle text.
  */
object AutoScale {

  /** Smallest b in [minB, maxB] with 2^b · target ≥ n — i.e. the number
    * of band-key bits needed to keep mean bucket occupancy ≤ `target`.
    * Occupancy then stays in (target/2, target] as n grows, so a
    * band-bucket self-join does ≤ buckets · occ² = n · occ ≤ n · target
    * pair work: LINEAR in n (±2× sawtooth) instead of n²/2^fixedB.
    *
    * SQL twin (replayed by the d08 oracle):
    * {{{
    * SELECT CAST(coalesce(min(b), maxB) AS INT) AS b
    * FROM range(minB, maxB + 1) t(b), cnt
    * WHERE (1::BIGINT << b) * target >= n
    * }}}
    */
  def bandBits(n: Long, target: Long, minB: Int, maxB: Int): Int = {
    require(minB >= 0 && maxB >= minB && maxB < 62 && target > 0)
    var b = minB
    while (b < maxB && (1L << b) * target < n) b += 1
    b
  }

  /** Ceil(log2(n)) for n ≥ 1 as the smallest L with 2^L ≥ n; 0 for
    * n ≤ 1. SQL twin:
    * {{{
    * SELECT CAST(coalesce(min(L), 63) AS INT)
    * FROM range(0, 64) t(L), cnt WHERE (1::BIGINT << L) >= n
    * }}}
    */
  def log2Ceil(n: Long): Int = {
    var l = 0
    while (l < 63 && (1L << l) < n) l += 1
    l
  }

  /** MinHash rows-per-band, grown with corpus size: r = max(base,
    * ceil(log2Ceil(n) / 2)). Collision probability of a weakly-similar
    * pair is J^r, so the expected spurious-candidate count
    * n² · J_bg^r stays bounded when r grows ∝ log n; at the oracle SFs
    * (n ≤ 65536) this evaluates to exactly `base`, so gate outputs are
    * unchanged while a 10⁹-doc corpus gets r = 15 unattended.
    *
    * SQL twin: greatest(base, (log2ceil + 1) // 2). */
  def minhashRows(n: Long, base: Int): Int =
    math.max(base, (log2Ceil(n) + 1) / 2)

  /** Bloom-filter bit count for `nKeys` keys with 2 hash functions:
    * the smallest power of two ≥ bitsPerKey·nKeys (19 bits/key ≈ 1%
    * false positives at k=2), floored at `minM` so small corpora keep
    * the historical layout. A FIXED m saturates as the key set grows —
    * density → 1 and the prescreen passes everything, quadratically.
    *
    * SQL twin:
    * {{{
    * SELECT greatest(minM, 1::BIGINT << CAST(coalesce(min(L), 62) AS INT))
    * FROM range(0, 63) t(L), cnt WHERE (1::BIGINT << L) >= 19 * n
    * }}}
    */
  def bloomBits(nKeys: Long, bitsPerKey: Long = 19, minM: Long = 65536): Long =
    math.max(minM, 1L << log2Ceil(bitsPerKey * math.max(nKeys, 1)))

  /** Output-file count for a compaction pass, derived from VOLUME and
    * CLUSTER WIDTH instead of a constant:
    *
    *  - by size: ceil(totalBytes / targetFileBytes) — ~128 MiB files;
    *  - parallelism floor: never compact into fewer files than the
    *    cluster can read concurrently (a 400 MB table compacted to 4
    *    files starves a 32-core reader), UNLESS that would produce
    *    files under `minFileBytes` — recreating the small-file problem
    *    the pass exists to fix;
    *  - `maxFiles` cap: at PB volume the file count saturates and the
    *    file SIZE grows instead (1.5 GiB at 100 TB with the defaults).
    *    Large files stay read-parallel — parquet splits at row-group
    *    boundaries under `spark.sql.files.maxPartitionBytes` — while
    *    the listing/manifest pressure stays bounded. */
  def compactionTarget(totalBytes: Long, parallelism: Int,
      targetFileBytes: Long = 128L << 20, minFileBytes: Long = 4L << 20,
      maxFiles: Int = 1 << 16): Int = {
    val bySize = (totalBytes + targetFileBytes - 1) / targetFileBytes
    val parallelFloor = math.min(parallelism.toLong, totalBytes / minFileBytes)
    math.max(1L, math.min(math.max(bySize, parallelFloor), maxFiles.toLong))
      .toInt
  }

  /** Shuffle width for `rows` rows: about 2M rows (≈32 MB of long pairs)
    * per partition, clamped to the session's shuffle partitions, for the
    * iterative operators' explicit `repartition(n, key)` calls. Their
    * results are partitioning-invariant, so no oracle replays it. */
  def shuffleWidth(s: SparkSession, rows: Long): Int = {
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions").toLong
    math.max(1L, math.min(sessionParts, rows / 2000000L + 1L)).toInt
  }
}
