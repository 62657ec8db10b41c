package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The near-duplicate module's bucket self-join, and the d-family's
  * report plans built on it. */
class NearDupSpec extends SparkSpec {

  test("the triangle-split self-join yields every in-bucket pair exactly once") {
    import spark.implicits._
    val cap = 4
    // bucket 0 cold (≤ cap), 1 and 2 hot at a few × cap, 3 past cap·MaxSplit
    val sizes = Seq(0 -> 3, 1 -> 3 * cap, 2 -> (5 * cap + 1), 3 -> (cap * NearDup.MaxSplit + 7))
    val rows = sizes.flatMap { case (b, n) => (0 until n).map(i => (b * 10000L + i, b.toLong)) }
      .toDF("id", "bkt")
    val got = NearDup.selfJoin(rows, "id", Seq("bkt"), cap)
      .select(col("x.id"), col("y.id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = rows.as("x").join(rows.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(want.length == sizes.map { case (_, n) => n.toLong * (n - 1) / 2 }.sum)
    assert(got.length == got.distinct.length, "a pair came out of two pair-groups")
    assert(got.toSet == want.toSet)
  }

  test("d24 and d27 compute their report figures in the plan") {
    // d27's one driver count (|corpus|) is the only figure outside its
    // returned plan
    assert(jobsOf(DedupQueries.d27_bloom_prefilter(spark, sf()).collect()) <= 16)
    // building d24's plan over the memoized labels starts no job beyond
    // reading the documents table's schema
    DedupQueries.d24_cluster_histogram(spark, sf()).collect()
    assert(jobsOf(DedupQueries.d24_cluster_histogram(spark, sf())) ==
      jobsOf(graft.core.Tables.documents(spark, sf())))
  }
}
