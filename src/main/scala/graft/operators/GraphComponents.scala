package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{AutoScale, Fixpoint}

/** Distributed connected components over an edge list, by alternating
  * large-star / small-star rounds (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC '14) — the standard shape for
  * transitive dedup-cluster closure at data-pipeline scale.
  *
  * Why not plain min-label propagation: its round count is the graph
  * DIAMETER (a 100 TB crawl's duplicate chains can be long), while
  * large-star/small-star provably converges in O(log² n) rounds — and in
  * practice a handful — with each round just two hash-partition
  * aggregations + a join, all on the edge list (never an adjacency
  * matrix, never driver state).
  *
  * Each round:
  *  - large-star: every node u links its LARGER neighbors to
  *    m = min(N(u) ∪ {u});
  *  - small-star: every node u links its smaller-or-equal neighbors and
  *    itself to m.
  * The fixpoint is a star forest: every node carries an edge to its
  * component minimum. The rounds run on [[graft.core.Fixpoint.converge]],
  * which stops when the canonical edge set repeats (no driver-side edge
  * materialization) and cuts each round's lineage.
  *
  * Reference semantics: the io-server has no graph operator; this closes
  * the transitive step its pairwise dedup output needs (see
  * DedupQueries.d07's one-step doc comment).
  */
object GraphComponents {

  /** The symmetric closure of `e`, hash-partitioned on u at `width`. */
  private def symmetric(e: DataFrame, width: Int): DataFrame =
    e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(width, col("u"))

  /** One star over the symmetric `sym`: (mins, the edge (v, m) of every
    * neighbor v of u that `keep` selects), mins = (u, m = min(N(u) ∪ {u})). */
  private def star(sym: DataFrame, keep: Column): (DataFrame, DataFrame) = {
    val mins = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("mn"))
    (mins, sym.join(mins, "u").filter(keep).select(col("v").as("u"), col("mn").as("v")))
  }

  /** Canonical (max, min) orientation, self-loops dropped, distinct.
    * With `parts` set, the distinct's exchange is pinned to that width
    * via an explicit repartition on the full key (HashPartitioning(u,v)
    * satisfies the distinct's clustering, so no second exchange). */
  private def canon(e: DataFrame, parts: Option[Int] = None): DataFrame = {
    val c = e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
    parts.fold(c)(p => c.repartition(p, col("u"), col("v"))).distinct()
  }

  /** Component labels for every node appearing in `edges` (two long
    * columns, any names — positionally (a, b)). Output: (node, comp)
    * with comp = min node id of the component; the minimum labels
    * itself. */
  def labels(edges: DataFrame, maxIter: Int = 50): DataFrame =
    labelsWithRounds(edges, maxIter)._1

  /** [[labels]] plus the number of large+small-star rounds executed
    * before the edge-set fixpoint — the observable the depth probes pin
    * (a path graph of length L must converge in O(log L) rounds, not
    * O(L)).
    *
    * Round shape:
    *  - NO canon/distinct between the large-star and small-star steps:
    *    min over a multiset equals min over its set, so duplicate
    *    intermediate edges cannot change the round-end canon().
    *  - Each round's shuffles run at [[graft.core.AutoScale.shuffleWidth]]
    *    of the edge count the previous fill returned. The pre-partitioned
    *    sym satisfies both the groupBy("u") and the star join, so no
    *    exchange is added; labels are partitioning-invariant. */
  def labelsWithRounds(edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    var width = 1
    val (e, rounds) = Fixpoint.converge(canon(edges.toDF("u", "v")), maxIter) {
      (e, rows) =>
        width = AutoScale.shuffleWidth(edges.sparkSession, rows)
        val (_, large) = star(symmetric(e, width), col("v") > col("u"))
        val (mins, small) = star(symmetric(large, width), col("v") < col("u"))
        canon(small.unionByName(mins.select(col("u"), col("mn").as("v"))), Some(width))
    }
    // star forest: (u → comp) edges for non-roots; roots label
    // themselves. One distinct over the union, at the round width.
    (e.select(col("u").as("node"), col("v").as("comp"))
      .unionByName(e.select(col("v").as("node"), col("v").as("comp")))
      .repartition(width, col("node"), col("comp"))
      .distinct(), rounds)
  }
}
