package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{Engine, SessionMemo}

/** The graph-loop queries on the round driver: each releases the
  * loop-invariant cache it fills, a p25 round shuffles once, p23 fills no
  * round it does not read, and BPE trains once per session. */
class IterativeQueriesSpec extends SparkSpec {

  /** p23's jobs at sf0.001. A 7th round, folding the 8th center's distance
    * into a frame nothing reads, filled one more (22). */
  private val P23Jobs = 21

  private def cacheEntries: Int = org.apache.spark.sql.CacheShims.entries(spark)

  test("p17, p18 and p25 leave no cache entry behind") {
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "p17" -> PipelineQueries.p17_pagerank,
      "p18" -> PipelineQueries.p18_bfs_hops,
      "p25" -> PipelineQueries.p25_label_propagation).foreach { case (name, q) =>
      val before = cacheEntries
      q(spark, sf()).collect()
      assert(cacheEntries == before, s"$name left ${cacheEntries - before} cache entries")
    }
  }

  test("p23 fills one frame per center it folds: the 8th center is picked, not folded") {
    val jobs = jobsOf(PipelineQueries.p23_kcenter_coreset(spark, sf()).collect())
    assert(jobs <= P23Jobs, jobs)
  }

  test("t30 after t22 on one session reuses the trained BPE vocabulary") {
    SessionMemo.clear(spark)
    val train = jobsOf(TextQueries.t22_bpe_train(spark, sf()).collect())
    val encode = jobsOf(TextQueries.t30_bpe_encode(spark, sf()).collect())
    // training alone fills the vocabulary and 4 rounds and collects 4 argmaxes
    assert(train >= 9, train)
    assert(encode < 9, s"t30 retrained: $encode jobs (t22: $train)")
  }

  test("a p25 round is one shuffle Exchange plus the broadcast of the edge cache") {
    val sym = PipelineQueries.lpaEdges(spark, sf()).persist()
    try {
      Engine.materialize(sym)
      val lab = sym.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")).localCheckpoint()
      val round = PipelineQueries.lpaRound(sym, 1)(lab)
      round.collect() // finalize AQE
      // the final plan's nodes; the cached edges' own plan is not a child
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => q +: nodes(q.plan)
        case _ => p +: p.children.flatMap(nodes)
      }
      val plan = nodes(round.queryExecution.executedPlan)
      val p = round.queryExecution.executedPlan.toString
      assert(plan.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, p)
      assert(plan.collect { case b: BroadcastExchangeExec => b.child }
        .flatMap(nodes).exists(_.isInstanceOf[InMemoryTableScanExec]), p)
    } finally sym.unpersist()
  }
}
