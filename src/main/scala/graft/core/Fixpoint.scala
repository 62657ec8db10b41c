package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.DataType

/** The round driver of the iterative operators (connected components,
  * PageRank, BFS, label propagation, k-center, BPE): each is a `step`
  * from one frame to the next. Every frame handed on is filled by ONE job
  * over its rows (after the round's own AQE shuffle stages) and cut from
  * its lineage as `localCheckpoint` cuts it, so the plan stays O(1) deep.
  * Once the next frame is filled, the previous one's blocks are released;
  * the final frame is the caller's. A driver-side decision (an argmax
  * pick, a merge choice) is made inside `step`, on the filled frame. */
object Fixpoint {

  /** Fill `init`, then `rounds` times fill `step` of the last frame.
    * Returns the last frame. */
  def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    run(init, rounds, signed = false)((df, _) => step(df))._1

  /** Fill `init`, then fill `step` of the last frame (given with its row
    * count) until a round's signature, its row count and the xor of SQL
    * `xxhash64` over its rows, taken by the fill job, repeats: a set-valued
    * step stops when its set does (up to a 64-bit hash collision). Returns
    * the fixpoint and the rounds run; fails if `maxIter` rounds reach none. */
  def converge(init: DataFrame, maxIter: Int)(
      step: (DataFrame, Long) => DataFrame): (DataFrame, Int) =
    run(init, maxIter, signed = true)(step)

  /** A filled frame, the rows it is cut over, and its (rows, xor) signature. */
  private final case class Round(df: DataFrame, cut: RDD[InternalRow], sig: (Long, Long))

  private def run(init: DataFrame, maxRounds: Int, signed: Boolean)(
      step: (DataFrame, Long) => DataFrame): (DataFrame, Int) = {
    var cur = fill(init, signed)
    var rounds = 0
    var fixed = false
    while (rounds < maxRounds && !fixed) {
      val next = fill(step(cur.df, cur.sig._1), signed)
      fixed = signed && next.sig == cur.sig
      cur.cut.unpersist(blocking = false)
      cur = next
      rounds += 1
    }
    require(fixed || !signed, s"no fixpoint in $maxRounds rounds")
    (cur.df, rounds)
  }

  private def fill(df: DataFrame, signed: Boolean): Round = {
    val types = df.schema.fields.map(_.dataType)
    SQLExecution.withNewExecutionId(df.queryExecution, Some("localCheckpoint")) {
      val cut = df.queryExecution.executedPlan.execute().map(_.copy()).localCheckpoint()
      // the job stores every partition, so it also completes the checkpoint
      val sig = cut.sparkContext.runJob(cut, (it: Iterator[InternalRow]) => {
        var n, x = 0L
        it.foreach { r => n += 1; if (signed) x ^= xxhash64(r, types) }
        (n, x)
      }).foldLeft((0L, 0L)) { case ((n, x), (pn, px)) => (n + pn, x ^ px) }
      Round(GraftSqlShims.fromRows(cut, df), cut, sig)
    }
  }

  /** SQL `xxhash64(c1, …, cn)` of a row: catalyst's hash folded over the
    * columns from seed 42, a null column leaving the hash as it was. */
  private[core] def xxhash64(r: InternalRow, types: Array[DataType]): Long =
    types.indices.foldLeft(42L)((h, i) => XxHash64Function.hash(r.get(i, types(i)), types(i), h))
}
