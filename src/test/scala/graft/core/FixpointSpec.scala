package graft.core

import org.apache.spark.sql.functions.{col, least, lit, xxhash64}

import graft.SparkSpec
import graft.operators.GraphComponents

/** The round driver: one fill job per round, the previous round's blocks
  * released, a convergence signature equal to SQL's, and the width
  * formula every iterative operator shares. */
class FixpointSpec extends SparkSpec {

  test("the row signature is SQL xxhash64 over the row's columns, nulls included") {
    val df = spark.sql("""SELECT * FROM VALUES
      (1L, 7, 'a', 0.5D, CAST(NULL AS BIGINT)),
      (-3L, NULL, 'bc', -0.0D, 9L),
      (NULL, 2, NULL, 1e300D, 0L) AS t(l, i, s, d, n)""")
    val types = df.schema.fields.map(_.dataType)
    val ours = df.queryExecution.toRdd.map(r => Fixpoint.xxhash64(r, types)).collect()
    val sql = df.select(xxhash64(df.columns.map(col): _*)).collect().map(_.getLong(0))
    assert(ours.toSeq == sql.toSeq)
  }

  test("iterate fills init and every round with one job each, releasing the previous round") {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    var out: Seq[Long] = Nil
    val jobs = jobsOf {
      val last = Fixpoint.iterate(spark.range(0, 64, 1, 4).toDF("x"), 3)(
        _.select((col("x") + 1L).as("x")))
      out = last.collect().map(_.getLong(0)).toSeq
    }
    assert(out == (3L until 67L))
    // init + 3 rounds, one fill each, plus the final collect
    assert(jobs == 5, s"jobs: $jobs")
    // only the final frame's blocks stay
    assert((sc.getPersistentRDDs.keySet -- persisted).size == 1)
  }

  test("converge stops when the signature repeats and counts the rounds") {
    // {0,1,2} → {1,2,3} → {2,3,4} → {3,4,5} → {4,5,5} → {5,5,5} → {5,5,5}
    val step = (df: org.apache.spark.sql.DataFrame, _: Long) =>
      df.select(least(col("x") + 1L, lit(5L)).as("x"))
    val (last, rounds) = Fixpoint.converge(spark.range(3).toDF("x"), 10)(step)
    assert(rounds == 6)
    assert(last.collect().map(_.getLong(0)).toSeq == Seq(5L, 5L, 5L))
    val ex = intercept[IllegalArgumentException] {
      Fixpoint.converge(spark.range(3).toDF("x"), 5)(step)
    }
    assert(ex.getMessage.contains("no fixpoint in 5 rounds"))
  }

  test("connected components on a 256-edge chain: 9 rounds in at most 81 jobs") {
    val s = spark
    import s.implicits._
    val edges = (0L until 256L).map(i => (i + 1, i)).toDF("a", "b")
    var rounds = 0
    val jobs = jobsOf { rounds = GraphComponents.labelsWithRounds(edges)._2 }
    assert(rounds == 9)
    assert(jobs <= 81, s"jobs: $jobs")
  }

  test("shuffleWidth is one partition per ~2M rows, clamped to the session") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(AutoScale.shuffleWidth(spark, 0L) == 1)
    assert(AutoScale.shuffleWidth(spark, 1999999L) == 1)
    assert(AutoScale.shuffleWidth(spark, 2000000L) == math.min(2, parts))
    assert(AutoScale.shuffleWidth(spark, Long.MaxValue / 2) == parts)
  }
}
