package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

/** The absolute-threshold edit-distance rewrite: length band first, then
  * Spark's banded threshold DP. The shared session carries the rule
  * through `GraftExtensions`. Soundness is checked against the
  * un-rewritten predicate (the rule excluded from the optimizer) on data
  * that exercises nulls, ties at the threshold, strict bounds, and
  * mirrored comparison forms. */
class LevenshteinGuardSpec extends SparkSpec {

  private def frame(): DataFrame = {
    import spark.implicits._
    Seq(
      ("kitten", "sitting"),      // dist 3
      ("kitten", "kitten"),       // dist 0
      ("abc", "abcd"),            // dist 1
      ("abc", "abcdefghij"),      // len band rejects at k<=6
      ("", "xy"),                 // dist 2
      (null.asInstanceOf[String], "x"), // null → filter drops
      ("x", null.asInstanceOf[String]))
      .toDF("a", "b")
  }

  /** Parquet-backed copy: ConvertToLocalRelation folds filters over a
    * LocalRelation away before any optimizer rule can see them, so the
    * plan-shape assertions need a real scan under the Filter. */
  private lazy val scanned: DataFrame = {
    val d = java.nio.file.Files.createTempDirectory("graft_levguard")
    frame().write.mode("overwrite").parquet(d.toString)
    spark.read.parquet(d.toString)
  }

  private def levenshteins(df: DataFrame): Seq[Levenshtein] =
    df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case l: Levenshtein => l })

  /** Runs `body` with the rewrite excluded from the optimizer. */
  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, LevenshteinGuard.ruleName)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("rewrites lev <= k to a length band plus the threshold DP form") {
    val df = scanned.filter(expr("levenshtein(a, b) <= 2"))
    val opt = df.queryExecution.optimizedPlan
    val levs = levenshteins(df)
    assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
      s"threshold form missing:\n$opt")
    assert(opt.toString.contains("abs((length(a"),
      s"length band missing:\n$opt")
  }

  test("all four comparison forms keep the un-rewritten semantics") {
    val preds = Seq(
      "levenshtein(a, b) <= 2", "levenshtein(a, b) < 3",
      "2 >= levenshtein(a, b)", "3 > levenshtein(a, b)",
      "levenshtein(a, b) <= 0")
    def rows(df: DataFrame) = df.collect().map(r =>
      (Option(r.getString(0)), Option(r.getString(1)))).toSet
    val plain = withoutRule(preds.map { p =>
      val df = scanned.filter(expr(p))
      // the reference must really be the un-rewritten predicate
      assert(levenshteins(df).forall(_.threshold.isEmpty),
        s"reference was rewritten for: $p")
      rows(df)
    })
    preds.zip(plain).foreach { case (p, expect) =>
      val df = scanned.filter(expr(p))
      // the rewrite must actually be in the executed predicate here
      assert(levenshteins(df).exists(_.threshold.isDefined),
        s"rule did not fire for: $p")
      assert(rows(df) == expect, s"semantics changed for: $p")
    }
  }

  test("fires end-to-end through GraftExtensions injection (no manual rule list)") {
    // the production session (Engine.session) applies the rewrite on a
    // plain DataFrame with no experimental.extraOptimizations plumbing
    assert(!spark.experimental.extraOptimizations.contains(LevenshteinGuard))
    val df = scanned.filter(expr("levenshtein(a, b) <= 2"))
    val levs = levenshteins(df)
    assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
      s"extension-injected rule did not fire:\n${df.queryExecution.optimizedPlan}")
    // the injected SQL functions ride the same extension point
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
  }

  test("non-deterministic arguments are left alone (no duplication)") {
    // rand() is non-deterministic: duplicating it into a length band
    // would evaluate it twice with different values. The rule must
    // not fire; the full-DP Levenshtein (threshold = None) survives.
    val df = scanned
      .filter(expr("levenshtein(concat(a, cast(rand(7) as string)), b) <= 2"))
    val levs = levenshteins(df)
    assert(levs.nonEmpty && levs.forall(_.threshold.isEmpty),
      s"rule fired on non-deterministic args:\n${df.queryExecution.optimizedPlan}")
  }

  test("negative or non-literal thresholds are left alone") {
    val neg = frame().filter(expr("levenshtein(a, b) < 0"))
    assert(neg.collect().isEmpty)
    val dyn = scanned.withColumn("k", length(col("b")))
      .filter(expr("levenshtein(a, b) <= k"))
    assert(levenshteins(dyn).forall(_.threshold.isEmpty))
  }
}
