package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-primitive unit checks against driver-side Scala oracles on a fixed
  * sample array — the scalar-oracle layer of the test pyramid
  * (SURVEY.md §5), complementing the DuckDB-checked queries.
  */
class ArrayPrimitivesSpec extends SparkSpec {
  import graft.functions.{ArrayPrimitives => AP}

  private val sample = Seq(3.0, -1.5, 4.0, 0.0, 2.5, -3.0, 1.0, 5.5)

  private def run(c: Column => Column): Seq[Double] = {
    import spark.implicits._
    Seq(sample).toDF("a").select(c(col("a"))).head.getSeq[Double](0)
  }
  private def runScalar(c: Column => Column): Double = {
    import spark.implicits._
    val v = Seq(sample).toDF("a").select(c(col("a")).cast("double")).head
    v.getDouble(0)
  }

  /** Each row's array<double> result as raw bits (NaN and -0.0 compare exactly). */
  private def arrayBits(df: org.apache.spark.sql.DataFrame, c: Column): Seq[Option[Seq[Option[Long]]]] =
    df.select(c).collect().toSeq.map(r => Option(r.getSeq[Any](0)).map(_.map(
      v => Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])))))

  test("elementwise: sum/mul scalar, abs, math") {
    assert(run(a => AP.oph_sum_scalar(a, 2.0)) == sample.map(_ + 2.0))
    assert(run(a => AP.oph_mul_scalar(a, -1.0)) == sample.map(_ * -1.0))
    assert(run(a => AP.oph_abs_array(a)) == sample.map(math.abs))
    assert(run(a => AP.oph_math(a, "square")) == sample.map(x => x * x))
  }

  test("two-array: sum/mul/div/max/min/operation") {
    import spark.implicits._
    val df = Seq((sample, sample.map(_ * 2))).toDF("a", "b")
    def r2(c: Column): Seq[Double] = df.select(c).head.getSeq[Double](0)
    assert(r2(AP.oph_sum_array(col("a"), col("b"))) == sample.map(x => x + 2 * x))
    assert(r2(AP.oph_max_array(col("a"), col("b"))) ==
      sample.map(x => math.max(x, 2 * x)))
    assert(r2(AP.oph_operation_array(col("a"), col("b"), "sub")) == sample.map(x => -x))
  }

  test("reductions: count/size/find/reduce ops") {
    assert(runScalar(AP.oph_count_array) == sample.size)
    assert(runScalar(AP.oph_size_array) == sample.size)
    assert(runScalar(a => AP.oph_find(a, 4.0, 0.5)) == 1) // only 4.0 in [3.5, 4.5]
    assert(run(a => AP.oph_reduce(a, "sum", 4)) ==
      Seq(sample.take(4).sum, sample.drop(4).sum))
    assert(run(a => AP.oph_reduce(a, "max", 8)) == Seq(sample.max))
    assert(run(a => AP.oph_reduce2(a, "min", lit(2))) ==
      Seq(sample.take(4).min, sample.drop(4).min))
  }

  test("reduce sum/avg: the native kernel equals the HOF fold bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows: Seq[Option[Seq[Option[Double]]]] =
      Seq(None, Some(Nil), Some(Seq(Some(1.0), None, Some(2.0))),
        Some(Seq(Some(Double.NaN), Some(-0.0), Some(1.0), Some(Double.PositiveInfinity)))) ++
        Seq.fill(40)(Some(Seq.fill(rnd.nextInt(70))(
          if (rnd.nextInt(50) == 0) None else Some(rnd.nextGaussian() * 100))))
    val df = rows.toDF("a")
    def bits(c: Column) = arrayBits(df, c)
    for (op <- Seq("sum", "avg"); bs <- Seq(1, 3, 8, 64, Int.MaxValue)) {
      val nat = AP.oph_reduce(col("a"), op, bs)
      assert(df.select(nat).queryExecution.analyzed.expressions.exists(
        _.exists(_.isInstanceOf[graft.plans.BlockReduce])))
      assert(bits(nat) == bits(AP.oph_reduce(col("a"), op, lit(bs))), s"$op $bs")
    }
    // integer arrays widen per element, as the fold's 0.0 + x does
    val ints = Seq(Seq(1, 2, 3, 4, 5)).toDF("a").select(
      AP.oph_reduce(col("a"), "avg", 2), AP.oph_reduce(col("a"), "avg", lit(2))).head
    assert(ints.getSeq[Double](0) == Seq(1.5, 3.5, 5.0))
    assert(ints.getSeq[Double](0) == ints.getSeq[Double](1))
  }

  test("sum_array: resolved double arrays take the native kernel, same values as zip_with") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def arr(): Option[Seq[Option[Double]]] =
      if (rnd.nextInt(20) == 0) None
      else Some(Seq.fill(rnd.nextInt(12))(
        if (rnd.nextInt(15) == 0) None else Some(rnd.nextGaussian() * 100)))
    val df = (Seq((Some(Seq(Some(Double.NaN), Some(-0.0))), Some(Seq(Some(1.0), Some(-0.0), Some(2.0))))) ++
      Seq.fill(60)((arr(), arr()))).toDF("a", "b")
    def uses(c: Column): Boolean = df.select(c).queryExecution.analyzed.expressions
      .exists(_.exists(_.isInstanceOf[graft.plans.SumArrays]))
    def bits(c: Column) = arrayBits(df, c)
    val nat = AP.oph_sum_array(df("a"), df("b"))
    assert(uses(nat))
    assert(!uses(AP.oph_sum_array(col("a"), col("b"))))
    assert(bits(nat) == bits(zip_with(col("a"), col("b"), _ + _)))
  }

  test("reshape: reverse/rotate/shift/padding/extend/interlace/sequence") {
    assert(run(AP.oph_reverse) == sample.reverse)
    assert(run(a => AP.oph_rotate(a, 3)) == (sample.takeRight(3) ++ sample.dropRight(3)))
    assert(run(a => AP.oph_shift(a, 2, 0.0)) == (Seq(0.0, 0.0) ++ sample.dropRight(2)))
    assert(run(a => AP.oph_shift(a, -2, 0.0)) == (sample.drop(2) ++ Seq(0.0, 0.0)))
    assert(run(a => AP.oph_padding(AP.oph_get_subarray(a, 1, 3), 5, 9.0)) ==
      (sample.take(3) ++ Seq(9.0, 9.0)))
    assert(run(a => AP.oph_extend(AP.oph_get_subarray(a, 1, 2), 3)) ==
      Seq(3.0, 3.0, 3.0, -1.5, -1.5, -1.5))
    assert(run(a => AP.oph_interlace(AP.oph_get_subarray(a, 1, 4),
      AP.oph_get_subarray(a, 5, 4))) ==
      Seq(3.0, 2.5, -1.5, -3.0, 4.0, 1.0, 0.0, 5.5))
    import spark.implicits._
    assert(Seq(1).toDF("d").select(AP.oph_sequence(1.0, 0.5, 4)).head
      .getSeq[Double](0) == Seq(1.0, 1.5, 2.0, 2.5))
  }

  test("subset: get_subarray/2/3, extract") {
    assert(run(a => AP.oph_get_subarray(a, 3, 2)) == sample.slice(2, 4))
    assert(run(a => AP.oph_get_subarray2(a, "1:2:end")) ==
      sample.zipWithIndex.collect { case (v, i) if i % 2 == 0 => v })
    assert(run(a => AP.oph_extract(a, Seq(8, 1))) == Seq(5.5, 3.0))
    assert(run(a => AP.oph_get_subarray3(a, Seq(2, 4), Seq("2", "1:2"))) ==
      Seq(2.5, -3.0))
  }

  test("predicates: predicate/filter/mask/compare/index") {
    assert(run(a => AP.oph_predicate(a, x => x, "<", _ => lit(0.0), x => x)) ==
      sample.map(x => if (x < 0) 0.0 else x))
    assert(run(a => AP.oph_filter(a, _ > 1.0)) == sample.filter(_ > 1.0))
    assert(runScalar(a => AP.oph_compare(a, a)) == 1.0)
    import spark.implicits._
    val idx = Seq(sample).toDF("a")
      .select(AP.oph_get_index_array(col("a"), _ > 2.0)).head.getSeq[Int](0)
    assert(idx == Seq(1, 3, 5, 8))
  }

  test("predicate2: condition and branches see both arrays") {
    import spark.implicits._
    val other = sample.map(x => -x + 1.0)
    val df = Seq((sample, other)).toDF("a", "b")
    def r2(c: Column): Seq[Double] = df.select(c).head.getSeq[Double](0)
    // elementwise max: if x-y >= 0 then x else y
    assert(r2(AP.oph_predicate2(col("a"), col("b"), (x, y) => x - y, ">=",
        (x, _) => x, (_, y) => y)) ==
      sample.zip(other).map { case (x, y) => math.max(x, y) })
    // branch results may combine both operands
    assert(r2(AP.oph_predicate2(col("a"), col("b"), (x, _) => x, ">",
        (x, y) => x + y, (_, _) => lit(0.0))) ==
      sample.zip(other).map { case (x, y) => if (x > 0) x + y else 0.0 })
    // every comparator dispatches; an unknown one is loud
    for (cmp <- Seq(">", ">=", "<", "<=", "=", "!="))
      r2(AP.oph_predicate2(col("a"), col("b"), (x, y) => x - y, cmp,
        (x, _) => x, (_, y) => y))
    intercept[IllegalArgumentException] {
      AP.oph_predicate2(col("a"), col("b"), (x, y) => x - y, "~",
        (x, _) => x, (_, y) => y)
    }
  }

  test("permute is its own inverse for the transpose permutation") {
    assert(run(a => AP.oph_permute(AP.oph_permute(a, Seq(2, 4), Seq(1, 0)),
      Seq(4, 2), Seq(1, 0))) == sample)
  }

  test("stats: gsl conventions (n-1 variance), quantile interpolation") {
    val n = sample.size
    val mean = sample.sum / n
    val variance = sample.map(x => (x - mean) * (x - mean)).sum / (n - 1)
    assert(math.abs(runScalar(Stats.mean) - mean) < 1e-12)
    assert(math.abs(runScalar(Stats.variance) - variance) < 1e-12)
    assert(math.abs(runScalar(Stats.oph_gsl_sd) - math.sqrt(variance)) < 1e-12)
    // median of sorted [-3,-1.5,0,1,2.5,3,4,5.5] → (1+2.5)/2 = 1.75
    val med = run(a => Stats.oph_gsl_quantile(a, Seq(0.5)))
    assert(math.abs(med.head - 1.75) < 1e-12)
  }

  test("accumulate/deaccumulate invert each other") {
    val acc = run(Numeric.oph_accumulate)
    assert(acc == sample.scanLeft(0.0)(_ + _).drop(1))
    val back = {
      import spark.implicits._
      Seq(acc).toDF("a").select(Stats.oph_deaccumulate(col("a")))
        .head.getSeq[Double](0)
    }
    back.zip(sample).foreach { case (b, s) => assert(math.abs(b - s) < 1e-12) }
  }

  test("fft/ifft round-trip; dwt/idwt round-trip") {
    import spark.implicits._
    val df = Seq(sample).toDF("a")
    val rt = df.select(Numeric.oph_gsl_ifft(Numeric.oph_gsl_fft(col("a"))))
      .head.getSeq[Double](0)
    // ifft(fft(x)) interleaved → real parts ≈ x, imag ≈ 0
    sample.indices.foreach { i =>
      assert(math.abs(rt(2 * i) - sample(i)) < 1e-9)
      assert(math.abs(rt(2 * i + 1)) < 1e-9)
    }
    val wrt = df.select(Numeric.oph_gsl_idwt(Numeric.oph_gsl_dwt(col("a"))))
      .head.getSeq[Double](0)
    wrt.zip(sample).foreach { case (w, s) => assert(math.abs(w - s) < 1e-9) }
  }

  test("cast and dump") {
    assert(run(a => AP.oph_cast(a, "oph_double")) == sample)
    import spark.implicits._
    val d = Seq(Seq(1.0, 2.0)).toDF("a").select(AP.oph_dump(col("a"))).head.getString(0)
    assert(d == "1.0, 2.0")
  }
}
