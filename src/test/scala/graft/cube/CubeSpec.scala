package graft.cube

import graft.{SparkSpec, TempRoot}
import org.apache.spark.sql.functions._

class CubeSpec extends SparkSpec with TempRoot {

  // cube: explicit (t=3, y=4), implicit (x=5); value(t,y,x) = flat index
  private def fixture: Cube = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = for (t <- 0 until 3; y <- 0 until 4) yield {
      val id = (t * 4 + y).toLong + 1
      Row(id, (0 until 5).map(x => ((t * 4 + y) * 5 + x).toDouble))
    }
    val schema = StructType(Seq(StructField("id_dim", LongType, false),
      StructField("measure", ArrayType(DoubleType), false)))
    import scala.jdk.CollectionConverters._
    Cube(spark.createDataFrame(rows.asJava, schema),
      Seq("t" -> 3, "y" -> 4), Seq("x" -> 5))
  }

  private def collect(c: Cube): Seq[(Long, Seq[Double])] =
    c.df.orderBy("id_dim").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  test("subsetExplicit keeps matching indices and re-keys densely") {
    val c = fixture.subsetExplicit("y", "2:3")
    assert(c.explicitDims.map(d => (d.name, d.size)) == Seq(("t", 3), ("y", 2)))
    val out = collect(c)
    assert(out.map(_._1) == (1L to 6L))
    // (t=1, y=2) → new id 1, values 5..9
    assert(out.head._2 == (5 until 10).map(_.toDouble))
    // (t=3, y=3) → new id 6, values (2*4+2)*5 .. +4 = 50..54
    assert(out.last._2 == (50 until 55).map(_.toDouble))
  }

  test("subsetImplicit slices inside the measure") {
    val c = fixture.subsetImplicit("x", "1:2:5")
    assert(c.implicitDims.head.size == 3)
    val out = collect(c)
    assert(out.head._2 == Seq(0.0, 2.0, 4.0))
  }

  test("reduceImplicit collapses the in-array dim without shuffle") {
    val c = fixture.reduceImplicit("x", "sum")
    assert(c.implicitDims.isEmpty)
    val out = collect(c)
    // row 1: sum(0..4) = 10
    assert(out.head._2 == Seq(10.0))
    assert(out.size == 12)
  }

  test("reduceExplicit aggregates across rows elementwise") {
    val c = fixture.reduceExplicit("t", "sum")
    assert(c.explicitDims.map(_.name) == Seq("y"))
    val out = collect(c)
    assert(out.size == 4)
    // y=1: rows (t=1..3, y=1) → elementwise sum of (0..4),(20..24),(40..44)
    assert(out.head._2 == (0 until 5).map(x => (0 + 20 + 40 + 3 * x).toDouble))
  }

  test("rollup demotes the innermost explicit dim; expand inverts it") {
    val r = fixture.rollup()
    assert(r.explicitDims.map(_.name) == Seq("t"))
    assert(r.implicitDims.map(d => (d.name, d.size)) == Seq(("y", 4), ("x", 5)))
    val out = collect(r)
    assert(out.size == 3)
    assert(out.head._2 == (0 until 20).map(_.toDouble))
    // expand restores the original cube exactly
    val back = r.expand()
    assert(back.explicitDims.map(d => (d.name, d.size)) ==
      fixture.explicitDims.map(d => (d.name, d.size)))
    assert(collect(back) == collect(fixture))
  }

  test("coarsenImplicit reduces groups along one in-array dim") {
    // 2-implicit-dim cube so the stride math is exercised: (a=2, b=4),
    // value = flat index 0..7 per row
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(Row(1L, (0 until 8).map(_.toDouble)),
      Row(2L, (0 until 8).map(i => (10 + i).toDouble)))
    val schema = StructType(Seq(StructField("id_dim", LongType, false),
      StructField("measure", ArrayType(DoubleType), false)))
    import scala.jdk.CollectionConverters._
    val c = Cube(spark.createDataFrame(rows.asJava, schema),
      Seq("r" -> 2), Seq("a" -> 2, "b" -> 4))
    // coarsen the INNER dim b by 2: out[a][b'] = avg(in[a][2b'], in[a][2b'+1])
    val avgB = collect(c.coarsenImplicit("b", 2, "avg"))
    assert(c.coarsenImplicit("b", 2, "avg").implicitDims
      .map(d => (d.name, d.size)) == Seq(("a", 2), ("b", 2)))
    assert(avgB == Seq(
      (1L, Seq(0.5, 2.5, 4.5, 6.5)), (2L, Seq(10.5, 12.5, 14.5, 16.5))))
    // coarsen the OUTER dim a by 2: out[b] = max(in[0][b], in[1][b])
    val maxA = collect(c.coarsenImplicit("a", 2, "max"))
    assert(maxA == Seq((1L, Seq(4.0, 5.0, 6.0, 7.0)),
      (2L, Seq(14.0, 15.0, 16.0, 17.0))))
    // sum over the outer dim
    val sumA = collect(c.coarsenImplicit("a", 2, "sum"))
    assert(sumA == Seq((1L, Seq(4.0, 6.0, 8.0, 10.0)),
      (2L, Seq(24.0, 26.0, 28.0, 30.0))))
    // non-divisible factor rejected loudly
    intercept[IllegalArgumentException](c.coarsenImplicit("b", 3, "avg"))
  }

  test("permuteImplicit transposes in-array dims") {
    val r = fixture.rollup().permuteImplicit(Seq("x", "y"))
    assert(r.implicitDims.map(_.name) == Seq("x", "y"))
    val out = collect(r)
    // first row (t=1): element (x=1, y=j) = value(t=1, y=j, x=1) = (j-1)*5
    assert(out.head._2.take(4) == Seq(0.0, 5.0, 10.0, 15.0))
  }

  test("refragment repartitions by id range without changing content") {
    val c = fixture.refragment(3)
    assert(c.df.rdd.getNumPartitions == 3)
    assert(collect(c) == collect(fixture))
  }

  test("exportNetCDF writes a file our reader round-trips with all dims") {
    val f = tmpFile("cube", ".nc").toFile
    fixture.exportNetCDF(f.getAbsolutePath)
    val hdr = graft.sources.NetCDF3.readHeader(f.getAbsolutePath, hadoopConf)
    assert(hdr.dims.map(d => (d.name, d.length)) ==
      Seq(("t", 3), ("y", 4), ("x", 5)))
    val v = hdr.variable("measure")
    val data = graft.sources.NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, v,
      Seq(0, 0, 0), Seq(3, 4, 5))
    assert(data.toSeq == (0 until 60).map(_.toDouble))
  }

  test("intercube: elementwise op over the aligned id join; shape guarded") {
    val c = fixture
    // difference with itself is the zero cube
    val zero = collect(c.intercube(c, _ - _))
    assert(zero.size == 12 && zero.forall(_._2.forall(_ == 0.0)))
    // A = first two t slabs re-keyed 1..8, B = last two → value gap is
    // constant 1*4*5 = 20 per cell
    val a = c.subsetExplicit("t", "1:2")
    val b = c.subsetExplicit("t", "2:3")
    val d = collect(b.intercube(a, _ - _))
    assert(d.size == 8)
    assert(d.forall(_._2.forall(_ == 20.0)))
    assert(d.map(_._1) == (1L to 8L))
    // shape mismatch fails loud
    intercept[IllegalArgumentException] {
      c.intercube(c.subsetExplicit("t", "1:2"), _ + _)
    }
  }

  test("chained pipeline: the canonical subset+reduce workload") {
    val c = fixture
      .subsetExplicit("t", "1:2")
      .subsetImplicit("x", "2:4")
      .reduceImplicit("x", "avg")
      .reduceExplicit("y", "max")
    assert(c.explicitDims.map(_.name) == Seq("t"))
    val out = collect(c)
    assert(out.size == 2)
    // t=1: max over y of avg(values (t1,y,x=2..4)) = max over y of ((y-1)*5+... )
    val expected = (0 until 4).map(y => (y * 5 + 2).toDouble).max
    assert(out.head._2 == Seq(expected))
  }
}
