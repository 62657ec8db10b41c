package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Pins [[VectorIndex]] against the derivations it replaced: the
  * literal-centroid probe against a centroid join ranked by a window,
  * the heap ranker against `row_number`, the s18 serve's job count over
  * a built index and s02's over the raw scan, s12's data-scaled sub-cell split against an in-memory
  * replay, and the module boundary in the source. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def emb(dir: String) = Tables.embeddings(spark, dir)
    .withColumn("a", col("embedding").cast("array<double>"))

  test("probe at nprobe 1, 2, 3, 8 equals the window derivation over a centroid join") {
    val base = emb(sf())
    val cs = VectorIndex.cells(base, "label")
    val qs = VectorIndex.asQueries(base, 50)
    val cents = cs.toDF("cell", "centroid")
    val w = Window.partitionBy("query_id").orderBy(col("cdist"), col("cell"))
    val windowed = qs.crossJoin(broadcast(cents))
      .withColumn("cdist", graft.plans.L2Distance(col("qa"), col("centroid")))
      .withColumn("crk", row_number().over(w))
    Seq(1, 2, 3, 8).foreach { np =>
      val got = VectorIndex.probe(qs, cs, np)
        .select("query_id", "probe_cell", "crk", "cent").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Double](3)))
      val want = windowed.filter(col("crk") <= np)
        .select("query_id", "cell", "crk", "centroid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getSeq[Double](3)))
      assert(got.length == want.length && got.toSet == want.toSet, s"nprobe $np")
    }
  }

  test("the ascending ranker equals row_number over (d, vec_id), ties and -0.0 included") {
    val df = Seq((1L, 0L, 0.5), (1L, 1L, 0.5), (1L, 2L, 0.0), (1L, 3L, -0.0),
      (1L, 4L, 0.25), (1L, 5L, 1.0), (1L, 6L, 0.0), (2L, 7L, 3.0),
      (2L, 8L, 3.0), (2L, 9L, -0.0), (2L, 10L, 2.0), (2L, 11L, 0.0))
      .toDF("query_id", "vec_id", "d")
    val w = Window.partitionBy("query_id").orderBy(col("d"), col("vec_id"))
    (1 to 6).foreach { k =>
      val got = VectorIndex.nearest(df, "d", k)
        .select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(r => (r._1, r._3))
      val want = df.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k).select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(r => (r._1, r._3))
      assert(got.toSeq == want.toSeq, s"k=$k")
    }
    // the ranked rows keep their own distance column, -0.0 untouched
    val kept = VectorIndex.nearest(df, "d", 6).filter(col("vec_id") === 3L)
      .select("d").head.getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(kept) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("over a built index, planning an s18 serve starts only the probed-cell collect") {
    val dir = sf()
    SimilarityQueries.s18_ann_persisted(spark, dir).collect() // builds the index
    // the probed-cell set is one distinct-collect over the embeddings
    // scan; no corpus count may ride along (the delta modulus is part of
    // the memoized build)
    val probeCollect = jobsOf(Tables.embeddings(spark, dir)
      .select("label").distinct().collect())
    val planning = jobsOf(SimilarityQueries.s18_ann_persisted(spark, dir))
    assert(planning <= probeCollect,
      s"serve planning started $planning jobs, the probe collect alone $probeCollect")
  }

  test("planning s02 over the raw scan starts only its cell training") {
    val dir = sf()
    // the gather joins the broadcast probes to the scan; no probed-cell
    // collect rides along, since it would prune nothing there
    val train = jobsOf(VectorIndex.cells(emb(dir), "label"))
    val planning = jobsOf(SimilarityQueries.s02_ann_ivf(spark, dir))
    assert(planning <= train,
      s"s02 planning started $planning jobs, its cell training alone $train")
  }

  test("s12 splits a label above the cap into sub-cells, as an in-memory replay") {
    val dims = 8
    val rnd = new scala.util.Random(7)
    // label 0 holds 300 vectors (> SubCellCap = 256: two sub-cells),
    // label 1 holds 40; one zero vector drops out of both
    val rows = (0 until 340).map { i =>
      val v = if (i == 5) Array.fill(dims)(0f)
        else Array.fill(dims)((rnd.nextGaussian() * 2).toFloat)
      (i.toLong * 3 + 1, v, if (i < 300) 0 else 1)
    }
    val dir = java.nio.file.Files.createTempDirectory("s12subcell").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = SimilarityQueries.s12_knn_join(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }
      s0
    }
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
      s0
    }
    val vecs = rows.map { case (id, v, lb) =>
        val a = v.map(_.toDouble); (id, lb, a, math.sqrt(dot(a, a))) }
      .filter(_._4 > 0.0)
    val cap = SimilarityQueries.SubCellCap
    // the m lowest-vec_id seeds per oversized label, then the
    // squared-distance argmin with sub_idx as the tie-break
    val sub: Map[Long, Long] = vecs.groupBy(_._2).values.flatMap { cell =>
      val m = (cell.size + cap - 1) / cap
      if (m <= 1) cell.map(_._1 -> 0L)
      else {
        val seeds = cell.sortBy(_._1).take(m).map(_._3).zipWithIndex
        cell.map { v =>
          v._1 -> seeds.map { case (sv, j) => (dist2(v._3, sv), j.toLong) }.min._2 }
      }
    }.toMap
    def top3(cellOf: ((Long, Int, Array[Double], Double)) => Any) =
      vecs.groupBy(cellOf).values.flatMap { cell =>
        cell.flatMap { case (id, _, a, na) =>
          cell.filter(_._1 != id)
            .map { case (jd, _, b, nb) =>
              (jd, math.floor(dot(a, b) / (na * nb) * 1e9).toLong) }
            .sortBy { case (jd, c) => (-c, jd) }
            .take(3).zipWithIndex
            .map { case ((jd, c), i) => (id, i + 1L, jd, c) }
        }
      }.toSeq.sortBy(x => (x._1, x._2))
    val expected = top3(v => (v._2, sub(v._1)))
    assert(sub.values.toSet == Set(0L, 1L), "the fixture must split label 0")
    assert(expected != top3(_._2), "the split must change some neighbor list")
    assert(got == expected)
  }

  test("the index decisions live in VectorIndex; the query file only composes them") {
    def src(f: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/operators/$f")), "UTF-8")
    val vi = src("VectorIndex.scala")
    val sq = src("SimilarityQueries.scala")
    Seq("ewSumLong", "saveAsTable", "L2Distance(").foreach { w =>
      assert(vi.contains(w), s"$w missing from VectorIndex")
      assert(!sq.contains(w), s"$w is back in SimilarityQueries")
    }
    // row_number stays only in s01 (the reference RerankSpec compares
    // s06 against) and s12's seed pass
    val code = sq.substring(0, sq.indexOf("  val queries: Map"))
    val defs = "(?m)^  (?:private )?def (\\w+)".r
    val owners = "row_number\\(".r.findAllMatchIn(code).map { m =>
      defs.findAllMatchIn(code.substring(0, m.start)).toSeq.last.group(1)
    }.toSet
    assert(owners == Set("s01_ann_bruteforce", "s12_knn_join"), owners)
  }
}
