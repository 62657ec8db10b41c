package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The multimodal family reads its documents through one guarded source
  * ([[MediaFrames.docs]]) and composes the shared synthesis and kernels
  * of [[MediaFrames]]. */
class MediaFramesSpec extends SparkSpec {

  /** Queries whose media derive from the doc_id alone: they never read
    * the text. */
  private val idOnly = Set("m29_video_neardup", "m33_stream_media_dedup",
    "m43_mp3_books", "m44_mp4_books", "m45_ogg_books", "m46_mkv_books",
    "m47_webp_books", "m48_srt_books", "m50_pdf_books")

  test("every text-reading m-query fails on a non-ASCII document") {
    val d = Files.createTempDirectory("graft_mm_ascii").toString
    val sp = spark
    import sp.implicits._
    val plain = "plain ascii text that is long enough for every query"
    Seq(
      (0L, plain, "en", "web", plain.length.toLong),
      (1L, "café " + plain, "fr", "web", plain.length + 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val readers = MultimodalQueries.queries.filter { case (n, _) => !idOnly(n) }
    assert(readers.size == 41)
    // the ones that used to fold 'é' to '?' (63) into a plausible row
    Seq("m02", "m03", "m04", "m05", "m06", "m07", "m08", "m09", "m10",
      "m11", "m12", "m13", "m16", "m20", "m21", "m22", "m26", "m27", "m28",
      "m30", "m31", "m32").foreach { p =>
      assert(readers.keys.exists(_.startsWith(p + "_")), p)
    }
    readers.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val e = intercept[Exception](q(spark, d).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("doc 1: non-ASCII char")),
        s"$name: ${e.getMessage}")
    }
  }

  test("m29 fills its fingerprint cache in one job") {
    val dir = sf()
    MultimodalQueries.m29_video_neardup(spark, dir).collect() // warm the table read
    val jobs = jobsOf(MultimodalQueries.m29_video_neardup(spark, dir).collect())
    // one job fills the fingerprint cache; the rest are the band join's
    // checkpoint and the sorted collect. A `count()` fill runs three
    // jobs under AQE, so the eager fill used to cost two more (10).
    assert(jobs == 8, s"m29 ran $jobs jobs")
  }

  test("m33 encodes each document once, after its drop's id filter") {
    import org.apache.spark.sql.execution.{MapPartitionsExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val dir = sf()
    // the batch plans m33 runs on the caller's session (its stream runs
    // on a child session): only the drops may encode, one each
    val encodes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.sparkSession eq spark)
          encodes.add(f -> Plans.collect(qe.executedPlan) { case m: MapPartitionsExec => m }.size)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusShims.drain(spark.sparkContext) // earlier tests' events
    spark.listenerManager.register(l)
    val rows = try {
      val r = MultimodalQueries.m33_stream_media_dedup(spark, dir).collect()
      org.apache.spark.ListenerBusShims.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(l)
    assert(rows.nonEmpty)
    // the max(doc_id) cut no longer encodes every document
    assert(encodes.asScala.map(_._2).sum == 2, encodes.asScala.mkString(", "))
  }

  test("hammingPairs equals a brute-force banded Hamming join") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(6)(rnd.nextLong() >>> 1)
    // near copies (1-3 flipped bits), unrelated hashes and exact dups
    val hs = base.zipWithIndex.flatMap { case (h, i) =>
      Seq(h, h ^ (1L << (i % 60)), h ^ (7L << (3 * i)), rnd.nextLong() >>> 1)
    } ++ Seq(base.head)
    val df = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "h")
    for ((nBands, maxHam) <- Seq((4, 6), (2, 4), (3, 2))) {
      val got = MediaFrames.hammingPairs(df, "h", nBands, maxHam)
        .as[(Long, Long, Long)].collect().toSet
      def key(h: Long, b: Int) = (h >>> (16 * b)) & 65535L
      val want = (for {
        (ha, a) <- hs.zipWithIndex; (hb, b) <- hs.zipWithIndex if a < b
        if (0 until nBands).exists(k => key(ha, k) == key(hb, k))
        ham = java.lang.Long.bitCount(ha ^ hb).toLong if ham <= maxHam
      } yield (a.toLong, b.toLong, ham)).toSet
      assert(want.nonEmpty)
      assert(got == want, s"bands $nBands, max $maxHam")
    }
  }

  test("the synthesis convention lives in MediaFrames; the queries only compose it") {
    def src(f: String) = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/operators/$f")), "UTF-8")
    val mf = src("MediaFrames.scala")
    val mq = src("MultimodalQueries.scala")
    val code = mq.substring(0, mq.indexOf("  val oracles: Map"))
    def count(s: String, w: String) =
      java.util.regex.Pattern.quote(w).r.findAllMatchIn(s).size
    Seq("Tables.documents(", "text.getBytes(", "forall(_ < 128)",
      "- 96) * 128", "bit_count(").foreach { w =>
      assert(count(mf, w) == 1, s"$w in MediaFrames")
      assert(count(code, w) == 0, s"$w is back in MultimodalQueries")
    }
  }
}
