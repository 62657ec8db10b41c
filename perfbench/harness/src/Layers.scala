package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dialect.{ExprCompiler, ExprParser, QueryParser}
import graft.functions.ArrayPrimitives

/** In-process calls into each layer's public API, made after a traced
  * wire window on the service's own SparkSession but with a catalog of
  * their own (a fresh `IoServer`), so the service's fragments are left
  * untouched.
  *
  * Request JSON (all keys optional):
  *   imports   [[frag, path], ...]           file_import, timed as engine
  *   loops     [[[kind, query, firstId?], ...], ...]
  *             statements replayed through `Session.execute`; kind
  *             `insert` gets generated binds for its `?N` placeholders
  *   cols      doubles per inserted row
  *   functions fragment name to run the column-function probes over
  *   sources   {"dir": d, "rows": n, "cols": m} container round trips
  */
object Layers {
  private val mapper = new ObjectMapper()

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, reqJson: String, spans: Spans): String = {
    val req = mapper.readTree(reqJson)
    def list(n: JsonNode): Seq[JsonNode] =
      if (n == null || n.isNull) Nil else n.elements().asScala.toSeq
    val server = new graft.engine.IoServer(spark)
    val ses = server.newSession()
    val execMs = scala.collection.mutable.LinkedHashMap.empty[String, List[Double]]
    def record(kind: String, v: Double): Unit =
      execMs(kind) = v :: execMs.getOrElse(kind, Nil)
    val parseUs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val compileUs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perStatement = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cols = Option(req.get("cols")).map(_.asInt).getOrElse(64)

    list(req.get("imports")).foreach { p =>
      val q = s"operation=file_import;frag_name=${p.get(0).asText};" +
        s"src_path=${p.get(1).asText};measure=measure"
      val t0 = System.nanoTime(); ses.execute(q); record("import", ms(t0))
    }

    list(req.get("loops")).zipWithIndex.foreach { case (loop, li) =>
      val reqId = s"replay-$li"
      val root = spans.newId()
      val r0 = spans.nowMs
      list(loop).foreach { st =>
        val kind = st.get(0).asText
        val q = st.get(1).asText
        // dialect: the statement and each of its expressions parsed and
        // compiled on their own, outside the engine call
        val stId = spans.newId()
        val s0 = spans.nowMs
        val parsed = {
          val t0 = spans.nowMs
          val asts = {
            val pq = QueryParser.parse(q)
            (pq.get("where").toSeq ++ pq.multi("field").filter(_ != "*"))
              .map(ExprParser.parse)
          }
          val t1 = spans.nowMs
          spans.add(stId, reqId, "dialect.parse", t0, t1)
          parseUs += (t1 - t0) * 1000
          asts
        }
        if (parsed.nonEmpty) {
          val t0 = spans.nowMs
          parsed.foreach(a => ExprCompiler.compile(a, n => col(s"`$n`"),
            i => org.apache.spark.sql.functions.lit(i)))
          val t1 = spans.nowMs
          spans.add(stId, reqId, "dialect.compile", t0, t1)
          compileUs += (t1 - t0) * 1000
        }
        val binds: Seq[Any] =
          if (kind != "insert") Nil
          else {
            val first = st.get(2).asLong
            val n = q.count(_ == '?') / 2
            (0 until n).flatMap { j =>
              Seq[Any](first + j, Seq.tabulate(cols)(k => (first + j) * 0.5 + k))
            }
          }
        val e0 = spans.nowMs
        ses.execute(q, binds)
        val e1 = spans.nowMs
        spans.add(stId, reqId, "engine.execute", e0, e1)
        record(kind, e1 - e0)
        perStatement += e1 - e0
        spans.put(stId, root, reqId, "statement", s0, spans.nowMs)
      }
      spans.put(root, -1, reqId, "replay.loop", r0, spans.nowMs)
    }

    val fn = Option(req.get("functions")).filterNot(_.isNull).map { f =>
      val frag = server.storedFrag("default", f.asText)
      val rows = frag.count()
      val elems = rows.toDouble * cols
      def rate(df: => DataFrame): Double = {
        noop(df) // first run compiles the expression
        val ts = (0 until 3).map { _ => val t0 = System.nanoTime(); noop(df); ms(t0) }
        elems / 1e6 / (median(ts) / 1e3)
      }
      val red = rate(frag.select(ArrayPrimitives.oph_reduce(col("measure"), "avg", 8)))
      val sum = rate(frag.select(
        ArrayPrimitives.oph_sum_array(col("measure"), col("measure"))))
      s""""functions":{"reduce_melem_per_s":$red,"sum_array_melem_per_s":$sum},"""
    }.getOrElse("")

    val src = Option(req.get("sources")).filterNot(_.isNull).map { s =>
      sourcesJson(spark, s.get("dir").asText, s.get("rows").asInt, s.get("cols").asInt)
    }.getOrElse("")

    val execJson = execMs.map { case (k, v) => s"${Json.str(k)}:${Json.arr(v.reverse)}" }
      .mkString("{", ",", "}")
    s"""{"event":"probe","exec_ms":$execJson,"statement_ms":${Json.arr(perStatement.toSeq)},""" +
      s""""parse_us":${Json.arr(parseUs.toSeq)},"compile_us":${Json.arr(compileUs.toSeq)},""" +
      fn + src + s""""spans":${Json.spans(spans.all)}}"""
  }

  /** Write and read back one rows x cols double variable in each
    * container through the public codecs; rates in MB of user data/s. */
  private def sourcesJson(spark: SparkSession, dir: String, rows: Int, cols: Int): String = {
    val rnd = new scala.util.Random(rows.toLong * cols)
    val data = Array.fill(rows, cols)(rnd.nextGaussian())
    val userBytes = rows.toLong * cols * 8
    val dims = Seq("id_dim" -> rows, "elem" -> cols)
    import spark.implicits._
    val frag = data.zipWithIndex.map { case (a, i) => (i + 1L, a.toSeq) }.toSeq
      .toDF("id_dim", "measure").cache()
    frag.count()
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete()
    }
    val writers: Seq[(String, String => Unit)] = Seq(
      "classic" -> (p => graft.sources.NetCDF3.writeDoubleVarStreamed(p, dims,
        "measure", data.iterator)),
      "netcdf4" -> (p => graft.sources.HDF5.writeDoubleVarStreamed(p, dims,
        "measure", data.iterator)),
      "zarr" -> (p => graft.sources.ZarrExport.writeDistributed(frag, "id_dim",
        "measure", p, "measure", v3 = false)))
    val parts = writers.map { case (name, write) =>
      val w = scala.collection.mutable.ArrayBuffer.empty[Double]
      val r = scala.collection.mutable.ArrayBuffer.empty[Double]
      var bytes = 0L
      (0 until 4).foreach { i =>
        val p = new java.io.File(dir, s"probe_$name$i").getAbsolutePath
        val t0 = System.nanoTime(); write(p); w += ms(t0)
        bytes = size(new java.io.File(p))
        val t1 = System.nanoTime()
        val rd = graft.sources.NcReader.open(p)
        val back = try rd.readSlab("measure", Seq(0, 0), Seq(rows, cols)) finally rd.close()
        r += ms(t1)
        require(java.util.Arrays.equals(back, data.flatten),
          s"$name round trip returned different values")
        del(new java.io.File(p))
      }
      // the first of four round trips loads and compiles the codec
      val mb = userBytes / 1e6
      s""""$name":{"write_mb_per_s":${mb / (median(w.tail.toSeq) / 1e3)},""" +
        s""""read_mb_per_s":${mb / (median(r.tail.toSeq) / 1e3)},""" +
        s""""bytes_per_user_byte":${bytes.toDouble / userBytes}}"""
    }
    frag.unpersist()
    s""""sources":{${parts.mkString(",")}},"""
  }
}
