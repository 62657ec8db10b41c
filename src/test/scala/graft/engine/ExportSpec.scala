package graft.engine

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, TempRoot}
import graft.sources.{ExportScan, HDF5, NetCDF3}

/** `oph_export` runs one stats job and one write pass per container over
  * the UNSORTED fragment ([[ExportScan]]), and every file it writes is
  * byte-identical to what the writers wrote before [[ExportScan]] (the
  * id-sorted fragment pumped through `toLocalIterator` into the
  * single-file writers, handed sorted to the distributed ones): `golden`
  * holds those exports' digests. Bad fragments fail before any byte of
  * the export exists. */
class ExportSpec extends SparkSpec with TempRoot {

  private val single = Seq("classic", "cdf5", "netcdf4")
  private val distributed = Seq("zarr", "zarr3", "zarr3-sharded",
    "netcdf4-dist", "netcdf4-dist-fa", "netcdf4-dist-bt2", "netcdf4-dist-ea",
    "netcdf4-dist-fa-z", "netcdf4-dist-bt2-z", "netcdf4-dist-ea-z")

  /** An inserted fragment `nm` of `n` rows x `m` doubles (ids 1..n): a
    * local relation, so its cache holds 4 disjoint id ranges. */
  private def insert(s: IoServer#Session, nm: String, n: Int, m: Int): Unit = {
    s.execute(s"operation=create_frag;frag_name=$nm;" +
      "column_name=id_dim|measure;column_type=long|double_array")
    val binds = (1 to n).flatMap(i => Seq[Any](i.toLong, Seq.tabulate(m)(j => i * 0.5 - j)))
    val marks = (1 to 2 * n).map(k => s"?$k").mkString("|")
    s.execute(s"operation=multi_insert;frag_name=$nm;field=id_dim|measure;" +
      s"value=$marks;final_statement=yes", binds)
  }

  private def exportTo(s: IoServer#Session, nm: String, path: Path,
      fmt: String): Unit =
    s.execute("operation=function;function_name=oph_export;" +
      s"function_args=$nm|$path|$fmt|16")

  /** Every file under `p` (or `p` itself), by relative path. */
  private def bytes(p: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(p)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  /** SHA-256 over `p`'s files in path order, each as its relative path,
    * a newline, then its bytes. */
  private def digest(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bytes(p).toSeq.sortBy(_._1).foreach { case (f, b) =>
      md.update(s"$f\n".getBytes("UTF-8")); md.update(b.toArray)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Digests of the exports of [[insert]]`(150, 5)` in 16-row chunks, as
    * the sort-pump writers wrote them (the same for every partitioning). */
  private val golden = Map(
    "classic" -> "0a7fa9392570123c4fa4fb91ecb6f8265cb5158e791a2ee2df8d21bb4ba35e03",
    "cdf5" -> "70b691d3c525db5909c466f138c26b0fd8c1d36813c5344b90361210b66c8a85",
    "netcdf4" -> "f1507d5716f276df28f4c2e1acddb9b654af3840cb70f6130a7bc2f536907e21",
    "zarr" -> "0206ea8047c5d6fe920dc0781354c523b0ae466aab37ee88e844af186adf4827",
    "zarr3" -> "9e31b6ef23cc869bbdc089a23a70c3036d7ff8c47dbc730b2bc609367b45c762",
    "zarr3-sharded" -> "ccbf4b4e3e71cfd68b2f8b2b213085c6ede0409731c300f38f480345cded5fad",
    "netcdf4-dist" -> "9424896cf2b5076c2c230b7f3b8abeb31eb35dafb67f79833be6f6f6e231c9a8",
    "netcdf4-dist-fa" -> "efeb2a60738699b4f98fc9a70def0d30c89d6b1291b6014a91564c789019b4f4",
    "netcdf4-dist-bt2" -> "0a31274e56de0f8122904360ca4f04afe910a4056ef519fc6a2a613479a1a1ac",
    "netcdf4-dist-ea" -> "4dd3c02e56ce1fd2687bc5e6a64dbe10fd5bf7679493e4bacee312a6e1712ab7",
    "netcdf4-dist-fa-z" -> "e608ceb786f2208867c4c78c7e952c9d32d45c7c9e0f5970a0630ae57143af76",
    "netcdf4-dist-bt2-z" -> "1719dec4c672b6c97ebabeb4cf26155cd0173693c4aa007a2429dfe1cd84c4d1",
    "netcdf4-dist-ea-z" -> "e91fab8a636c091b02ef405e6739c0158843130e9bf4e460c28ad53b3e28392e")

  /** The sort-pump export of `frag` in single-file container `fmt`. */
  private def sortPump(frag: DataFrame, path: Path, fmt: String): Unit = {
    val src = frag.orderBy("id_dim").select(col("id_dim"),
      col("measure").cast("array<double>").as("measure"))
    val n = src.count().toInt
    val m = src.head().getSeq[Double](1).size
    def rows = src.toLocalIterator().asScala.map(_.getSeq[Double](1).toArray)
    val dims = Seq("id_dim" -> n, "elem" -> m)
    val p = path.toString
    fmt match {
      case "classic" => NetCDF3.writeDoubleVarStreamed(p, dims, "measure", rows)
      case "cdf5" => NetCDF3.writeDoubleVarStreamed(p, dims, "measure", rows, version = 5)
      case "netcdf4" => HDF5.writeDoubleVarStreamed(p, dims, "measure", rows)
    }
  }

  test("each container exports a 4-partition inserted fragment in at most 2 jobs") {
    val srv = new IoServer(spark)
    val s = srv.newSession()
    insert(s, "ins", 400, 8)
    val frag = srv.storedFrag("default", "ins")
    assert(frag.rdd.getNumPartitions == 4)
    assert(ExportScan.stats(ExportScan.source(frag, "id_dim", "measure"))
      .disjoint.exists(_.size == 4))
    Seq("classic", "cdf5", "netcdf4", "zarr", "zarr3", "netcdf4-dist").foreach { fmt =>
      val jobs = jobsOf(exportTo(s, "ins", tmpDir("jobs").resolve(s"out.$fmt"), fmt))
      // the stats job and the write pass (the sort pump ran 5 or 6)
      assert(jobs <= 2, s"$fmt export ran $jobs jobs")
    }
  }

  test("every container writes the sort-pump bytes, on disjoint and overlapping partitions") {
    val srv = new IoServer(spark)
    val s = srv.newSession()
    insert(s, "ins", 150, 5)
    // a hash-repartitioned CTAS: every partition spans the id range
    srv.registerFragment("default", "hashed",
      srv.storedFrag("default", "ins").repartition(3, col("id_dim")), persist = false)
    s.execute("operation=create_frag_select;frag_name=ctas;" +
      "field=id_dim|measure;from=hashed")
    def layout(nm: String) = ExportScan.stats(ExportScan.source(
      srv.storedFrag("default", nm), "id_dim", "measure")).disjoint
    assert(layout("ins").isDefined && layout("ctas").isEmpty)
    assert(golden.keySet == (single ++ distributed).toSet)
    for (nm <- Seq("ins", "ctas"); fmt <- single ++ distributed) {
      val out = tmpDir("got").resolve(fmt)
      exportTo(s, nm, out, fmt)
      assert(digest(out) == golden(fmt), s"$nm $fmt")
    }
  }

  test("ragged, null and duplicate rows fail before any export byte is written") {
    val sp = spark
    import sp.implicits._
    val srv = new IoServer(spark)
    val s = srv.newSession()
    val ok = (1 to 6).map(i => (Option(i.toLong), Option(Seq(i * 1.0, i * 2.0))))
    def frag(rows: Seq[(Option[Long], Option[Seq[Double]])]) =
      rows.toDF("id_dim", "measure").repartition(2)
    val bad = Seq(
      "ragged" -> frag(ok.updated(3, (Some(4L), Some(Seq(1.0))))),
      "null array" -> frag(ok.updated(2, (Some(3L), None))),
      "duplicate id" -> frag(ok.updated(5, (Some(2L), Some(Seq(0.0, 0.0))))),
      "null id" -> frag(ok.updated(4, (None, Some(Seq(0.0, 0.0))))))
    bad.foreach { case (nm, df) => srv.registerFragment("default", nm.replace(' ', '_'), df) }
    for ((nm, _) <- bad; fmt <- single ++ distributed) {
      // the single-file containers keep their id order for duplicate and
      // null ids (null first), as the sorted fragment does
      val fails = distributed.contains(fmt) || Set("ragged", "null array")(nm)
      val out = tmpDir("bad").resolve(fmt)
      if (fails) {
        intercept[IllegalArgumentException](exportTo(s, nm.replace(' ', '_'), out, fmt))
        assert(!Files.exists(out), s"$nm $fmt wrote before failing")
        assert(!Files.exists(out.resolveSibling(s"$fmt.chunks")))
      } else {
        exportTo(s, nm.replace(' ', '_'), out, fmt)
        val want = tmpDir("want").resolve(fmt)
        sortPump(srv.storedFrag("default", nm.replace(' ', '_')), want, fmt)
        assert(bytes(out) == bytes(want), s"$nm $fmt")
      }
    }
  }
}
