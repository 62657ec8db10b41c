package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem, UnsupportedFileSystemException}

import graft.{SparkSpec, TempRoot}
import graft.sources.{HDF5, NetCDF3, Zarr}

/** The local file system under a scheme of its own, which only a
  * configuration that maps `fs.sessionfs.impl` to it can resolve. */
class SessionLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessionfs:///")
  override def getScheme: String = "sessionfs"
}

/** Source readers resolve URIs through the session's Hadoop
  * configuration: a scheme registered only there reads classic, netcdf4
  * and zarr containers, on the driver and in the import's tasks. */
class SessionFsSpec extends SparkSpec with TempRoot {

  test("file_import through a session-only scheme reads as the plain path") {
    val conf = hadoopConf
    val keys = Seq("fs.sessionfs.impl", "fs.sessionfs.impl.disable.cache")
    conf.set(keys.head, classOf[SessionLocalFs].getName)
    // uncached: every open resolves the scheme through the conf it is given
    conf.setBoolean(keys.last, true)
    try {
      intercept[UnsupportedFileSystemException](
        new Path("sessionfs:///").getFileSystem(new Configuration()))
      val dims = Seq("t" -> 6, "x" -> 5)
      val data = Array.tabulate(30)(i => math.sin(i) * 1e3 + i / 7.0)
      val dir = tmpDir("sessionfs")
      val files = Seq(
        "classic" -> { (p: String) => NetCDF3.writeDoubleVar(p, dims, "m", data) },
        "netcdf4" -> { (p: String) => HDF5.writeDoubleVar(p, dims, "m", data) },
        "zarr" -> { (p: String) => Zarr.writeDoubleVar(p, conf, dims, "m", data,
          chunkDims = Some(Seq(4, 5))) })
      val srv = new IoServer(spark)
      val ses = srv.newSession()
      def rows(frag: String, src: String): Seq[(Long, Seq[Long])] = {
        ses.execute(s"operation=file_import;frag_name=$frag;src_path=$src;" +
          "measure=m;explicit=1;partitions=3")
        ses.execute(s"operation=select;field=id_dim|measure;from=$frag;order=id_dim")
          .get.collect().map(r => (r.getLong(0),
            r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits))).toSeq
      }
      files.foreach { case (fmt, write) =>
        val p = dir.resolve(s"in_$fmt").toString
        write(p)
        val plain = rows(s"${fmt}_plain", p)
        assert(plain.size == 6 && plain.flatMap(_._2).size == 30, fmt)
        assert(rows(s"${fmt}_scheme", s"sessionfs://$p") == plain, fmt)
      }
    } finally keys.foreach(conf.unset)
  }
}
