package graft.engine

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.storage.StorageLevel

import graft.{SparkSpec, TempRoot}
import graft.sources.NetCDF3

class FileImportSpec extends SparkSpec with TempRoot {

  test("create_frag_select with @file FROM loads NetCDF through DSv2") {
    val f = tmpFile("graft", ".nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("t" -> 4, "x" -> 3), "measure", Array.tabulate(12)(_.toDouble))
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute(
      s"operation=create_frag_select;frag_name=ncfrag;from=@${f.getAbsolutePath};" +
        "measure=measure;explicit=1;" +
        "field=id_dim|oph_mul_scalar('oph_double','oph_double',measure,10.0);" +
        "field_alias=id_dim|measure")
    val out = ses.execute(
      "operation=select;field=id_dim|measure;from=ncfrag;order=id_dim").get.collect()
    assert(out.length == 4)
    assert(out.head.getSeq[Double](1) == Seq(0.0, 10.0, 20.0))
    assert(out.last.getSeq[Double](1) == Seq(90.0, 100.0, 110.0))
  }

  test("file_import / esdm_import bulk-load a path into a fragment; " +
      "create_frag_select_file name accepted") {
    val f = tmpFile("graft", ".nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("t" -> 4, "x" -> 4), "m", Array.tabulate(16)(_.toDouble))
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    // direct load, no select (oph_io_server_query.c:341-357)
    ses.execute(s"operation=file_import;frag_name=fi;" +
      s"src_path=${f.getAbsolutePath};measure=m;explicit=1")
    val out = ses.execute(
      "operation=select;field=id_dim|measure;from=fi;order=id_dim").get.collect()
    assert(out.length == 4 && out.head.getSeq[Double](1) == Seq(0.0, 1.0, 2.0, 3.0))
    // esdm_import: same path with the ESDM read-stream reduction folded in
    ses.execute(s"operation=esdm_import;frag_name=ei;" +
      s"src_path=${f.getAbsolutePath};measure=m;explicit=1;" +
      "sub_operation=sum;sub_args=4")
    val red = ses.execute(
      "operation=select;field=id_dim|measure;from=ei;order=id_dim").get.collect()
    assert(red.head.getSeq[Double](1) == Seq(6.0)) // 0+1+2+3
    // the reference's CTAS-from-file operation name resolves too
    ses.execute(
      s"operation=create_frag_select_file;frag_name=cf;from=@${f.getAbsolutePath};" +
        "measure=m;explicit=1;field=id_dim|measure;field_alias=id_dim|measure")
    assert(ses.execute("operation=select;field=id_dim;from=cf").get.count() == 4)
  }

  test("dropping one of two imports of a path keeps the survivor cached") {
    val dir = tmpDir("twin").resolve("t.parquet").toString
    spark.range(1, 5).select(col("id").as("id_dim"),
      array(col("id").cast("double")).as("measure")).write.parquet(dir)
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    // a file relation's plan is keyed by its path, so one CacheManager
    // entry holds both fragments
    Seq("twin_a", "twin_b").foreach { nm =>
      srv.registerFragment("default", nm, spark.read.parquet(dir))
    }
    assert(ses.execute("operation=function;function_name=oph_size;function_args=twin_b")
      .get.head().getLong(0) == 4L)
    ses.execute("operation=drop_frag;frag_name=twin_a")
    assert(srv.storedFrag("default", "twin_b").storageLevel != StorageLevel.NONE)
    FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    // the survivor answers from its cache, not from the deleted files
    val out = ses.execute(
      "operation=select;field=id_dim|measure;from=twin_b;order=id_dim").get.collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 4L))
    ses.execute("operation=drop_frag;frag_name=twin_b")
  }

  test("two imports of one NetCDF path share one cache entry; a rewrite re-imports") {
    val f = tmpFile("twin", ".nc").toFile
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    def write(scale: Double): Unit = NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("t" -> 4, "x" -> 3), "m", Array.tabulate(12)(_ * scale))
    def load(frag: String): Unit = ses.execute(s"operation=file_import;" +
      s"frag_name=$frag;src_path=${f.getAbsolutePath};measure=m;explicit=1")
    def rows(frag: String): Seq[Seq[Double]] = ses.execute(
      s"operation=select;field=id_dim|measure;from=$frag;order=id_dim").get
      .collect().map(_.getSeq[Double](1)).toSeq
    write(1.0)
    load("nc_a")
    load("nc_b")
    val (a, b) = (srv.storedFrag("default", "nc_a"), srv.storedFrag("default", "nc_b"))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    val batches = Seq(a, b).map(org.apache.spark.sql.GraftSqlShims.cachedBatches(_).get)
    assert(batches.head eq batches.last, "one cache entry holds both imports")
    // a rewritten file (a later modification time) is a new table: its
    // import reads the new values, the earlier imports keep their cache
    write(2.0)
    load("nc_c")
    assert(rows("nc_c") == Seq.tabulate(4)(r => Seq.tabulate(3)(c => (r * 3 + c) * 2.0)))
    assert(rows("nc_a") == Seq.tabulate(4)(r => Seq.tabulate(3)(c => (r * 3 + c) * 1.0)))
    Seq("nc_a", "nc_b", "nc_c").foreach(n => ses.execute(s"operation=drop_frag;frag_name=$n"))
  }

  test("compressed=yes stores deflated cells; reads are transparent") {
    val f = tmpFile("graft", ".nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("t" -> 4, "x" -> 4), "m", Array.tabulate(16)(_.toDouble))
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute(s"operation=file_import;frag_name=fz;" +
      s"src_path=${f.getAbsolutePath};measure=m;explicit=1;compressed=yes")
    // stored representation is a zlib blob, not an array
    assert(srv.storedFrag("default", "fz").schema("measure").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // reads inflate transparently — same results as an uncompressed import
    val out = ses.execute(
      "operation=select;field=id_dim|measure;from=fz;order=id_dim").get.collect()
    assert(out.length == 4 && out.head.getSeq[Double](1) == Seq(0.0, 1.0, 2.0, 3.0))
    // functions work over compressed fragments too
    ses.execute("operation=create_frag_select;frag_name=fz2;" +
      "field=id_dim|oph_reduce('oph_double','oph_double',measure,'oph_sum',4);" +
      "field_alias=id_dim|measure;from=fz;compressed=yes")
    val red = ses.execute(
      "operation=select;field=id_dim|measure;from=fz2;order=id_dim").get.collect()
    assert(red.head.getSeq[Double](1) == Seq(6.0))
    // the qd05 path: chunked prepared multi_insert with compressed=yes
    ses.execute("operation=create_frag;frag_name=mz;" +
      "column_name=id_dim|measure;column_type=long|double_array")
    ses.execute("operation=multi_insert;frag_name=mz;field=id_dim|measure;" +
      "value=?1|?2;tot_run=2;curr_run=1;compressed=yes",
      Seq[Any](1L, Seq(1.0, 2.0)))
    ses.execute("operation=multi_insert;frag_name=mz;field=id_dim|measure;" +
      "value=?1|?2;tot_run=2;curr_run=2;compressed=yes",
      Seq[Any](2L, Seq(3.0, 4.0)))
    assert(srv.storedFrag("default", "mz").schema("measure").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val ins = ses.execute(
      "operation=select;field=id_dim|measure;from=mz;order=id_dim").get.collect()
    assert(ins.map(_.getSeq[Double](1)).toSeq == Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
  }

  test("catalog save/load round-trips fragments and databases") {
    val dir = tmpDir("catalog").toFile.getAbsolutePath
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=create_database;db_name=mydb")
    ses.execute("operation=random_import;frag_name=cf;nrows=7;array_length=3")
    srv.saveCatalog(dir)
    val srv2 = new IoServer(spark)
    srv2.loadCatalog(dir)
    val ses2 = srv2.newSession()
    ses2.useDb("mydb") // database survived
    ses2.useDb("default")
    val rows = ses2.execute(
      "operation=select;field=id_dim|measure;from=cf;order=id_dim").get.collect()
    assert(rows.length == 7)
    val size = ses2.execute(
      "operation=function;function_name=oph_size;function_args=cf").get
    assert(size.head().getLong(0) == 7L)
  }

  test("dialect oph_aggregate_stats emits per-element mean+sd across rows") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=create_frag;frag_name=st;column_name=id_dim|measure;column_type=long|double")
    // two rows of 2-element arrays: means (2,3), population sd (1,1)
    import spark.implicits._
    srv.registerFragment("default", "stf",
      Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("id_dim", "measure"))
    ses.execute(
      "operation=create_frag_select;frag_name=stout;" +
        "field=oph_id(id_dim,10)|oph_aggregate_stats('oph_double',measure);" +
        "field_alias=id_dim|measure;from=stf;group=oph_id(id_dim,10)")
    val out = ses.execute(
      "operation=select;field=id_dim|measure;from=stout").get.collect()
    val stats = out.head.getSeq[Double](1)
    assert(stats == Seq(2.0, 3.0, 1.0, 1.0))
  }

  test("@info_system / @tot_table_size / @function_table compat keywords") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=random_import;frag_name=k;nrows=9;array_length=1")
    val info = ses.execute(
      "operation=select;field=id_dim|version|current_db;from=@info_system").get.head()
    assert(info.getString(2) == "default")
    val size = ses.execute(
      "operation=select;field=id_dim|tot_table_size;from=@tot_table_size").get.head()
    assert(size.getLong(1) == 9L)
    val fns = ses.execute(
      "operation=select;field=id_dim|function_name;from=@function_table").get
    assert(fns.count() > 80)
    val tbls = ses.execute(
      "operation=select;field=id_dim|db_name|frag_name|frag_size;" +
        "from=@info_system_table").get.collect()
    assert(tbls.exists(r => r.getString(2) == "k" && r.getLong(3) == 9L))
    val flds = ses.execute(
      "operation=select;field=id_dim|field_name;from=@function_fields").get
    assert(flds.collect().map(_.getString(1)).toSeq ==
      Seq("name", "ret", "dl", "type"))
  }

  test("a registered fragment of unknown size counts its rows in the catalog totals") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=random_import;frag_name=k9;nrows=9;array_length=1")
    import spark.implicits._
    srv.registerFragment("default", "reg2",
      Seq((1L, Seq(1.0)), (2L, Seq(2.0))).toDF("id_dim", "measure"))
    val total = ses.execute(
      "operation=select;field=id_dim|tot_table_size;from=@tot_table_size").get.head()
    assert(total.getLong(1) == 11L)
    val size = ses.execute(
      "operation=function;function_name=oph_size;function_args=reg2").get
    assert(size.head().getLong(0) == 2L)
    val tbls = ses.execute(
      "operation=select;field=id_dim|db_name|frag_name|frag_size;" +
        "from=@info_system_table").get.collect()
    assert(tbls.exists(r => r.getString(2) == "reg2" && r.getLong(3) == 2L))
  }

  test("compat mode enforces the reference's restrictions") {
    val srv = new IoServer(spark, compatStrict = true)
    val ses = srv.newSession()
    ses.execute("operation=random_import;frag_name=cm;nrows=10;array_length=2")
    // WHERE on a non-id column is rejected (only_id=1)
    intercept[IllegalArgumentException] {
      ses.execute("operation=create_frag_select;frag_name=x1;" +
        "field=id_dim|measure;from=cm;where=oph_count_array(measure)=2")
    }
    // CTAS must be exactly 2 columns
    intercept[IllegalArgumentException] {
      ses.execute("operation=create_frag_select;frag_name=x2;" +
        "field=id_dim|measure|measure;from=cm")
    }
    // DESC is ignored (ascending output), matching the reference warning
    val r = ses.execute("operation=select;field=id_dim;from=cm;" +
      "order=id_dim;order_dir=DESC").get.collect()
    assert(r.map(_.getLong(0)).toSeq == (1L to 10L))
  }

  test("tot_run/curr_run chunked prepared inserts commit on the last run") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=create_frag;frag_name=tr;column_name=id_dim|measure;column_type=long|double")
    ses.execute("operation=insert;frag_name=tr;field=id_dim|measure;value=?1|?2;" +
      "tot_run=3;curr_run=1", Seq[Any](1L, 1.5))
    ses.execute("operation=insert;frag_name=tr;field=id_dim|measure;value=?1|?2;" +
      "tot_run=3;curr_run=2", Seq[Any](2L, 2.5))
    // not committed yet
    intercept[IllegalArgumentException] {
      ses.execute("operation=select;field=id_dim;from=tr")
    }
    ses.execute("operation=insert;frag_name=tr;field=id_dim|measure;value=?1|?2;" +
      "tot_run=3;curr_run=3", Seq[Any](3L, 3.5))
    val rows = ses.execute("operation=select;field=id_dim|measure;from=tr;order=id_dim")
      .get.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("prepared-statement binary args: array and blob binds") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=create_frag;frag_name=bb;column_name=id_dim|measure;column_type=long|blob")
    ses.execute("operation=insert;frag_name=bb;field=id_dim|measure;value=?1|?2",
      Seq[Any](1L, Seq(1.5, 2.5, 3.5)))
    val row = ses.execute("operation=select;field=id_dim|measure;from=bb").get.head()
    assert(row.getSeq[Double](1) == Seq(1.5, 2.5, 3.5))
  }

  test("oph_export writes NetCDF that our reader round-trips") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=random_import;frag_name=ex;nrows=6;array_length=4")
    val out = tmpFile("graft_export", ".nc").toFile
    ses.execute("operation=function;function_name=oph_export;" +
      s"function_args=ex|${out.getAbsolutePath}")
    val hdr = NetCDF3.readHeader(out.getAbsolutePath, hadoopConf)
    assert(hdr.dims.map(_.length) == Seq(6, 4))
    val v = hdr.variable("measure")
    val data = NetCDF3.readSlab(out.getAbsolutePath, hadoopConf, hdr, v, Seq(0, 0), Seq(6, 4))
    val orig = ses.execute("operation=select;field=id_dim|measure;from=ex;order=id_dim")
      .get.collect().flatMap(_.getSeq[Double](1))
    assert(data.toSeq == orig.toSeq)
  }

  test("oph_export format arg: cdf5/netcdf4/zarr/zarr3 all reimport byte-identically") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=random_import;frag_name=exf;nrows=6;array_length=4")
    val orig = ses.execute(
      "operation=select;field=id_dim|measure;from=exf;order=id_dim")
      .get.collect().flatMap(_.getSeq[Double](1)).toSeq
    Seq("cdf5" -> ".nc", "netcdf4" -> ".h5",
        "zarr" -> ".zarr", "zarr3" -> ".zarr").foreach { case (fmt, ext) =>
      val dir = tmpDir("export_fmt")
      val path = dir.resolve(s"out$ext").toString
      ses.execute("operation=function;function_name=oph_export;" +
        s"function_args=exf|$path|$fmt")
      // every exported container reads back through the sniffing reader
      val r = graft.sources.NcReader.open(path)
      try {
        assert(r.shape("measure") == Seq(6, 4), s"format $fmt")
        assert(r.readSlab("measure", Seq(0, 0), Seq(6, 4)).toSeq == orig,
          s"format $fmt")
      } finally r.close()
    }
  }

  test("read-stream reduction (sub_operation) folds into the @file load") {
    val f = tmpFile("graft_sub", ".nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("t" -> 3, "x" -> 4), "measure", Array.tabulate(12)(_.toDouble))
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute(
      s"operation=create_frag_select;frag_name=sub;from=@${f.getAbsolutePath};" +
        "explicit=1;sub_operation=avg;" +
        "field=id_dim|measure;field_alias=id_dim|measure")
    val rows = ses.execute(
      "operation=select;field=id_dim|measure;from=sub;order=id_dim").get.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getSeq[Double](1).head).toSeq == Seq(1.5, 5.5, 9.5))
  }

  test("dialect aggregate avg across rows divides by group size") {
    val srv = new IoServer(spark)
    val ses = srv.newSession()
    ses.execute("operation=random_import;frag_name=av;nrows=20;array_length=3")
    ses.execute(
      "operation=create_frag_select;frag_name=avout;" +
        "field=oph_id(id_dim,10)|oph_aggregate_operator('oph_double',measure,'oph_avg');" +
        "field_alias=id_dim|measure;from=av;group=oph_id(id_dim,10)")
    val out = ses.execute(
      "operation=select;field=id_dim|measure;from=avout;order=id_dim").get.collect()
    assert(out.length == 2)
    // cross-check against the sum variant / 10
    ses.execute(
      "operation=create_frag_select;frag_name=sout2;" +
        "field=oph_id(id_dim,10)|oph_aggregate_operator('oph_double',measure,'oph_sum');" +
        "field_alias=id_dim|measure;from=av;group=oph_id(id_dim,10)")
    val sums = ses.execute(
      "operation=select;field=id_dim|measure;from=sout2;order=id_dim").get.collect()
    out.zip(sums).foreach { case (a, s2) =>
      a.getSeq[Double](1).zip(s2.getSeq[Double](1)).foreach { case (av, sm) =>
        assert(math.abs(av - sm / 10.0) < 1e-12)
      }
    }
  }
}
