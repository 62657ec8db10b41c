package graft.engine

import org.apache.spark.storage.StorageLevel

import graft.{SparkSpec, TempRoot}
import graft.core.Engine
import graft.sources.NetCDF3

/** Every stored wire result is filled through `Engine.materialize`: one
  * Spark job per statement over a resident input, and the exact row
  * count, so fragment sizes are unchanged. */
class MaterializeSpec extends SparkSpec with TempRoot {
  private def size(s: IoServer#Session, frag: String): Long =
    s.execute(s"operation=function;function_name=oph_size;function_args=$frag")
      .get.head().getLong(0)

  test("Engine.materialize fills a persisted frame in one job with its exact count") {
    val df = spark.range(0, 1000, 1, 4).toDF("id_dim")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var n = -1L
      assert(jobsOf { n = Engine.materialize(df) } == 1)
      assert(n == 1000L)
      // the fill set the cached relation's row count, as the AQE fill does
      assert(df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1000)))
      // a frame with no cache entry is counted instead
      assert(Engine.materialize(spark.range(7).toDF()) == 7L)
    } finally df.unpersist()
  }

  test("ctas, final multi_insert, file_import and random_import each start one job") {
    val srv = new IoServer(spark)
    val s = srv.newSession()
    assert(jobsOf(s.execute(
      "operation=random_import;frag_name=src;nrows=200;array_length=8")) == 1)
    // the source is resident: the CTAS runs only its own fill
    assert(jobsOf(s.execute(
      "operation=create_frag_select;frag_name=out;" +
        "field=id_dim|oph_reduce('oph_double','oph_double',measure,'oph_avg',4);" +
        "field_alias=id_dim|measure;from=src;" +
        "where=oph_is_in_subset(id_dim,1,2,200)")) == 1)
    assert(size(s, "out") == 100L)

    s.execute("operation=create_frag;frag_name=mi;" +
      "column_name=id_dim|measure;column_type=long|double")
    s.execute("operation=multi_insert;frag_name=mi;field=id_dim|measure;" +
      "value=1|1.5|2|2.5")
    assert(jobsOf(s.execute("operation=multi_insert;frag_name=mi;" +
      "field=id_dim|measure;value=3|3.5;final_statement=yes")) == 1)
    assert(size(s, "mi") == 3L)

    val f = tmpFile("graft_mat", ".nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("t" -> 5, "x" -> 4), "m", Array.tabulate(20)(_.toDouble))
    assert(jobsOf(s.execute(s"operation=file_import;frag_name=fi;" +
      s"src_path=${f.getAbsolutePath};measure=m;explicit=1")) == 1)
    assert(size(s, "fi") == 5L)
  }

  test("oph_size is the row count of an empty CTAS, a compressed fragment " +
      "and a chunked insert") {
    val srv = new IoServer(spark)
    val s = srv.newSession()
    s.execute("operation=random_import;frag_name=r;nrows=12;array_length=4")
    s.execute("operation=create_frag_select;frag_name=none;field=id_dim|measure;" +
      "from=r;where=id_dim>100")
    assert(size(s, "none") == 0L)
    s.execute("operation=create_frag_select;frag_name=z;field=id_dim|measure;" +
      "from=r;compressed=yes")
    assert(size(s, "z") == 12L)
    assert(s.execute("operation=select;field=id_dim|measure;from=z").get.count() == 12)

    s.execute("operation=create_frag;frag_name=ch;" +
      "column_name=id_dim|measure;column_type=long|double")
    (1 to 4).foreach { run =>
      s.execute("operation=multi_insert;frag_name=ch;field=id_dim|measure;" +
        s"value=?1|?2|?3|?4;tot_run=4;curr_run=$run",
        Seq[Any](2L * run - 1, 1.0 * run, 2L * run, 2.0 * run))
    }
    assert(size(s, "ch") == 8L)
  }
}
