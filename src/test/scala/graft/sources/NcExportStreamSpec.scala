package graft.sources

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempRoot}

/** The single-file `.nc` export path (oph_export classic/cdf5/netcdf4):
  * bytes must pass through one sequential writer, but driver MEMORY must
  * stay bounded — [[ExportScan.ordered]] pumps the fragment in id order
  * into the CDF / HDF5-contiguous data section, fetching disjoint
  * partitions in id order and overlapping ones through the sorted
  * `toLocalIterator`. The listener test is the [[ZarrExportSpec]]
  * counterpart: there no row bytes reach the driver at all; here each
  * TASK result is one partition, so the PEAK (max single task result) is
  * bounded even though the total equals the data size. */
class NcExportStreamSpec extends SparkSpec with TempRoot {

  private def outFile(ext: String): String =
    tmpDir("ncstream").resolve(s"out.$ext").toString

  /** The oph_export single-file pump. */
  private def pump(df: DataFrame) =
    ExportScan.ordered(df, "id_dim", "measure")._3

  /** Export ~10 MiB of `arrange`d rows; every single task result stays a
    * fraction of the data and within the advisory partition size (the
    * bound on one fetch), and the file holds the rows in id order. */
  private def assertStreamed(arrange: DataFrame => DataFrame, disjoint: Boolean): Unit = {
    val maxTask = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          maxTask.accumulateAndGet(e.taskMetrics.resultSize, Math.max(_, _))
    }
    // ~10 MiB of array data across 16 partitions: a collect()-style
    // export would ship it as one task-result wave; the partition pump
    // bounds every single task result to ~1/16 of the data
    val (n, m) = (20000, 64)
    val df = arrange(spark.range(1, n + 1).select(col("id").as("id_dim"))
      .withColumn("measure",
        transform(sequence(lit(1), lit(m)), x => x.cast("double") + col("id_dim"))))
    assert(ExportScan.stats(ExportScan.source(df, "id_dim", "measure"))
      .disjoint.isDefined == disjoint)
    val p = outFile("nc")
    spark.sparkContext.addSparkListener(listener)
    try {
      NetCDF3.writeDoubleVarStreamed(p, Seq("id_dim" -> n, "elem" -> m),
        "measure", pump(df))
      Thread.sleep(2000) // listener bus drains asynchronously
      val dataBytes = n.toLong * m * 8
      assert(dataBytes > 8L * 1024 * 1024)
      assert(maxTask.get() < dataBytes / 4,
        s"peak task result ${maxTask.get()} — export collected, not streamed")
      val budget = JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
      assert(maxTask.get() <= budget, s"peak task result ${maxTask.get()} over $budget")
    } finally spark.sparkContext.removeSparkListener(listener)
    // readback: first and last rows landed sorted and intact
    val hdr = NetCDF3.readHeader(p, hadoopConf)
    val v = hdr.variable("measure")
    assert(NetCDF3.readSlab(p, hadoopConf, hdr, v, Seq(0, 0), Seq(1, 3)).toSeq ==
      Seq(2.0, 3.0, 4.0)) // id_dim 1 + elem 1..3
    assert(NetCDF3.readSlab(p, hadoopConf, hdr, v, Seq(n - 1, 0), Seq(1, 2)).toSeq ==
      Seq(n + 1.0, n + 2.0))
  }

  test("classic CDF streamed export: peak driver task-result is one partition") {
    // overlapping partitions: the sorted toLocalIterator fallback
    assertStreamed(_.repartition(16), disjoint = false)
  }

  test("disjoint partitions stream in id order, one partition per task result") {
    // fetched in lo order, batched up to the advisory partition size
    assertStreamed(_.repartitionByRange(16, col("id_dim")).sortWithinPartitions(col("id_dim").desc),
      disjoint = true)
  }

  test("a disjoint partition over the advisory size streams through the sorted fallback") {
    // one ~10 MiB partition: fetching it whole would ship it in one result
    assertStreamed(_.coalesce(1), disjoint = true)
  }

  test("cdf5 streamed export round-trips") {
    import spark.implicits._
    val (n, m) = (40, 5)
    val df = (1 to n).map(i =>
      (i.toLong, Array.tabulate(m)(j => i * 10.0 + j)))
      .toDF("id_dim", "measure").repartition(6)
    val p = outFile("nc")
    NetCDF3.writeDoubleVarStreamed(p, Seq("id_dim" -> n, "elem" -> m),
      "measure", pump(df), version = 5)
    val hdr = NetCDF3.readHeader(p, hadoopConf)
    assert(hdr.version == 5)
    val v = hdr.variable("measure")
    val got = NetCDF3.readSlab(p, hadoopConf, hdr, v, Seq(0, 0), Seq(n, m)).toSeq
    val want = (1 to n).flatMap(i => (0 until m).map(j => i * 10.0 + j))
    assert(got == want)
  }

  test("netcdf4 (HDF5 contiguous) streamed export round-trips") {
    import spark.implicits._
    val (n, m) = (60, 7)
    val df = (1 to n).map(i =>
      (i.toLong, Array.tabulate(m)(j => i * 2.0 - j * 0.5)))
      .toDF("id_dim", "measure").repartition(5)
    val p = outFile("h5")
    HDF5.writeDoubleVarStreamed(p, Seq("id_dim" -> n, "elem" -> m),
      "measure", pump(df))
    val r = new HDF5.Hdf5Reader(p, hadoopConf)
    try {
      val got = r.readSlab("measure", Seq(0, 0), Seq(n, m)).toSeq
      val want = (1 to n).flatMap(i => (0 until m).map(j => i * 2.0 - j * 0.5))
      assert(got == want)
      // interior hyperslab through the contiguous layout
      val slab = r.readSlab("measure", Seq(10, 2), Seq(2, 3)).toSeq
      val wantSlab = for (i <- 11 to 12; j <- 2 until 5)
        yield i * 2.0 - j * 0.5
      assert(slab == wantSlab)
    } finally r.close()
  }

  test("streamed writers verify the element count against the dims") {
    val p = outFile("nc")
    val under = intercept[IllegalArgumentException] {
      NetCDF3.writeDoubleVarStreamed(p, Seq("x" -> 3), "m",
        Iterator(Array(1.0, 2.0)))
    }
    assert(under.getMessage.contains("streamed 2"))
    val over = intercept[IllegalArgumentException] {
      HDF5.writeDoubleVarStreamed(outFile("h5"), Seq("x" -> 2), "m",
        Iterator(Array(1.0, 2.0), Array(3.0)))
    }
    assert(over.getMessage.contains("more than 2"))
  }
}
