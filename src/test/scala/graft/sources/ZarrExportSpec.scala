package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempRoot}

/** Distributed Zarr export: executors write the chunks, the driver only
  * metadata. Readback goes through ZarrReader, so the store must be
  * spec-valid, not merely self-consistent. */
class ZarrExportSpec extends SparkSpec with TempRoot {

  private def tmp(): String =
    tmpDir("zexp").resolve("store.zarr").toString

  private def readBack(path: String, n: Int, m: Int): Seq[Double] = {
    val r = new Zarr.ZarrReader(path, hadoopConf)
    try r.readSlab("measure", Seq(0, 0), Seq(n, m)).toSeq
    finally r.close()
  }

  test("v2: multi-chunk multi-partition export round-trips; driver sees no rows") {
    import spark.implicits._
    val (n, m) = (53, 6) // ragged: 53 rows / 10-row chunks -> 6 chunks
    val df = (0 until n).map(i =>
      (i.toLong + 1, Array.tabulate(m)(j => i * 1.0 + j * 0.25)))
      .toDF("id_dim", "measure").repartition(7)
    val p = tmp()
    val (rows, chunks) = ZarrExport.writeDistributed(df, "id_dim", "measure",
      p, "measure", v3 = false, rowsPerChunk = 10)
    assert(rows == n && chunks == 6)
    // chunk objects exist under dotted v2 keys, written by executors
    assert(Files.exists(Paths.get(p, "measure", "0.0")))
    assert(Files.exists(Paths.get(p, "measure", "5.0")))
    val got = readBack(p, n, m)
    val want = (0 until n).flatMap(i => (0 until m).map(j => i * 1.0 + j * 0.25))
    assert(got == want)
  }

  test("v3: default chunk-key encoding (c/i/j), gzip codec chain") {
    import spark.implicits._
    val (n, m) = (20, 4)
    val df = (0 until n).map(i =>
      (i.toLong, Array.tabulate(m)(j => i * 2.0 - j)))
      .toDF("id_dim", "measure").repartition(3)
    val p = tmp()
    val (rows, chunks) = ZarrExport.writeDistributed(df, "id_dim", "measure",
      p, "measure", v3 = true, rowsPerChunk = 8)
    assert(rows == n && chunks == 3)
    assert(Files.exists(Paths.get(p, "measure", "c", "0", "0")))
    assert(Files.exists(Paths.get(p, "measure", "c", "2", "0")))
    val got = readBack(p, n, m)
    val want = (0 until n).flatMap(i => (0 until m).map(j => i * 2.0 - j))
    assert(got == want)
  }

  test("non-contiguous ids fall back to sort + zipWithIndex, same layout") {
    import spark.implicits._
    val m = 3
    // ids with gaps, shuffled order: row index must follow id order
    val ids = Seq(2L, 11L, 5L, 40L, 23L, 17L)
    val df = ids.map(id => (id, Array.tabulate(m)(j => id * 10.0 + j)))
      .toDF("id_dim", "measure").repartition(4)
    val p = tmp()
    val (rows, chunks) = ZarrExport.writeDistributed(df, "id_dim", "measure",
      p, "measure", v3 = false, rowsPerChunk = 4)
    assert(rows == ids.length && chunks == 2)
    val got = readBack(p, ids.length, m)
    val want = ids.sorted.flatMap(id => (0 until m).map(j => id * 10.0 + j))
    assert(got == want)
  }

  test("n-D cube export keeps dimensionality, chunks along the outer dim") {
    import spark.implicits._
    // explicit (6 x 4) x implicit (3): 24 rows of 3-element arrays,
    // id_dim 1-based row-major over (d0, d1)
    val (d0, d1, m) = (6, 4, 3)
    val rows = for (i <- 0 until d0; j <- 0 until d1) yield
      ((i * d1 + j + 1).toLong,
        Array.tabulate(m)(k => i * 100.0 + j * 10.0 + k))
    val df = rows.toDF("id_dim", "measure").repartition(5)
    val p = tmp()
    val cube = graft.cube.Cube(df, Seq("d0" -> d0, "d1" -> d1), Seq("z" -> m))
    val (n, chunks) = cube.exportZarr(p, v3 = true, rowsPerChunk = 8)
    // 8 requested rows / 4 rows per outer slab -> c0 = 2 -> 3 chunks
    assert(n == d0 * d1 && chunks == 3)
    assert(Files.exists(Paths.get(p, "measure", "c", "0", "0", "0")))
    assert(Files.exists(Paths.get(p, "measure", "c", "2", "0", "0")))
    val r = new Zarr.ZarrReader(p, hadoopConf)
    try {
      assert(r.shape("measure") == Seq(d0, d1, m))
      // full 3-D read in C order == the row-major construction
      val got = r.readSlab("measure", Seq(0, 0, 0), Seq(d0, d1, m)).toSeq
      val want = for (i <- 0 until d0; j <- 0 until d1; k <- 0 until m)
        yield i * 100.0 + j * 10.0 + k
      assert(got == want)
      // an interior hyperslab crossing the chunk boundary
      val slab = r.readSlab("measure", Seq(1, 2, 1), Seq(3, 2, 2)).toSeq
      val wantSlab = for (i <- 1 until 4; j <- 2 until 4; k <- 1 until 3)
        yield i * 100.0 + j * 10.0 + k
      assert(slab == wantSlab)
    } finally r.close()
  }

  test("sharding_indexed export round-trips through the reader") {
    import spark.implicits._
    val (n, m) = (53, 6)
    val df = (0 until n).map(i =>
      (i.toLong + 1, Array.tabulate(m)(j => i * 1.0 + j * 0.25)))
      .toDF("id_dim", "measure").repartition(7)
    val p = tmp()
    // inner chunks of 5 rows, 3 per shard → shard = 15 rows → 4 shards;
    // the last shard holds inner chunks 9,10 (partial) and a MISSING
    // slot 11 (rows 55.. beyond n) → (-1,-1) index entry
    val (rows, shards) = ZarrExport.writeDistributedSharded(df, "id_dim",
      "measure", p, "measure", rowsPerChunk = 5, chunksPerShard = 3)
    assert(rows == n && shards == 4)
    // 4 shard objects, not 11 chunk objects
    assert(Files.exists(Paths.get(p, "measure", "c", "0", "0")))
    assert(Files.exists(Paths.get(p, "measure", "c", "3", "0")))
    assert(!Files.exists(Paths.get(p, "measure", "c", "4", "0")))
    val got = readBack(p, n, m)
    val want = (0 until n).flatMap(i => (0 until m).map(j => i * 1.0 + j * 0.25))
    assert(got == want)
    // an interior slab crossing a shard boundary reads correctly
    val r = new Zarr.ZarrReader(p, hadoopConf)
    try {
      val slab = r.readSlab("measure", Seq(13, 2), Seq(4, 2)).toSeq
      val wantSlab = for (i <- 13 until 17; j <- 2 until 4)
        yield i * 1.0 + j * 0.25
      assert(slab == wantSlab)
    } finally r.close()
    // a flipped index byte breaks the CRC-32C loudly (drop Hadoop's own
    // sidecar checksum so OUR index CRC is the failing layer)
    val obj = Paths.get(p, "measure", "c", "0", "0")
    Files.deleteIfExists(Paths.get(p, "measure", "c", "0", ".0.crc"))
    val bytes = Files.readAllBytes(obj)
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x01).toByte
    Files.write(obj, bytes)
    val r2 = new Zarr.ZarrReader(p, hadoopConf)
    try {
      val e = intercept[IllegalArgumentException](
        r2.readSlab("measure", Seq(0, 0), Seq(1, 1)))
      assert(e.getMessage.contains("CRC-32C"))
    } finally r2.close()
  }

  test("n-D sharded cube export keeps dimensionality; ranged reads cross shards") {
    import spark.implicits._
    val (d0, d1, m) = (10, 4, 3)
    val rows = for (i <- 0 until d0; j <- 0 until d1) yield
      ((i * d1 + j + 1).toLong,
        Array.tabulate(m)(k => i * 100.0 + j * 10.0 + k))
    val df = rows.toDF("id_dim", "measure").repartition(4)
    val p = tmp()
    val cube = graft.cube.Cube(df, Seq("d0" -> d0, "d1" -> d1), Seq("z" -> m))
    // inner chunk = 1 outer slab (4 rows), 2 chunks/shard → 5 shards
    val (n, shards) = cube.exportZarrSharded(p, rowsPerChunk = 4,
      chunksPerShard = 2)
    assert(n == d0 * d1 && shards == 5)
    assert(Files.exists(Paths.get(p, "measure", "c", "0", "0", "0")))
    assert(Files.exists(Paths.get(p, "measure", "c", "4", "0", "0")))
    assert(!Files.exists(Paths.get(p, "measure", "c", "5", "0", "0")))
    val r = new Zarr.ZarrReader(p, hadoopConf)
    try {
      assert(r.shape("measure") == Seq(d0, d1, m))
      val got = r.readSlab("measure", Seq(0, 0, 0), Seq(d0, d1, m)).toSeq
      val want = for (i <- 0 until d0; j <- 0 until d1; k <- 0 until m)
        yield i * 100.0 + j * 10.0 + k
      assert(got == want)
      // hyperslab straddling an inner-chunk AND a shard boundary
      val slab = r.readSlab("measure", Seq(1, 2, 1), Seq(3, 2, 2)).toSeq
      val wantSlab = for (i <- 1 until 4; j <- 2 until 4; k <- 1 until 3)
        yield i * 100.0 + j * 10.0 + k
      assert(slab == wantSlab)
    } finally r.close()
  }

  test("no row bytes funnel through the driver (executor-side writes)") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val total = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) total.addAndGet(e.taskMetrics.resultSize)
    }
    // ~10 MiB of array data: if any rows were collected, task result
    // sizes would be of that order; executor-side writes ship only
    // status + accumulators back
    val (n, m) = (20000, 64)
    val df = spark.range(1, n + 1).select(col("id").as("id_dim"))
      .withColumn("measure",
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.sequence(lit(1), lit(m)),
          x => x.cast("double") + col("id_dim")))
    val p = tmp()
    spark.sparkContext.addSparkListener(listener)
    try {
      val (rows, chunks) = ZarrExport.writeDistributed(df, "id_dim",
        "measure", p, "measure", v3 = false)
      assert(rows == n && chunks >= 1)
      Thread.sleep(2000) // listener bus drains asynchronously
      val dataBytes = n.toLong * m * 8
      assert(dataBytes > 8L * 1024 * 1024)
      assert(total.get() < 1024 * 1024,
        s"driver received ${total.get()} result bytes for a $dataBytes-byte export")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("empty fragment writes metadata only") {
    import spark.implicits._
    val df = Seq.empty[(Long, Array[Double])].toDF("id_dim", "measure")
    val p = tmp()
    val (rows, chunks) = ZarrExport.writeDistributed(df, "id_dim", "measure",
      p, "measure", v3 = false)
    assert(rows == 0L && chunks == 0)
    assert(Files.exists(Paths.get(p, ".zgroup")))
  }
}
