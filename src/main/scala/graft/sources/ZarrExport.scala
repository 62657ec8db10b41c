package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Distributed Zarr export: the scale-safe counterpart of the driver-side
  * `oph_export` single-file path. The DRIVER writes only the store
  * metadata (`.zgroup`/`.zarray` or the `zarr.json` pair); every chunk is
  * assembled, compressed and written by the EXECUTOR holding its rows,
  * through its own Hadoop FileSystem handle (the write-side mirror of
  * [[RandomInput]]'s partitioned reads — s3a://, hdfs:// and file:// all
  * work wherever the cluster has the connector). No row bytes ever pass
  * through the driver, so a 100 TB fragment exports at scan parallelism.
  *
  * The reference's export (OPH_EXPORTNC via oph_io_server) is a
  * single-process write of a whole fragment; this keeps its result
  * layout (one 2-D float64 array, rows × elements) while distributing
  * the byte movement.
  *
  * Layout: shape (n, m), chunks (rowsPerChunk, m) — row-aligned chunking
  * means each output chunk's rows are exactly one shuffle group. An export
  * is two jobs on the unsorted fragment ([[ExportScan]]): the stats job,
  * then one write pass hash-shuffling rows, placed at id − min(id), on
  * their chunk id. Only ids with gaps fall back to a sort.
  */
object ZarrExport {

  /** N-dimensional cube export: the fragment's rows are the row-major
    * flattening of `rowDims` (the cube's explicit dims, id_dim 0-based
    * after min-subtraction) and each array cell spans `colDims` (the
    * implicit dims). The store keeps the FULL dimensionality — shape is
    * rowDims ++ colDims — with chunking along the outermost dim only
    * (chunk = (c0, rest full)), which aligns chunks to whole row groups
    * so the distributed writer's row-aligned shuffle still holds: a
    * chunk of c0 outer slabs is exactly c0·∏(rowDims.tail) consecutive
    * fragment rows. Returns (rows, chunkCount). */
  def writeDistributedNd(frag: DataFrame, idCol: String, arrCol: String,
      path: String, varName: String, v3: Boolean,
      rowDims: Seq[(String, Int)], colDims: Seq[(String, Int)],
      rowsPerChunk: Int = 0, level: Int = 6): (Long, Int) = {
    val m = colDims.map(_._2).product
    val (src, n, lo, hi, chunk, rows) = cubeScan(frag, idCol, arrCol, rowDims,
      colDims, if (rowsPerChunk > 0) rowsPerChunk.toLong else math.max(1L, (4L << 20) / (m * 8)))
    putChunks(src, n, lo, hi, m, (rowDims ++ colDims).map(_._2), chunk, rows,
      path, varName, v3, level)
  }

  /** Export `frag`'s (idCol, arrCol) as a float64 Zarr store; returns
    * (rows, chunkCount). `rowsPerChunk <= 0` picks ~4 MiB chunks — the
    * object-store sweet spot; tiny test fragments pass an explicit value
    * to exercise the multi-chunk path. */
  def writeDistributed(frag: DataFrame, idCol: String, arrCol: String,
      path: String, varName: String, v3: Boolean,
      rowsPerChunk: Int = 0, level: Int = 6): (Long, Int) = {
    val src = ExportScan.source(frag, idCol, arrCol)
    val (n, lo, hi, m) = ExportScan.header(src, idCol)
    if (n == 0L || m <= 0) { // no rows, or empty/null arrays: metadata only
      Zarr.writeStoreMeta(path, sessionConf(frag), varName, Seq(n.toInt, 0), Seq(1, 1),
        v3, level)
      return (n, 0)
    }
    val rpc = ExportScan.chunkRows(rowsPerChunk, m)
    putChunks(src, n, lo, hi, m, Seq(n.toInt, m), Seq(rpc, m), rpc, path,
      varName, v3, level)
  }

  /** N-dimensional sharded export: [[writeDistributedNd]]'s layout
    * (chunking along the outermost dim, whole outer slabs per chunk)
    * with [[writeDistributedSharded]]'s object economics — each object
    * is a shard of `chunksPerShard` inner chunks along dim 0, carrying
    * its own CRC-32C-tailed index. Returns (rows, shardCount). */
  def writeDistributedShardedNd(frag: DataFrame, idCol: String,
      arrCol: String, path: String, varName: String,
      rowDims: Seq[(String, Int)], colDims: Seq[(String, Int)],
      rowsPerChunk: Int, chunksPerShard: Int, level: Int = 6): (Long, Int) = {
    require(rowsPerChunk > 0 && chunksPerShard > 0,
      "sharded export needs explicit rowsPerChunk and chunksPerShard")
    val m = colDims.map(_._2).product
    // inner chunk: whole outer slabs, as the unsharded n-D writer
    val (src, n, lo, hi, chunk, rows) =
      cubeScan(frag, idCol, arrCol, rowDims, colDims, rowsPerChunk.toLong)
    if (n == 0L) {
      Zarr.writeStoreMeta(path, sessionConf(frag), varName, Seq(0, 0), Seq(1, 1),
        v3 = true, level)
      return (0L, 0)
    }
    putShards(src, n, lo, hi, m, (rowDims ++ colDims).map(_._2), chunk, rows,
      chunksPerShard, path, varName, level)
  }

  /** Sharded v3 export (`sharding_indexed`): same row-aligned
    * distribution as [[writeDistributed]], but each OBJECT is a shard of
    * `chunksPerShard` inner chunks, carrying its own CRC-32C-tailed
    * (offset, nbytes) index at the object end. At 100 TB with ~4 MiB
    * chunks a plain store is an object-count problem (listing, request
    * rates, per-object overhead); sharding divides the object count by
    * chunksPerShard while the index keeps reads chunk-granular — a
    * reader fetches the index + one inner chunk range, not the shard.
    * Returns (rows, shardCount). */
  def writeDistributedSharded(frag: DataFrame, idCol: String, arrCol: String,
      path: String, varName: String, rowsPerChunk: Int,
      chunksPerShard: Int, level: Int = 6): (Long, Int) = {
    require(rowsPerChunk > 0 && chunksPerShard > 0,
      "sharded export needs explicit rowsPerChunk and chunksPerShard")
    val src = ExportScan.source(frag, idCol, arrCol)
    val (n, lo, hi, m) = ExportScan.header(src, idCol)
    if (n == 0L || m <= 0) {
      Zarr.writeStoreMeta(path, sessionConf(frag), varName, Seq(n.toInt, 0),
        Seq(1, 1), v3 = true, level)
      return (n, 0)
    }
    val rpc = ExportScan.chunkRows(rowsPerChunk, m) // rowsPerChunk, size-checked
    putShards(src, n, lo, hi, m, Seq(n.toInt, m), Seq(rpc, m), rpc,
      chunksPerShard, path, varName, level)
  }

  /** The checked scan of a cube export: the fragment holds exactly the
    * row-major cells of `rowDims` (contiguous ids), each an array of
    * ∏`colDims`; chunks hold c0 whole outer slabs (~`rowsTarget` rows).
    * Returns (source, n, lo, hi, chunk shape, rows per chunk). */
  private def cubeScan(frag: DataFrame, idCol: String, arrCol: String,
      rowDims: Seq[(String, Int)], colDims: Seq[(String, Int)],
      rowsTarget: Long): (DataFrame, Long, Long, Long, Seq[Int], Long) = {
    val nExpected = rowDims.map(_._2.toLong).product
    val m = colDims.map(_._2).product
    val rowsPerOuter = rowDims.drop(1).map(_._2.toLong).product
    val c0 = math.max(1L, rowsTarget / math.max(1L, rowsPerOuter)).toInt
    val rows = c0 * rowsPerOuter
    require(rows * m * 8 <= Int.MaxValue,
      s"chunk ($c0 outer slabs x $rowsPerOuter rows x $m) exceeds 2 GiB")
    val src = ExportScan.source(frag, idCol, arrCol)
    val (n, lo, hi, mGot) = ExportScan.header(src, idCol)
    require(n == nExpected, s"cube is sparse or overfull: $n rows for " +
      s"shape product $nExpected — fill or subset before export")
    if (n > 0) {
      require(mGot == m, s"array length $mGot != implicit-dim product $m")
      require(hi - lo + 1 == n, "cube id_dim must be contiguous")
    }
    (src, n, lo, hi, c0 +: (rowDims.drop(1) ++ colDims).map(_._2), rows)
  }

  /** The store: metadata for `shape` in `chunk`s (`rows` fragment rows
    * along dim 0), then one object per chunk of the write pass,
    * compressed and put by the executor that assembled it. Returns
    * (rows, chunkCount). */
  private def putChunks(src: DataFrame, n: Long, lo: Long, hi: Long, m: Int,
      shape: Seq[Int], chunk: Seq[Int], rows: Long, path: String,
      varName: String, v3: Boolean, level: Int): (Long, Int) = {
    Zarr.writeStoreMeta(path, sessionConf(src), varName, shape, chunk, v3, level)
    if (n == 0L) return (0L, 0)
    val nChunks = ((n + rows - 1) / rows).toInt
    val (arrayDir, conf) = (new Path(path, varName).toString, hadoopConf(src))
    ExportScan.chunks(ExportScan.rowIndex(src, n, lo, hi), rows, m, nChunks)
      .foreach { case (gid, raw) =>
        Zarr.putObject(arrayDir, Zarr.chunkKey(gid.toInt +: Seq.fill(shape.size - 1)(0), v3),
          Zarr.compressChunk(raw, v3, level), conf.value.value)
      }
    (n, nChunks)
  }

  /** The sharded store: [[putChunks]]'s `chunk`s as the inner chunks of
    * one `sharding_indexed` object per `chunksPerShard` of them along
    * dim 0, each assembled by the executor that receives the shard's
    * rows: inner chunks at full nominal size (edges zero-padded, as the
    * unsharded writer), compressed, then the (offset, nbytes) index +
    * CRC-32C; an absent chunk indexes as -1. Returns (rows, shardCount). */
  private def putShards(src: DataFrame, n: Long, lo: Long, hi: Long, m: Int,
      shape: Seq[Int], chunk: Seq[Int], innerRows: Long, chunksPerShard: Int,
      path: String, varName: String, level: Int): (Long, Int) = {
    val shardRows = innerRows * chunksPerShard
    val nShards = ((n + shardRows - 1) / shardRows).toInt
    Zarr.writeStoreMeta(path, sessionConf(src), varName, shape,
      (chunk.head * chunksPerShard) +: chunk.tail, v3 = true, level,
      shardInner = Some(chunk))
    val (arrayDir, conf, rank) = (new Path(path, varName).toString, hadoopConf(src), shape.size)
    ExportScan.rowIndex(src, n, lo, hi)
      .map { case (i, a) => (i / shardRows, (i, a)) }
      .groupByKey(math.max(1, math.min(nShards, src.sparkSession.sparkContext.defaultParallelism)))
      .foreach { case (sid, rows) =>
        val inner = Array.fill(chunksPerShard)(null: Array[Byte])
        rows.foreach { case (i, a) =>
          val within = i - sid * shardRows
          val ci = (within / innerRows).toInt
          if (inner(ci) == null)
            inner(ci) = new Array[Byte]((innerRows * m * 8).toInt)
          val bb = ByteBuffer.wrap(inner(ci)).order(ByteOrder.LITTLE_ENDIAN)
          val off = ((within % innerRows) * m * 8).toInt
          var j = 0
          while (j < m) { bb.putDouble(off + j * 8, a(j)); j += 1 }
        }
        val body = new java.io.ByteArrayOutputStream()
        val idx = ByteBuffer.allocate(16 * chunksPerShard + 4)
          .order(ByteOrder.LITTLE_ENDIAN)
        var ci = 0
        while (ci < chunksPerShard) {
          if (inner(ci) == null) { idx.putLong(-1L); idx.putLong(-1L) }
          else {
            val comp = Zarr.compressChunk(inner(ci), v3 = true, level)
            idx.putLong(body.size().toLong); idx.putLong(comp.length.toLong)
            body.write(comp)
          }
          ci += 1
        }
        val crc = new java.util.zip.CRC32C
        crc.update(idx.array(), 0, 16 * chunksPerShard)
        idx.putInt(crc.getValue.toInt)
        body.write(idx.array())
        val gidx = sid.toInt +: Seq.fill(rank - 1)(0)
        Zarr.putObject(arrayDir, Zarr.chunkKey(gidx, v3 = true),
          body.toByteArray, conf.value.value)
      }
    (n, nShards)
  }

  /** The session's Hadoop configuration, for the driver's metadata writes. */
  private def sessionConf(df: DataFrame) = df.sparkSession.sparkContext.hadoopConfiguration

  /** The session's Hadoop configuration, broadcast to the writing tasks. */
  private def hadoopConf(src: DataFrame) =
    SerializableHadoopConf.broadcast(src.sparkSession.sparkContext)
}
