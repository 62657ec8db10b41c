package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Zarr v2 + v3 store reader/writer — the reference's Zarr capability
  * (HISTORY.md v1.9.0 "Support for Zarr format", delegated there to
  * netcdf-c's NCZarr dispatch via URL src_paths,
  * oph_io_server_nc.c:2769). Implemented from the public Zarr specs:
  * a store is a directory tree; a v2 array directory holds a `.zarray`
  * JSON document (shape, chunks, dtype, compressor, fill_value, order)
  * and chunk objects keyed `i.j.k` (or `/`-separated per
  * `dimension_separator`); a v3 array directory holds `zarr.json`
  * (zarr_format 3, node_type array, named data_type, regular
  * chunk_grid, codecs chain, chunk_key_encoding) with chunks under the
  * `c/` prefix (default key encoding) or v2-style keys. Edge chunks are
  * stored full-size in both versions; a missing chunk object means
  * fill_value.
  *
  * Supported: C and F order; v2 dtypes [<>|][fiu][1248] / v3 named data
  * types (float32/64, [u]int8/16/32, int64); compressors null, zlib,
  * gzip, zstd (raw frames via the zstd library Spark ships) and blosc
  * (the numcodecs default — blosclz/lz4/snappy/zlib/zstd codecs, byte
  * AND bit shuffle via the [[Blosc]] frame codec); the v3
  * `sharding_indexed` codec (per-object chunk indexes) is read and
  * written; the v3 `transpose` codec and v2 `order: "F"` read through
  * one shared stride remap (no chunk materialization in either order);
  * arrays at the store root or one level down (the netCDF-via-Zarr
  * layout). All IO goes through the Hadoop FileSystem API, so
  * `s3a://bucket/store.zarr` works wherever the cluster has the cloud
  * connector — each Spark partition opens its own handles and reads
  * only the chunks its rows intersect. Every entry point that touches a
  * store takes the caller's Hadoop `conf` (the session's on the driver,
  * its [[SerializableHadoopConf]] broadcast in a task) and resolves the
  * FileSystem through it; none builds a configuration of its own. */
object Zarr {

  /** `keyPrefix` is "c" for the v3 default chunk-key encoding ("c/0/1"),
    * "" for v2 and the v3 "v2" encoding ("0.1"). */
  /** `chunks` is the per-OBJECT grid: for a sharded v3 array it is the
    * SHARD shape and `shardInner` carries the inner chunk shape (each
    * object then holds its own offset/size index over the inner chunks,
    * `shardIndexCrc` = index tailed by a CRC-32C). */
  final case class ZArray(shape: Seq[Int], chunks: Seq[Int], kind: Char,
                          esize: Int, littleEndian: Boolean,
                          compressor: String, fill: Double, sep: String,
                          keyPrefix: String = "",
                          shardInner: Option[Seq[Int]] = None,
                          shardIndexCrc: Boolean = true,
                          shardIndexAtEnd: Boolean = true,
                          transposeOrder: Option[Seq[Int]] = None)

  /** `path` and its FileSystem, resolved through `conf` (the session's
    * Hadoop configuration, or its broadcast copy in a task). */
  private def fsFor(path: String, conf: Configuration): (Path, FileSystem) = {
    val p = new Path(path)
    (p, p.getFileSystem(conf))
  }

  /** A Zarr store is a directory with `.zarray`/`.zgroup` (v2) or
    * `zarr.json` (v3) at its root. */
  def isZarr(path: String, conf: Configuration): Boolean = {
    val (p, fs) = fsFor(path, conf)
    try fs.isDirectory(p) &&
      (fs.exists(new Path(p, ".zarray")) || fs.exists(new Path(p, ".zgroup")) ||
        fs.exists(new Path(p, "zarr.json")) ||
        fs.exists(new Path(p, ".zmetadata")))
    catch { case _: Exception => false }
  }

  final class ZarrReader(root: String, conf: Configuration) extends NcReader {
    private val (rootPath, fs) = fsFor(root, conf)
    private val mapper = new ObjectMapper()

    private def readAll(p: Path): Array[Byte] = {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    }

    /** v2 consolidated metadata (`.zmetadata` at the store root): every
      * `.zarray`/`.zgroup` document inlined under "metadata", so a
      * remote (S3) open costs ONE metadata GET for the whole store
      * instead of one per array. Loaded lazily, used as the first
      * lookup source with per-file reads as the fallback. */
    private lazy val consolidated: Option[com.fasterxml.jackson.databind.JsonNode] = {
      val p = new Path(rootPath, ".zmetadata")
      if (fs.exists(p)) Option(mapper.readTree(readAll(p)).get("metadata"))
      else None
    }

    private def consolidatedZarray(key: String) =
      consolidated.flatMap(m => Option(m.get(key)))

    private def arrayDir(varName: String): Path = {
      val sub = new Path(rootPath, varName)
      def isArray(d: Path): Boolean =
        fs.exists(new Path(d, ".zarray")) || fs.exists(new Path(d, "zarr.json"))
      if (consolidatedZarray(s"$varName/.zarray").isDefined) sub
      else if (consolidatedZarray(".zarray").isDefined) rootPath
      else if (isArray(sub)) sub
      else if (isArray(rootPath)) rootPath
      else throw new IllegalArgumentException(
        s"no Zarr array '$varName' under $root")
    }

    /** Zarr v3 named data types → (kind, element size). */
    private def v3DataType(name: String): (Char, Int) = name match {
      case "float64" => ('f', 8)
      case "float32" => ('f', 4)
      case "int64"   => ('i', 8)
      case "int32"   => ('i', 4)
      case "int16"   => ('i', 2)
      case "int8"    => ('i', 1)
      case "uint8"   => ('u', 1)
      case "uint16"  => ('u', 2)
      case "uint32"  => ('u', 4)
      case o => throw new IllegalArgumentException(s"v3 data_type $o unsupported")
    }

    private def metaV3(dir: Path): ZArray = {
      val j = mapper.readTree(readAll(new Path(dir, "zarr.json")))
      require(j.get("zarr_format").asInt() == 3, "zarr.json without zarr_format 3")
      require(j.get("node_type").asText() == "array",
        s"node_type ${j.get("node_type")} is not an array")
      val shape = (0 until j.get("shape").size())
        .map(i => j.get("shape").get(i).asInt())
      val grid = j.get("chunk_grid")
      require(grid.get("name").asText() == "regular",
        s"chunk_grid ${grid.get("name")} unsupported")
      val cs = grid.get("configuration").get("chunk_shape")
      val chunks = (0 until cs.size()).map(cs.get(_).asInt())
      val (kind, esize) = v3DataType(j.get("data_type").asText())
      // codec chain: one "bytes" array->bytes codec (endianness),
      // optionally a supported bytes->bytes compressor — possibly nested
      // inside a "sharding_indexed" codec, whose inner chain carries the
      // real element encoding while the outer grid becomes the SHARD grid
      var le = true
      var comp = "null"
      var shardInner: Option[Seq[Int]] = None
      var shardCrc = true
      var shardEnd = true
      var transpose: Option[Seq[Int]] = None
      def parseChain(codecs: com.fasterxml.jackson.databind.JsonNode): Unit =
        (0 until codecs.size()).foreach { i =>
          val c = codecs.get(i)
          val cfg = c.get("configuration")
          c.get("name").asText() match {
            case "bytes" =>
              le = cfg == null || cfg.get("endian") == null ||
                cfg.get("endian").asText() == "little"
            case "gzip" => comp = "gzip"
            case "zstd" => comp = "zstd"
            case "blosc" => comp = "blosc" // [[Blosc]] self-describing frame
            case "sharding_indexed" =>
              require(shardInner.isEmpty, "nested sharding unsupported")
              val ics = cfg.get("chunk_shape")
              shardInner = Some((0 until ics.size()).map(ics.get(_).asInt()))
              parseChain(cfg.get("codecs")) // inner chain: endian + codec
              val idx = cfg.get("index_codecs")
              shardCrc = idx != null && (0 until idx.size())
                .exists(k => idx.get(k).get("name").asText() == "crc32c")
              val loc = cfg.get("index_location")
              shardEnd = loc == null || loc.isNull || loc.asText() == "end"
            case "transpose" =>
              // array→array permutation: stored[i_{ord(0)},…] = chunk[i_0,…]
              val ord = cfg.get("order")
              val perm = (0 until ord.size()).map(ord.get(_).asInt())
              require(perm.sorted == perm.indices, s"transpose order $perm "
                + "is not a permutation")
              transpose = Some(perm)
            case o => throw new IllegalArgumentException(
              s"v3 codec $o unsupported")
          }
        }
      parseChain(j.get("codecs"))
      val fillNode = j.get("fill_value")
      val fill = if (fillNode == null || fillNode.isNull) 0.0
                 else fillNode.asDouble()
      val enc = j.get("chunk_key_encoding")
      val (prefix, sep) =
        if (enc == null || enc.isNull) ("c", "/")
        else {
          val cfg = enc.get("configuration")
          val s = if (cfg != null && cfg.get("separator") != null)
            cfg.get("separator").asText() else null
          enc.get("name").asText() match {
            case "default" => ("c", if (s == null) "/" else s)
            case "v2"      => ("", if (s == null) "." else s)
            case o => throw new IllegalArgumentException(
              s"chunk_key_encoding $o unsupported")
          }
        }
      shardInner.foreach { inner =>
        require(inner.size == chunks.size &&
          inner.zip(chunks).forall { case (ic, c) => c % ic == 0 },
          s"shard shape $chunks not a multiple of inner chunk shape $inner")
      }
      transpose.foreach { perm =>
        val r = shardInner.getOrElse(chunks).size
        require(perm.size == r, s"transpose order $perm rank != chunk rank $r")
      }
      ZArray(shape, chunks, kind, esize, le, comp, fill, sep, prefix,
        shardInner, shardCrc, shardEnd, transpose)
    }

    private val metaCache = scala.collection.mutable.Map.empty[String, (Path, ZArray)]
    private def meta(varName: String): (Path, ZArray) =
      metaCache.getOrElseUpdate(varName, {
        val dir = arrayDir(varName)
        val consKey = if (dir == rootPath) ".zarray" else s"$varName/.zarray"
        val consNode = consolidatedZarray(consKey)
        if (consNode.isEmpty && !fs.exists(new Path(dir, ".zarray")))
          (dir, metaV3(dir))
        else {
        val j = consNode.getOrElse(
          mapper.readTree(readAll(new Path(dir, ".zarray"))))
        require(j.get("zarr_format").asInt() == 2,
          s"zarr_format ${j.get("zarr_format")} unsupported (v2 only)")
        // F (column-major) chunks are a transpose with reversed axes —
        // handled by the same stride remap as the v3 transpose codec
        val orderTxt = j.get("order").asText()
        require(orderTxt == "C" || orderTxt == "F",
          s"order $orderTxt unsupported")
        val shape = (0 until j.get("shape").size())
          .map(i => j.get("shape").get(i).asInt())
        val chunks = (0 until j.get("chunks").size())
          .map(i => j.get("chunks").get(i).asInt())
        val dt = j.get("dtype").asText() // e.g. "<f8"
        require(dt.length == 3, s"dtype $dt unsupported")
        val le = dt.charAt(0) != '>'
        val comp = j.get("compressor")
        val compId =
          if (comp == null || comp.isNull) "null"
          else comp.get("id").asText() match {
            case ok @ ("zlib" | "gzip" | "blosc" | "zstd") => ok // blosc: [[Blosc]]
            case o => throw new IllegalArgumentException(s"compressor $o unsupported")
          }
        val fillNode = j.get("fill_value")
        val fill = if (fillNode == null || fillNode.isNull) 0.0
                   else fillNode.asDouble()
        val sepNode = j.get("dimension_separator")
        val sep = if (sepNode == null || sepNode.isNull) "." else sepNode.asText()
        (dir, ZArray(shape, chunks, dt.charAt(1), dt.substring(2).toInt,
          le, compId, fill, sep,
          transposeOrder =
            if (orderTxt == "F") Some(shape.indices.reverse) else None))
        }
      })

    override def shape(varName: String): Seq[Int] = meta(varName)._2.shape

    override def elemKind(varName: String): String = {
      val z = meta(varName)._2
      s"${z.kind}${z.esize}"
    }

    /** Numeric attributes: v2 `.zattrs` (also via consolidated
      * metadata), v3 the `attributes` object inside `zarr.json`. */
    override def varAttrs(varName: String): Map[String, Double] = {
      val (dir, _) = meta(varName)
      val consKey =
        if (dir == rootPath) ".zattrs" else s"${dir.getName}/.zattrs"
      val node: Option[com.fasterxml.jackson.databind.JsonNode] =
        consolidated.flatMap(m => Option(m.get(consKey)))
          .orElse {
            val p = new Path(dir, ".zattrs")
            if (fs.exists(p)) Some(mapper.readTree(readAll(p))) else None
          }
          .orElse {
            val p = new Path(dir, "zarr.json")
            if (fs.exists(p)) Option(mapper.readTree(readAll(p)).get("attributes"))
            else None
          }
      node match {
        case Some(j) =>
          val out = scala.collection.mutable.Map.empty[String, Double]
          j.fields().forEachRemaining { e =>
            if (e.getValue.isNumber) out(e.getKey) = e.getValue.asDouble()
          }
          out.toMap
        case None => Map.empty
      }
    }

    private def decompress(z: ZArray, b: Array[Byte], hint: Int): Array[Byte] =
      z.compressor match {
        case "null" => b
        case "blosc" => Blosc.decompress(b) // the numcodecs default
        case "zstd" => // raw zstd frame (numcodecs Zstd / v3 zstd codec)
          com.github.luben.zstd.Zstd.decompress(b, hint)
        case "gzip" =>
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(b))
          try in.readAllBytes() finally in.close()
        case "zlib" =>
          val inf = new Inflater()
          inf.setInput(b)
          val out = new java.io.ByteArrayOutputStream(math.max(hint, 64))
          val buf = new Array[Byte](8192)
          while (!inf.finished()) {
            val k = inf.inflate(buf)
            if (k == 0 && inf.needsInput())
              throw new java.io.EOFException("truncated zlib chunk")
            out.write(buf, 0, k)
          }
          inf.end(); out.toByteArray
      }

    private def decoder(z: ZArray): (ByteBuffer, Int) => Double = {
      val es = z.esize
      (z.kind, es) match {
        case ('f', 8) => (b, i) => b.getDouble(i * es)
        case ('f', 4) => (b, i) => b.getFloat(i * es).toDouble
        case ('i', 8) => (b, i) => b.getLong(i * es).toDouble
        case ('i', 4) => (b, i) => b.getInt(i * es).toDouble
        case ('i', 2) => (b, i) => b.getShort(i * es).toDouble
        case ('i', 1) => (b, i) => b.get(i * es).toDouble
        case ('u', 1) => (b, i) => (b.get(i * es) & 0xFF).toDouble
        case ('u', 2) => (b, i) => (b.getShort(i * es) & 0xFFFF).toDouble
        case ('u', 4) => (b, i) => (b.getInt(i * es) & 0xFFFFFFFFL).toDouble
        case o => throw new IllegalArgumentException(s"dtype $o unsupported")
      }
    }

    // per-reader decompressed-chunk LRU, same posture as the HDF5 reader
    private val chunkCache =
      new java.util.LinkedHashMap[String, Array[Byte]](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Byte]]): Boolean = size() > 4
      }

    private def objectKey(z: ZArray, grid: Seq[Int]): String = {
      // v3 default encoding prefixes the indices with "c"
      val parts =
        if (z.keyPrefix.isEmpty) grid.map(_.toString)
        else z.keyPrefix +: grid.map(_.toString)
      parts.mkString(z.sep)
    }

    /** Decompressed bytes for one grid box — a whole object for plain
      * arrays, ONE INNER CHUNK for sharded arrays (grid is then in
      * inner-chunk units): the shard's index is fetched (and cached)
      * with a ranged read of its tail, and only the inner chunk's byte
      * range is read from the object — a hyperslab read never downloads
      * the shards it merely grazes. */
    private def chunkBytes(dir: Path, z: ZArray, grid: Seq[Int]): Option[Array[Byte]] =
      z.shardInner match {
        case None =>
          val key = objectKey(z, grid)
          val cacheKey = dir.getName + "#" + key // vars may share grid keys
          val cached = chunkCache.get(cacheKey)
          if (cached != null) return Some(cached)
          val p = new Path(dir, key) // "/"-separated keys → nested dirs
          if (!fs.exists(p)) return None
          val raw = decompress(z, readAll(p), z.chunks.product * z.esize)
          chunkCache.put(cacheKey, raw)
          Some(raw)
        case Some(inner) =>
          val rank = z.chunks.size
          val ratio = (0 until rank).map(i => z.chunks(i) / inner(i))
          val shardG = (0 until rank).map(i => grid(i) / ratio(i))
          val within = (0 until rank).map(i => grid(i) % ratio(i))
          val ci = (0 until rank).foldLeft(0L)((acc, i) => acc * ratio(i) + within(i))
          val key = objectKey(z, shardG)
          val cacheKey = dir.getName + "#" + key + "#" + ci
          val cached = chunkCache.get(cacheKey)
          if (cached != null) return Some(cached)
          val p = new Path(dir, key)
          shardIndex(p, z, ratio.product) match {
            case None => None
            case Some(idx) =>
              val off = idx((ci * 2).toInt)
              val nb = idx((ci * 2 + 1).toInt)
              if (off == -1L && nb == -1L) None // absent chunk → fill
              else {
                val comp = new Array[Byte](nb.toInt)
                val in = fs.open(p)
                try { in.seek(off); in.readFully(comp) } finally in.close()
                val raw = decompress(z, comp, inner.product * z.esize)
                require(raw.length == inner.product * z.esize,
                  s"inner chunk $ci: ${raw.length} bytes for " +
                    s"${inner.product * z.esize}")
                chunkCache.put(cacheKey, raw)
                Some(raw)
              }
          }
      }

    // per-shard (offset, nbytes) index pairs, CRC-verified once
    private val shardIndexCache =
      scala.collection.mutable.Map.empty[String, Option[Array[Long]]]

    /** Load a shard object's inner-chunk index: `nInner` (offset,
      * nbytes) u64-LE pairs at the object's end (or start), optionally
      * tailed by a CRC-32C — fetched with a ranged read, not a full
      * object download. None if the shard object doesn't exist. */
    private def shardIndex(p: Path, z: ZArray, nInner: Int): Option[Array[Long]] =
      shardIndexCache.getOrElseUpdate(p.toString, {
        if (!fs.exists(p)) None
        else {
          val fileLen = fs.getFileStatus(p).getLen
          val idxLen = 16 * nInner + (if (z.shardIndexCrc) 4 else 0)
          require(fileLen >= idxLen, "shard object shorter than its index")
          val idxOff = if (z.shardIndexAtEnd) fileLen - idxLen else 0L
          val buf = new Array[Byte](idxLen)
          val in = fs.open(p)
          try { in.seek(idxOff); in.readFully(buf) } finally in.close()
          if (z.shardIndexCrc) {
            val crc = new java.util.zip.CRC32C
            crc.update(buf, 0, 16 * nInner)
            val stored = ByteBuffer.wrap(buf, 16 * nInner, 4)
              .order(ByteOrder.LITTLE_ENDIAN).getInt
            require(crc.getValue.toInt == stored, "shard index CRC-32C mismatch")
          }
          val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
          Some(Array.tabulate(2 * nInner)(i => bb.getLong(i * 8)))
        }
      })


    override def readSlab(varName: String, origin: Seq[Int],
        shape: Seq[Int]): Array[Double] = {
      val (dir, z) = meta(varName)
      require(origin.size == z.shape.size && shape.size == z.shape.size,
        s"rank mismatch: $varName has shape ${z.shape}")
      val rank = z.shape.size
      val dec = decoder(z)
      val order = if (z.littleEndian) ByteOrder.LITTLE_ENDIAN
                  else ByteOrder.BIG_ENDIAN
      val out = new Array[Double](shape.product)
      java.util.Arrays.fill(out, z.fill)
      val outStrides = shape.scanRight(1)(_ * _).tail
      // sharded arrays walk the INNER chunk grid: each inner chunk is
      // fetched through its shard's index with a ranged read, so a
      // hyperslab touching one inner chunk never downloads the shard
      val cDims = z.shardInner.getOrElse(z.chunks)
      // with a transpose codec (or v2 F order) the stored layout permutes
      // the chunk axes; the linear accumulation below stays valid with
      // remapped strides: logical dim d carries the STORED stride of its
      // transposed position, so chunkBase + Σ stride_d·coord_d lands on
      // the transposed element without any per-element index math
      val chunkStrides = z.transposeOrder match {
        case Some(ord) =>
          val storedStrides = ord.map(cDims(_)).scanRight(1)(_ * _).tail
          val m = new Array[Int](rank)
          ord.zipWithIndex.foreach { case (d, j) => m(d) = storedStrides(j) }
          m.toSeq
        case None => cDims.scanRight(1)(_ * _).tail
      }
      // iterate the chunk-grid boxes intersecting [origin, origin+shape)
      val gLo = (0 until rank).map(i => origin(i) / cDims(i))
      val gHi = (0 until rank).map(i => (origin(i) + shape(i) - 1) / cDims(i))
      def chunksRec(dim: Int, grid: Array[Int]): Unit = {
        if (dim == rank) {
          val gridOrigin = (0 until rank).map(i => grid(i) * cDims(i))
          chunkBytes(dir, z, grid.toSeq).foreach { bytes =>
            val bbuf = ByteBuffer.wrap(bytes).order(order)
            val lo = (0 until rank).map(i => math.max(origin(i), gridOrigin(i)))
            val hi = (0 until rank).map(i =>
              math.min(origin(i) + shape(i), gridOrigin(i) + cDims(i)))
            def copy(d: Int, outBase: Int, chunkBase: Int): Unit = {
              if (d == rank - 1) {
                val n = hi(d) - lo(d)
                val ob = outBase + (lo(d) - origin(d)) * outStrides(d)
                val cb = chunkBase + (lo(d) - gridOrigin(d)) * chunkStrides(d)
                val cs = chunkStrides(d) // 1 unless transposed/F-order
                var i = 0
                while (i < n) { out(ob + i) = dec(bbuf, cb + i * cs); i += 1 }
              } else {
                var v = lo(d)
                while (v < hi(d)) {
                  copy(d + 1, outBase + (v - origin(d)) * outStrides(d),
                    chunkBase + (v - gridOrigin(d)) * chunkStrides(d))
                  v += 1
                }
              }
            }
            copy(0, 0, 0)
          }
        } else {
          var g = gLo(dim)
          while (g <= gHi(dim)) { grid(dim) = g; chunksRec(dim + 1, grid); g += 1 }
        }
      }
      chunksRec(0, new Array[Int](rank))
      out
    }

    override def close(): Unit = ()
  }

  // =============================================================== WRITE

  /** Store/array metadata for a float64 C-order array — shared by the
    * single-node writers and the distributed export (which writes
    * chunks from executors and calls this from the driver only). v2
    * carries a zlib/blosc compressor JSON; v3 a bytes-little + gzip
    * codec chain. Returns the array directory. */
  private[sources] def writeStoreMeta(path: String, conf: Configuration,
      varName: String, shape: Seq[Int], chunks: Seq[Int], v3: Boolean,
      level: Int, compressor: String = "zlib",
      shardInner: Option[Seq[Int]] = None): Path = {
    val (rootPath, fs) = fsFor(path, conf)
    fs.mkdirs(rootPath)
    def put(p: Path, b: Array[Byte]): Unit = {
      val o = fs.create(p, true)
      try o.write(b) finally o.close()
    }
    val dir = new Path(rootPath, varName)
    fs.mkdirs(dir)
    if (v3) {
      put(new Path(rootPath, "zarr.json"),
        """{"zarr_format": 3, "node_type": "group"}""".getBytes("UTF-8"))
      val innerChain =
        s"""[{"name": "bytes", "configuration": {"endian": "little"}},
           |   {"name": "gzip", "configuration": {"level": $level}}]"""
          .stripMargin
      val codecs = shardInner match {
        case None => innerChain
        case Some(inner) =>
          // sharding_indexed: the grid above is the SHARD grid; each
          // object carries its own (offset, nbytes) index over the
          // inner chunks, CRC-32C-tailed, at the object end
          s"""[{"name": "sharding_indexed", "configuration": {
             |   "chunk_shape": [${inner.mkString(", ")}],
             |   "codecs": $innerChain,
             |   "index_codecs": [
             |     {"name": "bytes", "configuration": {"endian": "little"}},
             |     {"name": "crc32c"}],
             |   "index_location": "end"}}]""".stripMargin
      }
      val zmeta =
        s"""{"zarr_format": 3,
           | "node_type": "array",
           | "shape": [${shape.mkString(", ")}],
           | "data_type": "float64",
           | "chunk_grid": {"name": "regular",
           |   "configuration": {"chunk_shape": [${chunks.mkString(", ")}]}},
           | "chunk_key_encoding": {"name": "default",
           |   "configuration": {"separator": "/"}},
           | "fill_value": 0.0,
           | "codecs": $codecs}"""
          .stripMargin
      put(new Path(dir, "zarr.json"), zmeta.getBytes("UTF-8"))
    } else {
      put(new Path(rootPath, ".zgroup"),
        """{"zarr_format": 2}""".getBytes("UTF-8"))
      val compJson = compressor match {
        case "zlib" => s"""{"id": "zlib", "level": $level}"""
        case "zstd" => s"""{"id": "zstd", "level": $level}"""
        case "blosc" =>
          s"""{"id": "blosc", "cname": "lz4", "clevel": $level,
             | "shuffle": 1, "blocksize": 0}""".stripMargin
        case "blosc-blosclz" =>
          s"""{"id": "blosc", "cname": "blosclz", "clevel": $level,
             | "shuffle": 1, "blocksize": 0}""".stripMargin
        case "blosc-bitshuffle" =>
          s"""{"id": "blosc", "cname": "lz4", "clevel": $level,
             | "shuffle": 2, "blocksize": 0}""".stripMargin
        case o => throw new IllegalArgumentException(s"writer compressor $o")
      }
      val zarray =
        s"""{"zarr_format": 2,
           | "shape": [${shape.mkString(", ")}],
           | "chunks": [${chunks.mkString(", ")}],
           | "dtype": "<f8",
           | "compressor": $compJson,
           | "fill_value": 0.0,
           | "order": "C",
           | "filters": null}""".stripMargin
      put(new Path(dir, ".zarray"), zarray.getBytes("UTF-8"))
    }
    dir
  }

  /** Chunk object key for grid index `gidx`: v2 "i.j", v3 "c/i/j". */
  private[sources] def chunkKey(gidx: Seq[Int], v3: Boolean): String =
    if (v3) ("c" +: gidx.map(_.toString)).mkString("/")
    else gidx.mkString(".")

  /** Compress one raw chunk: zlib deflate (v2) / gzip (v3) — the codec
    * the matching metadata declares. Pure function, callable from
    * executors. */
  private[sources] def compressChunk(raw: Array[Byte], v3: Boolean,
      level: Int): Array[Byte] =
    if (v3) {
      val gz = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
      val gzo = new java.util.zip.GZIPOutputStream(gz) { `def`.setLevel(level) }
      gzo.write(raw); gzo.close()
      gz.toByteArray
    } else {
      val d = new Deflater(level)
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }

  /** Write one object into the store, opening the FileSystem locally —
    * executors call this with their own handles (same discipline as
    * [[RandomInput]] reads). `conf` is the session's Hadoop
    * configuration (in a task, its [[SerializableHadoopConf]] broadcast),
    * so `spark.hadoop.*` settings — s3a credentials, endpoints — reach
    * executor-side writes. */
  private[sources] def putObject(arrayDir: String, key: String,
      bytes: Array[Byte], conf: Configuration): Unit = {
    val p = new Path(arrayDir, key)
    val fs = p.getFileSystem(conf)
    val o = fs.create(p, true)
    try o.write(bytes) finally o.close()
  }

  /** Write a float64 little-endian Zarr v2 store: `.zgroup` at the root,
    * the array under `varName/` with compressed C-order chunks — the
    * layout a netCDF-over-Zarr writer produces for one variable.
    * `compressor` is `"zlib"` or `"blosc"` (lz4 + byte shuffle, the
    * numcodecs default frame). */
  def writeDoubleVar(path: String, conf: Configuration,
      dims: Seq[(String, Int)], varName: String, data: Array[Double],
      chunkDims: Option[Seq[Int]] = None, level: Int = 6,
      compressor: String = "zlib"): Unit = {
    val shape = dims.map(_._2)
    require(data.length == shape.product, "data size != dim product")
    val chunks = chunkDims.getOrElse(shape)
    val rank = shape.size
    val dir = writeStoreMeta(path, conf, varName, shape, chunks, v3 = false,
      level, compressor)
    val grid = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    val strides = shape.scanRight(1)(_ * _).tail
    val chunkStrides = chunks.scanRight(1)(_ * _).tail
    def writeChunk(gidx: Seq[Int]): Unit = {
      val originC = gidx.zip(chunks).map { case (g, c) => g * c }
      val raw = new Array[Byte](chunks.product * 8)
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      def fill(dim: Int, srcBase: Int, dstBase: Int): Unit = {
        if (dim == rank) bb.putDouble(dstBase * 8, data(srcBase))
        else {
          val lim = math.min(chunks(dim), shape(dim) - originC(dim))
          var j = 0
          while (j < lim) {
            fill(dim + 1, srcBase + (originC(dim) + j) * strides(dim),
              dstBase + j * chunkStrides(dim))
            j += 1
          }
        }
      }
      fill(0, 0, 0)
      val comp = compressor match {
        case "blosc" => Blosc.compress(raw, typesize = 8, codec = 1)
        case "blosc-blosclz" => Blosc.compress(raw, typesize = 8, codec = 0)
        case "blosc-bitshuffle" =>
          Blosc.compress(raw, typesize = 8, codec = 1, bitShuf = true)
        case "zstd" => com.github.luben.zstd.Zstd.compress(raw, level)
        case _ => compressChunk(raw, v3 = false, level)
      }
      putObject(dir.toString, chunkKey(gidx, v3 = false), comp, conf)
    }
    def rec(dim: Int, gidx: Array[Int]): Unit =
      if (dim == rank) writeChunk(gidx.toSeq)
      else { var g = 0; while (g < grid(dim)) { gidx(dim) = g; rec(dim + 1, gidx); g += 1 } }
    rec(0, new Array[Int](rank))
  }

  /** Write a float64 little-endian Zarr **v3** store: group `zarr.json`
    * at the root, the array under `varName/` with its own v3 `zarr.json`
    * (bytes-little + gzip codec chain, default chunk-key encoding) and
    * C-order chunks under the `c/` prefix as nested directories. */
  def writeDoubleVarV3(path: String, conf: Configuration,
      dims: Seq[(String, Int)], varName: String, data: Array[Double],
      chunkDims: Option[Seq[Int]] = None, level: Int = 6): Unit = {
    val shape = dims.map(_._2)
    require(data.length == shape.product, "data size != dim product")
    val chunks = chunkDims.getOrElse(shape)
    val rank = shape.size
    val dir = writeStoreMeta(path, conf, varName, shape, chunks, v3 = true, level)
    val grid = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    val strides = shape.scanRight(1)(_ * _).tail
    val chunkStrides = chunks.scanRight(1)(_ * _).tail
    def writeChunk(gidx: Seq[Int]): Unit = {
      val originC = gidx.zip(chunks).map { case (g, c) => g * c }
      val raw = new Array[Byte](chunks.product * 8)
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      def fill(dim: Int, srcBase: Int, dstBase: Int): Unit = {
        if (dim == rank) bb.putDouble(dstBase * 8, data(srcBase))
        else {
          val lim = math.min(chunks(dim), shape(dim) - originC(dim))
          var j = 0
          while (j < lim) {
            fill(dim + 1, srcBase + (originC(dim) + j) * strides(dim),
              dstBase + j * chunkStrides(dim))
            j += 1
          }
        }
      }
      fill(0, 0, 0)
      putObject(dir.toString, chunkKey(gidx, v3 = true),
        compressChunk(raw, v3 = true, level), conf)
    }
    def rec(dim: Int, gidx: Array[Int]): Unit =
      if (dim == rank) writeChunk(gidx.toSeq)
      else { var g = 0; while (g < grid(dim)) { gidx(dim) = g; rec(dim + 1, gidx); g += 1 } }
    rec(0, new Array[Int](rank))
  }
}
