package graft.sources

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.TempRoot

/** Zarr v2 store coverage: metadata golden strings, zlib chunk
  * roundtrips incl. ragged edges, fill values for missing chunks,
  * uncompressed + big-endian stores written by hand from the spec. */
class ZarrSpec extends AnyFunSuite with TempRoot {

  private val conf = new Configuration()

  private def tmp(): String =
    tmpDir("zarr").resolve("store.zarr").toString

  private def grid(rows: Int, cols: Int): Array[Double] =
    Array.tabulate(rows * cols)(i => (i / cols) * 0.5 + (i % cols) * 0.125)

  test("writer emits spec-shaped .zgroup/.zarray and dotted chunk keys") {
    val p = tmp()
    Zarr.writeDoubleVar(p, conf, Seq("r" -> 7, "c" -> 5), "m", grid(7, 5),
      chunkDims = Some(Seq(3, 2)))
    assert(Files.readString(java.nio.file.Paths.get(p, ".zgroup"))
      .contains("\"zarr_format\": 2"))
    val za = Files.readString(java.nio.file.Paths.get(p, "m", ".zarray"))
    assert(za.contains("\"dtype\": \"<f8\"") && za.contains("\"order\": \"C\"")
      && za.contains("\"shape\": [7, 5]") && za.contains("\"chunks\": [3, 2]")
      && za.contains("\"id\": \"zlib\""))
    // 3x2 chunks over 7x5 -> 3x3 grid, keys 0.0 .. 2.2
    assert(Files.exists(java.nio.file.Paths.get(p, "m", "0.0")))
    assert(Files.exists(java.nio.file.Paths.get(p, "m", "2.2")))
  }

  test("zlib roundtrip with ragged edge chunks and hyperslabs") {
    val p = tmp()
    val data = grid(7, 5)
    Zarr.writeDoubleVar(p, conf, Seq("r" -> 7, "c" -> 5), "m", data,
      chunkDims = Some(Seq(3, 2)))
    val r = new Zarr.ZarrReader(p, conf)
    assert(r.shape("m") == Seq(7, 5))
    assert(r.readSlab("m", Seq(0, 0), Seq(7, 5)).toSeq == data.toSeq)
    assert(r.readSlab("m", Seq(5, 3), Seq(2, 2)).toSeq ==
      Seq(data(28), data(29), data(33), data(34)))
    assert(r.readSlab("m", Seq(6, 4), Seq(1, 1)).toSeq == Seq(data(34)))
  }

  test("missing chunk objects read as fill_value") {
    val p = tmp()
    Zarr.writeDoubleVar(p, conf, Seq("r" -> 4, "c" -> 2), "m",
      Array.tabulate(8)(_ + 1.0), chunkDims = Some(Seq(2, 2)))
    // delete the second chunk (rows 2-3)
    Files.delete(java.nio.file.Paths.get(p, "m", "1.0"))
    val r = new Zarr.ZarrReader(p, conf)
    assert(r.readSlab("m", Seq(0, 0), Seq(4, 2)).toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("hand-written uncompressed big-endian store reads per spec") {
    val dir = tmpDir("zarr_raw")
    val arr = dir.resolve("v"); Files.createDirectories(arr)
    Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    Files.writeString(arr.resolve(".zarray"),
      """{"zarr_format": 2, "shape": [2, 2], "chunks": [2, 2],
        | "dtype": ">i4", "compressor": null, "fill_value": -1,
        | "order": "C", "filters": null}""".stripMargin)
    val bb = java.nio.ByteBuffer.allocate(16) // big-endian default
    Seq(10, 20, 30, 40).foreach(bb.putInt)
    Files.write(arr.resolve("0.0"), bb.array())
    val r = new Zarr.ZarrReader(dir.toString, conf)
    assert(r.shape("v") == Seq(2, 2))
    assert(r.readSlab("v", Seq(0, 0), Seq(2, 2)).toSeq ==
      Seq(10.0, 20.0, 30.0, 40.0))
  }

  test("blosc store roundtrip (lz4 + byte shuffle, the numcodecs default)") {
    val p = tmp()
    val data = grid(7, 5)
    Zarr.writeDoubleVar(p, conf, Seq("r" -> 7, "c" -> 5), "m", data,
      chunkDims = Some(Seq(3, 2)), compressor = "blosc")
    val za = Files.readString(java.nio.file.Paths.get(p, "m", ".zarray"))
    assert(za.contains("\"id\": \"blosc\"") && za.contains("\"cname\": \"lz4\""))
    // chunk objects are real blosc frames (version 2, lz4, typesize 8)
    val chunk = Files.readAllBytes(java.nio.file.Paths.get(p, "m", "0.0"))
    assert(chunk(0) == 2 && chunk(3) == 8 && (chunk(2) >>> 5) == 1)
    val r = new Zarr.ZarrReader(p, conf)
    assert(r.readSlab("m", Seq(0, 0), Seq(7, 5)).toSeq == data.toSeq)
    assert(r.readSlab("m", Seq(5, 3), Seq(2, 2)).toSeq ==
      Seq(data(28), data(29), data(33), data(34)))
  }

  test("hand-written split-stream blosc chunk reads per the c-blosc layout") {
    val dir = tmpDir("zarr_blosc")
    val arr = dir.resolve("v"); Files.createDirectories(arr)
    Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    Files.writeString(arr.resolve(".zarray"),
      """{"zarr_format": 2, "shape": [256], "chunks": [256], "dtype": "<f8",
        | "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5,
        |                "shuffle": 1, "blocksize": 0},
        | "fill_value": 0.0, "order": "C", "filters": null}""".stripMargin)
    val raw = java.nio.ByteBuffer.allocate(256 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val want = Array.tabulate(256)(i => i * 0.25)
    want.foreach(raw.putDouble)
    // split=true mirrors what c-blosc emits for lz4 when
    // blocksize/typesize >= 128 (DONT_SPLIT clear, 8 streams)
    Files.write(arr.resolve("0"),
      Blosc.compress(raw.array(), typesize = 8, codec = 1,
        doShuffle = true, split = true))
    val r = new Zarr.ZarrReader(dir.toString, conf)
    assert(r.readSlab("v", Seq(0), Seq(256)).toSeq == want.toSeq)
  }

  test("v3 writer emits zarr.json metadata and c/-prefixed nested chunk keys") {
    val p = tmp()
    Zarr.writeDoubleVarV3(p, conf, Seq("r" -> 7, "c" -> 5), "m", grid(7, 5),
      chunkDims = Some(Seq(3, 2)))
    assert(Files.readString(java.nio.file.Paths.get(p, "zarr.json"))
      .contains("\"node_type\": \"group\""))
    val za = Files.readString(java.nio.file.Paths.get(p, "m", "zarr.json"))
    assert(za.contains("\"zarr_format\": 3")
      && za.contains("\"data_type\": \"float64\"")
      && za.contains("\"chunk_shape\": [3, 2]")
      && za.contains("\"name\": \"gzip\""))
    assert(Files.exists(java.nio.file.Paths.get(p, "m", "c", "0", "0")))
    assert(Files.exists(java.nio.file.Paths.get(p, "m", "c", "2", "2")))
  }

  test("v3 gzip roundtrip with ragged edges, hyperslabs and fill values") {
    val p = tmp()
    val data = grid(7, 5)
    Zarr.writeDoubleVarV3(p, conf, Seq("r" -> 7, "c" -> 5), "m", data,
      chunkDims = Some(Seq(3, 2)))
    val r = new Zarr.ZarrReader(p, conf)
    assert(r.shape("m") == Seq(7, 5))
    assert(r.readSlab("m", Seq(0, 0), Seq(7, 5)).toSeq == data.toSeq)
    assert(r.readSlab("m", Seq(5, 3), Seq(2, 2)).toSeq ==
      Seq(data(28), data(29), data(33), data(34)))
    // a deleted chunk reads back as fill_value
    Files.delete(java.nio.file.Paths.get(p, "m", "c", "2", "0"))
    assert(r.readSlab("m", Seq(6, 0), Seq(1, 2)).toSeq == Seq(0.0, 0.0))
  }

  test("hand-written v3 store: v2 chunk-key encoding, big-endian bytes codec") {
    val dir = tmpDir("zarr_v3raw")
    val arr = dir.resolve("v"); Files.createDirectories(arr)
    Files.writeString(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    Files.writeString(arr.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [4], "data_type": "int32",
        | "chunk_grid": {"name": "regular",
        |   "configuration": {"chunk_shape": [2]}},
        | "chunk_key_encoding": {"name": "v2",
        |   "configuration": {"separator": "."}},
        | "fill_value": -1,
        | "codecs": [{"name": "bytes",
        |   "configuration": {"endian": "big"}}]}""".stripMargin)
    val b0 = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    b0.putInt(11); b0.putInt(22)
    Files.write(arr.resolve("0"), b0.array()) // v2 encoding: bare index key
    val r = new Zarr.ZarrReader(dir.toString, conf)
    // chunk 1 is absent -> fill_value -1
    assert(r.readSlab("v", Seq(0), Seq(4)).toSeq == Seq(11.0, 22.0, -1.0, -1.0))
  }

  test("hand-written v3 store with a zstd codec chain decodes") {
    val dir = tmpDir("zarr_v3zstd")
    val arr = dir.resolve("v"); Files.createDirectories(arr)
    Files.writeString(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    Files.writeString(arr.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [6], "data_type": "float64",
        | "chunk_grid": {"name": "regular",
        |   "configuration": {"chunk_shape": [3]}},
        | "chunk_key_encoding": {"name": "default",
        |   "configuration": {"separator": "/"}},
        | "fill_value": 0.0,
        | "codecs": [
        |   {"name": "bytes", "configuration": {"endian": "little"}},
        |   {"name": "zstd", "configuration": {"level": 3}}]}""".stripMargin)
    def chunk(vals: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vals.size * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble)
      com.github.luben.zstd.Zstd.compress(bb.array(), 3)
    }
    val c = arr.resolve("c"); Files.createDirectories(c)
    Files.write(c.resolve("0"), chunk(1.5, 2.5, 3.5))
    Files.write(c.resolve("1"), chunk(4.5, 5.5, 6.5))
    val r = new Zarr.ZarrReader(dir.toString, conf)
    assert(r.readSlab("v", Seq(0), Seq(6)).toSeq ==
      Seq(1.5, 2.5, 3.5, 4.5, 5.5, 6.5))
    assert(r.readSlab("v", Seq(2), Seq(2)).toSeq == Seq(3.5, 4.5))
  }

  test("consolidated .zmetadata serves array metadata without per-array files") {
    val p = tmp()
    val data = grid(7, 5)
    Zarr.writeDoubleVar(p, conf, Seq("r" -> 7, "c" -> 5), "m", data,
      chunkDims = Some(Seq(3, 2)))
    // consolidate: inline m/.zarray into .zmetadata, then DELETE the
    // per-array document — reads must go through the consolidated map
    val za = Files.readString(java.nio.file.Paths.get(p, "m", ".zarray"))
    Files.writeString(java.nio.file.Paths.get(p, ".zmetadata"),
      s"""{"zarr_format": 2, "metadata": {
         |  ".zgroup": {"zarr_format": 2},
         |  "m/.zarray": $za}}""".stripMargin)
    Files.delete(java.nio.file.Paths.get(p, "m", ".zarray"))
    Files.delete(java.nio.file.Paths.get(p, ".zgroup"))
    assert(Zarr.isZarr(p, conf)) // .zmetadata alone marks the store
    val r = new Zarr.ZarrReader(p, conf)
    assert(r.shape("m") == Seq(7, 5))
    assert(r.readSlab("m", Seq(0, 0), Seq(7, 5)).toSeq == data.toSeq)
  }

  test("varAttrs: v2 .zattrs and v3 attributes expose numeric values") {
    val p2 = tmp()
    Zarr.writeDoubleVar(p2, conf, Seq("x" -> 2), "m", Array(1.0, 2.0))
    Files.writeString(java.nio.file.Paths.get(p2, "m", ".zattrs"),
      """{"scale_factor": 0.5, "add_offset": 3.0, "units": "K"}""")
    val r2 = new Zarr.ZarrReader(p2, conf)
    assert(r2.varAttrs("m") == Map("scale_factor" -> 0.5, "add_offset" -> 3.0))
    val p3 = tmp()
    Zarr.writeDoubleVarV3(p3, conf, Seq("x" -> 2), "m", Array(1.0, 2.0))
    val za = java.nio.file.Paths.get(p3, "m", "zarr.json")
    Files.writeString(za, Files.readString(za).stripSuffix("}")
      + """, "attributes": {"_FillValue": -9.0, "long_name": "t"}}""")
    // the nio edit bypassed Hadoop's local checksum file
    Files.deleteIfExists(java.nio.file.Paths.get(p3, "m", ".zarr.json.crc"))
    val r3 = new Zarr.ZarrReader(p3, conf)
    assert(r3.varAttrs("m") == Map("_FillValue" -> -9.0))
  }

  test("NcReader dispatch: directory store -> Zarr; file:// URI works (Hadoop FS)") {
    val p = tmp()
    Zarr.writeDoubleVar(p, conf, Seq("r" -> 2, "c" -> 2), "measure",
      Array(1.0, 2.0, 3.0, 4.0))
    val viaPlain = NcReader.open(p, conf)
    assert(viaPlain.shape("measure") == Seq(2, 2))
    viaPlain.close()
    // the same CDF file through a file:// URI exercises the Hadoop path
    val nc = tmpDir("nc_uri").resolve("t.nc")
    NetCDF3.writeDoubleVar(nc.toString, Seq("x" -> 2), "m", Array(5.0, 6.0))
    val viaUri = NcReader.open("file://" + nc, conf)
    assert(viaUri.shape("m") == Seq(2))
    assert(viaUri.readSlab("m", Seq(0), Seq(2)).toSeq == Seq(5.0, 6.0))
    viaUri.close()
  }
  test("v2 F-order store reads through the stride remap") {
    val dir = tmpDir("zarr_forder")
    val arr = dir.resolve("v"); Files.createDirectories(arr)
    Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    Files.writeString(arr.resolve(".zarray"),
      """{"zarr_format": 2, "shape": [2, 3], "chunks": [2, 3],
        | "dtype": "<f8", "compressor": null, "fill_value": -1,
        | "order": "F", "filters": null}""".stripMargin)
    // logical chunk [[1,2,3],[4,5,6]] stored COLUMN-major:
    // 1 4 2 5 3 6
    val bb = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1.0, 4.0, 2.0, 5.0, 3.0, 6.0).foreach(bb.putDouble)
    Files.write(arr.resolve("0.0"), bb.array())
    val r = new Zarr.ZarrReader(dir.toString, conf)
    assert(r.readSlab("v", Seq(0, 0), Seq(2, 3)).toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    // hyperslab: middle column
    assert(r.readSlab("v", Seq(0, 1), Seq(2, 1)).toSeq == Seq(2.0, 5.0))
  }

  test("hand-written v3 store with a transpose codec decodes") {
    val dir = tmpDir("zarr_v3tr")
    val arr = dir.resolve("v"); Files.createDirectories(arr)
    Files.writeString(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    Files.writeString(arr.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [2, 4], "data_type": "float64",
        | "chunk_grid": {"name": "regular",
        |   "configuration": {"chunk_shape": [2, 2]}},
        | "chunk_key_encoding": {"name": "default",
        |   "configuration": {"separator": "/"}},
        | "fill_value": 0.0,
        | "codecs": [
        |   {"name": "transpose", "configuration": {"order": [1, 0]}},
        |   {"name": "bytes", "configuration": {"endian": "little"}}]}"""
        .stripMargin)
    // chunk (0,0) logical [[1,2],[3,4]] stored transposed: 1 3 2 4
    // chunk (0,1) logical [[5,6],[7,8]] stored transposed: 5 7 6 8
    def chunk(vals: Double*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(vals.size * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble)
      bb.array()
    }
    val c0 = arr.resolve("c").resolve("0"); Files.createDirectories(c0)
    Files.write(c0.resolve("0"), chunk(1.0, 3.0, 2.0, 4.0))
    Files.write(c0.resolve("1"), chunk(5.0, 7.0, 6.0, 8.0))
    val r = new Zarr.ZarrReader(dir.toString, conf)
    assert(r.readSlab("v", Seq(0, 0), Seq(2, 4)).toSeq ==
      Seq(1.0, 2.0, 5.0, 6.0, 3.0, 4.0, 7.0, 8.0))
    // hyperslab crossing the chunk boundary mid-row
    assert(r.readSlab("v", Seq(1, 1), Seq(1, 2)).toSeq == Seq(4.0, 7.0))
  }
}
