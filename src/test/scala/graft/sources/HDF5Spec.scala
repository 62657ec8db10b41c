package graft.sources

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.TempRoot

/** Byte-level coverage for the pure-JVM HDF5 subset (NetCDF-4 read):
  * golden superblock/datatype bytes from the public spec, contiguous and
  * chunked+deflate roundtrips, hyperslab reads, edge chunks, filters. */
class HDF5Spec extends AnyFunSuite with TempRoot {

  private val conf = new Configuration()

  private def isHdf5(p: String): Boolean = {
    val src = RandomInput.open(p, conf)
    try HDF5.isHdf5(src) finally src.close()
  }

  private def tmp(suffix: String): String =
    tmpFile("h5", suffix).toString

  private def grid(rows: Int, cols: Int): Array[Double] =
    Array.tabulate(rows * cols)(i => (i / cols) * 0.5 + (i % cols) * 0.125)

  test("golden bytes: superblock v0 signature and version fields") {
    val p = tmp(".h5")
    HDF5.writeDoubleVar(p, Seq("x" -> 2, "y" -> 3), "m", grid(2, 3))
    val b = Files.readAllBytes(java.nio.file.Paths.get(p))
    // \x89HDF\r\n\x1a\n (spec: superblock signature)
    assert(b.take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 'H'.toInt, 'D'.toInt, 'F'.toInt, 0x0d, 0x0a, 0x1a, 0x0a))
    assert(b(8) == 0)          // superblock version 0
    assert(b(13) == 8 && b(14) == 8) // 8-byte offsets and lengths
    // EOF address (little-endian at offset 40) == file length
    val eof = (0 until 8).map(i => (b(40 + i).toLong & 0xFF) << (8 * i)).sum
    assert(eof == b.length)
  }

  test("golden bytes: IEEE F64LE datatype message encoding") {
    val p = tmp(".h5")
    HDF5.writeDoubleVar(p, Seq("x" -> 1), "m", Array(1.0))
    val b = Files.readAllBytes(java.nio.file.Paths.get(p))
    val hex = b.map("%02x".format(_)).mkString
    // class/version 0x11, bit field 20 3f 00, size 8 — then
    // offset 0, precision 64, exp loc 52, exp size 11, mant 0/52, bias 1023
    assert(hex.contains("11203f0008000000" + "0000" + "4000" + "340b" + "0034" +
      "ff030000"))
    // the value 1.0 as little-endian IEEE754
    assert(hex.contains("000000000000f03f"))
  }

  test("contiguous roundtrip: full read and hyperslabs") {
    val p = tmp(".h5")
    val data = grid(6, 4)
    HDF5.writeDoubleVar(p, Seq("row" -> 6, "col" -> 4), "measure", data)
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      assert(r.varNames == Seq("measure"))
      assert(r.shape("measure") == Seq(6, 4))
      assert(r.readSlab("measure", Seq(0, 0), Seq(6, 4)).toSeq == data.toSeq)
      // one row
      assert(r.readSlab("measure", Seq(2, 0), Seq(1, 4)).toSeq ==
        data.slice(8, 12).toSeq)
      // interior box
      assert(r.readSlab("measure", Seq(1, 1), Seq(3, 2)).toSeq ==
        Seq(data(5), data(6), data(9), data(10), data(13), data(14)))
    } finally r.close()
  }

  test("chunked+deflate roundtrip incl. edge chunks and hyperslabs") {
    val p = tmp(".h5")
    val data = grid(7, 5) // 7x5 with 3x2 chunks -> ragged edges both dims
    HDF5.writeDoubleVar(p, Seq("row" -> 7, "col" -> 5), "m", data,
      chunkDims = Some(Seq(3, 2)))
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      val d = r.dataset("m")
      assert(d.isChunked && d.chunkDims == Seq(3, 2))
      assert(d.filters.map(_.id) == Seq(1)) // deflate
      assert(r.readSlab("m", Seq(0, 0), Seq(7, 5)).toSeq == data.toSeq)
      assert(r.readSlab("m", Seq(5, 3), Seq(2, 2)).toSeq ==
        Seq(data(5 * 5 + 3), data(5 * 5 + 4), data(6 * 5 + 3), data(6 * 5 + 4)))
      // single element in an edge chunk
      assert(r.readSlab("m", Seq(6, 4), Seq(1, 1)).toSeq == Seq(data(34)))
    } finally r.close()
  }

  test("deflate actually shrinks the stored bytes (compressible data)") {
    val p1 = tmp(".h5"); val p2 = tmp(".h5")
    val flat = Array.fill(64 * 64)(1.5) // highly compressible
    HDF5.writeDoubleVar(p1, Seq("x" -> 64, "y" -> 64), "m", flat)
    HDF5.writeDoubleVar(p2, Seq("x" -> 64, "y" -> 64), "m", flat,
      chunkDims = Some(Seq(64, 64)))
    val raw = Files.size(java.nio.file.Paths.get(p1))
    val comp = Files.size(java.nio.file.Paths.get(p2))
    assert(comp < raw / 4, s"deflate file $comp not < $raw/4")
    val r = new HDF5.Hdf5Reader(p2, conf)
    try assert(r.readSlab("m", Seq(0, 0), Seq(64, 64)).forall(_ == 1.5))
    finally r.close()
  }

  test("1-D and 3-D shapes") {
    val p1 = tmp(".h5")
    HDF5.writeDoubleVar(p1, Seq("t" -> 10), "v", Array.tabulate(10)(_ * 2.0))
    val r1 = new HDF5.Hdf5Reader(p1, conf)
    try {
      assert(r1.shape("v") == Seq(10))
      assert(r1.readSlab("v", Seq(3), Seq(4)).toSeq == Seq(6.0, 8.0, 10.0, 12.0))
    } finally r1.close()
    val p3 = tmp(".h5")
    val cube = Array.tabulate(2 * 3 * 4)(_.toDouble)
    HDF5.writeDoubleVar(p3, Seq("a" -> 2, "b" -> 3, "c" -> 4), "v", cube,
      chunkDims = Some(Seq(1, 2, 4)))
    val r3 = new HDF5.Hdf5Reader(p3, conf)
    try {
      assert(r3.readSlab("v", Seq(0, 0, 0), Seq(2, 3, 4)).toSeq == cube.toSeq)
      assert(r3.readSlab("v", Seq(1, 1, 1), Seq(1, 2, 2)).toSeq ==
        Seq(17.0, 18.0, 21.0, 22.0))
    } finally r3.close()
  }

  test("multiple datasets in one group read back (the netCDF-4 file shape)") {
    val p = tmp(".h5")
    // a netCDF-4-style file: coordinate vars + a chunked measure, names
    // deliberately NOT in insertion order (symbol table sorts them)
    HDF5.writeDoubleVars(p, Seq(
      HDF5.H5Var("time", Seq("t" -> 5), Array.tabulate(5)(_ * 3600.0)),
      HDF5.H5Var("measure", Seq("t" -> 5, "x" -> 3), grid(5, 3),
        chunkDims = Some(Seq(2, 3))),
      HDF5.H5Var("x", Seq("x" -> 3), Array(0.5, 1.5, 2.5))))
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      assert(r.varNames == Seq("measure", "time", "x"))
      assert(r.shape("measure") == Seq(5, 3))
      assert(r.readSlab("time", Seq(0), Seq(5)).toSeq ==
        Seq(0.0, 3600.0, 7200.0, 10800.0, 14400.0))
      assert(r.readSlab("x", Seq(0), Seq(3)).toSeq == Seq(0.5, 1.5, 2.5))
      assert(r.readSlab("measure", Seq(0, 0), Seq(5, 3)).toSeq ==
        grid(5, 3).toSeq)
      assert(r.readSlab("measure", Seq(3, 1), Seq(2, 2)).toSeq ==
        Seq(grid(5, 3)(10), grid(5, 3)(11), grid(5, 3)(13), grid(5, 3)(14)))
    } finally r.close()
  }

  // ---- dense (fractal heap) link storage ----

  private def denseVars(n: Int): Seq[HDF5.H5Var] =
    (0 until n).map(i => HDF5.H5Var(f"var$i%02d", Seq("x" -> 4),
      Array.tabulate(4)(j => i * 10.0 + j)))

  test("dense links: fractal heap + v2 B-tree, single leaf") {
    val p = tmp(".h5")
    // 12 vars — netCDF-4 switches to dense storage above 8 links
    HDF5.writeDoubleVarsDense(p, denseVars(12))
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      assert(r.varNames == (0 until 12).map(i => f"var$i%02d"))
      (0 until 12).foreach { i =>
        assert(r.readSlab(f"var$i%02d", Seq(0), Seq(4)).toSeq ==
          Seq(i * 10.0, i * 10.0 + 1, i * 10.0 + 2, i * 10.0 + 3))
      }
    } finally r.close()
  }

  test("dense links: depth-1 v2 B-tree (internal + leaf nodes)") {
    val p = tmp(".h5")
    // node size 64 → (64-10)/11 = 4 records per leaf → 10 links force
    // a depth-1 tree with internal-node separators
    HDF5.writeDoubleVarsDense(p, denseVars(10), btreeNodeSize = 64)
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      assert(r.varNames == (0 until 10).map(i => f"var$i%02d"))
      assert(r.readSlab("var07", Seq(1), Seq(2)).toSeq == Seq(71.0, 72.0))
    } finally r.close()
  }

  test("dense links: chunked+deflate datasets behind the heap") {
    val p = tmp(".h5")
    val data = grid(7, 5)
    HDF5.writeDoubleVarsDense(p, denseVars(9) :+
      HDF5.H5Var("measure", Seq("r" -> 7, "c" -> 5), data,
        chunkDims = Some(Seq(3, 2))))
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      assert(r.readSlab("measure", Seq(0, 0), Seq(7, 5)).toSeq == data.toSeq)
      assert(r.readSlab("var05", Seq(0), Seq(1)).toSeq == Seq(50.0))
    } finally r.close()
  }

  test("golden bytes: FRHP/BTHD signatures and heap geometry") {
    val p = tmp(".h5")
    HDF5.writeDoubleVarsDense(p, denseVars(9))
    val b = Files.readAllBytes(java.nio.file.Paths.get(p))
    val s = new String(b.map(x => (x & 0xFF).toChar))
    val frhp = s.indexOf("FRHP")
    val bthd = s.indexOf("BTHD")
    val fhdb = s.indexOf("FHDB")
    val btlf = s.indexOf("BTLF")
    assert(frhp > 0 && bthd > 0 && fhdb > 0 && btlf > 0)
    assert(b(frhp + 5) == 7)           // heap ID length 1+4+2
    assert(b(frhp + 9) == 2)           // flags: checksummed direct blocks
    def u16(off: Int) = (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    assert(u16(frhp + 110) == 4)       // table width
    assert(u16(frhp + 128) == 32)      // max heap size bits
    assert(u16(frhp + 140) == 0)       // current rows: root is direct
    assert(b(bthd + 5) == 5)           // B-tree type 5: link name index
    assert(u16(bthd + 10) == 11)       // record size: 4 hash + 7 heap ID
    // FHDB heap-header backpointer == FRHP address
    val hdrPtr = (0 until 8).map(i => (b(fhdb + 5 + i).toLong & 0xFF) << (8 * i)).sum
    assert(hdrPtr == frhp)
  }

  // ---- layout message v4 (HDF5 1.10+ latest format) ----

  private def v4Roundtrip(index: String, rows: Int = 7, cols: Int = 5,
      chunk: Option[Seq[Int]] = Some(Seq(3, 2)), pageBits: Int = 10,
      dontFilterPartial: Boolean = false, eaPageBits: Int = 10,
      eaDataBlkMin: Int = 16): Unit = {
    val p = tmp(".h5")
    val data = grid(rows, cols)
    HDF5.writeLatestVars(p, Seq(
      HDF5.H5Var("m", Seq("r" -> rows, "c" -> cols), data, chunk),
      HDF5.H5Var("t", Seq("r" -> rows), Array.tabulate(rows)(_ * 2.0))),
      index, faPageBits = pageBits, dontFilterPartial = dontFilterPartial,
      eaPageBits = eaPageBits, eaDataBlkMin = eaDataBlkMin)
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      assert(r.varNames == Seq("m", "t"))
      assert(r.readSlab("m", Seq(0, 0), Seq(rows, cols)).toSeq == data.toSeq,
        s"$index: full read")
      assert(r.readSlab("m", Seq(rows - 2, cols - 2), Seq(2, 2)).toSeq ==
        Seq(data((rows - 2) * cols + cols - 2), data((rows - 2) * cols + cols - 1),
            data((rows - 1) * cols + cols - 2), data((rows - 1) * cols + cols - 1)),
        s"$index: edge hyperslab")
      assert(r.readSlab("t", Seq(2), Seq(3)).toSeq == Seq(4.0, 6.0, 8.0),
        s"$index: contiguous v4 sibling")
    } finally r.close()
  }

  test("layout v4: single-chunk index (filtered, chunk == shape)") {
    v4Roundtrip("single", chunk = Some(Seq(7, 5)))
  }

  test("layout v4: implicit index (unfiltered chunk grid)") {
    v4Roundtrip("implicit")
  }

  test("layout v4: fixed-array index, unpaged") {
    v4Roundtrip("fixedarray")
  }

  test("layout v4: fixed-array index, paged data block") {
    // 2^1 = 2 entries per page; 12 chunks → 6 pages with checksums
    v4Roundtrip("fixedarray", rows = 9, cols = 8, chunk = Some(Seq(3, 2)),
      pageBits = 1)
  }

  test("layout v4: v2 B-tree chunk index (filtered records, type 11)") {
    v4Roundtrip("btree2")
  }

  test("layout v4: extensible-array index, inline elements only (<=4 chunks)") {
    // 2x2 grid of chunks -> all 4 elements inline in the EAIB
    v4Roundtrip("extarray", rows = 6, cols = 4, chunk = Some(Seq(3, 2)))
  }

  test("layout v4: extensible-array index spilling into data blocks") {
    // 12 chunks: 4 inline + 8 in the first EADB generation (16 slots);
    // the unlimited-time shape HDF5 1.10 'latest' emits
    v4Roundtrip("extarray", rows = 9, cols = 8, chunk = Some(Seq(3, 2)))
  }

  test("layout v4: extensible-array crossing data-block generations") {
    // 55 chunks: 4 inline + 16 (g0) + 32 (g1) + 3 into the first g2
    // block - three generation sizes and a partially-written block
    v4Roundtrip("extarray", rows = 55, cols = 5, chunk = Some(Seq(1, 5)))
  }

  test("layout v4: extensible array through SECONDARY blocks (>244 chunks)") {
    // 300 one-row chunks: 4 inline + 240 direct (generations 0-3) + 56
    // into generation 4, which is addressed via an EASB secondary block
    // — the shape a real unlimited-time series with many steps produces
    v4Roundtrip("extarray", rows = 300, cols = 5, chunk = Some(Seq(1, 5)))
  }

  test("layout v4: extensible array with PAGED data blocks") {
    // eaDataBlkMin=4, eaPageBits=4 (16 elements/page): generations
    // 0-4 (ne 4,8,8,16,16) stay unpaged; generation 5 (ne=32 > 16) is
    // secondary-block-addressed AND paged — prefix-only data block,
    // 2 checksummed pages, page-init bitmap in the EASB. Gen 5 starts
    // at chunk 4+124=128; 160 one-row chunks land 32 elements into it.
    v4Roundtrip("extarray", rows = 160, cols = 5, chunk = Some(Seq(1, 5)),
      eaPageBits = 4, eaDataBlkMin = 4)
  }

  test("layout v4: paged extensible array with a partially-used paged block") {
    // 140 chunks: gen 5 holds chunks 128..139 only — 12 elements spill
    // into page 0 and the written block's remaining slots are Undef;
    // both pages still exist with valid checksums
    v4Roundtrip("extarray", rows = 140, cols = 5, chunk = Some(Seq(1, 5)),
      eaPageBits = 4, eaDataBlkMin = 4)
  }

  test("extensible-array file declares an unlimited max dim") {
    val p = tmp(".h5")
    HDF5.writeLatestVars(p, Seq(HDF5.H5Var("m", Seq("r" -> 6, "c" -> 4),
      grid(6, 4), Some(Seq(3, 2)))), "extarray")
    val b = Files.readAllBytes(java.nio.file.Paths.get(p))
    val s = new String(b.map(x => (x & 0xFF).toChar))
    assert(s.contains("EAHD") && s.contains("EAIB"))
    // dataspace v2 with flags=1 (max dims), dim0 max = H5S_UNLIMITED
    val ds = s.indexOfSlice(Seq(2, 2, 1, 1).map(_.toChar))
    assert(ds > 0, "v2 dataspace with max-dims flag present")
    val maxDim0 = (0 until 8).map(i => (b(ds + 4 + 16 + i).toLong & 0xFF) << (8 * i)).sum
    assert(maxDim0 == -1L, "dim 0 unlimited")
  }

  test("layout v4: don't-filter-partial-edge-chunks flag") {
    v4Roundtrip("fixedarray", dontFilterPartial = true)
  }

  test("golden bytes: superblock v3 and layout v4 message") {
    val p = tmp(".h5")
    HDF5.writeLatestVars(p, Seq(HDF5.H5Var("m", Seq("r" -> 6, "c" -> 4),
      grid(6, 4), Some(Seq(6, 4)))), "single")
    val b = Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(b(8) == 3)                  // superblock version 3
    assert(b(9) == 8 && b(10) == 8)    // offset/length sizes
    // v3 layout: base @12, extension @20, EOF @28
    val eof = (0 until 8).map(i => (b(28 + i).toLong & 0xFF) << (8 * i)).sum
    assert(eof == b.length)
    val s = new String(b.map(x => (x & 0xFF).toChar))
    assert(s.contains("OHDR"))         // v2 object headers
    // layout message body: version 4, class 2 (chunked), flags bit 1
    // (single chunk with filter), ndims 3 (rank 2 + element size)
    val idx = s.indexOfSlice(Seq(4, 2, 2, 3, 8).map(_.toChar))
    assert(idx > 0, "v4 chunked layout header bytes present")
  }

  test("isHdf5 distinguishes HDF5 from CDF classic") {
    val h5 = tmp(".h5")
    HDF5.writeDoubleVar(h5, Seq("x" -> 1), "m", Array(1.0))
    assert(isHdf5(h5))
    val nc = tmp(".nc")
    NetCDF3.writeDoubleVar(nc, Seq("x" -> 1), "m", Array(1.0))
    assert(!isHdf5(nc))
  }

  test("scalar float64 attributes round-trip (CF attrs on a netCDF-4 twin)") {
    val f = tmp(".h5")
    HDF5.writeDoubleVars(f, Seq(HDF5.H5Var("m", Seq("r" -> 2, "c" -> 3),
      Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0),
      attrs = Seq("scale_factor" -> 0.25, "add_offset" -> -2.0,
        "_FillValue" -> -9999.0))))
    val r = new HDF5.Hdf5Reader(f, conf)
    assert(r.varAttrs("m") == Map("scale_factor" -> 0.25,
      "add_offset" -> -2.0, "_FillValue" -> -9999.0))
    // attribute messages must not disturb the data path
    assert(r.readSlab("m", Seq(0, 0), Seq(2, 3)).toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    r.close()
    // the sniffing facade exposes them too (cf_unpack reads from here)
    val via = NcReader.open(f, conf)
    assert(via.varAttrs("m")("scale_factor") == 0.25)
    via.close()
  }

  test("fletcher32: hand-traced known answers") {
    // one word 0xABCD: sum1 = sum2 = 0xABCD → (sum2<<16)|sum1
    assert(HDF5.fletcher32(Array(0xAB.toByte, 0xCD.toByte)) == 0xABCDABCDL)
    // odd byte contributes byte<<8
    assert(HDF5.fletcher32(Array(0xAB.toByte)) == 0xAB00AB00L)
    assert(HDF5.fletcher32(Array.empty[Byte]) == 0L)
    // two words: sum1 = w0+w1, sum2 = 2*w0+w1 (fold is identity here)
    val w = Array(0x00, 0x01, 0x00, 0x02).map(_.toByte) // words 1, 2
    assert(HDF5.fletcher32(w) == ((4L << 16) | 3L))
    // folding: 0xFFFF words force sum carries through the 16-bit fold
    val ones = Array.fill(4)(0xFF.toByte) // words 0xFFFF, 0xFFFF
    // sum1 = 0x1FFFE → fold → 0xFFFF; sum2 = 0xFFFF + 0x1FFFE = 0x2FFFD
    // → fold → 0xFFFD + 2 = 0xFFFF (ones-complement fixed point)
    assert(HDF5.fletcher32(ones) == 0xFFFFFFFFL)
  }

  test("fletcher32 roundtrip: deflate+EDC chunks verify and read back") {
    val p = tmp(".h5")
    val data = grid(7, 5)
    HDF5.writeLatestVars(p, Seq(HDF5.H5Var("m", Seq("r" -> 7, "c" -> 5),
      data, chunkDims = Some(Seq(3, 5)))), index = "fixedarray",
      fletcher = true)
    val r = new HDF5.Hdf5Reader(p, conf)
    try assert(r.readSlab("m", Seq(0, 0), Seq(7, 5)).toSeq == data.toSeq)
    finally r.close()
  }

  test("fletcher32 detects a corrupted chunk byte") {
    val p = tmp(".h5")
    val data = grid(6, 4)
    HDF5.writeLatestVars(p, Seq(HDF5.H5Var("m", Seq("r" -> 6, "c" -> 4),
      data, chunkDims = Some(Seq(6, 4)))), index = "fixedarray",
      fletcher = true)
    // flip one bit in the stored chunk payload: the deflate stream sits
    // between the fixed 48-byte superblock head and the index metadata;
    // corrupt a byte in the middle of the file's data region
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    // find the zlib header (0x78 0x9C, deflate level 6) of the chunk
    val at = bytes.indices.find(i => (bytes(i) & 0xFF) == 0x78 &&
      i + 1 < bytes.length && (bytes(i + 1) & 0xFF) == 0x9C).get
    bytes(at + 5) = (bytes(at + 5) ^ 0x40).toByte
    Files.write(java.nio.file.Paths.get(p), bytes)
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      val e = intercept[Exception](r.readSlab("m", Seq(0, 0), Seq(6, 4)))
      assert(e.getMessage.contains("fletcher32 mismatch"))
    } finally r.close()
  }

  test("vlen string labels round-trip through the global heap") {
    val p = tmp(".h5")
    val labels = Seq("alpha", "", "a-much-longer-station-name-7",
      "β-utf8", "x")
    HDF5.writeVarsWithStringLabels(p,
      Seq(HDF5.H5Var("m", Seq("r" -> 5), grid(5, 1))),
      "station", labels)
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      assert(r.readStringVar("station") === labels)
      // the numeric variable is untouched by the extra dataset
      assert(r.readSlab("m", Seq(0), Seq(5)).toSeq === grid(5, 1).toSeq)
      // and the label dataset refuses the numeric read path
      val e = intercept[Exception](r.readSlab("station", Seq(0), Seq(5)))
      assert(e != null)
    } finally r.close()
  }

  test("readStringVar rejects a corrupted GCOL signature") {
    val p = tmp(".h5")
    HDF5.writeVarsWithStringLabels(p,
      Seq(HDF5.H5Var("m", Seq("r" -> 2), grid(2, 1))),
      "station", Seq("aa", "bb"))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    val at = bytes.indices.find(i => bytes(i) == 'G' && bytes(i + 1) == 'C'
      && bytes(i + 2) == 'O' && bytes(i + 3) == 'L').get
    bytes(at) = 'X'.toByte
    Files.write(java.nio.file.Paths.get(p), bytes)
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      val e = intercept[IllegalArgumentException](r.readStringVar("station"))
      assert(e.getMessage.contains("GCOL"))
    } finally r.close()
  }

  test("compound dataset: v1 write/read round trip preserves every field") {
    val p = tmp(".h5")
    val data = Seq(Seq[Any](1L, 1.5, -7L), Seq[Any](-2L, 0.25, 9L),
      Seq[Any](0L, -3.75, 0L))
    HDF5.writeCompound1D(p, "t",
      Seq("a" -> 'l', "b" -> 'd', "cc" -> 'l'), data)
    val r = new HDF5.Hdf5Reader(p, conf)
    try {
      val (ms, rows) = r.readCompoundVar("t")
      assert(ms.map(m => (m.name, m.offset, m.dtype.clazz)) ==
        Seq(("a", 0, 0), ("b", 8, 1), ("cc", 16, 0)))
      assert(rows.map(_.toSeq) == data)
      // a scalar reader must refuse the compound, loudly
      val e = intercept[IllegalArgumentException](r.readStringVar("t"))
      assert(e.getMessage.contains("vlen"))
    } finally r.close()
  }

  test("compound datatype VERSION 3 member layout parses (the h5py format)") {
    // hand-built class-6 v3 struct: {x: i64 @0, y: f64 @8}, size 16 —
    // names unpadded, offsets in minimal bytes (1 byte for size 16)
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x36.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(16)
    bb.put('x'.toByte).put(0.toByte).put(0.toByte) // name "x", offset 0
    bb.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(8); bb.putShort(0); bb.putShort(64) // i64 member type
    bb.put('y'.toByte).put(0.toByte).put(8.toByte) // name "y", offset 8
    bb.put(0x11.toByte).put(0x20.toByte).put(0x3F.toByte).put(0.toByte)
    bb.putInt(8); bb.putShort(0); bb.putShort(64)
    bb.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte)
    bb.putInt(1023) // f64 member type
    val (dt, consumed) = HDF5.parseDtypeAt(bb.array(), 0)
    assert(dt.clazz == 6 && dt.size == 16)
    assert(dt.members.map(m => (m.name, m.offset, m.dtype.clazz)) ==
      Seq(("x", 0, 0), ("y", 8, 1)))
    assert(consumed == 8 + 3 + 12 + 3 + 20)
  }

  test("vlen-string member inside a compound keeps later members aligned") {
    // the h5py event-table shape: {s: vlen str @0 (16 bytes), n: i64 @16},
    // size 24 — the vlen member's trailing BASE datatype struct (class 3
    // string, 8 bytes) must be consumed or member "n" parses as garbage
    val bb = java.nio.ByteBuffer.allocate(80)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x36.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(24)
    bb.put('s'.toByte).put(0.toByte).put(0.toByte) // name "s", offset 0
    bb.put(0x19.toByte).put(0x01.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(16)                                   // vlen string header
    bb.put(0x13.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(1)                                    // base: class-3 string
    bb.put('n'.toByte).put(0.toByte).put(16.toByte) // name "n", offset 16
    bb.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte)
    bb.putInt(8); bb.putShort(0); bb.putShort(64)   // i64 member type
    val (dt, consumed) = HDF5.parseDtypeAt(bb.array(), 0)
    assert(dt.members.map(m => (m.name, m.offset, m.dtype.clazz)) ==
      Seq(("s", 0, 9), ("n", 16, 0)))
    assert(consumed == 8 + 3 + 16 + 3 + 12)
    // an exotic vlen base class is a loud, descriptive failure
    val bad = bb.array().clone()
    bad(8 + 3 + 8) = 0x16.toByte // base class 6 (compound) — unsupported
    val e = intercept[IllegalArgumentException](HDF5.parseDtypeAt(bad, 0))
    assert(e.getMessage.contains("vlen base datatype"))
  }
}
