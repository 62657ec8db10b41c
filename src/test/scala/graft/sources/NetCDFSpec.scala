package graft.sources

import java.nio.file.Files

import graft.{SparkSpec, TempRoot}

class NetCDFSpec extends SparkSpec with TempRoot {

  private def tmpNc(dims: Seq[(String, Int)], data: Array[Double]): String = {
    val f = tmpFile("nc", ".nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath, dims, "measure", data)
    f.getAbsolutePath
  }

  test("writer emits spec-conformant bytes (golden header check)") {
    val path = tmpNc(Seq("x" -> 2), Array(1.5, 2.5))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    // magic CDF\x01, numrecs=0
    assert(bytes.take(4).sameElements(Array[Byte]('C', 'D', 'F', 1)))
    assert(java.nio.ByteBuffer.wrap(bytes, 4, 4).getInt == 0)
    // NC_DIMENSION tag, 1 dim named "x" len 2
    assert(java.nio.ByteBuffer.wrap(bytes, 8, 4).getInt == 0x0A)
    assert(java.nio.ByteBuffer.wrap(bytes, 12, 4).getInt == 1)
    // trailing 16 bytes are the two big-endian doubles
    val bb = java.nio.ByteBuffer.wrap(bytes, bytes.length - 16, 16)
    assert(bb.getDouble == 1.5 && bb.getDouble == 2.5)
  }

  test("header parse + full slab roundtrip") {
    val data = Array.tabulate(24)(_.toDouble)
    val path = tmpNc(Seq("t" -> 2, "y" -> 3, "x" -> 4), data)
    val hdr = NetCDF3.readHeader(path, hadoopConf)
    assert(hdr.dims.map(d => (d.name, d.length)) == Seq(("t", 2), ("y", 3), ("x", 4)))
    val v = hdr.variable("measure")
    assert(NetCDF3.readSlab(path, hadoopConf, hdr, v, Seq(0, 0, 0), Seq(2, 3, 4)).toSeq ==
      data.toSeq)
  }

  test("hyperslab: partial origins and shapes (row-major)") {
    val data = Array.tabulate(24)(_.toDouble) // t=2, y=3, x=4
    val path = tmpNc(Seq("t" -> 2, "y" -> 3, "x" -> 4), data)
    val hdr = NetCDF3.readHeader(path, hadoopConf)
    val v = hdr.variable("measure")
    // slab t=1, y=1..2, x=2..3 → values 12*1 + 4*y + x
    val slab = NetCDF3.readSlab(path, hadoopConf, hdr, v, Seq(1, 1, 2), Seq(1, 2, 2))
    assert(slab.toSeq == Seq(18.0, 19.0, 22.0, 23.0))
  }

  test("DSv2 source: explicit dims → id_dim rows, implicit → measure array") {
    val data = Array.tabulate(24)(_.toDouble)
    val path = tmpNc(Seq("t" -> 2, "y" -> 3, "x" -> 4), data)
    val df = spark.read.format("graft.sources.NetCDFSource")
      .option("path", path).option("var", "measure")
      .option("explicit", "2").option("partitions", "3")
      .load()
    val rows = df.orderBy("id_dim").collect()
    assert(rows.length == 6) // 2*3 explicit rows
    assert(rows.map(_.getLong(0)).toSeq == (1L to 6L))
    assert(rows.head.getSeq[Double](1) == Seq(0.0, 1.0, 2.0, 3.0))
    assert(rows.last.getSeq[Double](1) == Seq(20.0, 21.0, 22.0, 23.0))
  }

  test("DSv2 source: dim_start/dim_end subsetting + key_start") {
    val data = Array.tabulate(24)(_.toDouble)
    val path = tmpNc(Seq("t" -> 2, "y" -> 3, "x" -> 4), data)
    val df = spark.read.format("graft.sources.NetCDFSource")
      .option("path", path).option("var", "measure")
      .option("explicit", "2")
      .option("dim_start", "2,1,2").option("dim_end", "2,2,3")
      .option("key_start", "100")
      .load()
    val rows = df.orderBy("id_dim").collect()
    assert(rows.length == 2) // t=2 fixed, y in 1..2
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L, 101L))
    assert(rows.head.getSeq[Double](1) == Seq(13.0, 14.0)) // t=1(0b), y=0, x=1..2
    assert(rows.last.getSeq[Double](1) == Seq(17.0, 18.0))
  }

  test("unordered-dimension import = DSv2 load + oph_permute (the v1/v2 transpose path)") {
    // reference: when the measure's dims aren't in fragment order, import
    // transposes (cache-blocked kernels, oph_io_server_nc.c:577-1194).
    // Spark-first: load row-major as-is, permute the implicit array —
    // same bytes, Tungsten handles locality.
    import org.apache.spark.sql.functions._
    val data = Array.tabulate(12)(_.toDouble) // dims (x=3, t=4), want t-major
    val path = tmpNc(Seq("x" -> 3, "t" -> 4), data)
    val df = spark.read.format("graft.sources.NetCDFSource")
      .option("path", path).option("var", "measure")
      .option("explicit", "0") // whole var as one implicit array
      .load()
      .select(graft.functions.ArrayPrimitives
        .oph_permute(col("measure"), Seq(3, 4), Seq(1, 0)).as("m"))
    val m = df.head.getSeq[Double](0)
    // transposed row-major (t,x): element (t,x) = data(x*4 + t)
    val expected = for (t <- 0 until 4; x <- 0 until 3) yield data(x * 4 + t)
    assert(m == expected)
  }

  test("DSv2 column pruning: id_dim-only scans never read measure bytes") {
    val data = Array.tabulate(24)(_.toDouble)
    val path = tmpNc(Seq("t" -> 6, "x" -> 4), data)
    val df = spark.read.format("graft.sources.NetCDFSource")
      .option("path", path).option("explicit", "1").load()
      .select("id_dim")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<id_dim:bigint>") ||
      !p.contains("measure"), s"measure not pruned from scan:\n$p")
    assert(df.count() == 6)
  }

  test("DSv2 filter pushdown: id_dim range prunes planned partitions at the source") {
    import org.apache.spark.sql.functions.col
    val data = Array.tabulate(40)(_.toDouble)
    val path = tmpNc(Seq("t" -> 10, "x" -> 4), data)
    def load = spark.read.format("graft.sources.NetCDFSource")
      .option("path", path).option("explicit", "1")
      .option("partitions", "10").load()
    val filtered = load.filter(col("id_dim") >= 4 && col("id_dim") <= 6)
    val rows = filtered.orderBy("id_dim").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4L, 5L, 6L))
    assert(rows.head.getSeq[Double](1) == Seq(12.0, 13.0, 14.0, 15.0))
    // the scan plans only the 3-row window (3 partitions of 10 requested)
    assert(filtered.rdd.getNumPartitions <= 3,
      s"expected pruned partitions, got ${filtered.rdd.getNumPartitions}")
    // empty overlap → zero partitions, no error
    assert(load.filter(col("id_dim") > 1000).count() == 0)
  }

  test("multi-file paths= concatenates along the record dim with header-derived offsets") {
    import org.apache.spark.sql.functions.col
    // three files, DIFFERENT record counts (2, 3, 1 rows of 4)
    val a = tmpNc(Seq("t" -> 2, "x" -> 4), Array.tabulate(8)(_.toDouble))
    val b = tmpNc(Seq("t" -> 3, "x" -> 4), Array.tabulate(12)(i => 100.0 + i))
    val c = tmpNc(Seq("t" -> 1, "x" -> 4), Array.tabulate(4)(i => 200.0 + i))
    def load = spark.read.format("graft.sources.NetCDFSource")
      .option("paths", s"$a|$b|$c").option("explicit", "1")
      .option("partitions", "6").load()
    val rows = load.orderBy("id_dim").collect()
    // ids are continuous 1..6 across the three files
    assert(rows.map(_.getLong(0)).toSeq == (1L to 6L))
    assert(rows(0).getSeq[Double](1) == Seq(0.0, 1.0, 2.0, 3.0))
    assert(rows(2).getSeq[Double](1) == Seq(100.0, 101.0, 102.0, 103.0))
    assert(rows(5).getSeq[Double](1) == Seq(200.0, 201.0, 202.0, 203.0))
    // file-level pruning: an id window inside file 2 plans NO partition
    // for files 1 and 3 (3 local rows at most, from one file)
    val mid = load.filter(col("id_dim") >= 3 && col("id_dim") <= 5)
    assert(mid.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))
    assert(mid.rdd.getNumPartitions <= 3,
      s"expected file-pruned plan, got ${mid.rdd.getNumPartitions}")
    // empty overlap → zero partitions, no error
    assert(load.filter(col("id_dim") > 100).count() == 0)
  }

  test("multi-file paths= rejects files that disagree on non-record dims") {
    val a = tmpNc(Seq("t" -> 2, "x" -> 4), Array.tabulate(8)(_.toDouble))
    val bad = tmpNc(Seq("t" -> 2, "x" -> 5), Array.tabulate(10)(_.toDouble))
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.NetCDFSource")
        .option("paths", s"$a|$bad").option("explicit", "1")
        .load().collect()
    }
    assert(ex.getMessage != null)
  }

  test("CDF-2 (64-bit offset) header parses and reads") {
    // hand-built per the classic-format spec: version byte 2 + long begin
    val f = tmpFile("nc", ".nc").toFile
    val o = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    o.write("CDF".getBytes); o.writeByte(2)
    o.writeInt(0) // numrecs
    o.writeInt(0x0A); o.writeInt(1) // 1 dim
    o.writeInt(1); o.write("x".getBytes); o.write(Array[Byte](0, 0, 0)) // name pad
    o.writeInt(3) // dim len
    o.writeInt(0); o.writeInt(0) // gatts
    o.writeInt(0x0B); o.writeInt(1) // 1 var
    o.writeInt(1); o.write("v".getBytes); o.write(Array[Byte](0, 0, 0))
    o.writeInt(1); o.writeInt(0) // ndims=1, dimid 0
    o.writeInt(0); o.writeInt(0) // vatts
    o.writeInt(6) // double
    o.writeInt(24) // vsize
    // magic4 numrecs4 dimtag8 dim12 gatts8 vartag8 name8 ndims4 dimid4
    // vatts8 type4 vsize4 begin8 = 84
    o.writeLong(84L) // 64-bit begin
    Seq(1.25, 2.5, 3.75).foreach(o.writeDouble)
    o.close()
    val hdr = NetCDF3.readHeader(f.getAbsolutePath, hadoopConf)
    assert(hdr.version == 2)
    val v = hdr.variable("v")
    assert(NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, v, Seq(0), Seq(3)).toSeq ==
      Seq(1.25, 2.5, 3.75))
  }

  test("CDF-5 writer/reader roundtrip (64-bit NON_NEG fields)") {
    val f = tmpFile("nc", ".nc").toFile
    val data = Array.tabulate(6 * 4)(i => i * 0.5)
    NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("row" -> 6, "col" -> 4), "measure", data, version = 5)
    // golden: magic 'CDF\x05', numrecs is 8 bytes of zero
    val b = Files.readAllBytes(f.toPath)
    assert(b(3) == 5)
    assert((4 until 12).forall(b(_) == 0))
    val hdr = NetCDF3.readHeader(f.getAbsolutePath, hadoopConf)
    assert(hdr.version == 5)
    val v = hdr.variable("measure")
    assert(hdr.shape(v) == Seq(6, 4))
    assert(NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, v, Seq(0, 0), Seq(6, 4))
      .toSeq == data.toSeq)
    assert(NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, v, Seq(2, 1), Seq(2, 2))
      .toSeq == Seq(data(9), data(10), data(13), data(14)))
  }

  test("CDF-5 unsigned/int64 element types decode (hand-built golden file)") {
    val f = tmpFile("nc", ".nc").toFile
    val o = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    o.write("CDF".getBytes); o.writeByte(5)
    o.writeLong(0L) // numrecs
    o.writeInt(0x0A); o.writeLong(1L) // 1 dim
    o.writeLong(1L); o.write("x".getBytes); o.write(Array[Byte](0, 0, 0))
    o.writeLong(3L) // dim len
    o.writeInt(0); o.writeLong(0L) // gatts ABSENT
    o.writeInt(0x0B); o.writeLong(2L) // 2 vars
    def varHdr(name: String, t: Int, es: Int, begin: Long): Unit = {
      o.writeLong(1L); o.write(name.getBytes); o.write(Array[Byte](0, 0, 0))
      o.writeLong(1L); o.writeLong(0L) // ndims=1, dimid 0
      o.writeInt(0); o.writeLong(0L)   // vatts ABSENT
      o.writeInt(t)
      o.writeLong(3L * es)             // vsize
      o.writeLong(begin)
    }
    // header: 4+8 + (12 + 12+8) + 12 + 12 + 2*(12+8+8+12+4+8+8) = 188
    varHdr("u", 9, 4, 188L)        // NC_UINT, 3 values incl. >2^31
    varHdr("v", 10, 8, 200L)       // NC_INT64, right after the 12-byte slab
    Seq(1, -1, Int.MinValue).foreach(o.writeInt) // u32: 1, 4294967295, 2^31
    Seq(5000000000L, -7L, 42L).foreach(o.writeLong)
    o.close()
    val hdr = NetCDF3.readHeader(f.getAbsolutePath, hadoopConf)
    assert(hdr.version == 5)
    assert(NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, hdr.variable("u"),
      Seq(0), Seq(3)).toSeq == Seq(1.0, 4294967295.0, 2147483648.0))
    assert(NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, hdr.variable("v"),
      Seq(0), Seq(3)).toSeq == Seq(5.0e9, -7.0, 42.0))
  }

  test("record (unlimited) dimension: per-record slabs at begin + rec*recSize") {
    val f = tmpFile("nc", ".nc").toFile
    val o = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    o.write("CDF".getBytes); o.writeByte(1)
    o.writeInt(3) // numrecs
    o.writeInt(0x0A); o.writeInt(2)
    o.writeInt(4); o.write("time".getBytes); o.writeInt(0) // record dim (len 0)
    o.writeInt(1); o.write("x".getBytes); o.write(Array[Byte](0, 0, 0))
    o.writeInt(2)
    o.writeInt(0); o.writeInt(0) // gatts
    o.writeInt(0x0B); o.writeInt(1)
    o.writeInt(1); o.write("m".getBytes); o.write(Array[Byte](0, 0, 0))
    o.writeInt(2); o.writeInt(0); o.writeInt(1) // dims (time, x)
    o.writeInt(0); o.writeInt(0) // vatts
    o.writeInt(6) // double
    o.writeInt(16) // vsize = one record slab (2 doubles)
    val begin = 4 + 4 + 8 + (4 + 4 + 4) + (4 + 4 + 4) + 8 + 8 +
      (4 + 4) + 4 + 8 + (4 + 4) + 4 + 4 + 4
    o.writeInt(begin)
    // 3 records × 2 values
    Seq(0.0, 1.0, 10.0, 11.0, 20.0, 21.0).foreach(o.writeDouble)
    o.close()
    val hdr = NetCDF3.readHeader(f.getAbsolutePath, hadoopConf)
    assert(hdr.numRecs == 3 && hdr.dims.head.isRecord)
    val v = hdr.variable("m")
    assert(hdr.shape(v) == Seq(3, 2))
    assert(NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, v, Seq(0, 0), Seq(3, 2)).toSeq ==
      Seq(0.0, 1.0, 10.0, 11.0, 20.0, 21.0))
    // single middle record
    assert(NetCDF3.readSlab(f.getAbsolutePath, hadoopConf, hdr, v, Seq(1, 0), Seq(1, 2)).toSeq ==
      Seq(10.0, 11.0))
  }

  test("binary codec: pack/unpack/zlib roundtrip") {
    val a = Seq(1.5, -2.25, 3.75, Double.MinPositiveValue)
    assert(BinaryCodec.unpackDoubles(BinaryCodec.packDoubles(a)) == a)
    val packed = BinaryCodec.packDoubles(a)
    assert(BinaryCodec.inflate(BinaryCodec.deflate(packed)).toSeq == packed.toSeq)
    val l = Seq(1L, -5L, 1L << 62)
    assert(BinaryCodec.unpackLongs(BinaryCodec.packLongs(l)) == l)
  }

  test("typed codec: golden bytes match the reference's little-endian C layout") {
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    // int 1, -2 → 01000000 feffffff (little-endian 4-byte)
    assert(hex(BinaryCodec.packTyped(Seq(1.0, -2.0), "int")) == "01000000feffffff")
    // short 1, -2 → 0100 feff
    assert(hex(BinaryCodec.packTyped(Seq(1.0, -2.0), "short")) == "0100feff")
    // byte 1, -2 → 01 fe
    assert(hex(BinaryCodec.packTyped(Seq(1.0, -2.0), "byte")) == "01fe")
    // float 1.0 → 0000803f; -2.5 → 000020c0
    assert(hex(BinaryCodec.packTyped(Seq(1.0, -2.5), "float")) == "0000803f000020c0")
    // double 1.0 → little-endian IEEE754
    assert(hex(BinaryCodec.packTyped(Seq(1.0), "double")) == "000000000000f03f")
    // long 1, -2 → 8-byte little-endian
    assert(hex(BinaryCodec.packTyped(Seq(1.0, -2.0), "long")) ==
      "0100000000000000feffffffffffffff")
    // bit: one 0/1 char per value (oph_server_utility.c:295), not packed
    assert(hex(BinaryCodec.packTyped(Seq(3.5, 0.0, -1.0), "bit")) == "010001")
    // C-cast truncation toward zero on narrowing
    assert(BinaryCodec.unpackTyped(
      BinaryCodec.packTyped(Seq(2.9, -2.9), "int"), "int") == Seq(2.0, -2.0))
    // exact long path: 2^53+1 is unrepresentable as a double — packLongs
    // keeps the bit pattern the typed double route would round away
    assert(hex(BinaryCodec.packLongs(Seq(9007199254740993L, -9007199254740995L)))
      == "0100000000002000" + "fdffffffffffdfff")
    assert(BinaryCodec.unpackLongs(
      BinaryCodec.packLongs(Seq(9007199254740993L))) == Seq(9007199254740993L))
    assert(BinaryCodec.packTyped(Seq(9007199254740993.0), "long").toSeq !=
      BinaryCodec.packLongs(Seq(9007199254740993L)).toSeq) // the double route rounds
    for (t <- Seq("byte", "short", "int", "long", "float", "double", "bit")) {
      val v = Seq(1.0, 0.0, -3.0)
      val expect = if (t == "bit") Seq(1.0, 0.0, 1.0) else v
      assert(BinaryCodec.unpackTyped(BinaryCodec.packTyped(v, t), t) == expect,
        s"round trip failed for $t")
    }
  }

  test("dim_index transposes unordered dims at import, matching a pre-ordered file") {
    // file stores dims (a=2, b=3, c=4); the logical order is (b, c, a):
    // dim_index maps file dim -> logical position = 2,0,1; b keys rows
    // (explicit=1), the in-row array is (c, a) row-major
    val dir = tmpDir("nc_perm")
    val unordered = dir.resolve("u.nc").toString
    val data = Array.tabulate(2 * 3 * 4)(_.toDouble) // file order (a,b,c)
    NetCDF3.writeDoubleVar(unordered, Seq("a" -> 2, "b" -> 3, "c" -> 4),
      "m", data)
    // the pre-ordered golden file: same values laid out (b, c, a)
    val golden = dir.resolve("g.nc").toString
    val gdata = new Array[Double](24)
    for (a <- 0 until 2; b <- 0 until 3; c <- 0 until 4)
      gdata(b * 8 + c * 2 + a) = data(a * 12 + b * 4 + c)
    NetCDF3.writeDoubleVar(golden, Seq("b" -> 3, "c" -> 4, "a" -> 2),
      "m", gdata)
    def read(path: String, dimIndex: Option[String]) = {
      val r = spark.read.format("graft.sources.NetCDFSource")
        .option("path", path).option("var", "m").option("explicit", "1")
      dimIndex.fold(r)(di => r.option("dim_index", di)).load().orderBy("id_dim")
    }
    val transposed = read(unordered, Some("2,0,1")).collect()
    val pre = read(golden, None).collect()
    assert(transposed.length == 3 && pre.length == 3)
    (transposed, pre).zipped.foreach { (t, g) =>
      assert(t.getLong(0) == g.getLong(0))
      assert(t.getSeq[Double](1) == g.getSeq[Double](1))
    }
    // spot check: row b=1, in-row (c,a) -> first two entries v(a=0..1,b=1,c=0)
    assert(transposed(1).getSeq[Double](1).take(2) == Seq(data(4), data(16)))
  }

  test("NetCDF-4/HDF5 file reads through the same DSv2 source, partitioned") {
    val f = tmpDir("h5_dsv2")
      .resolve("t.h5").toFile
    val data = Array.tabulate(12 * 4)(k => (k / 4) * 10.0 + (k % 4))
    HDF5.writeDoubleVar(f.getAbsolutePath, Seq("row" -> 12, "x" -> 4), "m",
      data, chunkDims = Some(Seq(5, 4))) // ragged: 12 % 5 != 0
    val df = spark.read.format("graft.sources.NetCDFSource")
      .option("path", f.getAbsolutePath).option("var", "m")
      .option("explicit", "1").option("partitions", "3").load()
    val rows = df.orderBy("id_dim").collect()
    assert(rows.length == 12)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 12L))
    assert(rows(7).getSeq[Double](1) == Seq(70.0, 71.0, 72.0, 73.0))
    // id_dim pushdown prunes partitions for HDF5 exactly like classic
    assert(df.filter(org.apache.spark.sql.functions.col("id_dim") === 3L)
      .collect().map(_.getSeq[Double](1)).toSeq == Seq(Seq(20.0, 21.0, 22.0, 23.0)))
  }

  test("element_type reads typed measure arrays through the DSv2 source") {
    import org.apache.spark.sql.types._
    val f = tmpDir("nc_typed")
      .resolve("t.nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath,
      Seq("row" -> 3, "x" -> 2), "m", Array(1.9, -2.9, 0.0, 3.0, 4.5, -0.5))
    def read(t: String) = spark.read.format("graft.sources.NetCDFSource")
      .option("path", f.getAbsolutePath).option("var", "m")
      .option("explicit", "1").option("element_type", t).load().orderBy("id_dim")
    val fl = read("float")
    assert(fl.schema("measure").dataType == ArrayType(FloatType))
    assert(fl.collect().map(_.getSeq[Float](1)).toSeq ==
      Seq(Seq(1.9f, -2.9f), Seq(0.0f, 3.0f), Seq(4.5f, -0.5f)))
    val it = read("int")
    assert(it.schema("measure").dataType == ArrayType(IntegerType))
    assert(it.collect().map(_.getSeq[Int](1)).toSeq ==
      Seq(Seq(1, -2), Seq(0, 3), Seq(4, 0))) // C-cast truncation
    val bt = read("bit")
    assert(bt.schema("measure").dataType == ArrayType(ByteType))
    assert(bt.collect().map(_.getSeq[Byte](1)).toSeq ==
      Seq(Seq[Byte](1, 1), Seq[Byte](0, 1), Seq[Byte](1, 1)))
  }

  test("cf_unpack: scale_factor/add_offset applied, _FillValue becomes NaN") {
    val f = tmpFile("cf", ".nc").toFile
    NetCDF3.writeDoubleVar(f.getAbsolutePath, Seq("r" -> 2, "c" -> 4), "m",
      Array(1.0, 2.0, -999.0, 4.0, 5.0, -999.0, 7.0, 8.0),
      attrs = Seq("scale_factor" -> 0.5, "add_offset" -> 10.0,
        "_FillValue" -> -999.0))
    // attributes survive the header round trip
    val r = NcReader.open(f.getAbsolutePath)
    assert(r.varAttrs("m") == Map("scale_factor" -> 0.5,
      "add_offset" -> 10.0, "_FillValue" -> -999.0))
    r.close()
    val rows = spark.read.format("graft.sources.NetCDFSource")
      .option("path", f.getAbsolutePath).option("var", "m")
      .option("cf_unpack", "yes").load()
      .orderBy("id_dim").collect()
    val m1 = rows(0).getSeq[Double](1)
    val m2 = rows(1).getSeq[Double](1)
    assert(m1(0) == 10.5 && m1(1) == 11.0 && m1(2).isNaN && m1(3) == 12.0)
    assert(m2(0) == 12.5 && m2(1).isNaN && m2(2) == 13.5 && m2(3) == 14.0)
    // without the option the raw packed values come through untouched
    val raw = spark.read.format("graft.sources.NetCDFSource")
      .option("path", f.getAbsolutePath).option("var", "m").load()
      .orderBy("id_dim").collect()
    assert(raw(0).getSeq[Double](1) == Seq(1.0, 2.0, -999.0, 4.0))
  }
}
