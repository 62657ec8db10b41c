package graft.sources

import java.io.{DataInputStream, DataOutputStream, FileOutputStream}
import java.nio.ByteBuffer

import org.apache.hadoop.conf.Configuration

/** Pure-JVM reader/writer for the NetCDF classic format (CDF-1/2/5) —
  * the reference's primary ingest format (reader:
  * src/server/oph_io_server_nc.c:2716-3243). No netcdf-java in this
  * container, so the container format is parsed directly from its public
  * spec: [magic 'CDF' ver][numrecs][dim_list][gatt_list][var_list][data],
  * all big-endian; tags NC_DIMENSION=0x0A, NC_VARIABLE=0x0B,
  * NC_ATTRIBUTE=0x0C; names are int-length + zero-padded bytes. CDF-2
  * differs only in 64-bit var offsets; CDF-5 (the PnetCDF 64-bit-data
  * variant) widens every NON_NEG field (counts, name lengths, dim
  * sizes, ndims, dimids, vsize, numrecs) to int64 and adds the
  * unsigned + 64-bit element types (NC_UBYTE..NC_UINT64, 7-11).
  */
object NetCDF3 {

  final case class Dim(name: String, length: Int) {
    def isRecord: Boolean = length == 0
  }
  final case class Attr(name: String, ncType: Int, values: Seq[Any])
  final case class Variable(name: String, dimIds: Seq[Int], attrs: Seq[Attr],
                            ncType: Int, vsize: Long, begin: Long)
  final case class Header(version: Int, numRecs: Int, dims: Seq[Dim],
                          gatts: Seq[Attr], vars: Seq[Variable]) {
    def variable(name: String): Variable = vars.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no variable $name"))
    def shape(v: Variable): Seq[Int] = v.dimIds.map { i =>
      val d = dims(i)
      if (d.isRecord) numRecs else d.length
    }
    /** Sum of per-record slab sizes of all record variables (the record
      * stride), with the classic-format padding rules. */
    lazy val recSize: Long = {
      val recVars = vars.filter(v => v.dimIds.headOption.exists(dims(_).isRecord))
      if (recVars.size == 1) recVars.head.vsize
      else recVars.map(_.vsize).sum
    }
  }

  private val TagDim = 0x0A
  private val TagVar = 0x0B
  private val TagAtt = 0x0C

  def typeSize(ncType: Int): Int = ncType match {
    case 1 | 2 | 7 => 1 // byte, char, ubyte
    case 3 | 8 => 2 // short, ushort
    case 4 | 5 | 9 => 4 // int, float, uint
    case 6 | 10 | 11 => 8 // double, int64, uint64
    case t => throw new IllegalArgumentException(s"nc_type $t")
  }

  // ------------------------------------------------------------------ read

  def readHeader(path: String, conf: Configuration): Header = {
    val src = RandomInput.open(path, conf) // local path or Hadoop URI (s3a://…)
    try readHeader(src) finally src.close()
  }

  def readHeader(src: RandomInput): Header = {
    val in = new DataInputStream(src.openStream())
    try {
      val magic = Array.fill(3)(in.readByte())
      require(magic.sameElements("CDF".getBytes), "not a NetCDF classic file")
      val version = in.readByte().toInt
      require(version == 1 || version == 2 || version == 5,
        s"unsupported CDF version $version")
      val numRecs = readNN(in, version).toInt
      val dims = readDimList(in, version)
      val gatts = readAttList(in, version)
      val vars = readVarList(in, version)
      Header(version, numRecs, dims, gatts, vars)
    } finally in.close()
  }

  /** NON_NEG: 32-bit in CDF-1/2, 64-bit in CDF-5. */
  private def readNN(in: DataInputStream, version: Int): Long =
    if (version == 5) in.readLong() else in.readInt().toLong

  private def readName(in: DataInputStream, version: Int): String = {
    val n = readNN(in, version).toInt
    val b = new Array[Byte](n)
    in.readFully(b)
    val pad = (4 - n % 4) % 4
    in.skipBytes(pad)
    new String(b, "UTF-8")
  }

  private def readDimList(in: DataInputStream, version: Int): Seq[Dim] = {
    val tag = in.readInt(); val n = readNN(in, version).toInt
    require(tag == TagDim || (tag == 0 && n == 0), s"bad dim tag $tag")
    (0 until n).map(_ =>
      Dim(readName(in, version), readNN(in, version).toInt))
  }

  private def readAttList(in: DataInputStream, version: Int): Seq[Attr] = {
    val tag = in.readInt(); val n = readNN(in, version).toInt
    require(tag == TagAtt || (tag == 0 && n == 0), s"bad att tag $tag")
    (0 until n).map { _ =>
      val name = readName(in, version)
      val t = in.readInt()
      val ne = readNN(in, version).toInt
      val sz = ne * typeSize(t)
      val raw = new Array[Byte](sz)
      in.readFully(raw)
      in.skipBytes((4 - sz % 4) % 4)
      val bb = ByteBuffer.wrap(raw) // big-endian default
      val values: Seq[Any] = t match {
        case 2 => Seq(new String(raw, "UTF-8"))
        case 1 | 7 => raw.toSeq
        case 3 | 8 => (0 until ne).map(_ => bb.getShort)
        case 4 | 9 => (0 until ne).map(_ => bb.getInt)
        case 5 => (0 until ne).map(_ => bb.getFloat)
        case 6 => (0 until ne).map(_ => bb.getDouble)
        case 10 | 11 => (0 until ne).map(_ => bb.getLong)
      }
      Attr(name, t, values)
    }
  }

  private def readVarList(in: DataInputStream, version: Int): Seq[Variable] = {
    val tag = in.readInt(); val n = readNN(in, version).toInt
    require(tag == TagVar || (tag == 0 && n == 0), s"bad var tag $tag")
    (0 until n).map { _ =>
      val name = readName(in, version)
      val nd = readNN(in, version).toInt
      val dimIds = (0 until nd).map(_ => readNN(in, version).toInt)
      val atts = readAttList(in, version)
      val t = in.readInt()
      val vsize = readNN(in, version) & 0xFFFFFFFFFFFFFFFL
      val begin = if (version >= 2) in.readLong() else in.readInt().toLong
      Variable(name, dimIds, atts, t, vsize, begin)
    }
  }

  /** Read a hyperslab of `v` as doubles: `origin` (0-based) and `shape`
    * per dimension, row-major. Streams with one positioned read per
    * contiguous run (the innermost full-extent suffix). */
  def readSlab(path: String, conf: Configuration, hdr: Header, v: Variable,
               origin: Seq[Int], shape: Seq[Int]): Array[Double] = {
    val src = RandomInput.open(path, conf)
    try readSlab(src, hdr, v, origin, shape) finally src.close()
  }

  def readSlab(src: RandomInput, hdr: Header, v: Variable,
               origin: Seq[Int], shape: Seq[Int]): Array[Double] = {
    val dimsShape = hdr.shape(v)
    require(origin.size == dimsShape.size && shape.size == dimsShape.size,
      s"rank mismatch: var ${v.name} has shape $dimsShape")
    val es = typeSize(v.ncType)
    val isRec = v.dimIds.headOption.exists(hdr.dims(_).isRecord)
    // strides in ELEMENTS for the non-record part
    val fixedShape = if (isRec) dimsShape.tail else dimsShape
    val strides = fixedShape.scanRight(1L)(_ * _).tail // per non-record dim
    val out = new Array[Double](shape.product)
    // find longest contiguous suffix: dims where we take the full extent
    var contig = 1L
    var k = dimsShape.size - 1
    var stop = false
    while (k >= (if (isRec) 1 else 0) && !stop) {
      if (origin(k) == 0 && shape(k) == dimsShape(k)) { contig *= dimsShape(k); k -= 1 }
      else { contig *= 1; stop = true }
    }
    val runLen =
      (if (stop) shape(k) else 1) * {
        var c = 1L
        ((k + 1) until dimsShape.size).foreach(i => c *= shape(i))
        c
      }
    // iterate over the outer (non-run) index space
    val outerDims = (if (isRec) 0 else 0) until (if (stop) k else k + 1)
    val buf = new Array[Byte]((runLen * es).toInt)
    var outPos = 0
    def offsetOf(idx: Seq[Int]): Long = {
      if (isRec) {
        val rec = idx.head.toLong
        val fixedIdx = idx.tail
        val inner = fixedIdx.zip(strides).map { case (i, st) => i * st }.sum
        v.begin + rec * hdr.recSize + inner * es
      } else {
        val allStrides = dimsShape.scanRight(1L)(_ * _).tail
        v.begin + idx.zip(allStrides).map { case (i, st) => i * st }.sum * es
      }
    }
    def rec(d: Int, idx: Array[Int]): Unit = {
      if (d == outerDims.size) {
        val full = idx.toSeq ++ (outerDims.size until dimsShape.size).map(origin(_))
        src.readFully(offsetOf(full), buf)
        val bb = ByteBuffer.wrap(buf)
        var i = 0
        while (i < runLen) {
          out(outPos) = v.ncType match {
            case 1 => bb.get(i * es).toDouble
            case 2 | 7 => (bb.get(i * es) & 0xFF).toDouble
            case 3 => bb.getShort(i * es).toDouble
            case 8 => (bb.getShort(i * es) & 0xFFFF).toDouble
            case 4 => bb.getInt(i * es).toDouble
            case 9 => (bb.getInt(i * es) & 0xFFFFFFFFL).toDouble
            case 5 => bb.getFloat(i * es).toDouble
            case 6 => bb.getDouble(i * es)
            // int64/uint64 via double — the engine's lingua franca; the
            // exact >2^53 long path is the typed codec (BinaryCodec)
            case 10 | 11 => bb.getLong(i * es).toDouble
          }
          outPos += 1
          i += 1
        }
      } else {
        var j = 0
        while (j < shape(d)) {
          idx(d) = origin(d) + j
          rec(d + 1, idx)
          j += 1
        }
      }
    }
    rec(0, new Array[Int](outerDims.size))
    out
  }

  // ----------------------------------------------------------------- write

  /** Write a classic file with the given fixed dims and one double
    * variable spanning all of them (the shape oph_export needs).
    * `version` 1 = CDF-1 (the default) or 5 = CDF-5 with every NON_NEG
    * field widened to int64 per the PnetCDF 64-bit-data spec. */
  def writeDoubleVar(path: String, dims: Seq[(String, Int)], varName: String,
                     data: Array[Double], version: Int = 1,
                     attrs: Seq[(String, Double)] = Nil): Unit = {
    require(data.length == dims.map(_._2).product, "data size != dim product")
    writeDoubleVarStreamed(path, dims, varName, Iterator.single(data),
      version, attrs)
  }

  /** As [[writeDoubleVar]] but STREAMING the values batch by batch: the
    * CDF header needs only the dim sizes upfront and the data section is
    * a sequential run of big-endian doubles, so driver memory is bounded
    * by one fetch of [[ExportScan.ordered]] instead of the whole
    * variable. */
  def writeDoubleVarStreamed(path: String, dims: Seq[(String, Int)],
                             varName: String, batches: Iterator[Array[Double]],
                             version: Int = 1,
                             attrs: Seq[(String, Double)] = Nil): Unit = {
    val total = dims.map(_._2.toLong).product
    require(version == 1 || version == 5, s"writer supports CDF-1/5, not $version")
    val o = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(path)))
    def nn(v: Long): Unit = if (version == 5) o.writeLong(v) else o.writeInt(v.toInt)
    val nnSz = if (version == 5) 8 else 4
    try {
      o.write("CDF".getBytes); o.writeByte(version)
      nn(0) // numrecs
      o.writeInt(TagDim); nn(dims.size)
      dims.foreach { case (n, l) => writeName(o, n, version); nn(l) }
      o.writeInt(0); nn(0) // no global attrs
      o.writeInt(TagVar); nn(1)
      writeName(o, varName, version)
      nn(dims.size)
      dims.indices.foreach(i => nn(i))
      // var attr list (NC_DOUBLE scalars — the CF convention attributes)
      if (attrs.isEmpty) { o.writeInt(0); nn(0) }
      else {
        o.writeInt(TagAtt); nn(attrs.size)
        attrs.foreach { case (n, v) =>
          writeName(o, n, version)
          o.writeInt(6); nn(1) // nc_type double, one element
          o.writeDouble(v)
        }
      }
      o.writeInt(6) // NC_DOUBLE
      nn(total * 8) // vsize
      val headerSize = 4 + nnSz + // magic+numrecs
        (4 + nnSz) + dims.map { case (n, _) => nameSize(n, nnSz) + nnSz }.sum +
        (4 + nnSz) + // gatts ABSENT
        (4 + nnSz) + nameSize(varName, nnSz) + nnSz + dims.size * nnSz +
        (4 + nnSz) + // var att list header
        attrs.map { case (n, _) => nameSize(n, nnSz) + 4 + nnSz + 8 }.sum +
        4 + nnSz + // nc_type, vsize
        (if (version == 5) 8 else 4) // this begin field
      if (version == 5) o.writeLong(headerSize) else o.writeInt(headerSize)
      var written = 0L
      batches.foreach { a =>
        require(written + a.length <= total,
          s"more than $total values streamed — source exceeds the dims")
        a.foreach(o.writeDouble)
        written += a.length
      }
      require(written == total,
        s"streamed $written values for dim product $total")
    } finally o.close()
  }

  private def writeName(o: DataOutputStream, s: String, version: Int): Unit = {
    val b = s.getBytes("UTF-8")
    if (version == 5) o.writeLong(b.length.toLong) else o.writeInt(b.length)
    o.write(b)
    (0 until (4 - b.length % 4) % 4).foreach(_ => o.writeByte(0))
  }

  private def nameSize(s: String, nnSz: Int): Int = {
    val b = s.getBytes("UTF-8").length
    nnSz + b + (4 - b % 4) % 4
  }
}
