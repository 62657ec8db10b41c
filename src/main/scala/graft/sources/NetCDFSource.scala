package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 NetCDF-classic reader — the Spark-native analogue of the
  * reference's NetCDF fragment import
  * (src/server/oph_io_server_nc.c:2716-3243):
  *
  *   spark.read.format("graft.sources.NetCDFSource")
  *     .option("path", "/data/cube.nc").option("var", "measure")
  *     .option("explicit", "2")          // leading dims → row key
  *     .option("dim_start", "1,1,1")     // 1-based inclusive, per dim
  *     .option("dim_end",   "end,end,end")
  *     .option("key_start", "1")         // frag_key_start
  *     .option("partitions", "32")
  *     .load()                            // → (id_dim BIGINT, measure ARRAY<DOUBLE>)
  *
  * Explicit dims are flattened row-major into `id_dim` (= key_start +
  * row index, the reference's keying at oph_io_server_nc.c:1160-1186);
  * implicit (trailing) dims become the in-row measure array. The explicit
  * row space is split into contiguous ranges — one InputPartition each —
  * so a 1000-executor cluster reads 1000 disjoint byte ranges in
  * parallel, replacing the reference's fork+shm parallel read
  * (oph_io_server_nc.c:311-500).
  *
  * Every open uses the session's Hadoop configuration: the driver's
  * header read takes it from the session, and each scan broadcasts it
  * once ([[SerializableHadoopConf]]) to its partition readers.
  */
class NetCDFSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetCDFSource.schemaFor(Option(options.get("element_type")).getOrElse("double"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NetCDFTable(properties.asScala.toMap)
}

object NetCDFSource {
  /** The reference's seven in-array element types
    * (oph_server_utility.h:35-48) as the narrowest Spark types. `bit`
    * cells are one char each in the reference (oph_server_utility.c:295)
    * → ByteType holding 0/1, matching [[graft.functions.ArrayPrimitives]]
    * `oph_cast` bit semantics. */
  def elementType(t: String): DataType = t.toLowerCase match {
    case "double" => DoubleType
    case "float"  => FloatType
    case "long"   => LongType
    case "int"    => IntegerType
    case "short"  => ShortType
    case "byte" | "bit" => ByteType
    case o => throw new IllegalArgumentException(s"unknown element_type: $o")
  }

  def schemaFor(t: String): StructType = StructType(Seq(
    StructField("id_dim", LongType, nullable = false),
    StructField("measure", ArrayType(elementType(t)), nullable = false)))

  val schema: StructType = schemaFor("double")

  /** `dimIndex(j)` maps FILE dimension j to its LOGICAL position — the
    * reference's dims_index (oph_io_server_nc.c:756,1195): logical
    * positions 0..explicit-1 key the rows, the rest lay out the in-row
    * array. Identity when the file already stores dims in logical
    * order; otherwise the reader permutes at import time (the v1/v2
    * transposition algorithms, oph_io_server_nc.c:755,1194). */
  final case class Spec(path: String, varName: String, explicit: Int,
                        starts: Seq[Int], ends: Seq[Int], keyStart: Long,
                        partitions: Int, elemType: String,
                        dimIndex: Seq[Int], cfUnpack: Boolean = false,
                        onDiskKind: String = "?") {
    /** File dim sitting at logical position k. */
    def fileOfLogical(k: Int): Int = dimIndex.indexOf(k)
    def extent(fileDim: Int): Int = ends(fileDim) - starts(fileDim) + 1
    /** Row-space sizes in logical order (what id_dim enumerates). */
    def logicalExplicitSizes: Seq[Int] =
      (0 until explicit).map(k => extent(fileOfLogical(k)))
  }

  /** What one header open yields: the variable's shape and on-disk
    * element type (the multi-file type-agreement check then needs no
    * second open), and the file's [[NcReader.stamp]]. */
  final case class Header(shape: Seq[Int], onDiskKind: String,
                          stamp: Option[(Long, Long)])

  /** The header of `opts`' `path`/`var`, read through `conf`. */
  def header(opts: Map[String, String], conf: Configuration): Header = {
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException("option 'path' required"))
    val varName = opts.getOrElse("var", "measure")
    val r = NcReader.open(path, conf)
    try Header(r.shape(varName), r.elemKind(varName), r.stamp) finally r.close()
  }

  /** The read plan of `opts` over the already-read header `hdr`. */
  def spec(opts: Map[String, String], hdr: Header): Spec = {
    val path = opts("path")
    val varName = opts.getOrElse("var", "measure")
    val shape = hdr.shape
    val explicit = opts.get("explicit").map(_.toInt)
      .getOrElse(math.max(shape.size - 1, 0))
    def parseList(key: String, default: Int => Int): Seq[Int] =
      opts.get(key) match {
        case Some(sv) =>
          sv.split(',').toSeq.zipWithIndex.map { case (tok, i) =>
            if (tok.trim.equalsIgnoreCase("end")) shape(i) else tok.trim.toInt
          }
        case None => shape.indices.map(i => default(i))
      }
    val starts = parseList("dim_start", _ => 1)
    val ends = parseList("dim_end", shape(_))
    require(starts.size == shape.size && ends.size == shape.size,
      s"dim_start/dim_end must list all ${shape.size} dims")
    val dimIndex = opts.get("dim_index") match {
      case Some(sv) =>
        val di = sv.split(',').toSeq.map(_.trim.toInt)
        require(di.sorted == shape.indices.toSeq,
          s"dim_index must be a permutation of 0..${shape.size - 1}, got $sv")
        di
      case None => shape.indices.toSeq
    }
    val cfUnpack = opts.get("cf_unpack")
      .exists(v => v.equalsIgnoreCase("yes") || v.equalsIgnoreCase("true"))
    val elemType = opts.getOrElse("element_type", "double").toLowerCase
    require(!cfUnpack || elemType == "double",
      "cf_unpack produces doubles; element_type must be double")
    Spec(path, varName, explicit, starts, ends,
      opts.getOrElse("key_start", "1").toLong,
      opts.getOrElse("partitions", "8").toInt,
      elemType,
      dimIndex, cfUnpack, hdr.onDiskKind)
  }
}

/** A single-file table equals another over the same options whose file
  * has the same length and modification time, so two loads of one file
  * are one `sameResult` plan and share one cache entry; a rewritten file
  * gets a new identity. Directory stores and multi-file tables keep
  * instance equality. */
final class NetCDFTable(private val opts: Map[String, String]) extends Table with SupportsRead {
  private val sc: SparkContext = SparkSession.active.sparkContext

  /** The single file's header, read once on the driver for both the
    * scan's spec and the table's identity; None for `paths` tables. */
  private lazy val header: Option[NetCDFSource.Header] =
    if (opts.contains("paths")) None
    else Some(NetCDFSource.header(opts, sc.hadoopConfiguration))
  private lazy val stamp: Option[(Long, Long)] = header.flatMap(_.stamp)

  override def equals(o: Any): Boolean = o match {
    case t: NetCDFTable =>
      (this eq t) || (stamp.isDefined && stamp == t.stamp && opts == t.opts)
    case _ => false
  }
  override def hashCode(): Int =
    stamp.fold(System.identityHashCode(this))(st => (opts, st).##)

  override def name(): String = s"netcdf:${opts.getOrElse("path", "?")}"
  override def schema(): StructType =
    NetCDFSource.schemaFor(opts.getOrElse("element_type", "double"))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = opts ++ o.asScala
    val sameFile = Seq("path", "var", "paths").forall(k => merged.get(k) == opts.get(k))
    new NetCDFScan(merged, sc, if (sameFile) header else None)
  }
}

/** One scan: the header read on the driver through `sc`'s Hadoop
  * configuration (`hdr`, when the table already read it), and that
  * configuration broadcast once to all of its partition readers. */
final class NetCDFScan(opts: Map[String, String], sc: SparkContext,
                       hdr: Option[NetCDFSource.Header])
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  /** Multi-file aggregation (`paths=a|b|c`): the files CONCATENATE
    * along the leading explicit (record) dimension — the ncrcat /
    * open_mfdataset shape a 100 TB archive ships as (one file per day/
    * month/member). Each file's record count comes from its HEADER
    * (metadata-only driver pass); global id_dim offsets are the prefix
    * sums, so the id keying is identical to one concatenated file. */
  private val multiPaths: Seq[String] = opts.get("paths")
    .map(_.split('|').toSeq.map(_.trim).filter(_.nonEmpty))
    .getOrElse(Seq.empty)
  private val sp = {
    val o = if (multiPaths.nonEmpty) opts + ("path" -> multiPaths.head) else opts
    NetCDFSource.spec(o, hdr.getOrElse(NetCDFSource.header(o, sc.hadoopConfiguration)))
  }
  /** The session's Hadoop configuration for this scan's readers. */
  private lazy val conf = SerializableHadoopConf.broadcast(sc)
  private var required: StructType = NetCDFSource.schemaFor(sp.elemType)
  private var pushedIdRange: (Long, Long) = (Long.MinValue, Long.MaxValue)
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** id_dim range pruning pushed to the SOURCE (SURVEY §7.3): a
    * key-range WHERE narrows the planned row window, so partitions
    * outside it are never created and their bytes never read — the
    * Spark-native version of the reference's id-overlap short-circuit
    * (oph_io_server_query_blocks.c:887-894). */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val (accepted, rest) = filters.partition {
      case GreaterThan("id_dim", _: Long) | GreaterThanOrEqual("id_dim", _: Long) |
           LessThan("id_dim", _: Long) | LessThanOrEqual("id_dim", _: Long) |
           EqualTo("id_dim", _: Long) => true
      case _ => false
    }
    accepted.foreach {
      case GreaterThan("id_dim", v: Long) => narrow(v + 1, Long.MaxValue)
      case GreaterThanOrEqual("id_dim", v: Long) => narrow(v, Long.MaxValue)
      case LessThan("id_dim", v: Long) => narrow(Long.MinValue, v - 1)
      case LessThanOrEqual("id_dim", v: Long) => narrow(Long.MinValue, v)
      case EqualTo("id_dim", v: Long) => narrow(v, v)
      case _ =>
    }
    pushed = accepted
    rest // residual filters Spark re-applies (safe even though ours are exact)
  }
  private def narrow(lo: Long, hi: Long): Unit =
    pushedIdRange = (math.max(pushedIdRange._1, lo), math.min(pushedIdRange._2, hi))
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** Column pruning pushed into the reader: `SELECT id_dim` (row counts,
    * key-algebra-only queries) never touches the measure bytes — at
    * 100 TB that's the difference between a metadata pass and a full
    * read. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(NetCDFSource.schemaFor(sp.elemType).fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Per-file specs for multi-file mode, each derived from its own
    * header (files may differ in record count; everything else must
    * agree). Lazy: only the driver's planning pass opens headers. */
  private lazy val fileSpecs: Seq[NetCDFSource.Spec] =
    if (multiPaths.isEmpty) Seq(sp)
    else {
      // the head file's spec is `sp`: its header is read once
      val specs = sp +: multiPaths.tail.map { p =>
        val o = opts - "paths" + ("path" -> p)
        NetCDFSource.spec(o, NetCDFSource.header(o, sc.hadoopConfiguration))
      }
      val ref = specs.head
      // elemType/cfUnpack come from the shared options (uniform by
      // construction); the ON-DISK variable type is per-file and must
      // also agree — a float file mixed into a double archive would
      // otherwise decode at the wrong precision under one declared
      // schema. Captured during spec()'s own header pass — no extra
      // opens.
      specs.foreach { fs =>
        require(fs.explicit == ref.explicit &&
          fs.logicalExplicitSizes.drop(1) == ref.logicalExplicitSizes.drop(1) &&
          fs.starts.size == ref.starts.size &&
          (fs.explicit until fs.starts.size).map(k => fs.extent(fs.fileOfLogical(k))) ==
            (ref.explicit until ref.starts.size).map(k => ref.extent(ref.fileOfLogical(k))),
          s"multi-file: ${fs.path} disagrees with ${ref.path} on " +
            "non-record dimensions")
        require(fs.onDiskKind == ref.onDiskKind,
          s"multi-file: ${fs.path} stores ${fs.varName} as " +
            s"${fs.onDiskKind} but ${ref.path} stores ${ref.onDiskKind} " +
            "— element types must agree")
      }
      specs
    }

  override def planInputPartitions(): Array[InputPartition] = {
    if (multiPaths.nonEmpty) return planMultiFile()
    val allRows = sp.logicalExplicitSizes.product.toLong
    // id_dim = keyStart + row → clamp the planned row window to the
    // pushed id range (empty overlap → zero partitions, zero reads)
    val rowMin = math.max(0L,
      if (pushedIdRange._1 == Long.MinValue) 0L else pushedIdRange._1 - sp.keyStart)
    val rowMax = math.min(allRows,
      if (pushedIdRange._2 == Long.MaxValue) allRows else pushedIdRange._2 - sp.keyStart + 1)
    val nRows = math.max(0L, rowMax - rowMin)
    if (nRows == 0) return Array.empty
    val p = math.max(1, math.min(sp.partitions.toLong, nRows)).toInt
    val needMeasure = required.fieldNames.contains("measure")
    val needId = required.fieldNames.contains("id_dim")
    (0 until p).map { i =>
      val lo = rowMin + nRows * i / p
      val hi = rowMin + nRows * (i + 1) / p
      NetCDFPartition(sp, conf, lo, hi, needId, needMeasure): InputPartition
    }.toArray
  }

  /** Multi-file planning: clamp the pushed global id window onto the
    * per-file offset ranges — files wholly outside it are PRUNED at
    * the driver (their bytes are never opened by an executor, the q35
    * partition-pruning posture at the file level) — then split each
    * surviving file's local row range proportionally. Every partition
    * reads exactly one file: [[NetCDFPartitionReader]] is reused
    * unchanged with keyStart carrying the file's global offset. */
  private def planMultiFile(): Array[InputPartition] = {
    val counts = fileSpecs.map(_.logicalExplicitSizes.product.toLong)
    val offsets = counts.scanLeft(0L)(_ + _)
    val allRows = offsets.last
    val rowMin = math.max(0L,
      if (pushedIdRange._1 == Long.MinValue) 0L else pushedIdRange._1 - sp.keyStart)
    val rowMax = math.min(allRows,
      if (pushedIdRange._2 == Long.MaxValue) allRows else pushedIdRange._2 - sp.keyStart + 1)
    val nRows = math.max(0L, rowMax - rowMin)
    if (nRows == 0) return Array.empty
    val needMeasure = required.fieldNames.contains("measure")
    val needId = required.fieldNames.contains("id_dim")
    val out = Array.newBuilder[InputPartition]
    fileSpecs.indices.foreach { f =>
      val gLo = math.max(rowMin, offsets(f))
      val gHi = math.min(rowMax, offsets(f + 1))
      if (gLo < gHi) { // file-level prune: empty overlap → no partition
        val local = gHi - gLo
        val np = math.max(1L,
          math.min(local, sp.partitions.toLong * local / nRows)).toInt
        val fsp = fileSpecs(f).copy(keyStart = sp.keyStart + offsets(f))
        (0 until np).foreach { i =>
          val lo = (gLo - offsets(f)) + local * i / np
          val hi = (gLo - offsets(f)) + local * (i + 1) / np
          out += NetCDFPartition(fsp, conf, lo, hi, needId, needMeasure)
        }
      }
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new NetCDFPartitionReader(partition.asInstanceOf[NetCDFPartition])
    }
}

final case class NetCDFPartition(spec: NetCDFSource.Spec,
                                 conf: Broadcast[SerializableHadoopConf],
                                 rowLo: Long, rowHi: Long,
                                 needId: Boolean = true,
                                 needMeasure: Boolean = true)
    extends InputPartition

final class NetCDFPartitionReader(p: NetCDFPartition)
    extends PartitionReader[InternalRow] {
  private val sp = p.spec
  // CDF classic, NetCDF-4/HDF5 or Zarr, through the scan's broadcast conf
  private val rdr = NcReader.open(sp.path, p.conf.value.value)
  private val shape = rdr.shape(sp.varName)
  private val rank = shape.size
  // dim_index support (reference transposition, oph_io_server_nc.c:755,
  // 1194): rows enumerate LOGICAL explicit positions; per file dim the
  // slab takes one element for explicit-mapped dims and the full
  // requested range for implicit-mapped dims
  private val expSizes = sp.logicalExplicitSizes
  private val slabShape = (0 until rank).map(j =>
    if (sp.dimIndex(j) < sp.explicit) 1 else sp.extent(j))
  /** In-row permutation: slab data arrives row-major over the file's
    * implicit dims; the fragment stores logical implicit order. null =
    * identity (file already ordered) — the common fast path. */
  private val permTable: Array[Int] = {
    val fileImp = (0 until rank).filter(j => sp.dimIndex(j) >= sp.explicit)
    val logiImp = (sp.explicit until rank).map(sp.fileOfLogical)
    if (fileImp == logiImp) null
    else {
      val srcStride = new Array[Int](rank)
      var acc = 1
      fileImp.reverse.foreach { j => srcStride(j) = acc; acc *= sp.extent(j) }
      val sizesLog = logiImp.map(sp.extent)
      val n = sizesLog.product
      val out = new Array[Int](n)
      val idx = new Array[Int](logiImp.size)
      var flat = 0
      while (flat < n) {
        var rem = flat
        var i = logiImp.size - 1
        while (i >= 0) { idx(i) = rem % sizesLog(i); rem /= sizesLog(i); i -= 1 }
        var src = 0
        i = 0
        while (i < logiImp.size) { src += idx(i) * srcStride(logiImp(i)); i += 1 }
        out(flat) = src
        flat += 1
      }
      out
    }
  }
  /** CF unpacking (cf_unpack=yes): (scale_factor, add_offset,
    * _FillValue, fill present). null when unpacking is off or every
    * attribute is trivial — the common path pays nothing. */
  private val cfParams: (Double, Double, Double, Boolean) =
    if (!sp.cfUnpack) null
    else {
      val at = rdr.varAttrs(sp.varName)
      val scale = at.getOrElse("scale_factor", 1.0)
      val off = at.getOrElse("add_offset", 0.0)
      val fill = at.get("_FillValue")
      if (scale == 1.0 && off == 0.0 && fill.isEmpty) null
      else (scale, off, fill.getOrElse(0.0), fill.isDefined)
    }
  private var row = p.rowLo
  private var current: InternalRow = _
  // narrow the decoded doubles to the declared element type with C-cast
  // (truncating) semantics — the CDF classic types (1..6) are all exactly
  // representable in double, so the double intermediate is lossless
  private val narrow: Double => Any = sp.elemType match {
    case "double" => d => d
    case "float"  => d => d.toFloat
    case "long"   => d => d.toLong
    case "int"    => d => d.toInt
    case "short"  => d => d.toShort
    case "byte"   => d => d.toByte
    case "bit"    => d => (if (d != 0.0) 1 else 0).toByte
  }

  override def next(): Boolean = {
    if (row >= p.rowHi) return false
    val fields = Seq.newBuilder[Any]
    if (p.needId) fields += (sp.keyStart + row)
    if (p.needMeasure) {
      // decode the flat explicit-row index into per-LOGICAL-dim indices
      // (row-major over logical explicit order)
      var rem = row
      val expIdx = new Array[Int](sp.explicit)
      var i = sp.explicit - 1
      while (i >= 0) {
        expIdx(i) = (rem % expSizes(i)).toInt
        rem /= expSizes(i)
        i -= 1
      }
      // per FILE dim: explicit-mapped dims pin to their logical index,
      // implicit-mapped dims take the whole requested range
      val origin = (0 until rank).map { j =>
        val k = sp.dimIndex(j)
        (sp.starts(j) - 1) + (if (k < sp.explicit) expIdx(k) else 0)
      }
      val raw = rdr.readSlab(sp.varName, origin, slabShape)
      val data =
        if (permTable == null) raw
        else {
          val o = new Array[Double](raw.length)
          var t = 0
          while (t < o.length) { o(t) = raw(permTable(t)); t += 1 }
          o
        }
      if (cfParams != null) {
        val (scale, off, fill, hasFill) = cfParams
        var t = 0
        while (t < data.length) {
          data(t) = if (hasFill && data(t) == fill) Double.NaN
                    else data(t) * scale + off
          t += 1
        }
      }
      fields += (if (sp.elemType == "double") ArrayData.toArrayData(data)
                 else ArrayData.toArrayData(data.map(narrow)))
    }
    current = new GenericInternalRow(fields.result().toArray)
    row += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = rdr.close()
}
