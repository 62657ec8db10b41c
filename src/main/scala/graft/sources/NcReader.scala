package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Format-sniffing facade over the container formats the reference
  * ingests (src/server/oph_io_server_nc.c:2716-3243 dispatches the same
  * way, URL paths included at :2769): NetCDF classic (CDF-1/2,
  * [[NetCDF3]]), NetCDF-4/HDF5 ([[HDF5]]) and Zarr v2 stores
  * ([[Zarr]]). Paths may be Hadoop URIs (s3a://, hdfs://, file://),
  * resolved through the Hadoop configuration the caller passes (see
  * [[RandomInput]]). One hyperslab API so the DSv2 source is
  * format-oblivious. */
trait NcReader extends AutoCloseable {
  def shape(varName: String): Seq[Int]
  def readSlab(varName: String, origin: Seq[Int], shape: Seq[Int]): Array[Double]
  /** Numeric scalar variable attributes (what CF unpacking needs:
    * scale_factor / add_offset / _FillValue). All three container paths
    * implement it: CDF var attr lists, HDF5 compact attribute messages,
    * Zarr .zattrs / v3 attributes. */
  def varAttrs(varName: String): Map[String, Double] = Map.empty
  /** On-disk element type of the variable as a short numpy-style tag
    * ("f8", "f4", "i4", …) — multi-file aggregation validates that all
    * files agree before mixing their decodes under one declared schema. */
  def elemKind(varName: String): String = "?"
  /** (length, modification time) of a single-file container; None for a
    * directory store, whose identity no one file carries. */
  def stamp: Option[(Long, Long)] = None
}

object NcReader {

  /** `esdm://container[/object]` — the reference's ESDM URI scheme
    * (oph_io_server_esdm.c:2043 checks this prefix before dispatching to
    * the ESDM library). ESDM itself is a storage library, not a wire
    * protocol; the sanctioned Spark-side mapping aliases a container
    * name to a store under `graft.esdm.root` (system property, or the
    * GRAFT_ESDM_ROOT env var — a shared-FS or object-store prefix on a
    * real cluster), so reference-shaped queries parse unchanged. */
  def resolve(path: String): String =
    if (path.startsWith("esdm://")) {
      val rest = path.stripPrefix("esdm://")
      // esdm:///abs/path addresses a store directly (no global state);
      // bare container names resolve under the configured root
      if (rest.startsWith("/")) rest
      else {
        val root = sys.props.get("graft.esdm.root")
          .orElse(sys.env.get("GRAFT_ESDM_ROOT")).getOrElse(".")
        root.stripSuffix("/") + "/" + rest
      }
    } else path

  /** Opens `path0` with the active session's Hadoop configuration
    * (driver side; tasks pass their broadcast copy to the two-argument
    * form). */
  def open(path0: String): NcReader =
    open(path0, SparkSession.active.sparkContext.hadoopConfiguration)

  /** Opens `path0`, resolving any FileSystem through `conf`. A single
    * file is opened once: the sniff and the reader share the handle. */
  def open(path0: String, conf: Configuration): NcReader = {
    val path = resolve(path0)
    if (Zarr.isZarr(path, conf)) new Zarr.ZarrReader(path, conf) // directory store
    else {
      val src = RandomInput.open(path, conf)
      try if (HDF5.isHdf5(src)) new H5Adapter(path, src) else new CdfAdapter(src)
      catch { case e: Throwable => src.close(); throw e }
    }
  }

  private final class H5Adapter(path: String, src: RandomInput) extends NcReader {
    private val r = new HDF5.Hdf5Reader(path, src)
    override def shape(varName: String): Seq[Int] = r.shape(varName)
    override def readSlab(varName: String, origin: Seq[Int],
        shape: Seq[Int]): Array[Double] = r.readSlab(varName, origin, shape)
    override def varAttrs(varName: String): Map[String, Double] =
      r.varAttrs(varName)
    override def elemKind(varName: String): String = {
      val dt = r.dataset(varName).dtype
      dt.clazz match {
        case 1 => s"f${dt.size}"
        case 0 => s"${if (dt.signed) "i" else "u"}${dt.size}"
        case 9 => "vlen"
        case 6 => "compound"
        case o => s"class$o"
      }
    }
    override def stamp: Option[(Long, Long)] = Some((src.length(), src.modified()))
    override def close(): Unit = r.close()
  }

  private final class CdfAdapter(src: RandomInput) extends NcReader {
    private val hdr = NetCDF3.readHeader(src)
    override def shape(varName: String): Seq[Int] =
      hdr.shape(hdr.variable(varName))
    override def readSlab(varName: String, origin: Seq[Int],
        shape: Seq[Int]): Array[Double] =
      NetCDF3.readSlab(src, hdr, hdr.variable(varName), origin, shape)
    override def varAttrs(varName: String): Map[String, Double] =
      hdr.variable(varName).attrs.flatMap { a =>
        a.values.headOption.collect {
          case d: Double => a.name -> d
          case f: Float  => a.name -> f.toDouble
          case l: Long   => a.name -> l.toDouble
          case i: Int    => a.name -> i.toDouble
          case s: Short  => a.name -> s.toDouble
          case b: Byte   => a.name -> b.toDouble
        }
      }.toMap
    override def elemKind(varName: String): String =
      hdr.variable(varName).ncType match {
        case 1 => "i1"; case 2 => "c1"; case 3 => "i2"; case 4 => "i4"
        case 5 => "f4"; case 6 => "f8" // classic types (CDF spec §6)
        case 7 => "u1"; case 8 => "u2"; case 9 => "u4" // CDF-5 extras
        case 10 => "i8"; case 11 => "u8"
        case t => s"nc$t"
      }
    override def stamp: Option[(Long, Long)] = Some((src.length(), src.modified()))
    override def close(): Unit = src.close()
  }
}
