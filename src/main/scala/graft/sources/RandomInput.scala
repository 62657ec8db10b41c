package graft.sources

import java.io.{InputStream, RandomAccessFile}
import java.net.URI

import org.apache.hadoop.conf.Configuration

/** Positioned-read byte source for the container-format readers
  * ([[NetCDF3]], [[HDF5]], [[Zarr]]): local files go through
  * RandomAccessFile; any URI with a scheme (s3a://, hdfs://, file://,
  * …) goes through the Hadoop FileSystem API that ships with Spark —
  * the Spark-native counterpart of the reference accepting URL
  * src_paths (s3://, http://, file://) and delegating to netcdf-c's
  * dispatch (oph_io_server_nc.c:2769). With the standard cloud
  * connector on the cluster classpath, `s3a://bucket/key.nc` reads
  * exactly like a local path; executors open their own handles, so
  * partitioned reads stay parallel.
  *
  * A URI resolves its FileSystem through the caller's `conf`: the
  * session's Hadoop configuration on the driver, its broadcast copy
  * ([[SerializableHadoopConf]]) in tasks. So `spark.hadoop.*` settings
  * (credentials, endpoints, `fs.<scheme>.impl`) reach every read, and
  * no open parses the configuration resources again. */
trait RandomInput extends AutoCloseable {
  def length(): Long
  /** Last modification time, epoch milliseconds. */
  def modified(): Long
  /** Fill `buf` from absolute offset `pos`. */
  def readFully(pos: Long, buf: Array[Byte]): Unit
  /** Sequential stream from offset 0 (header parsing). */
  def openStream(): InputStream
}

object RandomInput {

  def open(path: String, conf: Configuration): RandomInput =
    if (path.startsWith("file://"))
      new LocalInput(new URI(path).getPath)
    else if (path.contains("://")) new HadoopInput(path, conf)
    else new LocalInput(path)

  private final class LocalInput(path: String) extends RandomInput {
    private val raf = new RandomAccessFile(path, "r")
    override def length(): Long = raf.length()
    override def modified(): Long = new java.io.File(path).lastModified()
    override def readFully(pos: Long, buf: Array[Byte]): Unit = {
      raf.seek(pos); raf.readFully(buf)
    }
    override def openStream(): InputStream =
      new java.io.BufferedInputStream(new java.io.FileInputStream(path))
    override def close(): Unit = raf.close()
  }

  private final class HadoopInput(path: String, conf: Configuration)
      extends RandomInput {
    private val p = new org.apache.hadoop.fs.Path(path)
    private val fs = p.getFileSystem(conf)
    private val in = fs.open(p)
    private val status = fs.getFileStatus(p)
    override def length(): Long = status.getLen
    override def modified(): Long = status.getModificationTime
    override def readFully(pos: Long, buf: Array[Byte]): Unit =
      in.readFully(pos, buf) // positioned read: thread-safe, no seek state
    override def openStream(): InputStream = fs.open(p)
    override def close(): Unit = in.close()
  }
}
