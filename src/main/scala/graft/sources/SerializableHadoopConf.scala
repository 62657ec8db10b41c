package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** Java-serializable wrapper for a Hadoop [[Configuration]] (which is
  * `Writable` but not `Serializable`), so the driver's session config —
  * including `spark.hadoop.*` overrides like s3a credentials/endpoints —
  * reaches every executor-side FileSystem open: the source reads of
  * [[NetCDFSource]] and the chunk writes of [[ZarrExport]]. The copy is
  * rebuilt from the serialized properties alone (`loadDefaults = false`),
  * so no task parses the configuration resources; this file is the only
  * place under `graft.sources` that constructs a [[Configuration]]. */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {

  /** `sc`'s Hadoop configuration, broadcast once to the tasks of one
    * scan or write. */
  def broadcast(sc: SparkContext): Broadcast[SerializableHadoopConf] =
    sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
}
