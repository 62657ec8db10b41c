package graft.service

/** Standalone server entry point:
  * `sbt "runMain graft.service.ServiceMain [port] [json|binary]"` — a
  * reference client workflow (connect, UD/EQ/RS over TCP) against a live
  * Spark session; `binary` speaks the reference's frame protocol.
  */
object ServiceMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(65000) // reference default
    val wire = args.lift(1).getOrElse("json")
    val spark = graft.core.Engine.session(graft.core.Engine.cpus)
    val svc = new IoService(spark, port, wire)
    println(s"[graft] io-service ($wire wire) listening on ${svc.boundPort}")
    Thread.currentThread().join() // serve until killed
  }
}
