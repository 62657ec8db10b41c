package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** One engine posture: every session in the program is built by
  * `Engine.session` (or cloned by `Engine.microBatchSession`), only
  * `Engine` sets session conf, and an Engine session carries
  * `GraftExtensions`. */
class EngineSpec extends SparkSpec {

  private val root = Paths.get("src/main/scala")

  /** The src/main files containing `needle`, relative to `root`. */
  private def sites(needle: String): Set[String] = {
    assert(Files.isDirectory(root), s"sources not found at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString)
      .toSet
    finally walk.close()
  }

  test("Engine.scala is the only session builder site in src/main") {
    // spelled in parts so this spec is not itself a match
    val needle = Seq("SparkSession", "builder").mkString(".")
    assert(sites(needle) == Set("graft/core/Engine.scala"))
  }

  test("only Engine.scala sets session conf or clones a session in src/main") {
    // a query that needs another setting runs on its own session
    // (Engine.microBatchSession) or passes a per-operation option
    assert(sites("conf.set(") == Set("graft/core/Engine.scala"))
    assert(sites("conf.unset(").isEmpty)
    assert(sites("cloneSession") ==
      Set("graft/core/Engine.scala", "graft/core/SqlShims.scala"))
  }

  test("an Engine session resolves graft_dot through spark.sql") {
    // the shared spec session is Engine.session(4)
    val d = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(d == 11.0)
  }
}
