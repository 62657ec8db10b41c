package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** One engine posture: every session in the program is built by
  * `Engine.session`, and that session carries `GraftExtensions`. */
class EngineSpec extends SparkSpec {

  test("Engine.scala is the only session builder site in src/main") {
    // spelled in parts so this spec is not itself a match
    val needle = Seq("SparkSession", "builder").mkString(".")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"sources not found at ${root.toAbsolutePath}")
    val engine = root.resolve("graft/core/Engine.scala")
    val walk = Files.walk(root)
    val sites =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p != engine)
        .filter(p => Files.readString(p).contains(needle))
        .toList
      finally walk.close()
    assert(sites.isEmpty, s"sessions built outside Engine: ${sites.mkString(", ")}")
    assert(Files.readString(engine).contains(needle))
  }

  test("an Engine session resolves graft_dot through spark.sql") {
    // the shared spec session is Engine.session(4)
    val d = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(d == 11.0)
  }
}
