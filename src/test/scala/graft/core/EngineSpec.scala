package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** One engine posture: every session in the program is built by
  * `Engine.session` (or cloned by `Engine.microBatchSession`), only
  * `Engine` sets session conf, an Engine session carries
  * `GraftExtensions`, and the engine fills stored results through
  * `Engine.materialize`. */
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

  test("stored wire results fill through Engine.materialize, not a count()") {
    // spelled in parts so this spec is not itself a match
    val count = Seq(".count", "()").mkString
    assert(sites(count).intersect(
      Set("graft/engine/IoServer.scala", "graft/streaming/Streaming.scala")).isEmpty)
    assert(sites(Seq("cachedColumn", "Buffers").mkString) ==
      Set("graft/core/SqlShims.scala"))
    assert(sites(Seq("lookupCached", "Data").mkString) ==
      Set("graft/core/SqlShims.scala"))
  }

  test("exports scan through ExportScan and hand writers the unsorted fragment") {
    // spelled in parts so this spec is not itself a match
    Seq(Seq("countDistinct", "(").mkString, Seq("zipWithIndex", "(").mkString)
      .foreach { w =>
        assert(sites(w).filter(_.startsWith("graft/sources/")) ==
          Set("graft/sources/ExportScan.scala"), w)
      }
    val io = Files.readString(root.resolve("graft/engine/IoServer.scala"))
    val branch = io.substring(io.indexOf("case \"oph_export\" =>"),
      io.indexOf("case \"oph_size\" =>"))
    val writer = """(writeDistributed\w*|writeDoubleVarDistributed\w*|ExportScan\.\w+)\(\s*(\w+)""".r
    val handed = writer.findAllMatchIn(branch).map(_.group(2)).toSet
    assert(handed == Set("frag"), handed)
    val sorted = """val (\w+) = .*orderBy""".r.findAllMatchIn(branch).map(_.group(1)).toSet
    assert(sorted.nonEmpty && sorted.intersect(handed).isEmpty, sorted)
  }

  test("source readers take the session's Hadoop configuration, never a fresh one") {
    // spelled in parts so this spec is not itself a match
    val fresh = Seq("Configuration", "org.apache.hadoop.conf.Configuration")
      .map(c => Seq("new ", c, "(").mkString)
    val built = fresh.flatMap(sites).filter(_.startsWith("graft/sources/")).toSet
    assert(built == Set("graft/sources/SerializableHadoopConf.scala"), built)
    // the one there rebuilds a broadcast copy from its serialized
    // properties, without parsing the default resources
    val shc = Files.readString(root.resolve("graft/sources/SerializableHadoopConf.scala"))
    val calls = fresh.flatMap(w => java.util.regex.Pattern.quote(w).r.findAllMatchIn(shc)
      .map(m => shc.substring(m.end, shc.indexOf(')', m.end))))
    assert(calls == Seq("false"), calls)
  }

  test("iterative loops run on Fixpoint and size shuffles through AutoScale") {
    // spelled in parts so this spec is not itself a match
    val parts = Seq("spark.sql.shuffle", "partitions").mkString(".")
    assert(sites(parts).forall(_.startsWith("graft/core/")), sites(parts))
    /** The whole file for "", else `decl` up to its closing brace. */
    def body(file: String, decl: String): String = {
      val src = Files.readString(root.resolve(s"graft/operators/$file"))
      val at = src.indexOf(decl)
      assert(at >= 0, s"$decl not found in $file")
      if (decl.isEmpty) src else src.substring(at, src.indexOf("\n  }\n", at))
    }
    val loops = Seq(
      "GraphComponents.scala" -> "",
      "PipelineQueries.scala" -> "def p17_pagerank",
      "PipelineQueries.scala" -> "def p18_bfs_hops",
      "PipelineQueries.scala" -> "def p23_kcenter_coreset",
      "PipelineQueries.scala" -> "def p25_label_propagation",
      "TextQueries.scala" -> "def bpeTrain0")
    val checkpoint = Seq("localCheckpoint", "(").mkString
    val cacheThenCount = Seq("""\.cache\(\)""", """\.count\(\)""").mkString("(?s).*")
    loops.foreach { case (file, decl) =>
      val b = body(file, decl)
      val loop = s"$file $decl"
      assert(b.contains("Fixpoint."), loop)
      assert(!b.contains(checkpoint), loop)
      assert(cacheThenCount.r.findFirstIn(b).isEmpty, loop)
    }
  }

  test("the dedup family fills through Engine.materialize and owns no triangle split") {
    // spelled in parts so this spec is not itself a match
    val cacheThenCount = Seq("""\.cache\(\)""", """\.count\(\)""").mkString("(?s).*")
    // no method of either file caches a frame and then counts it
    Seq("DedupQueries.scala", "NearDup.scala").foreach { f =>
      val src = Files.readString(root.resolve(s"graft/operators/$f"))
      "\n  (private(\\[\\w+\\])? )?def ".r.split(src).foreach { d =>
        assert(cacheThenCount.r.findFirstIn(d).isEmpty, s"$f: ${d.take(80)}")
      }
    }
    Seq("triangleSplit", "triangleCond", "SubEnc").foreach { w =>
      assert(sites(w) == Set("graft/operators/NearDup.scala"), w)
    }
  }

  test("an Engine session resolves graft_dot through spark.sql") {
    // the shared spec session is Engine.session(4)
    val d = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(d == 11.0)
  }
}
