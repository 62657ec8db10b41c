package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One owned temp root per suite: every file a spec writes lives under
  * [[tmpRoot]], which `afterAll` deletes. The suite then fails if its run
  * left any new `graft_*` entry in `java.io.tmpdir` — its own or one the
  * code under test made outside the root. The build gives each test JVM
  * its own `java.io.tmpdir`, so no other process's entries show up. */
trait TempRoot extends BeforeAndAfterAll { this: Suite =>

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private var before = Set.empty[String]

  private def graftEntries(): Set[String] = {
    val ls = Files.list(tmp)
    try ls.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_")).toSet
    finally ls.close()
  }

  lazy val tmpRoot: Path = Files.createTempDirectory("graft_spec")

  /** A fresh directory under the suite's root. */
  def tmpDir(prefix: String): Path = Files.createTempDirectory(tmpRoot, prefix)

  /** A fresh empty file under the suite's root. */
  def tmpFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tmpRoot, prefix, suffix)

  override def beforeAll(): Unit = {
    before = graftEntries()
    super.beforeAll()
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      FileUtils.deleteDirectory(tmpRoot.toFile)
      val left = graftEntries() -- before
      assert(left.isEmpty, s"$suiteName left ${left.toSeq.sorted.mkString(", ")} in $tmp")
    }
}
