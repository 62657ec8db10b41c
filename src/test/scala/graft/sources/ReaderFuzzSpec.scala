package graft.sources

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.TempRoot

/** Garbage-input contract for the container readers: the import path
  * parses UNTRUSTED files at scale, so a malformed header must fail
  * with a controlled exception — never hang, loop, or allocate wildly.
  * Each attempt runs under a hard timeout on a worker thread; corrupted
  * variants of REAL files (bit flips, truncation) are included because
  * they exercise deeper parser states than pure noise. Fixed seed. */
class ReaderFuzzSpec extends AnyFunSuite with TempRoot {

  private val rnd = new Random(0xFEED5EED)
  private val conf = new Configuration()
  private val pool = Executors.newCachedThreadPool()
  override def afterAll(): Unit =
    try pool.shutdownNow()
    finally super.afterAll()

  private def junkFile(bytes: Array[Byte]): String = {
    val p = tmpFile("fuzz", ".bin")
    Files.write(p, bytes)
    p.toString
  }

  /** Run `f` with a 10 s budget; controlled failures are fine, hangs and
    * VM-level errors are not. */
  private def attempt(label: String)(f: => Unit): Unit = {
    val fut = pool.submit(new Runnable {
      override def run(): Unit =
        try f
        catch {
          case _: IllegalArgumentException | _: java.io.IOException |
               _: IndexOutOfBoundsException | _: java.nio.BufferUnderflowException |
               _: NegativeArraySizeException | _: UnsupportedOperationException |
               _: IllegalStateException | _: NumberFormatException |
               _: java.util.NoSuchElementException | _: MatchError => ()
          // OutOfMemoryError / StackOverflowError / infinite loops are
          // the bugs this spec exists to catch — let them surface
        }
    })
    try fut.get(10, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        fut.cancel(true)
        fail(s"$label: reader hung on malformed input")
    }
  }

  private def openAndRead(path: String): Unit = {
    val r = NcReader.open(path, conf)
    try {
      // touch real work, not just the header
      val names = Seq("measure", "m", "var")
      names.foreach { v =>
        try {
          val sh = r.shape(v)
          if (sh.nonEmpty && sh.product > 0 && sh.product < 1000000)
            r.readSlab(v, sh.map(_ => 0), sh)
          r.varAttrs(v)
        } catch { case _: Exception => () }
      }
    } finally r.close()
  }

  test("random noise with forced magics never hangs the sniffing reader") {
    val cdfMagic = Array[Byte]('C', 'D', 'F', 1)
    val cdf5Magic = Array[Byte]('C', 'D', 'F', 5)
    for (i <- 1 to 60) {
      val n = rnd.nextInt(4000) + 16
      val junk = Array.fill(n)(rnd.nextInt(256).toByte)
      i % 4 match {
        case 0 => cdfMagic.copyToArray(junk, 0)
        case 1 => cdf5Magic.copyToArray(junk, 0)
        case 2 => HDF5.Signature.copyToArray(junk, 0)
        case _ => // raw noise: lands in the CDF parser by default
      }
      val p = junkFile(junk)
      attempt(s"noise#$i")(openAndRead(p))
      Files.deleteIfExists(Path.of(p))
    }
  }

  test("bit-flipped and truncated REAL files fail controlled") {
    val base = tmpDir("fuzz_real")
    val grid = Array.tabulate(60 * 8)(k => (k / 8) * 0.5 + (k % 8) * 0.125)
    val ncPath = base.resolve("a.nc").toString
    val h5Path = base.resolve("a.h5").toString
    NetCDF3.writeDoubleVar(ncPath, Seq("r" -> 60, "c" -> 8), "measure", grid)
    HDF5.writeDoubleVar(h5Path, Seq("r" -> 60, "c" -> 8), "measure", grid,
      chunkDims = Some(Seq(16, 8)))
    for (src <- Seq(ncPath, h5Path); i <- 1 to 40) {
      val orig = Files.readAllBytes(Path.of(src))
      val mut = orig.clone()
      if (i % 3 == 0) { // truncate somewhere
        val cut = rnd.nextInt(mut.length - 8) + 8
        val p = junkFile(java.util.Arrays.copyOf(mut, cut))
        attempt(s"trunc $src#$i")(openAndRead(p))
        Files.deleteIfExists(Path.of(p))
      } else { // flip a few bytes, preserving the magic
        for (_ <- 0 until 4) {
          val at = rnd.nextInt(mut.length - 8) + 8
          mut(at) = (mut(at) ^ (1 << rnd.nextInt(8))).toByte
        }
        val p = junkFile(mut)
        attempt(s"flip $src#$i")(openAndRead(p))
        Files.deleteIfExists(Path.of(p))
      }
    }
  }
}
