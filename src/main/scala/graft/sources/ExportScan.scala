package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** The scan every `oph_export` container runs over a fragment (OPH_EXPORTNC,
  * oph_io_server_query_procedures.c:221-325): ONE [[stats]] job, then one
  * write pass — [[rowIndex]] + [[chunks]] for the distributed writers,
  * [[ordered]] for the single-file ones. Stored fragments keep disjoint id
  * ranges per partition; then ids are distinct exactly when each
  * partition's are, and partitions stream in id order one by one. The
  * exact `countDistinct` and the global sort are the fallbacks for
  * overlapping ranges, chosen only from what the stats job observed. */
object ExportScan {

  /** What the stats job observes in partition `index`: `lo`/`hi` span its
    * non-null ids, `wLo`/`wHi` its non-null arrays' lengths. */
  final case class Part(index: Int, rows: Long, nullIds: Long, lo: Long,
      hi: Long, wLo: Int, wHi: Int, arrays: Long, distinct: Boolean)

  /** The partition facts of one source and their totals; `n` counts the
    * rows with an id, `widths` is None when every array is null. */
  final case class Stats(parts: Seq[Part]) {
    private val keyed = parts.filter(p => p.rows > p.nullIds)
    private val sized = parts.filter(_.arrays > 0)
    val rows: Long = parts.map(_.rows).sum
    val nullIds: Long = parts.map(_.nullIds).sum
    val n: Long = rows - nullIds
    val lo: Long = if (keyed.isEmpty) 0L else keyed.map(_.lo).min
    val hi: Long = if (keyed.isEmpty) -1L else keyed.map(_.hi).max
    val arrays: Long = parts.map(_.arrays).sum
    val widths: Option[(Int, Int)] =
      if (sized.isEmpty) None else Some((sized.map(_.wLo).min, sized.map(_.wHi).max))
    /** The id-holding partitions in id order, if their ranges are disjoint. */
    val disjoint: Option[Seq[Part]] = {
      val s = keyed.sortBy(_.lo)
      if (s.lazyZip(s.drop(1)).forall(_.hi < _.lo)) Some(s) else None
    }
    /** The rows' one array width (0 when every array is null or empty),
      * failing on ragged widths and on null arrays beside non-empty ones. */
    def width: Int = widths.fold(0) { case (wLo, wHi) =>
      require(wLo == wHi, s"ragged arrays: lengths $wLo..$wHi — uniform width required")
      require(wLo == 0 || arrays == rows, s"null arrays on ${rows - arrays} of $rows rows")
      wLo
    }
  }

  /** `frag`'s id and array columns as the `(id, a)` export source. */
  def source(frag: DataFrame, idCol: String, arrCol: String): DataFrame =
    frag.select(col(idCol).cast("long").as("id"),
      col(arrCol).cast("array<double>").as("a"))

  /** One job over the partitions of an `(id, a)` [[source]]. */
  def stats(src: DataFrame): Stats = Stats(
    src.queryExecution.toRdd.mapPartitionsWithIndex { (index, it) =>
      var (rows, nullIds, arrays) = (0L, 0L, 0L)
      var (lo, hi, wLo, wHi) = (Long.MaxValue, Long.MinValue, Int.MaxValue, Int.MinValue)
      val ids = Array.newBuilder[Long]
      it.foreach { r =>
        rows += 1
        if (r.isNullAt(0)) nullIds += 1
        else {
          val id = r.getLong(0)
          ids += id; lo = math.min(lo, id); hi = math.max(hi, id)
        }
        if (!r.isNullAt(1)) {
          val w = r.getArray(1).numElements()
          arrays += 1; wLo = math.min(wLo, w); wHi = math.max(wHi, w)
        }
      }
      val s = ids.result()
      java.util.Arrays.sort(s)
      val distinct = s.indices.drop(1).forall(k => s(k) != s(k - 1))
      Iterator.single(Part(index, rows, nullIds, lo, hi, wLo, wHi, arrays, distinct))
    }.collect().toSeq)

  /** Header (n, lo, hi, m) for a writer that places rows by id, after
    * failing loud on null or duplicate ids (which row would be row i?),
    * ragged widths and partially-null arrays; m = 0: empty/null arrays. */
  def header(src: DataFrame, idCol: String): (Long, Long, Long, Int) = {
    val st = stats(src)
    require(st.nullIds == 0, s"null values in '$idCol' on ${st.nullIds} " +
      s"of ${st.rows} rows — export row placement is ambiguous")
    val n = st.n
    if (n == 0L) return (0L, 0L, -1L, 0)
    if (st.disjoint.isEmpty || !st.parts.forall(_.distinct)) {
      val nd = src.agg(countDistinct(col("id"))).head().getLong(0)
      require(nd == n, s"duplicate values in '$idCol' " +
        s"(${n - nd} dups) — export row placement is ambiguous")
    }
    require(n <= Int.MaxValue, "export shape dims are Int-sized")
    (n, st.lo, st.hi, st.width)
  }

  /** Rows per chunk of an `m`-wide export: `requested`, else ~4 MiB. */
  def chunkRows(requested: Int, m: Int): Int = {
    val rpc = if (requested > 0) requested else math.max(1, (4 << 20) / (m * 8))
    require(rpc.toLong * m * 8 <= Int.MaxValue,
      s"rowsPerChunk $rpc x $m elements exceeds the 2 GiB chunk buffer limit")
    rpc
  }

  /** Each row's 0-based index in id order, with its array, for a
    * [[header]]-checked `src`: `id − lo` for contiguous ids, else sort +
    * `zipWithIndex`. */
  def rowIndex(src: DataFrame, n: Long, lo: Long, hi: Long): RDD[(Long, Array[Double])] =
    if (hi - lo + 1 == n)
      src.queryExecution.toRdd.map(r => (r.getLong(0) - lo, r.getArray(1).toDoubleArray()))
    else
      src.orderBy("id").queryExecution.toRdd.zipWithIndex().map { case (r, i) =>
        (i, r.getArray(1).toDoubleArray())
      }

  /** The write pass: indexed rows hash-shuffled on their chunk id (one
    * group of `rowsPerChunk` rows per chunk, no sort), each chunk laid out
    * as zero-padded little-endian doubles, `m` per row. */
  def chunks(indexed: RDD[(Long, Array[Double])], rowsPerChunk: Long, m: Int,
      nChunks: Int): RDD[(Long, Array[Byte])] =
    indexed.map { case (i, a) => (i / rowsPerChunk, (i, a)) }
      .groupByKey(math.max(1, math.min(nChunks, indexed.sparkContext.defaultParallelism)))
      .map { case (gid, rows) =>
        val raw = new Array[Byte]((rowsPerChunk * m * 8).toInt)
        val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        rows.foreach { case (i, a) =>
          val off = ((i - gid * rowsPerChunk) * m * 8).toInt
          var j = 0
          while (j < m) { bb.putDouble(off + j * 8, a(j)); j += 1 }
        }
        (gid, raw)
      }

  /** `frag`'s (rows, width) and arrays in `idCol` order (null ids first)
    * for a single-file writer, failing on ragged or null arrays before any
    * row is fetched. The driver holds one fetch of at most the session's
    * advisory partition size (the AQE-coalesced sort's bound): disjoint
    * partitions of integral, non-null ids that each fit it are fetched in
    * id order, each sorted on its executor, consecutive ones in one job up
    * to that size; otherwise the sorted `toLocalIterator`. */
  def ordered(frag: DataFrame, idCol: String,
      arrCol: String): (Int, Int, Iterator[Array[Double]]) = {
    val src = source(frag, idCol, arrCol)
    val st = stats(src)
    val (n, m) = (st.rows, st.width)
    require(st.arrays == n, s"null arrays on ${n - st.arrays} of $n rows")
    require(n <= Int.MaxValue, "export shape dims are Int-sized")
    val integral = Set[DataType](LongType, IntegerType, ShortType, ByteType)
      .contains(frag.schema(idCol).dataType)
    val budget = JavaUtils.byteStringAsBytes(
      src.sparkSession.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    def bytes(p: Part) = p.rows * m * 8
    val fits = (ps: Seq[Part]) => integral && st.nullIds == 0 && ps.forall(bytes(_) <= budget)
    val rows = st.disjoint.filter(fits) match {
      case Some(parts) =>
        val batches = parts.foldLeft(Vector.empty[(Long, Vector[Int])]) {
          case (bs :+ ((b, ps)), p) if b + bytes(p) <= budget =>
            bs :+ ((b + bytes(p), ps :+ p.index))
          case (bs, p) => bs :+ ((bytes(p), Vector(p.index)))
        }
        val rdd = src.queryExecution.toRdd // the RDD the stats job ran on
        batches.iterator.flatMap { case (_, ps) =>
          rdd.sparkContext.runJob(rdd, sortedById, ps).iterator.flatten
        }
      case None =>
        import scala.jdk.CollectionConverters._
        frag.orderBy(idCol).select(col(arrCol).cast("array<double>"))
          .toLocalIterator().asScala.map(_.getSeq[Double](0).toArray)
    }
    (n.toInt, m, rows)
  }

  /** A partition's arrays, stably sorted by id. */
  private val sortedById = (it: Iterator[InternalRow]) =>
    it.map(r => (r.getLong(0), r.getArray(1).toDoubleArray())).toArray.sortBy(_._1).map(_._2)
}
