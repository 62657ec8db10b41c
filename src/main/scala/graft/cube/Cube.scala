package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayPrimitives => AP, KeyAlgebra => KA, Subset}
import graft.functions.TextFunctions.bindOnce
import graft.operators.ArrayAggregates

/** The user-facing n-D cube model (SURVEY.md §1.1/§1.3): what an Ophidia
  * user actually manipulates. A cube is a DataFrame with
  *   - `id_dim` — the row key flattening the EXPLICIT dims (row-major,
  *     1-based, first dim slowest — the reference's keying), and
  *   - `measure` — the array flattening the IMPLICIT dims (row-major),
  * plus this metadata describing both dim lists.
  *
  * Every operation returns a new Cube with consistent metadata, and every
  * plan stays declarative: subsets are id-arithmetic filters (pushed to
  * the scan), reductions are in-array HOFs or partial+final Aggregators,
  * dimension moves are index remaps — nothing collects to the driver.
  *
  * This is the Spark-native replacement for the upstream operator chain
  * OPH_SUBSET / OPH_REDUCE / OPH_APPLY / OPH_MERGE / OPH_ROLLUP /
  * OPH_PERMUTE compiled against the reference IO server.
  */
final case class Dim(name: String, size: Int)

final case class Cube(df: DataFrame, explicitDims: Seq[Dim], implicitDims: Seq[Dim]) {

  /** index (1-based) of explicit dim `d` decoded from id_dim. */
  private def explicitIndex(d: Int): Column = {
    // row-major, first dim slowest: stride of dim d = product of sizes after d
    val stride = explicitDims.drop(d + 1).map(_.size.toLong).product
    val size = explicitDims(d).size.toLong
    KA.oph_id_to_index2(col("id_dim"), lit(stride), lit(size))
  }

  private def dimIdx(name: String, dims: Seq[Dim]): Int = {
    val i = dims.indexWhere(_.name == name)
    require(i >= 0, s"no such dimension: $name in ${dims.map(_.name)}")
    i
  }

  /** OPH_SUBSET on an EXPLICIT dim: keep indices matching the subset
    * string ('start:stride:end'); id space is re-keyed densely. */
  def subsetExplicit(dim: String, subset: String): Cube = {
    val d = dimIdx(dim, explicitDims)
    val clauses = Subset.parse(subset)
    val kept = Subset.resolve(clauses, explicitDims(d).size)
    val filtered = df.filter(
      Subset.membership(explicitIndex(d), clauses, lit(explicitDims(d).size)))
    // re-key densely: decode surviving coords, re-encode against new sizes
    val newDims = explicitDims.updated(d, Dim(dim, kept.size))
    val rank = kept.zipWithIndex.toMap // old index -> new index (0-based new)
    val rankCol = element_at(
      map(kept.zipWithIndex.flatMap { case (old, nw) =>
        Seq(lit(old), lit(nw + 1))
      }: _*), explicitIndex(d).cast("int"))
    val newId = {
      // id' = ((outer-1) * newSize + (rank-1)) * inner + innerPart
      val innerStride = explicitDims.drop(d + 1).map(_.size.toLong).product
      val outer = KA.ldiv(col("id_dim") - 1,
        lit(innerStride * explicitDims(d).size))
      val inner = pmod(col("id_dim") - 1, lit(innerStride))
      (outer * kept.size + (rankCol.cast("long") - 1)) * innerStride + inner + 1
    }
    Cube(filtered.withColumn("id_dim", newId), newDims, implicitDims)
  }

  /** OPH_SUBSET on an IMPLICIT dim: slice inside the measure array.
    * `bindOnce` pins the upstream measure to ONE evaluation per row —
    * CollapseProject would otherwise inline it into this op's
    * per-element lambda and recompute the whole upstream chain per
    * element (qc03 ran 8x slower before the pin). */
  def subsetImplicit(dim: String, subset: String): Cube = {
    val d = dimIdx(dim, implicitDims)
    val sizes = implicitDims.map(_.size)
    val subsets = sizes.indices.map(i => if (i == d) subset else "1:end")
    val kept = Subset.resolve(Subset.parse(subset), sizes(d)).size
    Cube(df.withColumn("measure", bindOnce(col("measure"),
      m => AP.oph_get_subarray3(m, sizes, subsets.map(identity)))),
      explicitDims, implicitDims.updated(d, Dim(dim, kept)))
  }

  /** OPH_APPLY: any array primitive over the measure. */
  def apply_(f: Column => Column): Cube =
    Cube(df.withColumn("measure", f(col("measure"))), explicitDims, implicitDims)

  /** OPH_INTERCUBE: elementwise binary operation between two cubes of
    * IDENTICAL shape (the upstream framework's two-cube algebra —
    * difference, ratio, mask). The 1:1 id_dim equi-join aligns the
    * fragments; the op runs as one in-array zip_with, fully codegen.
    * At scale: when both sides derive from one store (ensemble members,
    * model-vs-obs pairs) the join is an aligned sort-merge whose
    * exchange vanishes under bucketing (the q33 idiom); the measure
    * never explodes. */
  def intercube(other: Cube, op: (Column, Column) => Column): Cube = {
    require(explicitDims.map(_.size) == other.explicitDims.map(_.size) &&
      implicitDims.map(_.size) == other.implicitDims.map(_.size),
      s"intercube shape mismatch: ${explicitDims}×${implicitDims} vs " +
        s"${other.explicitDims}×${other.implicitDims}")
    val rhs = other.df.select(col("id_dim"), col("measure").as("measure_b"))
    Cube(df.join(rhs, "id_dim")
      .withColumn("measure", zip_with(col("measure"), col("measure_b"), op))
      .drop("measure_b"), explicitDims, implicitDims)
  }

  /** OPH_REDUCE over one IMPLICIT dim (in-array, no shuffle). */
  def reduceImplicit(dim: String, op: String): Cube = {
    val d = dimIdx(dim, implicitDims)
    val sizes = implicitDims.map(_.size)
    Cube(df.withColumn("measure", bindOnce(col("measure"),
      m => AP.oph_reduce3(m, op, sizes, d))),
      explicitDims, implicitDims.patch(d, Nil, 1))
  }

  /** OPH_AGGREGATE: reduce an EXPLICIT dim elementwise across rows —
    * groupBy the remaining key (partial+final Aggregator, no explode). */
  def reduceExplicit(dim: String, op: String): Cube = {
    val d = dimIdx(dim, explicitDims)
    require(op == "sum" || op == "max" || op == "min",
      s"explicit reduce supports sum/max/min, got $op")
    val innerStride = explicitDims.drop(d + 1).map(_.size.toLong).product
    val size = explicitDims(d).size.toLong
    // collapse the reduced dim out of the key
    val outer = KA.ldiv(col("id_dim") - 1, lit(innerStride * size))
    val inner = pmod(col("id_dim") - 1, lit(innerStride))
    val newId = outer * innerStride + inner + 1
    val agg = op match {
      case "sum" => ArrayAggregates.ewSumDouble(col("measure"))
      case "max" => ArrayAggregates.ewMaxDouble(col("measure"))
      case "min" => ArrayAggregates.ewMinDouble(col("measure"))
    }
    Cube(df.groupBy(newId.as("id_dim"))
      .agg(agg.as("measure")),
      explicitDims.patch(d, Nil, 1), implicitDims)
  }

  /** OPH_ROLLUP: demote the innermost EXPLICIT dim into the measure
    * (rows merge, arrays grow — collect in id order). */
  def rollup(): Cube = {
    require(explicitDims.nonEmpty, "no explicit dim to roll up")
    val last = explicitDims.last
    val newId = KA.oph_id(col("id_dim"), last.size)
    Cube(df.groupBy(newId.as("id_dim"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("id_dim").as("k"),
          col("measure").as("v")))),
        p => p.getField("v"))).as("measure")),
      explicitDims.dropRight(1),
      Dim(last.name, last.size) +: implicitDims)
  }

  /** OPH_EXPAND (drill-down): promote the outermost IMPLICIT dim to the
    * innermost explicit position (arrays shrink, rows multiply). */
  def expand(): Cube = {
    require(implicitDims.nonEmpty, "no implicit dim to expand")
    val first = implicitDims.head
    val restLen = implicitDims.tail.map(_.size).product.max(1)
    val exploded = df.select(col("id_dim"),
      posexplode(bindOnce(col("measure"),
        m => transform(sequence(lit(0), lit(first.size - 1)),
          k => AP.oph_get_subarray(m, k * restLen + 1, lit(restLen))))))
      .select(((col("id_dim") - 1) * first.size + col("pos") + 1).as("id_dim"),
        col("col").as("measure"))
    Cube(exploded, explicitDims :+ Dim(first.name, first.size), implicitDims.tail)
  }

  /** OPH_REDUCE2 with a group size: COARSEN one implicit dim by an
    * integer factor — each output cell reduces `factor` consecutive
    * cells along that dim (op: "sum" | "avg" | "max"), the regrid
    * primitive behind 2× spatial downsampling. In-array index remap, no
    * shuffle; `avg` folds ascending then divides once, the order the
    * oracle replays. */
  def coarsenImplicit(dim: String, factor: Int, op: String): Cube = {
    val d = dimIdx(dim, implicitDims)
    val s = implicitDims(d).size
    require(factor > 0 && s % factor == 0,
      s"dim $dim size $s not divisible by $factor")
    val innerStride = implicitDims.drop(d + 1).map(_.size).product.max(1)
    val newSize = s / factor
    val newTotal = implicitDims.map(_.size).product / factor
    val remapped = bindOnce(col("measure"), m =>
      transform(sequence(lit(0), lit(newTotal - 1)), o => {
        // KA.ldiv: Column./ on integers is DOUBLE division in Spark
        val outer = KA.ldiv(o, lit(newSize.toLong * innerStride))
        val mid = pmod(KA.ldiv(o, lit(innerStride.toLong)), lit(newSize.toLong))
        val inner = pmod(o.cast("long"), lit(innerStride.toLong))
        val base = outer * (s.toLong * innerStride) +
          mid * factor.toLong * innerStride + inner
        val groupSum = aggregate(
          transform(sequence(lit(0), lit(factor - 1)),
            j => element_at(m, (base + j.cast("long") * innerStride).cast("int") + 1)),
          lit(0.0), (acc, x) => acc + x)
        op match {
          case "sum" => groupSum
          case "avg" => groupSum / factor.toDouble
          case "max" => array_max(
            transform(sequence(lit(0), lit(factor - 1)),
              j => element_at(m, (base + j.cast("long") * innerStride).cast("int") + 1)))
          case other => throw new IllegalArgumentException(s"op $other")
        }
      }))
    Cube(df.withColumn("measure", remapped),
      explicitDims,
      implicitDims.patch(d, Seq(Dim(dim, newSize)), 1))
  }

  /** OPH_PERMUTE: reorder the IMPLICIT dims. */
  def permuteImplicit(order: Seq[String]): Cube = {
    val perm = order.map(dimIdx(_, implicitDims))
    Cube(df.withColumn("measure", bindOnce(col("measure"),
      m => AP.oph_permute(m, implicitDims.map(_.size), perm))),
      explicitDims, perm.map(implicitDims))
  }

  def totalElements: Long =
    explicitDims.map(_.size.toLong).product * implicitDims.map(_.size.toLong).product

  /** OPH_MERGE / OPH_SPLIT: the reference re-fragments by moving rows
    * between fragment tables; the Spark-native analogue is repartitioning
    * the one DataFrame by id range — same data movement, handled by the
    * shuffle service, and downstream aligned joins stay co-partitioned. */
  def refragment(numFragments: Int): Cube =
    copy(df = df.repartitionByRange(numFragments, col("id_dim")))

  /** OPH_EXPORTNC at the cube level: write the cube to a NetCDF classic
    * file with one dim per explicit+implicit dimension. Export to a
    * single .nc is inherently a gather, but driver MEMORY stays bounded:
    * the rows are pumped in id order by [[graft.sources.ExportScan.ordered]]
    * into the sequential CDF data section — the writer verifies the
    * streamed element count against the dim product, so a sparse/overfull
    * cube still fails loud. */
  def exportNetCDF(path: String, varName: String = "measure"): Unit = {
    val dims = (explicitDims ++ implicitDims).map(d => d.name -> d.size)
    val (_, _, rows) = graft.sources.ExportScan.ordered(df, "id_dim", "measure")
    graft.sources.NetCDF3.writeDoubleVarStreamed(path, dims, varName, rows)
  }

  /** DISTRIBUTED cube export to a Zarr store preserving the full
    * dimensionality (one store dim per explicit+implicit dimension,
    * chunked along the outermost): executors write the chunks, the
    * driver only metadata ([[graft.sources.ZarrExport]]) — the
    * scale-safe counterpart of [[exportNetCDF]]'s single-file gather.
    * Returns (rows, chunks written). */
  def exportZarr(path: String, varName: String = "measure",
      v3: Boolean = true, rowsPerChunk: Int = 0): (Long, Int) =
    graft.sources.ZarrExport.writeDistributedNd(df, "id_dim", "measure",
      path, varName, v3,
      explicitDims.map(d => d.name -> d.size),
      implicitDims.map(d => d.name -> d.size), rowsPerChunk)

  /** [[exportZarr]] with `sharding_indexed` objects: one object per
    * `chunksPerShard` inner chunks along the outermost dim — the
    * object-count economics a 100 TB cube needs on a real store. */
  def exportZarrSharded(path: String, varName: String = "measure",
      rowsPerChunk: Int, chunksPerShard: Int): (Long, Int) =
    graft.sources.ZarrExport.writeDistributedShardedNd(df, "id_dim",
      "measure", path, varName,
      explicitDims.map(d => d.name -> d.size),
      implicitDims.map(d => d.name -> d.size), rowsPerChunk, chunksPerShard)
}

object Cube {
  /** Build a cube from any (id_dim, measure) DataFrame + dim metadata. */
  def apply(df: DataFrame, explicitDims: Seq[(String, Int)],
            implicitDims: Seq[(String, Int)])(implicit d: DummyImplicit): Cube =
    Cube(df, explicitDims.map { case (n, s) => Dim(n, s) },
      implicitDims.map { case (n, s) => Dim(n, s) })
}
