package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's array-primitive surface (etc/oph_primitives_list.in:1-352),
  * re-expressed as Catalyst higher-order functions over `ArrayType` columns.
  *
  * Design notes (100 TB posture):
  *  - Everything here is a pure `Column` expression — no Scala UDFs, no
  *    driver round-trips — so each primitive stays inside whole-stage
  *    codegen and vectorises per-row exactly like the reference's
  *    packed-C-array loops, but distributed.
  *  - A "measure" is one row's implicit-dimension array (the reference's
  *    BLOB cell decoded); explicit dims live in ordinary key columns.
  *  - Missing values: SQL NULL or NaN are both treated as missing where
  *    the reference honours a missing value.
  */
object ArrayPrimitives {

  private val DA = "array<double>"

  /** Empty double array with the right type (for guards). */
  private def emptyDoubles: Column = array().cast(DA)

  /** `c` is already resolved (a DataFrame's own column) to array<double>. */
  private def isDoubleArray(c: Column): Boolean = {
    val e = graft.core.ColumnBridge.expression(c)
    e.resolved && (e.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
  }

  // ---------------------------------------------------------------------
  // Elementwise arithmetic  (oph_sum_array:329, oph_mul_array:237,
  // oph_div_array:73, oph_abs_array:1, oph_operation_array:253,
  // oph_operator_array:261, oph_max_array:225, oph_min_array:229)
  // ---------------------------------------------------------------------

  /** Two-array elementwise op selected by name (oph_operation_array). */
  def oph_operation_array(a: Column, b: Column, op: String): Column = {
    val f: (Column, Column) => Column = op match {
      case "sum" | "add" => _ + _
      case "sub"         => _ - _
      case "mul"         => _ * _
      case "div"         => _ / _
      case "max"         => greatest(_, _)
      case "min"         => least(_, _)
      case "abs"         => (x, y) => abs(x - y)
      case "arg"         => (x, y) => atan2(x, y) // complex-arg analogue
      case "mod"         => pmod(_, _)
      case o             => throw new IllegalArgumentException(s"unknown array op: $o")
    }
    zip_with(a, b, f)
  }
  /** Alias used by the AGGREGATE-free two-array path (oph_operator_array). */
  def oph_operator_array(a: Column, b: Column, op: String): Column =
    oph_operation_array(a, b, op)

  /** Columns resolved to array<double> (the dialect's fragment columns) sum
    * in the [[graft.plans.SumArrays]] kernel, with zip_with's values. */
  def oph_sum_array(a: Column, b: Column): Column =
    if (isDoubleArray(a) && isDoubleArray(b)) graft.plans.SumArrays(a, b)
    else zip_with(a, b, _ + _)
  def oph_mul_array(a: Column, b: Column): Column = zip_with(a, b, _ * _)
  def oph_div_array(a: Column, b: Column): Column = zip_with(a, b, _ / _)

  /** abs(a-b) with two args; |a| with one (oph_abs_array). */
  def oph_abs_array(a: Column, b: Column): Column = zip_with(a, b, (x, y) => abs(x - y))
  def oph_abs_array(a: Column): Column = transform(a, x => abs(x))

  /** Elementwise max/min versus a second array. */
  def oph_max_array(a: Column, b: Column): Column = zip_with(a, b, greatest(_, _))
  def oph_min_array(a: Column, b: Column): Column = zip_with(a, b, least(_, _))
  /** Elementwise max/min versus a scalar. */
  def oph_max_array(a: Column, k: Double): Column = transform(a, x => greatest(x, lit(k)))
  def oph_min_array(a: Column, k: Double): Column = transform(a, x => least(x, lit(k)))

  /** array (+|*) scalar (oph_sum_scalar:333 / oph_mul_scalar:241;
    * the *2 variants differ only in arg order / output type). */
  def oph_sum_scalar(a: Column, k: Column): Column = transform(a, _ + k)
  def oph_sum_scalar(a: Column, k: Double): Column = oph_sum_scalar(a, lit(k))
  def oph_mul_scalar(a: Column, k: Column): Column = transform(a, _ * k)
  def oph_mul_scalar(a: Column, k: Double): Column = oph_mul_scalar(a, lit(k))
  def oph_sum_scalar2(k: Column, a: Column): Column = oph_sum_scalar(a, k)
  def oph_mul_scalar2(k: Column, a: Column): Column = oph_mul_scalar(a, k)

  /** Named unary math fn over the array (oph_math:221). */
  def oph_math(a: Column, fn: String): Column = {
    val f: Column => Column = fn.toLowerCase match {
      case "math_abs"   | "abs"   => abs
      case "math_acos"  | "acos"  => acos
      case "math_asin"  | "asin"  => asin
      case "math_atan"  | "atan"  => atan
      case "math_ceil"  | "ceil"  => ceil(_).cast(DoubleType)
      case "math_cos"   | "cos"   => cos
      case "math_cosh"  | "cosh"  => cosh
      case "math_exp"   | "exp"   => exp
      case "math_floor" | "floor" => floor(_).cast(DoubleType)
      case "math_log"   | "log"   => log
      case "math_log10" | "log10" => log10
      case "math_round" | "round" => round(_, 0)
      case "math_sin"   | "sin"   => sin
      case "math_sinh"  | "sinh"  => sinh
      case "math_sqrt"  | "sqrt"  => sqrt
      case "math_tan"   | "tan"   => tan
      case "math_tanh"  | "tanh"  => tanh
      case "square"               => x => x * x
      case "cube"                 => x => x * x * x
      case "recip"                => lit(1.0) / _
      case "sign"                 => signum
      case o => throw new IllegalArgumentException(s"unknown math fn: $o")
    }
    transform(a, f)
  }

  // ---------------------------------------------------------------------
  // In-array reductions (oph_count_array:65, oph_size_array:321,
  // oph_find:93, oph_reduce:285/289/293)
  // ---------------------------------------------------------------------

  private def notMissing(x: Column): Column = x.isNotNull && !isnan(x)

  /** Count of non-missing elements (oph_count_array). */
  def oph_count_array(a: Column): Column = size(filter(a, notMissing(_))).cast(LongType)

  /** Number of elements (oph_size_array). */
  def oph_size_array(a: Column): Column = size(a).cast(LongType)

  /** Count elements equal to `value` within `tolerance` (oph_find). */
  def oph_find(a: Column, value: Column, tolerance: Column): Column =
    size(filter(a, x => abs(x - value) <= tolerance)).cast(LongType)
  def oph_find(a: Column, value: Double, tolerance: Double = 0.0): Column =
    oph_find(a, lit(value), lit(tolerance))

  /** Reduce one block (a sub-array) by a named operator. Operators match
    * the reference's oph_reduce set (GSL-backed): sample statistics use
    * the n-1 denominator like gsl_stats_variance. */
  private[functions] def blockReduce(b: Column, op: String): Column = {
    def dsum(c: Column) = aggregate(c, lit(0.0), _ + _)
    lazy val n = size(b).cast(DoubleType)
    lazy val s1 = dsum(b)
    lazy val s2 = dsum(transform(b, x => x * x))
    op match {
      case "sum"     => s1
      case "avg"     => s1 / n
      case "max"     => array_max(b)
      case "min"     => array_min(b)
      case "count"   => size(filter(b, notMissing(_))).cast(DoubleType)
      case "var"     => (s2 - s1 * s1 / n) / (n - 1.0)
      case "std"     => sqrt((s2 - s1 * s1 / n) / (n - 1.0))
      case "cmoment" => s2 / n - (s1 / n) * (s1 / n) // 2nd central moment (population)
      case "acmoment"=> aggregate(b, lit(0.0), (acc, x) => acc + abs(x - s1 / n)) / n
      case "rms"     => sqrt(s2 / n)
      case "arg_max" => array_position(b, array_max(b)).cast(DoubleType)
      case "arg_min" => array_position(b, array_min(b)).cast(DoubleType)
      case "product" => aggregate(b, lit(1.0), _ * _)
      case o         => throw new IllegalArgumentException(s"unknown reduce op: $o")
    }
  }

  /** Block-wise reduce of the implicit array (oph_reduce): split the array
    * into ceil(n/bs) consecutive blocks of `blockSize` and reduce each.
    * blockSize = whole array → scalar-in-array (the reference's total
    * reduce). Ref semantics: ophidia-primitives oph_reduce docs. */
  def oph_reduce(a: Column, op: String, blockSize: Column): Column = {
    val bs = blockSize.cast(IntegerType)
    val n = size(a)
    val nblocks = ceil(n.cast(DoubleType) / bs.cast(DoubleType)).cast(IntegerType)
    when(n === 0, emptyDoubles).otherwise(
      transform(sequence(lit(0), nblocks - 1),
        i => blockReduce(slice(a, i * bs + 1, bs), op)))
  }
  /** A literal block size runs sum and avg in the [[graft.plans.BlockReduce]]
    * kernel, with the values of the form above. */
  def oph_reduce(a: Column, op: String, blockSize: Int = Int.MaxValue): Column =
    if ((op == "sum" || op == "avg") && blockSize > 0)
      graft.plans.BlockReduce(a, blockSize, avg = op == "avg")
    else oph_reduce(a, op, lit(blockSize))

  /** oph_reduce2: same reduction family, block count given instead of
    * block size (the reference's "count" variant). */
  def oph_reduce2(a: Column, op: String, count: Column): Column = {
    val n = size(a)
    val bs = ceil(n.cast(DoubleType) / count.cast(DoubleType)).cast(IntegerType)
    oph_reduce(a, op, bs)
  }

  /** oph_reduce3: reduce along one dimension of a row-major multi-dim
    * implicit array with literal `sizes`; `dim` is 0-based. */
  def oph_reduce3(a: Column, op: String, sizes: Seq[Int], dim: Int): Column = {
    require(dim >= 0 && dim < sizes.size, s"dim $dim out of range for $sizes")
    val outSizes = sizes.zipWithIndex.collect { case (s, i) if i != dim => s }
    val outN = outSizes.product
    val redN = sizes(dim)
    // strides of the input, row-major (last fastest)
    val strides = sizes.scanRight(1)(_ * _).tail
    transform(sequence(lit(0), lit(outN - 1)), j => {
      // decode j into output coords, insert k at `dim`, re-encode via input strides
      val outStrides = outSizes.scanRight(1)(_ * _).tail
      val coords: Seq[Column] = outSizes.indices.map { i =>
        (j / outStrides(i)) % outSizes(i)
      }
      val base: Column = coords.zipWithIndex.map { case (c, i) =>
        val inDim = if (i < dim) i else i + 1
        c * strides(inDim)
      }.foldLeft(lit(0): Column)(_ + _)
      val block = transform(sequence(lit(0), lit(redN - 1)),
        k => element_at(a, (base + k * strides(dim)).cast(IntegerType) + 1))
      blockReduce(block, op)
    })
  }

  // ---------------------------------------------------------------------
  // Subsetting / reshaping (oph_get_subarray:101/105/109, oph_sub_array:325,
  // oph_extract:89, oph_expand:81, oph_concat:49/53, oph_append:25,
  // oph_extend:85, oph_interlace:209/213, oph_permute:269, oph_reverse:301,
  // oph_rotate:309, oph_shift:317, oph_padding:265, oph_replace:297,
  // oph_sequence:313)
  // ---------------------------------------------------------------------

  /** slice by start (1-based) and length (oph_get_subarray; oph_sub_array
    * is the legacy alias). */
  def oph_get_subarray(a: Column, start: Column, len: Column): Column =
    slice(a, start.cast(IntegerType), len.cast(IntegerType))
  def oph_get_subarray(a: Column, start: Int, len: Int): Column =
    oph_get_subarray(a, lit(start), lit(len))
  def oph_sub_array(a: Column, start: Int, len: Int): Column =
    oph_get_subarray(a, start, len)

  /** Subset-string slice `start:stride:end` (1-based, inclusive), the
    * reference's oph_get_subarray2. Multiple clauses joined by `;` union. */
  def oph_get_subarray2(a: Column, subset: String): Column = {
    val idxs = Subset.parse(subset) // resolved against runtime size
    val selected = Subset.indexColumn(idxs, size(a))
    transform(selected, i => element_at(a, i.cast(IntegerType)))
  }

  /** Multi-dim subset (oph_get_subarray3): one subset string per implicit
    * dimension of a row-major array with literal sizes. */
  def oph_get_subarray3(a: Column, sizes: Seq[Int], subsets: Seq[String]): Column = {
    require(sizes.size == subsets.size)
    val perDim: Seq[Seq[Int]] = sizes.zip(subsets).map { case (s, sub) =>
      Subset.resolve(Subset.parse(sub), s)
    }
    // cartesian product of kept 1-based indices, row-major order
    val strides = sizes.scanRight(1)(_ * _).tail
    def cartesian(ds: Seq[Seq[Int]]): Seq[Seq[Int]] =
      ds.foldLeft(Seq(Seq.empty[Int]))((acc, d) => for (p <- acc; i <- d) yield p :+ i)
    val flatIdx = cartesian(perDim).map(coords =>
      coords.zip(strides).map { case (c, st) => (c - 1) * st }.sum + 1)
    transform(array(flatIdx.map(lit): _*), i => element_at(a, i))
  }

  /** Pick elements by 1-based index list (oph_extract). */
  def oph_extract(a: Column, idxs: Column): Column =
    transform(idxs, i => element_at(a, i.cast(IntegerType)))
  def oph_extract(a: Column, idxs: Seq[Int]): Column =
    oph_extract(a, array(idxs.map(lit): _*))

  /** Concat arrays (oph_concat / oph_append). */
  def oph_concat(as: Column*): Column = concat(as: _*)
  def oph_append(as: Column*): Column = concat(as: _*)

  /** oph_concat2: concat with optional interleave flag. */
  def oph_concat2(a: Column, b: Column, interleave: Boolean = false): Column =
    if (interleave) oph_interlace(a, b) else concat(a, b)

  /** Replicate each element `n` times (oph_extend's grow mode). */
  def oph_extend(a: Column, n: Int): Column =
    flatten(transform(a, x => array_repeat(x, n)))

  /** Interleave arrays element-by-element (oph_interlace). */
  def oph_interlace(as: Column*): Column = as match {
    case Seq(a, b) => flatten(zip_with(a, b, (x, y) => array(x, y)))
    case many =>
      val n = size(many.head)
      flatten(transform(sequence(lit(1), n),
        i => array(many.map(a => element_at(a, i.cast(IntegerType))): _*)))
  }

  /** oph_interlace2: block-interleave — alternate blocks of `bs` elements. */
  def oph_interlace2(a: Column, b: Column, bs: Int): Column = {
    val nblocks = ceil(size(a).cast(DoubleType) / bs).cast(IntegerType)
    flatten(transform(sequence(lit(0), nblocks - 1),
      i => concat(slice(a, i * bs + 1, lit(bs)), slice(b, i * bs + 1, lit(bs)))))
  }

  /** Permute implicit-dim order (oph_permute): multi-dim transpose within
    * the row-major array. `perm(i)` = source dim that lands at output dim i. */
  def oph_permute(a: Column, sizes: Seq[Int], perm: Seq[Int]): Column = {
    require(perm.sorted == sizes.indices.toList, s"bad permutation $perm")
    val outSizes = perm.map(sizes)
    val inStrides = sizes.scanRight(1)(_ * _).tail
    val outStrides = outSizes.scanRight(1)(_ * _).tail
    val n = sizes.product
    transform(sequence(lit(0), lit(n - 1)), j => {
      val src = perm.indices.map { i =>
        ((j / outStrides(i)) % outSizes(i)) * inStrides(perm(i))
      }.foldLeft(lit(0): Column)(_ + _)
      element_at(a, src.cast(IntegerType) + 1)
    })
  }

  /** Reverse (oph_reverse). */
  def oph_reverse(a: Column): Column = reverse(a)

  /** Circular right-shift by n (oph_rotate); negative n rotates left. */
  def oph_rotate(a: Column, n: Column): Column = {
    val len = size(a)
    val k = pmod(n.cast(IntegerType), len)
    when(len === 0 || k === 0, a)
      .otherwise(concat(slice(a, len - k + 1, k), slice(a, lit(1), len - k)))
  }
  def oph_rotate(a: Column, n: Int): Column = oph_rotate(a, lit(n))

  /** Shift right by n filling with `fill` (oph_shift); negative n → left. */
  def oph_shift(a: Column, n: Int, fill: Double = Double.NaN): Column = {
    val len = size(a)
    if (n == 0) a
    else if (n > 0)
      when(len <= n, transform(a, _ => lit(fill)))
        .otherwise(concat(array_repeat(lit(fill), n), slice(a, lit(1), len - n)))
    else
      when(len <= -n, transform(a, _ => lit(fill)))
        .otherwise(concat(slice(a, lit(-n + 1), len + n), array_repeat(lit(fill), -n)))
  }

  /** Pad to `len` with `v` (oph_padding). */
  def oph_padding(a: Column, len: Int, v: Double): Column =
    when(size(a) >= len, a)
      .otherwise(concat(a, array_repeat(lit(v), lit(len) - size(a))))

  /** Replace values equal to `oldV` (± tol) with `newV` (oph_replace). */
  def oph_replace(a: Column, oldV: Column, newV: Column, tol: Column): Column =
    transform(a, x => when(abs(x - oldV) <= tol, newV).otherwise(x))
  def oph_replace(a: Column, oldV: Double, newV: Double, tol: Double = 0.0): Column =
    oph_replace(a, lit(oldV), lit(newV), lit(tol))

  /** Arithmetic sequence array (oph_sequence): n values from start by step. */
  def oph_sequence(start: Column, step: Column, n: Column): Column =
    transform(sequence(lit(0L), n.cast(LongType) - 1L),
      i => start.cast(DoubleType) + i.cast(DoubleType) * step.cast(DoubleType))
  def oph_sequence(start: Double, step: Double, n: Int): Column =
    oph_sequence(lit(start), lit(step), lit(n))

  // ---------------------------------------------------------------------
  // Predicates / masks (oph_predicate:273/277, oph_filter:153,
  // oph_mask_array:217, oph_compare:41, oph_arg_array:29,
  // oph_get_index_array:97)
  // ---------------------------------------------------------------------

  /** Per-element `if f(x) ⊙ 0 then g(x) else h(x)` (oph_predicate).
    * `cmp` ∈ {">", ">=", "<", "<=", "=", "!="} compares f(x) against 0. */
  def oph_predicate(a: Column, f: Column => Column, cmp: String,
                    g: Column => Column, h: Column => Column): Column = {
    val test: Column => Column = cmp match {
      case ">"  => f(_) > 0.0
      case ">=" => f(_) >= 0.0
      case "<"  => f(_) < 0.0
      case "<=" => f(_) <= 0.0
      case "="  => f(_) === 0.0
      case "!=" => f(_) =!= 0.0
      case o    => throw new IllegalArgumentException(s"unknown comparator: $o")
    }
    transform(a, x => when(test(x), g(x)).otherwise(h(x)))
  }

  /** oph_predicate2: the second operand comes from a second array. */
  def oph_predicate2(a: Column, b: Column, f: (Column, Column) => Column, cmp: String,
                     g: (Column, Column) => Column, h: (Column, Column) => Column): Column = {
    val zero = lit(0.0)
    zip_with(a, b, (x, y) => {
      val v = f(x, y)
      val c = cmp match {
        case ">" => v > zero;  case ">=" => v >= zero
        case "<" => v < zero;  case "<=" => v <= zero
        case "=" => v === zero; case "!=" => v =!= zero
        case o   => throw new IllegalArgumentException(s"unknown comparator: $o")
      }
      when(c, g(x, y)).otherwise(h(x, y))
    })
  }

  /** Keep elements where the predicate holds (oph_filter). */
  def oph_filter(a: Column, p: Column => Column): Column = filter(a, p)

  /** Apply a 0/1 mask; masked-out elements become `fill` (oph_mask_array). */
  def oph_mask_array(a: Column, mask: Column, fill: Double = Double.NaN): Column =
    zip_with(a, mask, (x, m) => when(m =!= 0.0, x).otherwise(lit(fill)))

  /** Array equality within tolerance → 1/0 (oph_compare). */
  def oph_compare(a: Column, b: Column, tol: Double = 0.0): Column =
    when(size(a) === size(b) &&
      forall(zip_with(a, b, (x, y) => abs(x - y) <= tol), identity), 1L).otherwise(0L)

  /** 1-based positions whose elements satisfy `p` (oph_arg_array /
    * oph_get_index_array). */
  def oph_get_index_array(a: Column, p: Column => Column): Column =
    filter(sequence(lit(1), size(a)), i => p(element_at(a, i.cast(IntegerType))))
  def oph_arg_array(a: Column, p: Column => Column): Column = oph_get_index_array(a, p)

  // ---------------------------------------------------------------------
  // Type & codec (oph_cast:33, oph_convert_d:57, oph_convert_l:61,
  // oph_dump:77 — binary pack/zlib live in graft.sources.BinaryCodec)
  // ---------------------------------------------------------------------

  private val typeMap: Map[String, DataType] = Map(
    "oph_byte" -> ByteType, "oph_short" -> ShortType, "oph_int" -> IntegerType,
    "oph_long" -> LongType, "oph_float" -> FloatType, "oph_double" -> DoubleType,
    "byte" -> ByteType, "short" -> ShortType, "int" -> IntegerType,
    "long" -> LongType, "float" -> FloatType, "double" -> DoubleType,
    // the reference's bit element type: values collapse to 0/1
    "oph_bit" -> ByteType, "bit" -> ByteType)

  /** Element-type cast with optional missing-value remap (oph_cast). */
  def oph_cast(a: Column, to: String, missFrom: Option[Double] = None,
               missTo: Option[Double] = None): Column = {
    if (to.toLowerCase.endsWith("bit")) // bit semantics: collapse to 0/1
      return transform(a, x => (x =!= 0).cast(ByteType))
    val t = typeMap.getOrElse(to.toLowerCase,
      throw new IllegalArgumentException(s"unknown cast target: $to"))
    (missFrom, missTo) match {
      case (Some(f), Some(m)) =>
        transform(a, x => when(x === f || (isnan(x) && lit(f.isNaN)), lit(m)).otherwise(x).cast(t))
      case _ => transform(a, _.cast(t))
    }
  }

  /** Single value → double / long (oph_convert_d / oph_convert_l). */
  def oph_convert_d(x: Column): Column = x.cast(DoubleType)
  def oph_convert_l(x: Column): Column = x.cast(LongType)

  /** Human-readable dump of the array (oph_dump). */
  def oph_dump(a: Column, sep: String = ", "): Column =
    concat_ws(sep, transform(a, _.cast(StringType)))

  // ---------------------------------------------------------------------
  // Driver-gate serialization: the correctness comparator sorts/hashes
  // pandas values, and list cells are unhashable there — so every
  // array-valued query OUTPUT ships as a comma-joined scalar string.
  // Fixed-point (1e12) keeps the compare exact: both engines compute the
  // identical IEEE double, so floor(x*1e12) is the identical long.
  // ---------------------------------------------------------------------

  /** array<double> → "f1,f2,…" at 1e12 fixed point (exact for |x| < 9e6,
    * far above any value our queries produce). DuckDB mirror:
    * array_to_string(list_transform(X, v -> CAST(floor(v*1e12) AS BIGINT)), ','). */
  def fx12(a: Column): Column =
    concat_ws(",", transform(a, x => floor(x * 1e12).cast(LongType).cast(StringType)))

  /** array<integral> → "i1,i2,…". DuckDB mirror: array_to_string(X, ','). */
  def joinLongs(a: Column): Column =
    concat_ws(",", transform(a, _.cast(StringType)))
}
