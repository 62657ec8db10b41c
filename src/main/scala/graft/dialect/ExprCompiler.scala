package graft.dialect

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dialect.ExprParser._
import graft.functions.{ArrayPrimitives => AP, KeyAlgebra => KA, Numeric, Stats}
import graft.sources.BinaryCodec

/** Compiles dialect expression ASTs into Catalyst `Column`s.
  *
  * Semantics follow the reference's tree-walking evaluator
  * (src/query_engine/oph_query_expression_evaluator.c:570-826):
  * arithmetic promotes to double; `=` compares and yields 0/1; `%` is
  * integer mod; `&`/`|` are logical. Divergences (documented, deliberate):
  *  - `/` really divides (the reference's eDIVIDE multiplies —
  *    evaluator.c:616-627 — a known bug we do not replicate);
  *  - arithmetic over two integral values stays integral (the id-algebra
  *    use case), matching the *intent* of the key functions which the
  *    reference itself evaluates in long.
  *
  * Everything compiles to Catalyst expressions (whole-stage codegen);
  * only the kernels in [[graft.functions.Numeric]] are Scala UDFs.
  */
object ExprCompiler {

  /** A compiled expression plus whether it is boolean-valued. */
  final case class CExpr(col: Column, isBool: Boolean) {
    def num: Column = if (isBool) col.cast("long") else col
    def bool: Column = if (isBool) col else col =!= 0
  }

  /** Aggregate (row-crossing) primitive names — the engine routes fields
    * whose top call is one of these through groupBy/agg
    * (FUN AGGREGATE entries of etc/oph_primitives_list.in). */
  val aggregateFns: Set[String] =
    Set("oph_aggregate_operator", "oph_aggregate_stats",
      "oph_aggregate_stats_partial", "oph_aggregate_stats_final", "oph_roll_up")

  /** Every dialect-callable function name (the @function_table compat
    * keyword lists these). Keep in sync with the match in [[compile]]. */
  val registeredFunctions: Seq[String] = Seq(
    "oph_id", "oph_id2", "oph_id3", "oph_id_to_index", "oph_id_to_index2",
    "oph_is_in_subset", "oph_id_of_subset",
    "oph_sum_scalar", "oph_sum_scalar2", "oph_mul_scalar", "oph_mul_scalar2",
    "oph_sum_array", "oph_mul_array", "oph_div_array", "oph_abs_array",
    "oph_max_array", "oph_min_array", "oph_operation_array",
    "oph_operator_array", "oph_operator", "oph_math",
    "oph_count_array", "oph_size_array", "oph_find",
    "oph_reduce", "oph_reduce2", "oph_reduce3",
    "oph_get_subarray", "oph_sub_array", "oph_get_subarray2",
    "oph_get_subarray3", "oph_concat", "oph_append", "oph_concat2",
    "oph_extend", "oph_interlace", "oph_interlace2", "oph_reverse",
    "oph_rotate", "oph_shift", "oph_padding", "oph_replace", "oph_sequence",
    "oph_permute", "oph_extract", "oph_expand",
    "oph_predicate", "oph_predicate2", "oph_filter", "oph_mask_array",
    "oph_compare", "oph_get_index_array", "oph_arg_array",
    "oph_cast", "oph_convert_d", "oph_convert_l", "oph_dump",
    "oph_to_bin", "oph_value_to_bin", "oph_compress", "oph_uncompress",
    "oph_gsl_sd", "oph_gsl_stats", "oph_gsl_quantile", "oph_gsl_boxplot",
    "oph_gsl_histogram", "oph_gsl_sort", "oph_gsl_correlation",
    "oph_gsl_fit_linear", "oph_gsl_fit_linear_coeff", "oph_moving_avg",
    "oph_accumulate", "oph_deaccumulate", "oph_quantize", "oph_normalize",
    "oph_gsl_complex_get_real", "oph_gsl_complex_get_imag",
    "oph_gsl_complex_get_abs", "oph_gsl_complex_get_arg",
    "oph_gsl_complex_to_polar", "oph_gsl_complex_to_rect",
    "oph_gsl_fft", "oph_gsl_ifft", "oph_gsl_dwt", "oph_gsl_idwt",
    "oph_gsl_spline", "oph_ccluster_kcluster",
    "oph_aggregate_operator", "oph_aggregate_stats",
    "oph_aggregate_stats_partial", "oph_aggregate_stats_final", "oph_roll_up")

  def isAggregate(ast: Ast): Boolean = ast match {
    case Fn(n, _) => aggregateFns(n)
    case _ => false
  }

  def compile(ast: Ast, resolve: String => Column,
              bind: Int => Column = n => throw new IllegalArgumentException(
                s"no prepared arg ?$n bound")): CExpr = {
    def go(a: Ast): CExpr = a match {
      case NumL(v) => CExpr(lit(v), isBool = false)
      case NumD(v) => CExpr(lit(v), isBool = false)
      case Str(v) => CExpr(lit(v), isBool = false)
      case NullL => CExpr(lit(null), isBool = false)
      case Var(n) => CExpr(resolve(n), isBool = false)
      case Arg(n) => CExpr(bind(n), isBool = false)
      case Un('-', e) => CExpr(-go(e).num, isBool = false)
      case Un('!', e) => CExpr(!go(e).bool, isBool = true)
      case Un(op, _) => throw new IllegalArgumentException(s"unary $op")
      case Bin('&', l, r) => CExpr(go(l).bool && go(r).bool, isBool = true)
      case Bin('|', l, r) => CExpr(go(l).bool || go(r).bool, isBool = true)
      case Bin('=', l, r) => CExpr(go(l).num === go(r).num, isBool = true)
      case Cmp(op, l, r) =>
        val (lc, rc) = (go(l).num, go(r).num)
        val c = op match {
          case '<' => lc < rc
          case '>' => lc > rc
          case 'l' => lc <= rc
          case 'g' => lc >= rc
          case 'n' => lc =!= rc
          case o => throw new IllegalArgumentException(s"cmp $o")
        }
        CExpr(c, isBool = true)
      case Bin('%', l, r) =>
        CExpr(pmod(go(l).num.cast("long"), go(r).num.cast("long")), isBool = false)
      case Bin(op, l, r) =>
        val (lc, rc) = (go(l).num, go(r).num)
        val c = op match {
          case '+' => lc + rc
          case '-' => lc - rc
          case '*' => lc * rc
          case '/' => lc / rc
          case o => throw new IllegalArgumentException(s"binary $o")
        }
        CExpr(c, isBool = false)
      case Fn(name, args) => fn(name, args, goPinned, resolve)
    }
    // nested function-call arguments evaluate ONCE per row: without the
    // bindOnce pin, CollapseProject inlines the inner primitive into the
    // outer one's per-element lambda and re-runs the whole inner chain
    // per array element (chains like oph_permute(oph_get_subarray(...))
    // go quadratic; see the identical Cube fix)
    def goPinned(a: Ast): CExpr = a match {
      case f: Fn =>
        val inner = go(f)
        CExpr(graft.functions.TextFunctions.bindOnce(inner.col, identity),
          inner.isBool)
      case other => go(other)
    }
    go(ast)
  }

  /** The reference's leading input/output type-hint string args
    * ('oph_double', 'oph_int', …) — our arrays carry their type, so these
    * are dropped before dispatch; [[fn]] keeps them around for the few
    * primitives whose OUTPUT layout depends on them (oph_to_bin). */
  private def isTypeHint(a: Ast): Boolean = a match {
    case Str(s) =>
      s.split('|').forall(t => t.toLowerCase.startsWith("oph_") &&
        Set("oph_byte", "oph_short", "oph_int", "oph_long", "oph_float",
          "oph_double", "oph_bit").contains(t.toLowerCase))
    case _ => false
  }
  private def dropTypeHints(args: Seq[Ast]): Seq[Ast] = args.dropWhile(isTypeHint)

  private def litStr(a: Ast): String = a match {
    case Str(s) => s
    case o => throw new IllegalArgumentException(s"expected string literal, got $o")
  }
  private def litNum(a: Ast): Double = a match {
    case NumL(v) => v.toDouble
    case NumD(v) => v
    case Un('-', NumL(v)) => -v.toDouble
    case Un('-', NumD(v)) => -v
    case o => throw new IllegalArgumentException(s"expected numeric literal, got $o")
  }
  private def litInt(a: Ast): Int = litNum(a).toInt
  private def numList(a: Ast): Seq[Double] =
    litStr(a).split("[,;]").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toDouble)

  /** Strip a trailing 'oph_sum'/'sum' style op name to its bare op. */
  private def opName(a: Ast): String = {
    val s = litStr(a).toLowerCase
    if (s.startsWith("oph_")) s.substring(4) else s
  }

  private def fn(name: String, rawArgs: Seq[Ast], go: Ast => CExpr,
                 resolve: String => Column): CExpr = {
    val hints = rawArgs.takeWhile(isTypeHint)
      .collect { case Str(s) => s.toLowerCase }
    val args = dropTypeHints(rawArgs)
    // bounds-checked positional access: an arity slip surfaces as the
    // dialect's descriptive IllegalArgumentException naming THIS call,
    // never a raw IndexOutOfBounds — and builder-internal index bugs
    // stay distinguishable (no blanket catch)
    def arg(i: Int): Ast =
      if (i < args.size) args(i)
      else throw new IllegalArgumentException(
        s"$name: wrong number of arguments (got ${args.size} after " +
          "type hints)")
    def c(i: Int): Column = go(arg(i)).num
    def b(c0: Column): CExpr = CExpr(c0, isBool = true)
    def n(c0: Column): CExpr = CExpr(c0, isBool = false)
    name match {
      // ---- key algebra (oph_query_expression_functions.c:30-200) ----
      case "oph_id" => n(KA.oph_id(c(0), c(1)))
      case "oph_id2" => n(KA.oph_id2(c(0), c(1), c(2)))
      case "oph_id_to_index2" => n(KA.oph_id_to_index2(c(0), c(1), c(2)))
      case "oph_id_to_index" =>
        n(KA.oph_id_to_index(c(0), args.tail.map(litNum(_).toLong): _*))
      case "oph_id3" =>
        n(KA.oph_id3(c(0), numList(arg(1)).map(_.toLong), litNum(arg(2)).toLong))
      case "oph_is_in_subset" | "oph_id_of_subset" =>
        b(KA.oph_is_in_subset(c(0), c(1), c(2), c(3)))
      // ---- elementwise / scalar ----
      case "oph_sum_scalar" => n(AP.oph_sum_scalar(c(0), c(1)))
      case "oph_sum_scalar2" => n(AP.oph_sum_scalar(c(1), c(0)))
      case "oph_mul_scalar" => n(AP.oph_mul_scalar(c(0), c(1)))
      case "oph_mul_scalar2" => n(AP.oph_mul_scalar(c(1), c(0)))
      case "oph_sum_array" => n(AP.oph_sum_array(c(0), c(1)))
      case "oph_mul_array" => n(AP.oph_mul_array(c(0), c(1)))
      case "oph_div_array" => n(AP.oph_div_array(c(0), c(1)))
      case "oph_abs_array" =>
        n(if (args.size >= 2) AP.oph_abs_array(c(0), c(1)) else AP.oph_abs_array(c(0)))
      case "oph_max_array" => n(AP.oph_max_array(c(0), c(1)))
      case "oph_min_array" => n(AP.oph_min_array(c(0), c(1)))
      case "oph_operation_array" | "oph_operator_array" =>
        n(AP.oph_operation_array(c(0), c(1), opName(arg(2))))
      case "oph_math" => n(AP.oph_math(c(0), litStr(arg(1))))
      // ---- in-array reductions ----
      case "oph_count_array" => n(AP.oph_count_array(c(0)))
      case "oph_size_array" => n(AP.oph_size_array(c(0)))
      case "oph_find" =>
        n(AP.oph_find(c(0), c(1), if (args.size > 2) c(2) else lit(0.0)))
      case "oph_reduce" =>
        n(args.lift(2) match {
          case None => AP.oph_reduce(c(0), opName(arg(1)))
          case Some(NumL(bs)) if bs.isValidInt => AP.oph_reduce(c(0), opName(arg(1)), bs.toInt)
          case Some(_) => AP.oph_reduce(c(0), opName(arg(1)), c(2))
        })
      case "oph_reduce2" => n(AP.oph_reduce2(c(0), opName(arg(1)), c(2)))
      case "oph_reduce3" =>
        n(AP.oph_reduce3(c(0), opName(arg(1)),
          numList(arg(2)).map(_.toInt), litInt(arg(3))))
      case "oph_get_subarray3" =>
        n(AP.oph_get_subarray3(c(0), numList(arg(1)).map(_.toInt),
          litStr(arg(2)).split(';').toSeq))
      // ---- subset / reshape ----
      case "oph_get_subarray" | "oph_sub_array" =>
        n(AP.oph_get_subarray(c(0), c(1), c(2)))
      case "oph_get_subarray2" => n(AP.oph_get_subarray2(c(0), litStr(arg(1))))
      case "oph_concat" | "oph_append" => n(concat(args.map(a => go(a).num): _*))
      case "oph_concat2" => n(AP.oph_concat2(c(0), c(1)))
      case "oph_extend" => n(AP.oph_extend(c(0), litInt(arg(1))))
      case "oph_interlace" => n(AP.oph_interlace(args.map(a => go(a).num): _*))
      case "oph_interlace2" => n(AP.oph_interlace2(c(0), c(1), litInt(arg(2))))
      case "oph_reverse" => n(AP.oph_reverse(c(0)))
      case "oph_rotate" => n(AP.oph_rotate(c(0), c(1)))
      case "oph_shift" =>
        n(AP.oph_shift(c(0), litInt(arg(1)),
          if (args.size > 2) litNum(arg(2)) else Double.NaN))
      case "oph_padding" => n(AP.oph_padding(c(0), litInt(arg(1)), litNum(arg(2))))
      case "oph_replace" =>
        n(AP.oph_replace(c(0), c(1), c(2), if (args.size > 3) c(3) else lit(0.0)))
      case "oph_sequence" => n(AP.oph_sequence(c(0), c(1), c(2)))
      case "oph_permute" =>
        n(AP.oph_permute(c(0), numList(arg(1)).map(_.toInt),
          numList(arg(2)).map(_.toInt)))
      case "oph_extract" =>
        n(AP.oph_extract(c(0), numList(arg(1)).map(_.toInt)))
      // ---- predicates ----
      case "oph_predicate" =>
        val comp = litStr(arg(2))
        n(AP.oph_predicate(c(0), subLambda(arg(1), resolve), comp,
          subLambda(arg(3), resolve), subLambda(arg(4), resolve)))
      case "oph_predicate2" =>
        // oph_predicate2:277 — like oph_predicate but the expressions see
        // BOTH arrays: x = element of measure 1, y = aligned element of
        // measure 2 (dialect form: m1, m2, expr, comparator, then, else)
        val comp = litStr(arg(3))
        n(AP.oph_predicate2(c(0), c(1), subLambda2(arg(2), resolve), comp,
          subLambda2(arg(4), resolve), subLambda2(arg(5), resolve)))
      case "oph_filter" =>
        // oph_filter:153 — keep elements where the condition (an
        // expression in x) holds, i.e. evaluates non-zero
        n(AP.oph_filter(c(0), x => subLambda(arg(1), resolve)(x) =!= 0.0))
      case "oph_expand" =>
        throw new IllegalArgumentException(
          "oph_expand is generator-valued (one row per array element): " +
            "use it as a top-level select field; it cannot be nested " +
            "inside a scalar expression")
      case "oph_mask_array" => n(AP.oph_mask_array(c(0), c(1)))
      case "oph_get_index_array" | "oph_arg_array" =>
        // dialect form: 1-based indices of elements equal to value ± tol
        val tol = if (args.size > 2) c(2) else lit(0.0)
        n(AP.oph_get_index_array(c(0), x => abs(x - c(1)) <= tol)
          .cast("array<bigint>"))
      case "oph_compare" => n(AP.oph_compare(c(0), c(1)))
      // ---- type & codec ----
      case "oph_cast" =>
        n(if (args.size >= 4)
          AP.oph_cast(c(0), litStr(arg(1)), Some(litNum(arg(2))), Some(litNum(arg(3))))
        else AP.oph_cast(c(0), litStr(arg(1))))
      case "oph_operator" => // scalar op between two single-value cells
        n(AP.oph_operation_array(array(c(0)), array(c(1)), opName(arg(2)))
          .getItem(0))
      case "oph_convert_d" => n(AP.oph_convert_d(c(0)))
      case "oph_convert_l" => n(AP.oph_convert_l(c(0)))
      case "oph_dump" => n(AP.oph_dump(c(0)))
      case "oph_to_bin" | "oph_value_to_bin" =>
        // the OUTPUT type hint (last of the 'in|out' prefix pair) picks
        // the cell layout; oph_long takes the exact 64-bit path — no
        // double intermediate, so >2^53 values survive bit-for-bit
        n(if (hints.lastOption.exists(_.split('|').last == "oph_long"))
          BinaryCodec.oph_to_bin_long(c(0).cast("array<long>"))
        else BinaryCodec.oph_to_bin(c(0)))
      case "oph_compress" => n(BinaryCodec.oph_compress(c(0)))
      case "oph_uncompress" => n(BinaryCodec.oph_uncompress(c(0)))
      // ---- stats / signal ----
      case "oph_gsl_sd" => n(Stats.oph_gsl_sd(c(0)))
      case "oph_gsl_stats" =>
        n(Stats.oph_gsl_stats(c(0),
          if (args.size > 1) litStr(arg(1)) else "111111111"))
      case "oph_gsl_quantile" => n(Stats.oph_gsl_quantile(c(0), numList(arg(1))))
      case "oph_gsl_boxplot" => n(Stats.oph_gsl_boxplot(c(0)))
      case "oph_gsl_histogram" =>
        n(Stats.oph_gsl_histogram(c(0), litInt(arg(1)), c(2), c(3)))
      case "oph_gsl_sort" => n(Stats.oph_gsl_sort(c(0)))
      case "oph_gsl_correlation" => n(Stats.oph_gsl_correlation(c(0), c(1)))
      case "oph_gsl_fit_linear" => n(Stats.oph_gsl_fit_linear(c(0), c(1)))
      case "oph_gsl_fit_linear_coeff" => n(Stats.oph_gsl_fit_linear_coeff(c(0), c(1)))
      case "oph_moving_avg" => n(Stats.oph_moving_avg(c(0), litInt(arg(1))))
      case "oph_accumulate" => n(Numeric.oph_accumulate(c(0)))
      case "oph_deaccumulate" => n(Stats.oph_deaccumulate(c(0)))
      case "oph_quantize" => n(Stats.oph_quantize(c(0), numList(arg(1))))
      case "oph_normalize" =>
        n(Stats.oph_normalize(c(0), if (args.size > 1) litStr(arg(1)) else "z"))
      case "oph_gsl_complex_get_real" => n(Stats.oph_gsl_complex_get_real(c(0)))
      case "oph_gsl_complex_get_imag" => n(Stats.oph_gsl_complex_get_imag(c(0)))
      case "oph_gsl_complex_get_abs" => n(Stats.oph_gsl_complex_get_abs(c(0)))
      case "oph_gsl_complex_get_arg" => n(Stats.oph_gsl_complex_get_arg(c(0)))
      case "oph_gsl_complex_to_polar" => n(Stats.oph_gsl_complex_to_polar(c(0)))
      case "oph_gsl_complex_to_rect" => n(Stats.oph_gsl_complex_to_rect(c(0)))
      case "oph_gsl_fft" => n(Numeric.oph_gsl_fft(c(0)))
      case "oph_gsl_ifft" => n(Numeric.oph_gsl_ifft(c(0)))
      case "oph_gsl_dwt" => n(Numeric.oph_gsl_dwt(c(0)))
      case "oph_gsl_idwt" => n(Numeric.oph_gsl_idwt(c(0)))
      case "oph_gsl_spline" => n(Numeric.oph_gsl_spline(c(0), numList(arg(1))))
      case "oph_ccluster_kcluster" =>
        n(Numeric.oph_ccluster_kcluster(c(0), litInt(arg(1))))
      // ---- row-crossing aggregates (engine routes through groupBy) ----
      case "oph_aggregate_operator" =>
        val op = opName(arg(1))
        val agg = op match {
          case "sum" => graft.operators.ArrayAggregates.ewSumDouble(c(0))
          case "max" => graft.operators.ArrayAggregates.ewMaxDouble(c(0))
          case "min" => graft.operators.ArrayAggregates.ewMinDouble(c(0))
          case "avg" =>
            val s = graft.operators.ArrayAggregates.ewSumDouble(c(0))
            transform(s, x => x / count(lit(1)).cast("double"))
          case o => throw new IllegalArgumentException(s"aggregate op $o")
        }
        n(agg)
      case "oph_aggregate_stats" | "oph_aggregate_stats_partial" |
           "oph_aggregate_stats_final" =>
        // one Aggregator covers the plain and two-phase variants: Spark's
        // partial/final physical aggregation IS the _partial/_final split
        n(graft.operators.ArrayAggregates.ewStats(c(0)))
      case "oph_roll_up" =>
        // order-stable concat across the group's rows by id_dim
        n(flatten(transform(
          array_sort(collect_list(struct(resolve("id_dim").as("k"), c(0).as("v")))),
          p => p.getField("v"))))
      case other =>
        throw new IllegalArgumentException(s"unknown dialect function: $other")
    }
  }

  /** Sub-expression lambda for oph_predicate: the string is an expression
    * in the element variable `x`. */
  private def subLambda(a: Ast, resolve: String => Column): Column => Column = {
    val ast = ExprParser.parse(litStr(a))
    x => compile(ast, nm => if (nm.equalsIgnoreCase("x")) x else resolve(nm)).num
  }

  /** Two-array sub-expression lambda for oph_predicate2: `x` is the
    * element of the first measure, `y` the aligned element of the second. */
  private def subLambda2(a: Ast,
                         resolve: String => Column): (Column, Column) => Column = {
    val ast = ExprParser.parse(litStr(a))
    (x, y) => compile(ast, nm =>
      if (nm.equalsIgnoreCase("x")) x
      else if (nm.equalsIgnoreCase("y")) y
      else resolve(nm)).num
  }

  /** If `ast` is a top-level `oph_expand(...)` call, return its measure
    * sub-AST (type hints stripped). The engine's select path uses this to
    * route generator fields through posexplode — the only primitive of
    * the 88 whose output is rows, not a value. */
  def expandArg(ast: Ast): Option[Ast] = ast match {
    case Fn("oph_expand", as) =>
      val args = dropTypeHints(as)
      require(args.nonEmpty, "oph_expand needs a measure argument")
      Some(args.head)
    case _ => None
  }
}
