package graft.functions

import java.util.Locale

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType}

/** Custom Catalyst expressions with whole-stage codegen for the per-row
  * kernels of the text/dedup/similarity pipelines.
  *
  * Spark's higher-order functions (`transform`/`aggregate`) are ALWAYS
  * interpreted — every element evaluation walks an expression tree through
  * virtual `eval` calls. For hash-per-character and multiply-add-per-
  * dimension kernels that interpretive overhead dominates by an order of
  * magnitude. These expressions compute the same results (bit-identical —
  * the DuckDB oracle gate stays green) as the HOF formulations they
  * replace, but compile to tight scalar loops inside whole-stage codegen.
  *
  * The scalar loops live in the TOP-LEVEL [[NativeKernels]] object: the
  * generated Java calls its static forwarders
  * (`graft.functions.NativeKernels.polyHash(...)`), which Janino resolves
  * directly. Referencing a *nested* Scala object by its dotted source name
  * does not compile under Janino (binary names use `$` separators), and
  * Spark's default `spark.sql.codegen.fallback=true` would mask that as a
  * silent whole-stage-interpreted downgrade — the test session pins
  * fallback=false so any regression here fails loudly.
  *
  * Every kernel that is a plain call is reached through the one
  * [[KernelCall]] node; the six classes beside it do per-row work around
  * their call (ragged or empty input → null, the session's ANSI mode, an
  * id lookup on the kernel's result).
  *
  * Preference order per the build brief: compose built-ins where semantics
  * allow (everything else in this package), custom codegen `Expression`
  * where the built-in formulation can't reach native speed (here).
  */
object NativeExpressions {

  private val Kernels = "graft.functions.NativeKernels"

  /** A kernel argument too large to inline into generated code: shipped as
    * reference objects instead. `value`, an immutable Scala value, is what
    * the node compares and hashes (common-subexpression elimination and
    * cache matching need value equality); `label` is all that plan text
    * shows of it. `build` makes the objects the kernel takes from it, of
    * Java types `javaTypes`, once per payload. */
  final case class Payload(label: String, value: Any)(
      val javaTypes: Seq[String], build: () => Seq[AnyRef]) {
    @transient lazy val objects: Seq[AnyRef] = build()
    override def toString: String = label
  }

  /** `NativeKernels.<fn>(children…, consts…)` as one Catalyst node: the
    * children are evaluated with nested null checks (any null input →
    * null, like Spark's `nullSafeCodeGen`), `Int`/`Long`/`Double`
    * constants are inlined as Java literals and [[Payload]]s passed as
    * reference objects. Interpreted `eval` calls the same kernel method,
    * resolved once per node. `inputTypes`, when given, is checked at
    * analysis (array nullability aside).
    */
  case class KernelCall(fn: String, dataType: DataType, children: Seq[Expression],
      consts: Seq[Any], inputTypes: Seq[DataType]) extends Expression {

    override def nullable: Boolean = children.exists(_.nullable)
    override def foldable: Boolean = children.forall(_.foldable)
    override def prettyName: String = fn.toLowerCase(Locale.ROOT)
    override protected def flatArguments: Iterator[Any] = children.iterator ++ consts
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)

    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = inputTypes.isEmpty || inputTypes.corresponds(children.map(_.dataType)) {
        case (ArrayType(want, _), ArrayType(got, _)) => want == got
        case (want, got) => want == got
      }
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_${fn.replaceAll("([A-Z])", "_$1").toLowerCase(Locale.ROOT)} expects " +
          s"${inputTypes.map(_.catalogString).mkString("(", ", ", ")")}, got " +
          children.map(_.dataType.catalogString).mkString(" and "))
    }

    @transient private lazy val constArgs: Seq[AnyRef] = consts.flatMap {
      case p: Payload => p.objects
      case v => Seq(v.asInstanceOf[AnyRef])
    }
    @transient private lazy val method = {
      val arity = children.length + constArgs.length
      NativeKernels.getClass.getMethods
        .find(m => m.getName == fn && m.getParameterCount == arity)
        .getOrElse(throw new IllegalArgumentException(s"no kernel $fn of arity $arity"))
    }

    override def eval(input: InternalRow): Any = {
      val args = new Array[AnyRef](children.length + constArgs.length)
      var i = 0
      while (i < children.length) {
        val v = children(i).eval(input)
        if (v == null) return null
        args(i) = v.asInstanceOf[AnyRef]
        i += 1
      }
      constArgs.copyToArray(args, i)
      try method.invoke(NativeKernels, args: _*)
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val literals = consts.flatMap {
        case p: Payload =>
          p.javaTypes.zip(p.objects).map { case (t, o) => ctx.addReferenceObj("graftConst", o, t) }
        case i: Int => Seq(i.toString)
        case l: Long => Seq(s"${l}L")
        case d: Double if !d.isNaN && !d.isInfinite => Seq(d.toString)
        case d: Double =>
          Seq(s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(d)}L)")
      }
      val evals = children.map(_.genCode(ctx))
      val args = (evals.map(_.value.toString) ++ literals).mkString(", ")
      val call = s"${ev.value} = $Kernels.$fn($args);"
      val init = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
        s"${CodeGenerator.defaultValue(dataType)};"
      // the code UnaryExpression's and Binary/TernaryExpression's
      // nullSafeCodeGen emit, the latter with one nesting level per child
      if (!nullable) {
        ev.copy(code = code"""
          ${evals.map(_.code.toString).mkString("\n")}
          $init
          $call""", isNull = FalseLiteral)
      } else if (evals.length == 1) {
        ev.copy(code = code"""
          ${evals.head.code}
          boolean ${ev.isNull} = ${evals.head.isNull};
          $init
          ${ctx.nullSafeExec(children.head.nullable, evals.head.isNull)(call)}""")
      } else {
        val body = evals.zip(children).foldRight(s"${ev.isNull} = false;\n$call") {
          case ((e, c), inner) => s"${e.code}\n" + ctx.nullSafeExec(c.nullable, e.isNull)(inner)
        }
        ev.copy(code = code"""
          boolean ${ev.isNull} = true;
          $init
          $body""")
      }
    }
  }

  /** Sequential-order dot product of two double arrays — identical IEEE
    * result to `aggregate(zip_with(a,b,multiply), 0.0, plus)` (ascending
    * index, single accumulator). Nulls: any null input → null (inputs here
    * are cast float arrays, never null-elemented).
    */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // also null on ragged lengths
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      // length mismatch => null, matching the HOF twin (zip_with pads with
      // null and the sum propagates it) — a ragged row must surface as
      // null, not as a plausible-looking truncated dot product
      if (aa.numElements() != bb.numElements()) null
      else NativeKernels.dot(aa, bb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $Kernels.dot($a, $b);
           |}
         """.stripMargin)
  }

  /** Fused residual self-dot ‖a − y·w‖² — IEEE-identical to
    * `dot(zip_with(a, w, (e, v) -> e - y*v), same)` (see
    * [[NativeKernels.residualNorm2]]) without the interpreted zip_with
    * lambda or the intermediate array. Null semantics mirror the HOF
    * chain: any null input → null, ragged lengths → null.
    */
  case class ResidualNorm2(first: Expression, second: Expression,
      third: Expression) extends TernaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // also null on ragged lengths
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): ResidualNorm2 =
      copy(first = f, second = s, third = t)

    override protected def nullSafeEval(a: Any, w: Any, y: Any): Any = {
      val (aa, ww) = (a.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])
      if (aa.numElements() != ww.numElements()) null
      else NativeKernels.residualNorm2(aa, ww, y.asInstanceOf[Double])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, w, y) =>
        s"""
           |if ($a.numElements() != $w.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $Kernels.residualNorm2($a, $w, $y);
           |}
         """.stripMargin)
  }

  /** max(|v_i|) — identical to `array_max(transform(v, abs))` incl. the
    * empty-array → null contract. See [[NativeKernels.maxAbs]]. */
  case class MaxAbs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // empty array → null (array_max)
    override protected def withNewChildInternal(newChild: Expression): MaxAbs =
      copy(child = newChild)

    override protected def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() == 0) null else NativeKernels.maxAbs(a)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""
           |if ($a.numElements() == 0) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $Kernels.maxAbs($a);
           |}
         """.stripMargin)
  }

  /** round(v_i * scale) as array<tinyint> — identical to
    * `transform(v, x -> round(x * scale).cast("tinyint"))`, with the
    * cast's ANSI mode read from the executing session's conf (the Column
    * is built before any session is known, so not at construction). See
    * [[NativeKernels.scaleRoundInt8]]. */
  case class ScaleRoundInt8(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(ByteType, containsNull = false)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ScaleRoundInt8 =
      copy(left = l, right = r)
    private lazy val ansi = SQLConf.get.ansiEnabled

    override protected def nullSafeEval(v: Any, s: Any): Any =
      NativeKernels.scaleRoundInt8(v.asInstanceOf[ArrayData], s.asInstanceOf[Double], ansi)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, s) => s"$Kernels.scaleRoundInt8($v, $s, $ansi)")
  }

  /** Exact int8·int8 dot product as long — the quantized-ANN coarse
    * scorer. Same null semantics as [[DotProduct]]: ragged lengths → null
    * (matching the `aggregate(zip_with(...))` twin, where the pad null
    * poisons the sum).
    */
  case class IntDot(left: Expression, right: Expression) extends BinaryExpression {
    // strict tinyint arrays: the kernel byte-indexes the array storage, so
    // an un-cast int array would silently read the wrong bytes — analysis
    // must reject it (SQL callers write CAST(... AS ARRAY<TINYINT>))
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_int_dot expects two array<tinyint> inputs, got " +
            s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = LongType
    override def nullable: Boolean = true // also null on ragged lengths
    override protected def withNewChildrenInternal(l: Expression, r: Expression): IntDot =
      copy(left = l, right = r)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (aa.numElements() != bb.numElements()) null
      else NativeKernels.intDot(aa, bb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $Kernels.intDot($a, $b);
           |}
         """.stripMargin)
  }

  /** Map-side IVF coarse assignment: the cen_id whose centroid has the
    * highest cosine to the row vector (see
    * [[NativeKernels.argMaxCosineIdx]]). The centroid set — small BY
    * CONSTRUCTION (an IVF coarse quantizer is 10²–10⁴ vectors regardless of
    * corpus size) — is a plan constant shipped to every task as reference
    * objects, so assignment is pure per-row scan work: no join, no
    * expansion, no shuffle. `left` = array<double> vector, `right` = its
    * precomputed L2 norm.
    */
  case class ArgMaxCosine(left: Expression, right: Expression,
      cents: Seq[(Long, Seq[Double], Double)]) extends BinaryExpression {
    require(cents.nonEmpty, "argMaxCosine needs at least one centroid")
    private val cenIdsArr: Array[Long] = cents.map(_._1).toArray
    private val cvsArr: Array[Array[Double]] = cents.map(_._2.toArray).toArray
    private val cnrmsArr: Array[Double] = cents.map(_._3).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_argmax_cosine expects (array<double>, double), got " +
            s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = LongType
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgMaxCosine =
      copy(left = l, right = r)

    // keep the centroid payload out of plan text: a 4k×128 constant would
    // make every explain/spec error message megabytes long
    override protected def flatArguments: Iterator[Any] =
      Iterator(left, right, s"nCentroids=${cenIdsArr.length}")

    override protected def nullSafeEval(v: Any, nrm: Any): Any =
      cenIdsArr(NativeKernels.argMaxCosineIdx(
        v.asInstanceOf[ArrayData], nrm.asInstanceOf[Double], cvsArr, cnrmsArr))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ids = ctx.addReferenceObj("graftCenIds", cenIdsArr, "long[]")
      val cvs = ctx.addReferenceObj("graftCvs", cvsArr, "double[][]")
      val cnrms = ctx.addReferenceObj("graftCnrms", cnrmsArr, "double[]")
      defineCodeGen(ctx, ev, (v, nrm) =>
        s"$ids[$Kernels.argMaxCosineIdx($v, $nrm, $cvs, $cnrms)]")
    }
  }

  // Column-level entry points

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Bytes = ArrayType(ByteType, containsNull = false)

  /** `n`, checked as a shape argument of a kernel. */
  private def positive(n: Int, what: String): Int = {
    require(n >= 1, s"$what must be >= 1, got $n")
    n
  }

  private def kernel(fn: String, dataType: DataType, args: Seq[Column],
      consts: Seq[Any] = Nil, inputTypes: Seq[DataType] = Nil): Column =
    column(KernelCall(fn, dataType, args.map(expression), consts, inputTypes))

  /** A constant centroid set (see [[ArgMaxCosine]] for why it is a plan
    * constant) as the kernel arguments `cvs`, `cnrms` and `cenIds`. */
  private def centroidSet(cents: Seq[(Long, Seq[Double], Double)]): Payload =
    Payload(s"nCentroids=${cents.length}", cents)(
      Seq("double[][]", "double[]", "long[]"), () => Seq(
        cents.map(_._2.toArray).toArray, cents.map(_._3).toArray, cents.map(_._1).toArray))

  private def codewords(cb: Seq[Seq[Double]]): Payload =
    Payload(s"ks=${cb.length}", cb)(Seq("double[][]"), () => Seq(cb.map(_.toArray).toArray))

  /** Rolling hash `acc := (acc*31 + charCodeUnit) mod 1e9+7` over a string.
    * Identical to `aggregate(split(s,''), 0L, (a,c) -> (a*31+ascii(c))%P)`
    * — UTF-16 code-unit iteration matches split-per-char + ascii for BMP
    * text (and the oracle corpus is ASCII).
    */
  def polyHash(c: Column): Column = kernel("polyHash", LongType, Seq(c))

  /** Whitespace-run tokenization + per-token [[polyHash]], one pass, no
    * regex. Identical to
    * `when(length(trim(s))=0, array()).otherwise(transform(split(trim(s),'\\s+'), polyHash))`
    * — Java-regex `\s` is exactly [ \t\n\u000B\f\r], mirrored in
    * [[NativeKernels.tokenHashes]]. (DuckDB's RE2 `\s` excludes \u000B;
    * oracle parity assumes a vertical-tab-free corpus — see kernel note.)
    */
  def tokenHashes(c: Column): Column = kernel("tokenHashes", Longs, Seq(c))

  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def intDot(a: Column, b: Column): Column = column(IntDot(expression(a), expression(b)))
  def residualNorm2(a: Column, w: Column, y: Column): Column =
    column(ResidualNorm2(expression(a), expression(w), expression(y)))
  def maxAbs(v: Column): Column = column(MaxAbs(expression(v)))

  /** An ML vector's size, read from its stored struct without building the
    * vector — see [[NativeKernels.vectorSize]]. */
  def vectorSize(v: Column): Column =
    kernel("vectorSize", IntegerType, Seq(v), inputTypes = Seq(SQLDataTypes.VectorType))

  /** DSIR bigram importance score over a shingle-hash array — see
    * [[NativeKernels.dsirScore]]. Null input → null (callers coalesce to
    * the empty-feature score per the table contract). */
  def dsirScore(sh: Column, ratios: Seq[Double], buckets: Long): Column =
    kernel("dsirScore", DoubleType, Seq(sh), Seq(
      Payload(s"ratios=${ratios.length}", ratios)(Seq("double[]"), () => Seq(ratios.toArray)),
      buckets))

  def scaleRoundInt8(v: Column, scale: Column): Column =
    column(ScaleRoundInt8(expression(v), expression(scale)))

  /** v_i / d as array<double> — identical to `transform(v, x -> x / d)`.
    * See [[NativeKernels.divArray]]. */
  def divArray(v: Column, d: Column): Column = kernel("divArray", Doubles, Seq(v, d))

  /** Fused unigram-LM stats [sum, min] over sorted-vocabulary lookups —
    * see [[NativeKernels.lmScoreStats]]. Null on any null input (the HOF
    * chain's transform/aggregate null-propagation). */
  def lmScoreStats(toks: Column, keys: Column, vals: Column): Column =
    kernel("lmScoreStats", Doubles, Seq(toks, keys, vals))

  /** Sorted-vocabulary long-id lookup (0 = absent/OOV) — see
    * [[NativeKernels.sortedLookupLongs]]. Null on any null input. */
  def sortedLookupLongs(toks: Column, keys: Column, vals: Column): Column =
    kernel("sortedLookupLongs", Longs, Seq(toks, keys, vals))

  def argMaxCosine(v: Column, nrm: Column, cents: Seq[(Long, Seq[Double], Double)]): Column =
    column(ArgMaxCosine(expression(v), expression(nrm), cents))

  /** Map-side IVF probe selection: the `n` cen_ids nearest the row vector
    * by cosine, ordered (cosine desc, cen_id asc) — see
    * [[NativeKernels.topNCosineIds]]. Same constant-centroid contract as
    * [[argMaxCosine]]; `explode` the result to fan a query out to its
    * probed lists.
    */
  def topNCosineIds(v: Column, nrm: Column, cents: Seq[(Long, Seq[Double], Double)],
                    n: Int): Column = {
    require(cents.nonEmpty, "topNCosineIds needs at least one centroid")
    kernel("topNCosineIds", Longs, Seq(v, nrm),
      Seq(centroidSet(cents), positive(n, "probe count")), Seq(Doubles, DoubleType))
  }

  /** Adaptive-radius probe selection: cen_ids with cosine within `delta`
    * of the best centroid, capped at `nMax`, ordered (cosine desc, cen_id
    * asc) — see [[NativeKernels.adaptiveProbeIds]]. Same constant-centroid
    * contract as [[topNCosineIds]].
    */
  def adaptiveProbeIds(v: Column, nrm: Column,
                       cents: Seq[(Long, Seq[Double], Double)],
                       nMax: Int, delta: Double): Column = {
    require(cents.nonEmpty, "adaptiveProbeIds needs at least one centroid")
    require(delta >= 0.0, s"radius must be >= 0, got $delta")
    kernel("adaptiveProbeIds", Longs, Seq(v, nrm),
      Seq(centroidSet(cents), positive(nMax, "probe cap"), delta), Seq(Doubles, DoubleType))
  }

  /** Product-quantization encode over a constant codebook (see
    * [[NativeKernels.pqEncode]]): `m` bytes per row, computed in-scan. The
    * codebook — ks full-dim reference vectors, small by construction —
    * ships as a reference object like [[argMaxCosine]]'s centroids.
    */
  def pqEncode(v: Column, codebook: Seq[Seq[Double]], m: Int): Column = {
    require(codebook.nonEmpty && codebook.length <= 128,
      s"codebook must hold 1..128 codewords (tinyint codes), got ${codebook.length}")
    kernel("pqEncode", Bytes, Seq(v), Seq(codewords(codebook), positive(m, "subspace count")),
      Seq(Doubles))
  }

  /** Asymmetric-distance dot of a full-precision query against a PQ code
    * (see [[NativeKernels.pqAdc]]). `q` = query array<double>, `codes` =
    * array<tinyint> code. */
  def pqAdc(q: Column, codes: Column, codebook: Seq[Seq[Double]], m: Int): Column = {
    require(codebook.nonEmpty && m >= 1, "bad PQ shape")
    kernel("pqAdc", DoubleType, Seq(q, codes), Seq(codewords(codebook), m),
      Seq(Doubles, Bytes))
  }

  /** `size(array_intersect(a, b))` over two strictly-ascending long arrays
    * (the sorted-distinct shingle sets produced by
    * `array_sort(array_distinct(...))`). Linear two-pointer merge in place
    * of the interpreted hash-set build that `array_intersect` performs per
    * row — the Jaccard verification hot path after LSH/grid banding.
    * Precondition (sorted, distinct) is the caller's: results on unsorted
    * input are undefined, matching the plan-level contract documented at
    * the call site.
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    kernel("sortedIntersectSize", IntegerType, Seq(a, b))

  /** Fused shingle front-end: sorted-distinct word n-gram hashes of a text
    * column in one codegen'd pass (see [[NativeKernels.shingleHashes]]).
    * Replaces the interpreted tokenHashes→windows→distinct→sort HOF chain
    * that dominated every signature query's profile.
    */
  def shingleHashes(text: Column, n: Int): Column =
    kernel("shingleHashes", Longs, Seq(text), Seq(positive(n, "shingle width")))

  /** [[shingleHashes]] in the full 64-bit space (see
    * [[NativeKernels.shingleHashes64]]) — the production shingle signature
    * for corpora whose shingle count approaches the mod-P birthday bound. */
  def shingleHashes64(text: Column, n: Int): Column =
    kernel("shingleHashes64", Longs, Seq(text), Seq(positive(n, "shingle width")))

  /** Positional mod-P shingle hashes (see
    * [[NativeKernels.positionalShingleHashes]]) — the oracle-surface arm
    * of the positional-shingle stream; bit-identical to the interpreted
    * `transform(range, i -> aggregate(slice(th, i, n), …))` HOF chain it
    * replaces in the hot scans. */
  def positionalShingleHashes(text: Column, n: Int): Column =
    kernel("positionalShingleHashes", Longs, Seq(text), Seq(positive(n, "shingle width")))

  /** Positional (index = 0-based start token) 64-bit shingle hashes (see
    * [[NativeKernels.positionalShingleHashes64]]) — the wide arm of the
    * positional-shingle stream under substring dedup/decontamination. */
  def positionalShingleHashes64(text: Column, n: Int): Column =
    kernel("positionalShingleHashes64", Longs, Seq(text), Seq(positive(n, "shingle width")))

  /** MinHash signature over a shingle-hash set (see
    * [[NativeKernels.minhashSignature]]). */
  def minhashSignature(shh: Column, k: Int): Column =
    kernel("minhashSignature", Longs, Seq(shh), Seq(positive(k, "signature length")))

  /** One-permutation MinHash with rotation densification (see
    * [[NativeKernels.ophSignature]]): one pass over the shingle set vs
    * [[minhashSignature]]'s k passes. */
  def ophSignature(shh: Column, k: Int): Column =
    kernel("ophSignature", Longs, Seq(shh), Seq(positive(k, "signature length")))

  /** 30-bit frequency-weighted SimHash (see [[NativeKernels.simhash]]). */
  def simhash(th: Column): Column = kernel("simhash", LongType, Seq(th))

  /** Per-band base-31 combine of a MinHash signature (see
    * [[NativeKernels.bandHashes]]). */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column = {
    require(bands >= 1 && rows >= 1, s"bad banding ($bands x $rows)")
    kernel("bandHashes", Longs, Seq(sig), Seq(bands, rows))
  }

  /** Base-31 combine of a long array into one value (see
    * [[NativeKernels.polyCombine]]). */
  def polyCombine(arr: Column): Column = kernel("polyCombine", LongType, Seq(arr))

  /** All scalar text statistics of a document in one character pass
    * (see [[NativeKernels.textStats]]): `[len, nTokens, sumTokenLen,
    * nStopwords, nPunct, nSubwords]` as `array<long>`. The component
    * accessors in [[TextFunctions]] are `getItem` projections of this node;
    * whole-stage codegen's common-subexpression elimination evaluates the
    * kernel once per row however many components a projection reads —
    * replacing the 4-5 regex tokenizations the separate HOF formulations
    * performed. */
  def textStats(text: Column): Column = kernel("textStats", Longs, Seq(text))

  /** One-pass repetition statistics `[nTokens, nDistinctTokens,
    * topTokenFreq, nBigrams, nDistinctBigrams]` (see
    * [[NativeKernels.repetitionStats]]); ratio accessors project this node,
    * CSE'd by whole-stage codegen like [[textStats]].
    */
  def repetitionStats(text: Column): Column = kernel("repetitionStats", Longs, Seq(text))

  /** Per-term token-occurrence counts in one tokenization pass (see
    * [[NativeKernels.termCounts]]); the terms are expression-tree
    * constants, shipped to generated code as a reference object.
    */
  def termCounts(text: Column, terms: Seq[String]): Column = {
    require(terms.nonEmpty, "termCounts needs at least one term")
    kernel("termCounts", Longs, Seq(text), Seq(
      Payload(terms.mkString("[", ", ", "]"), terms)(
        Seq("java.lang.String[]"), () => Seq(terms.toArray))))
  }

  /** Per-language marker-token hit counts in one tokenization pass (see
    * [[NativeKernels.langMarkerCounts]]); the language-ID argmax stays in
    * Column space over this vector. */
  def langMarkerCounts(text: Column): Column = kernel("langMarkerCounts", Longs, Seq(text))

  /** One-pass subword (BPE) tokenization statistics over a constant merge
    * table (see [[NativeKernels.bpeStats]]): `[nTokens, nPieces,
    * piecesHash]`. The table — learned by [[graft.operators.Bpe
    * .learnMerges]], a few dozen to a few thousand entries — ships to
    * generated code as reference objects (rank map + component pairs),
    * so the whole apply loop runs inside the scan.
    */
  def bpeStats(text: Column, merges: Seq[(String, String)]): Column = {
    require(merges.nonEmpty, "bpeStats needs at least one merge")
    val table = Payload(s"merges=${merges.length}", merges)(
      Seq("java.util.HashMap", "java.lang.String[][]"), () => {
        val ranks = new java.util.HashMap[String, Integer]()
        merges.zipWithIndex.foreach { case ((a, b), i) =>
          ranks.put(a + '\u0001' + b, Integer.valueOf(i + 1)) }
        Seq(ranks, merges.map(p => Array(p._1, p._2)).toArray)
      })
    kernel("bpeStats", Longs, Seq(text), Seq(table))
  }

  /** Non-overlapping token-window ("paragraph") hashes in one pass (see
    * [[NativeKernels.windowHashes]]) — the paragraph-dedup front-end. */
  def windowHashes(text: Column, w: Int): Column =
    kernel("windowHashes", Longs, Seq(text), Seq(positive(w, "window width")))

  /** [[windowHashes]] in the full 64-bit space (see
    * [[NativeKernels.windowHashes64]]) — the production paragraph hash for
    * corpora whose paragraph count approaches the mod-P birthday bound. */
  def windowHashes64(text: Column, w: Int): Column =
    kernel("windowHashes64", Longs, Seq(text), Seq(positive(w, "window width")))

  /** Feature-hashed document embedding in one pass (see
    * [[NativeKernels.hashEmbed]]) — signed-count components, exact under
    * any order, so the embed->dedup chain stays oracle-replicable. */
  def hashEmbed(text: Column, dim: Int): Column =
    kernel("hashEmbed", Doubles, Seq(text), Seq(positive(dim, "embedding dim")))
}
