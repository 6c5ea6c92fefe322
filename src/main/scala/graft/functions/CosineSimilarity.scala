package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `cosine_sim(a, b)`: cosine similarity of two double vectors as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why an Expression and not `aggregate(zip_with(...))`: Spark evaluates
  * higher-order-function lambdas interpreted — every element of every pair
  * pays closure-dispatch overhead, and the expression sits exactly where ANN
  * search burns its cycles (N×Q candidate pairs × dimension). This kernel
  * generates a single fused Java loop (dot product and both norms in one
  * pass over the two ArrayData), which the JIT vectorizes — and it keeps the
  * surrounding operators inside one WholeStageCodegen span instead of
  * breaking it with a CodegenFallback.
  *
  * Numeric contract (what makes it oracle-checkable): accumulation is a
  * left-to-right index-order fold, identical to the `aggregate` formulation
  * it replaces and to DuckDB's `list_dot_product`; the result is
  * `dot / (sqrt(na) * sqrt(nb))`, bit-equal to scoring against precomputed
  * per-vector norms. Null inputs and length-mismatched pairs yield null;
  * a zero vector yields NaN (0/0) exactly as the SQL formulation does —
  * ranking such scores follows Spark's NaN-greatest semantics (see
  * [[TopKOrder]]).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes with Serializable {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      null
    } else {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i)
        val yi = y.getDouble(i)
        dot += xi * yi
        na += xi * xi
        nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  double $na = 0.0;
         |  double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = $a.getDouble($i);
         |    final double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi;
         |    $na += $xi * $xi;
         |    $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Static kernel behind [[CosinePrefixSims]] — kept as a plain method so the
  * generated code is one call site inside the WholeStageCodegen span (the
  * [[StopwordHits]]/[[WinnowFp]] pattern). */
object CosineKernels {

  /** All prefix cosines in ONE left-to-right pass: `out(j)` is bit-equal to
    * `cosine_sim(slice(a, 1, dims(j)), slice(b, 1, dims(j)))` — INCLUDING
    * every edge of the slice formulation, so the kernel can stand in for
    * the per-slice form on ANY input, not just equal-length pairs:
    *
    *  - checkpoint m ≤ min(len a, len b): both slices have length m, the
    *    accumulators at element m ARE the sliced fold's sums — finite value;
    *  - checkpoint m past BOTH lengths with len a == len b: both slices
    *    clamp to the whole (equal-length) arrays — the full-length value;
    *  - checkpoint m past the SHORTER length with len a ≠ len b: the two
    *    slices clamp to different lengths, and `cosine_sim` of
    *    length-mismatched arrays is null — a NULL ENTRY (hence the
    *    containsNull = true output type).
    *
    * Stops scanning at the last checkpoint: evaluating truncations
    * `[8,16,32]` of a 1024-dim vector reads 32 elements. */
  def prefixSims(a: ArrayData, b: ArrayData, dims: Array[Int]): ArrayData = {
    val la = a.numElements()
    val lb = b.numElements()
    val n = math.min(la, lb)
    val equalLen = la == lb
    val out = new Array[Any](dims.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    var j = 0
    while (i < n && j < dims.length) {
      val xi = a.getDouble(i)
      val yi = b.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
      while (j < dims.length && dims(j) == i) {
        out(j) = dot / (math.sqrt(na) * math.sqrt(nb))
        j += 1
      }
    }
    while (j < dims.length) {
      out(j) = if (equalLen) dot / (math.sqrt(na) * math.sqrt(nb)) else null
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `cosine_prefix(a, b, dims)`: cosine similarity of every DIMENSION-PREFIX
  * of two double vectors in one fused pass — the evaluation kernel behind
  * Matryoshka-style truncated-embedding retrieval (MRL: Kusupati et al.,
  * NeurIPS 2022), where serving truncates stored vectors to their first m
  * dimensions and quality is judged by recall of the truncated ranking
  * against the full-dimension one.
  *
  * Why a kernel: the declarative twin scores each truncation separately
  * (`cosine_sim(slice(qv,1,m), slice(v,1,m))` per m) — that re-reads the
  * prefix AND allocates two sliced arrays per candidate per truncation, in
  * the exact N×Q inner loop ANN evaluation burns its cycles. One pass with
  * running accumulators emits all truncation scores for the cost of the
  * longest one, zero allocation beyond the output array.
  *
  * Numeric contract: per element the accumulation order is identical to the
  * slice formulation's fold, so each output is BIT-EQUAL to the per-slice
  * `cosine_sim` (and to DuckDB's `list_dot_product(a[1:m], b[1:m])` ratio) —
  * see the oracle of `x_embed_mrl_recall` — including the ragged-pair edge:
  * a checkpoint past the shorter of two UNEQUAL-length vectors is a null
  * entry, exactly as the per-slice cosine of the differently-clamped slices
  * would be (see [[CosineKernels.prefixSims]]). `dims` must fold to a
  * strictly ascending array of positive integers at plan time. */
case class CosinePrefixSims(left: Expression, right: Expression, dims: Seq[Int])
  extends BinaryExpression with ImplicitCastInputTypes with Serializable {

  require(dims.nonEmpty && dims.head >= 1 && dims.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    s"cosine_prefix: dims must be strictly ascending positive ints, got $dims")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_prefix"

  @transient private lazy val dimArr: Array[Int] = dims.toArray

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineKernels.prefixSims(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], dimArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dims", dimArr, "int[]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.CosineKernels.prefixSims($a, $b, $ref);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosinePrefixSims =
    copy(left = newLeft, right = newRight)
}

/** Registration surface for the engine's native functions — both the
  * in-session path ([[register]], idempotent, used by the query packs) and
  * the `spark.sql.extensions=graft.functions.GraftExtensions` path a library
  * user would configure on a cluster. */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"cosine_sim expects 2 arguments, got ${exprs.length}")
        CosineSimilarity(exprs.head, exprs(1))
      }),
    (new FunctionIdentifier("cosine_prefix"),
      new ExpressionInfo(classOf[CosinePrefixSims].getName, "cosine_prefix"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"cosine_prefix expects (a, b, dims literal array), got ${exprs.length} args")
        val dims = exprs(2) match {
          case e if e.foldable && e.dataType.isInstanceOf[ArrayType] =>
            val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            (0 until arr.numElements()).map { i =>
              arr.get(i, e.dataType.asInstanceOf[ArrayType].elementType) match {
                case v: Int => v
                case v: Long if v.isValidInt => v.toInt
                case v: Short => v.toInt
                case v: Byte => v.toInt
                case other => throw new IllegalArgumentException(
                  s"cosine_prefix: dims elements must be integers, got $other")
              }
            }
          case other => throw new IllegalArgumentException(
            s"cosine_prefix: dims must fold to an array of integers, got $other")
        }
        CosinePrefixSims(exprs.head, exprs(1), dims)
      }),
    (new FunctionIdentifier("cell_route"),
      new ExpressionInfo(classOf[CellRoute].getName, "cell_route"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"cell_route expects (q, cents, scale literal), got ${exprs.length} args")
        val scale = exprs(2) match {
          case e if e.foldable =>
            e.eval() match {
              case v: Long => v
              case v: Int => v.toLong
              case other => throw new IllegalArgumentException(
                s"cell_route: scale must fold to an integer, got $other")
            }
          case other => throw new IllegalArgumentException(
            s"cell_route: scale must be a constant expression, got $other")
        }
        CellRoute(exprs.head, exprs(1), scale)
      }),
    (new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"simhash32 expects 1 argument, got ${exprs.length}")
        SimHash32(exprs.head)
      }),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"minhash_sig expects (array, nSeeds literal), got ${exprs.length} args")
        // Accept any foldable integral expression (e.g. CAST(16 AS BIGINT),
        // 8+8), not just a bare int literal: fold it and read the constant.
        val n = exprs(1) match {
          case e if e.foldable =>
            e.eval() match {
              case v: Int => v
              case v: Long if v.isValidInt => v.toInt
              case v: Short => v.toInt
              case v: Byte => v.toInt
              case other => throw new IllegalArgumentException(
                s"minhash_sig: nSeeds must fold to an integer, got $other")
            }
          case other => throw new IllegalArgumentException(
            s"minhash_sig: nSeeds must be a constant expression, got $other")
        }
        MinHashSig(exprs.head, n)
      }),
    (new FunctionIdentifier("stopword_hits"),
      new ExpressionInfo(classOf[StopwordHits].getName, "stopword_hits"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"stopword_hits expects (words, stoplist literal), got ${exprs.length} args")
        // The stoplist must fold to a constant array of strings (e.g.
        // array('of', 'and')) — it becomes a plan-time constant in the kernel.
        val stops = exprs(1) match {
          case e if e.foldable && e.dataType.isInstanceOf[ArrayType] =>
            val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            (0 until arr.numElements()).map { i =>
              val v = arr.getUTF8String(i)
              require(v != null, "stopword_hits: stoplist elements must be non-null")
              v.toString
            }
          case other => throw new IllegalArgumentException(
            s"stopword_hits: stoplist must fold to an array of strings, got $other")
        }
        StopwordHits(exprs.head, stops)
      }),
    (new FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, "shingles3"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"shingles3 expects 1 argument, got ${exprs.length}")
        Shingles3(exprs.head)
      }),
    (new FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"winnow_fp expects 1 argument, got ${exprs.length}")
        WinnowFp(exprs.head)
      }),
    (new FunctionIdentifier("norm_text"),
      new ExpressionInfo(classOf[NormText].getName, "norm_text"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"norm_text expects 1 argument, got ${exprs.length}")
        NormText(exprs.head)
      }),
    (new FunctionIdentifier("zorder2"),
      new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"zorder2 expects 2 arguments, got ${exprs.length}")
        ZOrder2(exprs.head, exprs(1))
      }),
    // Spark's OWN bloom-filter expressions (the machinery behind runtime
    // row-group filtering), surfaced as SQL functions: Spark 4 registers
    // neither bloom_filter_agg nor might_contain in the public registry, but
    // a 100 TB decontamination pass wants exactly them (an eval shingle SET
    // broadcast as KBs of filter bits instead of MBs of hash rows).
    (new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"bloom_agg expects (xxhash64 col, estItems, numBits), got ${exprs.length}")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs.head, exprs(1), exprs(2))
      }),
    (new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"bloom_might_contain expects (filter, xxhash64 col), got ${exprs.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs.head, exprs(1))
      }))

  /** Register into a live session (temp function namespace). Idempotent —
    * and SILENTLY so: an already-registered name is skipped rather than
    * replaced, because `createOrReplaceTempFunction` logs a "replaced a
    * previously registered function" WARN per name per call, and operators
    * call this defensively per query — hundreds of identical lines
    * crowding the driver's budgeted log tail. Nothing else registers
    * under these names, so skip ≡ replace here. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (ident, _, builder) =>
      if (!reg.functionExists(ident))
        reg.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }

  /** The `spark.sql.extensions` value the graded mains (Verify / Bench)
    * set — ONE constant so the conf string and the class cannot drift;
    * `ExtensionsSpec` reflectively instantiates this name the way
    * `SparkSession.Builder.getOrCreate` does. */
  val extensionsClass: String = "graft.functions.GraftExtensions"
}

/** Session-extensions entry point: inject the native functions at session
  * build time (`.config("spark.sql.extensions", "graft.functions.GraftExtensions")`).
  * On an already-built session, [[GraftFunctions.register]] does the same. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach(ext.injectFunction)
}
