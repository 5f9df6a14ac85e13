package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: cosine similarity of two double arrays.
  *
  * The custom-extension route of SURVEY §7.3 / the builder contract's
  * preference order: (b) a Catalyst `Expression` WITH `doGenCode` — a tight
  * primitive loop inside whole-stage codegen, no Row boxing, no UDF
  * serialization. The HOF form (`aggregate(zip_with(...))`) used by the
  * declared queries stays the oracle-checked reference implementation;
  * CosineSimSpec proves this expression agrees with it bit-for-bit on the
  * test corpus (identical left-to-right summation order).
  *
  * Null semantics: null if either side is null (BinaryExpression default),
  * or if lengths differ / either norm is zero (NaN avoided deliberately).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim expects (array<double>, array<double>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = $x.getDouble($i);
         |    double $yi = $y.getDouble($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($nx == 0.0 || $ny == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |    }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** SparkSessionExtensions hook: registers `cosine_sim` as a SQL-callable
  * function. Enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  private[functions] val descriptors = Seq(
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) takes exactly 2 arguments")
        CosineSim(children.head, children(1)): Expression
      }),
    (new FunctionIdentifier("intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "intersect_size"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "intersect_size(a, b) takes exactly 2 arguments")
        SortedIntersectSize(children.head, children(1)): Expression
      }),
    (new FunctionIdentifier("gather_sum"),
      new ExpressionInfo(classOf[GatherSum].getName, "gather_sum"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "gather_sum(vec, ids) takes exactly 2 arguments")
        GatherSum(children.head, children(1)): Expression
      }),
    (new FunctionIdentifier("sign_lsh_buckets"),
      new ExpressionInfo(classOf[SignLshBuckets].getName, "sign_lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 1 || children.length == 2,
          "sign_lsh_buckets(v[, bits]) takes 1 or 2 arguments")
        if (children.length == 1) SignLshBuckets(children.head): Expression
        else {
          // width must be a compile-time constant: the plane matrix is a
          // per-(dim, bits) task constant, not a per-row value
          val bitsExpr = children(1)
          require(bitsExpr.foldable,
            "sign_lsh_buckets width must be a foldable integer literal")
          val bits = bitsExpr.eval() match {
            case i: Int => i
            // range-check BEFORE narrowing (ADVICE r12): 2^32+4 silently
            // truncated to width 4 and ran instead of failing analysis
            case l: Long if l >= 1L && l <= SignLshBuckets.MaxBits => l.toInt
            case l: Long => throw new IllegalArgumentException(
              s"sign_lsh_buckets width $l out of range 1..${SignLshBuckets.MaxBits}")
            case other => throw new IllegalArgumentException(
              s"sign_lsh_buckets width must be integral, got $other")
          }
          SignLshBuckets(children.head, bits): Expression
        }
      }),
    (new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash64(text) takes exactly 1 argument")
        SimHash64(children.head): Expression
      }),
    // Spark's OWN runtime-filter bloom expressions, surfaced as SQL
    // functions (they are internal-only upstream — Catalyst injects them in
    // InjectRuntimeFilter, but the 10 GiB application-side scan threshold
    // means the injection never fires at test SFs). Registering them makes
    // the bloom-prefilter join EXPLICIT and testable: build the filter with
    // one aggregate over the selective side, ship it as a scalar subquery,
    // apply it as a scan-side predicate on the big side. Sizing (1M items /
    // 8M bits ⇒ ~3% FP at capacity) is inside the conf caps
    // (runtime.bloomFilter.maxNumItems/maxNumBits); false positives are
    // semantically harmless — the exact join downstream removes them.
    (new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_bloom_agg(key) takes exactly 1 argument")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head,
          org.apache.spark.sql.catalyst.expressions.Literal(1000000L),
          org.apache.spark.sql.catalyst.expressions.Literal(8000000L)): Expression
      }),
    (new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_might_contain(bloom, key) takes exactly 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1)): Expression
      }),
    (new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "minhash_signature(shingles, numHashes) takes exactly 2 arguments")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"minhash_signature numHashes must be an int literal, got $other")
        }
        MinHashSignature(children.head, n): Expression
      }))

  /** Register into an ALREADY-RUNNING session (extensions only apply at
    * session build time; `getOrCreate` on a live context ignores them).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
