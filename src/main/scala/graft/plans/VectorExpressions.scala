package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector-similarity expressions with whole-stage codegen.
  *
  * The declarative spelling — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * is correct but interpreted: higher-order functions allocate a lambda
  * frame per element and box every float (SURVEY §4 "custom Catalyst work
  * actually needed"). ANN candidate scoring evaluates millions of pairs,
  * so these are real `Expression`s compiling to a tight primitive loop —
  * the preference-order (b) path from the build brief: a scalar Catalyst
  * expression, not a UDF (boxing) and not a new operator (overkill).
  *
  * Numeric contract: identical IEEE-754 double sequence as the HOF
  * spelling and the DuckDB oracle — elements cast to double, products
  * summed left-to-right — so swapping implementations never changes
  * results, only speed.
  */
abstract class VectorBinaryExpression extends BinaryExpression
    with Serializable {
  override def nullIntolerant: Boolean = true
  // can yield NULL even for non-null inputs (length mismatch / null
  // element) — without this override nullSafeCodeGen would never declare
  // the isNull variable for non-nullable children and the generated
  // `isNull = true` wouldn't compile
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(l, _), ArrayType(r, _))
      if Seq(l, r).forall(t => t == FloatType || t == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  protected def getter(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  protected def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  /** Null semantics MUST match the declarative fold the optimizer rule
    * replaces: zip_with pads length mismatches with NULL and a NULL
    * element nullifies the product and the running sum — so mismatched
    * lengths or any NULL element yield NULL, never a partial sum. */
  protected def elementsMayBeNull: Boolean =
    Seq(left, right).exists(_.dataType.asInstanceOf[ArrayType].containsNull)

  protected def anyNullElement(a: ArrayData, b: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Codegen guard: length check always; per-element null scan only when
    * the schema admits null elements (keeps the hot loop branch-free). */
  protected def nullGuards(a: String, b: String, n: String,
                           isNull: String): String = {
    val elemScan = if (elementsMayBeNull) {
      s"""
        for (int _g = 0; _g < $n && !$isNull; _g++) {
          if ($a.isNullAt(_g) || $b.isNullAt(_g)) $isNull = true;
        }"""
    } else ""
    s"""
      if ($a.numElements() != $b.numElements()) $isNull = true;
      $elemScan
    """
  }
}

/** dot(a, b) = Σ aᵢ·bᵢ, left-to-right. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = a.numElements()
    if (n != b.numElements()) return null
    if (elementsMayBeNull && anyNullElement(a, b, n)) return null
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(a, ta, i) * get(b, tb, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ta, tb) = (elemType(left), elemType(right))
      // every block-level local must be freshName'd: with non-nullable
      // children nullSafeCodeGen splices this code unscoped into the
      // shared method body, so two graft_dot calls in one projection
      // would otherwise declare duplicate locals → Janino failure →
      // silent interpreted fallback
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $a.numElements();
        ${nullGuards(a, b, n, ev.isNull)}
        if (!${ev.isNull}) {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $acc += ${getter(ta, a, i)} * ${getter(tb, b, i)};
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Literal-candidate argmin: struct(d, c_id) of the candidate minimizing
  * d = |c|² − 2·vec[start..)·c over a bounded literal candidate set —
  * the centroid/codeword assignment at the heart of the IVF/PQ/k-means
  * family, as ONE expression node.
  *
  * Why it exists (r20): the declarative spelling —
  * `array_min(array(struct((norm − 2·graft_dot(vec, [64 lits])), id), …))`
  * — is O(nCands·dim) expression nodes; at 16 cells + 32 codewords the
  * fused IVF-PQ projection compiles to a source so large that Janino
  * compilation, not row work, was the measured wall of the whole
  * e-family (e15: ~1 s uniform per-task cost at 62 rows/task; the same
  * query ran 2× faster with codegen disabled). This node generates a
  * two-line call into a compiled primitive loop instead.
  *
  * Numeric contract (spec-pinned bit-identical to the declarative
  * spelling): each dot folds left-to-right over doubles; candidate
  * comparison replicates array_min over struct<d: double, c_id: bigint>
  * exactly — SQL double ordering (x == y before Double.compare, so
  * -0.0 == 0.0 and NaN is greatest/equal to itself), ties to the lower
  * c_id, and a NULL d (slice length mismatch / null element) sorts
  * FIRST, among nulls the lower c_id.
  *
  * `strict` pins the length rule of the spelling it replaces: true =
  * whole-vector dot (mismatch when the elements from `start` on are not
  * exactly the candidate length, the cell-assignment shape at start 0);
  * false = `slice(vec, start+1, subDim)` (null only when fewer than
  * subDim elements remain from `start`, the PQ subspace shape). Either
  * way no element past the end is read. `start` must be ≥ 0.
  *
  * Equality, hashing and printing go by the candidates' content, so two
  * structurally equal calls are the same expression (subexpression
  * elimination, stable plan strings). */
case class ArgminScore(child: Expression, start: Int, strict: Boolean,
    cands: Array[Array[Double]], norms: Array[Double], ids: Array[Long])
    extends UnaryExpression with Serializable {
  require(cands.nonEmpty && cands.length == norms.length &&
    cands.length == ids.length && cands.forall(_.length == cands.head.length),
    "graft_argmin needs aligned, same-dimension candidate metadata")

  override def prettyName: String = "graft_argmin"
  override def nullIntolerant: Boolean = true

  override def equals(o: Any): Boolean = o match {
    case a: ArgminScore => child == a.child && start == a.start &&
      strict == a.strict && java.util.Arrays.equals(norms, a.norms) &&
      java.util.Arrays.equals(ids, a.ids) &&
      java.util.Arrays.deepEquals(
        cands.asInstanceOf[Array[AnyRef]], a.cands.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  private def contentHash: Int = java.util.Objects.hash(
    Int.box(java.util.Arrays.deepHashCode(cands.asInstanceOf[Array[AnyRef]])),
    Int.box(java.util.Arrays.hashCode(norms)),
    Int.box(java.util.Arrays.hashCode(ids)))
  override def hashCode: Int = java.util.Objects.hash(child,
    Int.box(start), Boolean.box(strict), Int.box(contentHash))
  // candidates print as their shape plus a content hash: the full
  // codebook would swamp every plan string it appears in
  override protected def stringArgs: Iterator[Any] = Iterator(child, start,
    strict, s"cands[${cands.length}x${cands.head.length}]#" +
      Integer.toHexString(contentHash))
  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("c_id", LongType, nullable = false)))

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private def elementsMayBeNull: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<float|double> vector, got " +
        other.catalogString)
  }

  /** SQL double comparison (SQLOrderingUtil): equal doubles first so
    * -0.0 == 0.0, then Double.compare (NaN greatest, NaN == NaN). */
  private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  override def nullSafeEval(v: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val t = elemType
    val n = vec.numElements()
    val subDim = cands.head.length
    var bestNull = false; var bestD = 0.0; var bestId = 0L
    var bestSet = false
    var i = 0
    while (i < cands.length) {
      val cw = cands(i)
      var dNull = if (strict) n - start != subDim else n - start < subDim
      var acc = 0.0
      if (!dNull) {
        var j = 0
        while (j < subDim && !dNull) {
          if (elementsMayBeNull && vec.isNullAt(start + j)) dNull = true
          else {
            acc += (t match {
              case FloatType => vec.getFloat(start + j).toDouble
              case _ => vec.getDouble(start + j)
            }) * cw(j)
            j += 1
          }
        }
      }
      val d = norms(i) - 2.0 * acc
      val id = ids(i)
      val better =
        if (!bestSet) true
        else if (dNull != bestNull) dNull // NULL d sorts first
        else if (dNull) id < bestId
        else {
          val c = cmpD(d, bestD)
          c < 0 || (c == 0 && id < bestId)
        }
      if (better) { bestNull = dNull; bestD = d; bestId = id; bestSet = true }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      if (bestNull) null else bestD, bestId))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val candsRef = ctx.addReferenceObj("argminCands", cands, "double[][]")
      val normsRef = ctx.addReferenceObj("argminNorms", norms, "double[]")
      val idsRef = ctx.addReferenceObj("argminIds", ids, "long[]")
      val getE = elemType match {
        case FloatType => (j: String) => s"(double) $vec.getFloat($j)"
        case _ => (j: String) => s"$vec.getDouble($j)"
      }
      // freshName for all block-level locals — see DotProduct.doGenCode
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val acc = ctx.freshName("acc")
      val cw = ctx.freshName("cw"); val dN = ctx.freshName("dN")
      val d = ctx.freshName("d"); val id = ctx.freshName("id")
      val bN = ctx.freshName("bestNull"); val bD = ctx.freshName("bestD")
      val bI = ctx.freshName("bestId"); val bS = ctx.freshName("bestSet")
      val c = ctx.freshName("c"); val bet = ctx.freshName("better")
      val sub = cands.head.length
      val nullElemCheck =
        if (elementsMayBeNull)
          s"if ($vec.isNullAt($start + $j)) { $dN = true; break; }"
        else ""
      val lenNull =
        if (strict) s"$n - $start != $sub" else s"$n - $start < $sub"
      s"""
        int $n = $vec.numElements();
        boolean $bN = false; double $bD = 0.0; long $bI = 0L;
        boolean $bS = false;
        for (int $i = 0; $i < $candsRef.length; $i++) {
          double[] $cw = $candsRef[$i];
          boolean $dN = $lenNull;
          double $acc = 0.0;
          if (!$dN) {
            for (int $j = 0; $j < $sub; $j++) {
              $nullElemCheck
              $acc += ${getE(s"$start + $j")} * $cw[$j];
            }
          }
          double $d = $normsRef[$i] - 2.0 * $acc;
          long $id = $idsRef[$i];
          boolean $bet;
          if (!$bS) $bet = true;
          else if ($dN != $bN) $bet = $dN;
          else if ($dN) $bet = $id < $bI;
          else {
            int $c = ($d == $bD) ? 0 : java.lang.Double.compare($d, $bD);
            $bet = $c < 0 || ($c == 0 && $id < $bI);
          }
          if ($bet) { $bN = $dN; $bD = $d; $bI = $id; $bS = true; }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[]{ $bN ? null : (Object) java.lang.Double.valueOf($bD),
                        (Object) java.lang.Long.valueOf($bI) });
      """
    })

  override protected def withNewChildInternal(
      newChild: Expression): ArgminScore = copy(child = newChild)
}

/** cosine(a, b) = dot/(√Σaᵢ²·√Σbᵢ²) with the same fold order as the HOF
  * spelling: three independent left-to-right sums. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = a.numElements()
    if (n != b.numElements()) return null
    if (elementsMayBeNull && anyNullElement(a, b, n)) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, ta, i); val y = get(b, tb, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ta, tb) = (elemType(left), elemType(right))
      // freshName for all block-level locals — see DotProduct.doGenCode
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
        int $n = $a.numElements();
        ${nullGuards(a, b, n, ev.isNull)}
        if (!${ev.isNull}) {
          double $dot = 0.0, $na = 0.0, $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double x = ${getter(ta, a, i)};
            double y = ${getter(tb, b, i)};
            $dot += x * y; $na += x * x; $nb += y * y;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
