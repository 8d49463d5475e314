package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Product-quantization kernels as single codegen'd expressions.
  *
  * The declarative formulation — an `array(...)` of m·codebookSize
  * literal-dot argmax branches — unrolls to >64 KB of generated Java at
  * m=16, so Janino rejects the method and every training/encode scan
  * falls back to interpreted evaluation (observed: 3 whole-stage-codegen
  * failures per m=16 PQ run, ~2.5× wall-clock). These expressions keep the
  * tree O(1) in (m, codebookSize): the codebook rides along as a flat
  * `double[]` reference object and the generated code is three nested
  * loops that stay comfortably inside one Janino method.
  *
  * Arithmetic is kept bit-identical to the expression tree it replaces
  * (same per-subspace left-to-right accumulation, same `2c·x − ‖c‖²`
  * argmax with first-wins ties, same null-element-contributes-zero rule)
  * so PQ code assignments, and therefore gate results, are unchanged.
  */
object PqKernels {

  /** `codes: array<int>` — per-subspace argmin centroid ids for `vec`.
    *
    * @param flat2c doubled centroids, laid out `[s][c][j]` flattened
    * @param norms  per-centroid squared norms, laid out `[s][c]`
    */
  def encode(vec: Column, flat2c: Array[Double], norms: Array[Double],
             m: Int, cbSize: Int, sub: Int): Column =
    GraftSqlShim.column(PqEncode(
      GraftSqlShim.expression(vec.cast("array<double>")),
      flat2c, norms, m, cbSize, sub))

  /** ADC score: Σ_s query_sub(s) · centroid(s, codes[s]). */
  def adcScore(query: Column, codes: Column, flatCb: Array[Double],
               m: Int, cbSize: Int, sub: Int): Column =
    GraftSqlShim.column(PqAdcScore(
      GraftSqlShim.expression(query.cast("array<double>")),
      GraftSqlShim.expression(codes),
      flatCb, m, cbSize, sub))

  /** ADC squared distance: Σ_j (query_j − centroid(s, codes[s])_j)² —
    * the asymmetric-distance form ([[PqAdcDist2]]'s note on why the
    * probed-list search must rank on THIS, not [[adcScore]]).
    */
  def adcDist2(query: Column, codes: Column, flatCb: Array[Double],
               m: Int, cbSize: Int, sub: Int): Column =
    GraftSqlShim.column(PqAdcDist2(
      GraftSqlShim.expression(query.cast("array<double>")),
      GraftSqlShim.expression(codes),
      flatCb, m, cbSize, sub))
}

case class PqEncode(child: Expression, flat2c: Array[Double],
                    norms: Array[Double], m: Int, cbSize: Int, sub: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < cbSize) {
        var acc = 0.0
        val base = (s * cbSize + c) * sub
        var j = 0
        while (j < sub) {
          val idx = s * sub + j
          if (!v.isNullAt(idx)) acc += v.getDouble(idx) * flat2c(base + j)
          j += 1
        }
        val score = acc - norms(s * cbSize + c)
        if (score > bestScore) { bestScore = score; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqFlat2c", flat2c, "double[]")
    val nRef = ctx.addReferenceObj("pqNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val codes = ctx.freshName("codes")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val base = ctx.freshName("base")
      val acc = ctx.freshName("acc")
      val score = ctx.freshName("score")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      s"""
         |int[] $codes = new int[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  int $best = 0;
         |  double $bestScore = Double.NEGATIVE_INFINITY;
         |  for (int $c = 0; $c < $cbSize; $c++) {
         |    double $acc = 0.0;
         |    int $base = ($s * $cbSize + $c) * $sub;
         |    for (int $j = 0; $j < $sub; $j++) {
         |      int $idx = $s * $sub + $j;
         |      if (!$v.isNullAt($idx)) {
         |        $acc += $v.getDouble($idx) * $cbRef[$base + $j];
         |      }
         |    }
         |    double $score = $acc - $nRef[$s * $cbSize + $c];
         |    if ($score > $bestScore) { $bestScore = $score; $best = $c; }
         |  }
         |  $codes[$s] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PqAdcScore(left: Expression, right: Expression,
                      flatCb: Array[Double], m: Int, cbSize: Int, sub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  // left = query vector (array<double>), right = codes (array<int>)
  override def nullSafeEval(q: Any, cs: Any): Any = {
    val qv = q.asInstanceOf[ArrayData]
    val codes = cs.asInstanceOf[ArrayData]
    var tot = 0.0
    var s = 0
    while (s < m) {
      val code = codes.getInt(s)
      val base = (s * cbSize + code) * sub
      var p = 0.0
      var j = 0
      while (j < sub) {
        val idx = s * sub + j
        if (!qv.isNullAt(idx)) p += qv.getDouble(idx) * flatCb(base + j)
        j += 1
      }
      tot += p
      s += 1
    }
    tot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqFlatCb", flatCb, "double[]")
    nullSafeCodeGen(ctx, ev, (q, cs) => {
      val tot = ctx.freshName("tot")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val base = ctx.freshName("base")
      val p = ctx.freshName("p")
      val code = ctx.freshName("code")
      s"""
         |double $tot = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  int $code = $cs.getInt($s);
         |  int $base = ($s * $cbSize + $code) * $sub;
         |  double $p = 0.0;
         |  for (int $j = 0; $j < $sub; $j++) {
         |    int $idx = $s * $sub + $j;
         |    if (!$q.isNullAt($idx)) {
         |      $p += $q.getDouble($idx) * $cbRef[$base + $j];
         |    }
         |  }
         |  $tot += $p;
         |}
         |${ev.value} = $tot;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ADC squared distance Σ_j (q_j − ĉ_j)² where ĉ is the candidate's
  * decoded (sub)vector — the asymmetric distance of Jégou et al.'s
  * IVFADC, fused into one codegen'd pass over the m·sub positions.
  *
  * Why a second kernel: [[PqAdcScore]]'s bare dot q·ĉ ranks correctly
  * only within ONE ranking space (the flat-PQ searches, where every
  * candidate is scored against the same query vector). The probed-list
  * search scores each candidate against its LIST's query residual, and
  * a dot of residuals is not comparable across lists (it drops both the
  * per-list query-centroid term and the candidate residual norm) — at
  * higher nProbe, far-list candidates with large residual dots crowd
  * true neighbors out of the k·rerank window and recall DEGRADES as
  * probes increase (measured: 0.81 → 0.29 recall@10 at nProbe 2 → 8,
  * sf0.01, r14). ‖qr − r̂‖² approximates the list-independent ‖x − y‖²,
  * so cross-list ranking is sound and more probes buy recall
  * monotonically (BENCH_NOTES r14 / RECALL.json).
  *
  * Exactness: inputs are integer-valued micro-unit doubles (|v| < 2²²);
  * each square < 2⁴⁴ and the dim-length sum < 2⁵³, so both engines do
  * exact integer arithmetic and the candidate window replays
  * bit-for-bit in the DuckDB oracle.
  */
case class PqAdcDist2(left: Expression, right: Expression,
                      flatCb: Array[Double], m: Int, cbSize: Int, sub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_dist2"

  // left = query (residual) vector (array<double>), right = codes (array<int>)
  override def nullSafeEval(q: Any, cs: Any): Any = {
    val qv = q.asInstanceOf[ArrayData]
    val codes = cs.asInstanceOf[ArrayData]
    var tot = 0.0
    var s = 0
    while (s < m) {
      val code = codes.getInt(s)
      val base = (s * cbSize + code) * sub
      var j = 0
      while (j < sub) {
        val idx = s * sub + j
        val x = if (qv.isNullAt(idx)) 0.0 else qv.getDouble(idx)
        val d = x - flatCb(base + j)
        tot += d * d
        j += 1
      }
      s += 1
    }
    tot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqFlatCb", flatCb, "double[]")
    nullSafeCodeGen(ctx, ev, (q, cs) => {
      val tot = ctx.freshName("tot")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      val base = ctx.freshName("base")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val code = ctx.freshName("code")
      s"""
         |double $tot = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  int $code = $cs.getInt($s);
         |  int $base = ($s * $cbSize + $code) * $sub;
         |  for (int $j = 0; $j < $sub; $j++) {
         |    int $idx = $s * $sub + $j;
         |    double $x = $q.isNullAt($idx) ? 0.0 : $q.getDouble($idx);
         |    double $d = $x - $cbRef[$base + $j];
         |    $tot += $d * $d;
         |  }
         |}
         |${ev.value} = $tot;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
