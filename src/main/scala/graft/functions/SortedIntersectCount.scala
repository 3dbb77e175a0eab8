package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.GraftColumnBridge

/** Native Catalyst expression: |a ∩ b| for two SORTED, DISTINCT long arrays,
  * by a single two-pointer merge pass — no per-row hash-set allocation the way
  * `size(array_intersect(a, b))` incurs. This sits in the hot loop of the
  * pairwise near-dup verify stages (candidate_pairs × shingle-set size), so
  * it participates in whole-stage codegen via [[doGenCode]].
  *
  * Inputs MUST be sorted ascending and duplicate-free (the shingle builders
  * produce `array_sort(array_distinct(...))`); behavior on unsorted input is
  * unspecified by design — sortedness is an upstream invariant, not checked
  * per row.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // element type must be LongType — nullSafeEval/codegen read via getLong,
    // so accepting other array types would yield garbage, not an error.
    // containsNull is tolerated only because inputs are array_distinct/
    // array_sort products that never carry null elements.
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"expects two array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val an = a.numElements(); val bn = b.numElements()
    while (i < an && j < bn) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val an = ctx.freshName("an"); val bn = ctx.freshName("bn")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $i = 0, $j = 0;
         |final int $an = $a.numElements(), $bn = $b.numElements();
         |${ev.value} = 0;
         |while ($i < $an && $j < $bn) {
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  if ($x == $y) { ${ev.value}++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayFns {
  /** The corpus word tokenizer: the lowercased text's maximal `[a-z]+`
    * runs, in order. */
  def words(text: Column): Column = {
    import org.apache.spark.sql.functions.{lit, lower, regexp_extract_all}
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
  }

  /** Column wrapper for [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      SortedIntersectCount(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Column wrappers for the [[SimKit]]-backed similarity expressions. */
  def charShingleHashes(text: Column): Column =
    GraftColumnBridge.column(CharShingleHashes(GraftColumnBridge.expression(text)))
  def tokenHashes64(text: Column): Column =
    GraftColumnBridge.column(TokenHashes64(GraftColumnBridge.expression(text)))
  def wordNgramHashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(WordNgramHashes(GraftColumnBridge.expression(text), n))
  def intraDupCounts(text: Column): Column =
    GraftColumnBridge.column(IntraDupCounts(GraftColumnBridge.expression(text)))
  def kgramHashes(toks: Column, k: Int, distinct: Boolean): Column =
    GraftColumnBridge.column(KgramHashes(GraftColumnBridge.expression(toks), k, distinct))
  /** Positional form of [[kgramHashes]] (one hash per window start). */
  def kgramHashesAt(toks: Column, k: Int): Column = kgramHashes(toks, k, distinct = false)
  /** Native BPE merge pass(es) — see [[ApplyMerges]]. */
  def applyMerges(toks: Column, rules: Seq[(String, String)], sequentialPasses: Boolean): Column =
    GraftColumnBridge.column(
      ApplyMerges(GraftColumnBridge.expression(toks), rules, sequentialPasses))
  def minhashSig(shingles: Column): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(shingles)))
  def simhash64(hashes: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(hashes)))
  def cosineSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSim(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def dotProduct(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def srpBucket(emb: Column, nBits: Int): Column =
    GraftColumnBridge.column(SrpBucket(GraftColumnBridge.expression(emb), nBits))
  def l2Norm(emb: Column): Column =
    GraftColumnBridge.column(L2Norm(GraftColumnBridge.expression(emb)))
  def editDistWithin(a: Column, b: Column, threshold: Int): Column =
    editDistWithin(a, b, org.apache.spark.sql.functions.lit(threshold))
  /** Per-row threshold variant: each pair gets its own exact DP band. */
  def editDistWithin(a: Column, b: Column, threshold: Column): Column =
    GraftColumnBridge.column(
      EditDistWithin(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b),
        GraftColumnBridge.expression(threshold)))
}
