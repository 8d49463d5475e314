package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row MinHash signature of a text: k minima of the
  * [[PortableHash]] family over the text's word n-grams
  * ([[graft.operators.Dedup.ngrams]]), folded in one loop.
  *
  * Words are the text split on byte 0x20, empty words included, so each
  * gram is the contiguous byte range of n words; a text of fewer than n
  * words is one whole-text gram. Each gram is hashed once
  * ([[PortableHash.md5Top60]] mod 2³¹−1) and every derived hash
  * `(mulOf(i)·h + addOf(i)) mod 2³¹−1` folds into the running minimum i.
  * A null text hashes as the empty text, its one gram the empty string.
  * Text that is not valid UTF-8 is first decoded and re-encoded, as the
  * `split` of the column form does, so malformed bytes hash as U+FFFD.
  *
  * Codegen'd (same rationale as [[RollingMinHash]]): the column form —
  * split, transform, array_distinct, then an `aggregate`/`zip_with` fold
  * — runs interpreted higher-order functions per gram.
  */
case class MinHashSig(child: Expression, shingleN: Int, k: Int)
    extends UnaryExpression {
  require(shingleN >= 1 && k >= 1,
    s"MinHashSig: shingleN $shingleN and k $k must be ≥ 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def eval(input: InternalRow): Any =
    MinHashSig.signature(child.eval(input).asInstanceOf[UTF8String], shingleN, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cls = MinHashSig.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        $cls.signature(${c.isNull} ? null : ${c.value}, $shingleN, $k);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {

  def signature(text: UTF8String, n: Int, k: Int): ArrayData = {
    val t =
      if (text == null) UTF8String.EMPTY_UTF8
      else if (text.isValid) text
      else UTF8String.fromString(text.toString)
    val bytes = t.getBytes
    val len = bytes.length
    // starts(j) = first byte of word j; starts(words) = len + 1, so word
    // j ends at starts(j + 1) − 1 (the separating space)
    var words = 1
    var p = 0
    while (p < len) { if (bytes(p) == ' ') words += 1; p += 1 }
    val starts = new Array[Int](words + 1)
    var j = 1
    p = 0
    while (p < len) { if (bytes(p) == ' ') { starts(j) = p + 1; j += 1 }; p += 1 }
    starts(words) = len + 1
    val mul = Array.tabulate(k)(PortableHash.mulOf)
    val add = Array.tabulate(k)(PortableHash.addOf)
    val sig = Array.fill(k)(Long.MaxValue)
    def fold(off: Int, glen: Int): Unit = {
      val h = PortableHash.md5Top60(bytes, off, glen) % PortableHash.Mod31
      var i = 0
      while (i < k) {
        val d = (mul(i) * h + add(i)) % PortableHash.Mod31
        if (d < sig(i)) sig(i) = d
        i += 1
      }
    }
    if (words < n) fold(0, len)
    else {
      var g = 0
      while (g <= words - n) {
        fold(starts(g), starts(g + n) - 1 - starts(g))
        g += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Column API: `MinHashSig(text, shingleN, k)` over a string column. */
  def apply(text: Column, shingleN: Int, k: Int): Column =
    GraftSqlShim.column(new MinHashSig(
      GraftSqlShim.expression(text.cast("string")), shingleN, k))
}
