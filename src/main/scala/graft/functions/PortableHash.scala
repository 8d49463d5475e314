package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Cross-engine-replicable hash family: a 60-bit integer from the MD5 of
  * a string (first 15 hex chars). Any engine with md5() replicates it
  * bit-for-bit — the DuckDB oracle uses
  * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` — which turns minhash /
  * simhash / fingerprint outputs into oracle-checkable values, unlike
  * xxhash64 (Spark-only). Spark computes it as [[Md5_64]]: one MD5 over
  * the input bytes, read straight off the digest with no hex string
  * (MD5 still costs several times an xxhash64). The operators below pay
  * it ONCE per input and derive k independent functions arithmetically:
  * `(a_i·(h mod p) + b_i) mod p` over the Mersenne prime p = 2³¹−1, so
  * every product fits in 63 bits on any engine with 64-bit integers.
  */
object PortableHash {

  /** 2³¹−1 (Mersenne prime): a·h stays under 2⁶² for a, h < p. */
  val Mod31: Long = 2147483647L

  /** 60-bit hash of a string column (MD5-derived, engine-portable). */
  def md5_64(c: Column): Column =
    GraftSqlShim.column(Md5_64(GraftSqlShim.expression(c.cast("binary"))))

  /** DuckDB SQL computing the same value as [[md5_64]]. */
  def sqlMd5_64(expr: String): String =
    s"CAST('0x' || substr(md5($expr),1,15) AS BIGINT)"

  /** LCG-style multipliers/offsets for the derived family — plain
    * literals so oracle SQL can inline the identical constants.
    */
  def mulOf(i: Int): Long = (1103515245L * (i + 1)) % Mod31
  def addOf(i: Int): Long = (12345L * (i + 1)) % Mod31

  /** Derived hash #i of a base hash already reduced mod [[Mod31]]. */
  def derived(h31: Column, i: Int): Column =
    (lit(mulOf(i)) * h31 + lit(addOf(i))) % lit(Mod31)

  /** DuckDB SQL computing the same value as [[derived]]. */
  def sqlDerived(h31expr: String, i: Int): String =
    s"((${mulOf(i)} * $h31expr + ${addOf(i)}) % $Mod31)"

  private final class Md5Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
  }
  private val scratch = ThreadLocal.withInitial(() => new Md5Scratch)

  /** The top 60 bits of the MD5 digest of `bytes[off, off + len)`: the
    * value of its first 15 hex digits, which is what [[sqlMd5_64]]
    * computes. The one helper behind [[Md5_64]] and [[MinHashSig]].
    */
  def md5Top60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val s = scratch.get()
    s.md.update(bytes, off, len)
    s.md.digest(s.digest, 0, 16)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (s.digest(i) & 0xffL); i += 1 }
    h >>> 4
  }
}

/** `md5_64(bytes)`: [[PortableHash.md5Top60]] of a binary column, the
  * generated code one call to the shared helper (`graft_md5_64` in SQL).
  * Nullable like the hex-string `conv` form it replaces, so schemas are
  * unchanged.
  */
case class Md5_64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_md5_64"

  override def nullSafeEval(b: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    PortableHash.md5Top60(bytes, 0, bytes.length)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PortableHash.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, b => s"$cls.md5Top60($b, 0, $b.length)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
