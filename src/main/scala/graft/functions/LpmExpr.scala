package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A (v4, v6) LPM table pair packed for [[LpmLookup]]: both tables'
  * values sliced to one pipe-joined attribute (-1 = whole value) as
  * UTF8String, so per-row work is the search alone. The pair rides
  * along as a referenced object in the generated class — the
  * Spark-native analog of the reference's mmap'd read-only tries
  * (reference geoip.c:91-183).
  */
final class LpmPacked(val v4: Lpm.Bounds, val v6: Lpm.Bounds,
                      val values4: Array[UTF8String],
                      val values6: Array[UTF8String]) extends Serializable {
  /** v4 address: the key is (0, ip). Called from interpreted eval and
    * generated code (Java widens int/short/byte columns to this one). */
  def lookup(ip: Long): UTF8String = {
    val i = v4.search(0L, ip)
    if (i < 0) null else values4(i)
  }

  /** v6 address: 16 big-endian bytes; any other length misses. */
  def lookup(ip: Array[Byte]): UTF8String = {
    val i = v6.searchBytes(ip)
    if (i < 0) null else values6(i)
  }
}

object LpmPacked {
  def apply(v4: Lpm.Table, v6: Lpm.Table, attr: Int): LpmPacked =
    new LpmPacked(v4.bounds, v6.bounds, utf8(v4, attr), utf8(v6, attr))

  /** Pipe-joined attribute slice with limit -1 (a bare split drops
    * trailing empty fields — a record ending in '|' would then crash
    * the build with AIOOBE); an absent attribute yields "" (the
    * reference renders missing geo attributes as empty/unknown). */
  private def utf8(t: Lpm.Table, attr: Int): Array[UTF8String] =
    t.values.map(v => UTF8String.fromString(
      if (attr < 0) v else v.split("\\|", -1).lift(attr).getOrElse("")))
}

/** LPM lookup as a native Catalyst expression with whole-stage codegen
  * (SURVEY.md §2.9 — "promote to Catalyst Expressions for codegen"):
  * the matched value, NULL when no prefix covers the address. Unlike a
  * Scala UDF there is no Any-boxing, no encoder round-trip, and the
  * call stays inside the generated consume loop.
  *
  * The resolved input type picks the key reader: an integral column is a
  * v4 address (key (0, ip) into the v4 table), a binary column a v6 one
  * (16 bytes → (hi, lo) into the v6 table; any other length misses).
  * Membership is `isnotnull(lookup)`.
  */
case class LpmLookup(child: Expression, table: LpmPacked)
  extends UnaryExpression {
  // a clean analysis error beats a janino failure / per-row CCE when a
  // SQL caller hands a string column to asn() & friends
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | BinaryType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an integral (v4) or binary (v6) address, " +
        s"got ${t.sql}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "lpm_lookup"

  override def nullSafeEval(ip: Any): Any = ip match {
    case b: Array[Byte] => table.lookup(b)
    case n: Number      => table.lookup(n.longValue)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lpm", table, classOf[LpmPacked].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $ref.lookup($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object LpmExpr {
  /** Column API: the longest-prefix value of `ip` in a packed pair. */
  def lookup(table: LpmPacked)(ip: Column): Column =
    GraftBridge.toColumn(LpmLookup(GraftBridge.toExpression(ip), table))
}
