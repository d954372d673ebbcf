package graft.functions

import graft.flow.BuiltinTables
import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL-registry exposure of the engine's function surface: after
  * `SqlFunctions.registerAll(spark)`, every scalar the reference's filter
  * DSL offers is callable from plain `spark.sql(...)` — `tfstr(flags)`,
  * `portstr(port)`, `ppstr(sp,dp)`, `xdiv/xdiv_r/xdiv_l`, `ip4str(ip)`,
  * `country_code(ip)`/`asn(ip)`/... and `ip_in_list(ip, 'bogon')`.
  *
  * Registration uses temp functions on the live session (the runtime
  * equivalent of injectFunction in a SparkSessionExtensions; both paths
  * build the same Expressions).
  */
object SqlFunctions {

  private def colOf(e: Expression): Column = GraftBridge.toColumn(e)

  private def register(spark: SparkSession, name: String,
                       fn: Seq[Expression] => Column): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => GraftBridge.lower(fn(exprs)), "scala_udf")

  private def longArg(e: Expression): Long =
    e.eval(null) match {
      case i: Int  => i.toLong
      case l: Long => l
      case other   => sys.error(s"expected integer literal, got $other")
    }
  private def strArg(e: Expression): String =
    String.valueOf(e.eval(null))

  /** The function surface as (name, builder) pairs — shared by
    * [[registerAll]] (temp functions on a live session) and
    * [[graft.GraftExtensions]] (injectFunction at session build).
    * No builder needs a session, so the list itself can be built
    * before any session exists (the extensions path). */
  def builders(geo: GeoDb = BuiltinTables.geoDb,
               ipLists: Map[String, IpList] = BuiltinTables.ipLists)
      : Seq[(String, Seq[Expression] => Column)] = {
    type Builder = Seq[Expression] => Column
    // every LPM builder answers to its v4 and its v6 name: the argument's
    // type picks the family ([[LpmLookup]])
    val lpm = Seq[((String, String), Builder)](
      ("asn", "asn6") -> (es => geo.asn(colOf(es.head))),
      ("asd", "asd6") -> (es => geo.asd(colOf(es.head))),
      ("ip_in_list", "ip6_in_list") -> (es => {
        val nm = strArg(es(1))
        ipLists.getOrElse(nm, sys.error(s"unknown IP list '$nm'"))
          .contains(colOf(es(0)))
      })) ++
      GeoDb.attrs.map(attr =>
        (attr, s"${attr}6") -> ((es: Seq[Expression]) =>
          geo.geo(attr)(colOf(es.head))))
    Seq[(String, Builder)](
      "tfstr" -> (es => NetFns.tfstr(colOf(es.head))),
      "portstr" -> (es => NetFns.portstr(colOf(es.head))),
      "ppstr" -> (es => NetFns.ppstr(colOf(es(0)), colOf(es(1)))),
      "xdiv" -> (es => NetFns.xdiv(colOf(es(0)), colOf(es(1)))),
      "xdiv_r" -> (es =>
        NetFns.xdivR(colOf(es(0)), colOf(es(1)), longArg(es(2)))),
      "xdiv_l" -> (es =>
        NetFns.xdivL(colOf(es(0)), colOf(es(1)), longArg(es(2)))),
      "ip4str" -> (es => NetFns.ip4str(colOf(es.head))),
      "ip6str" -> (es => NetFns.ip6str(colOf(es.head))),
      "hash_bucket" -> (es =>
        graft.operators.Curation.hashBucket(colOf(es.head))),
      "vec_dot" -> (es =>
        graft.operators.Similarity.dot(colOf(es(0)), colOf(es(1)))),
      "vec_cosine" -> (es =>
        graft.operators.Similarity.cosineNullSafe(
          colOf(es(0)), colOf(es(1)))),
      "lsh_signature" -> (es =>
        graft.operators.Similarity.lshSignature(colOf(es.head),
          longArg(es(1)).toInt, longArg(es(2)).toInt))) ++
      lpm.flatMap { case ((n4, n6), fn) => Seq(n4 -> fn, n6 -> fn) }
  }

  def registerAll(spark: SparkSession,
                  geo: GeoDb = BuiltinTables.geoDb,
                  ipLists: Map[String, IpList] =
                    BuiltinTables.ipLists): Unit = {
    builders(geo, ipLists).foreach { case (n, fn) =>
      register(spark, n, fn)
    }
  }
}
