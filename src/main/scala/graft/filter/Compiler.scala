package graft.filter

import graft.flow.FlowSchema
import graft.flow.FlowSchema._
import graft.functions.{GeoDb, IpList, Lpm, NetFns}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import Ast._

/** Compilation environment: how logical names resolve to Columns of the
  * concrete DataFrame, plus lookup providers. The reference compiles its
  * filter to RPN bytecode interpreted per row (filter.c:960-1012); here we
  * emit a Catalyst Column tree instead, so whole-stage codegen evaluates
  * the predicate and Catalyst pushes it down (SURVEY.md §3.1).
  */
final case class FilterEnv(
    spark: SparkSession,
    fields: Map[String, (LKind, Column, Column)], // name → (kind, src, dst)
    measures: Map[String, Column],                // aggregable name → raw col
    ipLists: Map[String, IpList] = Map.empty,
    geo: Option[GeoDb] = None,
    /** per-batch port-frequency table for mfreq (SURVEY.md §7.3: the
      * reference's running global counter has no faithful distributed
      * equivalent; we use a two-pass per-batch table, documented). */
    mfreq: Map[Long, Long] = Map.empty) {

  def fieldNames: Set[String] = fields.keySet ++ measures.keySet
}

object FilterEnv {
  /** Standard env over a DataFrame carrying canonical flow columns. */
  def flow(spark: SparkSession,
           ipLists: Map[String, IpList] = Map.empty,
           geo: Option[GeoDb] = None,
           mfreq: Map[Long, Long] = Map.empty): FilterEnv =
    FilterEnv(
      spark,
      FlowSchema.logicalFields.map(f =>
        f.name -> ((f.kind, col(f.srcCol), col(f.dstCol)))).toMap,
      FlowSchema.measures.map(m => m.name -> col(m.col)).toMap,
      ipLists, geo, mfreq)
}

object Compiler {

  /** User-config semantic error (unknown field/list, type mismatch) —
    * the ONLY exception [[filterColumn]] converts to Left. Anything
    * else escaping compile is a compiler bug and must stay a crash,
    * not masquerade as a config problem. */
  final class FilterError(msg: String) extends RuntimeException(msg)
  private def fail(msg: String): Nothing = throw new FilterError(msg)

  /** Parse + compile a filter string to a boolean Column. Semantic
    * errors surface as Left like parse errors — the filter text is
    * user config, and the contract is Either, not an exception. */
  def filterColumn(input: String, env: FilterEnv): Either[String, Column] =
    Parser.parse(input, env.fieldNames).flatMap { e =>
      try Right(compile(e, env))
      catch { case ex: FilterError => Left(ex.getMessage) }
    }

  def compile(e: Expr, env: FilterEnv): Column = e match {
    case MatchAll    => lit(true)
    case Or(l, r)    => compile(l, env) || compile(r, env)
    case And(l, r)   => compile(l, env) && compile(r, env)
    case Not(x)      => !compile(x, env)
    case FieldRule(dir, name, values) =>
      val (kind, srcC, dstC) = env.fields.getOrElse(name,
        env.measures.get(name).map(c => (RangeL: LKind, c, c))
          .getOrElse(fail(s"Unknown field '$name'")))
      val cols: Seq[Column] = dir match {
        case Dir.Src  => Seq(srcC)
        case Dir.Dst  => Seq(dstC)
        case Dir.Both =>
          // same underlying column → single test; else src OR dst
          // (reference filter.c:328-337)
          if (srcC == dstC) Seq(srcC) else Seq(srcC, dstC)
      }
      values.flatMap(v => cols.map(c => matchValue(kind, c, v, env)))
        .reduce(_ || _)
    case FuncRule(fn, values) =>
      val c = funcColumn(fn, env)
      values.map(v => matchFuncValue(fn, c, v)).reduce(_ || _)
  }

  /** One (column, literal) predicate, by field kind
    * (reference filter.c:255-656). */
  private def matchValue(kind: LKind, c: Column, v: Value,
                         env: FilterEnv): Column = (kind, v) match {
    case (RangeL, IntRange(lo, hi)) =>
      if (lo == hi) c === lit(lo) else c.between(lit(lo), lit(hi))
    case (Addr4L, Cidr(p)) if p.bits == 32 =>
      // (addr & mask) == network (reference filter.c:255-357)
      val net = p.start.toLong
      if (p.maskLen == 0) c.isNotNull
      else if (p.maskLen == 32) c === lit(net)
      else {
        val mask = ((1L << p.maskLen) - 1) << (32 - p.maskLen)
        c.bitwiseAND(lit(mask)) === lit(net)
      }
    case (Addr6L, Cidr(p)) if p.bits == 128 =>
      // a one-prefix list: the same membership as below, reading the
      // address once per row (a derived column is not re-evaluated)
      IpList("", Lpm.build(Nil), Lpm.build(Seq(p))).contains(c)
    case (Addr4L | Addr6L, ListName(nm)) =>
      // codegen'd LPM membership, no UDF; the column type picks the family
      env.ipLists.getOrElse(nm, fail(s"Unknown IP list '$nm'")).contains(c)
    case (MacL, MacV(bytes)) => c === lit(bytes)
    case (StringL, StrV(s))  => c === lit(s)
    // bare word after a string field = literal string. The reference
    // only DEFINES quoted strings here (filter.c:159-233 stores the
    // value solely for STRING tokens; a bare-word ID after a string
    // field leaves the filter datum uninitialized — undefined
    // behavior), so accepting the bare word as its literal text is a
    // strictly-wider convenience, consistent with matchFuncValue's
    // rule for string functions. Words that lex as CIDR/MAC tokens
    // still need quotes — they fail below with an explicit type error
    // instead of silently comparing a reconstructed spelling.
    case (StringL, ListName(s)) => c === lit(s)
    // int compared where string expected etc. — reference treats a number
    // after a string field as a literal string
    case (StringL, IntRange(lo, hi)) if lo == hi => c === lit(lo.toString)
    case (k, other) =>
      fail(s"Type mismatch: field kind $k vs value $other")
  }

  /** String-returning functions compare textually (reference keeps these
    * as char* compares, filter.c:753-787) — an ANSI int cast of "?" would
    * throw otherwise. */
  private def returnsString(fn: FuncCall): Boolean = fn match {
    case _: Tfstr | _: Portstr | _: Ppstr | _: GeoFn | _: AsnFn |
         _: AsdFn => true
    case _ => false
  }

  private def matchFuncValue(fn: FuncCall, c: Column, v: Value): Column =
    v match {
      case IntRange(lo, hi) if returnsString(fn) =>
        if (lo == hi) c === lit(lo.toString)
        else fail(s"Range compare on string function $fn")
      case IntRange(lo, hi) =>
        if (lo == hi) c === lit(lo) else c.between(lit(lo), lit(hi))
      case StrV(s)    => c === lit(s)
      case ListName(s)=> c === lit(s) // bare word after string fn = literal
      case other      => fail(s"Unsupported function comparison: $other")
    }

  /** Resolve a function argument `[src|dst] name` to a Column. */
  def argColumn(ref: FieldRef, env: FilterEnv): Column =
    env.measures.get(ref.name) match {
      case Some(c) => c
      case None =>
        val (_, srcC, dstC) = env.fields.getOrElse(ref.name,
          fail(s"Unknown function arg field '${ref.name}'"))
        ref.dir match {
          case Dir.Src => srcC
          case Dir.Dst => dstC
          case Dir.Both =>
            if (srcC == dstC) srcC
            else fail(
              s"Function arg '${ref.name}' requires src/dst direction")
        }
    }

  /** Function call → Column (SURVEY.md §2.3 mapping table). */
  def funcColumn(fn: FuncCall, env: FilterEnv): Column = fn match {
    case Div(a, b)      => NetFns.xdiv(argColumn(a, env), argColumn(b, env))
    case DivR(a, b, k)  => NetFns.xdivR(argColumn(a, env), argColumn(b, env), k)
    case DivL(a, b, k)  => NetFns.xdivL(argColumn(a, env), argColumn(b, env), k)
    case MinF(a, b)     => NetFns.xmin(argColumn(a, env), argColumn(b, env))
    case Tfstr(a)       => NetFns.tfstr(argColumn(a, env))
    case Portstr(a)     => NetFns.portstr(argColumn(a, env))
    case Ppstr(a, b)    => NetFns.ppstr(argColumn(a, env), argColumn(b, env))
    case Mfreq(a, b)    =>
      // per-batch two-pass approximation of the reference's running
      // frequency counter (filter.c:711-751; ties → smaller value; the
      // reference's double-increment of arg1 — filter.c:736-739 — is a
      // bug we deliberately do not replicate, SURVEY.md §7.4)
      val fa = freqOf(argColumn(a, env), env)
      val fb = freqOf(argColumn(b, env), env)
      val ca = argColumn(a, env)
      val cb = argColumn(b, env)
      when(fa > fb, ca).when(fb > fa, cb).otherwise(least(ca, cb))
    // the arg column's type picks the v4 or v6 tables (LpmLookup)
    case GeoFn(kind, a) =>
      env.geo.fold(lit("?"))(_.geo(kind)(argColumn(a, env)))
    case AsnFn(a) => env.geo.fold(lit("?"))(_.asn(argColumn(a, env)))
    case AsdFn(a) => env.geo.fold(lit("?"))(_.asd(argColumn(a, env)))
  }

  private def freqOf(c: Column, env: FilterEnv): Column = {
    if (env.mfreq.isEmpty) lit(0L)
    else {
      val m = typedlit(env.mfreq)
      coalesce(element_at(m, c.cast(LongType)), lit(0L))
    }
  }
}
