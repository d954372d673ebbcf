package graft.filter

/** AST for the BPF-like filter DSL.
  *
  * Grammar (reference filter-parser.c:107-255, CONFIG.md:294):
  * {{{
  *   expression := term (OR term)*
  *   term       := factor (AND factor)*
  *   factor     := [NOT] (rule | '(' expression ')')
  *   rule       := function cmpList | [src|dst] field valueList
  * }}}
  * A value list is one or more values; `or` followed by a value continues
  * the list (implicit OR, reference filter-parser.c:47-85); `or` followed
  * by anything else splices a whole sub-expression OR'd with the rule.
  * Keywords are case-insensitive (reference filter-lexer.c:145).
  */
object Ast {

  sealed trait Dir
  object Dir {
    case object Both extends Dir
    case object Src  extends Dir
    case object Dst  extends Dir
  }

  /** One literal value a field/function is compared against. */
  sealed trait Value
  /** Single int or inclusive range `lo-hi` (reference filter-lexer.c:270-291;
    * a lone int has lo == hi). */
  final case class IntRange(lo: Long, hi: Long) extends Value
  /** Quoted string literal. */
  final case class StrV(s: String) extends Value
  /** IPv4 or IPv6 CIDR as its canonical prefix; a bare address is
    * /32 or /128 (reference filter.c:86-156). */
  final case class Cidr(p: graft.functions.Lpm.Prefix) extends Value
  /** MAC literal, 6 bytes (reference utils.c mac_addr_read). */
  final case class MacV(bytes: Array[Byte]) extends Value
  /** Named IP list — longest-prefix-match membership
    * (reference iplist.c, filter.c:186-218). */
  final case class ListName(name: String) extends Value

  /** Scalar functions usable in rules and fieldsets
    * (reference filter-parser-funcs.c, SURVEY.md §2.3).
    * Each arg is a `[src|dst] field` reference. */
  final case class FieldRef(dir: Dir, name: String)

  sealed trait FuncCall { def args: Seq[FieldRef] }
  final case class Div(a: FieldRef, b: FieldRef) extends FuncCall { def args = Seq(a, b) }
  final case class DivR(a: FieldRef, b: FieldRef, k: Long) extends FuncCall { def args = Seq(a, b) }
  final case class DivL(a: FieldRef, b: FieldRef, k: Long) extends FuncCall { def args = Seq(a, b) }
  final case class MinF(a: FieldRef, b: FieldRef) extends FuncCall { def args = Seq(a, b) }
  final case class Mfreq(a: FieldRef, b: FieldRef) extends FuncCall { def args = Seq(a, b) }
  final case class Tfstr(a: FieldRef) extends FuncCall { def args = Seq(a) }
  final case class Portstr(a: FieldRef) extends FuncCall { def args = Seq(a) }
  final case class Ppstr(a: FieldRef, b: FieldRef) extends FuncCall { def args = Seq(a, b) }
  /** kind ∈ continent, country_code, country, state, city, zip, lat, long
    * (reference geoip.h:13-28). */
  final case class GeoFn(kind: String, a: FieldRef) extends FuncCall { def args = Seq(a) }
  final case class AsnFn(a: FieldRef) extends FuncCall { def args = Seq(a) }
  final case class AsdFn(a: FieldRef) extends FuncCall { def args = Seq(a) }

  sealed trait Expr
  final case class Or(l: Expr, r: Expr)  extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr)          extends Expr
  /** `[src|dst] field v1 [or v2 ...]` — matches if ANY value matches. */
  final case class FieldRule(dir: Dir, field: String, values: Seq[Value]) extends Expr
  /** `func(args) v1 [or v2 ...]`. */
  final case class FuncRule(fn: FuncCall, values: Seq[Value]) extends Expr
  /** Empty filter matches everything (reference filter.c:968-971). */
  case object MatchAll extends Expr
}
