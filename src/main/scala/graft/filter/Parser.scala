package graft.filter

import graft.functions.Lpm

import Ast._
import Lexer._

/** Recursive-descent parser mirroring reference filter-parser.c:107-255.
  * AND binds tighter than OR (CONFIG.md:294); keywords case-insensitive.
  */
object Parser {

  final case class ParseError(msg: String) extends RuntimeException(msg)

  private val geoKinds = Set("continent", "country_code", "country",
    "state", "city", "zip", "lat", "long")

  /** Known logical field names come from the registry the caller supplies
    * (FlowSchema for the flow pipeline; tests can use their own). */
  def parse(input: String,
            fieldNames: Set[String]): Either[String, Expr] =
    Lexer.tokenize(input).flatMap { toks =>
      try {
        val p = new P(toks, fieldNames.map(_.toLowerCase))
        if (p.atEnd) Right(MatchAll)
        else {
          val e = p.expression()
          if (!p.atEnd) Left(s"Unexpected token after expression: ${p.peek}")
          else Right(e)
        }
      } catch { case ParseError(m) => Left(m) }
    }

  private final class P(toks: Vector[Token], fields: Set[String]) {
    private var pos = 0
    def peek: Token = toks(pos)
    def atEnd: Boolean = peek == End
    private def advance(): Token = { val t = toks(pos); pos += 1; t }

    private def isKw(t: Token, kw: String): Boolean = t match {
      case Word(s) => s.equalsIgnoreCase(kw)
      case _       => false
    }
    private def acceptKw(kw: String): Boolean =
      if (isKw(peek, kw)) { advance(); true } else false

    private def fail(msg: String): Nothing = throw ParseError(msg)

    def expression(): Expr = {
      var e = term()
      while (acceptKw("or")) e = Or(e, term())
      e
    }

    private def term(): Expr = {
      var e = factor()
      while (acceptKw("and")) e = And(e, factor())
      e
    }

    private def factor(): Expr = {
      val inverse = acceptKw("not")
      val e: Expr =
        rule() match {
          case Some(r) => r
          case None =>
            if (peek == LParen) {
              advance()
              val inner = expression()
              if (advance() != RParen) fail("Expected ')' after expression")
              inner
            } else fail(s"Syntax error at ${peek}")
        }
      if (inverse) Not(e) else e
    }

    /** rule := function cmp | [src|dst] field values
      * (reference filter-parser.c:107-156). */
    private def rule(): Option[Expr] = {
      function().map { fn =>
        val head = valueTok().getOrElse(fail(s"Expected value after function"))
        valueList(FuncRule(fn, Seq(head)))
      }.orElse {
        fieldRule(Dir.Both).orElse {
          if (acceptKw("src")) Some(fieldRuleReq(Dir.Src))
          else if (acceptKw("dst")) Some(fieldRuleReq(Dir.Dst))
          else None
        }
      }
    }

    private def fieldRuleReq(dir: Dir): Expr =
      fieldRule(dir).getOrElse(fail(s"Expected field after direction prefix"))

    private def fieldRule(dir: Dir): Option[Expr] = peek match {
      case Word(s) if fields.contains(s.toLowerCase) =>
        advance()
        val head = valueTok().getOrElse(
          fail(s"Expected ID, INT, INT_RANGE, MAC or STRING after '$s'"))
        Some(valueList(FieldRule(dir, s.toLowerCase, Seq(head))))
      case _ => None
    }

    /** Optional `or`-continuations after the first value: another value
      * extends the list; anything else splices a sub-expression
      * (reference filter-parser.c id():47-85). */
    private def valueList(base: Expr): Expr = {
      var e = base
      var continue = true
      while (continue && isKw(peek, "or")) {
        advance()
        valueTok() match {
          case Some(v) =>
            e = e match {
              case FieldRule(d, f, vs) => FieldRule(d, f, vs :+ v)
              case FuncRule(fn, vs)    => FuncRule(fn, vs :+ v)
              case _                   => fail("unreachable value-list state")
            }
          case None =>
            e = Or(e, expression())
            continue = false
        }
      }
      e
    }

    /** A comparison value token. Bare words become CIDR literals when
      * their address part parses (a bad mask is then an error, not a
      * list name), else IP-list names (reference filter.c:186-218: a
      * non-address ID after net/host is a list name). */
    private def valueTok(): Option[Value] = peek match {
      case IntRangeTok(lo, hi) => advance(); Some(IntRange(lo, hi))
      case StrTok(s)           => advance(); Some(StrV(s))
      case MacTok(b)           => advance(); Some(MacV(b))
      case Word(s) if !isReserved(s) =>
        advance()
        Some(
          if (Lpm.parseAddress(s.takeWhile(_ != '/')).isLeft) ListName(s)
          else Cidr(Lpm.parseCidr(s).fold(fail, identity)))
      case _ => None
    }

    private def isReserved(s: String): Boolean = {
      val l = s.toLowerCase
      l == "or" || l == "and" || l == "not" || l == "src" || l == "dst" ||
        fields.contains(l) || funcNames.contains(l)
    }

    private val funcNames = Set("div", "div_r", "div_l", "min", "mfreq",
      "tfstr", "portstr", "ppstr", "asn", "asd") ++ geoKinds

    private def function(): Option[FuncCall] = peek match {
      case Word(s) if funcNames.contains(s.toLowerCase) &&
                      toks(pos + 1) == LParen =>
        advance(); advance() // name, '('
        val name = s.toLowerCase
        val fn: FuncCall = name match {
          case "div"   => val (a, b) = twoArgs(); Div(a, b)
          case "min"   => val (a, b) = twoArgs(); MinF(a, b)
          case "mfreq" => val (a, b) = twoArgs(); Mfreq(a, b)
          case "ppstr" => val (a, b) = twoArgs(); Ppstr(a, b)
          case "div_r" => val (a, b, k) = twoArgsK(); DivR(a, b, k)
          case "div_l" => val (a, b, k) = twoArgsK(); DivL(a, b, k)
          case "tfstr"   => Tfstr(oneArg())
          case "portstr" => Portstr(oneArg())
          case "asn"     => AsnFn(oneArg())
          case "asd"     => AsdFn(oneArg())
          case g if geoKinds.contains(g) => GeoFn(g, oneArg())
          case other => fail(s"Unknown function '$other'")
        }
        if (advance() != RParen) fail(s"Expected ')' after ${name} args")
        Some(fn)
      case _ => None
    }

    private def fieldRef(): FieldRef = {
      val dir =
        if (acceptKw("src")) Dir.Src
        else if (acceptKw("dst")) Dir.Dst
        else Dir.Both
      peek match {
        case Word(s) => advance(); FieldRef(dir, s.toLowerCase)
        case t       => fail(s"Expected field name in function args, got $t")
      }
    }

    private def oneArg(): FieldRef = fieldRef()

    private def twoArgs(): (FieldRef, FieldRef) = {
      val a = fieldRef()
      if (advance() != Comma) fail("Expected ',' between function args")
      (a, fieldRef())
    }

    private def twoArgsK(): (FieldRef, FieldRef, Long) = {
      val (a, b) = twoArgs()
      if (advance() != Comma) fail("Expected ',' before k argument")
      peek match {
        case IntRangeTok(lo, hi) if lo == hi => advance(); (a, b, lo)
        case t => fail(s"Expected integer k argument, got $t")
      }
    }
  }
}
