package graft.query

/** Recursive-descent parser for the JEXL subset the reference supports
  * (SURVEY.md §2.9 — replaces commons-jexl `Parser` + `QueryParser`
  * visitor, `query/.../parser/QueryParser.java:89-311`):
  *
  *   expr    := or
  *   or      := and (('or' | '||') and)*
  *   and     := unary (('and' | '&&') unary)*
  *   unary   := ('not' | '!') unary | '(' expr ')' | comparison
  *   compare := operand (op operand)? | 'f' ':' ident '(' args ')'
  *   op      := == != < <= > >= =~ !~ eq ne lt le gt ge
  *   operand := ident | 'string' | "string" | number
  *
  * Keywords are case-insensitive (the reference lowercases AND/OR/NOT
  * before JEXL parse, `AbstractQueryLogic.java:463-467`). Reversed
  * comparisons (`'abc' == TITLE`) are normalized to field-on-the-left.
  */
object QueryParser {

  final case class ParseException(msg: String) extends RuntimeException(msg)

  // ---- lexer -------------------------------------------------------------
  sealed trait Tok
  case class TIdent(s: String)  extends Tok
  case class TStr(s: String)    extends Tok
  case class TNum(s: String)    extends Tok
  case class TOp(s: String)     extends Tok
  case class TPunct(s: String)  extends Tok

  private def lex(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val quote = c
        val sb    = new StringBuilder
        i += 1
        while (i < n && q(i) != quote) {
          if (q(i) == '\\' && i + 1 < n) { sb.append(q(i + 1)); i += 2 }
          else { sb.append(q(i)); i += 1 }
        }
        if (i >= n) throw ParseException(s"unterminated string in: $q")
        i += 1
        out += TStr(sb.toString)
      } else if (c.isDigit || (c == '-' && i + 1 < n && q(i + 1).isDigit)) {
        val start = i
        i += 1
        while (i < n && (q(i).isDigit || q(i) == '.')) i += 1
        out += TNum(q.substring(start, i))
      } else if (c.isLetter || c == '_' || c == '$') {
        val start = i
        while (i < n && (q(i).isLetterOrDigit || q(i) == '_' || q(i) == '.' || q(i) == '$')) i += 1
        out += TIdent(q.substring(start, i))
      } else if (c == '(' || c == ')' || c == ',' || c == ':') {
        out += TPunct(c.toString); i += 1
      } else {
        val two = if (i + 1 < n) q.substring(i, i + 2) else ""
        two match {
          case "==" | "!=" | "<=" | ">=" | "=~" | "!~" | "&&" | "||" =>
            out += TOp(two); i += 2
          case _ =>
            c match {
              case '<' | '>' => out += TOp(c.toString); i += 1
              case '!'       => out += TOp("!"); i += 1
              case _         => throw ParseException(s"unexpected char '$c' at $i in: $q")
            }
        }
      }
    }
    out.result()
  }

  private val opMap = Map(
    "==" -> Op.EQ, "!=" -> Op.NE, "<" -> Op.LT, "<=" -> Op.LE,
    ">" -> Op.GT, ">=" -> Op.GE, "=~" -> Op.RE, "!~" -> Op.NRE,
    "eq" -> Op.EQ, "ne" -> Op.NE, "lt" -> Op.LT, "le" -> Op.LE,
    "gt" -> Op.GT, "ge" -> Op.GE)

  // ---- parser ------------------------------------------------------------
  private class P(val toks: Vector[Tok]) {
    var pos = 0
    def atEnd: Boolean = pos == toks.length
    def peek: Option[Tok]     = if (pos < toks.length) Some(toks(pos)) else None
    def next(): Tok = {
      if (pos >= toks.length) throw ParseException("unexpected end of input")
      val t = toks(pos); pos += 1; t
    }
    def expect(p: Tok): Unit =
      if (peek.contains(p)) pos += 1
      else throw ParseException(s"expected $p, found $peek")

    private def kw(t: Tok, ws: String*): Boolean = t match {
      case TIdent(s) => ws.contains(s.toLowerCase)
      case TOp(s)    => ws.contains(s)
      case _         => false
    }

    def parseExpr(): QExpr = parseOr()

    def parseOr(): QExpr = {
      var cur = Seq(parseAnd())
      while (peek.exists(kw(_, "or", "||"))) { next(); cur :+= parseAnd() }
      if (cur.size == 1) cur.head else Or(cur)
    }

    def parseAnd(): QExpr = {
      var cur = Seq(parseUnary())
      while (peek.exists(kw(_, "and", "&&"))) { next(); cur :+= parseUnary() }
      if (cur.size == 1) cur.head else And(cur)
    }

    def parseUnary(): QExpr = peek match {
      case Some(t) if kw(t, "not", "!") => next(); Not(parseUnary())
      case Some(TPunct("(")) =>
        next(); val e = parseExpr(); expect(TPunct(")")); e
      case _ => parseComparison()
    }

    private def operand(): Either[String, String] = next() match {
      // Left(fieldName) | Right(literal)
      case TIdent(s) if opMap.contains(s.toLowerCase) =>
        throw ParseException(s"operator '$s' where operand expected")
      case TIdent(s) => Left(s)
      case TStr(s)   => Right(s)
      case TNum(s)   => Right(s)
      case t         => throw ParseException(s"unexpected token $t")
    }

    def parseComparison(): QExpr = {
      // function call?  f:name(arg, ...)
      (peek, if (pos + 1 < toks.length) Some(toks(pos + 1)) else None) match {
        case (Some(TIdent(ns)), Some(TPunct(":"))) =>
          next(); next()
          val name = next() match {
            case TIdent(s) => s
            case t         => throw ParseException(s"bad function name $t")
          }
          expect(TPunct("("))
          val args = Seq.newBuilder[String]
          var done = peek.contains(TPunct(")"))
          while (!done) {
            args += (operand() match { case Left(f) => f; case Right(l) => l })
            peek match {
              case Some(TPunct(",")) => next()
              case Some(TPunct(")")) => done = true
              case t                 => throw ParseException(s"bad function args at $t")
            }
          }
          expect(TPunct(")"))
          val ft = FnTerm(s"$ns:$name".toLowerCase match {
            case s if s.startsWith("f:") => s.stripPrefix("f:")
            case s                       => s
          }, args.result())
          // optional comparison of the function result: f:abs(X) >= 2
          peek match {
            case Some(TOp(o)) if opMap.contains(o) =>
              next()
              operand() match {
                case Right(l) => FnCmp(ft, opMap(o), l)
                case Left(f) =>
                  throw ParseException(s"function compared to field unsupported: $f")
              }
            case Some(TIdent(o)) if opMap.contains(o.toLowerCase) =>
              next()
              operand() match {
                case Right(l) => FnCmp(ft, opMap(o.toLowerCase), l)
                case Left(f) =>
                  throw ParseException(s"function compared to field unsupported: $f")
              }
            case _ => ft
          }
        case _ =>
          val lhs = operand()
          peek match {
            case Some(TOp(o)) if opMap.contains(o) =>
              next()
              val rhs = operand()
              (lhs, rhs) match {
                case (Left(f), Right(l))  => Term(f.toUpperCase, opMap(o), l)
                case (Right(l), Left(f))  => Term(f.toUpperCase, reflect(opMap(o)), l)
                case (Left(f), Left(g))   =>
                  throw ParseException(s"field-to-field comparison unsupported: $f $o $g")
                case (Right(a), Right(b)) =>
                  throw ParseException(s"literal-to-literal comparison unsupported: $a $o $b")
              }
            case Some(TIdent(o)) if opMap.contains(o.toLowerCase) =>
              next()
              val rhs = operand()
              (lhs, rhs) match {
                case (Left(f), Right(l)) => Term(f.toUpperCase, opMap(o.toLowerCase), l)
                case (Right(l), Left(f)) => Term(f.toUpperCase, reflect(opMap(o.toLowerCase)), l)
                case _                   => throw ParseException(s"unsupported comparison")
              }
            case _ =>
              lhs match {
                case Right(l) => BareTerm(l) // unfielded term
                case Left(f)  => BareTerm(f) // bare ident treated as term text
              }
          }
      }
    }

    /** `'x' < FIELD` ≡ `FIELD > 'x'` — flip directional ops. */
    private def reflect(op: Op.Value): Op.Value = op match {
      case Op.LT => Op.GT; case Op.GT => Op.LT
      case Op.LE => Op.GE; case Op.GE => Op.LE
      case other => other
    }
  }

  // Bounded parse memo — the reference keeps a Murmur-keyed LRU of parsed
  // queries (`QueryParser.java:241-308`, `QueryEvaluator.java:51-56`).
  private val memo = new graft.Lru[String, QExpr](128)

  /** Parse + normalize (De Morgan to leaves, flattened conjunctions). */
  def parse(query: String): QExpr = memo.getOrElseUpdate(query) {
    val p = new P(lex(query))
    val e = p.parseExpr()
    if (!p.atEnd) throw ParseException(s"trailing tokens after position ${p.pos} in: $query")
    QExpr.normalize(e)
  }
}
