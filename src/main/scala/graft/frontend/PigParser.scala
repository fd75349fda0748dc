package graft.frontend

import PigAst._
import scala.collection.mutable.ArrayBuffer

/** Hand-rolled lexer + recursive-descent parser for the Pig Latin subset
  * (reference: src/org/apache/pig/parser/QueryLexer.g + QueryParser.g —
  * re-derived, not translated; covers the statement/expression surface of
  * SURVEY §2.1/§2.5 — macros/DEFINE/params expand textually beforehand in
  * [[PigPreprocessor]]; STREAM THROUGH and nested FOREACH blocks parse
  * here).
  *
  * Keywords are case-insensitive; aliases/field names case-sensitive
  * (matching the reference's lexer modes).
  */
object PigParser {

  // ----------------------------------------------------------------- lexer
  sealed trait Tok
  case class Ident(s: String) extends Tok
  case class Kw(s: String) extends Tok        // uppercased keyword
  case class NumLit(v: Any) extends Tok
  case class StrLit(s: String) extends Tok
  case class BtLit(s: String) extends Tok     // `backtick command string`
  case class Sym(s: String) extends Tok
  case object EOF extends Tok

  private val keywords = Set(
    "LOAD", "USING", "AS", "FILTER", "BY", "FOREACH", "GENERATE", "GROUP",
    "COGROUP", "ALL", "JOIN", "LEFT", "RIGHT", "FULL", "OUTER", "INNER",
    "CROSS", "ORDER", "ASC", "DESC", "RANK", "DENSE", "LIMIT", "DISTINCT",
    "UNION", "ONSCHEMA", "SPLIT", "INTO", "IF", "OTHERWISE", "SAMPLE",
    "CUBE", "ROLLUP", "STORE", "DUMP", "DESCRIBE", "AND", "OR", "NOT",
    "IN", "IS", "NULL", "MATCHES", "FLATTEN", "TRUE", "FALSE", "CASE",
    "WHEN", "THEN", "ELSE", "END", "STREAM", "THROUGH", "PARALLEL",
    "EXPLAIN", "ILLUSTRATE", "SET", "ASSERT", "PARTITION", "MAPREDUCE",
    "NATIVE", "REGISTER",
    // legacy comparison keywords (QueryLexer.g STR_OP_*: reserved words)
    "EQ", "NEQ", "GT", "LT", "GTE", "LTE")

  /** Primitive type names legal in a `(type) expr` cast. */
  private val primTypeNames = Set("int", "long", "float", "double",
    "chararray", "boolean", "biginteger", "bigdecimal", "datetime",
    "bytearray")

  def tokenize(src: String): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = src.length
    def peek(k: Int = 0): Char = if (i + k < n) src.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && peek(1) == '-') { // line comment
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && peek(1) == '*') {
        i += 2; while (i < n && !(src.charAt(i) == '*' && peek(1) == '/')) i += 1
        i += 2
      } else if (c == '\'') {
        val sb = new StringBuilder; i += 1
        while (i < n && src.charAt(i) != '\'') {
          if (src.charAt(i) == '\\' && i + 1 < n) {
            // decode escapes like the reference's QueryLexer — PigStorage('\t')
            // must mean a TAB, not the letter t
            src.charAt(i + 1) match {
              case 't' => sb.append('\t'); i += 2
              case 'n' => sb.append('\n'); i += 2
              case 'r' => sb.append('\r'); i += 2
              // \uXXXX like the reference's QueryLexer (PigStorage('\\u0001')
              // is PigMix's field separator)
              case 'u' if i + 5 < n &&
                  src.substring(i + 2, i + 6).forall(ch =>
                    Character.digit(ch, 16) >= 0) =>
                sb.append(Integer.parseInt(src.substring(i + 2, i + 6), 16)
                  .toChar)
                i += 6
              case other => sb.append(other); i += 2 // \\, \', passthrough
            }
          } else { sb.append(src.charAt(i)); i += 1 }
        }
        if (i >= n) throw new IllegalArgumentException(
          s"unterminated string literal: '${sb.toString.take(40)}…")
        i += 1; out += StrLit(sb.toString)
      } else if (c == '`') { // verbatim command string (MAPREDUCE args)
        val start = i + 1; i += 1
        while (i < n && src.charAt(i) != '`') i += 1
        if (i >= n) throw new IllegalArgumentException(
          "unterminated backtick literal: `" +
            src.substring(start, math.min(start + 40, n)) + "…")
        out += BtLit(src.substring(start, i)); i += 1
      } else if (c.isDigit || (c == '.' && peek(1).isDigit)) {
        val start = i
        while (peek().isDigit) i += 1
        var isDouble = false
        if (peek() == '.' && peek(1).isDigit) { isDouble = true; i += 1; while (peek().isDigit) i += 1 }
        if (peek() == 'e' || peek() == 'E') {
          isDouble = true; i += 1
          if (peek() == '+' || peek() == '-') i += 1
          while (peek().isDigit) i += 1
        }
        val body = src.substring(start, i)
        val suffix = peek().toUpper
        if (suffix == 'L') { i += 1; out += NumLit(body.toLong) }
        else if (suffix == 'F') { i += 1; out += NumLit(body.toFloat) }
        else if (isDouble) out += NumLit(body.toDouble)
        else {
          val v = body.toLong
          out += NumLit(if (v >= Int.MinValue && v <= Int.MaxValue) v.toInt else v)
        }
      } else if (c.isLetter || c == '_') {
        val start = i
        while (peek().isLetterOrDigit || peek() == '_') i += 1
        // a::b qualified names
        while (peek() == ':' && peek(1) == ':') {
          i += 2
          while (peek().isLetterOrDigit || peek() == '_') i += 1
        }
        val s = src.substring(start, i)
        if (keywords.contains(s.toUpperCase) && !s.contains("::"))
          out += Kw(s.toUpperCase)
        else out += Ident(s)
      } else if (c == '$' && peek(1).isDigit) {
        i += 1; val start = i
        while (peek().isDigit) i += 1
        out += Sym("$" + src.substring(start, i))
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=", "..").contains(two)) { out += Sym(two); i += 2 }
        else { out += Sym(c.toString); i += 1 }
      }
    }
    out += EOF
    out.toVector
  }

  // ---------------------------------------------------------------- parser
  final class P(toks: Vector[Tok]) {
    private var pos = 0
    def cur: Tok = toks(pos)
    def advance(): Tok = { val t = cur; pos += 1; t }
    def expectSym(s: String): Unit = cur match {
      case Sym(`s`) => pos += 1
      case t => fail(s"expected '$s' but found $t")
    }
    def expectKw(s: String): Unit = cur match {
      case Kw(`s`) => pos += 1
      case t => fail(s"expected $s but found $t")
    }
    def atKw(s: String): Boolean = cur == Kw(s)
    def eatKw(s: String): Boolean = if (atKw(s)) { pos += 1; true } else false
    def atSym(s: String): Boolean = cur == Sym(s)
    def eatSym(s: String): Boolean = if (atSym(s)) { pos += 1; true } else false
    def ident(): String = advance() match {
      case Ident(s) => s
      case Kw(s)    => s.toLowerCase // allow keyword-ish aliases like `group`
      case t        => fail(s"expected identifier, found $t")
    }
    def str(): String = advance() match {
      case StrLit(s) => s
      case t => fail(s"expected string literal, found $t")
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"pig parse error at token $pos: $msg")

    // ------------------------------------------------------------ program
    def program(): Seq[Stmt] = {
      val stmts = ArrayBuffer.empty[Stmt]
      while (cur != EOF) {
        // tolerate empty statements (`;;` appears in reference scripts)
        if (!eatSym(";")) {
          stmts += statement()
          // ';' is optional after a nested-block close brace (the
          // reference grammar treats `}` as a terminator there)
          if (!eatSym(";") && toks(pos - 1) != Sym("}"))
            expectSym(";")
        }
      }
      stmts.toSeq
    }

    def statement(): Stmt = cur match {
      case Kw("STORE") =>
        advance(); val a = ident(); expectKw("INTO"); val p = str()
        val u = if (eatKw("USING")) Some(funcSpec()) else None
        StoreStmt(a, p, u)
      case Kw("DUMP") => advance(); DumpStmt(ident())
      case Kw("ASSERT") =>
        advance(); val a = ident(); expectKw("BY")
        val cond = orExpr()
        val msg = if (eatSym(",")) Some(str()) else None
        AssertStmt(a, cond, msg)
      case Kw("DESCRIBE") => advance(); DescribeStmt(ident())
      case Kw("EXPLAIN") => advance(); ExplainStmt(ident())
      case Kw("ILLUSTRATE") => advance(); IllustrateStmt(ident())
      case Kw("SET") =>
        advance(); val k = setToken(); val v = setToken(); SetStmt(k, v)
      case Kw("REGISTER") =>
        // canonical quoted form (the preprocessor normalizes unquoted
        // paths): REGISTER 'path' [USING engine AS ns]
        advance()
        val p = cur match { case StrLit(s) => advance(); s; case _ => setToken() }
        val (u, ns) =
          if (eatKw("USING")) {
            val e = ident()
            // AS is optional: without it the functions register into
            // the global namespace (callable bare, PythonScriptEngine)
            (Some(e), if (eatKw("AS")) Some(ident()) else None)
          } else (None, None)
        RegisterStmt(p, u, ns)
      case Kw("SPLIT") =>
        advance(); val in = ident(); expectKw("INTO")
        val branches = ArrayBuffer.empty[(String, Expr)]
        var otherwise: Option[String] = None
        var done = false
        while (!done) {
          val a = ident()
          if (eatKw("IF")) branches += ((a, orExpr()))
          else { expectKw("OTHERWISE"); otherwise = Some(a) }
          done = !eatSym(",")
        }
        SplitStmt(in, branches.toSeq, otherwise)
      case Ident(s) if s.equalsIgnoreCase("exec") &&
          (toks.lift(pos + 1).contains(Sym(";")) ||
           toks.lift(pos + 1).contains(EOF)) =>
        advance(); ExecBarrier // Grunt batch barrier — eager engine no-op
      case _ =>
        val alias = ident()
        expectSym("=")
        Assign(alias, maybeParallel(operator()))
    }

    /** SET arguments: bare identifiers (dotted conf keys lex as idents
      * separated by '.'), strings, or numbers. */
    def setToken(): String = {
      val sb = new StringBuilder
      var more = true
      while (more) advance() match {
        case Ident(s)  => sb.append(s); more = atSym(".")
        case Kw(s)     => sb.append(s.toLowerCase); more = atSym(".")
        case StrLit(s) => sb.append(s); more = false
        case NumLit(v) => sb.append(v.toString); more = false
        case Sym(".")  => sb.append('.')
        case t => fail(s"bad SET token $t")
      }
      sb.toString
    }

    /** trailing `PARTITION BY customPartitionerClass` clause
      * (QueryParser.g partition_clause — GROUP/COGROUP/JOIN/CROSS/
      * DISTINCT). Grammar order: PARTITION BY precedes PARALLEL. */
    def maybePartition(op: Op): Op =
      if (eatKw("PARTITION")) { expectKw("BY"); PartitionOp(op, dottedName()) }
      else op

    /** trailing `PARALLEL n` clause (QueryParser.g parallel_clause) */
    def maybeParallel(op: Op): Op =
      if (eatKw("PARALLEL")) advance() match {
        case NumLit(v: Int) => ParallelOp(op, v)
        case t => fail(s"PARALLEL expects int, found $t")
      } else op

    def funcSpec(): (String, Seq[String]) = {
      // package-qualified names (`org.apache.pig.piggybank.storage.
      // IndexedStorage`) reduce to their simple name — dispatch is by
      // class simple name exactly like the reference's DEFINE path
      var name = ident()
      while (atSym(".")) { advance(); name = ident() }
      val args = ArrayBuffer.empty[String]
      if (eatSym("(")) {
        while (!atSym(")")) {
          advance() match {
            case StrLit(s) => args += s
            case NumLit(v) => args += v.toString
            case Ident(s)  => args += s
            case t => fail(s"bad funcSpec arg $t")
          }
          eatSym(",")
        }
        expectSym(")")
      }
      (name, args.toSeq)
    }

    // ----------------------------------------------------------- operators
    def operator(): Op = cur match {
      case Kw("LOAD") =>
        advance(); val p = str()
        val u = if (eatKw("USING")) Some(funcSpec()) else None
        val s = if (eatKw("AS")) Some(schema()) else None
        LoadOp(p, u, s)
      case Kw("FILTER") =>
        advance(); val in = ident(); expectKw("BY"); FilterOp(in, orExpr())
      case Kw("FOREACH") =>
        advance(); val in = ident()
        if (eatSym("{")) { // nested block (QueryParser.g:921-971)
          val inner = ArrayBuffer.empty[(String, InnerOp)]
          while (!atKw("GENERATE")) {
            val a = ident(); expectSym("=")
            val op = cur match {
              case Kw("FILTER") =>
                advance(); val src = dottedName(); expectKw("BY")
                InnerFilter(src, orExpr())
              case Kw("ORDER") =>
                advance(); val src = dottedName(); expectKw("BY")
                val ks = orderKeys()
                val cmp = if (eatKw("USING")) Some(cur match {
                  case StrLit(_) => str()
                  case _         => dottedName()
                }) else None
                InnerOrder(src, ks, cmp)
              case Kw("LIMIT") =>
                advance(); val src = dottedName()
                expr() match {
                  case Lit(v: Int)  => InnerLimit(src, v.toLong)
                  case Lit(v: Long) => InnerLimit(src, v)
                  case e            => InnerLimitExpr(src, e)
                }
              case Kw("DISTINCT") => advance(); InnerDistinct(dottedName())
              case Kw("FOREACH") => // nested projection over a bag
                advance(); val src = dottedName(); expectKw("GENERATE")
                val gens = ArrayBuffer(genItem())
                while (eatSym(",")) gens += genItem()
                InnerForeach(src, gens.toSeq)
              case Kw("CROSS") => // nested cartesian of two+ bags
                advance()
                val srcs = ArrayBuffer(dottedName())
                while (eatSym(",")) srcs += dottedName()
                InnerCross(srcs.toSeq)
              // expression let: `x = age + gpa;` / `x = cf.gpa;` — a
              // per-row (or per-bag-projection) binding, not an operator
              case _ => InnerExpr(expr())
            }
            inner += ((a, op))
            expectSym(";")
          }
          expectKw("GENERATE")
          val gens = ArrayBuffer(genItem())
          while (eatSym(",")) gens += genItem()
          eatSym(";")
          expectSym("}")
          NestedForeachOp(in, inner.toSeq, gens.toSeq)
        } else {
          expectKw("GENERATE")
          val gens = ArrayBuffer(genItem())
          while (eatSym(",")) gens += genItem()
          ForeachOp(in, gens.toSeq)
        }
      case Kw("STREAM") =>
        advance(); val in = ident(); expectKw("THROUGH")
        // EXECCOMMAND backtick form or a quoted string (QueryParser.g
        // stream_clause: THROUGH (EXECCOMMAND | alias))
        val cmd = cur match {
          case BtLit(s) => advance(); s
          case _        => str()
        }
        val s = if (eatKw("AS")) Some(schema()) else None
        StreamOp(in, cmd, s)
      case Kw("GROUP") | Kw("COGROUP") =>
        advance()
        def innerFlag(): Boolean =
          if (eatKw("INNER")) true else { eatKw("OUTER"); false }
        val in0 = ident()
        if (eatKw("ALL") && !atSym(",")) GroupOp(Seq(GroupInput(in0,
          Seq.empty, inner = false)), all = true)
        else if (toks(pos - 1) == Kw("ALL")) {
          // n-ary `COGROUP a ALL, b ALL` — every input keyed constant
          val inputs = ArrayBuffer(GroupInput(in0, Seq.empty, inner = false))
          while (eatSym(",")) {
            val in2 = ident(); expectKw("ALL")
            inputs += GroupInput(in2, Seq.empty, inner = false)
          }
          GroupOp(inputs.toSeq, all = false, None)
        }
        else {
          expectKw("BY")
          val inputs = ArrayBuffer(GroupInput(in0, exprList(), innerFlag()))
          while (eatSym(",")) {
            val in2 = ident(); expectKw("BY")
            inputs += GroupInput(in2, exprList(), innerFlag())
          }
          // USING 'collected'/'merge' are physical hints (map-side group
          // for co-located/sorted loaders — LOCogroup GROUPTYPE): accepted,
          // semantics identical; Catalyst owns the physical grouping.
          val using = if (eatKw("USING")) Some(str()) else None
          maybePartition(GroupOp(inputs.toSeq, all = false, using))
        }
      case Kw("JOIN") =>
        advance()
        val inputs = ArrayBuffer.empty[(String, Seq[Expr])]
        var joinType = "inner"
        var usingStrategy: Option[String] = None
        val in0 = ident(); expectKw("BY"); inputs += ((in0, exprList()))
        // [LEFT|RIGHT|FULL [OUTER]] before subsequent inputs
        var more = true
        while (more) {
          if (eatSym(",")) {
            val in2 = ident(); expectKw("BY"); inputs += ((in2, exprList()))
          } else if (atKw("LEFT") || atKw("RIGHT") || atKw("FULL")) {
            joinType = ident().toLowerCase
            eatKw("OUTER"); eatSym(",")
            val in2 = ident(); expectKw("BY"); inputs += ((in2, exprList()))
          } else if (eatKw("USING")) {
            usingStrategy = Some(str())
          } else more = false
        }
        maybePartition(JoinOp(inputs.toSeq, joinType, usingStrategy))
      case Kw("CROSS") =>
        advance()
        val ins = ArrayBuffer(ident())
        while (eatSym(",")) ins += ident()
        maybePartition(CrossOp(ins.toSeq))
      case Kw("MAPREDUCE") | Kw("NATIVE") => // escape hatch (QueryParser.g:490)
        advance(); val jar = str()
        expectKw("STORE"); val sa = ident(); expectKw("INTO"); val sp = str()
        val sf = if (eatKw("USING")) Some(funcSpec()) else None
        expectKw("LOAD"); val lp = str()
        val lf = if (eatKw("USING")) Some(funcSpec()) else None
        val sch = if (eatKw("AS")) Some(schema()) else None
        val args = cur match {
          case BtLit(s) => advance(); Some(s)
          case _        => None
        }
        NativeOp(jar, sa, sp, sf, lp, lf, sch, args)
      case Kw("ORDER") =>
        advance(); val in = ident(); expectKw("BY")
        val keys = orderKeys()
        // USING comparatorClass (QueryParser.g:530-543) — parsed so the
        // interpreter can raise a loud migration error, never a silent
        // wrong-order result
        val cmp = if (eatKw("USING")) Some(cur match {
          case StrLit(_) => str()
          case _         => dottedName()
        }) else None
        OrderOp(in, keys, cmp)
      case Kw("RANK") =>
        advance(); val in = ident()
        if (eatKw("BY")) {
          val keys = orderKeys()
          val dense = eatKw("DENSE")
          RankOp(in, keys, dense)
        } else RankOp(in, Seq.empty, dense = false)
      case Kw("LIMIT") =>
        advance(); val in = ident()
        expr() match { // n may be any scalar expression (QueryParser.g:506)
          case Lit(v: Int)  => LimitOp(in, v.toLong)
          case Lit(v: Long) => LimitOp(in, v)
          case e            => LimitExprOp(in, e)
        }
      case Kw("DISTINCT") => advance(); maybePartition(DistinctOp(ident()))
      case Kw("UNION") =>
        advance()
        val on = eatKw("ONSCHEMA")
        val ins = ArrayBuffer(ident())
        while (eatSym(",")) ins += ident()
        UnionOp(ins.toSeq, on)
      case Kw("SAMPLE") =>
        advance(); val in = ident()
        expr() match {
          case Lit(v: Double) => SampleOp(in, v)
          case Lit(v: Int)    => SampleOp(in, v.toDouble)
          case e              => SampleExprOp(in, e) // scalar expression
        }
      case Kw("CUBE") =>
        advance(); val in = ident(); expectKw("BY")
        def clause(): (String, Seq[Expr]) = {
          val kind = if (eatKw("ROLLUP")) "rollup"
                     else { expectKw("CUBE"); "cube" }
          expectSym("("); val dims = exprListBare(); expectSym(")")
          (kind, dims)
        }
        val clauses = ArrayBuffer(clause())
        while (eatSym(",")) clauses += clause()
        if (clauses.size == 1) CubeOp(in, clauses.head._1, clauses.head._2)
        else CubeOp(in, "sets", clauses.flatMap(_._2).toSeq, clauses.toSeq)
      case Ident(a) => advance(); AliasRef(a)
      case t => fail(s"unknown operator start: $t")
    }

    /** A possibly-dotted name (`bag.field`, partitioner class) — the '.'
      * segments lex as separate tokens. */
    def dottedName(): String = {
      // segments may be positional ($1 names the bag on a grouped frame)
      def seg(): String = cur match {
        case Sym(s) if s.startsWith("$") => advance(); s
        case _ => ident()
      }
      val sb = new StringBuilder(seg())
      while (atSym(".")) { advance(); sb.append('.').append(seg()) }
      sb.toString
    }

    def orderKeys(): Seq[(Expr, Boolean)] = {
      val keys = ArrayBuffer.empty[(Expr, Boolean)]
      var more = true
      while (more) {
        val e = expr()
        val asc = if (eatKw("DESC")) false else { eatKw("ASC"); true }
        keys += ((e, asc))
        more = eatSym(",")
      }
      keys.toSeq
    }

    def genItem(): GenItem = {
      // column range `a..b` / `..b` / `a..` (col_range in the grammar)
      def rangeRef(): Expr = cur match {
        case Ident(n) => advance(); ColRef(n)
        case Sym(s) if s.startsWith("$") => advance(); PosRef(s.drop(1).toInt)
        case t => fail(s"expected column reference after '..', found $t")
      }
      val e =
        if (atSym("..")) { advance(); RangeProj(None, Some(rangeRef())) }
        else {
          val e0 = expr()
          if (atSym("..")) {
            advance()
            val to = cur match {
              case Ident(_) => Some(rangeRef())
              case Sym(s) if s.startsWith("$") => Some(rangeRef())
              case _ => None
            }
            RangeProj(Some(e0), to)
          } else e0
        }
      var aliases = Seq.empty[String]
      val alias = if (eatKw("AS")) {
        // AS (a[:t], b[:t], …) names each field FLATTEN expands
        if (eatSym("(")) {
          val as = ArrayBuffer.empty[String]
          while (!atSym(")")) {
            as += ident()
            if (eatSym(":")) typeSpec() // ignore declared type on generate
            eatSym(",")
          }
          expectSym(")")
          aliases = as.toSeq
          aliases.headOption.filter(_ => aliases.size == 1)
        } else {
          val a = ident()
          if (eatSym(":")) typeSpec() // ignore declared type on generate
          Some(a)
        }
      } else None
      GenItem(e, alias, aliases)
    }

    def exprList(): Seq[Expr] = {
      if (eatSym("(")) { val es = exprListBare(); expectSym(")"); es }
      else Seq(expr())
    }
    def exprListBare(): Seq[Expr] = {
      val es = ArrayBuffer(expr())
      while (eatSym(",")) es += expr()
      es.toSeq
    }

    // A type in an AS clause: simple ident, or the complex forms
    // bag{T:(…)} / {(…)} / tuple(…) / (…) / map[t] / [] — encoded as a
    // canonical string ("{(a:int)}", "(a:int,b:chararray)", "[int]")
    // that the interpreter's pigType parses recursively. `typesOnly`
    // is the CAST-context reading (QueryParser type_cast): bare type
    // names inside a tuple are TYPES of unnamed fields, not field
    // names — `(bag{tuple(chararray, int)}) x`.
    def typeSpec(typesOnly: Boolean = false): String = cur match {
      case Sym("{") => bagSpec(typesOnly)
      case Sym("(") => tupleSpec(typesOnly)
      case Sym("[") => mapSpec(typesOnly)
      case Ident(t) =>
        advance()
        t.toLowerCase match {
          case "bag"   if atSym("{") => bagSpec(typesOnly)
          case "tuple" if atSym("(") => tupleSpec(typesOnly)
          case "map"   if atSym("[") => mapSpec(typesOnly)
          case simple => simple
        }
      case tok => fail(s"bad type in schema: $tok")
    }
    def fieldsSpec(typesOnly: Boolean = false): String = {
      val fs = ArrayBuffer.empty[String]
      var i = 0
      while (!atSym(")")) {
        cur match {
          // types-only: a bare primitive-type name, or a complex form,
          // is an UNNAMED field of that type (auto-named positionally —
          // pigSchemaString renders `c<pos>` fields nameless)
          case Ident(t) if typesOnly &&
              primTypeNames.contains(t.toLowerCase) &&
              toks(pos + 1) != Sym(":") =>
            advance(); fs += s"c$i:${t.toLowerCase}"
          case _ if typesOnly && startsComplexType =>
            fs += s"c$i:${typeSpec(typesOnly)}"
          case _ =>
            val n = ident()
            val t = if (eatSym(":")) typeSpec(typesOnly) else "bytearray"
            fs += s"$n:$t"
        }
        i += 1
        eatSym(",")
      }
      fs.mkString(",")
    }
    def startsComplexType: Boolean = cur match {
      case Sym("{") | Sym("[") | Sym("(") => true
      case Ident(t) =>
        (t.equalsIgnoreCase("bag") && toks(pos + 1) == Sym("{")) ||
        (t.equalsIgnoreCase("tuple") && toks(pos + 1) == Sym("(")) ||
        (t.equalsIgnoreCase("map") && toks(pos + 1) == Sym("["))
      case _ => false
    }
    def tupleSpec(typesOnly: Boolean = false): String = {
      expectSym("("); val f = fieldsSpec(typesOnly); expectSym(")"); s"($f)"
    }
    def bagSpec(typesOnly: Boolean = false): String = {
      expectSym("{")
      if (!atSym("(")) { // optional {T: (…)} / {T: tuple(…)}
        cur match {
          case Ident(k) if k.equalsIgnoreCase("tuple") && typesOnly =>
            advance() // cast form bag{tuple(…)} has no bag-schema name
          case _ =>
            ident(); expectSym(":")
            cur match {
              case Ident(k) if k.equalsIgnoreCase("tuple") => advance()
              case _ => ()
            }
        }
      }
      val t = tupleSpec(typesOnly); expectSym("}"); s"{$t}"
    }
    def mapSpec(typesOnly: Boolean = false): String = {
      expectSym("[")
      val inner = if (atSym("]")) "" else typeSpec(typesOnly)
      expectSym("]"); s"[$inner]"
    }

    def schema(): Seq[FieldSchema] = {
      expectSym("(")
      val fs = ArrayBuffer.empty[FieldSchema]
      while (!atSym(")")) {
        val n = ident()
        val t = if (eatSym(":")) typeSpec() else "bytearray"
        fs += FieldSchema(n, t)
        eatSym(",")
      }
      expectSym(")")
      fs.toSeq
    }

    // --------------------------------------------------------- expressions
    def expr(): Expr = ternary()

    def ternary(): Expr = {
      val c = orExpr()
      if (eatSym("?")) {
        val t = ternary(); expectSym(":"); val f = ternary()
        BinCond(c, t, f)
      } else c
    }

    def orExpr(): Expr = {
      var l = andExpr()
      while (eatKw("OR")) l = BinOp("or", l, andExpr())
      l
    }
    def andExpr(): Expr = {
      var l = notExpr()
      while (eatKw("AND")) l = BinOp("and", l, notExpr())
      l
    }
    def notExpr(): Expr =
      if (eatKw("NOT")) Not(notExpr()) else comparison()

    def comparison(): Expr = {
      val l = additive()
      cur match {
        case Sym(op @ ("==" | "!=" | "<" | "<=" | ">" | ">=")) =>
          advance(); BinOp(op, l, additive())
        // legacy word forms (QueryLexer.g STR_OP_EQ..STR_OP_NE)
        case Kw(w @ ("EQ" | "NEQ" | "GT" | "LT" | "GTE" | "LTE")) =>
          advance()
          val op = Map("EQ" -> "==", "NEQ" -> "!=", "GT" -> ">",
                       "LT" -> "<", "GTE" -> ">=", "LTE" -> "<=")(w)
          BinOp(op, l, additive())
        case Kw("MATCHES") => advance(); Matches(l, str())
        case Kw("IS") =>
          advance()
          val neg = eatKw("NOT")
          expectKw("NULL"); IsNull(l, neg)
        case Kw("IN") =>
          advance(); expectSym("(")
          val vals = exprListBare(); expectSym(")")
          InExpr(l, vals)
        case _ => l
      }
    }

    def additive(): Expr = {
      var l = multiplicative()
      var more = true
      while (more) cur match {
        case Sym(op @ ("+" | "-")) => advance(); l = BinOp(op, l, multiplicative())
        case _ => more = false
      }
      l
    }
    def multiplicative(): Expr = {
      var l = unary()
      var more = true
      while (more) cur match {
        case Sym(op @ ("*" | "/" | "%")) => advance(); l = BinOp(op, l, unary())
        case _ => more = false
      }
      l
    }

    def unary(): Expr = cur match {
      // `-n` on a numeric literal is the literal -n, so IN lists and
      // literal-only arguments see a Lit
      case Sym("-") => advance(); unary() match {
        case Lit(n: Int)    => Lit(-n)
        case Lit(n: Long)   => Lit(-n)
        case Lit(n: Float)  => Lit(-n)
        case Lit(n: Double) => Lit(-n)
        case e              => Neg(e)
      }
      case _ => postfix()
    }

    def postfix(): Expr = {
      var e = primary()
      var more = true
      while (more) cur match {
        case Sym(".") =>
          advance()
          // b.(f, g): multi-column projection of a bag/tuple
          if (eatSym("(")) {
            val fs = ArrayBuffer(ident())
            while (eatSym(",")) fs += ident()
            expectSym(")")
            e = DerefMulti(e, fs.toSeq)
          } else cur match {
            // positional deref t.$n — field name resolved from the
            // struct's schema at compile time
            case Sym(s) if s.startsWith("$") => advance(); e = Deref(e, s)
            case _ => e = Deref(e, ident())
          }
        case Sym("#") => advance(); e = MapLookup(e, str())
        case _ => more = false
      }
      e
    }

    def primary(): Expr = cur match {
      case NumLit(v) => advance(); Lit(v)
      case StrLit(s) => advance(); Lit(s)
      case Kw("NULL") => advance(); Lit(null)
      case Kw("TRUE") => advance(); Lit(true)
      case Kw("FALSE") => advance(); Lit(false)
      case Kw("FLATTEN") =>
        advance(); expectSym("("); val e = expr(); expectSym(")")
        FlattenExpr(e)
      case Kw("GROUP") => advance(); ColRef("group")
      case Kw("CASE") => advance(); caseExpr()
      case Sym(s) if s.startsWith("$") => advance(); PosRef(s.drop(1).toInt)
      case Sym("*") => advance(); Star
      case Sym("(") =>
        advance()
        // cast: (type) expr — type names are identifiers
        cur match {
          case Ident(t) if primTypeNames.contains(t.toLowerCase) &&
              toks(pos + 1) == Sym(")") =>
            advance(); expectSym(")")
            CastExpr(t.toLowerCase, unary())
          // complex-type cast: (bag{tuple(…)}) / (tuple(…)) / (map[…])
          // expr — QueryParser type_cast with a keyword-led complex type
          // (the bare `{…}`/`[…]` forms stay literals: `({(null)})` is a
          // parenthesized bag constant, not a cast)
          case Ident(t) if (t.equalsIgnoreCase("bag") &&
                toks(pos + 1) == Sym("{")) ||
              (t.equalsIgnoreCase("tuple") && toks(pos + 1) == Sym("(")) ||
              (t.equalsIgnoreCase("map") && toks(pos + 1) == Sym("[")) =>
            val spec = typeSpec(typesOnly = true)
            expectSym(")")
            CastExpr(spec, unary())
          case _ =>
            val e = expr()
            // (e1, e2, …) is a tuple literal (QueryParser.g tuple constant)
            if (atSym(",")) {
              val es = ArrayBuffer(e)
              while (eatSym(",")) es += expr()
              expectSym(")")
              FuncCall("TOTUPLE", es.toSeq)
            } else { expectSym(")"); e }
        }
      // bag constant {(…),(…)} → TOBAG (tuple items stay tuples)
      case Sym("{") =>
        advance()
        val es = ArrayBuffer.empty[Expr]
        if (!atSym("}")) { es += expr(); while (eatSym(",")) es += expr() }
        expectSym("}")
        FuncCall("TOBAG", es.toSeq)
      // map constant ['k'#v, …] → TOMAP(k, v, …); the sugar form
      // [name, age] takes each column's NAME as its key
      case Sym("[") =>
        advance()
        val kvs = ArrayBuffer.empty[Expr]
        if (!atSym("]")) {
          def entry(): Unit = (cur, toks(pos + 1)) match {
            // explicit key: 'k'#v (lookahead — expr() would otherwise
            // parse the '#' as a map lookup)
            case (StrLit(s), Sym("#")) =>
              advance(); advance(); kvs += Lit(s); kvs += expr()
            case (Ident(s), Sym("#")) =>
              advance(); advance(); kvs += Lit(s); kvs += expr()
            case _ =>
              val e = expr()
              val k = e match {
                case ColRef(nm)  => nm.split("::").last
                case Deref(_, f) => f
                case other =>
                  fail(s"map sugar needs a column ref, found $other")
              }
              kvs += Lit(k); kvs += e
          }
          entry(); while (eatSym(",")) entry()
        }
        expectSym("]")
        FuncCall("TOMAP", kvs.toSeq)
      case Ident(name) =>
        // dotted-call lookahead: `ident(.ident)+(` is a namespaced or
        // fully-qualified function CALL (scripting UDF `ns.fn(x)`, jar
        // EvalFunc `com.example.Upper(x)` — QueryParser.g func_name) —
        // never a field deref, which cannot be applied. Case is
        // preserved: class and namespace names are case-sensitive.
        var k = pos + 1
        var segs = 1
        while (toks.lift(k).contains(Sym(".")) &&
               (toks.lift(k + 1) match {
                 case Some(Ident(_)) => true; case _ => false })) {
          k += 2; segs += 1
        }
        if (segs > 1 && toks.lift(k).contains(Sym("("))) {
          val sb = new StringBuilder(ident())
          while (atSym(".")) { advance(); sb.append('.').append(ident()) }
          expectSym("(")
          val args =
            if (atSym(")")) Seq.empty
            else if (atSym("*")) { advance(); Seq(Star) }
            else exprListBare()
          expectSym(")")
          FuncCall(sb.toString, args)
        } else {
          advance()
          if (atSym("(")) { // function call
            advance()
            val args =
              if (atSym(")")) Seq.empty
              else if (atSym("*")) { advance(); Seq(Star) }
              else exprListBare()
            expectSym(")")
            FuncCall(name.toUpperCase, args)
          } else ColRef(name)
        }
      // CUBE/ROLLUP are non-reserved in expressions: the CUBE operator
      // names its output bag `cube` (QueryParser cube_clause), so
      // `COUNT(cube)` is legal Pig Latin
      case Kw(k) if k == "CUBE" || k == "ROLLUP" =>
        advance(); ColRef(k.toLowerCase)
      case t => fail(s"unexpected token in expression: $t")
    }

    def caseExpr(): Expr = {
      // CASE [e] WHEN v THEN r ... [ELSE d] END → nested binconds
      val subject: Option[Expr] = if (!atKw("WHEN")) Some(expr()) else None
      val whens = ArrayBuffer.empty[(Expr, Expr)]
      while (eatKw("WHEN")) {
        val cond0 = expr(); expectKw("THEN"); val r = expr()
        val cond = subject match {
          case Some(s) => BinOp("==", s, cond0)
          case None    => cond0
        }
        whens += ((cond, r))
      }
      val dflt: Expr = if (eatKw("ELSE")) expr() else Lit(null)
      expectKw("END")
      whens.foldRight(dflt) { case ((c, r), acc) => BinCond(c, r, acc) }
    }
  }

  def parse(script: String): Seq[Stmt] = new P(tokenize(script)).program()
}
