package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** Lexical translation of the reference's JavaScript column/filter
  * gestures (web/.../maps/CreateColumnJSMap.java:39-56 — a user-written
  * `function map(row) {...}` evaluated per row via GraalVM;
  * table/filters/JSFilterDescription.java:30-80 — `function filter(row)`
  * as a predicate).
  *
  * Spark translation: instead of executing user JS per row (a Graal
  * context per partition, opaque to the optimizer), a SUBSET of JS that
  * covers the reference's gesture examples — literals, `row.field` /
  * `row['field']` access, arithmetic, comparisons, logical ops, the
  * ternary, if/else with returns, local `var`s, common String methods
  * and `Math.*` — is parsed here and COMPILED to Catalyst Columns, so a
  * user's `map(row){ if (...) ... }` gesture runs codegen'd inside
  * whole-stage codegen, folds, and pushes down like any built-in.
  *
  * Semantics notes (documented deviations from full JS):
  * - numbers are IEEE doubles (as in JS); `+` concatenates when either
  *   side is a string (decided from the bound schema, not runtime tags);
  * - SQL null propagation replaces JS null/undefined coercion: a null
  *   field propagates through arithmetic and makes comparisons unknown
  *   (the reference maps a JS null return to a missing cell — same
  *   surface, different mid-expression coercions);
  * - `==`/`!=` are loose SQL equality (mixed string/number operands
  *   coerce numerically, as in JS); strict `===`/`!==` are REJECTED by
  *   this tier's parser (a static Column type cannot carry the runtime
  *   tag strict equality compares), which routes the program to the
  *   [[JsProgram]] interpreter tier, whose `===` is JS-faithful;
  * - a body that falls off the end returns null (JS undefined →
  *   missing cell, exactly the reference's null branch);
  * - NaN follows Java/Spark total ordering (NaN compares greater than
  *   everything and equal to itself) instead of JS's all-false;
  * - `Number("") `is NaN here (JS coerces the empty string to 0);
  * - `substring(a, b)` with a > b yields "" (JS swaps the arguments).
  * Everything else — `.toLowerCase() .toUpperCase() .trim() .length
  * .charAt .indexOf .includes .startsWith .endsWith .substring
  * .replace` (first occurrence, JS semantics), `Math.abs floor ceil
  * sqrt round min max` — matches JS on non-null inputs, and the
  * differential fuzz gate (PropertySpec) holds the compiled Columns to
  * a plain-Scala JS-subset interpreter on random programs.
  */
object JsGesture {

  // ── AST ────────────────────────────────────────────────────────────
  sealed trait Js
  final case class Num(v: Double) extends Js
  final case class Str(v: String) extends Js
  final case class Bool(v: Boolean) extends Js
  case object JsNull extends Js
  final case class Field(name: String) extends Js
  final case class Un(op: String, e: Js) extends Js
  final case class Bin(op: String, a: Js, b: Js) extends Js
  final case class Tern(c: Js, t: Js, f: Js) extends Js
  /** String-method call / property (`recv.name(args)`), or `Math.name`. */
  final case class Meth(recv: Js, name: String, args: Seq[Js]) extends Js
  final case class MathCall(name: String, args: Seq[Js]) extends Js

  // ── parser (recursive descent over a token list) ───────────────────
  private final class P(src: String) {
    private var i = 0
    private def ws(): Unit = { while (i < src.length && src(i).isWhitespace) i += 1 }
    def peek(s: String): Boolean = { ws(); src.startsWith(s, i) }
    def eat(s: String): Boolean = { if (peek(s)) { i += s.length; true } else false }
    def expect(s: String): Unit =
      if (!eat(s)) fail(s"expected '$s'")
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"JS parse error at ${i}: $msg " +
        s"(near '${src.slice(i, math.min(src.length, i + 20))}')")
    def done: Boolean = { ws(); i >= src.length }

    private def isIdentStart(c: Char) = c.isLetter || c == '_' || c == '$'
    private def isIdent(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    def ident(): String = {
      ws()
      if (i >= src.length || !isIdentStart(src(i))) fail("expected identifier")
      val s = i
      while (i < src.length && isIdent(src(i))) i += 1
      src.substring(s, i)
    }
    def stringLit(q: Char): String = {
      val sb = new StringBuilder
      i += 1
      while (i < src.length && src(i) != q) {
        if (src(i) == '\\' && i + 1 < src.length) { sb += src(i + 1); i += 2 }
        else { sb += src(i); i += 1 }
      }
      if (i >= src.length) fail("unterminated string")
      i += 1
      sb.result()
    }
    def number(): Double = {
      ws(); val s = i
      while (i < src.length && (src(i).isDigit || src(i) == '.')) i += 1
      if (s == i) fail("expected number")
      src.substring(s, i).toDouble
    }
    def peekChar: Option[Char] = { ws(); if (i < src.length) Some(src(i)) else None }
  }

  // statement AST: `var` declarations are inlined into the env at parse
  // time, so only returns and conditionals survive
  private sealed trait Stmt
  private final case class SRet(e: Js) extends Stmt
  private final case class SIf(c: Js, t: Seq[Stmt], f: Seq[Stmt]) extends Stmt

  /** Parse `function map(row) { ... }` / `function filter(row) { ... }`
    * (any function name; the single parameter names the row), or a bare
    * expression over `row`. */
  def parse(src: String): Js = {
    val p = new P(src)
    val ast =
      if (p.peek("function")) {
        p.expect("function"); p.ident() // function name, unused
        p.expect("("); val rowParam = p.ident(); p.expect(")")
        p.expect("{")
        val body = parseStmts(p, rowParam, Map.empty)
        p.expect("}")
        compileStmts(body, JsNull)
      } else {
        parseExpr(p, "row", Map.empty)
      }
    if (!p.done) p.fail("trailing input")
    ast
  }

  /** Statements → expression via return-continuation: `return e` ends
    * the path; a conditional's branches each continue into the
    * statements AFTER the if (fall-through), and a path that falls off
    * the end yields `cont` (null at the top — JS undefined → missing
    * cell). Distinguishes `return null` from falling through. */
  private def compileStmts(stmts: Seq[Stmt], cont: Js): Js = stmts match {
    case Seq() => cont
    case SRet(e) +: _ => e
    case SIf(c, t, f) +: rest =>
      val k = compileStmts(rest, cont)
      Tern(c, compileStmts(t, k), compileStmts(f, k))
  }

  private def parseStmts(p: P, row: String, env0: Map[String, Js]): Seq[Stmt] = {
    var env = env0
    val stmts = scala.collection.mutable.ArrayBuffer.empty[Stmt]
    while (!p.peek("}") && !p.done) {
      if (p.eat("return")) {
        stmts += SRet(parseExpr(p, row, env)); p.eat(";")
      } else if (p.eat("var") || p.eat("let") || p.eat("const")) {
        val n = p.ident(); p.expect("="); val e = parseExpr(p, row, env); p.eat(";")
        env = env.updated(n, e)
      } else if (p.peek("if")) {
        stmts += parseIf(p, row, env)
      } else p.fail("expected statement")
    }
    stmts.toSeq
  }

  private def parseIf(p: P, row: String, env: Map[String, Js]): SIf = {
    p.expect("if"); p.expect("(")
    val c = parseExpr(p, row, env); p.expect(")")
    val t = parseBranch(p, row, env)
    val f = if (p.eat("else")) parseBranch(p, row, env) else Seq.empty
    SIf(c, t, f)
  }

  private def parseBranch(p: P, row: String, env: Map[String, Js]): Seq[Stmt] =
    if (p.eat("{")) { val b = parseStmts(p, row, env); p.expect("}"); b }
    else if (p.eat("return")) {
      val e = parseExpr(p, row, env); p.eat(";"); Seq(SRet(e))
    }
    else if (p.peek("if")) Seq(parseIf(p, row, env))
    else p.fail("expected block or statement")

  private def parseExpr(p: P, row: String, env: Map[String, Js]): Js =
    parseTernary(p, row, env)

  private def parseTernary(p: P, row: String, env: Map[String, Js]): Js = {
    val c = parseOr(p, row, env)
    if (p.eat("?")) {
      val t = parseExpr(p, row, env); p.expect(":")
      Tern(c, t, parseExpr(p, row, env))
    } else c
  }
  private def parseOr(p: P, row: String, env: Map[String, Js]): Js = {
    var a = parseAnd(p, row, env)
    while (p.eat("||")) a = Bin("||", a, parseAnd(p, row, env))
    a
  }
  private def parseAnd(p: P, row: String, env: Map[String, Js]): Js = {
    var a = parseEq(p, row, env)
    while (p.eat("&&")) a = Bin("&&", a, parseEq(p, row, env))
    a
  }
  private def parseEq(p: P, row: String, env: Map[String, Js]): Js = {
    var a = parseRel(p, row, env)
    var go = true
    while (go) {
      // STRICT equality needs runtime type tags (`5 === '5'` is false
      // without coercion), which Columns with this tier's static
      // category heuristic cannot decide for mixed-branch ternaries —
      // reject here so dispatch routes the program to the interpreter
      // tier, whose === is runtime-tagged and JS-faithful
      if (p.peek("===") || p.peek("!==")) p.fail("strict equality (===/!==) requires the program tier")
      else if (p.eat("==")) a = Bin("==", a, parseRel(p, row, env))
      else if (p.eat("!=")) a = Bin("!=", a, parseRel(p, row, env))
      else go = false
    }
    a
  }
  private def parseRel(p: P, row: String, env: Map[String, Js]): Js = {
    var a = parseAdd(p, row, env)
    var go = true
    while (go) {
      if (p.eat("<=")) a = Bin("<=", a, parseAdd(p, row, env))
      else if (p.eat(">=")) a = Bin(">=", a, parseAdd(p, row, env))
      else if (p.eat("<")) a = Bin("<", a, parseAdd(p, row, env))
      else if (p.eat(">")) a = Bin(">", a, parseAdd(p, row, env))
      else go = false
    }
    a
  }
  private def parseAdd(p: P, row: String, env: Map[String, Js]): Js = {
    var a = parseMul(p, row, env)
    var go = true
    while (go) {
      if (p.eat("+")) a = Bin("+", a, parseMul(p, row, env))
      else if (p.peekChar.contains('-') && { p.eat("-") }) a = Bin("-", a, parseMul(p, row, env))
      else go = false
    }
    a
  }
  private def parseMul(p: P, row: String, env: Map[String, Js]): Js = {
    var a = parseUnary(p, row, env)
    var go = true
    while (go) {
      if (p.eat("*")) a = Bin("*", a, parseUnary(p, row, env))
      else if (p.eat("/")) a = Bin("/", a, parseUnary(p, row, env))
      else if (p.eat("%")) a = Bin("%", a, parseUnary(p, row, env))
      else go = false
    }
    a
  }
  private def parseUnary(p: P, row: String, env: Map[String, Js]): Js =
    if (p.eat("!")) Un("!", parseUnary(p, row, env))
    else if (p.eat("-")) Un("-", parseUnary(p, row, env))
    else parsePostfix(p, row, env)

  private def parsePostfix(p: P, row: String, env: Map[String, Js]): Js = {
    var a = parsePrimary(p, row, env)
    var go = true
    while (go) {
      if (p.eat(".")) {
        val m = p.ident()
        if (p.eat("(")) {
          val args = scala.collection.mutable.ArrayBuffer.empty[Js]
          if (!p.peek(")")) {
            args += parseExpr(p, row, env)
            while (p.eat(",")) args += parseExpr(p, row, env)
          }
          p.expect(")")
          a = Meth(a, m, args.toSeq)
        } else a = Meth(a, m, Seq.empty) // property (.length)
      } else if (p.eat("[")) {
        // row['field'] — only string-literal subscripts are supported
        val q = p.peekChar.getOrElse(p.fail("expected subscript"))
        if (q != '\'' && q != '"') p.fail("only row['field'] subscripts supported")
        val f = p.stringLit(q)
        p.expect("]")
        a match {
          case Field(_) | JsNull => a = Field(f)
          case RowMarker => a = Field(f)
          case _ => p.fail("subscript only valid on the row parameter")
        }
      } else go = false
    }
    a
  }

  /** Placeholder for the bare row parameter before a member access. */
  private case object RowMarker extends Js

  private def parsePrimary(p: P, row: String, env: Map[String, Js]): Js = {
    p.peekChar match {
      case Some('(') => p.expect("("); val e = parseExpr(p, row, env); p.expect(")"); e
      case Some('\'') => Str(p.stringLit('\''))
      case Some('"') => Str(p.stringLit('"'))
      case Some(c) if c.isDigit => Num(p.number())
      case _ =>
        val id = p.ident()
        id match {
          case "true" => Bool(true)
          case "false" => Bool(false)
          case "null" => JsNull
          case "Math" =>
            p.expect("."); val f = p.ident(); p.expect("(")
            val args = scala.collection.mutable.ArrayBuffer.empty[Js]
            if (!p.peek(")")) {
              args += parseExpr(p, row, env)
              while (p.eat(",")) args += parseExpr(p, row, env)
            }
            p.expect(")")
            MathCall(f, args.toSeq)
          case `row` =>
            // must be followed by .field or ['field']
            if (p.eat(".")) Field(p.ident())
            else RowMarker // subscript handled in postfix
          case other if env.contains(other) => env(other)
          case other => p.fail(s"unknown identifier '$other'")
        }
    }
  }

  // ── type inference (string-vs-number-vs-boolean for `+`/rendering) ─
  private def isStringTyped(e: Js, schema: Map[String, DataType]): Boolean = e match {
    case Str(_) => true
    case Field(n) => schema.get(n).contains(StringType)
    case Bin("+", a, b) => isStringTyped(a, schema) || isStringTyped(b, schema)
    case Tern(_, t, f) => isStringTyped(t, schema) || isStringTyped(f, schema)
    case Meth(_, m, _) => Set("toLowerCase", "toUpperCase", "trim",
      "charAt", "substring", "replace")(m)
    case _ => false
  }

  private def isBoolTyped(e: Js): Boolean = e match {
    case Bool(_) => true
    case Un("!", _) => true
    case Bin(op, _, _) =>
      Set("==", "!=", "<", "<=", ">", ">=", "&&", "||")(op)
    case Tern(_, t, f) => isBoolTyped(t) && isBoolTyped(f)
    case Meth(_, m, _) => Set("includes", "startsWith", "endsWith")(m)
    case _ => false
  }

  // ── compile to Columns ─────────────────────────────────────────────
  def compileColumn(ast: Js, df: DataFrame): Column = {
    val schema = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // JS numeric coercion: Number("abc") is NaN, never an error — a
    // plain cast("double") would THROW under Spark's default ANSI mode
    // on an unparseable string, so string operands go through a
    // TRY-mode Cast (null on failure) with NaN as the JS-faithful
    // fallback; a null input stays null (SQL propagation, documented)
    def num(e: Js): Column =
      if (isStringTyped(e, schema)) {
        val x = c(e)
        val tried = org.apache.spark.sql.graftshim.exprToColumn(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.graftshim.columnToExpr(x),
            org.apache.spark.sql.types.DoubleType, None,
            org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
        when(x.isNull, lit(null).cast("double"))
          .otherwise(coalesce(tried, lit(Double.NaN)))
      } else c(e).cast("double")
    // JS string rendering of a value: integral numbers drop the ".0"
    // (String(3) === "3", where Spark's cast renders "3.0"); booleans
    // render "true"/"false" (a numeric path would render "1")
    def jsStr(e: Js): Column =
      if (isStringTyped(e, schema)) c(e).cast("string")
      else if (isBoolTyped(e)) {
        val x = c(e)
        when(x.isNull, lit(null).cast("string"))
          .when(x, lit("true")).otherwise(lit("false"))
      } else {
        val x = num(e)
        when(x.isNull, lit(null).cast("string"))
          .when(!isnan(x) && x === floor(x) && abs(x) < 1e15,
            x.cast("long").cast("string"))
          .otherwise(x.cast("string"))
      }
    // comparison operands: string-vs-string lexicographic, mixed
    // string-vs-number coerces BOTH sides numerically (JS semantics;
    // also avoids Spark's implicit ANSI string→double cast, which
    // throws on unparseable text where JS yields NaN)
    def cmpOperands(a: Js, b: Js): (Column, Column) = {
      val sa = isStringTyped(a, schema)
      val sb = isStringTyped(b, schema)
      if (sa == sb) (c(a), c(b)) else (num(a), num(b))
    }
    // JS ToInteger for string-method indices: NaN coerces to 0
    // ("x".charAt("q") === "x".charAt(0)), where an ANSI cast of NaN
    // double to int THROWS; out-of-int-range values CLAMP to the int
    // extremes (so charAt(1e10) is "" — index past the string — and
    // substring(-1e10, 2) clamps to 0, both JS-faithful, and exactly
    // Scala's Double.toInt, which the differential interpreter uses);
    // null keeps SQL propagation as elsewhere
    def intIdx(e: Js): Column = {
      val x = num(e)
      val tried = org.apache.spark.sql.graftshim.exprToColumn(
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.graftshim.columnToExpr(x),
          org.apache.spark.sql.types.IntegerType, None,
          org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
      when(x.isNull, lit(null).cast("int"))
        .when(isnan(x), lit(0))
        // MaxValue - 8, not MaxValue: callers add small offsets (ix + 1)
        // and ANSI int arithmetic THROWS on overflow; still far past any
        // real string, so the JS out-of-range result is preserved
        .when(x >= lit(Int.MaxValue.toDouble), lit(Int.MaxValue - 8))
        .when(x <= lit(Int.MinValue.toDouble), lit(Int.MinValue + 8))
        .otherwise(coalesce(tried, lit(0)))
    }
    def c(e: Js): Column = e match {
      case Num(v) => lit(v)
      case Str(v) => lit(v)
      case Bool(v) => lit(v)
      case JsNull | RowMarker => lit(null)
      case Field(n) =>
        require(schema.contains(n), s"no such column: $n")
        // date/timestamp fields are JS Date OBJECTS (getters + valueOf
        // coercion) — runtime behavior a static Column can't carry, so
        // route the program to the interpreter tier like ===/!==
        require(!schema(n).isInstanceOf[org.apache.spark.sql.types.DateType]
            && !schema(n).isInstanceOf[org.apache.spark.sql.types.TimestampType]
            && !schema(n).isInstanceOf[org.apache.spark.sql.types.TimestampNTZType],
          s"date/timestamp field '$n' requires the program tier (JS Date runtime)")
        col(n)
      case Un("!", a) => !c(a)
      case Un("-", a) => -num(a)
      case Un(op, _) => sys.error(s"op $op")
      case Bin("+", a, b) =>
        if (isStringTyped(Bin("+", a, b), schema)) concat(jsStr(a), jsStr(b))
        else num(a) + num(b)
      case Bin("-", a, b) => num(a) - num(b)
      case Bin("*", a, b) => num(a) * num(b)
      case Bin("/", a, b) => num(a) / num(b)
      case Bin("%", a, b) => num(a) % num(b)
      case Bin("==", a, b) => val (x, y) = cmpOperands(a, b); x === y
      case Bin("!=", a, b) => val (x, y) = cmpOperands(a, b); x =!= y
      case Bin("<", a, b) => val (x, y) = cmpOperands(a, b); x < y
      case Bin("<=", a, b) => val (x, y) = cmpOperands(a, b); x <= y
      case Bin(">", a, b) => val (x, y) = cmpOperands(a, b); x > y
      case Bin(">=", a, b) => val (x, y) = cmpOperands(a, b); x >= y
      case Bin("&&", a, b) => c(a) && c(b)
      case Bin("||", a, b) => c(a) || c(b)
      case Bin(op, _, _) => sys.error(s"op $op")
      case Tern(cond, t, f) => when(c(cond), c(t)).otherwise(c(f))
      case Meth(r, "toLowerCase", Seq()) => lower(jsStr(r))
      case Meth(r, "toUpperCase", Seq()) => upper(jsStr(r))
      case Meth(r, "trim", Seq()) => trim(jsStr(r))
      case Meth(r, "length", Seq()) => length(jsStr(r)).cast("double")
      case Meth(r, "charAt", Seq(i)) =>
        // JS charAt(-1) is "" — a raw substr(0 or negative, 1) would
        // return the FIRST or count-from-the-END character instead
        val ix = intIdx(i)
        when(ix < 0, lit("")).otherwise(jsStr(r).substr(ix + 1, lit(1)))
      case Meth(r, "indexOf", Seq(s)) =>
        (instr(jsStr(r), jsStr(s)) - 1).cast("double")
      case Meth(r, "includes", Seq(s)) => jsStr(r).contains(jsStr(s))
      case Meth(r, "startsWith", Seq(s)) => jsStr(r).startsWith(jsStr(s))
      case Meth(r, "endsWith", Seq(s)) => jsStr(r).endsWith(jsStr(s))
      case Meth(r, "substring", Seq(a)) =>
        // JS clamps a negative start to 0; Spark substr counts a
        // negative position from the END
        val s = jsStr(r)
        s.substr(greatest(intIdx(a), lit(0)) + 1, length(s))
      case Meth(r, "substring", Seq(a, b)) =>
        // JS substring clamps BOTH indices into [0, len] (and would
        // swap a > b — unsupported here, kept one-directional)
        val s = jsStr(r)
        val lo = greatest(intIdx(a), lit(0))
        val hi = greatest(intIdx(b), lo)
        s.substr(lo + 1, hi - lo)
      case Meth(r, "replace", Seq(a, b)) =>
        // JS string replace: FIRST occurrence only
        val s = jsStr(r); val from = jsStr(a); val to = jsStr(b)
        val pos = instr(s, from)
        when(pos === 0, s).otherwise(concat(
          s.substr(lit(1), pos - 1), to,
          s.substr(pos + length(from), length(s))))
      case Meth(_, m, _) =>
        // IllegalArgumentException, not RuntimeException: a method this
        // tier can't compile (Date getters, array ops) must ROUTE the
        // program to the interpreter tier, not kill the gesture
        throw new IllegalArgumentException(
          s"method .$m requires the program tier")
      case MathCall("abs", Seq(a)) => abs(num(a))
      // Spark floor/ceil on a double yield a LONG (NaN → 0), but JS
      // Math.floor/ceil/round(NaN) is NaN — guard before the cast
      case MathCall("floor", Seq(a)) =>
        val x = num(a)
        when(isnan(x), x).otherwise(floor(x).cast("double"))
      case MathCall("ceil", Seq(a)) =>
        val x = num(a)
        when(isnan(x), x).otherwise(ceil(x).cast("double"))
      case MathCall("sqrt", Seq(a)) => sqrt(num(a))
      case MathCall("round", Seq(a)) =>
        val x = num(a)
        when(isnan(x), x).otherwise(floor(x + 0.5).cast("double"))
      case MathCall("min", as) => least(as.map(num): _*)
      case MathCall("max", as) => greatest(as.map(num): _*)
      case MathCall(f, _) => sys.error(s"unsupported Math.$f")
    }
    c(ast)
  }

  /** Compile a JS gesture source against a frame's schema. */
  def compile(js: String, df: DataFrame): Column = compileColumn(parse(js), df)

  /** Two-tier dispatch: the straight-line subset compiles to Columns
    * (codegen, pushdown); programs beyond it — loops, reassignment,
    * user functions, arrays — fall back to the [[JsProgram]] per-row
    * interpreter with the declared output type. A program neither tier
    * accepts surfaces tier 2's (full-grammar) parse error. */
  private def compileAuto(js: String, df: DataFrame,
      out: org.apache.spark.sql.types.DataType): Column =
    try compile(js, df)
    catch {
      case e1: IllegalArgumentException =>
        try JsProgram.columnFor(js, df, out)
        catch {
          case e2: IllegalArgumentException =>
            // prefer the richer grammar's diagnosis, but keep tier 1's
            // when the program LOOKED like plain subset code
            throw (if (JsProgram.looksLikeProgram(js)) e2 else e1)
        }
    }

  /** CreateColumnJSMap surface: append `outputColumn` computed by the
    * gesture. Subset gestures keep their natural compiled type;
    * full-program gestures render as strings (JS String(v)) — use
    * [[withJsColumnTyped]] to declare a numeric/boolean output. */
  def withJsColumn(df: DataFrame, outputColumn: String, js: String): DataFrame =
    df.withColumn(outputColumn, compileAuto(js, df, StringType))

  /** CreateColumnJSMap with the reference's explicit output-column kind
    * (CreateColumnJSMap.java's ColumnDescription): full-program gestures
    * convert their JS result to `out` (Number/String/truthiness
    * coercion); subset gestures compile natively and cast. */
  def withJsColumnTyped(df: DataFrame, outputColumn: String, js: String,
      out: org.apache.spark.sql.types.DataType): DataFrame = {
    val c =
      try compile(js, df).cast(out)
      catch { case _: IllegalArgumentException => JsProgram.columnFor(js, df, out) }
    df.withColumn(outputColumn, c)
  }

  /** JSFilterDescription surface: keep rows where the gesture is true
    * (subset: SQL boolean, null filtered; full program: JS truthiness). */
  def jsFilter(df: DataFrame, js: String): DataFrame =
    df.filter(compileAuto(js, df, org.apache.spark.sql.types.BooleanType))

  // ── reference interpreter (the differential-fuzz oracle) ───────────
  /** Plain-Scala evaluation over a row map — the independent
    * implementation PropertySpec holds the compiled Columns to. Null
    * propagates SQL-style (see the scaladoc deviations). */
  def interpret(ast: Js, row: Map[String, Any],
      schema: Map[String, DataType]): Any = {
    def d(v: Any): java.lang.Double = v match {
      case null => null
      case x: Double => x
      case x: Int => x.toDouble
      case x: Long => x.toDouble
      case x: java.lang.Double => x
      case s: String => try s.toDouble catch { case _: Exception => Double.NaN }
      case b: Boolean => if (b) 1.0 else 0.0
      case other => sys.error(s"not numeric: $other")
    }
    def s(v: Any): String = v match {
      case null => null
      case x: Double => if (x == math.floor(x) && !x.isInfinite && math.abs(x) < 1e15)
        x.toLong.toString else x.toString
      case other => other.toString
    }
    def ev(e: Js): Any = e match {
      case Num(v) => v
      case Str(v) => v
      case Bool(v) => v
      case JsNull | RowMarker => null
      case Field(n) => row.getOrElse(n, null)
      case Un("!", a) => ev(a) match { case null => null; case b: Boolean => !b
        case other => sys.error(s"! on $other") }
      case Un("-", a) => Option(d(ev(a))).map(x => -x.doubleValue).orNull
      case Un(op, _) => sys.error(s"op $op")
      case Bin("+", a, b) =>
        if (isStringTyped(Bin("+", a, b), schema)) {
          val (x, y) = (ev(a), ev(b))
          if (x == null || y == null) null else s(x) + s(y)
        } else nn(d(ev(a)), d(ev(b)))((x, y) => x + y)
      case Bin("-", a, b) => nn(d(ev(a)), d(ev(b)))((x, y) => x - y)
      case Bin("*", a, b) => nn(d(ev(a)), d(ev(b)))((x, y) => x * y)
      case Bin("/", a, b) => nn(d(ev(a)), d(ev(b)))((x, y) => x / y)
      case Bin("%", a, b) => nn(d(ev(a)), d(ev(b)))((x, y) => x % y)
      case Bin("==", a, b) => cmp(ev(a), ev(b)).map(_ == 0).orNull
      case Bin("!=", a, b) => cmp(ev(a), ev(b)).map(_ != 0).orNull
      case Bin("<", a, b) => cmp(ev(a), ev(b)).map(_ < 0).orNull
      case Bin("<=", a, b) => cmp(ev(a), ev(b)).map(_ <= 0).orNull
      case Bin(">", a, b) => cmp(ev(a), ev(b)).map(_ > 0).orNull
      case Bin(">=", a, b) => cmp(ev(a), ev(b)).map(_ >= 0).orNull
      case Bin("&&", a, b) => (ev(a), ev(b)) match {
        case (java.lang.Boolean.FALSE, _) => false
        case (_, java.lang.Boolean.FALSE) => false
        case (null, _) | (_, null) => null
        case _ => true
      }
      case Bin("||", a, b) => (ev(a), ev(b)) match {
        case (java.lang.Boolean.TRUE, _) => true
        case (_, java.lang.Boolean.TRUE) => true
        case (null, _) | (_, null) => null
        case _ => false
      }
      case Bin(op, _, _) => sys.error(s"op $op")
      case Tern(c0, t, f) => ev(c0) match {
        case java.lang.Boolean.TRUE => ev(t)
        case _ => ev(f) // null condition → otherwise, as when().otherwise()
      }
      case Meth(r, m, args) =>
        val rv = ev(r)
        if (rv == null) null else {
          val str = s(rv)
          m match {
            case "toLowerCase" => str.toLowerCase
            case "toUpperCase" => str.toUpperCase
            case "trim" => str.trim
            case "length" => str.length.toDouble
            case "charAt" =>
              val i = d(ev(args.head)).toInt
              if (i < 0 || i >= str.length) "" else str.charAt(i).toString
            case "indexOf" => Option(ev(args.head)).map(x =>
              str.indexOf(s(x)).toDouble).orNull
            case "includes" => Option(ev(args.head)).map(x =>
              str.contains(s(x))).orNull
            case "startsWith" => Option(ev(args.head)).map(x =>
              str.startsWith(s(x))).orNull
            case "endsWith" => Option(ev(args.head)).map(x =>
              str.endsWith(s(x))).orNull
            case "substring" =>
              val a0 = d(ev(args.head)).toInt
              val b0 = if (args.size > 1) d(ev(args(1))).toInt else str.length
              val lo = math.max(0, math.min(a0, str.length))
              val hi = math.max(lo, math.min(b0, str.length))
              str.substring(lo, hi)
            case "replace" =>
              val from = s(ev(args.head)); val to = s(ev(args(1)))
              if (from == null || to == null) null
              else {
                val p = str.indexOf(from)
                if (p < 0) str
                else str.substring(0, p) + to + str.substring(p + from.length)
              }
            case other => sys.error(s"method $other")
          }
        }
      case MathCall(f, args) =>
        val vs = args.map(a => d(ev(a)))
        if (vs.exists(_ == null)) null else f match {
          case "abs" => math.abs(vs.head)
          case "floor" => math.floor(vs.head)
          case "ceil" => math.ceil(vs.head)
          case "sqrt" => math.sqrt(vs.head)
          case "round" => math.floor(vs.head + 0.5)
          case "min" => vs.map(_.doubleValue).min
          case "max" => vs.map(_.doubleValue).max
          case other => sys.error(s"Math.$other")
        }
    }
    def nn(a: java.lang.Double, b: java.lang.Double)(
        f: (Double, Double) => Double): Any =
      if (a == null || b == null) null else f(a, b)
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (null, _) | (_, null) => None
      // string-vs-string compares lexicographically; string-vs-NUMBER
      // coerces numerically (both JS and the compiled Columns, where
      // Spark casts the string side to double) — a lexicographic
      // mixed compare here would make the oracle itself wrong
      case (x: String, y: String) => Some(x.compareTo(y))
      case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
      case (x, y) => Some(d(x).compareTo(d(y)))
    }
    ev(ast)
  }
}
