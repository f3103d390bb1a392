package graft.dsl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Closed arithmetic DSL replacing the reference's `eval` (src/main.py:475,
 * 637 — README.md:37 itself flags eval as a code-injection hazard).
 *
 * Grammar (Python-expression-compatible subset):
 * {{{
 *   expr    := ternary
 *   ternary := or ('if' or 'else' ternary)?   // Python conditional, lazy
 *   or      := and ('or' and)*
 *   and     := not ('and' not)*
 *   not     := 'not' not | cmp
 *   cmp     := add (('<'|'<='|'>'|'>='|'=='|'!=') add)?
 *   add     := mul (('+'|'-') mul)*
 *   mul     := unary (('*'|'/'|'%') unary)*
 *   unary   := '-' unary | power
 *   power   := atom ('**' unary)?          // right-assoc, binds over unary-
 *   atom    := NUMBER | ident | ident '(' args ')' | '(' expr ')'
 *            | 'datapoints' '[' ('-' INT | 't' '-' INT | INT) ']'
 *                                  // bounded lag / absolute anchor
 * }}}
 *
 * Identifiers: `t` (slot index), `datapoint_max` (reference anomaly scope,
 * src/main.py:628). Aggregate refs `max(datapoints)` / `min(datapoints)` /
 * `len(datapoints)` compile to the columns `__dp_max`/`__dp_min`/`__dp_len`
 * that the anomaly applier provides as precomputed scalars (SURVEY §7.4) —
 * OR, in a custom-SHAPE formula evaluated through [[evalPrefix]], to the
 * aggregates of the series prefix generated so far (the reference's
 * accumulating `datapoints` list, src/main.py:464-477). Bounded lag
 * indexing `datapoints[-k]` / `datapoints[t-k]` (constant k ≥ 1) reads the
 * k-th most recent prior point on the same prefix path — the lagged-
 * feedback form reference eval formulas use (main.py:473-475) — and
 * ABSOLUTE anchor indexing `datapoints[j]` (constant j ≥ 0) reads the
 * j-th point ever generated (Python's non-negative list indexing: the
 * normalize-by-initial-value form), carried as a (j+1)-slot anchor
 * prefix on the same fold; a general index EXPRESSION stays out of
 * grammar. Math functions:
 * min, max, abs, sin, cos, tan, exp, log, sqrt, floor, ceil, pow.
 *
 * Conditionals follow Python semantics exactly: `X if C else Y` evaluates
 * only the taken branch (so `0 if t == 0 else max(datapoints)` guards the
 * empty-prefix error the way a Python formula must), comparisons yield
 * 1.0/0.0 in numeric context, and any numeric condition is truthy iff
 * non-zero.
 *
 * Deviation from Python 2 (documented): `/` is IEEE double division, never
 * floor division — the reference's formulas run on float datapoints where
 * Python `/` is true division anyway.
 */
object Formula {

  sealed trait Ast extends Serializable
  final case class Num(v: Double) extends Ast
  final case class Ref(name: String) extends Ast
  /** `datapoints[-k]` / `datapoints[t-k]` — the k-th most recent prior
    * point (both spellings denote the same element: the prefix at slot
    * t holds indices 0..t-1, so Python index t-k ≡ negative index -k).
    * k is a POSITIVE integer literal — the bounded-lag subset of the
    * reference's arbitrary list indexing (main.py:473-475), carried by
    * a k-deep ring buffer on the sequential fold; a general index
    * expression would need the whole history and stays out of grammar. */
  final case class Lag(k: Int) extends Ast
  /** `datapoints[j]` — the j-th point ever generated (0-based absolute
    * index, Python's non-negative indexing exactly: reading at a slot
    * where only `0..t-1` exist and j ≥ t throws ↔ IndexError). j is a
    * NON-NEGATIVE integer literal; the fold carries the first j+1
    * points as a bounded anchor array. */
  final case class Idx(j: Int) extends Ast
  final case class Neg(e: Ast) extends Ast
  final case class Bin(op: String, l: Ast, r: Ast) extends Ast
  final case class Call(fn: String, args: List[Ast]) extends Ast
  final case class Cond(cond: Ast, ifTrue: Ast, ifFalse: Ast) extends Ast
  final case class Cmp(op: String, l: Ast, r: Ast) extends Ast
  final case class BoolOp(op: String, l: Ast, r: Ast) extends Ast
  final case class Not(e: Ast) extends Ast

  /** Column refs a compiled formula may use; caller binds them. */
  val SlotCol = "t"
  val DpMaxCol = "__dp_max"
  val DpMinCol = "__dp_min"
  val DpLenCol = "__dp_len"

  def parse(src: String): Ast = new Parser(src).parseAll()

  /** Compile to a Catalyst Column (codegen-friendly; no UDF). */
  def compile(src: String): Column = compileAst(parse(src))

  def compileAst(ast: Ast): Column = ast match {
    case Num(v)        => lit(v)
    case Ref("t")      => col(SlotCol).cast("double")
    case Ref("datapoint_max") => col(DpMaxCol)
    case Ref(other) =>
      throw new IllegalArgumentException(s"unknown identifier '$other' in formula")
    case Neg(e)        => -compileAst(e)
    case Bin("+", l, r) => compileAst(l) + compileAst(r)
    case Bin("-", l, r) => compileAst(l) - compileAst(r)
    case Bin("*", l, r) => compileAst(l) * compileAst(r)
    case Bin("/", l, r) => compileAst(l) / compileAst(r)
    case Bin("%", l, r) => pmodLike(compileAst(l), compileAst(r))
    case Bin("**", l, r) => pow(compileAst(l), compileAst(r))
    case Bin(op, _, _) =>
      throw new IllegalArgumentException(s"unknown operator '$op'")
    case Call("max", List(Ref("datapoints"))) => col(DpMaxCol)
    case Call("min", List(Ref("datapoints"))) => col(DpMinCol)
    case Call("len", List(Ref("datapoints"))) => col(DpLenCol)
    case Lag(_) | Idx(_) =>
      // unreachable through Generators.generate (usesPrefix dispatches
      // indexing formulas to the fold path) — defensive for direct callers
      throw new IllegalArgumentException(
        "datapoints[...] indexing needs the prefix evaluation path (evalPrefix)")
    case Call("min", args) if args.size == 2 =>
      least(compileAst(args(0)), compileAst(args(1)))
    case Call("max", args) if args.size == 2 =>
      greatest(compileAst(args(0)), compileAst(args(1)))
    case Call("abs", List(a))   => abs(compileAst(a))
    case Call("sin", List(a))   => sin(compileAst(a))
    case Call("cos", List(a))   => cos(compileAst(a))
    case Call("tan", List(a))   => tan(compileAst(a))
    case Call("exp", List(a))   => exp(compileAst(a))
    case Call("log", List(a))   => log(compileAst(a))
    case Call("sqrt", List(a))  => sqrt(compileAst(a))
    case Call("floor", List(a)) => floor(compileAst(a)).cast("double")
    case Call("ceil", List(a))  => ceil(compileAst(a)).cast("double")
    case Call("pow", List(a, b)) => pow(compileAst(a), compileAst(b))
    case Cond(c, a, b) => when(boolCol(c), compileAst(a)).otherwise(compileAst(b))
    // comparisons/booleans in NUMERIC position are Python's 1.0/0.0
    case b @ (Cmp(_, _, _) | BoolOp(_, _, _) | Not(_)) =>
      when(boolCol(b), lit(1.0)).otherwise(lit(0.0))
    case Call(fn, args) =>
      throw new IllegalArgumentException(
        s"unknown function '$fn'/${args.size} in formula")
  }

  /** Boolean compile of a condition position: comparisons and boolean
    * connectives directly; any numeric expression is truthy iff
    * non-zero (Python truthiness for the numeric domain). */
  private def boolCol(ast: Ast): Column = ast match {
    case Cmp("<", l, r)  => compileAst(l) < compileAst(r)
    case Cmp("<=", l, r) => compileAst(l) <= compileAst(r)
    case Cmp(">", l, r)  => compileAst(l) > compileAst(r)
    case Cmp(">=", l, r) => compileAst(l) >= compileAst(r)
    case Cmp("==", l, r) => compileAst(l) === compileAst(r)
    case Cmp("!=", l, r) => compileAst(l) =!= compileAst(r)
    case Cmp(op, _, _) =>
      throw new IllegalArgumentException(s"unknown comparison '$op'")
    case BoolOp("and", l, r) => boolCol(l) && boolCol(r)
    case BoolOp("or", l, r)  => boolCol(l) || boolCol(r)
    case BoolOp(op, _, _) =>
      throw new IllegalArgumentException(s"unknown boolean op '$op'")
    case Not(e) => !boolCol(e)
    case other  => compileAst(other) =!= lit(0.0)
  }

  /** Does the formula reference the accumulating series
    * (`max/min/len(datapoints)`)? Custom-shape generation dispatches
    * on this: prefix-free formulas stay on the pure-Column codegen
    * path; prefix-referencing ones take the per-generator sequential
    * fold ([[evalPrefix]]). */
  def usesPrefix(ast: Ast): Boolean = ast match {
    case Call("max" | "min" | "len", List(Ref("datapoints"))) => true
    case Lag(_) | Idx(_)    => true
    case Num(_) | Ref(_)    => false
    case Neg(e)             => usesPrefix(e)
    case Not(e)             => usesPrefix(e)
    case Bin(_, l, r)       => usesPrefix(l) || usesPrefix(r)
    case Cmp(_, l, r)       => usesPrefix(l) || usesPrefix(r)
    case BoolOp(_, l, r)    => usesPrefix(l) || usesPrefix(r)
    case Cond(c, a, b)      => usesPrefix(c) || usesPrefix(a) || usesPrefix(b)
    case Call(_, args)      => args.exists(usesPrefix)
  }

  /** Deepest lag the formula reads (0 when it reads none) — sizes the
    * ring buffer the sequential fold carries. */
  def maxLag(ast: Ast): Int = ast match {
    case Lag(k)          => k
    case Idx(_)          => 0
    case Num(_) | Ref(_) => 0
    case Neg(e)          => maxLag(e)
    case Not(e)          => maxLag(e)
    case Bin(_, l, r)    => math.max(maxLag(l), maxLag(r))
    case Cmp(_, l, r)    => math.max(maxLag(l), maxLag(r))
    case BoolOp(_, l, r) => math.max(maxLag(l), maxLag(r))
    case Cond(c, a, b)   => math.max(maxLag(c), math.max(maxLag(a), maxLag(b)))
    case Call(_, args)   => args.foldLeft(0)((m, a) => math.max(m, maxLag(a)))
  }

  /** Deepest absolute anchor index the formula reads (-1 when it reads
    * none) — sizes the anchor array the sequential fold carries. */
  def maxIdx(ast: Ast): Int = ast match {
    case Idx(j)          => j
    case Lag(_)          => -1
    case Num(_) | Ref(_) => -1
    case Neg(e)          => maxIdx(e)
    case Not(e)          => maxIdx(e)
    case Bin(_, l, r)    => math.max(maxIdx(l), maxIdx(r))
    case Cmp(_, l, r)    => math.max(maxIdx(l), maxIdx(r))
    case BoolOp(_, l, r) => math.max(maxIdx(l), maxIdx(r))
    case Cond(c, a, b)   => math.max(maxIdx(c), math.max(maxIdx(a), maxIdx(b)))
    case Call(_, args)   => args.foldLeft(-1)((m, a) => math.max(m, maxIdx(a)))
  }

  /**
   * Evaluate a custom-SHAPE formula at slot `t` against the prefix of
   * the series generated so far — the reference's accumulating
   * `datapoints` scope (src/main.py:464-477: each point is
   * `eval(formula, locals())` with the list of PRIOR points in
   * scope). `prefixLen` is the number of prior points; `prefixMax` /
   * `prefixMin` their extremes, only touched when the formula's taken
   * branch references them — `max(datapoints)` over an EMPTY prefix
   * throws exactly like Python's `max([])`, so formulas guard with a
   * conditional (`0 if t == 0 else …`), same as they must under the
   * reference's eval.
   *
   * Arithmetic matches the Column compile: IEEE doubles, `%` with the
   * divisor's sign (Python), `**`/functions via java.lang.Math — the
   * semantics FormulaSpec pins against the Column path on shared
   * inputs.
   */
  def evalPrefix(ast: Ast, t: Long, prefixLen: Long,
      prefixMax: => Double, prefixMin: => Double,
      lagAt: Int => Double = k => throw new IllegalArgumentException(
        s"datapoints[-$k] needs a lag-carrying evaluator (Generators.generate wires one)"),
      idxAt: Int => Double = j => throw new IllegalArgumentException(
        s"datapoints[$j] needs an anchor-carrying evaluator (Generators.generate wires one)")): Double = {
    def num(a: Ast): Double = a match {
      case Num(v)   => v
      case Ref("t") => t.toDouble
      case Ref(other) => throw new IllegalArgumentException(
        s"identifier '$other' is not in custom-shape scope")
      case Neg(e) => -num(e)
      case Bin("+", l, r) => num(l) + num(r)
      case Bin("-", l, r) => num(l) - num(r)
      case Bin("*", l, r) => num(l) * num(r)
      case Bin("/", l, r) => num(l) / num(r)
      case Bin("%", l, r) =>
        // Python %: result carries the divisor's sign
        val a0 = num(l); val b0 = num(r); val m = a0 % b0
        if (m != 0.0 && ((m < 0.0) != (b0 < 0.0))) m + b0 else m
      case Bin("**", l, r) => math.pow(num(l), num(r))
      case Bin(op, _, _) =>
        throw new IllegalArgumentException(s"unknown operator '$op'")
      case Call("max", List(Ref("datapoints"))) =>
        if (prefixLen == 0) throw new IllegalArgumentException(
          "max(datapoints) on an empty prefix (guard with 'if t == 0')")
        else prefixMax
      case Call("min", List(Ref("datapoints"))) =>
        if (prefixLen == 0) throw new IllegalArgumentException(
          "min(datapoints) on an empty prefix (guard with 'if t == 0')")
        else prefixMin
      case Call("len", List(Ref("datapoints"))) => prefixLen.toDouble
      case Lag(k) =>
        // Python IndexError posture, same as max([]) above: reading
        // deeper than the points generated so far is a formula bug the
        // author must guard ('V if t < k else …'). For the
        // datapoints[-k] spelling this is exactly Python; for the
        // datapoints[t-k] spelling Python would instead WRAP
        // (datapoints[2t-k] while k <= 2t) — deliberately NOT matched;
        // see parseLagIndex's deviation note.
        if (k > prefixLen) throw new IllegalArgumentException(
          s"datapoints[-$k] with only $prefixLen prior points (guard with 'if t < $k')")
        else lagAt(k)
      case Idx(j) =>
        // Python non-negative indexing exactly: datapoints[j] with
        // j >= len(datapoints) is an IndexError the author must guard
        // ('V if t <= j else ...').
        if (j >= prefixLen) throw new IllegalArgumentException(
          s"datapoints[$j] with only $prefixLen prior points (guard with 'if t <= $j')")
        else idxAt(j)
      case Call("min", List(a0, b0)) => math.min(num(a0), num(b0))
      case Call("max", List(a0, b0)) => math.max(num(a0), num(b0))
      case Call("abs", List(a0))   => math.abs(num(a0))
      case Call("sin", List(a0))   => math.sin(num(a0))
      case Call("cos", List(a0))   => math.cos(num(a0))
      case Call("tan", List(a0))   => math.tan(num(a0))
      case Call("exp", List(a0))   => math.exp(num(a0))
      case Call("log", List(a0))   => math.log(num(a0))
      case Call("sqrt", List(a0))  => math.sqrt(num(a0))
      case Call("floor", List(a0)) => math.floor(num(a0))
      case Call("ceil", List(a0))  => math.ceil(num(a0))
      case Call("pow", List(a0, b0)) => math.pow(num(a0), num(b0))
      case Cond(c, a0, b0) => if (bool(c)) num(a0) else num(b0) // lazy branch
      case b0 @ (Cmp(_, _, _) | BoolOp(_, _, _) | Not(_)) =>
        if (bool(b0)) 1.0 else 0.0
      case Call(fn, args) => throw new IllegalArgumentException(
        s"unknown function '$fn'/${args.size} in formula")
    }
    def bool(a: Ast): Boolean = a match {
      case Cmp("<", l, r)  => num(l) < num(r)
      case Cmp("<=", l, r) => num(l) <= num(r)
      case Cmp(">", l, r)  => num(l) > num(r)
      case Cmp(">=", l, r) => num(l) >= num(r)
      case Cmp("==", l, r) => num(l) == num(r)
      case Cmp("!=", l, r) => num(l) != num(r)
      case Cmp(op, _, _) =>
        throw new IllegalArgumentException(s"unknown comparison '$op'")
      case BoolOp("and", l, r) => bool(l) && bool(r)
      case BoolOp("or", l, r)  => bool(l) || bool(r)
      case BoolOp(op, _, _) =>
        throw new IllegalArgumentException(s"unknown boolean op '$op'")
      case Not(e) => !bool(e)
      case other  => num(other) != 0.0
    }
    num(ast)
  }

  // Python's % has the sign of the divisor; Spark's % has the sign of the
  // dividend. pmod matches Python for positive divisors (the practical case).
  private def pmodLike(l: Column, r: Column): Column = pmod(l, r)

  private final class Parser(src: String) {
    private var pos = 0

    def parseAll(): Ast = {
      val e = parseTernary()
      skipWs()
      if (pos < src.length)
        fail(s"unexpected trailing input at $pos: '${src.substring(pos)}'")
      e
    }

    // X if C else Y — Python conditional-expression precedence (the
    // whole expression level; right-associative via the recursive else)
    private def parseTernary(): Ast = {
      val e = parseOr()
      if (peekKeyword("if")) {
        consumeKeyword("if")
        val c = parseOr()
        if (!peekKeyword("else")) fail(s"expected 'else' at $pos")
        consumeKeyword("else")
        Cond(c, e, parseTernary())
      } else e
    }

    private def parseOr(): Ast = {
      var l = parseAnd()
      while (peekKeyword("or")) { consumeKeyword("or"); l = BoolOp("or", l, parseAnd()) }
      l
    }

    private def parseAnd(): Ast = {
      var l = parseNot()
      while (peekKeyword("and")) { consumeKeyword("and"); l = BoolOp("and", l, parseNot()) }
      l
    }

    private def parseNot(): Ast = {
      if (peekKeyword("not")) { consumeKeyword("not"); Not(parseNot()) }
      else parseCmp()
    }

    // single comparison (no Python chaining — a < b < c fails to parse
    // rather than silently meaning something else)
    private def parseCmp(): Ast = {
      val l = parseAdd()
      val op = peekCmpOp()
      if (op.isEmpty) l
      else { consume(op); Cmp(op, l, parseAdd()) }
    }

    private def parseAdd(): Ast = {
      var l = parseMul()
      var c = peekOp()
      while (c == "+" || c == "-") { consume(c); l = Bin(c, l, parseMul()); c = peekOp() }
      l
    }

    private def parseMul(): Ast = {
      var l = parseUnary()
      var c = peekOp()
      while (c == "*" || c == "/" || c == "%") { consume(c); l = Bin(c, l, parseUnary()); c = peekOp() }
      l
    }

    private def parseUnary(): Ast = {
      skipWs()
      if (peek == '-') { pos += 1; Neg(parseUnary()) } else parsePower()
    }

    private def parsePower(): Ast = {
      val base = parseAtom()
      if (peekOp() == "**") { consume("**"); Bin("**", base, parseUnary()) } else base
    }

    private def parseAtom(): Ast = {
      skipWs()
      val c = peek
      if (c == '(') {
        pos += 1
        val e = parseTernary(); skipWs()
        if (peek != ')') fail(s"expected ')' at $pos"); pos += 1
        e
      } else if (c.isDigit || c == '.') {
        val start = pos
        while (pos < src.length && (src(pos).isDigit || src(pos) == '.' ||
          src(pos) == 'e' || src(pos) == 'E' ||
          ((src(pos) == '+' || src(pos) == '-') && pos > start &&
            (src(pos - 1) == 'e' || src(pos - 1) == 'E')))) pos += 1
        Num(src.substring(start, pos).toDouble)
      } else if (c.isLetter || c == '_') {
        val start = pos
        while (pos < src.length && (src(pos).isLetterOrDigit || src(pos) == '_')) pos += 1
        val name = src.substring(start, pos)
        skipWs()
        if (name == "datapoints" && peek == '[') {
          pos += 1
          parseLagIndex()
        } else if (peek == '(') {
          pos += 1
          val args = scala.collection.mutable.ListBuffer.empty[Ast]
          skipWs()
          if (peek != ')') {
            args += parseTernary(); skipWs()
            while (peek == ',') { pos += 1; args += parseTernary(); skipWs() }
          }
          if (peek != ')') fail(s"expected ')' at $pos"); pos += 1
          Call(name, args.toList)
        } else Ref(name)
      } else fail(s"unexpected char '${c}' at $pos")
    }

    /** Digit-literal index bound: [[Ast.Idx]] anchors size the
      * generator's `anchors` array (`J+1` doubles), so an
      * out-of-Int-range literal (`datapoints[99999999999]`) or a
      * huge-but-valid one (`datapoints[2000000000]` → a 16 GB array)
      * must die HERE with the parser's own error type, not as a
      * NumberFormatException or an executor OOM. 10^6 points is far
      * past any blueprint's series length. */
    private val MaxIndexLiteral = 1000000

    private def boundedIndex(digits: String, at: Int): Int = {
      if (digits.length > 7 || digits.toLong > MaxIndexLiteral)
        fail(s"index literal in datapoints[...] at $at exceeds the " +
          s"$MaxIndexLiteral cap: $digits")
      digits.toInt
    }

    // datapoints[-K] | datapoints[t-K] (K a positive integer literal —
    // the bounded-lag forms, both meaning "K-th most recent") |
    // datapoints[J] (J a non-negative integer literal — the absolute
    // anchor form, "J-th point ever generated", Python's non-negative
    // indexing exactly). Anything else inside the brackets (t+1, a
    // variable k, floats) is a parse error, keeping the grammar closed.
    //
    // DELIBERATE DEVIATION from the reference's raw Python eval
    // (main.py:475) for the [t-K] spelling read too early: with
    // t < K <= 2t, Python's t-K is a negative list index that silently
    // WRAPS and reads datapoints[2t-K] — a different point each tick,
    // almost certainly a formula bug the author never guarded. This
    // engine normalizes both spellings to lag-K and makes every
    // too-deep read throw (the evalPrefix Lag guard), so the author
    // must write the 'V if t < K else ...' guard the [-K] form already
    // required. The [-K] spelling itself matches Python exactly
    // (IndexError <-> throw).
    private def parseLagIndex(): Ast = {
      skipWs()
      if (peek.isDigit) { // absolute anchor: datapoints[J]
        val ds = pos
        while (pos < src.length && src(pos).isDigit) pos += 1
        val j = boundedIndex(src.substring(ds, pos), ds)
        skipWs()
        if (peek != ']') fail(s"expected ']' at $pos")
        pos += 1
        return Idx(j)
      }
      val relative = peek == 't' &&
        (pos + 1 >= src.length ||
          { val c = src(pos + 1); !c.isLetterOrDigit && c != '_' })
      if (relative) { pos += 1; skipWs() }
      if (peek != '-')
        fail(s"expected '-' in datapoints[...] at $pos (only datapoints[-k] / datapoints[t-k] / datapoints[j] are supported)")
      pos += 1
      skipWs()
      val ds = pos
      while (pos < src.length && src(pos).isDigit) pos += 1
      if (pos == ds) fail(s"expected integer lag in datapoints[...] at $pos")
      val k = boundedIndex(src.substring(ds, pos), ds)
      if (k < 1) fail(s"lag in datapoints[...] must be >= 1, got $k")
      skipWs()
      if (peek != ']') fail(s"expected ']' at $pos")
      pos += 1
      Lag(k)
    }

    // "**" must be matched before "*".
    private def peekOp(): String = {
      skipWs()
      if (pos + 1 < src.length && src(pos) == '*' && src(pos + 1) == '*') "**"
      else if (pos < src.length && "+-*/%".contains(src(pos))) src(pos).toString
      else ""
    }

    // two-char comparison ops before their one-char prefixes
    private def peekCmpOp(): String = {
      skipWs()
      val two = if (pos + 1 < src.length) src.substring(pos, pos + 2) else ""
      if (Set("<=", ">=", "==", "!=")(two)) two
      else if (pos < src.length && (src(pos) == '<' || src(pos) == '>')) src(pos).toString
      else ""
    }

    private def peekKeyword(kw: String): Boolean = {
      skipWs()
      src.startsWith(kw, pos) &&
        (pos + kw.length >= src.length ||
          { val c = src(pos + kw.length); !c.isLetterOrDigit && c != '_' })
    }
    private def consumeKeyword(kw: String): Unit = { skipWs(); pos += kw.length }
    private def consume(op: String): Unit = { skipWs(); pos += op.length }
    private def peek: Char = if (pos < src.length) src(pos) else '\u0000'
    private def skipWs(): Unit = while (pos < src.length && src(pos).isWhitespace) pos += 1
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"formula parse error: $msg in '$src'")
  }
}
