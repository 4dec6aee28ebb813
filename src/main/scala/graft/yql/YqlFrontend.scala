package graft.yql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** YQL-dialect text front-end (SURVEY.md §0, §2.9): accepts the reference's
  * query texts VERBATIM and runs them on Spark.
  *
  * The reference's users write YQL (/root/reference/src/py/yq_dag.py:65-74,
  * 82-95): multi-statement scripts with `$name = (select …);` named-subquery
  * bindings, backtick connection refs (`` `pg-finance`.payments ``),
  * `unwrap(x)`, second-truncating `cast(x as Datetime)`, unsigned casts
  * (`UInt32`), `DateTime::GetYear(x)` module calls, `date('…')` literals,
  * `EXCLUSION JOIN`, and `INSERT INTO sink (cols) SELECT …`. This translator
  * maps each construct onto Spark SQL plus the graft function registry
  * ([[graft.GraftSession.prepare]] installs `unwrap`) and hands sinks to a
  * pluggable [[YqlResolver]] — so a user of the reference pipeline can paste
  * their DAG's SQL strings unchanged.
  *
  * Deliberately a token-level rewriter, not a full grammar: every YQL
  * construct the reference exercises is local (a token window or a balanced
  * paren group), so the translation needs no AST — and everything it does NOT
  * rewrite flows through to Spark's own ANSI parser, which is the behavior a
  * compatibility shim wants (Spark's error messages on Spark's grammar).
  *
  * Scale note: translation is driver-side string work on query text (KB, not
  * data); the produced plan is the same Catalyst plan the native Scala API
  * builds — CTEs inline, anti-joins shuffle on their keys, casts stay in
  * whole-stage codegen.
  */
object YqlFrontend {

  // ---------------------------------------------------------------- lexer

  /** Tokens preserve string/backtick literals whole; `--` line comments,
    * `&#47;* *&#47;` block comments and whitespace are dropped; two-char
    * operators and signed-exponent numeric literals (`1.5e-3`) kept intact.
    */
  private[graft] def tokenize(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && text(i + 1) == '-') {
        while (i < n && text(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && text(i + 1) == '*') {
        val j = text.indexOf("*/", i + 2)
        require(j >= 0, "YQL: unterminated block comment")
        i = j + 2
      } else if (c == '\'' || c == '"') {
        // YQL string literals come single- OR double-quoted (doubling escapes)
        val q = c
        val sb = new StringBuilder(q.toString)
        i += 1
        var done = false
        while (!done && i < n) {
          if (text(i) == q && i + 1 < n && text(i + 1) == q) { sb += q += q; i += 2 }
          else if (text(i) == q) { sb += q; i += 1; done = true }
          else { sb += text(i); i += 1 }
        }
        require(done, "YQL: unterminated string literal")
        out += sb.result()
      } else if (c == '`') {
        val j = text.indexOf('`', i + 1)
        require(j > 0, "YQL: unterminated backtick identifier")
        out += text.substring(i, j + 1)
        i = j + 1
      } else if (c == '$' && i + 1 < n && (text(i + 1).isLetter || text(i + 1) == '_')) {
        var j = i + 1
        while (j < n && (text(j).isLetterOrDigit || text(j) == '_')) j += 1
        out += text.substring(i, j)
        i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (text(j).isLetterOrDigit || text(j) == '_')) j += 1
        out += text.substring(i, j)
        i = j
      } else if (c.isDigit) {
        var j = i
        while (j < n && (text(j).isLetterOrDigit || text(j) == '.' || text(j) == '_')) j += 1
        // signed exponent: `1.5e-3` / `2E+10` — the sign belongs to the literal
        if (j < n && (text(j) == '+' || text(j) == '-') &&
            (text(j - 1) == 'e' || text(j - 1) == 'E') && text(i).isDigit &&
            text.substring(i, j - 1).forall(ch => ch.isDigit || ch == '.' || ch == '_') &&
            j + 1 < n && text(j + 1).isDigit) {
          j += 1
          while (j < n && text(j).isLetterOrDigit) j += 1 // exponent digits + type suffix (7e-2d)
        }
        out += text.substring(i, j)
        i = j
      } else {
        val two = if (i + 1 < n) text.substring(i, i + 2) else ""
        if (Set("::", "<=", ">=", "<>", "!=", "||", "->").contains(two)) { out += two; i += 2 }
        else { out += c.toString; i += 1 }
      }
    }
    out.result()
  }

  private def render(ts: Seq[String]): String = ts.mkString(" ")

  private def isIdent(t: String): Boolean =
    t.nonEmpty && (t.head.isLetter || t.head == '_') && t.forall(ch => ch.isLetterOrDigit || ch == '_')

  private def strip(t: String): String = if (t.startsWith("`")) t.substring(1, t.length - 1) else t

  // ------------------------------------------------------------ statements

  private def splitStatements(ts: Vector[String]): Vector[Vector[String]] = {
    var depth = 0
    val stmts = Vector.newBuilder[Vector[String]]
    var cur = Vector.newBuilder[String]
    var curNonEmpty = false
    ts.foreach { t =>
      t match {
        case "(" | "{" => depth += 1 // braces: lambda `{ RETURN …; }` bodies
        case ")" | "}" => depth -= 1 // hold statement `;`s that must not split
        case _         =>
      }
      if (t == ";" && depth == 0) {
        if (curNonEmpty) stmts += cur.result()
        cur = Vector.newBuilder[String]; curNonEmpty = false
      } else { cur += t; curNonEmpty = true }
    }
    if (curNonEmpty) stmts += cur.result()
    stmts.result()
  }

  // ------------------------------------------------------------- rewrites

  /** YQL module functions with direct Spark builtins. Extend as needed;
    * unknown `Module::Fn` fails loudly rather than reaching Spark's parser
    * as three mystery tokens.
    */
  private val ModuleFns: Map[String, String] = Map(
    "datetime::getyear"       -> "year",
    "datetime::getmonth"      -> "month",
    "datetime::getdayofmonth" -> "day",
    "datetime::getdayofyear"  -> "dayofyear",
    "datetime::gethour"       -> "hour",
    "datetime::getminute"     -> "minute",
    "datetime::getsecond"     -> "second",
    "string::asciitolower"    -> "lower",
    "string::asciitoupper"    -> "upper",
    "string::tolower"         -> "lower",  // Spark lower IS unicode-aware
    "string::toupper"         -> "upper",
    "string::contains"        -> "contains",
    "string::startswith"      -> "startswith",
    "string::endswith"        -> "endswith",
    "string::strip"           -> "trim",
    "string::joinfromlist"    -> "array_join",  // (list, sep) both sides
    "string::replaceall"      -> "replace",     // literal (non-regex) both sides
    "math::abs"               -> "abs",
    "math::round"             -> "round",
    "math::sqrt"              -> "sqrt",
    "math::pow"               -> "power",
    "math::exp"               -> "exp",
    "math::log"               -> "ln",          // YQL Math::Log is natural log
    "math::log2"              -> "log2",
    "math::log10"             -> "log10",
    "math::sin"               -> "sin",
    "math::cos"               -> "cos",
    "math::tan"               -> "tan",
    "math::atan"              -> "atan",
    "math::ceil"              -> "ceiling",
    "math::floor"             -> "floor",
    // notch 11: epoch/edit-distance/Unicode bridges with 1:1 Spark builtins
    "datetime::toseconds"     -> "unix_seconds", // epoch seconds, both engines
    "string::levensteindistance" -> "levenshtein", // same metric, same args
    "unicode::tolower"        -> "lower",        // Spark lower/upper ARE unicode-aware
    "unicode::toupper"        -> "upper",
    "unicode::normalize"      -> "graft_nfc")    // YQL default form is NFC; registered codegen expr

  /** YQL bare-name builtins (mostly the List* family) whose Spark builtin
    * has IDENTICAL argument order and semantics. Anything with a semantic
    * gap (ListConcat's string-join, SplitToList's literal-vs-regex
    * separator) is deliberately absent — those reach Spark's parser and
    * fail loudly rather than silently computing something else.
    */
  private val BuiltinFns: Map[String, String] = Map(
    "listlength"  -> "size",
    "listhas"     -> "array_contains",
    "listsort"    -> "array_sort",
    "listreverse" -> "reverse",
    "listextend"  -> "concat",
    "listuniq"    -> "array_distinct",
    "listmax"     -> "array_max",
    "listmin"     -> "array_min",
    "aslist"      -> "array",
    // higher-order: YQL lambdas are rewritten to Spark lambdas first
    // (rewriteLambdas), and these take (list, lambda) in the same order
    "listmap"     -> "transform",
    "listfilter"  -> "filter",
    // ListAny/ListAll are NOT name-mapped: YQL's take a Bool list (no
    // predicate), Spark's exists/forall take (list, lambda) — bridged
    // with an identity lambda in [[rewriteBoolListFns]] instead
    // aggregate-function names (YQL's list-collecting aggregates); order
    // within the collected list is engine-dependent in BOTH engines, so
    // deterministic queries sort before comparing
    "aggregate_list"          -> "collect_list",
    "aggregate_list_distinct" -> "collect_set",
    // YQL SOME = "any one value of the group" — Spark's any_value exactly
    // (both engine-chosen; deterministic only over group-constant args).
    // MAX_BY/MIN_BY pass through untouched: Spark's builtins share YQL's
    // name AND argument order (value, ordering-key).
    "some"                    -> "any_value")

  /** YQL `ListAny`/`ListAll` take an ALREADY-BOOLEAN list (no predicate
    * argument); Spark's `exists`/`forall` want (list, lambda). Bridge with
    * an identity lambda: `ListAny(xs)` → `exists(xs, _yql_b -> _yql_b)`.
    * One call rewritten per pass (nested calls keep matching until none
    * remain — the rewritten head is no longer named ListAny, so the loop
    * converges).
    */
  private def rewriteBoolListFns(ts0: Vector[String]): Vector[String] = {
    var ts = ts0
    var guard = 0
    var changed = true
    while (changed && guard < 256) {
      changed = false; guard += 1
      val hit = ts.indices.find { i =>
        (ts(i).equalsIgnoreCase("listany") || ts(i).equalsIgnoreCase("listall")) &&
          i + 1 < ts.length && ts(i + 1) == "(" &&
          (i == 0 || (ts(i - 1) != "." && ts(i - 1) != "::"))
      }
      hit.foreach { i =>
        var depth = 0; var close = -1; var j = i + 1
        while (j < ts.length && close < 0) {
          if (ts(j) == "(") depth += 1
          else if (ts(j) == ")") { depth -= 1; if (depth == 0) close = j }
          j += 1
        }
        require(close > 0, s"YQL: unterminated ${ts(i)} call")
        val fn = if (ts(i).equalsIgnoreCase("listany")) "exists" else "forall"
        ts = (ts.take(i) :+ fn :+ "(") ++ ts.slice(i + 2, close) ++
          Vector(",", "_yql_b", "->", "_yql_b", ")") ++ ts.drop(close + 1)
        changed = true
      }
    }
    ts
  }

  /** Rename [[BuiltinFns]] calls: a bare identifier directly applied to an
    * argument list, not preceded by `.`/`::` (those are member / module
    * positions handled elsewhere).
    */
  private def rewriteBuiltinFns(ts: Vector[String]): Vector[String] =
    ts.zipWithIndex.map { case (t, i) =>
      if (isIdent(t) && i + 1 < ts.length && ts(i + 1) == "(" &&
          (i == 0 || (ts(i - 1) != "." && ts(i - 1) != "::")))
        BuiltinFns.getOrElse(t.toLowerCase, t)
      else t
    }

  private def rewriteModuleFns(ts: Vector[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < ts.length) {
      if (i + 2 < ts.length && ts(i + 1) == "::" && isIdent(ts(i)) && isIdent(ts(i + 2))) {
        val key = s"${ts(i)}::${ts(i + 2)}".toLowerCase
        out += ModuleFns.getOrElse(key,
          throw new IllegalArgumentException(s"YQL: unsupported module function ${ts(i)}::${ts(i + 2)}"))
        i += 3
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }

  /** Functions whose argument list legally contains a FROM keyword — their
    * inner FROM is NOT a relation position and must not be table-resolved
    * (`extract(year from x)`, `substring(s from 2)`, `trim(both 'x' from s)`,
    * `overlay(s placing t from 3)`, `position('a' in s)` variants).
    */
  private val FromArgFns = Set("extract", "substring", "trim", "overlay", "position")

  /** Keywords that END a FROM clause's relation list at the same paren
    * depth — after one of these, a comma no longer introduces a relation
    * and a `` `x`.y `` pair is an alias.column reference, not a
    * connection.table one.
    */
  private val FromListEnders = Set(
    "where", "group", "having", "order", "window", "limit",
    "union", "intersect", "except", "select", "on", "using")

  /** `` `conn`.table `` → resolver lookup — but ONLY in relation position
    * (directly after a clause-level FROM/JOIN, or after a comma inside a
    * FROM list): everywhere else `` `x`.y `` is an ALIAS.column reference
    * (a reserved-word alias like `` `order`.id `` in an ON condition), and
    * resolving it used to swallow the qualifier. A per-paren-depth flag
    * tracks whether the innermost group is still inside a FROM relation
    * list (comma-separated relations resolve; a WHERE/ON/GROUP/… ends the
    * list). Bare backtick idents keep their quotes (Spark accepts them);
    * bare relation names in relation position go through the resolver
    * (identity by default), so `from etl_object_storage` maps wherever
    * the binding points. FROM inside `extract(...)`-style function calls
    * passes through untouched — the same paren stack tracks whether the
    * innermost open group is a [[FromArgFns]] argument list.
    */
  private def rewriteTables(ts: Vector[String], resolver: YqlResolver): Vector[String] = {
    val out = Vector.newBuilder[String]
    // per open paren: (is a FROM-arg function call, in a FROM relation list);
    // a sentinel carries the statement-level flags
    var stack = List((false, false))
    def fnArg = stack.head._1
    def inFrom = stack.head._2
    def setInFrom(v: Boolean): Unit = stack = (stack.head._1, v) :: stack.tail
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      // is this token a spot where a relation reference may start?
      def relationPos: Boolean = i > 0 && {
        val p = ts(i - 1)
        ((p.equalsIgnoreCase("from") && !fnArg) || p.equalsIgnoreCase("join") ||
          (p == "," && inFrom))
      }
      if (t == "(") {
        stack ::= ((i > 0 && FromArgFns.contains(ts(i - 1).toLowerCase), false))
        out += t; i += 1
      } else if (t == ")") {
        if (stack.length > 1) stack = stack.tail
        out += t; i += 1
      } else if (t.startsWith("`")) {
        if (relationPos && i + 2 < ts.length && ts(i + 1) == "." &&
            (isIdent(ts(i + 2)) || ts(i + 2).startsWith("`"))) {
          out += resolver.table(Some(strip(t)), strip(ts(i + 2)))
          i += 3
        } else {
          // backquoted identifier in expression position (e.g. a
          // reserved-word alias or column like `order`): keep the user's
          // quoting — Spark's parser accepts backquoted names everywhere,
          // and stripping or resolving breaks them
          out += t; i += 1
        }
      } else {
        if (t.equalsIgnoreCase("from") && !fnArg) setInFrom(true)
        else if (FromListEnders.contains(t.toLowerCase)) setInFrom(false)
        if (relationPos && isIdent(t) && !t.startsWith("$") &&
            (i + 1 >= ts.length || ts(i + 1) != ".")) {
          out += resolver.table(None, t)
        } else out += t
        i += 1
      }
    }
    out.result()
  }

  /** YQL lambda literals — `($x) -> ($x + 1)` and the block form
    * `($x, $y) -> { RETURN $x + $y; }` — become Spark higher-order-function
    * lambdas. Three deliberate mappings:
    *   - parameters lose their `$` (Spark lambda variables are bare
    *     identifiers that shadow same-named columns, which matches YQL's
    *     scoping: the parameter wins inside the body);
    *   - a SINGLE parameter drops its parens — Spark's grammar only accepts
    *     a parenthesized list for 2+ parameters (`x -> e` / `(x, y) -> e`);
    *   - the `{ RETURN expr; }` block body becomes `( expr )`;
    *     multi-statement bodies (`{ $a = e1; RETURN e2; }`) inline their
    *     local bindings sequentially into the RETURN expression — YQL
    *     lambda bodies are pure, so textual inlining is semantics-
    *     preserving (duplicated references duplicate the expression;
    *     Spark's subexpression elimination may re-merge them).
    * Runs BEFORE [[substitute]] so `$param` references are renamed here and
    * never mistaken for undefined script bindings. Converges because rewritten
    * lambdas have bare (un-`$`ed) parameters and no longer match.
    */
  private def rewriteLambdas(ts0: Vector[String]): Vector[String] = {
    def isParam(t: String) = t.length > 1 && t.head == '$' && isIdent(t.drop(1))
    def findClose(ts: Vector[String], open: Int, o: String, c: String): Int = {
      var depth = 0; var j = open
      while (j < ts.length) {
        if (ts(j) == o) depth += 1
        else if (ts(j) == c) { depth -= 1; if (depth == 0) return j }
        j += 1
      }
      -1
    }
    var ts = ts0
    var guard = 0
    var changed = true
    while (changed && guard < 256) {
      changed = false
      guard += 1
      val arrow = ts.indices.find { i =>
        ts(i) == "->" && i > 0 && {
          // `$x ->` or `( $x , $y ) ->` with at least one $-param
          if (isParam(ts(i - 1))) true
          else if (ts(i - 1) == ")") {
            val open = (i - 2 to 0 by -1).find(ts(_) == "(").getOrElse(-1)
            open >= 0 && (open + 1 until i - 1).forall(k => isParam(ts(k)) || ts(k) == ",") &&
              (open + 1 until i - 1).exists(k => isParam(ts(k)))
          } else false
        }
      }
      arrow.foreach { i =>
        val (paramStart, params) =
          if (isParam(ts(i - 1))) (i - 1, Vector(ts(i - 1).drop(1)))
          else {
            val open = (i - 2 to 0 by -1).find(ts(_) == "(").get
            (open, ts.slice(open + 1, i - 1).filter(_ != ",").map(_.drop(1)))
          }
        val bodyTokens: Vector[String] = ts.lift(i + 1) match {
          case Some("(") =>
            val close = findClose(ts, i + 1, "(", ")")
            require(close > 0, "YQL: unterminated lambda body")
            val inner = rename(ts.slice(i + 2, close), params)
            ts = ts.take(paramStart) ++ emit(params, inner) ++ ts.drop(close + 1)
            inner
          case Some("{") =>
            val close = findClose(ts, i + 1, "{", "}")
            require(close > 0, "YQL: unterminated lambda body")
            val block = ts.slice(i + 2, close)
            // split the block on depth-0 semicolons (nested lambda blocks
            // and parens keep theirs) into local bindings + the RETURN
            val stmts = {
              val out = Vector.newBuilder[Vector[String]]
              var cur = Vector.newBuilder[String]
              var depth = 0
              block.foreach {
                case t @ ("(" | "{") => depth += 1; cur += t
                case t @ (")" | "}") => depth -= 1; cur += t
                case ";" if depth == 0 =>
                  val s = cur.result(); if (s.nonEmpty) out += s
                  cur = Vector.newBuilder[String]
                case t => cur += t
              }
              val s = cur.result(); if (s.nonEmpty) out += s
              out.result()
            }
            require(stmts.nonEmpty && stmts.last.headOption.exists(_.equalsIgnoreCase("return")),
              "YQL: lambda block body must end in a RETURN expression")
            // local `$name = expr;` bindings inline SEQUENTIALLY — each
            // sees the ones before it, and all dissolve into the RETURN
            // expression (YQL lambda bodies are pure, so textual inlining
            // preserves semantics; repeated references duplicate the
            // expression, which Spark's CSE is free to merge)
            def substLocals(body: Vector[String], env: Map[String, Vector[String]]): Vector[String] =
              body.flatMap(t =>
                if (t.length > 1 && t.head == '$' && env.contains(t.drop(1))) env(t.drop(1))
                else Vector(t))
            var env = Map.empty[String, Vector[String]]
            stmts.dropRight(1).foreach { s =>
              require(s.length > 2 && isParam(s(0)) && s(1) == "=",
                s"YQL: lambda block statement must be a `$$name = expr;` binding, got: ${s.take(4).mkString(" ")} …")
              env += s(0).drop(1) -> ("(" +: substLocals(s.drop(2), env) :+ ")")
            }
            val expr = substLocals(stmts.last.drop(1), env)
            val inner = rename(expr, params)
            ts = ts.take(paramStart) ++ emit(params, inner) ++ ts.drop(close + 1)
            inner
          case _ => throw new IllegalArgumentException(
            "YQL: lambda body must be a parenthesized expression or { RETURN expr; }")
        }
        require(bodyTokens.nonEmpty, "YQL: empty lambda body")
        changed = true
      }
    }
    ts
  }

  private def rename(body: Vector[String], params: Vector[String]): Vector[String] =
    body.map(t => if (t.length > 1 && t.head == '$' && params.contains(t.drop(1))) t.drop(1) else t)

  private def emit(params: Vector[String], body: Vector[String]): Vector[String] = {
    val head =
      if (params.length == 1) Vector(params.head) // Spark: single param is BARE
      else "(" +: params.flatMap(p => Vector(p, ",")).dropRight(1) :+ ")"
    (head :+ "->") ++ ("(" +: body :+ ")")
  }

  /** YQL `String::SplitToList(s, sep)` splits on a LITERAL separator;
    * Spark's `split(s, regex)` is regex-based — the semantic gap that kept
    * this function off the [[ModuleFns]] name map. When the separator is a
    * string LITERAL in the text (the overwhelmingly common call shape),
    * the gap closes exactly: rewrite to `split` with every regex
    * metacharacter escaped (backslash doubled so Spark's own
    * string-literal unescaping yields the single regex backslash). A
    * computed separator has no safe literal-split rewrite — fail loudly.
    */
  private def rewriteSplitToList(ts0: Vector[String]): Vector[String] = {
    var ts = ts0
    var i = 0
    while (i + 3 < ts.length) {
      if (ts(i).equalsIgnoreCase("string") && ts(i + 1) == "::" &&
          ts(i + 2).equalsIgnoreCase("splittolist") && ts(i + 3) == "(") {
        var depth = 0; var close = -1; var commaAt = -1; var j = i + 3
        while (j < ts.length && close < 0) {
          if (ts(j) == "(") depth += 1
          else if (ts(j) == ")") { depth -= 1; if (depth == 0) close = j }
          else if (ts(j) == "," && depth == 1 && commaAt < 0) commaAt = j
          j += 1
        }
        require(close > 0 && commaAt > 0 && commaAt < close,
          "YQL: String::SplitToList expects (string, separator)")
        val sepToks = ts.slice(commaAt + 1, close)
        require(sepToks.length == 1 &&
            (sepToks.head.startsWith("'") || sepToks.head.startsWith("\"")),
          "YQL: String::SplitToList separator must be a string literal " +
            "(Spark split is regex-based; a computed separator has no safe rewrite)")
        val lit0 = sepToks.head
        val q = lit0.head
        val raw = lit0.substring(1, lit0.length - 1).replace(s"$q$q", q.toString)
        require(!raw.contains("'") && !raw.contains("\\"),
          "YQL: SplitToList separators containing quotes/backslashes are not supported")
        val esc = raw.flatMap { ch =>
          if ("^$.|?*+()[]{}".indexOf(ch.toInt) >= 0) s"\\\\$ch" else ch.toString
        }
        ts = (ts.take(i) :+ "split" :+ "(") ++ ts.slice(i + 4, commaAt) ++
          Vector(",", s"'$esc'", ")") ++ ts.drop(close + 1)
      } else i += 1
    }
    ts
  }

  /** YQL `String::Substring(s, pos[, len])` is ZERO-based; Spark's
    * `substr` is one-based — a bare name map would silently shift every
    * extraction by one character, so the call is rewritten structurally:
    * `substr((s), (pos) + 1[, (len)])`. Argument expressions pass through
    * parenthesized (a computed pos composes with the `+ 1`).
    */
  private def rewriteSubstring(ts0: Vector[String]): Vector[String] = {
    var ts = ts0
    var i = 0
    while (i + 3 < ts.length) {
      if (ts(i).equalsIgnoreCase("string") && ts(i + 1) == "::" &&
          ts(i + 2).equalsIgnoreCase("substring") && ts(i + 3) == "(") {
        var depth = 0; var close = -1; var j = i + 3
        val commas = Vector.newBuilder[Int]
        while (j < ts.length && close < 0) {
          if (ts(j) == "(") depth += 1
          else if (ts(j) == ")") { depth -= 1; if (depth == 0) close = j }
          else if (ts(j) == "," && depth == 1) commas += j
          j += 1
        }
        val cs = commas.result()
        require(close > 0 && (cs.length == 1 || cs.length == 2),
          "YQL: String::Substring expects (string, pos[, len])")
        val sArg = ts.slice(i + 4, cs.head)
        val pArg = ts.slice(cs.head + 1, if (cs.length == 2) cs(1) else close)
        val lArg = if (cs.length == 2) Some(ts.slice(cs(1) + 1, close)) else None
        val rewritten = (Vector("substr", "(", "(") ++ sArg ++ Vector(")", ",", "(") ++
          pArg ++ Vector(")", "+", "1")) ++
          lArg.map(l => Vector(",", "(") ++ l ++ Vector(")")).getOrElse(Vector.empty) :+ ")"
        ts = ts.take(i) ++ rewritten ++ ts.drop(close + 1)
      } else i += 1
    }
    ts
  }

  /** YQL's 2-argument `IF(cond, then)` defaults the else-branch to NULL;
    * Spark's `if` is strictly ternary, so the missing branch is appended
    * explicitly: `IF(c, t)` → `if(c, t, NULL)`. 3-argument calls pass
    * through untouched (one top-level comma ⇒ rewrite; two ⇒ leave).
    */
  private def rewriteTwoArgIf(ts0: Vector[String]): Vector[String] = {
    var ts = ts0
    var i = 0
    while (i + 1 < ts.length) {
      val isIf = ts(i).equalsIgnoreCase("if") && ts(i + 1) == "(" &&
        (i == 0 || (ts(i - 1) != "." && ts(i - 1) != "::"))
      if (isIf) {
        var depth = 0; var close = -1; var commas = 0; var j = i + 1
        while (j < ts.length && close < 0) {
          if (ts(j) == "(") depth += 1
          else if (ts(j) == ")") { depth -= 1; if (depth == 0) close = j }
          else if (ts(j) == "," && depth == 1) commas += 1
          j += 1
        }
        require(close > 0, "YQL: unterminated IF call")
        if (commas == 1)
          ts = (ts.take(close) :+ "," :+ "NULL") ++ ts.drop(close)
        i += 1 // keep scanning INSIDE the call — IF args can nest IFs
      } else i += 1
    }
    ts
  }

  /** YQL `DateTime::StartOfDay/StartOfWeek/StartOfMonth/StartOfYear(x)` →
    * `date_trunc('<UNIT>', x)`. Structural (the unit rides as a literal
    * first argument, so a bare name map can't express it); both engines
    * start weeks on Monday, so the WEEK bridge is faithful. Unknown
    * `StartOf*` names fall through untouched and fail loudly in Spark's
    * analyzer (the module-gap discipline).
    */
  private val StartOfUnits = Map(
    "startofday" -> "DAY", "startofweek" -> "WEEK",
    "startofmonth" -> "MONTH", "startofyear" -> "YEAR")

  private def rewriteStartOf(ts0: Vector[String]): Vector[String] = {
    var ts = ts0
    var i = 0
    while (i + 3 < ts.length) {
      val unit = if (ts(i).equalsIgnoreCase("datetime") && ts(i + 1) == "::" && ts(i + 3) == "(")
        StartOfUnits.get(ts(i + 2).toLowerCase) else None
      unit match {
        case Some(u) =>
          ts = (ts.take(i) ++ Vector("date_trunc", "(", s"'$u'", ",")) ++ ts.drop(i + 4)
        case None => i += 1
      }
    }
    ts
  }

  /** YQL `LEFT ONLY JOIN` — rows of the left side with no right match,
    * keeping only left columns: exactly Spark's `LEFT ANTI JOIN`. `RIGHT
    * ONLY` has no direct Spark form (swap the sides) — fail loudly.
    */
  private def rewriteOnlyJoins(ts: Vector[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < ts.length) {
      if (i + 2 < ts.length && ts(i).equalsIgnoreCase("left") &&
          ts(i + 1).equalsIgnoreCase("only") && ts(i + 2).equalsIgnoreCase("join")) {
        out += "LEFT" += "ANTI" += "JOIN"
        i += 3
      } else if (i + 2 < ts.length && ts(i).equalsIgnoreCase("right") &&
          ts(i + 1).equalsIgnoreCase("only") && ts(i + 2).equalsIgnoreCase("join")) {
        throw new IllegalArgumentException(
          "YQL: RIGHT ONLY JOIN is not supported — swap the sides and use LEFT ONLY JOIN")
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }

  /** YQL `SELECT * WITHOUT a, b` — star expansion minus named columns —
    * is Spark's `SELECT * EXCEPT (a, b)` exactly (both drop the columns
    * from the expansion and fail on unknown names). Applies to `t.*` too.
    * A WITHOUT not following a star is left for Spark's parser to reject.
    */
  private def rewriteWithout(ts: Vector[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < ts.length) {
      if (ts(i).equalsIgnoreCase("without") && i > 0 && ts(i - 1) == "*" &&
          i + 1 < ts.length && isIdent(strip(ts(i + 1)))) {
        // emit the ORIGINAL (possibly backquoted) token: Spark accepts
        // backquoted names inside EXCEPT, and stripping the quotes would
        // break reserved-word identifiers like `order`
        val cols = Vector.newBuilder[String]
        cols += ts(i + 1)
        var j = i + 2
        while (j + 1 < ts.length && ts(j) == "," && isIdent(strip(ts(j + 1)))) {
          cols += ts(j + 1); j += 2
        }
        out += "EXCEPT" += "("
        out ++= cols.result().flatMap(c => Vector(c, ",")).dropRight(1)
        out += ")"
        i = j
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }

  /** YQL type names inside `CAST(x AS T)`. `Datetime` carries semantics —
    * YQL's cast truncates to second precision (yq_dag.py:66; SURVEY.md §1.2
    * P3) — so it becomes `date_trunc('SECOND', CAST(x AS TIMESTAMP))`, not a
    * plain cast. Unsigned ints map to the next signed Spark type that holds
    * the reference's value ranges (SURVEY.md §1.2: no unsigned in Spark).
    */
  private def sparkTypeTokens(yqlType: String): Option[String] = yqlType.toLowerCase match {
    case "uint32" | "int32"  => Some("INT")
    case "uint64" | "int64"  => Some("BIGINT")
    case "uint16" | "int16"  => Some("SMALLINT")
    case "uint8" | "int8"    => Some("TINYINT")
    case "utf8"              => Some("STRING")
    case "bool"              => Some("BOOLEAN")
    case _                   => None // pass through unchanged (double, date, decimal(p,s), …)
  }

  private def rewriteCasts(ts: Vector[String]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < ts.length) {
      if (ts(i).equalsIgnoreCase("cast") && i + 1 < ts.length && ts(i + 1) == "(") {
        var depth = 0; var j = i + 1; var asIdx = -1; var close = -1
        while (close < 0 && j < ts.length) {
          ts(j) match {
            case "(" => depth += 1
            case ")" => depth -= 1; if (depth == 0) close = j
            case t if depth == 1 && t.equalsIgnoreCase("as") => asIdx = j
            case _ =>
          }
          j += 1
        }
        require(close > 0 && asIdx > 0, "YQL: malformed CAST")
        val expr = rewriteCasts(ts.slice(i + 2, asIdx))
        val tpe  = ts.slice(asIdx + 1, close)
        if (tpe.length == 1 && tpe.head.equalsIgnoreCase("datetime"))
          out ++= Vector("date_trunc", "(", "'SECOND'", ",", "CAST", "(") ++ expr ++
            Vector("AS", "TIMESTAMP", ")", ")")
        else {
          val mapped = if (tpe.length == 1) sparkTypeTokens(tpe.head).map(Vector(_)) else None
          out ++= Vector("CAST", "(") ++ expr ++ Vector("AS") ++ mapped.getOrElse(tpe) ++ Vector(")")
        }
        i = close + 1
      } else { out += ts(i); i += 1 }
    }
    out.result()
  }

  /** YQL `GROUP BY expr AS name` — the grouping expression gets a name that
    * the SELECT list (and ORDER BY) can reference (README_en.md:244-245:
    * `select dyear, … group by DateTime::GetYear(pdate) as dyear`). Spark
    * has no aliased grouping items, so: strip the alias from the GROUP BY
    * and replace standalone references to it in the owning SELECT list
    * with `expr AS name` (ORDER BY then resolves against the output
    * column). Same aggregation plan either way — purely name plumbing.
    */
  private def rewriteGroupByAlias(ts0: Vector[String]): Vector[String] = {
    val ClauseEnds = Set("order", "having", "limit", "union", "except", "intersect", "window")
    var ts = ts0
    var changed = true
    var guard = 0
    while (changed && guard < 64) {
      changed = false
      guard += 1
      val d = {
        val arr = new Array[Int](ts.length); var cur = 0; var k = 0
        while (k < ts.length) {
          if (ts(k) == "(") { arr(k) = cur; cur += 1 }
          else if (ts(k) == ")") { cur -= 1; arr(k) = cur }
          else arr(k) = cur
          k += 1
        }
        arr
      }
      // find a GROUP BY containing an aliased item
      val gIdx = (0 until ts.length - 1).find(k =>
        ts(k).equalsIgnoreCase("group") && ts(k + 1).equalsIgnoreCase("by") && {
          val dep = d(k)
          val end = (k + 2 until ts.length).find(j =>
            d(j) < dep || (d(j) == dep && ClauseEnds.contains(ts(j).toLowerCase))).getOrElse(ts.length)
          (k + 2 until end).exists(j => d(j) == dep && ts(j).equalsIgnoreCase("as"))
        })
      gIdx.foreach { g =>
        val dep = d(g)
        val end = (g + 2 until ts.length).find(j =>
          d(j) < dep || (d(j) == dep && ClauseEnds.contains(ts(j).toLowerCase))).getOrElse(ts.length)
        // split items on depth-level commas
        var items = Vector.empty[Vector[String]]
        var cur = Vector.empty[String]
        (g + 2 until end).foreach { j =>
          if (ts(j) == "," && d(j) == dep) { items :+= cur; cur = Vector.empty }
          else cur :+= ts(j)
        }
        if (cur.nonEmpty) items :+= cur
        var aliases = Map.empty[String, Vector[String]]
        val strippedItems = items.map { it =>
          if (it.length >= 3 && it(it.length - 2).equalsIgnoreCase("as") && isIdent(it.last)) {
            aliases += it.last -> it.dropRight(2)
            it.dropRight(2)
          } else it
        }
        // owning SELECT list: nearest preceding select at this depth → its FROM
        val sIdx = (g - 1 to 0 by -1).find(k => d(k) == dep && ts(k).equalsIgnoreCase("select"))
          .getOrElse(throw new IllegalArgumentException("YQL: GROUP BY without SELECT"))
        val fIdx = (sIdx + 1 until g).find(k => d(k) == dep && ts(k).equalsIgnoreCase("from"))
          .getOrElse(g)
        val newSelect = (sIdx + 1 until fIdx).flatMap { k =>
          val t = ts(k)
          if (d(k) == dep && aliases.contains(t) && (k == sIdx + 1 || ts(k - 1) != ".") &&
              (k + 1 >= fIdx || ts(k + 1) != "."))
            aliases(t) ++ Vector("AS", t)
          else Vector(t)
        }.toVector
        val newGroup = Vector(ts(g), ts(g + 1)) ++
          strippedItems.zipWithIndex.flatMap { case (it, i) =>
            if (i == 0) it else "," +: it
          }
        // YQL lets HAVING reference the grouping alias too; Spark's HAVING
        // resolves only against the aggregate's child and output, so inline
        // the expression (parenthesized — it replaces a bare identifier)
        val tail: Vector[String] =
          if (end < ts.length && d(end) == dep && ts(end).equalsIgnoreCase("having")) {
            val hEnd = (end + 1 until ts.length).find(j =>
              d(j) < dep || (d(j) == dep && ClauseEnds.contains(ts(j).toLowerCase) &&
                !ts(j).equalsIgnoreCase("having"))).getOrElse(ts.length)
            (ts(end) +: (end + 1 until hEnd).toVector.flatMap { k =>
              if (aliases.contains(ts(k)) && ts(k - 1) != "." &&
                  (k + 1 >= ts.length || ts(k + 1) != "."))
                ("(" +: aliases(ts(k))) :+ ")"
              else Vector(ts(k))
            }) ++ ts.drop(hEnd)
          } else ts.drop(end)
        ts = ts.take(sIdx + 1) ++ newSelect ++ ts.slice(fIdx, g) ++ newGroup ++ tail
        changed = true
      }
    }
    ts
  }

  /** YQL `FROM T [t] FLATTEN BY c [AS e]` — explode an array column to one
    * row per element. Without AS the element REPLACES the column (YQL's
    * default); with AS the original array stays and the element appears
    * under the new name. Spark form: a derived table wrapping
    * `LATERAL VIEW explode` (+ `* EXCEPT` for the replace case), taking
    * the original alias so outer references keep resolving. Same plan
    * Spark gives a native explode — the generator runs inside the scan
    * stage, no shuffle.
    */
  private def rewriteFlattenBy(ts0: Vector[String]): Vector[String] = {
    var ts = ts0
    var guard = 0
    var idx = ts.indexWhere(_.equalsIgnoreCase("flatten"))
    while (idx >= 0 && guard < 64) {
      guard += 1
      require(idx + 2 < ts.length && ts(idx + 1).equalsIgnoreCase("by"),
        "YQL: FLATTEN must be followed by BY")
      val colName = ts(idx + 2)
      require(isIdent(colName), s"YQL: FLATTEN BY expects a column name, got $colName")
      val (elemAlias, after) =
        if (idx + 4 < ts.length && ts(idx + 3).equalsIgnoreCase("as") && isIdent(ts(idx + 4)))
          (Some(ts(idx + 4)), idx + 5)
        else (None, idx + 3)
      // the relation (and optional alias) directly precede FLATTEN; search
      // depth-aware so a parenthesized subquery relation's inner FROM
      // cannot match
      val d = {
        val arr = new Array[Int](ts.length); var cur = 0
        var k = 0
        while (k < ts.length) {
          if (ts(k) == "(") { arr(k) = cur; cur += 1 }
          else if (ts(k) == ")") { cur -= 1; arr(k) = cur }
          else arr(k) = cur
          k += 1
        }
        arr
      }
      val fromIdx = (idx - 1 to 0 by -1).find(k => d(k) == d(idx) &&
          (ts(k).equalsIgnoreCase("from") || ts(k).equalsIgnoreCase("join") || ts(k) == ","))
        .getOrElse(throw new IllegalArgumentException("YQL: FLATTEN BY outside a FROM clause"))
      val relSlice = ts.slice(fromIdx + 1, idx)
      require(relSlice.nonEmpty, "YQL: FLATTEN BY without a relation")
      val (rel, alias) =
        if (relSlice.length >= 2 && isIdent(relSlice.last) && relSlice(relSlice.length - 2) != ".")
          (relSlice.dropRight(1), relSlice.last)
        else (relSlice, relSlice.lastOption.filter(isIdent).getOrElse("_yql_fb"))
      val projection = elemAlias match {
        case Some(a) => Vector("*", "EXCEPT", "(", "_yql_elem", ")", ",", "_yql_elem", "AS", a)
        case None    => Vector("*", "EXCEPT", "(", colName, ",", "_yql_elem", ")",
          ",", "_yql_elem", "AS", colName)
      }
      val replacement =
        Vector("(", "SELECT") ++ projection ++ Vector("FROM") ++ rel ++
          Vector("LATERAL", "VIEW", "explode", "(", colName, ")", "_yql_fbv", "AS", "_yql_elem",
            ")", alias)
      ts = ts.take(fromIdx + 1) ++ replacement ++ ts.drop(after)
      idx = ts.indexWhere(_.equalsIgnoreCase("flatten"))
    }
    ts
  }

  /** `FROM A a EXCLUSION JOIN B b ON cond` → a derived table of the two
    * anti-joins (YQL semantics: rows of either side with no match on the
    * other — SURVEY.md §2.4 J1; same shape `SqlTextSpec` proves equivalent
    * to [[graft.operators.ExclusionJoin]]). The derived table takes the left
    * alias so outer references keep resolving. Constraint (documented): both
    * sides must be column-aligned, as in the reference's use — the UNION ALL
    * is positional.
    *
    * At scale both anti-joins hash-shuffle on the same key columns; Catalyst
    * plans them as two sort-merge anti joins over one exchange per side.
    */
  private def rewriteExclusionJoins(ts0: Vector[String]): Vector[String] = {
    val ClauseEnds = Set("group", "order", "having", "limit", "union", "except", "intersect", "window", "where")

    def depths(ts: Vector[String]): Array[Int] = {
      val d = new Array[Int](ts.length)
      var cur = 0
      var k = 0
      while (k < ts.length) {
        if (ts(k) == "(") { d(k) = cur; cur += 1 }
        else if (ts(k) == ")") { cur -= 1; d(k) = cur }
        else d(k) = cur
        k += 1
      }
      d
    }

    def relAndAlias(slice: Vector[String], fallback: String): (Vector[String], String) = {
      val s = if (slice.length >= 2 && slice(slice.length - 2).equalsIgnoreCase("as"))
        slice.dropRight(2) :+ slice.last
      else slice
      if (s.length >= 2 && isIdent(s.last) && s(s.length - 2) != ".") (s.dropRight(1), s.last)
      else if (s.length == 1 && isIdent(s.head)) (s, s.head)
      else (s, fallback)
    }

    var ts = ts0
    var guard = 0
    var idx = ts.indexWhere(_.equalsIgnoreCase("exclusion"))
    while (idx >= 0 && guard < 64) {
      guard += 1
      require(idx + 1 < ts.length && ts(idx + 1).equalsIgnoreCase("join"),
        "YQL: EXCLUSION must be followed by JOIN")
      val d = depths(ts)
      val dep = d(idx)
      val fromIdx = (idx - 1 to 0 by -1).find(k => d(k) == dep && ts(k).equalsIgnoreCase("from"))
        .getOrElse(throw new IllegalArgumentException("YQL: EXCLUSION JOIN without FROM"))
      val onIdx = (idx + 2 until ts.length).find(k => d(k) == dep && ts(k).equalsIgnoreCase("on"))
        .getOrElse(throw new IllegalArgumentException("YQL: EXCLUSION JOIN requires ON"))
      val endIdx = (onIdx + 1 until ts.length).find { k =>
        d(k) < dep || (d(k) == dep && ClauseEnds.contains(ts(k).toLowerCase))
      }.getOrElse(ts.length)

      val (relL, aL) = relAndAlias(ts.slice(fromIdx + 1, idx), "_yql_l")
      val (relR, aR) = relAndAlias(ts.slice(idx + 2, onIdx), "_yql_r")
      val cond = ts.slice(onIdx + 1, endIdx)

      val replacement =
        Vector("FROM", "(", "SELECT", aL, ".", "*", "FROM") ++ relL ++ Vector(aL, "ANTI", "JOIN") ++
          relR ++ Vector(aR, "ON") ++ cond ++
          Vector("UNION", "ALL", "SELECT", aR, ".", "*", "FROM") ++ relR ++ Vector(aR, "ANTI", "JOIN") ++
          relL ++ Vector(aL, "ON") ++ cond ++
          Vector(")", aL)

      ts = ts.take(fromIdx) ++ replacement ++ ts.drop(endIdx)
      idx = ts.indexWhere(_.equalsIgnoreCase("exclusion"))
    }
    require(idx < 0, "YQL: EXCLUSION JOIN rewrite did not converge")
    ts
  }

  // ------------------------------------------------------- set-op audit

  /** Notch 14 guard: YQL set operations (`UNION [ALL]`, `INTERSECT`,
    * `EXCEPT`) combine columns BY NAME, Spark's positionally. When every
    * branch's output-name list is derivable from the text and the lists
    * agree in order, the two semantics coincide and the text passes
    * through untouched (`JOIN … USING` and explicit `ROWS BETWEEN`
    * frames pass through the same way — Spark's grammar IS the YQL
    * shape for those). Anything else fails loudly, naming YQL's own
    * `PRAGMA PositionalUnionAll` as the opt-in to positional semantics —
    * never silently computing a different bag than YQ would.
    *
    * Runs on RAW statement tokens, before rewrites: the EXCLUSION JOIN
    * rewrite emits an internal `UNION ALL` over `a.*` branches that must
    * not be audited, and `SELECT * WITHOUT` becomes a Spark `EXCEPT (…)`
    * that is not a set operation.
    */
  private def auditSetOps(ts: Vector[String]): Unit = {
    val ops = Set("union", "intersect", "except")
    def isOpAt(i: Int): Boolean = ops.contains(ts(i).toLowerCase) && {
      var j = i + 1
      if (j < ts.length && (ts(j).equalsIgnoreCase("all") || ts(j).equalsIgnoreCase("distinct"))) j += 1
      j < ts.length && (ts(j).equalsIgnoreCase("select") ||
        (ts(j) == "(" && j + 1 < ts.length && ts(j + 1).equalsIgnoreCase("select")))
    }
    // recurse into every parenthesized group (subqueries hold set ops too)
    var i = 0
    var depth = 0
    var groupStart = -1
    val cuts = Vector.newBuilder[Int]
    while (i < ts.length) {
      ts(i) match {
        case "(" => if (depth == 0) groupStart = i; depth += 1
        case ")" =>
          depth -= 1
          if (depth == 0 && groupStart >= 0) { auditSetOps(ts.slice(groupStart + 1, i)); groupStart = -1 }
        case _ => if (depth == 0 && isOpAt(i)) cuts += i
      }
      i += 1
    }
    val cutIdx = cuts.result()
    if (cutIdx.isEmpty) return
    val starts = 0 +: cutIdx.map { c =>
      var j = c + 1
      if (ts(j).equalsIgnoreCase("all") || ts(j).equalsIgnoreCase("distinct")) j += 1
      j
    }
    val branches = starts.zip(cutIdx :+ ts.length).map { case (s, e) => ts.slice(s, e) }
    val names = branches.map(branchOutputNames)
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"YQL: set operations combine columns by NAME in YQL but positionally in this engine; $why — " +
        "alias every branch's columns identically (then the semantics coincide), " +
        "or set PRAGMA PositionalUnionAll to opt into positional semantics")
    if (names.exists(_.isEmpty))
      fail("a branch's output names are not derivable from the text (star or unaliased expression)")
    val ref = names.head.get.map(_.toLowerCase)
    if (!names.forall(_.get.map(_.toLowerCase) == ref))
      fail(s"branch output names differ: ${names.map(_.get.mkString("(", ", ", ")")).mkString(" vs ")}")
  }

  /** Syntactically derive a set-op branch's output-name list: the select
    * items up to the depth-0 FROM/clause keyword, each named by its last
    * depth-0 `AS alias`, a bare column reference, or `t.col`. `*` and
    * unaliased expressions return None (engines auto-name those
    * differently — underivable, so the audit must fail).
    */
  private def branchOutputNames(branch0: Vector[String]): Option[Vector[String]] = {
    var b = branch0
    while (b.length > 2 && b.head == "(" && b.last == ")" && {
      var d = 0; var balanced = true
      for (j <- b.indices.dropRight(1)) { if (b(j) == "(") d += 1 else if (b(j) == ")") d -= 1; if (d == 0 && j > 0) balanced = false }
      balanced
    }) b = b.slice(1, b.length - 1)
    if (b.isEmpty || !b.head.equalsIgnoreCase("select")) return None
    var items = Vector.empty[Vector[String]]
    var cur = Vector.newBuilder[String]
    var depth = 0
    var i = 1
    if (i < b.length && b(i).equalsIgnoreCase("distinct")) i += 1
    val clauseEnd = Set("from", "where", "group", "order", "having", "limit", "window")
    var done = false
    while (i < b.length && !done) {
      val t = b(i)
      if (t == "(") { depth += 1; cur += t }
      else if (t == ")") { depth -= 1; cur += t }
      else if (depth == 0 && t == ",") { items :+= cur.result(); cur = Vector.newBuilder[String] }
      else if (depth == 0 && clauseEnd.contains(t.toLowerCase)) done = true
      else cur += t
      i += 1
    }
    items :+= cur.result()
    val names = items.map { it =>
      var asIdx = -1
      var d = 0
      for (j <- it.indices) {
        if (it(j) == "(") d += 1 else if (it(j) == ")") d -= 1
        else if (d == 0 && it(j).equalsIgnoreCase("as") && j + 1 < it.length) asIdx = j
      }
      if (asIdx >= 0 && isIdent(strip(it(asIdx + 1)))) Some(strip(it(asIdx + 1)))
      else if (it.length == 1 && isIdent(strip(it.head))) Some(strip(it.head))
      else if (it.length == 3 && it(1) == "." && isIdent(strip(it(2)))) Some(strip(it(2)))
      else None
    }
    if (names.forall(_.isDefined)) Some(names.map(_.get)) else None
  }

  // ------------------------------------------------------------ translate

  /** The translated script: one Spark SQL text, plus the insert target when
    * the final statement was an INSERT (the select feeds the sink with its
    * columns renamed positionally to the target list, like YQL's by-position
    * insert).
    */
  final case class YqlScript(sql: String, insert: Option[InsertTarget])
  final case class InsertTarget(sink: String, columns: Seq[String], truncate: Boolean = false)

  /** SQL literal rendering for submitted parameters (YQL `DECLARE`). */
  private def literal(v: Any): String = v match {
    case s: String               => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date        => s"DATE '$d'"
    case t: java.sql.Timestamp   => s"TIMESTAMP '$t'"
    case b: Boolean              => if (b) "TRUE" else "FALSE"
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float) => n.toString
    case d: BigDecimal           => d.toString
    case other => throw new IllegalArgumentException(
      s"YQL: unsupported parameter type ${other.getClass.getName}")
  }

  def translate(text: String, resolver: YqlResolver = YqlResolver.views,
                params: Map[String, Any] = Map.empty): YqlScript = {
    val stmts = splitStatements(tokenize(text))
    require(stmts.nonEmpty, "YQL: empty script")

    // YQL's own switch to positional set-operation semantics (the audit's
    // documented escape hatch); other pragmas remain engine-tuning no-ops
    val positionalSetOps = stmts.exists(s => s.head.equalsIgnoreCase("pragma") &&
      s.length >= 2 && s(1).equalsIgnoreCase("positionalunionall"))

    val paramTokens = params.map { case (k, v) => k -> literal(v) }
    var cteNames = Vector.empty[String]            // subquery bindings, in order
    var cteBodies = Map.empty[String, String]
    var exprBindings = Map.empty[String, Vector[String]] // scalar/expression bindings
    var finals = Vector.empty[Vector[String]]

    def substitute(ts: Vector[String]): Vector[String] = ts.flatMap { t =>
      if (t.startsWith("$")) {
        val n = t.drop(1)
        if (cteNames.contains(n)) Vector(s"_yql_$n")
        else if (exprBindings.contains(n)) {
          val b = exprBindings(n)
          // a lambda binding (`$f = ($x) -> …`) inlines BARE: Spark's grammar
          // only accepts a lambda as a direct higher-order-function argument,
          // never inside parens
          val isLambda = {
            var depth = 0
            b.exists { t =>
              if (t == "(") { depth += 1; false }
              else if (t == ")") { depth -= 1; false }
              else t == "->" && depth == 0
            }
          }
          if (isLambda) b else "(" +: b :+ ")"
        }
        else if (paramTokens.contains(n)) Vector(paramTokens(n))
        else throw new IllegalArgumentException(s"YQL: reference to undefined binding $$$n")
      } else Vector(t)
    }

    def body(ts: Vector[String]): Vector[String] =
      rewriteExclusionJoins(rewriteFlattenBy(rewriteGroupByAlias(rewriteWithout(rewriteCasts(
        rewriteBuiltinFns(rewriteBoolListFns(rewriteModuleFns(rewriteSplitToList(
          rewriteSubstring(rewriteStartOf(rewriteTwoArgIf(
            rewriteOnlyJoins(substitute(rewriteLambdas(rewriteTables(ts, resolver))))))))))))))))

    val isSubqueryBinding: Vector[String] => Boolean =
      s => s.length > 4 && s(0).startsWith("$") && s(1) == "=" && s(2) == "(" &&
        s(3).equalsIgnoreCase("select") && s.last == ")"
    val isExprBinding: Vector[String] => Boolean =
      s => s.length > 2 && s(0).startsWith("$") && s(1) == "="

    stmts.foreach { s =>
      if (s.head.equalsIgnoreCase("pragma")) ()      // engine tuning — no Spark analog needed
      else if (s.head.equalsIgnoreCase("declare")) ()
        // DECLARE $p AS T; — parameters arrive pre-typed via `params`
      else if (isSubqueryBinding(s)) {
        val n = s(0).drop(1)
        if (!positionalSetOps) auditSetOps(s.slice(3, s.length - 1))
        cteBodies += n -> render(body(s.slice(3, s.length - 1)))
        cteNames :+= n
      } else if (isExprBinding(s)) {
        if (!positionalSetOps) auditSetOps(s.drop(2))
        exprBindings += s(0).drop(1) -> body(s.drop(2))
      } else finals :+= s
    }
    require(finals.length == 1,
      s"YQL: expected exactly one result statement, got ${finals.length}")

    val fin = finals.head
    val (insert, selectTokens) =
      if (fin.headOption.exists(_.equalsIgnoreCase("insert"))) {
        require(fin.length > 2 && fin(1).equalsIgnoreCase("into"), "YQL: INSERT must be INSERT INTO")
        val open = fin.indexOf("(")
        require(open > 2, "YQL: INSERT INTO requires an explicit column list")
        // YQL table hint between target and column list: `WITH TRUNCATE`
        // replaces existing data instead of appending
        val hint = fin.slice(2, open).map(_.toLowerCase)
        val truncate = hint.length >= 2 && hint.endsWith(Seq("with", "truncate"))
        val nameEnd = if (truncate) open - 2 else open
        require(!hint.contains("with") || truncate,
          s"YQL: unsupported INSERT hint ${fin.slice(2, open).mkString(" ")}")
        val target = fin.slice(2, nameEnd).map(t => if (t.startsWith("`")) t.substring(1, t.length - 1) else t).mkString
        val close = fin.indexOf(")", open)
        val cols = fin.slice(open + 1, close).filter(_ != ",")
        require(cols.forall(isIdent), s"YQL: bad INSERT column list: ${cols.mkString(" ")}")
        (Some(InsertTarget(target, cols, truncate)), fin.drop(close + 1))
      } else (None, fin)
    if (!positionalSetOps) auditSetOps(selectTokens)

    val cte =
      if (cteNames.isEmpty) ""
      else cteNames.map(n => s"_yql_$n AS ( ${cteBodies(n)} )")
        .mkString("WITH ", ", ", " ")
    YqlScript(cte + render(body(selectTokens)), insert)
  }

  /** Translate and execute. SELECT scripts return the result frame; INSERT
    * scripts run the insert through the resolver's sink and return None.
    * `params` binds `DECLARE`d (or just referenced) `$parameters` to Scala
    * values, rendered as SQL literals.
    */
  def run(spark: SparkSession, text: String,
          resolver: YqlResolver = YqlResolver.views,
          params: Map[String, Any] = Map.empty): Option[DataFrame] = {
    graft.GraftSession.prepare(spark)
    val script = translate(text, resolver, params)
    val df = spark.sql(script.sql)
    script.insert match {
      case Some(t) =>
        val sink = resolver.sink(t.sink)
        val renamed = df.toDF(t.columns: _*)
        if (t.truncate) sink.insertTruncate(renamed) else sink.insert(renamed)
        None
      case None    => Some(df)
    }
  }
}

/** Maps YQL connection-qualified names to Spark-addressable relations and
  * INSERT targets to sinks. The default resolves every table to a same-named
  * temp view (the federated namespace `Tables.registerAll` builds) and
  * rejects inserts.
  */
trait YqlResolver {
  def table(connection: Option[String], name: String): String
  def sink(name: String): YqlSink
}

object YqlResolver {
  def apply(tables: Map[String, String] = Map.empty,
            sinks: Map[String, YqlSink] = Map.empty): YqlResolver = new YqlResolver {
    def table(connection: Option[String], name: String): String = {
      val qualified = connection.map(c => s"$c.$name").getOrElse(name)
      tables.getOrElse(qualified, tables.getOrElse(name, name))
    }
    def sink(name: String): YqlSink = sinks.getOrElse(name,
      throw new IllegalArgumentException(s"YQL: no sink registered for INSERT target '$name'"))
  }

  /** Every name is a registered view; no sinks. */
  val views: YqlResolver = apply()
}

/** Destination of a YQL `INSERT INTO`. */
trait YqlSink {
  def insert(df: DataFrame): Unit

  /** `INSERT INTO … WITH TRUNCATE` — replace existing data instead of
    * appending. Optional: sinks that cannot replace fail loudly.
    */
  def insertTruncate(df: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"YQL: sink ${getClass.getSimpleName} does not support INSERT WITH TRUNCATE")
}

/** The reference's Object Storage binding as a sink: Hive-partitioned
  * parquet append (yq_dag.py:71-73 inserts into the partitioned binding;
  * idempotent re-runs should instead go through
  * [[graft.sources.ColdStore.exportYear]]'s dynamic overwrite).
  *
  * `WITH TRUNCATE` is deliberately scoped to DYNAMIC partition overwrite:
  * only the partitions the insert produces are replaced. On a managed table
  * YQL's hint truncates everything, but on a 100 TB partitioned object-store
  * binding a full-prefix truncate rewrites the world to re-load one year —
  * the delete-partition-then-insert idempotency the reference DAG builds by
  * hand (yq_dag.py drop_partition → insert) is exactly dynamic overwrite.
  */
final case class PartitionedParquetSink(base: String, partitionCol: String) extends YqlSink {
  def insert(df: DataFrame): Unit =
    df.write.mode("append").partitionBy(partitionCol).parquet(base)

  override def insertTruncate(df: DataFrame): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(base)
}
