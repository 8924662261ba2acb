package graft.client

import graft.sql.{ChClauses, ChLex}
import graft.sql.ChClauses._

/** Translates the ClickHouse-dialect SQL our unparser generates into Spark
  * SQL for the embedded server engine. A real ClickHouse server would
  * execute the SQL as-is; the translator models the server's function
  * surface (the functions the reference's tests exercise through
  * passthrough — SURVEY.md §2.8) on top of Spark.
  *
  * Scope is intentionally the dialect WE generate: backtick quoting is
  * shared by both dialects; lambda syntax `x -> body` is shared by
  * ClickHouse HOFs and Spark HOFs. Translation is a few statement-shape
  * rewrites (brackets, PREWHERE, scalar WITH, ARRAY JOIN, ASOF, TOTALS,
  * QUALIFY, SETTINGS, table references, NULL ordering) followed by ONE
  * walk over the call sites ([[translateCalls]]). Every scanner reads
  * the text through [[graft.sql.ChLex]], so string literals are opaque
  * everywhere, and every clause boundary comes from
  * [[graft.sql.ChClauses]], whose one level walk the rewrites that act
  * at every query level share. The call walk translates each call's
  * arguments before the call and dispatches on the exact,
  * case-sensitive name through one table ([[rules]]) — 1:1 name swaps
  * and rewrite rules alike; a name entered twice fails at object init.
  */
object ChSqlTranslator {

  def viewName(db: String, table: String): String = s"__ch_${db}_$table"

  /** One translation rule, keyed by the exact ClickHouse name. */
  private[graft] sealed trait Rule
  /** 1:1 name swap: the argument text passes through (translated). */
  private[graft] final case class Swap(to: String) extends Rule
  /** `name(args)` → text, over the already-translated arguments. */
  private[graft] final case class Call(f: Seq[String] => String) extends Rule
  /** Parameterized aggregate `name(params)(args)`; a call without the
    * second group passes through.
    */
  private[graft] final case class Param(f: (Seq[String], Seq[String]) => String)
    extends Rule

  /** The rule table; a name entered twice fails here. */
  private[graft] def ruleTable(entries: Seq[(String, Rule)]): Map[String, Rule] = {
    val dups = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"translator rule table: duplicate names ${dups.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  /** ClickHouse function name → Spark equivalent (1:1 name swaps). */
  private def swaps: Seq[(String, Rule)] = Seq[(String, String)](
    "arrayJoin" -> "explode",
    // ClickHouse length() is polymorphic (strings AND arrays); Spark's is
    // string-only, so the embedded session registers a type-agnostic UDF
    "length" -> "graft_length",
    "base64Encode" -> "base64",
    "lengthUTF8" -> "char_length",
    "toUpperCase" -> "upper",
    "toLowerCase" -> "lower",
    "toInt64" -> "bigint",
    "toInt32" -> "int",
    "toFloat64" -> "double",
    "toString" -> "string",
    "modulo" -> "mod",
    "intDiv" -> "div",
    // Unix seconds from a DateTime: identical integer result (Spark's
    // unix_timestamp also accepts the string+format arity, like the server)
    "toUnixTimestamp" -> "unix_timestamp",
    // binary MD5 digest (Spark's md5() is hex-string; the server model
    // registers a digest-returning UDF so hex()/lower() compose on top)
    "MD5" -> "graft_md5bin",
    "SHA1" -> "graft_sha1bin",
    "SHA256" -> "graft_sha256bin",
    "CRC32" -> "graft_crc32",
    "arrayDistinct" -> "array_distinct",
    // value-identical 1:1 swaps (round 11): tie-breaks in argMax/argMin
    // are unspecified in BOTH engines; indexOf and array_position are
    // both 1-based with 0 for absent; arrayConcat/concat and
    // arrayReverse/reverse agree element-wise
    "argMax" -> "max_by",
    "argMin" -> "min_by",
    "has" -> "array_contains",
    "arrayReverse" -> "reverse",
    "arrayConcat" -> "concat",
    "indexOf" -> "array_position",
    "today" -> "current_date",
    "arrayFlatten" -> "flatten",
    // Unicode-codepoint case mapping in both engines
    "lowerUTF8" -> "lower",
    "upperUTF8" -> "upper",
    // insertion-order collection: order is UNSPECIFIED under parallel
    // execution in BOTH engines (same contract, not a silent delta)
    "groupArray" -> "collect_list",
    "groupUniqArray" -> "collect_set",
    // unnamed tuples are structs (Spark's own `(a, b)` literal parse);
    // tupleElement's positional access registers as graft_tuple_at
    "tuple" -> "struct",
    // statistical aggregates (scan-level complete pushdown)
    "varSamp" -> "var_samp",
    "varPop" -> "var_pop",
    "stddevSamp" -> "stddev_samp",
    "stddevPop" -> "stddev_pop",
    "covarSamp" -> "covar_samp",
    "covarPop" -> "covar_pop",
    // Pearson correlation: the same formula in both engines
    "corr" -> "corr",
    // population skewness: Spark's skewness IS µ3/σ³ over population
    // central moments (CentralMomentAgg: √n·M3/M2^1.5)
    "skewPop" -> "skewness",
    // round-14 wave: value-identical 1:1 swaps (FnSurfaceSpec sweep)
    "mapKeys" -> "map_keys",
    "mapValues" -> "map_values",
    "mapContains" -> "map_contains_key",
    "bitCount" -> "bit_count",
    "bitShiftLeft" -> "shiftleft",
    "bitShiftRight" -> "shiftright",
    // banker's (half-even) rounding in both engines
    "roundBankers" -> "bround",
    // NULL elements are skipped by BOTH engines' array min/max
    "arrayMin" -> "array_min",
    "arrayMax" -> "array_max",
    // Spark substring/char ops are codepoint-based — exactly the UTF8
    // variants' contract
    "substringUTF8" -> "substring",
    "concatWithSeparator" -> "concat_ws",
    "generateUUIDv4" -> "uuid",
    // CH randCanonical IS Spark's rand: uniform [0, 1) Float64
    "randCanonical" -> "rand",
    // round-15 hash wave (public-spec kernels in graft.functions
    // .GraftHashes, vectors pinned in HashKernelSpec; single-argument
    // law enforced at registration). xxHash64 ALSO fixes a silent
    // divergence: Spark's case-insensitive resolver served its builtin
    // xxhash64 (internal row layout, seed 42) for the ClickHouse
    // spelling (XXH64 of the raw bytes, seed 0) — the rand() trap.
    // The lowercase internal `xxhash64(...)` the uniq rewrites emit is
    // untouched (the rule table is case-sensitive by design).
    "cityHash64" -> "graft_cityhash64",
    "sipHash64" -> "graft_siphash64",
    "xxHash64" -> "graft_xxhash64ch",
    "xxHash32" -> "graft_xxhash32ch",
    "farmFingerprint64" -> "graft_farmfp64",
    "halfMD5" -> "graft_halfmd5",
    // exact integer laws (BigInteger gcd; zero boundaries reject at
    // runtime — the server's zero law is not pinnable offline)
    "gcd" -> "graft_gcd",
    "lcm" -> "graft_lcm",
    // MySQL substring_index law in both engines (round-15 sweep 2)
    "substringIndex" -> "substring_index",
    // non-overlapping match count in both engines (round 16)
    "countMatches" -> "regexp_count",
    // calendar-exact in both engines (round 16)
    "toLastDayOfMonth" -> "last_day",
    // bit-fold aggregates: identical AND/OR/XOR folds, NULLs skipped
    // in both engines (empty groups: Spark NULL where a server yields
    // the fold identity — "no answer" vs identity, documented; gates
    // and probes never aggregate empty groups)
    "groupBitAnd" -> "bit_and",
    "groupBitOr" -> "bit_or",
    "groupBitXor" -> "bit_xor").map { case (ch, sp) => ch -> Swap(sp) }

  // ---- round-14 wave helpers -------------------------------------------

  /** The inner text of a simple single-quoted literal (no embedded
    * quotes); None for anything else — callers reject loudly.
    */
  private def stringLiteral(arg: String): Option[String] = {
    val t = arg.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'' &&
      !t.substring(1, t.length - 1).contains('\'')) Some(t.substring(1, t.length - 1))
    else None
  }

  /** Escape a literal separator for embedding in a Spark regex string
    * (the emitted text carries doubled backslashes, which the child
    * session's literal parse collapses to single ones).
    */
  private def escapeRegexLiteral(lit: String): String =
    lit.flatMap { c =>
      if ("\\^$.|?*+()[]{}".contains(c)) s"\\\\$c" else c.toString
    }

  /** ClickHouse extract/extractAll return capture group 1 when the
    * pattern captures, else the whole match — detectable only on a
    * literal pattern (unescaped '(' not opening a non-capturing group).
    */
  private def extractGroupIdx(arg: String): Int = {
    val lit = stringLiteral(arg).getOrElse(throw new IllegalArgumentException(
      "extract/extractAll: the pattern must be a string literal (the " +
        "result is group 1 when the pattern captures, else the whole match)"))
    var i = 0
    var has = false
    var inClass = false
    var classStart = -1 // index of the char after '[' (or after '[^')
    while (i < lit.length && !has) {
      val c = lit.charAt(i)
      if (c == '\\') i += 2
      else {
        if (inClass) {
          // ']' immediately after '[' or '[^' is a LITERAL member
          // (regex law) — only a later ']' closes the class
          if (c == ']' && i > classStart) inClass = false
        } else if (c == '[') {
          inClass = true
          classStart =
            if (i + 1 < lit.length && lit.charAt(i + 1) == '^') i + 2 else i + 1
        } else if (c == '(' &&
          (i + 1 >= lit.length || lit.charAt(i + 1) != '?')) has = true
        i += 1
      }
    }
    if (has) 1 else 0
  }

  /** Count of capture groups in a literal pattern (same class-aware
    * scan as [[extractGroupIdx]]; nested groups count — Java and RE2
    * share that numbering). Backs extractGroups' array arity.
    */
  private def captureGroupCount(lit: String): Int = {
    var i = 0
    var n = 0
    var inClass = false
    var classStart = -1
    while (i < lit.length) {
      val c = lit.charAt(i)
      if (c == '\\') i += 2
      else {
        if (inClass) {
          if (c == ']' && i > classStart) inClass = false
        } else if (c == '[') {
          inClass = true
          classStart =
            if (i + 1 < lit.length && lit.charAt(i + 1) == '^') i + 2 else i + 1
        } else if (c == '(') {
          // plain '(' is capturing; '(?...' is capturing ONLY for the
          // named form '(?<name>' — '(?:', '(?=', '(?!', '(?<=', '(?<!'
          // are not (named groups DO take a number in both Java and RE2,
          // so skipping them would drop extractGroups' trailing groups)
          if (i + 1 >= lit.length || lit.charAt(i + 1) != '?') n += 1
          else if (i + 2 < lit.length && lit.charAt(i + 2) == '<' &&
            i + 3 < lit.length && lit.charAt(i + 3) != '=' &&
            lit.charAt(i + 3) != '!') n += 1
        }
        i += 1
      }
    }
    n
  }

  /** ClickHouse regex replacements reference groups as `\N`; Java (and
    * Spark) use `$N`. Literal-only, '$'-free (a raw '$' is ambiguous
    * across the dialects).
    */
  private def chReplacementToJava(arg: String, fn: String = "replaceRegexpAll"): String = {
    val lit = stringLiteral(arg).getOrElse(throw new IllegalArgumentException(
      s"$fn: the replacement must be a string literal"))
    require(!lit.contains('$'),
      s"$fn: a literal '$$' in the replacement renders " +
        "differently across dialects — rewrite without it")
    val conv = lit.replaceAll("\\\\\\\\([0-9])", "\\$$1")
      .replaceAll("\\\\([0-9])", "\\$$1")
    s"'$conv'"
  }

  /** ClickHouse `format` templates ({} positional, {N} indexed 0-based,
    * {{ }} brace escapes) → Java format_string templates.
    */
  private def chFormatToJava(tpl: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < tpl.length) {
      val c = tpl.charAt(i)
      if (c == '%') { out.append("%%"); i += 1 }
      else if (c == '{' && i + 1 < tpl.length && tpl.charAt(i + 1) == '{') {
        out.append('{'); i += 2
      } else if (c == '}' && i + 1 < tpl.length && tpl.charAt(i + 1) == '}') {
        out.append('}'); i += 2
      } else if (c == '{') {
        val e = tpl.indexOf('}', i)
        require(e > 0, s"format: unclosed '{' in template '$tpl'")
        val tok = tpl.substring(i + 1, e)
        if (tok.isEmpty) out.append("%s")
        else {
          require(tok.forall(_.isDigit),
            s"format: unsupported placeholder '{$tok}' (only {} and {N})")
          out.append("%").append(tok.toInt + 1).append("$s")
        }
        i = e + 1
      } else { out.append(c); i += 1 }
    }
    out.result()
  }

  /** ClickHouse formatDateTime tokens → Java date patterns — the
    * unambiguous subset only. `%M` is minute or MONTH NAME depending on
    * server version/settings → rejected; literal letters outside tokens
    * would be Java pattern letters → rejected (separators pass).
    */
  private def chDateFormatToJava(fmt: String): String = {
    val map = Map('Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'h' -> "hh", 'i' -> "mm", 'S' -> "ss", 's' -> "ss",
      'F' -> "yyyy-MM-dd", 'D' -> "MM/dd/yy", 'T' -> "HH:mm:ss",
      'j' -> "DDD", 'a' -> "EEE", 'W' -> "EEEE", 'p' -> "a", 'Q' -> "Q")
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%') {
        require(i + 1 < fmt.length, s"formatDateTime: dangling '%' in '$fmt'")
        val t = fmt.charAt(i + 1)
        if (t == '%') out.append('%')
        else out.append(map.getOrElse(t, throw new IllegalArgumentException(
          s"formatDateTime: token '%$t' is not supported — supported: " +
            map.keys.toSeq.sorted.map("%" + _).mkString(", ") +
            " ('%M' is minute or month name depending on server " +
            "version; spell %i for minute)")))
        i += 2
      } else {
        require(!c.isLetter && c != '\'',
          s"formatDateTime: literal '$c' outside a % token would be a " +
            "Java pattern letter — only separator characters are supported")
        out.append(c); i += 1
      }
    }
    out.result()
  }

  /** The PARSE-sharable MySQL-directive subset for parseDateTime
    * (round 17): zero-padded canonical forms parse identically under
    * ClickHouse's MySQL-style parser and Spark's DateTimeFormatter
    * patterns. Format-only tokens (%a/%W day names: locale laws;
    * %y/%D two-digit years: century bases differ; %j/%Q: not
    * round-trippable parse directives; %p/%h: 12-hour pairing) REJECT
    * loudly rather than parse divergently.
    */
  private def chDateParseToJava(fmt: String): String = {
    val map = Map('Y' -> "yyyy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'i' -> "mm", 'S' -> "ss", 's' -> "ss",
      'F' -> "yyyy-MM-dd", 'T' -> "HH:mm:ss")
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%') {
        require(i + 1 < fmt.length, s"parseDateTime: dangling '%' in '$fmt'")
        val t = fmt.charAt(i + 1)
        if (t == '%') out.append('%')
        else out.append(map.getOrElse(t, throw new IllegalArgumentException(
          s"parseDateTime: token '%$t' is not a PARSE-sharable " +
            "directive — supported: " +
            map.keys.toSeq.sorted.map("%" + _).mkString(", ") +
            " (day names, 2-digit years, 12-hour forms and %j/%Q have " +
            "divergent parse laws; run against a real server)")))
        i += 2
      } else {
        require(!c.isLetter && c != '\'',
          s"parseDateTime: literal '$c' outside a % token would be a " +
            "Java pattern letter — only separator characters are supported")
        out.append(c); i += 1
      }
    }
    out.result()
  }

  /** Elements of an `array(...)` literal (post-bracket-rewrite), or None. */
  private def splitArrayLiteral(arg: String): Option[Seq[String]] = {
    val t = arg.trim
    if (t.startsWith("array(") && t.endsWith(")"))
      Some(parseArgs(t.substring(6), 0)._1)
    else None
  }

  /** Pin the one honest totals mode on a statement combining WITH TOTALS
    * and HAVING: append (or merge into a trailing SETTINGS clause)
    * `totals_mode = 'after_having_exclusive'` — the mode the embedded
    * rewrite implements — so a real server receiving the statement
    * verbatim behaves identically regardless of its configured default.
    * A statement whose SETTINGS clause already names totals_mode is left
    * untouched (the embedded engine then honors-or-rejects the author's
    * choice).
    */
  def pinTotalsMode(sql: String): String = {
    val trimmed = sql.replaceAll(raw"[;\s]+$$", "")
    val pins = ChClauses.levels(trimmed).exists(l => l.branches.exists(b =>
      b.has(Having) && b(GroupBy).exists(l.seek(_, "WITH", "TOTALS") >= 0)))
    if (!pins) return sql
    val top = ChClauses(trimmed)
    val last = top.branches.last
    val settings = last(Settings)
    if (settings.exists(st => settingItems(top, st).exists(_._1 == "totals_mode")))
      return sql
    val at = settings.map(_.end).orElse(last(Format).map(_.start))
      .getOrElse(trimmed.length)
    val tail = trimmed.substring(at)
    trimmed.substring(0, at).replaceAll(raw"\s+$$", "") +
      (if (settings.isDefined) ", " else " SETTINGS ") +
      "totals_mode = 'after_having_exclusive'" +
      (if (tail.isEmpty) "" else " " + tail)
  }

  /** (lower-case name, value text) of each item of a SETTINGS clause. */
  private def settingItems(lvl: ChClauses, st: Clause): Seq[(String, String)] =
    parseArgs(lvl.body(st).stripSuffix(";") + ")", 0)._1.map { it =>
      val eq = it.indexOf('=')
      if (eq < 0) (it.trim.toLowerCase, "")
      else (it.substring(0, eq).trim.toLowerCase, it.substring(eq + 1).trim)
    }

  /** Drop a trailing top-level `FORMAT <name>` clause. The clause selects
    * a WIRE RENDERING, not a result: the connector owns the wire format
    * on every transport (RowBinary on HTTP, in-process frames embedded),
    * so stripping it IS honoring it — the rows are identical. Only the
    * statement-final form exists in the server grammar; a FORMAT token
    * anywhere else is left for the engine to reject loudly.
    */
  def stripFormat(sql: String): String =
    ChClauses(sql).branches.last(Format) match {
      case Some(f) => sql.substring(0, f.start).replaceAll(raw"\s+$$", "")
      case None => sql
    }

  /** ClickHouse bracket syntax, which Spark's parser either rejects or —
    * worse — silently re-interprets:
    *
    *  - `[e1, e2]` array literals → `array(e1, e2)` (Spark has no
    *    bracket-literal form);
    *  - `a[i]` / `m['k']` subscripts → `element_at(a, i)`: ClickHouse
    *    subscripts are 1-BASED (negative = from the end), Spark's own
    *    `a[i]` is 0-based — passing it through would be a silent
    *    off-by-one on every element access. element_at carries the
    *    server's indexing exactly; out-of-range reads error loudly under
    *    ANSI instead of minting the server's type-default, which a text
    *    rewrite cannot know.
    *
    * A `[` is a subscript iff the previous non-space character ends a
    * primary (identifier, backtick quote, `)`, or `]`); otherwise it
    * opens a literal.
    */
  private[client] def rewriteBrackets(in: String): String =
    rewriteSubscripts(rewriteArrayLiterals(rewriteMapLiterals(in)))

  /** ClickHouse map literals `{'k': v, ...}` → `map('k', v, ...)` —
    * Spark has no brace-literal form. Braces appear in SELECT grammar
    * only as map literals, so every top-level `:` inside a brace group
    * is a key-value separator (nested literals recurse; strings and
    * backticks are opaque).
    */
  private def rewriteMapLiterals(in: String): String = {
    if (!in.contains('{')) return in
    val out = new StringBuilder
    // nesting (parens + brackets) at each open brace: a ':' at exactly
    // that nesting separates a key from its value
    var braces = List.empty[Int]
    val lx = new ChLex(in)
    while (lx.next()) {
      val nest = lx.depth + lx.brackets
      if (lx.isPunct('{')) { braces ::= nest; out.append("map(") }
      else if (lx.isPunct('}') && braces.nonEmpty) { braces = braces.tail; out.append(')') }
      else if (lx.isPunct(':') && braces.headOption.contains(nest)) out.append(',')
      else out.append(lx.token)
    }
    out.result()
  }

  private def rewriteArrayLiterals(in: String): String = {
    if (!in.contains('[')) return in
    val out = new StringBuilder
    val literalStack = scala.collection.mutable.Stack[Boolean]()
    val lx = new ChLex(in)
    while (lx.next()) {
      if (lx.isPunct('[')) {
        var j = out.length - 1
        while (j >= 0 && out.charAt(j).isWhitespace) j -= 1
        val subscript = j >= 0 && {
          val p = out.charAt(j)
          if (p == '`' || p == ')' || p == ']') true
          else if (ChLex.isWordChar(p)) {
            // a bare word ends a primary UNLESS it is a keyword that
            // introduces an expression (`SELECT [1]`, `WHERE x IN [..]`)
            var k = j
            while (k >= 0 && ChLex.isWordChar(out.charAt(k))) k -= 1
            !NonPrimaryWords.contains(
              out.substring(k + 1, j + 1).toUpperCase(java.util.Locale.ROOT))
          } else false
        }
        literalStack.push(!subscript)
        out.append(if (subscript) "[" else "array(")
      } else if (lx.isPunct(']')) {
        val lit = literalStack.nonEmpty && literalStack.pop()
        out.append(if (lit) ")" else "]")
      } else out.append(lx.token)
    }
    out.result()
  }

  private def rewriteSubscripts(in: String): String = {
    // the first '[' outside quotes (after the literal pass, every
    // remaining bracket is a subscript) and its matching ']'
    val lx = new ChLex(in)
    var open = -1
    var close = -1
    var outside = 0
    while (close < 0 && lx.next())
      if (open < 0 && lx.isPunct('[')) { open = lx.start; outside = lx.brackets - 1 }
      else if (open >= 0 && lx.isPunct(']') && lx.brackets == outside) close = lx.start
    if (open < 0) return in
    require(close > open, s"unbalanced '[' in: $in")
    // primary start: scan backward over an identifier / backtick-quoted /
    // parenthesized-group chain joined by '.' (the chars just before a
    // code token are code, so only groups need the lexer)
    var start = open
    var scanning = true
    while (scanning) {
      var j = start - 1
      while (j >= 0 && in.charAt(j).isWhitespace) j -= 1
      if (j < 0) { scanning = false }
      else in.charAt(j) match {
        case '`' =>
          val k = in.lastIndexOf('`', j - 1)
          require(k >= 0, s"unbalanced backtick in: $in")
          start = k
        case ')' =>
          val k = ChLex.openOf(in, j)
          require(k >= 0, s"unbalanced ')' before subscript in: $in")
          start = k
          // a function name directly before the group belongs to it
          var m = k - 1
          while (m >= 0 && ChLex.isWordChar(in.charAt(m))) m -= 1
          if (m < k - 1) start = m + 1
        case ch if ChLex.isWordChar(ch) =>
          var k = j
          while (k >= 0 && ChLex.isWordChar(in.charAt(k))) k -= 1
          start = k + 1
        case _ => scanning = false
      }
      if (scanning) {
        // extend across a qualification dot (db.tbl.col[. …])
        var j2 = start - 1
        while (j2 >= 0 && in.charAt(j2).isWhitespace) j2 -= 1
        if (j2 >= 0 && in.charAt(j2) == '.') start = j2 else scanning = false
      }
    }
    require(start < open, s"subscript without a primary expression in: $in")
    val primary = in.substring(start, open).trim
    val index = in.substring(open + 1, close).trim
    rewriteSubscripts(
      in.substring(0, start) + s"element_at($primary, $index)" +
        in.substring(close + 1))
  }

  def translate(chSql: String, tables: Seq[(String, String)]): String = {
    var s = rewriteBrackets(stripFormat(chSql))
    // PREWHERE is an evaluation-order hint with WHERE semantics: on one
    // node the visible result is identical, so it folds into WHERE
    // (combined with AND when both clauses are present). GLOBAL IN /
    // GLOBAL JOIN likewise: distribution hints that are the identity on
    // a single execution domain.
    s = foldPrewhere(s)
    // ClickHouse scalar WITH (`WITH <expr> AS <ident>`) inlines before
    // anything else looks at statement structure — Spark's WITH only
    // accepts CTE subqueries
    s = rewriteScalarWith(s)
    // honored-or-rejected: WITH FILL is handled BEFORE translation (the
    // top-level single-column form — [[reshape]] + the session's lazy
    // gap composition); any WITH FILL / INTERPOLATE still visible here
    // is a shape that path does not model (nested in a subquery, or a
    // caller bypassing the session) — reject by name, never garbled SQL.
    // The lookahead spares a CTE legitimately named `fill`.
    mapOutsideStrings(s) { seg =>
      if (raw"(?i)\bWITH\s+FILL\b(?!\s+AS\b|\s*\()".r.findFirstIn(seg).isDefined ||
        raw"(?i)\bINTERPOLATE\s*\(".r.findFirstIn(seg).isDefined)
        throw new IllegalArgumentException(
          "ORDER BY ... WITH FILL / INTERPOLATE here is not supported by " +
            "the embedded engine (only the TOP-LEVEL single-column WITH " +
            "FILL form is, rewritten before translation); build the grid " +
            "explicitly (sequence() + explode + LEFT JOIN, the q52 " +
            "gap-fill pattern) or run against a real server")
      seg
    }
    s = stripGlobal(s)
    // ALL join strictness is the server default — the identity (either
    // keyword order); UNION ALL is never followed by a join kind
    s = mapOutsideStrings(s) { seg =>
      seg.replaceAll(raw"(?i)\bALL\s+(LEFT|RIGHT|INNER|FULL)\s+(OUTER\s+)?JOIN\b", "$1 $2JOIN")
        .replaceAll(raw"(?i)\b(LEFT|RIGHT|INNER|FULL)\s+ALL\s+JOIN\b", "$1 JOIN")
    }
    // ARRAY JOIN before ASOF: the lateral-view rewrite removes the
    // clause's JOIN token, which would otherwise trip ASOF's
    // single-join-per-level guard
    s = rewriteArrayJoin(s)
    s = rewriteRightSemiAnti(s)
    s = rewritePaste(s)
    s = rewriteAsof(s)
    s = rewriteLevels(s)
    // table references: `db`.`table` or db.table → __ch_db_table.
    // Applied OUTSIDE string literals only — a data value containing the
    // text "main.orders" must survive translation verbatim (the same
    // quote-awareness rule the GLOBAL strip learned this round)
    s = mapOutsideStrings(s) { seg =>
      tables.foldLeft(seg) { case (acc, (db, t)) =>
        tableRef(db, t).replaceAllIn(acc, viewName(db, t))
      }
    }
    // ClickHouse treats NULL as the LARGEST value in sorts (ASC → nulls
    // last, DESC → nulls first); Spark defaults the opposite way. Every
    // ORDER BY item without an explicit NULLS clause gets the server's
    // default made explicit, so embedded orderings match a real server.
    s = injectNullOrder(s)
    stripOffsetFrames(translateCalls(s))
  }

  /** A reference to store table `db`.`t`: the backticked form, or the
    * bare `db.t` not inside a longer name.
    */
  private def tableRef(db: String, t: String): scala.util.matching.Regex = {
    import java.util.regex.Pattern.quote
    (quote(s"`$db`.`$t`") + s"|(?<![`\\w])${quote(db)}\\.${quote(t)}(?![`\\w])").r
  }

  /** The store tables `chSql` reads: the ones [[translate]] maps to their
    * views, found by the same reference rule, outside string literals.
    */
  def tablesIn(chSql: String, tables: Seq[(String, String)]): Seq[(String, String)] = {
    val code = new StringBuilder
    mapOutsideStrings(chSql) { seg => code.append(seg).append(' '); seg }
    tables.filter { case (db, t) => tableRef(db, t).findFirstIn(code).isDefined }
  }

  /** The call walk: every call site outside literals — a word or a
    * backticked name, then `(` — whose exact name is in [[rules]] is
    * replaced by its rule's text. Arguments are translated before their
    * call, so a rule sees Spark text and its output is final: a rule
    * that emits another ClickHouse name dispatches it explicitly through
    * [[translateCall]]. Unknown names pass through with their arguments
    * walked in place.
    */
  private def translateCalls(s: String): String = {
    val out = new StringBuilder
    val lx = new ChLex(s)
    var copied = 0
    while (lx.next()) {
      if (lx.kind == ChLex.Word || lx.kind == ChLex.Ident) {
        var open = lx.end
        while (open < s.length && s.charAt(open).isWhitespace) open += 1
        if (open < s.length && s.charAt(open) == '(') {
          val name = lx.name
          rules.get(name) match {
            case Some(Swap(to)) =>
              out.append(s.substring(copied, lx.start)).append(to).append('(')
              copied = open + 1
            case Some(Call(f)) =>
              val (args, past) = parseArgs(s, open + 1)
              out.append(s.substring(copied, lx.start))
                .append(f(args.map(translateCalls)))
              copied = past
            case Some(Param(f)) =>
              val (params, past) = parseArgs(s, open + 1)
              if (past < s.length && s.charAt(past) == '(') {
                val (args, end) = parseArgs(s, past + 1)
                out.append(s.substring(copied, lx.start))
                  .append(f(params.map(translateCalls), args.map(translateCalls)))
                copied = end
              }
            case None => rejectOrDefault(name)
          }
          // resume after the consumed text (inside the call when the
          // rule left its arguments to this walk)
          if (copied > lx.end) lx.seek(copied)
        }
      }
    }
    out.append(s.substring(copied)).result()
  }

  /** `name(args)` through the rule table — the explicit re-dispatch for
    * rules that emit another ClickHouse name (arguments already
    * translated).
    */
  private def translateCall(name: String, args: Seq[String]): String =
    rules.get(name) match {
      case Some(Call(f)) => f(args)
      case Some(Swap(to)) => s"$to(${args.mkString(", ")})"
      case _ => s"$name(${args.mkString(", ")})"
    }

  /** -OrDefault names without a rule: the default is the ARGUMENT type's
    * zero value, which text cannot derive — reject by name.
    */
  private def rejectOrDefault(name: String): Unit = {
    val base = name.dropRight("OrDefault".length)
    if (base.nonEmpty && name.toLowerCase(java.util.Locale.ROOT).endsWith("ordefault") &&
      (base.head.isLetter || base.head == '_'))
      throw new IllegalArgumentException(
        s"${base}OrDefault is not supported by the embedded " +
          "engine: the default is the ARGUMENT type's zero value " +
          "(0 / '' / 1970-01-01), which the translator cannot derive " +
          s"from text — write coalesce($base(x), <default>) " +
          "explicitly or run against a real server")
  }

  /** ClickHouse type name → Spark DDL type (for CAST targets). */
  private def sparkTypeName(ch: String): String = {
    val t = ch.trim
    t match {
      case "Int8" => "TINYINT"
      case "Int16" | "UInt8" => "SMALLINT"
      case "Int32" | "UInt16" => "INT"
      case "Int64" | "UInt32" => "BIGINT"
      case "UInt64" => "DECIMAL(20, 0)"
      case "Float32" => "FLOAT"
      case "Float64" => "DOUBLE"
      case "String" => "STRING"
      case "Bool" => "BOOLEAN"
      case "Date" | "Date32" => "DATE"
      case _ if t.startsWith("DateTime") => "TIMESTAMP"
      case _ if t.startsWith("Decimal(") => "DECIMAL" + t.stripPrefix("Decimal")
      case _ if t.startsWith("Array(") && t.endsWith(")") =>
        s"ARRAY<${sparkTypeName(t.substring(6, t.length - 1))}>"
      case _ if t.startsWith("Nullable(") && t.endsWith(")") =>
        sparkTypeName(t.substring(9, t.length - 1))
      case other => other
    }
  }

  /** The rule table [[translateCalls]] dispatches through: the 1:1
    * swaps plus the forms that need more than a name swap.
    */
  private val rules: Map[String, Rule] = ruleTable(swaps ++ rewriteRules)

  /** Forms that need more than a name swap, keyed by exact name. Each
    * rule receives its call's top-level arguments, already translated.
    */
  private def rewriteRules: Seq[(String, Rule)] = {
    val b = Seq.newBuilder[(String, Rule)]
    def rule(name: String, f: Seq[String] => String): Unit = b += name -> Call(f)
    def paramRule(name: String, f: (Seq[String], Seq[String]) => String): Unit =
      b += name -> Param(f)
    // sigmoid(x) → (1.0 / (1.0 + exp(-(x))))
    rule("sigmoid", args => s"(1.0 / (1.0 + exp(-(${args.head}))))")
    // splitByChar('c', s) → split(s, 'c') (argument order swap). The
    // separator lands in split's REGEX position, so it must be a
    // literal and regex-escaped — splitByChar('.', s) used to split at
    // EVERY character (round-16 fix, the splitByString pattern). The
    // 3-arg max_substrings form rejects: the server's remainder law is
    // setting-dependent (splitby_max_substrings_includes_remaining
    // _string), not pinnable offline.
    rule("splitByChar", args => {
      require(args.size == 2,
        "splitByChar takes (separator, string) — the max_substrings " +
          "form's remainder law is server-setting-dependent, not " +
          "pinnable offline")
      val lit = stringLiteral(args(0)).getOrElse(
        throw new IllegalArgumentException(
          "splitByChar: the separator must be a string literal"))
      require(lit.length == 1,
        s"splitByChar: the separator must be a single character (got '$lit')")
      s"split(${args(1)}, '${escapeRegexLiteral(lit)}')"
    })
    // translate(s, from, to): Spark's builtin shares the name and the
    // per-char map law on the EQUAL-LENGTH domain; on unequal literal
    // lengths Spark silently DROPS characters where the server errors —
    // validate literals here so the divergence is an error, never a
    // silent success-with-value. Non-literal from/to pass through (no
    // translate-time check possible).
    rule("translate", args => {
      require(args.size == 3, "translate takes (string, from, to)")
      (stringLiteral(args(1)), stringLiteral(args(2))) match {
        case (Some(f), Some(t)) => require(f.length == t.length,
          s"translate: 'from' (${f.length} chars) and 'to' (${t.length} " +
            "chars) must be the same length — the server errors on a " +
            "mismatch where Spark silently drops characters")
        case _ =>
      }
      s"translate(${args.mkString(", ")})"
    })
    // arraySum(x) → aggregate(x, cast(0 as double), (a, v) -> a + v)
    rule("arraySum",
      args => s"aggregate(${args.head}, cast(0 as double), (a, v) -> a + v)")
    // ClickHouse HOFs take the lambda FIRST, Spark takes the array first:
    // arrayMap(x -> f(x), arr) → transform(arr, x -> f(x));
    // arrayMap((x, y) -> f, a, b) → zip_with(a, b, (x, y) -> f). The
    // server REQUIRES equal array sizes where zip_with NULL-pads the
    // shorter side — values agree on the defined (equal-length) domain;
    // 3+ arrays have no Spark primitive and reject loudly.
    rule("arrayMap", args => args.length match {
      case 2 => s"transform(${args(1)}, ${args(0)})"
      case 3 => s"zip_with(${args(1)}, ${args(2)}, ${args(0)})"
      case n => throw new IllegalArgumentException(
        s"arrayMap over ${n - 1} arrays is not supported by the embedded " +
          "engine (1 or 2 arrays only)")
    })
    rule("arrayFilter", args => s"filter(${args(1)}, ${args(0)})")
    rule("arrayExists", args => s"exists(${args(1)}, ${args(0)})")
    rule("arrayAll", args => s"forall(${args(1)}, ${args(0)})")
    // arrayFirstIndex(f, arr): 1-based index of the first match, 0 when
    // none — array_position shares BOTH conventions (the indexOf rule)
    rule("arrayFirstIndex", args =>
      s"array_position(transform(${args(1)}, ${args(0)}), true)")
    // arrayLastIndex: position in the reversed array maps back as
    // size - p + 1; 0-for-absent survives the CASE
    rule("arrayLastIndex", args => {
      val bools = s"transform(${args(1)}, ${args(0)})"
      s"(CASE WHEN array_position(reverse($bools), true) = 0 THEN 0 " +
        s"ELSE size(${args(1)}) - array_position(reverse($bools), true) + 1 " +
        "END)"
    })
    // hasAll/hasAny via Spark's SET operations, which treat NULL
    // elements as equal — exactly ClickHouse's semantics ([NULL] hasAll
    // [NULL] = 1); array_contains/arrays_overlap would go three-valued
    rule("hasAll",
      args => s"(size(array_except(${args(1)}, ${args(0)})) = 0)")
    rule("hasAny",
      args => s"(size(array_intersect(${args(0)}, ${args(1)})) > 0)")
    // distinct elements in both, order unspecified in BOTH engines
    rule("arrayIntersect",
      args => s"array_intersect(${args(0)}, ${args(1)})")
    // range(n) = [0 .. n-1]; range(start, end[, step]) is HALF-OPEN
    // where Spark's sequence is inclusive — the end nudges back one
    // step; empty ranges need the CASE (sequence(0, -1) would emit a
    // DESCENDING ramp)
    rule("range", args => args.size match {
      case 1 =>
        s"(CASE WHEN ${args(0)} <= 0 THEN array() " +
          s"ELSE sequence(0, ${args(0)} - 1) END)"
      case 2 =>
        s"(CASE WHEN ${args(1)} <= ${args(0)} THEN array() " +
          s"ELSE sequence(${args(0)}, ${args(1)} - 1) END)"
      case _ =>
        s"(CASE WHEN (${args(2)}) > 0 AND ${args(1)} <= ${args(0)} " +
          s"THEN array() ELSE sequence(${args(0)}, " +
          s"${args(1)} - (CASE WHEN (${args(2)}) > 0 THEN 1 ELSE -1 END), " +
          s"${args(2)}) END)"
    })
    // arrayFold((acc, x) -> ..., arr, init) → aggregate(arr, init, f):
    // both engines fold left with the same (acc, element) lambda shape
    rule("arrayFold", args => {
      require(args.size == 3, "arrayFold(lambda, array, init)")
      s"aggregate(${args(1)}, ${args(2)}, ${args(0)})"
    })
    // arrayCount([f,] arr): matching elements; the no-lambda form counts
    // elements != 0 (server semantics)
    rule("arrayCount", args =>
      if (args.size >= 2) s"size(filter(${args(1)}, ${args(0)}))"
      else s"size(filter(${args.head}, __ac_x -> __ac_x != 0))")
    // arraySort/arrayReverseSort (plain arity): ClickHouse places NULLs
    // LAST in both directions — Spark's sort_array puts them first on
    // ASC, so the NULL block is split out and re-appended. The keyed
    // arity (arraySort(f, arr)) rejects: the server's stable equal-key
    // order has no Spark array primitive.
    def nullsLastSort(a: String, desc: Boolean): String = {
      val vals = s"sort_array(filter($a, __as_x -> __as_x IS NOT NULL))"
      val core = if (desc) s"reverse($vals)" else vals
      s"concat($core, filter($a, __as_x -> __as_x IS NULL))"
    }
    rule("arraySort", args => {
      require(args.size == 1,
        "arraySort with a key lambda is not supported by the embedded " +
          "engine (the server's stable equal-key order has no Spark " +
          "array primitive); sort a struct-keyed copy explicitly or run " +
          "against a real server")
      nullsLastSort(args.head, desc = false)
    })
    rule("arrayReverseSort", args => {
      require(args.size == 1,
        "arrayReverseSort with a key lambda is not supported by the " +
          "embedded engine; sort a struct-keyed copy explicitly or run " +
          "against a real server")
      nullsLastSort(args.head, desc = true)
    })
    // arrayCumSum: running prefix sums, same length; arrayDifference:
    // [0, a2-a1, ...]. Both need the ELEMENT type's zero (a text rewrite
    // cannot name it) — try_element_at(a, 1) * 0, the sumArray trick.
    rule("arrayCumSum", args => {
      require(args.size == 1, "arrayCumSum(arr)")
      val a = args.head
      val zero = s"try_element_at($a, 1) * 0"
      // slice(a, 1, 0) is an EMPTY array of a's own element type — the
      // only way a text rewrite can type the accumulator; sums stay in
      // the element type (narrow-int overflow errors loudly under ANSI
      // where the server would promote — never a silent wrap)
      s"aggregate($a, slice($a, 1, 0), " +
        "(__cs_acc, __cs_v) -> concat(__cs_acc, array(" +
        s"coalesce(try_element_at(__cs_acc, -1), $zero) + __cs_v)))"
    })
    rule("arrayDifference", args => {
      require(args.size == 1, "arrayDifference(arr)")
      val a = args.head
      s"(CASE WHEN size($a) <= 0 THEN $a ELSE concat(" +
        s"array(try_element_at($a, 1) * 0), " +
        s"zip_with(slice($a, 2, size($a) - 1), slice($a, 1, size($a) - 1), " +
        "(__ad_x, __ad_y) -> __ad_x - __ad_y)) END)"
    })
    // arrayReduce('agg', arr): literal-name dispatch onto the exact
    // element folds (the sumArray/uniqArray machinery, scalar-shaped)
    rule("arrayReduce", args => {
      require(args.size == 2,
        "arrayReduce: exactly ('aggName', array) is supported")
      val name = args.head.trim
      require(name.length >= 3 && name.startsWith("'") && name.endsWith("'"),
        s"arrayReduce: the aggregate name must be a string literal (got $name)")
      val a = args(1)
      val nn = s"filter($a, __ar_x -> __ar_x IS NOT NULL)"
      name.substring(1, name.length - 1) match {
        case "sum" =>
          // outer coalesce: the typed-zero init is NULL over an empty
          // (or all-NULL) array, but the server's arrayReduce('sum',[])
          // is 0; the literal-0 fallback may widen narrow ints, in the
          // same direction as the server's own sum promotion
          s"coalesce(aggregate($nn, try_element_at($nn, 1) * 0, " +
            "(__ar_acc, __ar_v) -> __ar_acc + __ar_v), 0)"
        case "min" | "any" => s"array_min($a)" // any→min, the pinned rule
        case "max" | "anyLast" => s"array_max($a)"
        case "avg" =>
          s"(aggregate($nn, cast(0 as double), " +
            s"(__ar_acc, __ar_v) -> __ar_acc + __ar_v) / size($nn))"
        case "count" => s"cast(size($nn) as bigint)"
        case "uniq" | "uniqExact" =>
          s"cast(size(array_distinct($nn)) as bigint)"
        case other => throw new IllegalArgumentException(
          s"arrayReduce('$other', ...) is not supported by the embedded " +
            "engine — supported names: sum, min, max, avg, count, any, " +
            "anyLast, uniq, uniqExact")
      }
    })
    // ---- round-14 function wave (FnSurfaceSpec sweep): each mapping
    // is value-identical on its defined domain; anything whose boundary
    // law could not be pinned stays a loud reject ----
    // array surgery
    rule("arrayPushBack",
      args => s"concat(${args(0)}, array(${args(1)}))")
    rule("arrayPushFront",
      args => s"concat(array(${args(1)}), ${args(0)})")
    rule("arrayPopBack", args =>
      s"slice(${args.head}, 1, greatest(size(${args.head}) - 1, 0))")
    rule("arrayPopFront", args =>
      s"(CASE WHEN size(${args.head}) <= 1 THEN slice(${args.head}, 1, 0) " +
        s"ELSE slice(${args.head}, 2, size(${args.head}) - 1) END)")
    rule("arrayResize", args => {
      require(args.size == 3,
        "arrayResize: only the 3-argument (array, size, pad) form is " +
          "supported — the 2-argument grow pads with the element type's " +
          "DEFAULT, which a text rewrite cannot derive")
      val (a, n, p) = (args(0), args(1), args(2))
      s"(CASE WHEN ($n) <= size($a) THEN slice($a, 1, greatest($n, 0)) " +
        s"ELSE concat($a, array_repeat($p, ($n) - size($a))) END)"
    })
    // 1-based access, identical to the `a[i]` subscript rewrite
    rule("arrayElement",
      args => s"element_at(${args(0)}, ${args(1)})")
    // consecutive-duplicate collapse; <=> matches the server's
    // NULL-equals-NULL collapse
    rule("arrayCompact", args => {
      val a = args.head
      s"filter($a, (__ac_x, __ac_i) -> __ac_i = 0 OR " +
        s"NOT (__ac_x <=> element_at($a, __ac_i)))"
    })
    rule("countEqual", args =>
      s"cast(size(filter(${args(0)}, __ce_x -> __ce_x <=> ${args(1)})) as bigint)")
    // (arrayEnumerate already maps below — the indexed-transform rule)
    rule("arrayUniq", args => {
      require(args.size == 1,
        "arrayUniq over multiple arrays (distinct TUPLES) is not supported")
      s"cast(size(array_distinct(${args.head})) as bigint)"
    })
    rule("arrayAvg", args => {
      val nn = s"filter(${args.head}, __aa_x -> __aa_x IS NOT NULL)"
      s"(aggregate($nn, cast(0 as double), " +
        s"(__aa_acc, __aa_v) -> __aa_acc + __aa_v) / size($nn))"
    })
    rule("arrayProduct", args => {
      val nn = s"filter(${args.head}, __ap_x -> __ap_x IS NOT NULL)"
      // Float64 result like the server's; empty folds to the init 1.0
      s"aggregate($nn, cast(1 as double), " +
        s"(__ap_acc, __ap_v) -> __ap_acc * __ap_v)"
    })
    // zip to unnamed tuples (structs — the repo's tuple representation;
    // tupleElement/graft_tuple_at read them positionally)
    rule("arrayZip", args => {
      require(args.size == 2,
        "arrayZip: exactly two arrays are supported (3+ have no " +
          "equal-size-checked Spark composition)")
      s"zip_with(${args(0)}, ${args(1)}, (__az_a, __az_b) -> " +
        "struct(__az_a, __az_b))"
    })
    rule("bitPositionsToArray", args =>
      s"filter(transform(sequence(0, 63), __bp_i -> " +
        s"CASE WHEN (cast(${args.head} as bigint) & shiftleft(1L, __bp_i)) != 0 " +
        "THEN cast(__bp_i as bigint) END), __bp_x -> __bp_x IS NOT NULL)")
    // string family
    rule("splitByString", args => {
      require(args.size == 2, "splitByString takes (separator, string)")
      val lit = stringLiteral(args(0)).getOrElse(throw new IllegalArgumentException(
        "splitByString: the separator must be a string literal"))
      require(lit.nonEmpty,
        "splitByString('') splits to characters — spell it split(s, '')")
      s"split(${args(1)}, '${escapeRegexLiteral(lit)}')"
    })
    rule("splitByRegexp",
      args => s"split(${args(1)}, ${args(0)})")
    rule("extract", args => {
      // SQL-standard EXTRACT(unit FROM x) passes through untouched —
      // only the ClickHouse regex form (haystack, pattern) maps
      if (args.size == 1 &&
        raw"(?i)\sFROM\s".r.findFirstIn(args.head).isDefined)
        s"extract(${args.head})"
      else {
        require(args.size == 2, "extract takes (haystack, pattern)")
        s"regexp_extract(${args(0)}, ${args(1)}, ${extractGroupIdx(args(1))})"
      }
    })
    rule("extractAll", args => {
      require(args.size == 2, "extractAll takes (haystack, pattern)")
      s"regexp_extract_all(${args(0)}, ${args(1)}, ${extractGroupIdx(args(1))})"
    })
    rule("replaceOne", args => {
      val (h, n, r) = (args(0), args(1), args(2))
      // char_length, NOT graft_length: locate/substr are codepoint-based,
      // so the needle's length must be codepoints too (graft_length is
      // BYTES since round 15 — mixing them breaks multi-byte needles)
      s"(CASE WHEN locate($n, $h) > 0 THEN concat(" +
        s"substr($h, 1, locate($n, $h) - 1), $r, " +
        s"substr($h, locate($n, $h) + char_length($n))) ELSE $h END)"
    })
    rule("replaceRegexpAll", args => {
      require(args.size == 3, "replaceRegexpAll takes (haystack, pattern, replacement)")
      s"regexp_replace(${args(0)}, ${args(1)}, ${chReplacementToJava(args(2))})"
    })
    // first-match-only regex replace: Java replaceFirst — also DuckDB's
    // default non-global regexp_replace, which makes it oracle-exact
    rule("replaceRegexpOne", args => {
      require(args.size == 3, "replaceRegexpOne takes (haystack, pattern, replacement)")
      s"graft_replace_regexp_one(${args(0)}, ${args(1)}, " +
        s"${chReplacementToJava(args(2), "replaceRegexpOne")})"
    })
    rule("countSubstrings", args => {
      val (h, n) = (args(0), args(1))
      // non-overlapping occurrences in both engines
      s"cast((graft_length($h) - graft_length(replace($h, $n, ''))) " +
        s"/ graft_length($n) as bigint)"
    })
    rule("positionCaseInsensitive",
      args => s"locate(lower(${args(1)}), lower(${args(0)}))")
    rule("notLike",
      args => s"(NOT (${args(0)} LIKE ${args(1)}))")
    rule("format", args => {
      require(args.size >= 2, "format needs a template and arguments")
      val tpl = stringLiteral(args.head).getOrElse(throw new IllegalArgumentException(
        "format: the template must be a string literal"))
      s"format_string('${chFormatToJava(tpl)}', ${args.tail.mkString(", ")})"
    })
    rule("base64Decode",
      args => s"cast(unbase64(${args.head}) as string)")
    // null / branch family
    rule("assumeNotNull", args => {
      require(args.size == 1, "assumeNotNull takes one argument")
      // values agree wherever the server's result is defined (NULL input
      // is UNDEFINED there — the engines may differ only off-contract)
      s"(${args.head})"
    })
    // bit ops as operators (codegen'd)
    rule("bitAnd", args => s"((${args(0)}) & (${args(1)}))")
    rule("bitOr", args => s"((${args(0)}) | (${args(1)}))")
    rule("bitXor", args => s"((${args(0)}) ^ (${args(1)}))")
    rule("bitNot", args => s"(~(${args.head}))")
    rule("intDivOrZero", args =>
      s"(CASE WHEN (${args(1)}) = 0 THEN 0 ELSE (${args(0)}) DIV (${args(1)}) END)")
    rule("moduloOrZero", args =>
      s"(CASE WHEN (${args(1)}) = 0 THEN 0 ELSE (${args(0)}) % (${args(1)}) END)")
    rule("exp2", args => s"power(cast(2 as double), ${args.head})")
    rule("exp10", args => s"power(cast(10 as double), ${args.head})")
    // CH trunc/truncate(x[, N]) = toward-zero (at N decimal places);
    // Spark's own trunc is date-only, so both arities map here
    def truncSql(args: Seq[String]): String = {
      require(args.size == 1 || args.size == 2,
        "trunc/truncate: (x) or (x, places)")
      val x = if (args.size == 1) args.head
        else s"((${args.head}) * power(10, ${args(1)}))"
      val core = s"(CASE WHEN ($x) >= 0 THEN floor($x) ELSE ceiling($x) END)"
      if (args.size == 1) core else s"($core / power(10, ${args(1)}))"
    }
    rule("trunc", truncSql)
    rule("truncate", truncSql)
    // CH rand() is a random UInt32 (randCanonical is the [0,1) form) —
    // passing Spark's rand() through would be a silent distribution lie
    rule("rand", args =>
      "cast(floor(rand() * 4294967296) as bigint)")
    // date/time family
    // dateAdd/dateSub spellings (round 17): the unit-first 3-argument
    // form (identifier or string-literal unit) and the
    // (date, INTERVAL n unit) 2-argument form, both folding onto
    // timestampadd like the add<Unit> family above
    locally {
      val units = Set("SECOND", "MINUTE", "HOUR", "DAY", "WEEK",
        "MONTH", "QUARTER", "YEAR")
      def unitOf(arg: String, nm: String): String = {
        val u = stringLiteral(arg).getOrElse(arg.trim)
          .toUpperCase(java.util.Locale.ROOT)
        require(units.contains(u),
          s"$nm: unit '$u' is not supported (${units.toSeq.sorted.mkString("/")})")
        u
      }
      val IntervalRe = raw"(?i)^INTERVAL\s+(.+?)\s+(\w+)$$".r
      for ((nm, neg) <- Seq("dateAdd" -> false, "date_add" -> false,
        "DATE_ADD" -> false, "dateSub" -> true, "date_sub" -> true,
        "DATE_SUB" -> true))
        rule(nm, args => args.size match {
          case 3 =>
            val u = unitOf(args(0), nm)
            val v = if (neg) s"-(${args(1)})" else args(1)
            s"timestampadd($u, $v, ${args(2)})"
          case 2 => args(1).trim match {
            case IntervalRe(v, u0) =>
              val u = unitOf(u0, nm)
              val v2 = if (neg) s"-($v)" else v
              s"timestampadd($u, $v2, ${args(0)})"
            case _ => throw new IllegalArgumentException(
              s"$nm takes (unit, value, date) or (date, INTERVAL n unit)")
          }
          case n => throw new IllegalArgumentException(
            s"$nm takes 2 or 3 arguments (got $n)")
        })
    }
    rule("yesterday", _ => "date_sub(current_date(), 1)")
    rule("toDayOfWeek", args => {
      require(args.size == 1,
        "toDayOfWeek: mode argument is not supported (default Mon=1..Sun=7)")
      s"(pmod(dayofweek(${args.head}) + 5, 7) + 1)"
    })
    rule("toMonday", args =>
      s"date_sub(to_date(${args.head}), pmod(dayofweek(${args.head}) + 5, 7))")
    rule("toStartOfWeek", args => {
      val mode = if (args.size >= 2) args(1).trim else "0"
      mode match {
        case "0" => // Sunday-start weeks (the server default)
          s"date_sub(to_date(${args.head}), dayofweek(${args.head}) - 1)"
        case "1" => // Monday-start weeks
          s"date_sub(to_date(${args.head}), pmod(dayofweek(${args.head}) + 5, 7))"
        case m => throw new IllegalArgumentException(
          s"toStartOfWeek: mode $m is not supported (0 = Sunday, 1 = Monday)")
      }
    })
    rule("toStartOfQuarter", args =>
      s"to_date(date_trunc('quarter', ${args.head}))")
    for ((ch, unit) <- Seq(
      "addSeconds" -> "SECOND", "addMinutes" -> "MINUTE",
      "addHours" -> "HOUR", "addDays" -> "DAY", "addWeeks" -> "WEEK",
      "addMonths" -> "MONTH", "addQuarters" -> "QUARTER",
      "addYears" -> "YEAR")) {
      // timestampadd: Date inputs widen to timestamp (value-exact; the
      // server keeps Date for day-granularity adds — a TYPE widening,
      // same spirit as the Int128 mapping)
      rule(ch,
        args => s"timestampadd($unit, ${args(1)}, ${args(0)})")
      rule("subtract" + ch.substring(3),
        args => s"timestampadd($unit, -(${args(1)}), ${args(0)})")
    }
    rule("dateDiff", args => {
      require(args.size == 3,
        "dateDiff: (unit, start, end) — the timezone argument is not supported")
      val unit = stringLiteral(args.head).getOrElse(throw new IllegalArgumentException(
        "dateDiff: the unit must be a string literal")).toLowerCase(java.util.Locale.ROOT)
      require(Set("second", "minute", "hour", "day", "month",
        "quarter", "year").contains(unit),
        s"dateDiff: unit '$unit' is not supported (second/minute/hour/" +
          "day/month/quarter/year; 'week' boundaries differ between engines)")
      // the server counts UNIT-BOUNDARY crossings, not full units —
      // truncate both endpoints first so full-unit counting equals
      // boundary counting
      s"timestampdiff(${unit.toUpperCase(java.util.Locale.ROOT)}, " +
        s"date_trunc('$unit', ${args(1)}), date_trunc('$unit', ${args(2)}))"
    })
    rule("fromUnixTimestamp", args => {
      require(args.size == 1,
        "fromUnixTimestamp: the 2-argument (format) form renders with " +
          "server-dialect tokens and is not supported")
      s"timestamp_seconds(${args.head})"
    })
    rule("formatDateTime", args => {
      require(args.size == 2,
        "formatDateTime: (datetime, 'format') without timezone is supported")
      val fmt = stringLiteral(args(1)).getOrElse(throw new IllegalArgumentException(
        "formatDateTime: the format must be a string literal"))
      s"date_format(${args.head}, '${chDateFormatToJava(fmt)}')"
    })
    // parseDateTime family (round 17): MySQL-style directives on the
    // PARSE-sharable subset (chDateParseToJava). Error laws align:
    // parseDateTime throws on garbage like the ANSI to_timestamp;
    // OrNull rides try_to_timestamp; OrZero falls back to the epoch
    // (the server's zero-date). parseDateTimeBestEffort* stays
    // rejected (heuristic format detection, not a pinnable law).
    for ((nm, wrap) <- Seq[(String, (String, String) => String)](
      "parseDateTime" -> ((x, f) => s"to_timestamp($x, '$f')"),
      "parseDateTimeOrNull" -> ((x, f) => s"try_to_timestamp($x, '$f')"),
      "parseDateTimeOrZero" -> ((x, f) =>
        s"coalesce(try_to_timestamp($x, '$f'), " +
          "timestamp'1970-01-01 00:00:00')")))
      rule(nm, args => {
        require(args.size == 2,
          s"$nm(string, 'format') — the timezone argument is not supported")
        val fmt = stringLiteral(args(1)).getOrElse(
          throw new IllegalArgumentException(
            s"$nm: the format must be a string literal"))
        wrap(args.head, chDateParseToJava(fmt))
      })
    // bitmaskToList/bitmaskToArray (round 17): powers of two summing
    // to the input, ascending — comma-joined text / array. Negative
    // inputs reject loudly (the sign-bit power is not representable;
    // the server's negative law is not pinnable offline). shiftright
    // spelled as the FUNCTION — the round-16 ANTLR rule bans '>>'.
    def bitmaskArr(x: String): String =
      s"transform(filter(sequence(0, 62), i -> " +
        s"(shiftright(CAST(($x) AS BIGINT), i) & 1) = 1), " +
        s"i -> shiftleft(CAST(1 AS BIGINT), i))"
    def bitmaskGuard(x: String, body: String, nm: String): String =
      s"(CASE WHEN ($x) < 0 THEN raise_error('$nm: negative input — " +
        s"the server law on negatives is not pinnable offline') " +
        s"ELSE $body END)"
    rule("bitmaskToArray", args => {
      require(args.size == 1, "bitmaskToArray(x)")
      bitmaskGuard(args.head, bitmaskArr(args.head), "bitmaskToArray")
    })
    rule("bitmaskToList", args => {
      require(args.size == 1, "bitmaskToList(x)")
      bitmaskGuard(args.head,
        s"concat_ws(',', transform(${bitmaskArr(args.head)}, " +
          "p -> CAST(p AS STRING)))", "bitmaskToList")
    })
    // (toYYYYMM / toYYYYMMDD already map below — arithmetic forms)
    // OrNull/OrZero conversions (try_cast trims like the server's parse)
    for ((ch, t) <- Seq(
      "toInt8OrNull" -> "TINYINT", "toInt16OrNull" -> "SMALLINT",
      "toInt32OrNull" -> "INT", "toInt64OrNull" -> "BIGINT",
      "toFloat32OrNull" -> "FLOAT", "toFloat64OrNull" -> "DOUBLE")) {
      rule(ch, args => s"try_cast(${args.head} AS $t)")
      rule(ch.replace("OrNull", "OrZero"),
        args => s"coalesce(try_cast(${args.head} AS $t), 0)")
    }
    // 4-argument transform: literal from/to arrays → a CASE ladder
    rule("transform", args => {
      if (args.size != 4) args.mkString("transform(", ", ", ")")
      else {
        val from = splitArrayLiteral(args(1)).getOrElse(
          throw new IllegalArgumentException(
            "transform(x, from, to, default): from/to must be array literals"))
        val to = splitArrayLiteral(args(2)).getOrElse(
          throw new IllegalArgumentException(
            "transform(x, from, to, default): from/to must be array literals"))
        require(from.length == to.length && from.nonEmpty,
          "transform: from/to arrays must be same-length and non-empty")
        val cases = from.zip(to).map { case (f, t) =>
          s"WHEN (${args(0)}) <=> ($f) THEN ($t)"
        }.mkString(" ")
        s"(CASE $cases ELSE (${args(3)}) END)"
      }
    })

    // CAST(x AS <ClickHouse type>) → CAST(x AS <Spark type>)
    rule("CAST", args => {
      // re-join: the splitter breaks on top-level commas, but Spark
      // composite type names carry them OUTSIDE parens (MAP<STRING,
      // BIGINT>) — args.head alone would truncate the target type
      val a = args.mkString(", ")
      val i = a.lastIndexOf(" AS ")
      if (i < 0) s"CAST($a)"
      else s"CAST(${a.substring(0, i)} AS ${sparkTypeName(a.substring(i + 4))})"
    })
    // position(haystack, needle[, start_pos]): 1-based BYTE offsets
    // throughout (server law — locate counts codepoints). The 3-arg
    // byte-offset start form maps since round 16 (GraftBytePositionFrom
    // kernel; start < 1 and empty-needle-with-start stay loud rejects,
    // not pinnable boundaries).
    rule("position", args => args.size match {
      case 2 => s"graft_position(${args(0)}, ${args(1)})"
      case 3 => s"graft_position_from(${args(0)}, ${args(1)}, ${args(2)})"
      case n => throw new IllegalArgumentException(
        s"position takes 2 or 3 arguments (got $n)")
    })
    // countDistinct(x...) → count(DISTINCT x...)
    // zero-argument count() is ClickHouse's row count; Spark needs count(*)
    rule("count", args => s"count(${if (args.isEmpty) "*" else args.mkString(", ")})")
    rule("countDistinct", args => s"count(DISTINCT ${args.mkString(", ")})")
    // positiveModulo → pmod
    rule("positiveModulo", args => s"pmod(${args.mkString(", ")})")
    // trimBoth → trim, replaceAll → replace
    rule("trimBoth", args => s"trim(${args.head})")
    rule("replaceAll", args => s"replace(${args.mkString(", ")})")
    // match(haystack, re) → regexp_like (the embedded engine's Java regex
    // stands in for ClickHouse's RE2; shared-subset fidelity)
    rule("match", args => s"regexp_like(${args.mkString(", ")})")
    // startsWith/endsWith → Spark lowercase names
    rule("startsWith", args => s"startswith(${args.mkString(", ")})")
    rule("endsWith", args => s"endswith(${args.mkString(", ")})")
    // literal constructors emitted by ChSql.literal
    rule("toDateTime64", args => s"to_timestamp(${args.head})")
    // date/time family (ClickHouse names → Spark equivalents)
    rule("toYear", args => s"year(${args.head})")
    rule("toMonth", args => s"month(${args.head})")
    rule("toDayOfMonth", args => s"dayofmonth(${args.head})")
    rule("toHour", args => s"hour(${args.head})")
    rule("toMinute", args => s"minute(${args.head})")
    rule("toSecond", args => s"second(${args.head})")
    rule("toStartOfYear", args => s"date_trunc('year', ${args.head})")
    rule("toStartOfMonth", args => s"date_trunc('month', ${args.head})")
    rule("toStartOfDay", args => s"date_trunc('day', ${args.head})")
    rule("toStartOfHour", args => s"date_trunc('hour', ${args.head})")
    rule("toStartOfMinute", args => s"date_trunc('minute', ${args.head})")
    rule("toDate", args => s"to_date(${args.head})")
    rule("toQuarter", args => s"quarter(${args.head})")
    rule("toDayOfYear", args => s"dayofyear(${args.head})")
    rule("toISOWeek", args => s"weekofyear(${args.head})")
    // ---- round-15 sweep-2 wave (FnSurfaceSpec round 2) ----------------
    // ISO week-year: Spark's YEAROFWEEK extract carries the same ISO law
    rule("toISOYear", args =>
      s"extract(YEAROFWEEK FROM ${args.head})")
    // fixed-interval truncations: epoch-second flooring (UTC session —
    // identical to the server's wall-clock truncation law in UTC)
    for ((ch, step) <- Seq(
      "toStartOfFiveMinutes" -> 300, "toStartOfTenMinutes" -> 600,
      "toStartOfFifteenMinutes" -> 900, "timeSlot" -> 1800))
      rule(ch, args =>
        s"timestamp_seconds(floor(unix_timestamp(${args.head}) / $step) * $step)")
    // toStartOfInterval: literal INTERVAL arg. Sub-day + day steps are
    // epoch-second flooring (exact in the UTC session). Calendar steps
    // (round 16) follow the server's DOCUMENTED origins (DateLUT's
    // toStartOf*Interval): multi-week intervals count from Monday
    // 1970-01-05 (the 4-day Thursday offset), months from 1970-01,
    // quarters = months with 3n, years from 1970; n=1 falls back to the
    // plain truncation law (toMonday/toStartOfMonth/Quarter/Year — no
    // origin involved, valid for any date). Pre-origin inputs hit the
    // server's UNSIGNED DayNum wraparound (not a pinnable value) — they
    // reject loudly via assert_true; NULL passes through as NULL.
    // Return type is Date for week+ steps, DateTime below — the server
    // law.
    rule("toStartOfInterval", args => {
      require(args.size == 2,
        "toStartOfInterval: (datetime, INTERVAL n unit) without timezone")
      val m = raw"(?i)^INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|QUARTER|YEAR)S?$$".r
        .findFirstMatchIn(args(1).trim).getOrElse(
          throw new IllegalArgumentException(
            "toStartOfInterval: the interval must be a literal INTERVAL n " +
              "SECOND/MINUTE/HOUR/DAY/WEEK/MONTH/QUARTER/YEAR"))
      val n = m.group(1).toLong
      require(n > 0, "toStartOfInterval: the step must be positive")
      val x = args.head
      // pre-origin guard: NULL-transparent, loud on a pre-1970 value
      def guard(origin: String): String =
        s"coalesce(cast(assert_true(($x) >= date'$origin' OR ($x) IS NULL, " +
          s"'toStartOfInterval: inputs before $origin hit the server''s " +
          "unsigned-day wraparound, which is not a pinnable value " +
          "offline') as int), 0)"
      m.group(2).toUpperCase(java.util.Locale.ROOT) match {
        case u @ ("SECOND" | "MINUTE" | "HOUR" | "DAY") =>
          val step = n * (u match {
            case "SECOND" => 1L
            case "MINUTE" => 60L
            case "HOUR" => 3600L
            case "DAY" => 86400L
          })
          s"timestamp_seconds(floor(unix_timestamp($x) / $step) * $step)"
        case "WEEK" if n == 1 => s"to_date(date_trunc('WEEK', $x))"
        case "WEEK" =>
          val d = n * 7
          s"date_add(date'1970-01-05', cast((datediff($x, date'1970-01-05') " +
            s"div $d) * $d as int) + ${guard("1970-01-05")})"
        case "MONTH" if n == 1 => s"to_date(date_trunc('MONTH', $x))"
        case "QUARTER" if n == 1 => s"to_date(date_trunc('QUARTER', $x))"
        case "YEAR" if n == 1 => s"to_date(date_trunc('YEAR', $x))"
        case "YEAR" =>
          s"make_date(1970 + cast(((year($x) - 1970) div $n) * $n as int) " +
            s"+ ${guard("1970-01-01")}, 1, 1)"
        case monthly @ ("MONTH" | "QUARTER") =>
          val nm = if (monthly == "QUARTER") n * 3 else n
          s"add_months(date'1970-01-01', cast((((year($x) - 1970) * 12 " +
            s"+ month($x) - 1) div $nm) * $nm as int) + ${guard("1970-01-01")})"
      }
    })
    // CH round(): banker's for FLOAT inputs, away-from-zero for the
    // rest (type-split law) — graft_round dispatches on the resolved
    // child type; Spark's half-up builtin resolved case-insensitively
    // before round 15 and flipped float .5 ties silently
    rule("round", args => {
      require(args.size == 1 || args.size == 2, "round(x[, N])")
      s"graft_round(${args.mkString(", ")})"
    })
    // keyed SipHash: the tuple-literal key pair parses at translate
    // time (UInt64 spellings accepted via unsigned parse → the same
    // 64-bit pattern the server uses); the kernel is the paper-vector-
    // pinned core, so this spelling is pinned DIRECTLY by the
    // published vectors (HashKernelSpec + DifferentialSpec)
    rule("sipHash64Keyed", args => {
      require(args.size == 2,
        "sipHash64Keyed((k0, k1), data) — single data argument only " +
          "(multi-argument combine chains are not pinnable offline)")
      val m = raw"^\(\s*(\d+)\s*,\s*(\d+)\s*\)$$".r.findFirstMatchIn(args(0).trim)
        .getOrElse(throw new IllegalArgumentException(
          "sipHash64Keyed: the key must be a literal (k0, k1) tuple of " +
            "unsigned integers"))
      val k0 = java.lang.Long.parseUnsignedLong(m.group(1))
      val k1 = java.lang.Long.parseUnsignedLong(m.group(2))
      s"graft_siphash64k(${args(1)}, ${k0}L, ${k1}L)"
    })
    // array shifts: exact slice/repeat composition. The 2-argument form
    // pads with the ARGUMENT type's default value, which the translator
    // cannot derive from text (the -OrDefault law) — the filler is
    // REQUIRED here; negative n shifts the other direction, |n| beyond
    // the length fills completely
    def shiftLeft(a: String, n: String, d: String): String =
      s"(CASE WHEN size($a) <= 0 THEN ($a) " +
        s"WHEN ($n) >= 0 AND ($n) < size($a) THEN concat(" +
        s"slice($a, ($n) + 1, size($a) - ($n)), array_repeat($d, $n)) " +
        s"WHEN ($n) < 0 AND -($n) < size($a) THEN concat(" +
        s"array_repeat($d, -($n)), slice($a, 1, size($a) + ($n))) " +
        s"ELSE array_repeat($d, size($a)) END)"
    for ((name, neg) <- Seq("arrayShiftLeft" -> false, "arrayShiftRight" -> true))
      rule(name, args => {
        require(args.size == 3,
          s"$name(arr, n, filler): the 2-argument form pads with the " +
            "element type's DEFAULT value, which is not derivable from " +
            "text — pass the filler explicitly or run against a real server")
        shiftLeft(args(0), if (neg) s"-(${args(1)})" else args(1), args(2))
      })
    // arrayCumSumNonNegative: the clamped scan f_i = max(0, f_{i-1} +
    // x_i) (documented example [1,1,-4,1] → [1,2,0,1]) — the clamp
    // lives INSIDE the fold, so each prefix re-folds with greatest()
    rule("arrayCumSumNonNegative", args => {
      require(args.size == 1, "arrayCumSumNonNegative(arr)")
      val a = args.head
      val zero = s"element_at($a, 1) - element_at($a, 1)"
      s"(CASE WHEN size($a) <= 0 THEN ($a) ELSE " +
        s"transform(sequence(1, size($a)), __cn_i -> " +
        s"aggregate(slice($a, 1, __cn_i), $zero, " +
        s"(__cn_acc, __cn_x) -> greatest(__cn_acc + __cn_x, $zero))) END)"
    })
    // array rotation: wrap-around slice composition, exact for any n
    // (pmod handles negatives = the server's opposite-direction law);
    // empty arrays pass through, NULL arrays stay NULL via slice/size
    def rotateLeft(a: String, n: String): String = {
      val k = s"pmod($n, size($a))"
      s"(CASE WHEN size($a) <= 0 THEN ($a) ELSE concat(" +
        s"slice($a, $k + 1, size($a) - $k), slice($a, 1, $k)) END)"
    }
    rule("arrayRotateLeft", args => {
      require(args.size == 2, "arrayRotateLeft(arr, n)")
      rotateLeft(args(0), args(1))
    })
    rule("arrayRotateRight", args => {
      require(args.size == 2, "arrayRotateRight(arr, n)")
      rotateLeft(args(0), s"-(${args(1)})")
    })
    // named arithmetic forms (divide is ALWAYS Float64 on the server)
    rule("plus", args => s"((${args(0)}) + (${args(1)}))")
    rule("minus", args => s"((${args(0)}) - (${args(1)}))")
    rule("multiply", args => s"((${args(0)}) * (${args(1)}))")
    rule("divide", args =>
      s"(cast((${args(0)}) as double) / (${args(1)}))")
    rule("negate", args => s"(-(${args.head}))")
    // IEEE classification: NaN fails every ordered comparison and
    // Spark's NaN-as-largest ordering never enters (abs(x) <= maxDouble
    // is an ordinary comparison), so NaN → false on both forms, exactly
    // the server's isFinite/isInfinite
    rule("isFinite", args =>
      s"(abs(cast((${args.head}) as double)) <= cast('1.7976931348623157E308' as double))")
    rule("isInfinite", args =>
      s"(abs(cast((${args.head}) as double)) = cast('Infinity' as double))")
    rule("ifNotFinite", args =>
      s"(CASE WHEN abs(cast((${args(0)}) as double)) <= " +
        s"cast('1.7976931348623157E308' as double) THEN (${args(0)}) " +
        s"ELSE (${args(1)}) END)")
    // single-bit tests ((a >> i) & 1 — the server's law; bitTestAll/Any
    // fold over literal or expression positions). Emitted as the
    // shiftright FUNCTION, not the `>>` operator: Spark's ANTLR parser
    // spuriously rejects `>>` once the surrounding statement is complex
    // enough (found by FnFuzzSpec round 16 — `((a >> 1) & 1)` parses
    // alone but fails at the tail of a ~2.4KB nested select list).
    rule("bitTest", args =>
      s"((shiftright(${args(0)}, ${args(1)})) & 1)")
    rule("bitTestAll", args => {
      require(args.size >= 2, "bitTestAll(a, i1, ...)")
      args.tail.map(i => s"((shiftright(${args.head}, $i)) & 1) = 1")
        .mkString("(CASE WHEN ", " AND ", " THEN 1 ELSE 0 END)")
    })
    rule("bitTestAny", args => {
      require(args.size >= 2, "bitTestAny(a, i1, ...)")
      args.tail.map(i => s"((shiftright(${args.head}, $i)) & 1) = 1")
        .mkString("(CASE WHEN ", " OR ", " THEN 1 ELSE 0 END)")
    })
    // roundToExp2 on the integral domain (exact highestOneBit law;
    // float inputs reject at the expression's type check — the server's
    // float law works on the exponent field, not pinnable offline)
    rule("roundToExp2", args => {
      require(args.size == 1, "roundToExp2(x)")
      s"graft_rexp2(${args.head})"
    })
    // codepoint-law string forms riding Spark's own codepoint semantics
    rule("positionUTF8", args => {
      require(args.size == 2, "positionUTF8: (haystack, needle) only")
      s"locate(${args(1)}, ${args(0)})"
    })
    rule("leftUTF8", args => s"left(${args.mkString(", ")})")
    rule("rightUTF8", args => s"right(${args.mkString(", ")})")
    // URL family: the server's byte-scan laws as anchored regexes
    // (scheme = RFC 3986 ALPHA *(ALPHA/DIGIT/+/-/.); host chars stop at
    // :/?#@; doc-example boundary values pinned in DifferentialSpec).
    // regexp_extract returns '' on no match — the server's empty-string
    // default for every member of this family.
    // userinfo may carry ':' (user:pw@) and nest '@' pathologically —
    // the server keeps the host after the LAST '@' before the path
    val urlHost = "'^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@?#]*@)*([A-Za-z0-9._-]+)'"
    rule("protocol", args =>
      s"regexp_extract(${args.head}, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)")
    rule("domainWithoutWWW", args =>
      s"regexp_replace(regexp_extract(${args.head}, $urlHost, 1), '^www\\\\.', '')")
    rule("domain", args =>
      s"regexp_extract(${args.head}, $urlHost, 1)")
    // TLD = the last dot-separated label of the host, requiring a letter
    // (the server returns '' for IPs and dotless hosts)
    rule("topLevelDomain", args =>
      s"regexp_extract(regexp_extract(${args.head}, $urlHost, 1), " +
        s"'\\\\.((?=[A-Za-z0-9-]*[A-Za-z])[A-Za-z0-9-]+)$$', 1)")
    rule("pathFull", args =>
      s"regexp_extract(${args.head}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)', 1)")
    rule("path", args =>
      s"regexp_extract(${args.head}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)")
    rule("queryString", args =>
      s"regexp_extract(${args.head}, '\\\\?([^#]*)', 1)")
    rule("fragment", args =>
      s"regexp_extract(${args.head}, '#(.*)$$', 1)")
    rule("cutQueryString", args =>
      s"regexp_replace(${args.head}, '\\\\?[^#]*', '')")
    rule("extractURLParameter", args => {
      require(args.size == 2, "extractURLParameter(url, 'name')")
      val name = stringLiteral(args(1)).getOrElse(
        throw new IllegalArgumentException(
          "extractURLParameter: the parameter name must be a string literal"))
      s"regexp_extract(${args.head}, '[?&]${escapeRegexLiteral(name)}=([^&#]*)', 1)"
    })
    // extractGroups(haystack, pattern): the FIRST match's capture
    // groups as an array (the documented example law); the pattern
    // must be a literal with ≥1 group (the server errors on
    // group-free patterns — so does the translator). No match →
    // empty array (chosen instance consistent with extract's
    // ''-default; not spec-pinned).
    rule("extractGroups", args => {
      require(args.size == 2, "extractGroups(haystack, 'pattern')")
      val lit = stringLiteral(args(1)).getOrElse(
        throw new IllegalArgumentException(
          "extractGroups: the pattern must be a string literal"))
      val n = captureGroupCount(lit)
      require(n >= 1,
        "extractGroups: the pattern must contain at least one capture " +
          "group (the server errors otherwise)")
      val groups = (1 to n)
        .map(g => s"regexp_extract(${args.head}, ${args(1)}, $g)")
        .mkString(", ")
      s"(CASE WHEN regexp_like(${args.head}, ${args(1)}) " +
        s"THEN array($groups) ELSE array() END)"
    })
    // multiSearchAny(haystack, ['n1', ...]): 1 when ANY needle is a
    // substring (byte search ≡ char search for valid-UTF-8 needles);
    // NULL haystack propagates. Needles must be a literal array —
    // the bracket dialect may already have rewritten [..] to array(..),
    // so both spellings parse here.
    rule("multiSearchAny", args => {
      require(args.size == 2, "multiSearchAny(haystack, [needles...])")
      val t = args(1).trim
      val inner =
        if (t.startsWith("[") && t.endsWith("]")) t.substring(1, t.length - 1)
        else if (t.toLowerCase.startsWith("array(") && t.endsWith(")"))
          t.substring(6, t.length - 1)
        else throw new IllegalArgumentException(
          "multiSearchAny: needles must be a literal array of strings")
      val needles = parseArgs(inner + ")", 0)._1.map(_.trim).map(n =>
        stringLiteral(n).getOrElse(throw new IllegalArgumentException(
          s"multiSearchAny: needles must be string literals (got $n)")))
      require(needles.nonEmpty, "multiSearchAny: at least one needle")
      val any = needles.map(n => s"instr(${args.head}, '$n') > 0")
        .mkString(" OR ")
      s"(CASE WHEN (${args.head}) IS NULL THEN NULL " +
        s"WHEN $any THEN 1 ELSE 0 END)"
    })
    // hasToken(haystack, 'token'): token = maximal run between
    // non-alphanumeric ASCII separators (the documented tokenizer law);
    // the needle must itself be one alphanumeric token — the server
    // errors otherwise, and so does the translator.
    rule("hasToken", args => {
      require(args.size == 2, "hasToken(haystack, 'token')")
      val tok = stringLiteral(args(1)).getOrElse(
        throw new IllegalArgumentException(
          "hasToken: the token must be a string literal"))
      require(tok.nonEmpty && tok.forall(c => c.isLetterOrDigit && c < 128),
        s"hasToken: '$tok' is not a single alphanumeric ASCII token — " +
          "the server errors on needles containing separators")
      s"(CASE WHEN (${args.head}) IS NULL THEN NULL " +
        s"WHEN (${args.head}) rlike " +
        s"'(^|[^A-Za-z0-9])$tok([^A-Za-z0-9]|$$)' THEN 1 ELSE 0 END)"
    })
    // round-16 URL additions (same byte-scan regex family):
    // cutFragment drops from the first '#'; cutQueryStringAndFragment
    // from the first '?' or '#'; netloc is everything between the
    // optional scheme and the first /?# (userinfo+host+port, the
    // documented example paul@www.example.com:80); port() extracts the
    // :digits suffix of the host with the server's 0 default (or the
    // caller's literal default in the 2-arg form)
    // RFC 3986 percent-encoding family (round 17 — GraftUrlCodec laws:
    // unreserved set per the RFC, uppercase hex, UTF-8 bytes; the Form
    // variants add the space↔'+' mapping; malformed %-sequences reject
    // loudly at decode)
    rule("encodeURLComponent", args => {
      require(args.size == 1, "encodeURLComponent(s)")
      s"graft_encurl(${args.head})"
    })
    rule("decodeURLComponent", args => {
      require(args.size == 1, "decodeURLComponent(s)")
      s"graft_decurl(${args.head})"
    })
    rule("encodeURLFormComponent", args => {
      require(args.size == 1, "encodeURLFormComponent(s)")
      s"graft_encurlf(${args.head})"
    })
    rule("decodeURLFormComponent", args => {
      require(args.size == 1, "decodeURLFormComponent(s)")
      s"graft_decurlf(${args.head})"
    })
    rule("cutFragment", args =>
      s"regexp_replace(${args.head}, '#.*$$', '')")
    rule("cutQueryStringAndFragment", args =>
      s"regexp_replace(${args.head}, '[?#].*$$', '')")
    rule("netloc", args =>
      s"regexp_extract(${args.head}, " +
        s"'^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/?#]*)', 1)")
    rule("port", args => {
      require(args.size == 1 || args.size == 2, "port(url[, default])")
      val dflt = if (args.size == 2) {
        require(raw"^\d+$$".r.findFirstIn(args(1).trim).isDefined,
          "port: the default must be an integer literal")
        args(1).trim
      } else "0"
      s"cast(coalesce(nullif(regexp_extract(${args.head}, " +
        s"'^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@?#]*@)*" +
        s"[A-Za-z0-9._-]+:(\\\\d+)', 1), ''), '$dflt') as int)"
    })
    // simpleJSON*/visitParam* (round 16): the server's DOCUMENTED
    // byte-scanner law as codegen kernels (graft.functions
    // .GraftSimpleJson — needle `"name":`, first occurrence, per-type
    // front-read extractors; laws + boundary pins in the scaladoc and
    // SimpleJsonSpec). visitParam* are the server's documented aliases.
    for ((suffix, fn) <- Seq(
      "Has" -> "graft_sj_has",
      "ExtractUInt" -> "graft_sj_uint",
      "ExtractInt" -> "graft_sj_int",
      "ExtractFloat" -> "graft_sj_float",
      "ExtractBool" -> "graft_sj_bool",
      "ExtractRaw" -> "graft_sj_raw",
      "ExtractString" -> "graft_sj_string");
      spelling <- Seq("simpleJSON" + suffix, "visitParam" + suffix))
      rule(spelling, args => {
        require(args.size == 2, s"$spelling(json, 'name')")
        s"$fn(${args(0)}, ${args(1)})"
      })
    // JSONLength: array element count / object key count, 0 for
    // scalars, missing paths, and invalid JSON (the simdjson family's
    // 0-default). Spark's json_array_length/json_object_keys return
    // NULL outside their own shape, so the coalesce chain IS the
    // polymorphic dispatch. Path keys ride the round-11 literal-key
    // get_json_object contract (lenient-parser caveat shared with the
    // whole JSONExtract family).
    rule("JSONLength", args => {
      require(args.nonEmpty, "JSONLength(json[, keys...])")
      val target =
        if (args.size == 1) args.head
        else {
          val keys = args.tail.map(k => stringLiteral(k).getOrElse(
            throw new IllegalArgumentException(
              "JSONLength: keys must be string literals")))
          s"get_json_object(${args.head}, '$$.${keys.mkString(".")}')"
        }
      s"cast(coalesce(json_array_length($target), " +
        s"size(json_object_keys($target)), 0) as bigint)"
    })
    // JSONExtractKeys: object key list, [] outside the object shape
    // (the simdjson family's empty default; same literal-key path
    // contract as JSONLength)
    rule("JSONExtractKeys", args => {
      require(args.nonEmpty, "JSONExtractKeys(json[, keys...])")
      val target =
        if (args.size == 1) args.head
        else {
          val keys = args.tail.map(k => stringLiteral(k).getOrElse(
            throw new IllegalArgumentException(
              "JSONExtractKeys: keys must be string literals")))
          s"get_json_object(${args.head}, '$$.${keys.mkString(".")}')"
        }
      s"coalesce(json_object_keys($target), array())"
    })
    // JSONExtractRaw still has NO composition: get_json_object unquotes
    // string values, so the raw (quote-preserving) form cannot be
    // rebuilt without re-escaping lies — reject loudly. (The scanner
    // law's raw form IS available as simpleJSONExtractRaw.)
    rule("JSONExtractRaw", _ => throw new IllegalArgumentException(
      "JSONExtractRaw is not supported by the embedded engine (" +
        "get_json_object unquotes string values, so the quote-preserving " +
        "raw form is not expressible) — use simpleJSONExtractRaw's " +
        "scanner law or run against a real server"))
    // firstSignificantSubdomain family (round 16): the DEFAULT variants
    // follow the server's documented 4-name heuristic (significant =
    // the label before the last label, stepping one deeper when that
    // label is com/net/org/co) — no public-suffix list involved; the
    // PSL is only needed by the *Custom variants, which keep rejecting
    // at the unknown-function surface. Host extraction mirrors the
    // domain() law above.
    rule("firstSignificantSubdomain", args => {
      require(args.size == 1, "firstSignificantSubdomain(url)")
      s"graft_fsd(${args.head}, false)"
    })
    rule("cutToFirstSignificantSubdomain", args => {
      require(args.size == 1, "cutToFirstSignificantSubdomain(url)")
      s"graft_fsd(${args.head}, true)"
    })
    // ---- end round-15 sweep-2 wave -------------------------------------
    // extended string family (UTF8 variants = Spark's codepoint semantics)
    rule("leftPadUTF8", args => s"lpad(${args.mkString(", ")})")
    rule("rightPadUTF8", args => s"rpad(${args.mkString(", ")})")
    rule("reverseUTF8", args => s"reverse(${args.head})")
    rule("leftPad", args => s"lpad(${args.mkString(", ")})")
    rule("rightPad", args => s"rpad(${args.mkString(", ")})")
    rule("trimLeft", args => s"ltrim(${args.head})")
    rule("trimRight", args => s"rtrim(${args.head})")
    rule("isNaN", args => s"isnan(${args.head})")
    // -OrNull combinator: NULL when the aggregate accumulated nothing.
    // sum/avg/min/max/any/anyLast already return NULL on an empty or
    // all-NULL input in Spark — the combinator strips to the base
    // aggregate, dispatched through its own rule. count/uniq return 0
    // there, so those wrap in nullif.
    def combinatorArgs(args: Seq[String]): Seq[String] =
      if (args.isEmpty) Seq("*") else args
    for (f <- Seq("sum", "avg", "min", "max", "any", "anyLast",
      "argMax", "argMin"))
      rule(f + "OrNull", args => translateCall(f, args))
    for (f <- Seq("count", "uniq", "uniqExact"))
      rule(f + "OrNull",
        args => s"nullif(${translateCall(f, combinatorArgs(args))}, 0)")
    // -OrDefault: the RETURN TYPE's default when nothing accumulated —
    // derivable from text only where that type is fixed by the function
    // (count/uniq already 0; sum/avg numeric 0). min/max/any carry the
    // argument's type, whose default (''/1970-01-01/0) the translator
    // cannot know — those reject by name in the walk
    // (rejectOrDefault), never a silent 0.
    for (f <- Seq("count", "uniq", "uniqExact"))
      rule(f + "OrDefault", args => translateCall(f, combinatorArgs(args)))
    rule("sumOrDefault",
      args => s"coalesce(sum(${args.mkString(", ")}), 0)")
    rule("avgOrDefault",
      args => s"coalesce(avg(${args.mkString(", ")}), 0.0)")
    // sumMap/minMap/maxMap map since round 16 (ChMapAgg, below). The
    // zero-total ambiguity that used to reject the whole
    // family BY NAME (offline docs are ambiguous on whether zero-total
    // keys drop) is now a loud EVAL-TIME reject on exactly the
    // ambiguous instance — a zero folded total — so the common nonzero
    // case works and no silently divergent instance is ever picked
    // (the gcd(0,0) pattern). sumMapWithOverflow maps since round 17:
    // its law is wrapping at the value's own width (same-type result,
    // no promotion) — ChMapAgg.SumOv wraps the Long fold at the
    // declared-unsigned or resolved element width.
    rule("sumMapWithOverflow", args => args.size match {
      case 2 => s"graft_summap_ov(${args(0)}, ${args(1)})"
      case 1 => s"graft_summap_ov(map_keys(${args.head}), " +
        s"map_values(${args.head}))"
      case n => throw new IllegalArgumentException(
        s"sumMapWithOverflow takes (keys_array, values_array) or (map)" +
          s" — got $n arguments")
    })
    // avgWeighted(x, w) = Σ(x·w)/Σ(w) — the exact closed form (the
    // server computes Float64 the same way; all-NULL/zero-weight groups
    // give NULL via the division, matching the server's nan→NULL edge
    // under the repo's NULL-for-undefined convention). The denominator
    // is guarded on the VALUE's nullness: ClickHouse skips the whole
    // row of a multi-argument aggregate when any argument is NULL, so a
    // NULL x must not contribute its weight (ADVICE r14 — Spark's
    // sum(w) alone would still count that row's weight)
    rule("avgWeighted", args => {
      require(args.size == 2, "avgWeighted takes (value, weight)")
      val (x, w) = (args(0), args(1))
      // numerator needs no guard: x*w is NULL (sum-skipped) when either
      // side is; the CASE yields NULL for a NULL w too, so both sides
      // drop exactly the rows the server drops
      s"(sum(cast(($x) as double) * ($w)) / " +
        s"sum(CASE WHEN ($x) IS NOT NULL THEN cast(($w) as double) END))"
    })
    // deltaSum: sum of positive consecutive differences — inherently
    // ORDER-dependent, and Spark aggregation order is unspecified: loud
    // reject (the window spelling sum(greatest(x - lag(x), 0)) OVER (...)
    // expresses it deterministically)
    rule("deltaSum", _ => throw new IllegalArgumentException(
      "deltaSum is order-dependent and Spark aggregation order is " +
        "unspecified — spell it as sum(greatest(x - lagInFrame(x) OVER " +
        "(ORDER BY ...), 0)) over an explicit ordering"))
    // any/anyLast: the server keeps "some" value — min/max are legal
    // instances, reproducibly (the Summing-representative rule). The
    // quantified-subquery form `= any(SELECT ...)` is NOT the aggregate
    // — it is rebuilt as `any(...)` over its translated subquery.
    rule("anyLast", args => s"max(${args.head})")
    // a subquery argument — bare `SELECT ...` OR parenthesized
    // `(SELECT ...)` (any depth of wrapping parens) — marks the
    // quantified form; rewriting it to min() would silently turn IN
    // semantics into an equality against the subquery minimum
    // only strip an outer pair when the '(' at index 0 MATCHES the ')'
    // at the end — '(SELECT max(x) FROM t) - (SELECT min(x) FROM t)' is
    // an expression, not a wrapped subquery (advisor r12)
    def strippable(t: String): Boolean =
      t.startsWith("(") && ChLex.closeOf(t, 0) == t.length
    def isSubqueryArg(a: String): Boolean = {
      var t = a.trim
      while (strippable(t)) t = t.substring(1, t.length - 1).trim
      t.toUpperCase.startsWith("SELECT")
    }
    rule("any", args =>
      if (args.size == 1 && !isSubqueryArg(args.head))
        s"min(${args.head})"
      else s"any(${args.mkString(", ")})")
    // date partition keys (toYYYYMM and friends — the canonical
    // partition_by expressions): closed-form integer arithmetic
    rule("toYYYYMM",
      args => s"(year(${args.head}) * 100 + month(${args.head}))")
    rule("toYYYYMMDD",
      args => s"(year(${args.head}) * 10000 + month(${args.head}) * 100 + " +
        s"dayofmonth(${args.head}))")
    // JSON extraction family → get_json_object with a $.-path built
    // from the LITERAL key arguments; non-literal or empty keys REJECT
    // at translate time — never a silently wrong path
    def jsonPath(keys: Seq[String]): String = {
      require(keys.nonEmpty, "JSONExtract*: at least one key is required")
      val lits = keys.map(_.trim).map { k =>
        require(k.length >= 3 && k.startsWith("'") && k.endsWith("'") &&
          !k.substring(1, k.length - 1).contains("'"),
          s"JSONExtract*: keys must be string literals (got $k)")
        k.substring(1, k.length - 1)
      }
      "'$." + lits.mkString(".") + "'"
    }
    rule("JSONExtractString",
      args => s"get_json_object(${args.head}, ${jsonPath(args.tail)})")
    rule("JSONExtractInt",
      args => s"cast(get_json_object(${args.head}, ${jsonPath(args.tail)}) as bigint)")
    rule("JSONExtractFloat",
      args => s"cast(get_json_object(${args.head}, ${jsonPath(args.tail)}) as double)")
    rule("JSONExtractBool",
      args => s"cast(get_json_object(${args.head}, ${jsonPath(args.tail)}) as boolean)")
    rule("JSONHas",
      args => s"(get_json_object(${args.head}, ${jsonPath(args.tail)}) IS NOT NULL)")
    // -If combinator aggregates → Spark FILTER clauses (identical
    // semantics: the aggregate sees only rows passing the condition)
    rule("sumIf",
      args => s"sum(${args(0)}) FILTER (WHERE ${args(1)})")
    rule("avgIf",
      args => s"avg(${args(0)}) FILTER (WHERE ${args(1)})")
    rule("minIf",
      args => s"min(${args(0)}) FILTER (WHERE ${args(1)})")
    rule("maxIf",
      args => s"max(${args(0)}) FILTER (WHERE ${args(1)})")
    // countIf(cond) and countIf(x, cond) — the 2-arg combinator form
    // counts non-NULL x over rows passing cond
    rule("countIf", args =>
      if (args.size >= 2) s"count(${args(0)}) FILTER (WHERE ${args(1)})"
      else s"count_if(${args.head})")
    // generic -If combinators beyond the arithmetic four: the LAST
    // argument is the condition, everything before it feeds the base
    // aggregate (argMaxIf(a, v, cond) keeps both value args). The base
    // maps per its own rule: any→min / anyLast→max (the deterministic
    // legal instances), uniq*→exact COUNT(DISTINCT), groupArray→
    // collect_list, groupUniqArray→collect_set.
    for ((ch, spark) <- Seq(
      "anyIf" -> "min", "anyLastIf" -> "max",
      "argMaxIf" -> "max_by", "argMinIf" -> "min_by",
      "groupArrayIf" -> "collect_list", "groupUniqArrayIf" -> "collect_set"))
      rule(ch, args => {
        require(args.size >= 2, s"$ch: needs value args plus a condition")
        s"$spark(${args.init.mkString(", ")}) FILTER (WHERE ${args.last})"
      })
    for (ch <- Seq("uniqIf", "uniqExactIf", "uniqCombinedIf", "uniqHLL12If"))
      rule(ch, args => {
        require(args.size >= 2, s"$ch: needs value args plus a condition")
        s"count(DISTINCT ${args.init.mkString(", ")}) FILTER (WHERE ${args.last})"
      })
    // -Distinct combinator: each value counted once. Identity for
    // min/max; DISTINCT-qualified base for the accumulating aggregates.
    rule("sumDistinct", args => s"sum(DISTINCT ${args.head})")
    rule("avgDistinct", args => s"avg(DISTINCT ${args.head})")
    rule("minDistinct", args => s"min(${args.head})")
    rule("maxDistinct", args => s"max(${args.head})")
    rule("groupUniqArrayDistinct",
      args => s"collect_set(${args.head})")
    // -Array combinators: the aggregate runs over ALL ELEMENTS of the
    // array arguments across the group. min/max distribute over a
    // per-row array_min/array_max; sum/avg fold each row's elements
    // first (the fold's zero is `first_element * 0` — the ELEMENT type's
    // zero, which a text rewrite cannot otherwise name; NULL elements
    // are filtered before the fold, matching the base aggregates'
    // NULL-skipping, and an empty array folds to NULL, which the outer
    // aggregate skips — exactly "contributes no elements").
    rule("minArray",
      args => s"min(array_min(${args.head}))")
    rule("maxArray",
      args => s"max(array_max(${args.head}))")
    def arrayElemSum(a: String): String = {
      val nn = s"filter($a, __ar_x -> __ar_x IS NOT NULL)"
      // coalesce: an empty/all-NULL array folds to NULL, which the
      // outer sum would skip — but a group of ONLY empty arrays must
      // yield 0 (the server's sumArray), not NULL
      s"coalesce(aggregate($nn, try_element_at($nn, 1) * 0, " +
        "(__ar_acc, __ar_v) -> __ar_acc + __ar_v), 0)"
    }
    rule("sumArray",
      args => s"sum(${arrayElemSum(args.head)})")
    rule("avgArray", args =>
      s"(sum(${arrayElemSum(args.head)}) / " +
        s"sum(size(filter(${args.head}, __ar_x -> __ar_x IS NOT NULL))))")
    // uniqArray: distinct elements across the group's arrays — exact
    // (legal instance of the approximate-uniq contract); per-row
    // array_distinct bounds the collected payload at each row's
    // distinct set
    rule("uniqArray", args =>
      "cast(size(array_distinct(flatten(collect_list(" +
        s"array_distinct(${args.head}))))) as bigint)")
    rule("uniqExactArray", args =>
      "cast(size(array_distinct(flatten(collect_list(" +
        s"array_distinct(${args.head}))))) as bigint)")
    // groupArrayArray: concatenation of the group's arrays (order
    // unspecified under parallel execution in both engines)
    rule("groupArrayArray",
      args => s"flatten(collect_list(${args.head}))")
    // countArray: total element count across the group's arrays
    rule("countArray",
      args => s"sum(size(${args.head}))")
    // tuples → structs. tupleElement's index form addresses by POSITION,
    // which Spark SQL text cannot express — the embedded session
    // registers graft_tuple_at (a GetStructField builder); the name form
    // maps to ordinary field access.
    rule("tupleElement", args => {
      require(args.size == 2,
        "tupleElement: exactly (tuple, index-or-name) is supported")
      val sel = args(1).trim
      if (sel.startsWith("'") && sel.endsWith("'") && sel.length >= 3)
        s"(${args(0)}).`${sel.substring(1, sel.length - 1)}`"
      else {
        require(sel.forall(_.isDigit) && sel.nonEmpty,
          s"tupleElement: index must be an integer literal or a string " +
            s"literal name (got $sel)")
        s"graft_tuple_at(${args(0)}, $sel)"
      }
    })
    // uniq/uniqExact as plain aggregates: exact COUNT(DISTINCT) — for
    // uniq a documented improvement over the server's approximation
    // (same choice as the exact uniqMerge state path). The other
    // approximate-distinct family members carry the SAME contract
    // ("approximately computes the number of distinct values"), so the
    // exact answer is a legal instance of each — never a silent delta.
    rule("uniqExact",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    rule("uniqCombined64",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    rule("uniqCombined",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    rule("uniqHLL12",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    rule("uniqTheta",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    rule("uniq",
      args => s"count(DISTINCT ${args.mkString(", ")})")
    // multiIf(c1, v1, ..., [else]) → CASE WHEN chain
    rule("multiIf", args => {
      val pairs = args.grouped(2).toSeq
      val whens = pairs.takeWhile(_.size == 2)
        .map(p => s"WHEN ${p(0)} THEN ${p(1)}").mkString(" ")
      val els = if (args.size % 2 == 1) s" ELSE ${args.last}" else ""
      s"(CASE $whens$els END)"
    })
    // empty/notEmpty are polymorphic (strings AND arrays) like length
    rule("empty", args => s"(graft_length(${args.head}) = 0)")
    rule("notEmpty", args => s"(graft_length(${args.head}) > 0)")
    // arrayEnumerate(arr) → [1, 2, ..., length] via indexed transform
    // (sequence(1, size(a)) would emit a DESCENDING [1, 0] on empty
    // arrays instead of [])
    rule("arrayEnumerate",
      args => s"transform(${args.head}, (__ae_x, __ae_i) -> __ae_i + 1)")
    // arrayStringConcat(arr[, sep]) → array_join (server default sep '')
    rule("arrayStringConcat", args =>
      if (args.size >= 2) s"array_join(${args(0)}, ${args(1)})"
      else s"array_join(${args.head}, '')")
    // arraySlice(arr, offset[, length]) → slice; omitted length = to the
    // end (size() is a safe upper bound in both engines)
    rule("arraySlice", args =>
      if (args.size >= 3) s"slice(${args(0)}, ${args(1)}, ${args(2)})"
      else s"slice(${args(0)}, ${args(1)}, size(${args(0)}))")
    // AggregatingMergeTree combinators: -State writes produce the
    // transparent storage representation (ClickHouseType.aggStateType),
    // -Merge reads combine partial states. avg keeps exact integer
    // sum/count (single-division rational on read — hash-stable);
    // uniq is exact over xxhash64 values.
    rule("avgState",
      args => s"named_struct('s', sum(${args.head}), 'c', count(${args.head}))")
    rule("avgMerge",
      args => s"(sum((${args.head}).s) / sum((${args.head}).c))")
    rule("uniqState",
      args => s"collect_set(xxhash64(${args.head})) " +
        s"FILTER (WHERE (${args.head}) IS NOT NULL)")
    rule("uniqExactState",
      args => s"collect_set(xxhash64(${args.head})) " +
        s"FILTER (WHERE (${args.head}) IS NOT NULL)")
    rule("uniqMerge",
      args => s"cast(size(array_distinct(flatten(collect_list(${args.head})))) as bigint)")
    rule("uniqExactMerge",
      args => s"cast(size(array_distinct(flatten(collect_list(${args.head})))) as bigint)")
    rule("sumState", args => s"sum(${args.head})")
    rule("sumMerge", args => s"sum(${args.head})")
    rule("countState",
      args => if (args.isEmpty) "count(1)" else s"count(${args.head})")
    rule("countMerge", args => s"sum(${args.head})")
    rule("minState", args => s"min(${args.head})")
    rule("minMerge", args => s"min(${args.head})")
    rule("maxState", args => s"max(${args.head})")
    rule("maxMerge", args => s"max(${args.head})")
    // anyState: the server keeps "any one" value — min is a legal any,
    // reproducibly (same rule as the Summing non-summed columns)
    rule("anyState", args => s"min(${args.head})")
    rule("anyMerge", args => s"min(${args.head})")
    // parameterized aggregate: quantileExactInclusive(p)(x) →
    // percentile(x, p) (percentile_cont semantics in both)
    paramRule("quantileExactInclusive",
      (params, args) => s"percentile(${args.head}, ${params.head})")
    // plural form: quantilesExactInclusive(p1, p2, ...)(x) → one
    // percentile call with an array of fractions (single sort, array out)
    paramRule("quantilesExactInclusive",
      (params, args) =>
        s"percentile(${args.head}, array(${params.mkString(", ")}))")
    // Exact nearest-rank quantiles — full materialization per group,
    // exactly like the server's quantileExact family (it sorts the whole
    // value set too). Spark has no non-interpolating percentile, so the
    // honest mapping is an explicit sorted-array pick. Per ClickHouse
    // QuantileExact.h, ALL THREE nearest-rank variants use the same
    // 0-based index floor(p*n) (1-based rank floor(p*n)+1, clamped) for
    // p != 0.5; they differ only in the median special case:
    //  - quantileExact(p)(x): rank floor(p*n)+1 everywhere (its p=0.5
    //    truncation already lands on the upper middle for even n);
    //  - quantileExactLow(0.5): LOWER of the two middles (rank ceil(n/2),
    //    python median_low) — the CASE below compares p at runtime;
    //  - quantileExactHigh(0.5): upper middle rank floor(n/2)+1, which
    //    equals floor(0.5*n)+1 for every n — numerically identical to
    //    quantileExact, mapped to the same pick;
    //  - medianExact(x) = quantileExact(0.5)(x).
    // quantileExactExclusive is the Excel PERCENTILE.EXC interpolation
    // (h = p*(n+1), clamped to the ends), Float64 result like the server.
    // NULLs skip (collect_list drops them; n counts non-NULL), all-NULL
    // groups return NULL. quantileExactInclusive stays the interpolating
    // percentile mapping above — different server function, different
    // semantics, never conflated.
    def exactRank(x: String, rank: String): String = {
      val n = s"count($x)"
      s"CASE WHEN $n = 0 THEN NULL ELSE element_at(sort_array(" +
        s"collect_list($x)), $rank) END"
    }
    def exactDefaultRank(x: String, p: String): String =
      exactRank(x, s"least(CAST(floor(($p) * count($x)) AS INT) + 1, " +
        s"CAST(count($x) AS INT))")
    def exactLowRank(x: String, p: String): String =
      exactRank(x, s"CASE WHEN ($p) = 0.5 THEN " +
        s"CAST(ceil(count($x) / 2.0) AS INT) " +
        s"ELSE least(CAST(floor(($p) * count($x)) AS INT) + 1, " +
        s"CAST(count($x) AS INT)) END")
    def exactExclusive(x: String, p: String): String = {
      val n = s"count($x)"
      val h = s"(($p) * ($n + 1))"
      val k = s"CAST(floor($h) AS INT)"
      val sorted = s"sort_array(collect_list($x))"
      s"CASE WHEN $n = 0 THEN NULL " +
        s"WHEN $k < 1 THEN CAST(element_at($sorted, 1) AS DOUBLE) " +
        s"WHEN $k >= $n THEN CAST(element_at($sorted, CAST($n AS INT)) AS DOUBLE) " +
        s"ELSE CAST(element_at($sorted, $k) AS DOUBLE) + " +
        s"($h - $k) * (CAST(element_at($sorted, $k + 1) AS DOUBLE) - " +
        s"CAST(element_at($sorted, $k) AS DOUBLE)) END"
    }
    paramRule("quantilesExactExclusive", (params, args) =>
      s"array(${params.map(p => exactExclusive(args.head, p)).mkString(", ")})")
    paramRule("quantilesExactHigh", (params, args) =>
      s"array(${params.map(p => exactDefaultRank(args.head, p)).mkString(", ")})")
    paramRule("quantilesExactLow", (params, args) =>
      s"array(${params.map(p => exactLowRank(args.head, p)).mkString(", ")})")
    paramRule("quantilesExact", (params, args) =>
      s"array(${params.map(p => exactDefaultRank(args.head, p)).mkString(", ")})")
    paramRule("quantileExactExclusive",
      (params, args) => exactExclusive(args.head, params.head))
    paramRule("quantileExactHigh",
      (params, args) => exactDefaultRank(args.head, params.head))
    paramRule("quantileExactLow",
      (params, args) => exactLowRank(args.head, params.head))
    paramRule("quantileExact",
      (params, args) => exactDefaultRank(args.head, params.head))
    rule("medianExact", args => exactDefaultRank(args.head, "0.5"))
    // higher-moment family, closed forms over Spark's population
    // statistics (ClickHouse: kurtPop = µ4/σ⁴ NON-excess, Spark's
    // kurtosis is the EXCESS form; the *Samp variants divide the same
    // population central moment by the UNBIASED σ — the ratio
    // (varPop/varSamp)^(k/2) converts). n=1 groups: Spark yields NULL
    // where a server yields nan — both "no answer", never a value lie.
    rule("kurtPop", args => s"(kurtosis(${args.head}) + 3.0)")
    rule("skewSamp", args =>
      s"(skewness(${args.head}) * " +
        s"pow(var_pop(${args.head}) / var_samp(${args.head}), 1.5))")
    rule("kurtSamp", args =>
      s"((kurtosis(${args.head}) + 3.0) * " +
        s"pow(var_pop(${args.head}) / var_samp(${args.head}), 2.0))")
    // topK(k)(x) / topKWeighted(k)(x, w): exact frequency ranking via the
    // registered graft_topk aggregates ("approximately most frequent" —
    // exact counts are a legal instance; ties rank value-ascending,
    // deterministic where the server's sketch is not). The optional
    // load_factor/counted_rate extra parameters are sketch-accuracy
    // tuning with no exact-result meaning — dropped like the
    // performance-identity SETTINGS.
    paramRule("topKWeighted", (params, args) => {
      require(args.size == 2, "topKWeighted(k)(x, weight)")
      s"graft_topk_w(${args(0)}, ${args(1)}, ${params.head})"
    })
    paramRule("topK", (params, args) => {
      require(args.size == 1, "topK(k)(x)")
      s"graft_topk(${args.head}, ${params.head})"
    })
    // windowFunnel(window[, modes...])(ts, cond1, ...): max funnel
    // level. Default + the three strict modes (each a documented
    // server algorithm — laws in ChWindowFunnel's scaladoc); unknown
    // mode strings reject loudly there, never a silent default-mode
    // answer for a strict-mode question.
    paramRule("windowFunnel", (params, args) => {
      require(params.nonEmpty, "windowFunnel(window[, mode...])(ts, cond...)")
      val w = params.head.trim
      require(raw"^\d+$$".r.findFirstIn(w).isDefined,
        "windowFunnel: the window must be an integer literal")
      val modes = params.tail.map(p => stringLiteral(p).getOrElse(
        throw new IllegalArgumentException(
          "windowFunnel: modes must be string literals")))
      // validate at translate time so typos fail before planning
      graft.functions.ChWindowFunnel.parseModes(modes)
      require(args.size >= 2, "windowFunnel(window)(ts, cond1, ...)")
      s"graft_window_funnel($w, '${modes.mkString(",")}', ${args.mkString(", ")})"
    })
    // sequenceMatch(pattern)(ts, cond...): the subsequence-expressible
    // pattern subset — laws and the supported token set live in
    // ChSequenceMatch's scaladoc; unsupported tokens reject there
    paramRule("sequenceMatch", (params, args) => {
      require(params.size == 1, "sequenceMatch('pattern')(ts, cond...)")
      stringLiteral(params.head).getOrElse(
        throw new IllegalArgumentException(
          "sequenceMatch: the pattern must be a string literal"))
      require(args.size >= 2, "sequenceMatch('pattern')(ts, cond1, ...)")
      s"graft_seq_match(${params.head}, ${args.mkString(", ")})"
    })
    // sequenceCount: the same pattern subset, counting NON-OVERLAPPING
    // matches (a completed chain resets the search after its last event)
    paramRule("sequenceCount", (params, args) => {
      require(params.size == 1, "sequenceCount('pattern')(ts, cond...)")
      stringLiteral(params.head).getOrElse(
        throw new IllegalArgumentException(
          "sequenceCount: the pattern must be a string literal"))
      require(args.size >= 2, "sequenceCount('pattern')(ts, cond1, ...)")
      s"graft_seq_count(${params.head}, ${args.mkString(", ")})"
    })
    // sumMap/minMap/maxMap(keys, values): per-key folds over parallel
    // arrays → the documented (sorted keys, folded values) tuple
    // (ChMapAgg laws: equal-length arrays enforced per row, exact Long
    // folds for integral values)
    for ((ch, fn) <- Seq("sumMap" -> "graft_summap",
      "minMap" -> "graft_minmap", "maxMap" -> "graft_maxmap"))
      rule(ch, args => args.size match {
        case 2 => s"$fn(${args(0)}, ${args(1)})"
        // the 1-argument MAP form is the same fold over the map's
        // key/value arrays
        case 1 => s"$fn(map_keys(${args.head}), map_values(${args.head}))"
        case n => throw new IllegalArgumentException(
          s"$ch takes (keys_array, values_array) or (map) — got $n arguments")
      })
    // retention(cond1, ..., condN): r1 = cond1 held on some row;
    // r_i = cond1 held AND cond_i held (independent rows — the
    // documented law), as an array of 0/1
    rule("retention", args => {
      require(args.nonEmpty && args.size <= 32,
        "retention takes 1 to 32 conditions")
      def hit(c: String): String = s"max(CASE WHEN $c THEN 1 ELSE 0 END)"
      val r1 = hit(args.head)
      val rest = args.tail.map(c => s"least($r1, ${hit(c)})")
      s"array(${(r1 +: rest).mkString(", ")})"
    })
    // uniqUpTo(N)(x...): the EXACT count when ≤ N, else N + 1 — that
    // IS the documented law, so the capped exact count is not an
    // approximation stand-in
    paramRule("uniqUpTo", (params, args) => {
      require(params.size == 1, "uniqUpTo(N)(x...)")
      val n = params.head.trim
      require(raw"^\d+$$".r.findFirstIn(n).isDefined,
        "uniqUpTo: N must be an integer literal")
      require(args.nonEmpty, "uniqUpTo(N)(x...)")
      s"least(count(DISTINCT ${args.mkString(", ")}), ${n.toLong + 1})"
    })
    // APPROXIMATE interpolating quantiles (reservoir sampling on the
    // server): the contract is "computes an approximate quantile", so the
    // EXACT interpolated percentile is a legal instance (the uniq rule);
    // deterministic here where the server's sampling is not
    paramRule("quantiles", (params, args) =>
      s"percentile(${args.head}, array(${params.mkString(", ")}))")
    paramRule("quantile",
      (params, args) => s"percentile(${args.head}, ${params.head})")
    rule("median", args => s"percentile(${args.head}, 0.5)")
    // lagInFrame/leadInFrame → lag/lead; Spark REJECTS an explicit frame
    // on offset functions, so the forced full frame our unparser emits is
    // stripped from the OVER clause that follows
    rule("lagInFrame", args => s"lag(${args.mkString(", ")})")
    rule("leadInFrame", args => s"lead(${args.mkString(", ")})")
    b.result()
  }

  private val FullFrame = " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"

  /** Remove the frame clause from the OVER spec directly following a
    * lag()/lead() call (other windows keep theirs).
    */
  private def stripOffsetFrames(s: String): String = {
    if (!s.contains(FullFrame)) return s
    val out = new StringBuilder
    val lx = new ChLex(s)
    var copied = 0
    val overPrefix = " OVER ("
    while (lx.next()) {
      if (lx.kind == ChLex.Word && (lx.token == "lag" || lx.token == "lead") &&
        lx.end < s.length && s.charAt(lx.end) == '(') {
        val callEnd = ChLex.closeOf(s, lx.end)
        val overEnd =
          if (callEnd > 0 && s.regionMatches(true, callEnd, overPrefix, 0, overPrefix.length))
            ChLex.closeOf(s, callEnd + overPrefix.length - 1)
          else -1
        if (overEnd > 0) {
          val bodyAt = callEnd + overPrefix.length
          out.append(s.substring(copied, bodyAt))
            .append(s.substring(bodyAt, overEnd - 1).replace(FullFrame, ""))
            .append(')')
          copied = overEnd
          lx.seek(overEnd)
        }
      }
    }
    out.append(s.substring(copied)).result()
  }

  /** Positions of the word `w` outside literals, at any depth. */
  private def wordPositions(sql: String, w: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    val lx = new ChLex(sql)
    while (lx.next()) if (lx.isWord(w)) out += lx.start
    out.result()
  }

  /** The [start, end) spans of the items between the commas of `s` in
    * `[from, to)` that sit at the nesting level of `from`.
    */
  private def commaSpans(s: String, from: Int, to: Int): Seq[(Int, Int)] = {
    val cuts = Seq.newBuilder[Int]
    val lx = new ChLex(s, from)
    while (lx.next() && lx.start < to)
      if (lx.depth == 0 && lx.brackets == 0 && lx.isPunct(',')) cuts += lx.start
    val cs = cuts.result()
    (from +: cs.map(_ + 1)).zip(cs :+ to)
  }

  private val NullsClause = raw"(?is).*\bNULLS\s+(FIRST|LAST)\s*$$".r
  private val DescTail = raw"(?is).*\bDESC\s*$$".r

  /** Make the server's sort-NULL default explicit on every ORDER BY item
    * (every query level, window specs included) that does not already
    * carry a NULLS clause: ASC → NULLS LAST, DESC → NULLS FIRST (NULL is
    * the largest value on a server; Spark defaults the opposite way).
    */
  private def injectNullOrder(in: String): String = {
    if (raw"(?i)\bORDER\b".r.findFirstIn(in).isEmpty) return in
    val marks = for {
      lvl <- ChClauses.levels(in)
      b <- lvl.branches
      ob <- b(OrderBy).toSeq
      // a window spec's ORDER BY (no SELECT at its level) ends at its frame
      end = if (b.has(Select)) ob.end
        else (Seq("ROWS", "RANGE", "GROUPS").map(lvl.seek(ob, _)).filter(_ >= 0) :+ ob.end).min
      (from, to) <- commaSpans(in, ob.body, end)
      item = in.substring(from, to).replaceAll("\\s+$", "")
      if item.trim.nonEmpty && NullsClause.findFirstIn(item).isEmpty
    } yield (from + item.length,
      if (DescTail.findFirstIn(item).isDefined) " NULLS FIRST" else " NULLS LAST")
    val out = new StringBuilder
    var copied = 0
    marks.toSeq.sortBy(_._1).foreach { case (at, nulls) =>
      out.append(in.substring(copied, at)).append(nulls)
      copied = at
    }
    out.append(in.substring(copied)).result()
  }

  // ---- ASOF JOIN → Spark rewrite (the embedded model of the server's
  // point-in-time join) -------------------------------------------------
  //
  // `L ASOF [LEFT|INNER] JOIN R ON <eqs> AND <one inequality>` rewrites to
  // an equi+range LEFT JOIN with a per-left-row window pick:
  //
  //   SELECT <sel> FROM (
  //     SELECT __asof_l.*, r.*, row_number() OVER (
  //       PARTITION BY __asof_l.__asof_lid ORDER BY <rTime> DESC|ASC) AS __asof_rn
  //     FROM (SELECT *, monotonically_increasing_id() AS __asof_lid FROM L) AS __asof_l
  //     LEFT JOIN R ON <on>
  //   ) AS __asof WHERE __asof_rn = 1 [...]
  //
  // The synthetic lid keeps duplicate left rows distinct (a window over
  // the left columns would merge them); it never reaches the output, so
  // results stay deterministic. Matched rows always carry a non-NULL
  // right time (NULL fails the inequality), so `rn = 1 AND rTime IS NOT
  // NULL` is exactly the INNER variant. ClickHouse leaves ties between
  // equal (key, time) right rows unspecified, and so does this rewrite —
  // the same contract, not a silent delta. `SETTINGS join_use_nulls = 1`
  // (which the unparser pins for NULL padding on real servers) is the
  // rewrite's native semantics and is stripped; `join_use_nulls = 0`
  // (type-default padding) cannot be honored and rejects.
  //
  // Honored-or-rejected boundaries (loud errors, never silent): one ASOF
  // per SELECT level, no other join at that level, no `*` select items,
  // exactly one top-level inequality in ON, and each inequality operand
  // must resolve to one side (by alias qualifier or by a unique ` AS x`
  // binding in one side's subquery).

  private def rewriteAsof(in: String): String =
    if (raw"(?i)\bASOF\b".r.findFirstIn(in).isEmpty) in
    else ChClauses.mapLevels(in)(rewriteAsofLevel)

  // ---- ANY JOIN strictness → build-side dedup -------------------------

  /** A parsed top-level `<kind> ANY JOIN` (kind-first `LEFT ANY JOIN` /
    * `INNER ANY JOIN` and legacy strictness-first `ANY LEFT JOIN` /
    * `ANY INNER JOIN` both): the session rewrites the RIGHT operand to a
    * deterministic one-row-per-key pick (schema needed, so the rewrite
    * itself lives with the embedded engine). `cond` starts at the
    * ON/USING keyword and runs to the end of the statement; `on` is the
    * ON expression alone, up to the end of the FROM clause ("" for
    * USING).
    */
  final case class AnyJoinParts(
      prefix: String, kind: String, left: String, right: String,
      rightAlias: Option[String], usingCols: Option[Seq[String]],
      cond: String, on: String)

  private val AnyJoinRe =
    raw"(?is)\b(?:(LEFT|INNER)\s+ANY|ANY\s+(LEFT|INNER))\s+JOIN\b".r
  private val RightAnyRe =
    raw"(?is)\b(?:RIGHT\s+ANY|ANY\s+RIGHT|ANY\s+FULL|FULL\s+ANY)\s+JOIN\b".r

  /** The join operators of `lvl` whose text matches `re`, as (branch,
    * operator start, index past JOIN, operator text).
    */
  private def joinOps(lvl: ChClauses, re: scala.util.matching.Regex)
      : Seq[(Branch, Int, Int, String)] =
    for {
      b <- lvl.branches
      (at, end) <- b.joins
      op = lvl.text.substring(at, end)
      if re.findFirstIn(op).isDefined
    } yield (b, at, end, op)

  /** The top level of `sql` and what `find` yields there. When that is
    * nothing but a nested level yields something, `what` rejects loudly:
    * its embedded rewrite models the top level only.
    */
  private def topLevelOnly[A](sql: String, what: String)(
      find: ChClauses => Seq[A]): (ChClauses, Seq[A]) = {
    val levels = ChClauses.levels(sql)
    val top = levels.next()
    val hits = find(top)
    if (hits.isEmpty && levels.exists(find(_).nonEmpty)) throw nestedOnly(what)
    (top, hits)
  }

  private def nestedOnly(what: String) = new IllegalArgumentException(
    s"$what inside a subquery is not supported by the embedded rewrite " +
      "(top-level only); restructure the statement or run against a real " +
      "server")

  def parseAnyJoin(sql: String): Option[AnyJoinParts] = {
    if (raw"(?i)\bANY\b".r.findFirstIn(sql).isEmpty) return None
    if (ChClauses.levels(sql).exists(joinOps(_, RightAnyRe).nonEmpty))
      throw new IllegalArgumentException(
        "RIGHT/FULL ANY JOIN is not supported by the embedded rewrite " +
          "(the deduplicated side is the LEFT operand there); swap the " +
          "sides to LEFT ANY JOIN, or run against a real server")
    val (top, hits) = topLevelOnly(sql, "ANY JOIN")(joinOps(_, AnyJoinRe))
    if (hits.isEmpty) return None
    require(hits.length == 1 && top.positions("JOIN").length == 1,
      "ANY JOIN mixed with other joins at one SELECT level is not " +
        "supported by the embedded rewrite; nest them in subqueries")
    val (b, at, afterJoin, op) = hits.head
    val m = AnyJoinRe.findFirstMatchIn(op).get
    val kind = Option(m.group(1)).getOrElse(m.group(2)).toUpperCase
    val from = b(From).get
    val left = sql.substring(from.body, at).trim
    val condPos = joinCond(top, from, afterJoin).getOrElse(
      throw new IllegalArgumentException("ANY JOIN without an ON/USING condition"))
    var right = sql.substring(afterJoin, condPos).trim
    // optional `AS alias` / trailing bare alias on the right operand
    var alias: Option[String] = None
    val asM = raw"(?is)^(.*?)\s+AS\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s*$$".r
    asM.findFirstMatchIn(right) match {
      case Some(am) if lastTopLevelAs(right) >= 0 =>
        alias = Some(am.group(2)); right = am.group(1).trim
      case _ =>
        val bare =
          raw"(?is)^(\(.*\)|`[^`]+`\.`[^`]+`)\s+(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)\s*$$".r
        bare.findFirstMatchIn(right).foreach { bm =>
          alias = Some(bm.group(2)); right = bm.group(1).trim
        }
    }
    val condText = sql.substring(condPos)
    val usingCols =
      if (condText.toUpperCase.startsWith("USING")) {
        val open = condText.indexOf('(')
        require(open >= 0, "ANY JOIN USING without a column list")
        Some(parseArgs(condText, open + 1)._1
          .map(_.trim.stripPrefix("`").stripSuffix("`")))
      } else None
    Some(AnyJoinParts(sql.substring(0, from.start), kind, left, right,
      alias, usingCols, condText,
      if (usingCols.isDefined) "" else sql.substring(condPos + 2, from.end).trim))
  }

  // ---- RIGHT SEMI / RIGHT ANTI joins → side swap ----------------------

  private val RightSemiRe = raw"(?is)^RIGHT\s+(SEMI|ANTI)\s+JOIN\b".r

  /** `A RIGHT SEMI|ANTI JOIN B <ON|USING> ...` → `B LEFT SEMI|ANTI JOIN
    * A ...` — identical semantics (the preserved side is B either way;
    * ON/USING conditions are side-symmetric), and Spark parses the LEFT
    * forms natively. One join per SELECT level (the ASOF honesty rule);
    * selecting the probe side's columns fails loudly at analysis — the
    * server's SEMI exposes one matched row's columns, which Spark's
    * semi join cannot, so silence is never an option there.
    */
  def rewriteRightSemiAnti(s: String): String = {
    if (raw"(?is)\bRIGHT\s+(SEMI|ANTI)\s+JOIN\b".r.findFirstIn(s).isEmpty)
      return s
    ChClauses.mapLevels(s)(rewriteRightSemiLevel)
  }

  private def rewriteRightSemiLevel(sql: String): String = {
    val lvl = ChClauses(sql)
    val hits = joinOps(lvl, RightSemiRe)
    if (hits.isEmpty) return sql
    require(hits.length == 1 && lvl.positions("JOIN").length == 1,
      "RIGHT SEMI/ANTI JOIN mixed with other joins at one SELECT level " +
        "is not supported by the embedded rewrite; nest them in subqueries")
    val (b, at, afterJoin, op) = hits.head
    val kind = RightSemiRe.findFirstMatchIn(op).get.group(1).toUpperCase
    val from = b(From).get
    val left = sql.substring(from.body, at).trim
    val condPos = joinCond(lvl, from, afterJoin).getOrElse(
      throw new IllegalArgumentException(
        "RIGHT SEMI/ANTI JOIN without an ON/USING condition"))
    val right = sql.substring(afterJoin, condPos).trim
    require(left.nonEmpty && right.nonEmpty,
      s"RIGHT $kind JOIN: malformed operands near '${sql.substring(from.start)
        .take(60)}'")
    sql.substring(0, from.start) + s"FROM $right LEFT $kind JOIN $left " +
      sql.substring(condPos)
  }

  /** ClickHouse `PASTE JOIN` — horizontal concatenation by row POSITION.
    * The embedded rewrite makes the pairing explicit: each side gets a
    * row_number() keyed by ITS OWN top-level ORDER BY, and the sides
    * join on that number. Honored-or-rejected boundaries (all loud):
    * one PASTE JOIN per statement, top level only, both sides must be
    * parenthesized subqueries WITH their own ORDER BY (positional
    * pairing over an unordered stream is nondeterministic — the same
    * determinism rule as LIMIT BY), no `*` select items (the pairing
    * column would leak into them), no ON/USING (the server grammar has
    * none). Unequal side lengths pair to the SHORTER side (inner join
    * on the position — the embedded model's documented pick; no padding
    * is fabricated). ORDER BY ties leave the pairing unspecified, as on
    * the server. HTTP transports ship the statement verbatim.
    */
  def rewritePaste(s: String): String = {
    if (raw"(?is)\bPASTE\s+JOIN\b".r.findFirstIn(s).isEmpty) return s
    val (top, hits) = topLevelOnly(s, "PASTE JOIN")(joinOps(_, PasteJoin))
    if (hits.isEmpty) return s
    require(hits.length == 1,
      "multiple PASTE JOINs in one statement are not supported by the " +
        "embedded rewrite; nest them in subqueries")
    require(top.positions("JOIN").length == 1,
      "PASTE JOIN mixed with other joins at one SELECT level is not " +
        "supported by the embedded rewrite; nest them in subqueries")
    val (b, at, joinEnd, _) = hits.head
    // `*` select items would expose the injected pairing column
    val sel = b(Select).getOrElse(
      throw new IllegalArgumentException("PASTE JOIN without a SELECT"))
    val from = b(From).get
    require(!s.substring(sel.body, from.start).contains("*"),
      "PASTE JOIN: `*` select items are not supported by the embedded " +
        "rewrite (the positional pairing column would leak into them); " +
        "name the columns explicitly")
    require(joinCond(top, from, joinEnd).isEmpty,
      "PASTE JOIN takes no ON/USING condition (pairing is positional)")
    // each side: one parenthesized subquery, then an optional [AS] alias
    def side(seg: String, which: String): (String, String) = {
      val t = seg.trim
      val close = if (t.startsWith("(")) ChLex.closeOf(t, 0) else -1
      require(close > 0, "PASTE JOIN: both sides must be parenthesized " +
        "subqueries with their own ORDER BY")
      val alias = t.substring(close).trim.replaceFirst("(?is)^AS\\s+", "")
      require(!alias.equalsIgnoreCase("AS"),
        s"PASTE JOIN: missing alias after AS on the $which side")
      require(alias.isEmpty || BareIdent.findFirstIn(alias).isDefined,
        s"PASTE JOIN: the $which side must be a single parenthesized subquery")
      val inner = t.substring(1, close - 1)
      val il = ChClauses(inner)
      val order = il.branches.flatMap(_(OrderBy)).lastOption.map(il.body)
        .getOrElse(throw new IllegalArgumentException(
          s"PASTE JOIN: the $which side needs its own top-level ORDER BY — " +
            "positional pairing over an unordered stream is " +
            "nondeterministic (the LIMIT BY determinism rule)"))
      val as = if (alias.nonEmpty) alias else s"__paste_${which.head}"
      (s"(SELECT *, row_number() OVER (ORDER BY $order) AS __paste_rn " +
        s"FROM ( $inner ) __paste_${which.head}i) AS $as", as)
    }
    val (l, la) = side(s.substring(from.body, at), "left")
    val (r, ra) = side(s.substring(joinEnd, from.end), "right")
    s.substring(0, from.start) + s"FROM $l JOIN $r ON $la.__paste_rn = " +
      s"$ra.__paste_rn" + (if (from.end < s.length) " " + s.substring(from.end) else "")
  }

  /** The first ON / USING keyword of a join whose operator ends at
    * `afterJoin`, inside the FROM clause `from`.
    */
  private def joinCond(lvl: ChClauses, from: Clause, afterJoin: Int): Option[Int] =
    (lvl.positions("ON") ++ lvl.positions("USING"))
      .filter(p => p > afterJoin && p < from.end).minOption

  private val PasteJoin = raw"(?is)^PASTE\s+JOIN$$".r

  // ---- star column transformers (* REPLACE / APPLY / COLUMNS) --------

  sealed trait StarOp
  /** `REPLACE (e1 AS c1, ...)` — substitute in place, position kept. */
  final case class StarReplace(items: Seq[(String, String)]) extends StarOp
  /** `APPLY (fn)` — every selected column wrapped in fn. */
  final case class StarApply(fn: String) extends StarOp

  /** A top-level select list of the form `* [EXCEPT (...)] <transformers>`
    * or `COLUMNS('re') <transformers>`: `core` is the statement with the
    * list reduced to what Spark parses natively (`*` / `* EXCEPT (...)`),
    * the transformers compose on the ANALYZED frame (REPLACE keeps
    * column position via withColumn; APPLY renames to `fn(col)` — the
    * server's naming). COLUMNS filters by RE2-style partial match first.
    */
  final case class StarTransformParts(
      core: String, ops: Seq[StarOp], columnsRe: Option[String]) extends Reshape

  /** Translate a ClickHouse scalar EXPRESSION fragment (no statement
    * structure) to a Spark SQL fragment.
    */
  def translateFragment(frag: String, tables: Seq[(String, String)]): String =
    translate("SELECT " + frag, tables).trim.stripPrefix("SELECT").trim

  def parseStarTransform(sql: String): Option[StarTransformParts] =
    reshape(sql).collect { case p: StarTransformParts => p }

  private def starTransform(top: ChClauses): Option[StarTransformParts] = {
    val sql = top.text
    val b = top.branches.head
    val sel = b(Select).getOrElse(return None)
    val from = b(From).getOrElse(return None)
    val list = sql.substring(sel.body, from.start).trim
    val isStarForm =
      raw"(?is)^\*\s+(EXCEPT|REPLACE|APPLY)\b.*".r.findFirstIn(list).isDefined
    val isColumnsForm = raw"(?is)^COLUMNS\s*\(.*".r.findFirstIn(list).isDefined
    if (!isStarForm && !isColumnsForm) return None
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"star transformer: $why (select list: '$list'); supported shapes " +
        "are `* [EXCEPT (cols)] {REPLACE (e AS c, ...) | APPLY (fn)}...` " +
        "and `COLUMNS('re') {APPLY (fn) | REPLACE (...)}...` at the top " +
        "level — restructure or run against a real server")
    val clash = b.clauses.map(_.kind).filter(k => (k eq GroupBy) || (k eq Having) ||
      (k eq OrderBy)).map(_.name) ++ (if (top.branches.size > 1) Seq("UNION") else Nil)
    clash.headOption.foreach(kw =>
      fail(s"$kw combined with a transformer is not modeled embedded (the " +
        "transformer composes on the analyzed result); wrap the transformed " +
        "SELECT in a subquery"))
    var p = 0
    var columnsRe: Option[String] = None
    val keep = new StringBuilder("*")
    def skipWs(): Unit = while (p < list.length && list.charAt(p).isWhitespace) p += 1
    def word(): String = {
      val s0 = p
      while (p < list.length && ChLex.isWordChar(list.charAt(p))) p += 1
      list.substring(s0, p)
    }
    if (isColumnsForm) {
      p = list.indexOf('(') + 1
      val (args, past) = parseArgs(list, p)
      val re = args match {
        case Seq(one) if one.length >= 2 && one.startsWith("'") && one.endsWith("'") =>
          one.substring(1, one.length - 1)
        case _ => fail("COLUMNS takes exactly one quoted regex literal")
      }
      columnsRe = Some(re)
      p = past
    } else {
      p = 1 // past '*'
      skipWs()
      if (list.regionMatches(true, p, "EXCEPT", 0, 6) &&
        (p + 6 >= list.length || !ChLex.isWordChar(list.charAt(p + 6)))) {
        p += 6; skipWs()
        if (p < list.length && list.charAt(p) == '(') {
          val (args, past) = parseArgs(list, p + 1)
          keep.append(s" EXCEPT (${args.mkString(", ")})")
          p = past
        } else {
          // the server accepts a single unparenthesized column; Spark's
          // native star-EXCEPT needs the parens — normalize
          val c = word()
          if (c.isEmpty) fail("EXCEPT without a column list")
          keep.append(s" EXCEPT ($c)")
        }
      }
    }
    val ops = Seq.newBuilder[StarOp]
    var done = false
    while (!done) {
      skipWs()
      if (p >= list.length) done = true
      else {
        val w = word()
        skipWs()
        if (p >= list.length || list.charAt(p) != '(')
          fail(s"expected a parenthesized transformer argument after '$w'")
        val (args, past) = parseArgs(list, p + 1)
        p = past
        w.toUpperCase match {
          case "REPLACE" =>
            ops += StarReplace(args.map { it =>
              val asAt = lastTopLevelAs(it)
              if (asAt < 0) fail(s"REPLACE item '$it' has no AS column")
              val name = it.substring(asAt + 2).trim
                .stripPrefix("`").stripSuffix("`")
              (it.substring(0, asAt).trim, name)
            })
          case "APPLY" =>
            args match {
              case Seq(fn) if BareIdent.findFirstIn(fn.trim).isDefined =>
                ops += StarApply(fn.trim)
              case _ => fail("APPLY takes exactly one bare function name")
            }
          case other => fail(s"unknown transformer '$other'")
        }
      }
    }
    val parts = ops.result()
    if (parts.isEmpty && columnsRe.isEmpty && keep.result() == "*") return None
    Some(StarTransformParts(
      sql.substring(0, sel.body) + " " + keep.result() + " " + sql.substring(from.start),
      parts, columnsRe))
  }

  // ---- scalar WITH aliases → inline substitution ---------------------

  /** Index of the LAST top-level ` AS ` keyword in `it` (CAST's AS and
    * lambda bodies sit inside parens), or -1.
    */
  private[client] def lastTopLevelAs(it: String): Int =
    ChClauses(it).positions("AS").lastOption.getOrElse(-1)

  private val BareIdent = raw"^[A-Za-z_][A-Za-z0-9_]*$$".r

  /** ClickHouse's scalar WITH form — `WITH <expr> AS <ident>, ...` (the
    * expression FIRST; `(SELECT ...)` scalar subqueries included) —
    * substitutes `(expr)` for every bare `ident` reference in the rest
    * of the statement, exactly the server's documented expansion.
    * Standard CTE items (`<ident> AS (<subquery>)`) pass through
    * untouched, and the two forms mix freely in one WITH list. Applied
    * at every nesting level. References are replaced word-boundary
    * aware, never after `.` (qualified columns), before `(` (calls), or
    * inside strings/backticks.
    */
  def rewriteScalarWith(s: String): String = {
    if (raw"(?i)\bWITH\b".r.findFirstIn(s).isEmpty) return s
    ChClauses.mapLevels(s)(rewriteScalarWithLevel)
  }

  private def rewriteScalarWithLevel(sql: String): String = {
    val b = ChClauses(sql).branches.head
    val w = b(With).getOrElse(return sql)
    val sel = b(Select).getOrElse(return sql).start
    val itemsTxt = sql.substring(w.body, sel)
    // split items on top-level commas
    val items = parseArgs(itemsTxt + ")", 0)._1
    var subs = Seq.empty[(String, String)]
    def applySubs(text: String): String = subs.foldLeft(text) {
      case (acc, (name, repl)) => replaceRefs(acc, name, repl)
    }
    val kept = items.flatMap { it =>
      val asAt = lastTopLevelAs(it)
      if (asAt < 0) Some(it)
      else {
        val lhs = it.substring(0, asAt).trim
        val rhs = it.substring(asAt + 2).trim
        val lhsBare = BareIdent.findFirstIn(lhs.stripPrefix("`").stripSuffix("`"))
          .isDefined && !lhs.contains("(")
        if (lhsBare && rhs.startsWith("(")) Some(it) // standard CTE
        else if (BareIdent.findFirstIn(rhs).isDefined) {
          // scalar alias: expr AS ident — earlier aliases expand inside
          // later definitions, matching the server's left-to-right rule
          subs :+= rhs -> s"(${applySubs(lhs)})"
          None
        } else Some(it)
      }
    }
    if (subs.isEmpty) return sql
    val rest = applySubs(sql.substring(sel))
    val head = sql.substring(0, w.start)
    if (kept.isEmpty) head + rest
    else head + "WITH " + kept.map(applySubs).mkString(", ") + " " + rest
  }

  /** Every bare `name` reference in `text` → `repl`: whole words
    * outside quotes, never after `.` (qualified columns) or before `(`
    * (calls).
    */
  private def replaceRefs(text: String, name: String, repl: String): String = {
    val out = new StringBuilder
    val lx = new ChLex(text)
    var copied = 0
    while (lx.next())
      if (lx.kind == ChLex.Word && lx.token == name &&
        !(lx.start > 0 && text.charAt(lx.start - 1) == '.') &&
        !(lx.end < text.length && text.charAt(lx.end) == '(')) {
        out.append(text.substring(copied, lx.start)).append(repl)
        copied = lx.end
      }
    out.append(text.substring(copied)).result()
  }

  // ---- ARRAY JOIN clause → LATERAL VIEW chain ------------------------

  private val ArrayJoinOp = raw"(?is)^(?:(LEFT|INNER)\s+)?ARRAY\s+JOIN$$".r

  /** `FROM ... [LEFT] ARRAY JOIN e1 AS n1 [, e2 AS n2 ...]` → a Spark
    * LATERAL VIEW chain, rewritten in place at EVERY query level (the
    * clause sits exactly where LATERAL VIEW does). The items run to the
    * next join operator or the end of the FROM clause. The first item
    * posexplodes and its position column zips the rest — server
    * multi-ARRAY JOIN is POSITIONAL, not a cross product (SELECT doc
    * §array-join); each further item picks `element_at(ek, pos + 1)`.
    * LEFT ARRAY JOIN maps to LATERAL VIEW OUTER (empty arrays keep the
    * row with NULL elements). Honored-or-rejected: every item needs an
    * `AS alias` (a bare-column ARRAY JOIN REPLACES that column in the
    * server's output — not expressible as a lateral view without schema
    * surgery), and the owning SELECT must not be a star select (a Spark
    * star would include the helper position column a server never
    * shows). Unequal array sizes in the multi-item form surface as an
    * element_at index error under ANSI — a server errors there too.
    */
  def rewriteArrayJoin(sql: String): String = {
    if (raw"(?i)\bARRAY\b".r.findFirstIn(sql).isEmpty) return sql
    var k = 0 // helper names stay unique across the statement
    def level(s: String): String = {
      val lvl = ChClauses(s)
      joinOps(lvl, ArrayJoinOp).headOption match {
        case None => s
        case Some((b, start, itemsStart, op)) =>
          // the owning SELECT must not be a star select
          val from = b(From).get
          b(Select).foreach { sel =>
            if (hasTopLevelStar(s.substring(sel.body, from.start)))
              throw new IllegalArgumentException(
                "ARRAY JOIN with a `*` select is not supported by the embedded " +
                  "rewrite (a Spark star would include the helper position " +
                  "column a server never shows); list columns explicitly")
          }
          val outer = Option(ArrayJoinOp.findFirstMatchIn(op).get.group(1))
            .exists(_.equalsIgnoreCase("LEFT"))
          val itemsEnd = b.joins.map(_._1).find(_ > start).getOrElse(from.end)
          val items = commaSpans(s, itemsStart, itemsEnd)
            .map { case (a, z) => s.substring(a, z).trim }.filter(_.nonEmpty)
          require(items.nonEmpty,
            s"ARRAY JOIN: empty item list near '${s.substring(itemsStart, itemsEnd)}'")
          val parsed = items.map { it =>
            // the alias is the LAST top-level ` AS ` binding (CAST(x AS T)
            // and lambda bodies sit inside parens)
            val asAt = lastTopLevelAs(it)
            if (asAt < 0)
              throw new IllegalArgumentException(
                s"ARRAY JOIN item '$it' has no AS alias: an unaliased ARRAY " +
                  "JOIN replaces the array column in place, which the embedded " +
                  "rewrite cannot express — write `ARRAY JOIN <expr> AS <name>` " +
                  "or run against a real server")
            val expr = it.substring(0, asAt).trim
            val alias = it.substring(asAt + 2).trim
            require(expr.nonEmpty && alias.nonEmpty &&
              raw"^(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$$".r.findFirstIn(alias).isDefined,
              s"ARRAY JOIN item '$it': malformed expression or alias")
            (expr, alias)
          }
          val lead = if (outer) "LATERAL VIEW OUTER " else "LATERAL VIEW "
          val pos = s"__aj_pos_$k"
          val repl = new StringBuilder
          repl.append(s"${lead}posexplode(${parsed.head._1}) __aj_$k ")
            .append(s"AS $pos, ${parsed.head._2}")
          parsed.zipWithIndex.drop(1).foreach { case ((e, n), idx) =>
            // element_at rides the FIRST item's position: zip semantics. The
            // 1-element array keeps this a generator (never empty, so plain
            // LATERAL VIEW is right even under OUTER).
            repl.append(s" LATERAL VIEW explode(array(element_at($e, $pos + 1))) ")
              .append(s"__aj_${k}_$idx AS $n")
          }
          k += 1
          val rest = s.substring(itemsEnd).trim
          level(s.substring(0, start).stripSuffix(" ") + " " + repl.result() +
            (if (rest.isEmpty) "" else " " + rest))
      }
    }
    ChClauses.mapLevels(sql)(level)
  }

  /** Rewrite the (single) ASOF join of one query level; the level walk
    * in [[rewriteAsof]] reaches the nested ones.
    */
  private def rewriteAsofLevel(sql: String): String = {
    val top = ChClauses(sql)
    val asofs = top.positions("ASOF")
    if (asofs.isEmpty) return sql
    require(asofs.length == 1,
      "ASOF JOIN: multiple ASOF joins at one SELECT level are not supported " +
        "by the embedded rewrite; nest them in subqueries")
    val at = asofs.head
    val branch = top.branchAt(at)
    val select = branch(Select).getOrElse(
      throw new IllegalArgumentException("ASOF JOIN outside a SELECT"))
    val from = branch(From).filter(_.start < at).getOrElse(
      throw new IllegalArgumentException("ASOF JOIN without a FROM clause"))
    require(top.positions("JOIN").length == 1,
      "ASOF JOIN mixed with other joins at one SELECT level is not " +
        "supported by the embedded rewrite; nest them in subqueries")
    val prefix = sql.substring(0, select.start)
    val selRaw = sql.substring(select.body, from.start).trim
    require(!hasTopLevelStar(selRaw),
      "ASOF JOIN: `*` select items are not supported by the embedded " +
        "rewrite (the internal row-pick columns would leak); list columns " +
        "explicitly")
    val lSeg = sql.substring(from.body, at).trim
    val jm = raw"(?is)^ASOF\s+(LEFT\s+|INNER\s+)?JOIN\b".r
      .findFirstMatchIn(sql.substring(at)).getOrElse(
        throw new IllegalArgumentException(
          s"malformed ASOF join near: ${sql.substring(at).take(60)}"))
    val isLeft = jm.group(1) != null && jm.group(1).trim.equalsIgnoreCase("LEFT")
    val joinEnd = at + jm.end
    // USING form: `USING (k1, ..., kn, asofCol)` — the last column is the
    // asof column with the server's pinned `left >= right` (backward
    // inclusive) match; handled in its own branch because the flattening
    // must EXCEPT the right side's same-named columns
    val condPos = joinCond(top, from, joinEnd)
    if (condPos.exists(sql.regionMatches(true, _, "USING", 0, 5)))
      return rewriteAsofUsing(
        sql, prefix, selRaw, lSeg, isLeft, joinEnd, condPos.get)
    val onPos = condPos.getOrElse(
      throw new IllegalArgumentException(
        "ASOF JOIN requires an ON clause (or USING (keys..., asofColumn))"))
    val rSeg = sql.substring(joinEnd, onPos).trim
    val onExpr = sql.substring(onPos + 2, from.end).trim
    val tail = sql.substring(from.end)

    val (lAlias, _) = termAlias(lSeg)
    val (rAliasOpt, _) = termAlias(rSeg)
    val rAlias = rAliasOpt.getOrElse("__asof_r")
    val rTermFull = if (rAliasOpt.isDefined) rSeg else s"$rSeg AS __asof_r"

    // the one inequality decides the pick order
    val conjs = splitTopLevelAnd(onExpr)
    val ineqs = conjs.flatMap(c => ineqOf(c).map(c -> _))
    require(ineqs.length == 1,
      s"ASOF JOIN ON must carry exactly one inequality conjunct, found " +
        s"${ineqs.length} in: $onExpr")
    val (_, (a, op, b)) = ineqs.head
    def sideOf(x: String): Option[Boolean] = { // Some(true)=right side
      val qual = raw"(?s)^\s*([A-Za-z_]\w*)\s*\.".r.findFirstMatchIn(x).map(_.group(1))
      qual match {
        case Some(q) if q.equalsIgnoreCase(rAlias) => Some(true)
        case Some(q) if lAlias.exists(q.equalsIgnoreCase) => Some(false)
        case Some(_) => None
        case None =>
          val ident = x.trim.stripPrefix("`").stripSuffix("`")
          if (!ident.matches(raw"\w+")) None
          else {
            val re = raw"(?i)\bAS\s+`?${java.util.regex.Pattern.quote(ident)}`?(?![\w])".r
            val inR = re.findFirstIn(rSeg).isDefined
            val inL = re.findFirstIn(lSeg).isDefined
            if (inR && !inL) Some(true)
            else if (inL && !inR) Some(false)
            else None
          }
      }
    }
    val (rTime, dir) = (sideOf(a), sideOf(b)) match {
      case (Some(true), Some(false)) => (a.trim, op)
      case (Some(false), Some(true)) => (b.trim, flipOp(op))
      case _ => throw new IllegalArgumentException(
        s"ASOF JOIN: cannot resolve inequality sides in `$a $op $b` " +
          "(qualify operands with the join aliases)")
    }
    val ord = if (dir == "<=" || dir == "<") "DESC" else "ASC"

    def stripQuals(t: String): String = {
      var s0 = replaceQualifier(t, rAlias, "")
      lAlias.foreach(la => s0 = replaceQualifier(s0, la, ""))
      s0
    }
    val onInner = lAlias.map(la =>
      replaceQualifier(onExpr, la, "__asof_l.")).getOrElse(onExpr)
    val sel = stripQuals(selRaw)
    val rTimeOuter = stripQuals(rTime)

    // tail: strip join_use_nulls=1 SETTINGS (our native semantics), merge
    // a WHERE into the rn filter, keep other clauses outside
    val (whereExpr, rest) = splitAsofTail(tail)
    val inner =
      s"SELECT __asof_l.*, $rAlias.*, row_number() OVER (PARTITION BY " +
        s"__asof_l.__asof_lid ORDER BY $rTime $ord) AS __asof_rn " +
        s"FROM (SELECT *, monotonically_increasing_id() AS __asof_lid " +
        s"FROM $lSeg) AS __asof_l LEFT JOIN $rTermFull ON $onInner"
    val innerCond = if (isLeft) "" else s" AND $rTimeOuter IS NOT NULL"
    val whereOut = s" WHERE __asof_rn = 1$innerCond" +
      whereExpr.map(w => s" AND (${stripQuals(w)})").getOrElse("")
    s"${prefix}SELECT $sel FROM ($inner) AS __asof$whereOut" +
      (if (rest.trim.isEmpty) "" else " " + stripQuals(rest.trim))
  }

  /** `L ASOF [LEFT|INNER] JOIN R USING (k1, ..., kn, t)` — the server's
    * USING spelling: equality on every listed column except the LAST,
    * which is the asof column matched as `left.t >= right.t` (backward
    * inclusive — the USING form carries no direction syntax). The
    * flatten EXCEPTs the right side's same-named columns (Spark
    * star-EXCEPT), so unqualified references resolve to the LEFT copy —
    * the merged-column semantics USING promises; the right asof value
    * survives under a synthetic alias for the INNER variant's match
    * test. Any OTHER column name shared between the sides still hits
    * the documented shared-name limitation (loud analysis error).
    */
  private def rewriteAsofUsing(
      sql: String, prefix: String, selRaw: String, lSeg: String,
      isLeft: Boolean, joinEnd: Int, usingPos: Int): String = {
    val rSeg = sql.substring(joinEnd, usingPos).trim
    var p = usingPos + 5
    while (p < sql.length && sql.charAt(p).isWhitespace) p += 1
    require(p < sql.length && sql.charAt(p) == '(',
      "ASOF JOIN USING requires a parenthesized column list")
    val (cols0, afterList) = parseArgs(sql, p + 1)
    val cols = cols0.map(_.trim).filter(_.nonEmpty)
    require(cols.length >= 2,
      "ASOF JOIN USING needs at least one key column plus the asof " +
        "column (the LAST listed column)")
    require(cols.forall(c => c.matches(raw"`[^`]+`|\w+")),
      s"ASOF JOIN USING accepts plain column names only: ${cols.mkString(", ")}")
    val tail = sql.substring(afterList)
    val (lAlias, _) = termAlias(lSeg)
    val (rAliasOpt, _) = termAlias(rSeg)
    val rAlias = rAliasOpt.getOrElse("__asof_r")
    val rTermFull = if (rAliasOpt.isDefined) rSeg else s"$rSeg AS __asof_r"
    val keys = cols.init
    val tCol = cols.last
    val onInner = (keys.map(k => s"__asof_l.$k = $rAlias.$k") :+
      s"$rAlias.$tCol <= __asof_l.$tCol").mkString(" AND ")
    def stripQuals(t: String): String = {
      var s0 = replaceQualifier(t, rAlias, "")
      lAlias.foreach(la => s0 = replaceQualifier(s0, la, ""))
      s0
    }
    val sel = stripQuals(selRaw)
    val (whereExpr, rest) = splitAsofTail(tail)
    val inner =
      s"SELECT __asof_l.*, $rAlias.* EXCEPT (${cols.mkString(", ")}), " +
        s"$rAlias.$tCol AS __asof_rt, row_number() OVER (PARTITION BY " +
        s"__asof_l.__asof_lid ORDER BY $rAlias.$tCol DESC) AS __asof_rn " +
        s"FROM (SELECT *, monotonically_increasing_id() AS __asof_lid " +
        s"FROM $lSeg) AS __asof_l LEFT JOIN $rTermFull ON $onInner"
    val innerCond = if (isLeft) "" else " AND __asof_rt IS NOT NULL"
    val whereOut = s" WHERE __asof_rn = 1$innerCond" +
      whereExpr.map(w => s" AND (${stripQuals(w)})").getOrElse("")
    s"${prefix}SELECT $sel FROM ($inner) AS __asof$whereOut" +
      (if (rest.trim.isEmpty) "" else " " + stripQuals(rest.trim))
  }

  /** (Some(whereExpr), rest) for a clause tail following the ON expr.
    * Rejects SETTINGS other than `join_use_nulls = 1` (which is dropped:
    * NULL padding is the rewrite's native behavior; `= 0` type-default
    * padding cannot be honored).
    */
  private def splitAsofTail(tail: String): (Option[String], String) = {
    val tl = ChClauses(tail)
    val b = tl.branches.head
    val settings = b(Settings)
    settings.foreach { st =>
      val items = settingItems(tl, st)
      val kept = items.filterNot(_ == ("join_use_nulls" -> "1"))
      require(!items.contains("join_use_nulls" -> "0"),
        "ASOF JOIN with join_use_nulls = 0 (type-default padding) is not " +
          "supported by the embedded engine; use NULL padding")
      require(kept.isEmpty,
        s"ASOF JOIN: unsupported SETTINGS on the embedded engine: " +
          kept.map { case (n, v) => s"$n = $v" }.mkString(", "))
    }
    // the tail from `at`, without the SETTINGS clause
    def from(at: Int): String = settings match {
      case Some(st) => tail.substring(at, st.start) + tail.substring(st.end)
      case None => tail.substring(at)
    }
    b(Where).filter(w => tail.substring(0, w.start).trim.isEmpty) match {
      case Some(w) => (Some(tl.body(w)), from(w.end).trim)
      case None => (None, from(0).trim)
    }
  }

  /** (alias, isSubquery) of a FROM term: `(sub) AS x` / `(sub) x` /
    * `tbl AS x` / `tbl x` / `(sub)` / `tbl`.
    */
  private def termAlias(seg: String): (Option[String], Boolean) = {
    val s = seg.trim
    if (s.endsWith(")")) (None, true)
    else {
      val am = raw"(?is)^(.*\))\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?$$".r
      am.findFirstMatchIn(s) match {
        case Some(g) => (Some(g.group(2)), true)
        case None =>
          val parts = s.split(raw"\s+")
          if (parts.length == 1) (None, false)
          else (Some(parts.last.stripPrefix("`").stripSuffix("`")), false)
      }
    }
  }

  /** Split a boolean expression on top-level AND (quote/paren-aware). */
  private def splitTopLevelAnd(e: String): Seq[String] = {
    val ands = ChClauses(e).positions("AND")
    val bounds = (Seq(-3) ++ ands) :+ e.length
    bounds.sliding(2).map { case Seq(a, b) =>
      e.substring(a + 3, b).trim
    }.toSeq.filter(_.nonEmpty)
  }

  /** Some((lhs, op, rhs)) when the conjunct is a top-level inequality. */
  private def ineqOf(c: String): Option[(String, String, String)] = {
    val lx = new ChLex(c)
    while (lx.next())
      if (lx.depth == 0 && (lx.isPunct('<') || lx.isPunct('>'))) {
        val nxt = if (lx.end < c.length) c.charAt(lx.end) else ' '
        if (lx.char == '<' && nxt == '>') lx.next() // not-equals, skip
        else {
          val op = if (nxt == '=') c.substring(lx.start, lx.start + 2) else lx.token
          return Some((c.substring(0, lx.start).trim, op,
            c.substring(lx.start + op.length).trim))
        }
      }
    None
  }

  private def flipOp(op: String): String = op match {
    case "<=" => ">="
    case ">=" => "<="
    case "<" => ">"
    case ">" => "<"
  }

  /** Quote-aware `alias.` → `repl` (repl carries its own dot or empty). */
  private def replaceQualifier(text: String, alias: String, repl: String): String = {
    val out = new StringBuilder
    val lx = new ChLex(text)
    var copied = 0
    while (lx.next())
      if (lx.isWord(alias) && lx.end < text.length && text.charAt(lx.end) == '.' &&
        !(lx.start > 0 && text.charAt(lx.start - 1) == '.')) {
        out.append(text.substring(copied, lx.start)).append(repl)
        copied = lx.end + 1
        lx.seek(copied)
      }
    out.append(text.substring(copied)).result()
  }

  /** True when the select list carries a bare or qualified `*` at depth 0. */
  private def hasTopLevelStar(sel: String): Boolean = {
    val lx = new ChLex(sel)
    while (lx.next())
      if (lx.depth == 0 && lx.isPunct('*')) {
        // `*` as multiplication has operands on both sides; a select
        // star is preceded by start, comma, or a dot
        var j = lx.start - 1
        while (j >= 0 && sel.charAt(j).isWhitespace) j -= 1
        if (j < 0 || sel.charAt(j) == ',' || sel.charAt(j) == '.') return true
      }
    false
  }

  /** `s` with every segment OUTSIDE single-quoted string literals mapped
    * through `f` (literals — including their quotes and escapes — pass
    * verbatim). Backticked identifiers are NOT literals and stay inside
    * the mapped segments.
    */
  private[client] def mapOutsideStrings(s: String)(f: String => String): String = {
    val out = new StringBuilder
    val lx = new ChLex(s)
    var seg = 0
    while (lx.next())
      if (lx.kind == ChLex.Str) {
        out.append(f(s.substring(seg, lx.start))).append(lx.token)
        seg = lx.end
      }
    out.append(f(s.substring(seg))).result()
  }

  // ---- WITH TOTALS → GROUPING SETS rewrite ----------------------------
  //
  // `GROUP BY <keys> WITH TOTALS` adds one all-rows aggregate row. A real
  // server emits the totals as an out-of-band block in most formats; any
  // client that flattens them inline must mark the row somehow, and the
  // SQL-standard marking is NULL group keys — exactly what
  // `GROUP BY GROUPING SETS ((<keys>), ())` produces, and what the
  // DuckDB oracle's GROUPING SETS emits, so embedded results stay
  // hash-comparable. (A NULL-valued key group is then indistinguishable
  // from the totals row — the standard ROLLUP ambiguity, same contract.)
  //
  // WITH TOTALS + HAVING: the server's totals_mode setting decides which
  // rows feed the totals. The embedded engine PINS ONE HONEST MODE —
  // `after_having_exclusive` (totals aggregate ONLY rows of groups that
  // survive HAVING) — implemented by restricting base rows to the
  // surviving key groups (a LEFT SEMI JOIN on null-safe `<=>` key
  // equality, so NULL-keyed surviving groups keep their rows — an IN
  // subquery would silently drop them) and dropping the HAVING (every
  // restricted per-key group satisfies it by construction; the server
  // never filters the totals row itself).
  // [[graft.session.ClickHouseSession.chSql]] pins the same mode on
  // statements shipped to real servers, so the contract holds across
  // transports; `SETTINGS totals_mode = 'after_having_exclusive'` is
  // accepted (it names the implemented behavior), every other
  // totals_mode value rejects loudly.

  /** The WITH TOTALS, QUALIFY and SETTINGS rewrites, in that order, at
    * every query level through the one level walk.
    */
  private def rewriteLevels(in: String): String =
    if (raw"(?i)\b(TOTALS|QUALIFY|SETTINGS)\b".r.findFirstIn(in).isEmpty) in
    else ChClauses.mapLevels(in)(s =>
      rewriteSettingsLevel(rewriteQualifyLevel(rewriteTotalsLevel(s))))

  private def rewriteTotalsLevel(s: String): String = {
    val lvl = ChClauses(s)
    // the modifier is the `WITH TOTALS` pair (not a leading `WITH totals
    // AS ...` clause); a lone TOTALS is a name (`SELECT totals`) unless it
    // follows a primary, where only a modifier that lost its WITH can stand
    def withAt(p: Int): Int = {
      val m = raw"(?i)\bWITH\s+$$".r.findFirstMatchIn(s.substring(0, p))
      m.map(_.start).filterNot(w => lvl.branchAt(p)(With).exists(_.start == w))
        .getOrElse(-1)
    }
    val tp = lvl.positions("TOTALS").find(p => withAt(p) >= 0 || lvl.followsPrimary(p))
      .getOrElse(return s)
    val b = lvl.branchAt(tp)
    val wp = withAt(tp)
    require(wp >= 0,
      s"TOTALS without WITH near: ${s.substring(math.max(0, tp - 30), tp + 6)}")
    val g = b.clauseAt(tp).filter(_.kind eq GroupBy).getOrElse(
      throw new IllegalArgumentException(
        if (b.clauseAt(tp).exists(_.kind eq Having))
          "WITH TOTALS: HAVING must follow the GROUP BY ... WITH TOTALS " +
            "clause (ClickHouse clause order)"
        else "WITH TOTALS requires GROUP BY"))
    val keys = s.substring(g.body, wp).trim
    require(keys.nonEmpty, "WITH TOTALS: empty GROUP BY key list")
    val sets = s"GROUP BY GROUPING SETS (($keys), ())"
    b(Having) match {
      case None =>
        rewriteTotalsLevel(s.substring(0, g.start) + sets + s.substring(tp + 6))
      case Some(hv) =>
        // pinned totals_mode = 'after_having_exclusive' (see header)
        val from = b(From).getOrElse(throw new IllegalArgumentException(
          "WITH TOTALS + HAVING requires a FROM clause"))
        val cond = lvl.body(hv)
        require(cond.nonEmpty, "WITH TOTALS: empty HAVING condition")
        // FROM ... [WHERE ...] verbatim — reused for the surviving-group
        // probe (same source text, so the probe sees the same rows)
        val srcSeg = s.substring(from.start, g.start).trim
        val keyList = parseArgs("(" + keys + ")", 1)._1.map(_.trim)
        val probe = "SELECT " + keyList.zipWithIndex
          .map { case (k, i) => s"$k AS __totals_k$i" }.mkString(", ") +
          s" $srcSeg GROUP BY $keys HAVING $cond"
        // null-safe key equality: a NULL-keyed group surviving HAVING
        // must keep its rows (IN-subquery three-valued logic would drop
        // them). The semi join inserts between the FROM clause and the
        // clause after it.
        val eqs = keyList.zipWithIndex.map { case (k, i) =>
          s"($k) <=> __totals_keep.__totals_k$i" }.mkString(" AND ")
        val semi = s" LEFT SEMI JOIN ($probe) AS __totals_keep ON $eqs"
        val joinAt = from.end
        val headBase = s.substring(0, joinAt).replaceAll(raw"\s+$$", "")
        val whereSeg = s.substring(joinAt, g.start).trim // "" or "WHERE ..."
        val head = headBase + semi +
          (if (whereSeg.isEmpty) " " else s" $whereSeg ")
        val tailStr =
          (s.substring(tp + 6, hv.start).trim + " " + s.substring(hv.end).trim).trim
        rewriteTotalsLevel(head + sets +
          (if (tailStr.isEmpty) "" else " " + tailStr))
    }
  }

  // ---- QUALIFY → wrapped WHERE rewrite ---------------------------------
  //
  // ClickHouse `QUALIFY <cond>` filters rows AFTER window functions
  // evaluate (the window analog of HAVING). Spark has no QUALIFY, but the
  // equivalent is exact: wrap the statement-so-far in a subquery and
  // filter — the window results are ordinary columns there, and the
  // trailing ORDER BY / LIMIT stay OUTSIDE the wrap so they apply after
  // the filter (the server's clause order). Works at any depth via the
  // level walk shared with the TOTALS rewrite.
  //
  // Honored-or-rejected: the condition must reference window results BY
  // SELECT ALIAS (an inline `OVER (...)` inside QUALIFY would need
  // injecting hidden columns into the select list — rejected loudly with
  // the alias workaround); one QUALIFY per SELECT level.

  private def rewriteQualifyLevel(s: String): String = {
    val lvl = ChClauses(s)
    // one QUALIFY per SELECT — UNION branches share this level, so
    // rewrite the FIRST and recurse; the wrap is BRANCH-local and never
    // touches the other branches
    val (b, q) = lvl.branches.iterator.flatMap(b => b(Qualify).map(b -> _))
      .nextOption().getOrElse(return s)
    val cond = lvl.body(q)
    require(cond.nonEmpty, "QUALIFY: empty condition")
    val prefix = s.substring(0, b.start)
    val core0 = s.substring(b.start, q.start).trim
    val tail = s.substring(q.end).trim
    // inline `fn(...) OVER (...)` in the condition: hoist each distinct
    // window expression into the core's select list under a hidden
    // alias, reference the alias, and star-EXCEPT the hidden columns in
    // the wrap (both dialects parse `* EXCEPT (...)`)
    val (core, cond2, hidden) = hoistQualifyWindows(core0, cond)
    val sel =
      if (hidden.isEmpty) "*"
      else s"* EXCEPT (${hidden.mkString(", ")})"
    rewriteQualifyLevel(
      prefix + s"SELECT $sel FROM ($core) AS __qualify WHERE $cond2" +
        (if (tail.isEmpty) "" else " " + tail))
  }

  /** Hoist every inline `fn(args) OVER (spec)` / `fn(args) OVER name` in
    * a QUALIFY condition into the core's select list as hidden `__q_i`
    * aliases (window results are only addressable as columns of the
    * wrapped subquery). Named-window references keep working because the
    * hidden item lands in the same SELECT whose WINDOW clause defines
    * the name. DISTINCT cores reject — injecting hidden columns would
    * change the dedup key.
    */
  private def hoistQualifyWindows(
      core: String, cond: String): (String, String, Seq[String]) = {
    if (wordPositions(cond, "OVER").isEmpty) return (core, cond, Seq.empty)
    require(!raw"(?is)^SELECT\s+DISTINCT\b".r.findFirstIn(core).isDefined,
      "QUALIFY with an inline window over a SELECT DISTINCT core is not " +
        "supported by the embedded rewrite (hidden hoisted columns would " +
        "change the dedup key); alias the window function in the SELECT " +
        "list and reference the alias in QUALIFY")
    val fromP = ChClauses(core).branches.head(From).map(_.start).getOrElse(
      throw new IllegalArgumentException(
        "QUALIFY with an inline window needs a FROM clause to hoist into"))
    var c = cond
    val exprs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var guard = 0
    while (wordPositions(c, "OVER").nonEmpty && guard < 32) {
      guard += 1
      val at = wordPositions(c, "OVER").head
      // backward: ')' closing the function's argument list, then the name
      var j = at - 1
      while (j >= 0 && c.charAt(j).isWhitespace) j -= 1
      require(j >= 0 && c.charAt(j) == ')',
        s"QUALIFY: cannot parse the window call before OVER in '$cond'")
      val k = ChLex.openOf(c, j)
      require(k > 0, s"QUALIFY: unbalanced window call in '$cond'")
      var f = k - 1
      while (f >= 0 && (c.charAt(f).isLetterOrDigit || c.charAt(f) == '_')) f -= 1
      require(f < k - 1,
        s"QUALIFY: cannot parse the window function name in '$cond'")
      val start = f + 1
      // forward: `(spec)` group or a bare window name
      var p = at + 4
      while (p < c.length && c.charAt(p).isWhitespace) p += 1
      val end =
        if (p < c.length && c.charAt(p) == '(') {
          val q = ChLex.closeOf(c, p)
          require(q > 0, s"QUALIFY: unbalanced OVER spec in '$cond'")
          q
        } else {
          var q = p
          while (q < c.length && (c.charAt(q).isLetterOrDigit || c.charAt(q) == '_')) q += 1
          require(q > p, s"QUALIFY: OVER needs a (spec) or window name in '$cond'")
          q
        }
      val winExpr = c.substring(start, end)
      val alias = exprs.getOrElseUpdate(winExpr, s"__q_${exprs.size}")
      c = c.substring(0, start) + alias + c.substring(end)
    }
    require(guard < 32, s"QUALIFY: too many inline windows in '$cond'")
    val injected = exprs.map { case (e, a) => s"$e AS $a" }.mkString(", ")
    val core2 = core.substring(0, fromP).replaceAll(raw"\s+$$", "") +
      s", $injected " + core.substring(fromP)
    (core2, c, exprs.values.toSeq)
  }

  // ---- SETTINGS clause handling (embedded) ----------------------------
  //
  // A real server accepts `SETTINGS name = value` on any SELECT. The
  // embedded engine honors-or-rejects: settings that only tune
  // PERFORMANCE or RESOURCE use (threads, block sizes, memory / spill
  // thresholds, caches, read order) are identities on the visible result
  // and are dropped; anything else — including result-shaping settings
  // like join_use_nulls, totals_mode, group_by_use_nulls, limits that
  // cut result rows — REJECTS loudly by name rather than silently
  // changing semantics. (The ASOF rewrite consumes its own
  // join_use_nulls = 1 before this runs.)

  private val IdentitySettings: Set[String] = Set(
    "max_threads", "max_block_size", "max_insert_block_size",
    "max_memory_usage", "preferred_block_size_bytes",
    "use_uncompressed_cache", "optimize_read_in_order",
    "max_bytes_before_external_group_by", "max_bytes_before_external_sort",
    "max_execution_time", "priority", "network_compression_method")

  private def rewriteSettingsLevel(s: String): String = {
    val lvl = ChClauses(s)
    // UNION branches carry their own clause; cut from the last one back
    lvl.branches.flatMap(_(Settings)).foldRight(s) { (st, acc) =>
      val offenders = settingItems(lvl, st).collect {
        case (name, value0) if !IdentitySettings.contains(name) &&
          // totals_mode: 'after_having_exclusive' IS the implemented
          // embedded behavior (the pinned WITH TOTALS + HAVING mode) —
          // accepted and dropped; any other mode would silently change
          // totals semantics
          !(name == "totals_mode" && value0.stripPrefix("'").stripSuffix("'")
            .trim.toLowerCase == "after_having_exclusive") => name
      }
      require(offenders.isEmpty,
        s"SETTINGS not supported by the embedded engine: " +
          s"${offenders.mkString(", ")} — only performance/resource " +
          "settings (" + IdentitySettings.toSeq.sorted.take(4).mkString(", ") +
          ", ...) are accepted (and dropped as identities); result-shaping " +
          "settings would silently change semantics")
      acc.substring(0, st.start).stripSuffix(" ").stripSuffix("\n") + " " +
        acc.substring(st.end)
    }
  }

  private val GlobalFollowers = Seq(
    "IN", "NOT", "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
    "ANY", "ALL")

  /** Strip `GLOBAL` distribution hints (identity on a single execution
    * domain) quote-aware at ANY paren depth: `GLOBAL IN`, `GLOBAL NOT
    * IN`, `GLOBAL <join kw>`. A raw regex would rewrite string literals
    * containing the word GLOBAL (round-11 bug, advisor-flagged).
    */
  private def stripGlobal(in: String): String = {
    val out = new StringBuilder
    val lx = new ChLex(in)
    var copied = 0
    while (lx.next())
      if (lx.isWord("GLOBAL")) {
        val f = ChLex.after(in, lx.end)
        if (GlobalFollowers.exists(f.isWord)) { // drop GLOBAL + ws
          out.append(in.substring(copied, lx.start))
          copied = f.start
        }
      }
    out.append(in.substring(copied)).result()
  }

  /** Fold every `PREWHERE p` into the WHERE clause, at every query level
    * (a top-level reshape such as LIMIT BY nests the statement):
    * `PREWHERE p WHERE w` → `WHERE (p) AND (w)`, bare `PREWHERE p` →
    * `WHERE p`; UNION branches each get their own fold.
    */
  private def foldPrewhere(in: String): String =
    if (raw"(?i)\bPREWHERE\b".r.findFirstIn(in).isEmpty) in
    else ChClauses.mapLevels(in) { s =>
      val lvl = ChClauses(s)
      lvl.branches.foldRight(s) { (b, acc) =>
        b(Prewhere).fold(acc) { pw =>
          val expr = lvl.body(pw)
          val (folded, end) = b(Where) match {
            case Some(w) => (s"WHERE ($expr) AND (${lvl.body(w)})", w.end)
            case None => (s"WHERE $expr", pw.end)
          }
          acc.substring(0, pw.start) + folded +
            (if (end < acc.length) " " + acc.substring(end) else "")
        }
      }
    }

  /** A top-level statement shape the embedded engine runs as a rewritten
    * `statement` plus a step on the analyzed frame (dropping a helper
    * column, composing fill rows or star transformers).
    */
  sealed trait Reshape {
    def core: String
    def statement: String = core
  }

  /** The top-level reshape `sql` needs, if any: LIMIT BY (DISTINCT ON is
    * its sugar), then LIMIT WITH TIES, then WITH FILL, then star
    * transformers — decided from one clause split. LIMIT BY and WITH
    * TIES in a nested query level have no rewrite and reject loudly (a
    * server handles them, so silence would be a lie).
    */
  def reshape(sql: String): Option[Reshape] = {
    val levels = ChClauses.levels(rewriteDistinctOn(sql)).toSeq
    val top = levels.head
    for ((what, has) <- Seq[(String, ChClauses => Boolean)](
      "LIMIT BY" -> (_.branches.exists(_.has(LimitBy))),
      "LIMIT ... WITH TIES" -> (l => l.branches.exists(withTiesIn(l, _)))))
      if (!has(top) && levels.tail.exists(has)) throw nestedOnly(what)
    limitBy(top).orElse(withTies(top)).orElse(withFill(top))
      .orElse(starTransform(top))
  }

  private def withTiesIn(l: ChClauses, b: Branch): Boolean =
    b(Limit).exists(l.seek(_, "WITH", "TIES") >= 0)

  /** The branch of a top-level reshape clause: the only branch, since a
    * trailing ORDER BY / LIMIT binds to the LAST branch on a server,
    * which a whole-statement rewrite cannot express.
    */
  private def soleBranch(top: ChClauses, what: String): Branch = {
    require(top.branches.size == 1,
      s"$what over a top-level UNION is not supported by the embedded " +
        "rewrite; wrap each branch in a subquery")
    top.branches.head
  }

  /** `top` up to `cut`, with its SETTINGS clause kept (a trailing
    * FORMAT names a wire rendering and drops).
    */
  private def coreBefore(top: ChClauses, b: Branch, cut: Int): String = {
    require(!b.has(Offset), "an OFFSET clause after LIMIT BY / LIMIT WITH " +
      "TIES is not supported by the embedded rewrite")
    (top.text.substring(0, cut).trim +: b(Settings).map(c =>
      top.text.substring(c.start, c.end).trim).toSeq).mkString(" ")
  }

  /** A parsed top-level `LIMIT n WITH TIES`: core is the statement with
    * the ORDER BY and the LIMIT clause removed; orderBy defines the tie
    * groups (required — WITH TIES without an order is meaningless and
    * the server errors too).
    */
  final case class WithTiesParts(core: String, orderBy: String, n: Long)
      extends Reshape {
    override def statement: String =
      s"SELECT * FROM (SELECT *, rank() OVER (ORDER BY $orderBy) " +
        s"AS __wt_rk FROM ($core) AS __wt_in) AS __wt " +
        s"WHERE __wt_rk <= $n ORDER BY $orderBy"
  }

  private val WithTiesHead = raw"(?is)^LIMIT\s+(\d+)\s+WITH\s+TIES\s*;?\s*$$".r

  /** Some(parts) when `sql` ends in a top-level `LIMIT n WITH TIES`
    * (server semantics: keep every row tying the last in-limit row on
    * the ORDER BY key).
    */
  def parseWithTies(sql: String): Option[WithTiesParts] =
    reshape(sql).collect { case p: WithTiesParts => p }

  private def withTies(top: ChClauses): Option[WithTiesParts] = {
    if (!top.branches.exists(withTiesIn(top, _))) return None
    val b = soleBranch(top, "LIMIT ... WITH TIES")
    val l = b(Limit).get
    val m = WithTiesHead.findFirstMatchIn(top.text.substring(l.start, l.end))
      .getOrElse(throw new IllegalArgumentException(
        "LIMIT ... WITH TIES: only `LIMIT n WITH TIES` is supported by the " +
          s"embedded rewrite, got '${top.text.substring(l.start, l.end).trim}'"))
    val ob = b(OrderBy).getOrElse(throw new IllegalArgumentException(
      "LIMIT ... WITH TIES requires a top-level ORDER BY (the ties are " +
        "defined by the sort key)"))
    val orderBy = top.body(ob)
    require(orderBy.nonEmpty, "LIMIT ... WITH TIES: empty ORDER BY")
    Some(WithTiesParts(coreBefore(top, b, ob.start), orderBy, m.group(1).toLong))
  }

  /** A parsed top-level `ORDER BY <col> [ASC] WITH FILL [FROM i] [TO i]
    * [STEP i]`: `core` is the statement with the WITH FILL decoration
    * removed (ORDER BY retained); TO is EXCLUSIVE (server semantics),
    * omitted bounds come from the result's own min/max (inclusive).
    */
  final case class WithFillParts(
      core: String, col: String,
      /** Bound literals verbatim: a bare integer or a quoted date
        * ('YYYY-MM-DD') — the fill composer type-checks them against the
        * fill column.
        */
      from: Option[String], to: Option[String],
      /** Step count (default 1) and, for `STEP INTERVAL n <unit>`, the
        * calendar unit (DAY/WEEK/MONTH/YEAR) — None for a numeric step.
        */
      stepN: Long, stepUnit: Option[String],
      /** Columns carrying the PREVIOUS value across fill rows
        * (`INTERPOLATE (c1, c2)` — the no-AS form; expressions reject).
        */
      interpolate: Seq[String] = Seq.empty) extends Reshape

  private val FillTail =
    (raw"(?is)^(?:\s+FROM\s+(-?\d+|'[^']*'))?(?:\s+TO\s+(-?\d+|'[^']*'))?" +
      raw"(?:\s+STEP\s+(?:(\d+)|INTERVAL\s+(\d+)\s+(DAY|WEEK|MONTH|YEAR)))?").r

  /** Some(parts) for the supported top-level WITH FILL shape: exactly
    * one ORDER BY item, a bare ascending column, integer literal
    * bounds/step, at most a trailing SETTINGS clause. Anything else
    * (DESC, expressions, INTERPOLATE, trailing LIMIT, multiple sort
    * items) rejects loudly — and WITH FILL that never reaches this
    * parser (nested in a subquery) rejects in the translator.
    */
  private def withFill(top: ChClauses): Option[WithFillParts] = {
    val sql = top.text
    val (ob, wp) = top.branches.flatMap(_(OrderBy))
      .map(o => o -> top.seek(o, "WITH", "FILL")).find(_._2 >= 0)
      .getOrElse(return None)
    val fillEnd = wp + raw"(?is)^WITH\s+FILL".r.findFirstMatchIn(sql.substring(wp)).get.end
    var item = sql.substring(ob.body, wp).trim
    require(!raw"(?i)\bDESC\b".r.findFirstIn(item).isDefined,
      "WITH FILL DESC is not supported by the embedded rewrite " +
        "(ascending fills only); sort the filled result afterwards")
    item = raw"(?i)\s+ASC$$".r.replaceAllIn(item, "")
    require(!item.contains(","),
      "WITH FILL is supported embedded only as the SOLE ORDER BY item")
    require(item.matches(raw"`[^`]+`|\w+"),
      s"WITH FILL embedded needs a bare output column to fill, got: $item")
    val m = FillTail.findFirstMatchIn(sql.substring(fillEnd)).get
    var rest = sql.substring(fillEnd + m.end).trim.stripSuffix(";").trim
    // INTERPOLATE (c1, c2, ...) — previous-value carry on fill rows.
    // Only the no-AS form is modeled (expression interpolation chains
    // through previously interpolated rows — rejected, not faked).
    var interp = Seq.empty[String]
    if (rest.toUpperCase.startsWith("INTERPOLATE")) {
      val afterKw = rest.substring("INTERPOLATE".length).trim
      require(afterKw.startsWith("("),
        "INTERPOLATE requires a parenthesized column list")
      val (args, past) = parseArgs(afterKw, 1)
      interp = args.map(_.trim)
      require(interp.nonEmpty, "INTERPOLATE: empty column list")
      require(interp.forall(_.matches(raw"`[^`]+`|\w+")),
        "INTERPOLATE with an AS expression is not modeled by the " +
          "embedded engine (expression carries chain through previously " +
          "interpolated rows); only the previous-value form " +
          s"INTERPOLATE (col, ...) is: ${interp.mkString(", ")}")
      rest = afterKw.substring(past).trim.stripSuffix(";").trim
    }
    require(rest.isEmpty || rest.toUpperCase.startsWith("SETTINGS"),
      s"WITH FILL embedded supports at most INTERPOLATE (cols) and a " +
        s"trailing SETTINGS clause (LIMIT after the fill is not " +
        s"modeled): '$rest'")
    val stepN = Option(m.group(3)).orElse(Option(m.group(4)))
      .map(_.toLong).getOrElse(1L)
    require(stepN > 0, s"WITH FILL STEP must be positive: $stepN")
    Some(WithFillParts(
      sql.substring(0, wp).trim + (if (rest.isEmpty) "" else " " + rest),
      item,
      Option(m.group(1)),
      Option(m.group(2)),
      stepN,
      Option(m.group(5)).map(_.toUpperCase),
      interp))
  }

  private val DistinctOnHead = raw"(?is)^SELECT\s+DISTINCT\s+ON\s*\(".r

  /** `SELECT DISTINCT ON (exprs) cols ...` → `SELECT cols ... LIMIT 1 BY
    * exprs` (the server documents DISTINCT ON as exactly this sugar), so
    * the existing LIMIT BY row_number rewrite executes it — including its
    * determinism rule: a top-level ORDER BY is REQUIRED (without one the
    * server keeps an arbitrary row per group, which is not reproducible).
    * Top-level only; DISTINCT ON inside a subquery rejects loudly like
    * nested LIMIT BY. Returns `sql` unchanged when the clause is absent.
    */
  def rewriteDistinctOn(sql: String): String = {
    if (raw"(?i)\bDISTINCT\b".r.findFirstIn(sql).isEmpty) return sql
    val (top, hits) = topLevelOnly(sql, "DISTINCT ON")(l => l.branches.flatMap(b =>
      b(Select).filter(c => DistinctOnHead.findFirstIn(
        l.text.substring(c.start, c.end)).isDefined).map(b -> _)))
    val (b, sel) = hits.headOption.getOrElse(return sql)
    val m = DistinctOnHead.findFirstMatchIn(sql.substring(sel.start)).get
    val (exprs, past) = parseArgs(sql, sel.start + m.end)
    require(exprs.nonEmpty, "DISTINCT ON: empty expression list")
    if (b.has(LimitBy))
      throw new IllegalArgumentException(
        "DISTINCT ON combined with LIMIT BY is not supported by the " +
          "embedded rewrite (DISTINCT ON is itself LIMIT 1 BY — express " +
          "the statement with a single LIMIT BY clause)")
    soleBranch(top, "DISTINCT ON")
    if (!b.has(OrderBy))
      throw new IllegalArgumentException(
        "DISTINCT ON without a top-level ORDER BY keeps an arbitrary row " +
          "per group — add an ORDER BY for a deterministic read")
    val stripped =
      sql.substring(0, sel.start) + "SELECT " + sql.substring(past).trim
    // the LIMIT 1 BY clause slots before any trailing top-level LIMIT /
    // OFFSET / SETTINGS / FORMAT (clause order a server accepts);
    // otherwise at the end
    val byTxt = s"LIMIT 1 BY ${exprs.mkString(", ")}"
    ChClauses(stripped).branches.head.clauses.find(_.kind.rank > LimitBy.rank) match {
      case Some(c) =>
        stripped.substring(0, c.start).trim + s" $byTxt " + stripped.substring(c.start)
      case None =>
        stripped.trim.stripSuffix(";").trim + s" $byTxt"
    }
  }

  /** A parsed top-level `LIMIT n [OFFSET o] BY exprs` clause
    * (ClickHouse's per-group limit): `core` is the statement with the
    * ORDER BY, LIMIT BY, and trailing LIMIT clauses removed (SETTINGS
    * kept); `orderBy` the top-level ORDER BY expression list (the order
    * LIMIT BY selects rows in, per the server's documented semantics);
    * `outerLimit` the trailing plain LIMIT clause verbatim, if any.
    */
  final case class LimitByParts(core: String, n: Long, offset: Long,
      by: String, orderBy: Option[String], outerLimit: Option[String])
      extends Reshape {
    /** A row_number window over the BY expressions, selecting rows in
      * the ORDER BY order. The ORDER BY is REQUIRED: without one the
      * server returns an arbitrary n per group — not reproducible, so
      * rejected (the same determinism rule as FINAL tie-breaks).
      */
    override def statement: String = {
      val ord = orderBy.getOrElse(throw new IllegalArgumentException(
        "LIMIT BY without a top-level ORDER BY selects an arbitrary " +
          "n rows per group — add an ORDER BY for a deterministic read"))
      s"SELECT * FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY $by ORDER BY $ord) AS __lb_rn " +
        s"FROM ($core) AS __lb_in) AS __lb " +
        s"WHERE __lb_rn > $offset AND __lb_rn <= ${offset + n} " +
        s"ORDER BY $ord" + outerLimit.map(" " + _).getOrElse("")
    }
  }

  private val LimitByHead = raw"(?is)^LIMIT\s+(\d+)(?:\s+OFFSET\s+(\d+))?\s+BY\s+".r
  private val PlainLimit = raw"(?is)^LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?\s*;?\s*$$".r

  /** Some(parts) when `sql` carries a top-level `LIMIT n [OFFSET o] BY`
    * clause; None otherwise.
    */
  def parseLimitBy(sql: String): Option[LimitByParts] =
    reshape(sql).collect { case p: LimitByParts => p }

  private def limitBy(top: ChClauses): Option[LimitByParts] = {
    if (!top.branches.exists(_.has(LimitBy))) return None
    val b = soleBranch(top, "LIMIT BY")
    val lb = b(LimitBy).get
    val clause = top.text.substring(lb.start, lb.end)
    val m = LimitByHead.findFirstMatchIn(clause).getOrElse(
      throw new IllegalArgumentException(
        s"LIMIT BY: only `LIMIT n [OFFSET o] BY exprs` is supported by the " +
          s"embedded rewrite, got '${clause.trim}'"))
    val by = clause.substring(m.end).trim.stripSuffix(";").trim
    require(by.nonEmpty, "LIMIT BY: empty expression list")
    val outer = b(Limit).map { l =>
      val rest = top.text.substring(l.start, l.end).trim
      require(PlainLimit.findFirstIn(rest).isDefined,
        s"LIMIT BY: unsupported trailing clause '$rest'")
      rest.stripSuffix(";").trim
    }
    // the ORDER BY defines the selection order within each group
    val ob = b(OrderBy)
    Some(LimitByParts(coreBefore(top, b, ob.getOrElse(lb).start),
      m.group(1).toLong, Option(m.group(2)).map(_.toLong).getOrElse(0L), by,
      ob.map(top.body).filter(_.nonEmpty), outer))
  }

  /** Parse balanced argument list starting just after '('; returns
    * (top-level args, index just past the closing paren).
    */
  private[client] def parseArgs(s: String, start: Int): (Seq[String], Int) = {
    // top-level commas only: square-bracket literals (`[1, 2]`) carry
    // commas that are NOT argument separators
    val args = Seq.newBuilder[String]
    val lx = new ChLex(s, start)
    var argStart = start
    while (lx.next())
      if (lx.depth < 0) {
        args += s.substring(argStart, lx.start).trim
        return (args.result().filter(_.nonEmpty), lx.end)
      } else if (lx.depth == 0 && lx.brackets == 0 && lx.isPunct(',')) {
        args += s.substring(argStart, lx.start).trim
        argStart = lx.end
      }
    (args.result().filter(_.nonEmpty), s.length)
  }
}
