package graft.client

import graft.sql.{ChClauses, ChLex}
import graft.sql.ChClauses.{From, GroupBy, Having, Limit, OrderBy, Select, Where}

/** ClickHouse table PROJECTIONs — pre-aggregated alternates stored with
  * each part and used transparently by matching reads (server surface:
  * `ALTER TABLE ... ADD/MATERIALIZE/DROP PROJECTION`; reads use them
  * under `optimize_use_projections`, the default).
  *
  * This object holds the PURE text machinery: definition parsing, the
  * per-part state-build statement, and the conservative query matcher.
  * The storage/IO side lives in [[EmbeddedClickHouse]]. Two properties
  * keep the matcher safe at any level of conservatism:
  *
  *  - a projection read returns the SAME ROWS as the base read by
  *    construction (it is a storage optimization), so "no match → base
  *    scan" is always correct, never a silent lie;
  *  - the caller additionally verifies the rewritten statement's
  *    ANALYZED schema (names + types) against the base statement's and
  *    falls back on any difference or failure.
  *
  * Aggregate re-merge across parts follows the server's state model:
  * sum→sum, min→min, max→max, count→sum, avg→(sum,count) pair — the
  * same representations as the AggregatingMergeTree -State columns.
  * Float sums re-associate across parts exactly as they do on a real
  * server's projection parts.
  */
object ChProjections {

  /** One aggregate in a projection definition; `arg` is the NORMALIZED
    * argument text ("" for count(*) / count()).
    */
  final case class AggSpec(fn: String, arg: String, rawArg: String)

  final case class ProjectionDef(
      name: String,
      defSql: String,
      keys: Seq[String],      // normalized key expression texts
      rawKeys: Seq[String],   // original texts (for the build statement)
      aggs: Seq[AggSpec]) {

    /** State column names for agg j, in projection-file order. */
    def stateCols(j: Int): Seq[String] = aggs(j).fn match {
      case "avg" => Seq(s"avs$j", s"avc$j")
      case "sum" => Seq(s"s$j")
      case "min" => Seq(s"mn$j")
      case "max" => Seq(s"mx$j")
      case "count" => Seq(s"cnt$j")
    }

    /** Merge expression over the state columns for agg j. */
    def mergeExpr(j: Int): String = aggs(j).fn match {
      case "avg" => s"(sum(avs$j) / sum(avc$j))"
      case "sum" => s"sum(s$j)"
      case "min" => s"min(mn$j)"
      case "max" => s"max(mx$j)"
      // coalesce: a GLOBAL count over zero state rows must be 0, not
      // NULL (sum/min/max/avg are NULL over empty input on the base
      // scan too, so only count needs the floor)
      case "count" => s"coalesce(sum(cnt$j), 0)"
    }

    /** ClickHouse-dialect per-part build statement over `fromRef` (a
      * bare view token registered over ONE part's rows).
      */
    def buildSql(fromRef: String): String = {
      val keyItems = rawKeys.zipWithIndex.map { case (k, i) => s"$k AS k$i" }
      val aggItems = aggs.zipWithIndex.flatMap { case (a, j) =>
        a.fn match {
          case "avg" =>
            Seq(s"sum(${a.rawArg}) AS avs$j", s"count(${a.rawArg}) AS avc$j")
          case "count" =>
            val arg = if (a.arg.isEmpty || a.arg == "*") "*" else a.rawArg
            Seq(s"count($arg) AS cnt$j")
          case "sum" => Seq(s"sum(${a.rawArg}) AS s$j")
          case "min" => Seq(s"min(${a.rawArg}) AS mn$j")
          case "max" => Seq(s"max(${a.rawArg}) AS mx$j")
        }
      }
      s"SELECT ${(keyItems ++ aggItems).mkString(", ")} FROM $fromRef " +
        s"GROUP BY ${rawKeys.mkString(", ")}"
    }
  }

  val SupportedAggs: Set[String] = Set("sum", "min", "max", "avg", "count")

  /** Backtick-insensitive, whitespace-collapsed expression text —
    * identifiers stay case-SENSITIVE like the server's.
    */
  def normalize(e: String): String =
    e.replace("`", "").replaceAll("\\s+", " ")
      .replaceAll("\\s*\\(\\s*", "(").replaceAll("\\s*\\)\\s*", ")")
      .replaceAll("\\s*,\\s*", ", ").trim

  /** Split a select-list / key-list on top-level commas (paren-,
    * bracket-, and quote-aware — rides the translator's arg parser).
    */
  def splitList(s: String): Seq[String] =
    ChSqlTranslator.parseArgs(s + ")", 0)._1

  private val AggRe = raw"(?s)^([A-Za-z][A-Za-z0-9]*)\s*\((.*)\)$$".r

  /** Strip one trailing top-level `AS alias`; returns (expr, alias?). */
  def splitAlias(item: String): (String, Option[String]) = {
    val t = item.trim
    val p = ChSqlTranslator.lastTopLevelAs(t)
    val alias = if (p < 0) "" else t.substring(p + 2).trim
    if (raw"^`?[A-Za-z_][A-Za-z0-9_]*`?$$".r.findFirstIn(alias).isDefined)
      (t.substring(0, p).trim, Some(alias.replace("`", "")))
    else (t, None)
  }

  /** Parse a projection definition: `SELECT <items> GROUP BY <keys>`
    * (the server's inline grammar — no FROM). Aggregate projections
    * only; every requirement violation is a loud reject at ADD time.
    */
  def parseDef(name: String, defSql: String): ProjectionDef = {
    val s = defSql.trim.replaceAll(raw"[;\s]+$$", "")
    def bad(why: String): Nothing = throw new IllegalArgumentException(
      s"ADD PROJECTION $name: $why (definition: '$defSql'); supported " +
        "shape is `SELECT <keys and aggregates> GROUP BY <keys>` with " +
        "aggregates in {sum, min, max, avg, count}")
    val top = ChClauses(s)
    val b = top.branches.head
    val sel = b(Select).filter(_.start == 0)
      .getOrElse(bad("the definition must start with SELECT"))
    if (b.has(From)) bad("the definition takes no FROM (it is implicitly the table)")
    val grp = b(GroupBy).getOrElse(
      bad("only AGGREGATE projections are supported — ORDER BY-only " +
        "projections change no result and are not modeled"))
    if (top.branches.size > 1) bad("UNION is not supported in a projection definition")
    b.clauses.map(_.kind).find(k => !(k eq Select) && !(k eq GroupBy)).foreach(k =>
      bad(s"${k.name} is not supported in a projection definition"))
    val items = splitList(top.body(sel))
    val rawKeys = splitList(top.body(grp))
    if (rawKeys.isEmpty) bad("GROUP BY needs at least one key")
    val keys = rawKeys.map(normalize)
    if (keys.distinct.size != keys.size) bad("duplicate GROUP BY keys")
    val aggs = scala.collection.mutable.ArrayBuffer.empty[AggSpec]
    items.foreach { item =>
      val (expr, _) = splitAlias(item)
      normalize(expr) match {
        case n if keys.contains(n) => () // a key re-selected
        case n => AggRe.findFirstMatchIn(n) match {
          case Some(m) if SupportedAggs.contains(m.group(1)) =>
            val fn = m.group(1)
            val arg = m.group(2).trim
            if (fn == "count" && (arg.isEmpty || arg == "*"))
              aggs += AggSpec("count", "", "")
            else {
              if (arg.isEmpty) bad(s"$fn needs an argument")
              if (raw"(?i)^DISTINCT\b".r.findFirstIn(arg).isDefined)
                bad("DISTINCT aggregates cannot be re-merged across parts")
              // recover the RAW argument from the un-normalized expr
              val rawM = AggRe.findFirstMatchIn(expr.trim).get
              aggs += AggSpec(fn, arg, rawM.group(2).trim)
            }
          case Some(m) =>
            bad(s"aggregate ${m.group(1)} is not re-mergeable from " +
              "per-part states")
          case None =>
            bad(s"select item '$item' is neither a GROUP BY key nor a " +
              "supported aggregate")
        }
      }
    }
    if (aggs.isEmpty) bad("at least one aggregate is required")
    ProjectionDef(name, defSql, keys, rawKeys, aggs.toSeq)
  }

  /** Words that may appear bare (non-identifier) inside a WHERE clause
    * we still accept for key-only substitution.
    */
  private val WhereKeywords: Set[String] = Set(
    "AND", "OR", "NOT", "IN", "LIKE", "ILIKE", "BETWEEN", "IS", "NULL",
    "TRUE", "FALSE", "CASE", "WHEN", "THEN", "ELSE", "END", "XOR")

  /** Attempt to rewrite `sql` (a plain `SELECT ... FROM <table ref>
    * [WHERE] [GROUP BY] [...]` in ClickHouse dialect) onto the
    * projection's state view `viewRef`. None = no confident match (the
    * caller scans the base table — always correct). The caller verifies
    * the analyzed schema before trusting the result.
    */
  def rewriteQuery(
      sql: String, tableRef: String, d: ProjectionDef,
      viewRef: String): Option[String] = {
    val s = sql.trim.replaceAll(raw"[;\s]+$$", "")
    val top = ChClauses(s)
    val b = top.branches.head
    // conservative shape gate: one SELECT ... FROM branch with plain
    // WHERE / GROUP BY / HAVING / ORDER BY / LIMIT clauses only
    if (top.branches.size != 1 || !b(Select).exists(_.start == 0) ||
      !b.clauses.forall(c => Seq(Select, From, Where, GroupBy, Having, OrderBy,
        Limit).contains(c.kind))) return None
    if (raw"(?is)^SELECT\s+DISTINCT\b".r.findFirstIn(s).isDefined) return None
    val fromC = b(From).getOrElse(return None)
    val whereP = b(Where)
    val groupP = b(GroupBy)
    // FROM must reference exactly the projected table
    val fromBody = top.body(fromC)
    if (normalize(fromBody) != normalize(tableRef)) return None
    // select items
    val items = splitList(top.body(b(Select).get))
    if (items.isEmpty) return None
    var aggItems = 0
    val mappedItems = items.map { item =>
      val (expr, alias) = splitAlias(item)
      val n = normalize(expr)
      val ki = d.keys.indexOf(n)
      if (ki >= 0) {
        // a bare-column key keeps its output name implicitly; anything
        // else must carry an explicit alias or the engines' expression
        // naming rules diverge
        val outName = alias.orElse(
          Some(n).filter(_.matches("[A-Za-z_][A-Za-z0-9_]*")))
          .getOrElse(return None)
        s"k$ki AS `$outName`"
      } else {
        val aj = d.aggs.indexWhere { a =>
          AggRe.findFirstMatchIn(n) match {
            case Some(m) =>
              val fn = m.group(1)
              val arg = m.group(2).trim
              fn == a.fn && (if (a.arg.isEmpty) arg.isEmpty || arg == "*"
                             else normalize(arg) == a.arg)
            case None => false
          }
        }
        if (aj < 0) return None
        val outName = alias.getOrElse(return None)
        aggItems += 1
        s"${d.mergeExpr(aj)} AS `$outName`"
      }
    }
    // an all-key select with no GROUP BY is a plain row scan — the
    // state view has one row per (part, group), not one per base row,
    // and the schemas coincide, so the caller's analysis check cannot
    // catch it; only aggregate queries may swap
    if (aggItems == 0 && groupP.isEmpty) return None
    // alias → expr map for GROUP BY resolution
    val aliasExpr: Map[String, String] = items.flatMap { item =>
      val (expr, alias) = splitAlias(item)
      alias.map(a => a -> normalize(expr))
    }.toMap
    // GROUP BY items must all be projection keys (a subset re-merges)
    val mappedGroup: Option[String] = groupP.map { gp =>
      val gItems = splitList(top.body(gp))
      val refs = gItems.map { g =>
        val n0 = normalize(g)
        val n = aliasExpr.getOrElse(n0, n0)
        val ki = d.keys.indexOf(n)
        if (ki < 0) return None
        s"k$ki"
      }
      refs.mkString(", ")
    }
    // WHERE: bare-column keys only, every identifier must be a key
    val mappedWhere: Option[String] = whereP.map { wp =>
      val body = top.body(wp)
      val colKey: Map[String, Int] = d.keys.zipWithIndex
        .filter(_._1.matches("[A-Za-z_][A-Za-z0-9_]*")).toMap
      val out = new StringBuilder
      val lx = new ChLex(body)
      while (lx.next()) lx.kind match {
        case ChLex.Ident =>
          if (!lx.closed) return None
          colKey.get(lx.name) match {
            case Some(ki) => out.append(s"k$ki")
            case None => return None
          }
        case ChLex.Word if !lx.char.isDigit =>
          val word = lx.token
          var f = lx.end
          while (f < body.length && body.charAt(f).isWhitespace) f += 1
          val isFn = f < body.length && body.charAt(f) == '('
          if (isFn || WhereKeywords.contains(
            word.toUpperCase(java.util.Locale.ROOT))) out.append(word)
          else colKey.get(word) match {
            case Some(ki) => out.append(s"k$ki")
            case None => return None
          }
        case _ => out.append(lx.token)
      }
      out.result()
    }
    // trailing clauses (HAVING / ORDER BY / LIMIT) pass through verbatim:
    // alias references resolve; base-expression references fail the
    // caller's analysis check and fall back. Any CALL in the tail is
    // rejected outright — count(*) (and any aggregate) analyzes over
    // the state view too, counting per-part state rows instead of base
    // rows with an identical schema, so the caller's check cannot save
    // us. Alias-only tails (`HAVING total > 3 ORDER BY total LIMIT 5`)
    // are the common shapes and keep the swap.
    val tail = b.clauses.find(_.kind.rank > GroupBy.rank)
      .fold("")(c => " " + s.substring(c.start))
    if (tail.contains('(')) return None
    Some(s"SELECT ${mappedItems.mkString(", ")} FROM $viewRef" +
      mappedWhere.map(w => s" WHERE $w").getOrElse("") +
      mappedGroup.map(g => s" GROUP BY $g").getOrElse("") + tail)
  }
}
