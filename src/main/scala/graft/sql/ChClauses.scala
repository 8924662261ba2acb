package graft.sql

import scala.collection.mutable.ArrayBuffer

/** The clause split of one query level of ClickHouse SQL: the level is
  * lexed once ([[ChLex]]), split into set-operation branches (`UNION`,
  * `EXCEPT`, `INTERSECT`), and each branch into its top-level clauses in
  * the server's order: WITH, SELECT, FROM (with its FINAL / SAMPLE /
  * ARRAY JOIN / JOIN tail), PREWHERE, WHERE, GROUP BY [WITH TOTALS],
  * HAVING, WINDOW, QUALIFY, ORDER BY [WITH FILL], LIMIT n BY, LIMIT
  * [WITH TIES], OFFSET, SETTINGS, FORMAT.
  *
  * A keyword starts a clause only at the level's own depth, outside
  * literals, and only when its clause comes later in that order than the
  * current one, so `WITH FILL FROM 1` stays in ORDER BY. `OFFSET` stays
  * inside LIMIT (`LIMIT n OFFSET o [BY ...]`) and after SAMPLE. Words that
  * double as names need the clause's shape after them: `GROUP`/`ORDER`
  * take `BY`, `WINDOW` takes `name AS`, `OFFSET` a number, `SETTINGS`
  * `name =`, and `FORMAT` one name that ends the level; `QUALIFY` opens
  * a clause only after the SELECT list, right after a primary expression
  * (`WHERE qualify > 1` reads a column).
  *
  * A level is the span `[from, to)` of `text` (the statement, or one paren
  * group's content); every position is an index into `text`. This is the
  * one place that decides where a clause ends.
  */
final class ChClauses private (val text: String, from: Int, to: Int) {
  import ChClauses._

  // this level's own words with the start of the token before each (-1
  // at the text start), and its paren groups as (open, close)
  private val wordStart, wordEnd, wordPrev = ArrayBuffer.empty[Int]
  private val groupsB = ArrayBuffer.empty[(Int, Int)]

  /** The set-operation branches, in text order (at least one). */
  val branches: IndexedSeq[Branch] = split()

  /** The paren groups directly inside this level (an unclosed group
    * closes at the level end).
    */
  def groups: Seq[(Int, Int)] = groupsB.toSeq

  /** The body of `c`, trimmed. */
  def body(c: Clause): String = text.substring(c.body, c.end).trim

  private def isWordAt(i: Int, w: String): Boolean =
    wordEnd(i) - wordStart(i) == w.length &&
      text.regionMatches(true, wordStart(i), w, 0, w.length)

  /** Start of the first run of `words` (whitespace between them only)
    * among this level's words in the body of `c`, or -1.
    */
  def seek(c: Clause, words: String*): Int =
    wordStart.indices.find(i => wordStart(i) >= c.body &&
      i + words.length <= wordStart.length && wordEnd(i + words.length - 1) <= c.end &&
      words.indices.forall(j => isWordAt(i + j, words(j)) &&
        (j == 0 || text.substring(wordEnd(i + j - 1), wordStart(i + j)).trim.isEmpty)))
      .fold(-1)(wordStart)

  /** Positions of the word `w` among this level's words. */
  def positions(w: String): Seq[Int] =
    wordStart.indices.filter(isWordAt(_, w)).map(wordStart)

  /** The level word at `at` follows a primary expression: the token
    * before it is a name, a literal or a closing paren or bracket, not a
    * word like SELECT, WHERE or AND that introduces an expression. Only
    * there can a word like QUALIFY or TOTALS be a keyword.
    */
  def followsPrimary(at: Int): Boolean = {
    val i = wordStart.indexOf(at)
    i >= 0 && endsPrimary(wordPrev(i))
  }

  private def endsPrimary(tokenStart: Int): Boolean = tokenStart >= 0 && {
    val t = new ChLex(text, tokenStart)
    t.next()
    t.kind match {
      case ChLex.Str | ChLex.Ident => true
      case ChLex.Word => !NonPrimaryWords.contains(t.token.toUpperCase(java.util.Locale.ROOT))
      case _ => t.isPunct(')') || t.isPunct(']')
    }
  }

  /** The branch holding position `at`. */
  def branchAt(at: Int): Branch =
    branches.find(b => at < b.end).getOrElse(branches.last)

  private def split(): IndexedSeq[Branch] = {
    val out = IndexedSeq.newBuilder[Branch]
    val clauses = ArrayBuffer.empty[Clause]
    val joins = ArrayBuffer.empty[(Int, Int)]
    val lx = new ChLex(text, from)
    var bStart, open, prev = -1
    var cur: Kind = null
    var cStart, cBody = 0
    var sampled = false
    def close(at: Int): Unit = {
      if (cur != null) clauses += Clause(cur, cStart, cBody, at)
      cur = null
    }
    def endBranch(at: Int): Unit = {
      close(at)
      out += Branch(if (bStart < 0) at else bStart, at, clauses.toIndexedSeq,
        joins.toIndexedSeq)
      clauses.clear(); joins.clear(); bStart = -1
    }
    def begin(k: Kind, body: Int): Unit =
      if (cur == null || k.rank > cur.rank) {
        close(lx.start)
        cur = k; cStart = lx.start; cBody = body; sampled = false
      }
    // the next token after `at`; past the level it reads as the end
    def after(at: Int): ChLex = {
      val n = ChLex.after(text, at)
      if (n.start >= to) n.kind = ChLex.Space
      n
    }
    def named(n: ChLex) = n.kind == ChLex.Word || n.kind == ChLex.Ident
    while (lx.next() && lx.start < to) {
      if (bStart < 0 && lx.kind != ChLex.Space) bStart = lx.start
      if (lx.depth == 1 && lx.isPunct('(')) open = lx.start
      else if (lx.depth == 0 && lx.isPunct(')') && open >= 0) {
        groupsB += open -> lx.start; open = -1
      } else if (lx.depth == 0 && lx.kind == ChLex.Word) {
        wordStart += lx.start; wordEnd += lx.end; wordPrev += prev
        lazy val n = after(lx.end)
        lx.token.toUpperCase(java.util.Locale.ROOT) match {
          case "WITH" if lx.start == bStart => begin(With, lx.end)
          case "SELECT" => begin(Select, lx.end)
          case "FROM" => begin(From, lx.end)
          case "PREWHERE" => begin(Prewhere, lx.end)
          case "WHERE" => begin(Where, lx.end)
          case "HAVING" => begin(Having, lx.end)
          case "QUALIFY" if cur != null && cur.rank > Select.rank &&
            endsPrimary(prev) => begin(Qualify, lx.end)
          case "GROUP" if n.isWord("BY") => begin(GroupBy, n.end)
          case "ORDER" if n.isWord("BY") => begin(OrderBy, n.end)
          case "WINDOW" if named(n) && after(n.end).isWord("AS") => begin(Window, lx.end)
          case "LIMIT" => begin(Limit, lx.end)
          case "BY" if (cur eq Limit) && !clauses.exists(_.kind eq LimitBy) =>
            cur = LimitBy
          case "OFFSET" if !(cur eq Limit) && !((cur eq From) && sampled) &&
            n.kind == ChLex.Word && n.char.isDigit => begin(Offset, lx.end)
          case "SETTINGS" if named(n) && after(n.end).isPunct('=') =>
            begin(Settings, lx.end)
          case "FORMAT" if named(n) && {
            val m = after(n.end); m.kind == ChLex.Space || m.isPunct(';')
          } => begin(Format, lx.end)
          // `* EXCEPT (cols)` / `* EXCEPT col` is a star transformer
          case "UNION" | "EXCEPT" | "INTERSECT" if lx.isWord("UNION") ||
            n.isWord("SELECT") || n.isWord("ALL") || n.isWord("DISTINCT") ||
            n.isPunct('(') && after(n.end).isWord("SELECT") =>
            endBranch(lx.start)
            if (n.isWord("ALL") || n.isWord("DISTINCT")) lx.seek(n.end)
          case "SAMPLE" if cur eq From => sampled = true
          case "JOIN" if cur eq From =>
            // the operator starts at its first modifier word
            var i = wordStart.length - 1
            while (i > 0 && JoinWords.exists(isWordAt(i - 1, _)) &&
              text.substring(wordEnd(i - 1), wordStart(i)).trim.isEmpty) i -= 1
            joins += wordStart(i) -> lx.end
          case _ =>
        }
      }
      if (lx.kind != ChLex.Space) prev = lx.start
    }
    if (open >= 0) groupsB += open -> to
    endBranch(to)
    out.result()
  }
}

object ChClauses {

  sealed abstract class Kind(val name: String, val rank: Int)
  case object With extends Kind("WITH", 0)
  case object Select extends Kind("SELECT", 1)
  case object From extends Kind("FROM", 2)
  case object Prewhere extends Kind("PREWHERE", 3)
  case object Where extends Kind("WHERE", 4)
  case object GroupBy extends Kind("GROUP BY", 5)
  case object Having extends Kind("HAVING", 6)
  case object Window extends Kind("WINDOW", 7)
  case object Qualify extends Kind("QUALIFY", 8)
  case object OrderBy extends Kind("ORDER BY", 9)
  case object LimitBy extends Kind("LIMIT BY", 10)
  case object Limit extends Kind("LIMIT", 11)
  case object Offset extends Kind("OFFSET", 12)
  case object Settings extends Kind("SETTINGS", 13)
  case object Format extends Kind("FORMAT", 14)

  /** Words after which an expression starts rather than ends: a `[`
    * after them opens an array literal, and a clause word after them is
    * a name.
    */
  val NonPrimaryWords: Set[String] = Set(
    "SELECT", "DISTINCT", "ALL", "FROM", "WHERE", "PREWHERE", "HAVING",
    "QUALIFY", "AND", "OR", "NOT", "XOR", "IN", "BY", "ON", "WHEN", "THEN",
    "ELSE", "CASE", "JOIN", "UNION", "EXCEPT", "INTERSECT", "LIMIT",
    "OFFSET", "SETTINGS", "VALUES", "USING", "BETWEEN", "LIKE", "ILIKE",
    "IS", "AS", "ASC", "DESC", "OVER", "PARTITION", "ORDER", "GROUP",
    "RETURN", "INTERPOLATE", "WITH", "TOTALS", "FILL", "TO", "STEP",
    "ARRAY", "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "SEMI", "ANTI",
    "ASOF", "ANY", "GLOBAL", "PASTE", "IF", "ELSEIF", "EXISTS")

  /** Words that may lead a JOIN keyword as part of its operator. */
  private val JoinWords = Seq("GLOBAL", "ANY", "ALL", "ASOF", "SEMI", "ANTI",
    "LEFT", "RIGHT", "INNER", "FULL", "OUTER", "CROSS", "ARRAY", "PASTE")

  /** One clause: `start` at its keyword, `body` past the keyword (past
    * `BY` for GROUP BY / ORDER BY), `end` at the next clause's keyword,
    * the set operator ending the branch, or the level end.
    */
  final case class Clause(kind: Kind, start: Int, body: Int, end: Int)

  /** One set-operation branch, from its first token to the set operator
    * after it; `joins` holds its FROM clause's join operators as
    * (operator start, index past JOIN).
    */
  final case class Branch(start: Int, end: Int, clauses: IndexedSeq[Clause],
      joins: IndexedSeq[(Int, Int)]) {
    def apply(k: Kind): Option[Clause] = clauses.find(_.kind eq k)
    def has(k: Kind): Boolean = clauses.exists(_.kind eq k)
    def clauseAt(at: Int): Option[Clause] =
      clauses.find(c => c.start <= at && at < c.end)
  }

  def apply(text: String): ChClauses = new ChClauses(text, 0, text.length)

  /** Every query level of `text`, outermost first, depth first. */
  def levels(text: String): Iterator[ChClauses] = levelsIn(text, 0, text.length)

  private def levelsIn(text: String, from: Int, to: Int): Iterator[ChClauses] = {
    val lvl = new ChClauses(text, from, to)
    Iterator.single(lvl) ++
      lvl.groups.iterator.flatMap { case (o, c) => levelsIn(text, o + 1, c) }
  }

  /** The one walk for rewrites at every query level: `f` rewrites `text`
    * as one level, then each paren group of the result is walked alike.
    */
  def mapLevels(text: String)(f: String => String): String = {
    val s = f(text)
    val out = new StringBuilder
    var copied = 0
    apply(s).groups.foreach { case (open, close) =>
      out.append(s.substring(copied, open + 1))
        .append(mapLevels(s.substring(open + 1, close))(f))
      copied = close
    }
    out.append(s.substring(copied)).result()
  }
}
