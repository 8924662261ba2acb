package graft.sql

/** The one lexer for ClickHouse SQL text. Every scanner that has to tell
  * code from quoted text walks these tokens, so the quoting rules live
  * here and nowhere else:
  *
  *  - `'...'` string literals, with both escapes: a backslash escapes the
  *    next character (`\'`, `\\`) and a doubled quote is one quote (`''`);
  *  - `` `...` `` quoted identifiers, where a doubled backtick is one
  *    backtick (the form [[ChSql.quoteIdent]] emits);
  *  - words: maximal runs of letters, digits and `_`;
  *  - whitespace runs; every other character is a one-character token.
  *
  * An unterminated literal or identifier runs to the end of the text and
  * reports `closed = false`.
  *
  * The lexer is a cursor: `next()` moves to the following token and
  * exposes its span `[start, end)`, its kind, and the paren and bracket
  * depths AFTER the token — an opening paren reports the depth inside
  * it, a closing paren the depth outside it. Depths start at 0 and go
  * negative past an unmatched closer, which is how a scanner that starts
  * inside a group finds the group's end.
  */
final class ChLex(val text: String, from: Int = 0) {
  import ChLex._

  private var pos = from
  var start: Int = from
  var end: Int = from
  var kind: Kind = Space
  var closed: Boolean = true
  var depth: Int = 0
  var brackets: Int = 0

  def next(): Boolean = {
    if (pos >= text.length) return false
    start = pos
    closed = true
    val c = text.charAt(pos)
    c match {
      case '\'' =>
        kind = Str
        pos = quotedEnd(pos, '\'')
      case '`' =>
        kind = Ident
        pos = quotedEnd(pos, '`')
      case _ if isWordChar(c) =>
        kind = Word
        pos += 1
        while (pos < text.length && isWordChar(text.charAt(pos))) pos += 1
      case _ if c.isWhitespace =>
        kind = Space
        pos += 1
        while (pos < text.length && text.charAt(pos).isWhitespace) pos += 1
      case _ =>
        kind = Punct
        pos += 1
        c match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '[' => brackets += 1
          case ']' => brackets -= 1
          case _ =>
        }
    }
    end = pos
    true
  }

  /** Index just past the literal or identifier opening at `at`. */
  private def quotedEnd(at: Int, q: Char): Int = {
    var i = at + 1
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '\\' && q == '\'') i += 2
      else if (c == q) {
        if (i + 1 < text.length && text.charAt(i + 1) == q) i += 2
        else return i + 1
      } else i += 1
    }
    closed = false
    text.length
  }

  /** At an opening paren: advance to its matching closer, which becomes
    * the current token (the last token when the group is unbalanced).
    */
  def skipGroup(): Unit = {
    val outside = depth - 1
    while (depth > outside && next()) ()
  }

  /** Continue lexing at `to`, a token boundary; depths are left as they
    * are, so the skipped text should be balanced.
    */
  def seek(to: Int): Unit = pos = to

  def char: Char = text.charAt(start)

  def token: String = text.substring(start, end)

  def isPunct(c: Char): Boolean = kind == Punct && text.charAt(start) == c

  /** The current token is the keyword `w` (case-insensitive). */
  def isWord(w: String): Boolean =
    kind == Word && end - start == w.length &&
      text.regionMatches(true, start, w, 0, w.length)

  /** Unquoted name of a word or quoted identifier token. */
  def name: String =
    if (kind == Ident) text.substring(start + 1, if (closed) end - 1 else end)
      .replace("``", "`")
    else token
}

object ChLex {
  sealed abstract class Kind
  case object Str extends Kind
  case object Ident extends Kind
  case object Word extends Kind
  case object Space extends Kind
  case object Punct extends Kind

  def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** A lexer on the first non-whitespace token at or after `at`. */
  def after(s: String, at: Int): ChLex = {
    val lx = new ChLex(s, at)
    if (lx.next() && lx.kind == Space) lx.next()
    lx
  }

  /** Index just past the `)` matching the `(` at `open`, or -1. */
  def closeOf(s: String, open: Int): Int = {
    val lx = new ChLex(s, open)
    lx.next()
    lx.skipGroup()
    if (lx.depth == 0 && lx.isPunct(')')) lx.end else -1
  }

  /** Index of the `(` matching the `)` at `close`, or -1. */
  def openOf(s: String, close: Int): Int = {
    val lx = new ChLex(s)
    var opens = List.empty[Int]
    while (lx.next() && lx.start < close)
      if (lx.isPunct('(')) opens ::= lx.start
      else if (lx.isPunct(')') && opens.nonEmpty) opens = opens.tail
    if (lx.start == close && lx.isPunct(')')) opens.headOption.getOrElse(-1)
    else -1
  }
}
