package graft.sql

/** Analysis-time validation of raw `clickhouse_eval` fragments — the
  * lightweight analog of the reference's tokenize+parse of the raw string
  * with its ClickHouse dialect (/root/reference/src/udfs/eval.rs:58-142,
  * src/dialect.rs:43-70). A malformed fragment (or an embedded statement
  * separator) fails fast with a clear message instead of surfacing as an
  * opaque remote error mid-query — and `;` can never smuggle a second
  * statement into the generated SQL.
  *
  * Accepts exactly one expression: balanced parens/brackets, terminated
  * string literals and backtick identifiers (quoting per [[ChLex]]), no
  * comments, no top-level commas, no semicolons.
  */
object ChFragment {

  def validate(raw: String): Unit = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"invalid clickhouse_eval fragment ($msg): $raw")
    val s = raw.trim
    if (s.isEmpty) fail("empty expression")
    val lx = new ChLex(s)
    while (lx.next()) {
      lx.kind match {
        case ChLex.Str if !lx.closed => fail("unterminated string literal")
        case ChLex.Ident if !lx.closed => fail("unterminated quoted identifier")
        case ChLex.Punct => lx.char match {
          case ')' | ']' if lx.depth < 0 || lx.brackets < 0 =>
            fail("unbalanced parentheses")
          case ';' => fail("';' not allowed")
          case ',' if lx.depth == 0 && lx.brackets == 0 =>
            fail("not a single expression (top-level ',')")
          case '-' | '/' if lx.end < s.length &&
            s.charAt(lx.end) == (if (lx.char == '-') '-' else '*') =>
            fail("comments not allowed")
          case _ => ()
        }
        case _ => ()
      }
    }
    if (lx.depth != 0 || lx.brackets != 0) fail("unbalanced parentheses")
  }
}
