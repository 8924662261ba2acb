package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sql.ChClauses
import graft.sql.ChClauses._

/** The one clause split of a ClickHouse query level: branch and clause
  * spans in server clause order, keyword look-alikes that stay names,
  * and the walk over nested levels.
  */
class ChClausesSpec extends AnyFunSuite {

  private def kinds(sql: String): Seq[Seq[String]] =
    ChClauses(sql).branches.map(_.clauses.map(_.kind.name))

  private def bodies(sql: String): Map[String, String] = {
    val lvl = ChClauses(sql)
    lvl.branches.flatMap(_.clauses).map(c => c.kind.name -> lvl.body(c)).toMap
  }

  test("every clause in ClickHouse order, modifiers inside their clause") {
    val sql = "SELECT a FROM t FINAL PREWHERE x WHERE y GROUP BY a WITH TOTALS " +
      "HAVING c WINDOW w AS (ORDER BY a) QUALIFY q ORDER BY a WITH FILL " +
      "FROM 1 TO 5 LIMIT 1 BY a LIMIT 2 WITH TIES SETTINGS max_threads = 1 " +
      "FORMAT JSON"
    assert(kinds(sql) == Seq(Seq("SELECT", "FROM", "PREWHERE", "WHERE",
      "GROUP BY", "HAVING", "WINDOW", "QUALIFY", "ORDER BY", "LIMIT BY",
      "LIMIT", "SETTINGS", "FORMAT")))
    val b = bodies(sql)
    assert(b("FROM") == "t FINAL")
    assert(b("GROUP BY") == "a WITH TOTALS")
    assert(b("WINDOW") == "w AS (ORDER BY a)")
    assert(b("ORDER BY") == "a WITH FILL FROM 1 TO 5")
    assert(b("LIMIT BY") == "1 BY a")
    assert(b("LIMIT") == "2 WITH TIES")
    assert(b("SETTINGS") == "max_threads = 1")
    val lvl = ChClauses(sql)
    val g = lvl.branches.head(GroupBy).get
    assert(lvl.seek(g, "WITH", "TOTALS") == sql.indexOf("WITH TOTALS"))
    assert(lvl.seek(g, "WITH", "ROLLUP") == -1)
  }

  test("set operators split branches; a star EXCEPT does not") {
    val u = "SELECT 1 UNION ALL SELECT 2 ORDER BY 1"
    val lvl = ChClauses(u)
    assert(lvl.branches.map(b => u.substring(b.start, b.end).trim) ==
      Seq("SELECT 1", "SELECT 2 ORDER BY 1"))
    assert(kinds(u) == Seq(Seq("SELECT"), Seq("SELECT", "ORDER BY")))
    assert(kinds("SELECT a FROM t EXCEPT SELECT a FROM u").size == 2)
    assert(kinds("SELECT a FROM t INTERSECT DISTINCT SELECT a FROM u").size == 2)
    assert(kinds("SELECT * EXCEPT (a) FROM t") == Seq(Seq("SELECT", "FROM")))
    assert(kinds("SELECT * EXCEPT a FROM t") == Seq(Seq("SELECT", "FROM")))
  }

  test("keyword look-alikes stay names; literals and nested groups are " +
    "opaque") {
    assert(kinds("SELECT format, window(ts, 1), offset, settings FROM t " +
      "WHERE limit_x > 1") == Seq(Seq("SELECT", "FROM", "WHERE")))
    // QUALIFY and TOTALS as column names: in the SELECT list, and where
    // an expression starts; QUALIFY after an expression is the clause
    assert(kinds("SELECT qualify FROM db.tbl") == Seq(Seq("SELECT", "FROM")))
    assert(kinds("SELECT totals FROM db.tbl") == Seq(Seq("SELECT", "FROM")))
    assert(kinds("SELECT a FROM t WHERE qualify > 1 AND totals < 2") ==
      Seq(Seq("SELECT", "FROM", "WHERE")))
    assert(bodies("SELECT a FROM t WHERE b = 'x' QUALIFY r = 1")("QUALIFY") ==
      "r = 1")
    val tl = ChClauses("SELECT totals FROM t GROUP BY k WITH TOTALS")
    assert(tl.positions("TOTALS").map(tl.followsPrimary) == Seq(false, false))
    assert(kinds("SELECT 'FROM x WHERE y LIMIT 1 BY z' AS s FROM t") ==
      Seq(Seq("SELECT", "FROM")))
    assert(kinds("SELECT a FROM (SELECT a FROM u ORDER BY a) q") ==
      Seq(Seq("SELECT", "FROM")))
    // OFFSET inside LIMIT and after SAMPLE; a standalone OFFSET clause
    assert(bodies("SELECT a FROM t SAMPLE 0.1 OFFSET 0.5 WHERE a > 1")("FROM") ==
      "t SAMPLE 0.1 OFFSET 0.5")
    assert(bodies("SELECT a FROM t ORDER BY a LIMIT 5 OFFSET 2")("LIMIT") ==
      "5 OFFSET 2")
    assert(bodies("SELECT a FROM t LIMIT 1 OFFSET 2 BY a")("LIMIT BY") ==
      "1 OFFSET 2 BY a")
    assert(kinds("SELECT a FROM t ORDER BY a OFFSET 2 ROWS") ==
      Seq(Seq("SELECT", "FROM", "ORDER BY", "OFFSET")))
    // a WITH opening the branch is the WITH clause
    assert(kinds("WITH 1 AS x SELECT x FROM t") == Seq(Seq("WITH", "SELECT", "FROM")))
  }

  test("join operators of the FROM clause start at their first modifier") {
    val sql = "SELECT 1 FROM a LEFT ANY JOIN b ON a.k = b.k " +
      "ARRAY JOIN xs AS x WHERE 1"
    val lvl = ChClauses(sql)
    assert(lvl.branches.head.joins.map { case (s, e) => sql.substring(s, e) } ==
      Seq("LEFT ANY JOIN", "ARRAY JOIN"))
  }

  test("the level walk: every paren group is a level with absolute " +
    "positions; mapLevels rewrites outermost first") {
    val sql = "SELECT (SELECT 1 LIMIT 1 BY x) FROM (SELECT y FROM u) WHERE z IN (1, 2)"
    val lvls = ChClauses.levels(sql).toSeq
    assert(lvls.size == 4)
    val nestedLb = ChClauses.levels(sql).drop(1).flatMap(l =>
      l.branches.flatMap(_(LimitBy)).map(l.body)).toSeq
    assert(nestedLb == Seq("1 BY x"))
    assert(ChClauses.mapLevels("a (b (c)) d")(_.toUpperCase) == "A (B (C)) D")
    var seen = Seq.empty[String]
    ChClauses.mapLevels("a (b (c)) d") { s => seen :+= s; s }
    assert(seen == Seq("a (b (c)) d", "b (c)", "c"))
  }
}
