package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Seeded compositional fuzz over the round-14/15/16 mapped function
  * surface (VERDICT r15 item 5): the ~120 hand-pinned names are
  * exercised one call deep by FnSurfaceSpec and the gates; THIS
  * harness composes them 2–3 deep from a typed grammar and compares the
  * translator's text pipeline (chSql → ChSqlTranslator → child
  * session) against an INDEPENDENTLY WRITTEN Spark-SQL rendering of the
  * same semantics over the same rows, bit for bit. That is exactly the
  * failure class the translator bugs lived in: rule ordering/shadowing,
  * paren nesting, argument routing, call-shaped text inside literals —
  * not the kernels (those are vector-pinned elsewhere).
  *
  * For the graft-specific laws with no independent Spark spelling
  * (hash family, CH round()), the direct side registers the SAME
  * Catalyst expressions under throwaway names — those rows pin the
  * translator's routing, not the kernel.
  *
  * Determinism: data is ASCII-only and value-bounded (multiply chains
  * stay far from Long overflow; denominators are (abs % 7) + 1 — never
  * zero under the child session's ANSI law; byte laws ≡ codepoint laws
  * on ASCII so locate/octet_length are exact oracles).
  */
class FnFuzzSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("fn-fuzz-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val ch = {
    val root = Files.createTempDirectory("graft_fnfuzz_").toString
    spark.conf.set("spark.sql.catalog.chfuzz",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chfuzz.path", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chfuzz.main")
    spark.sql(
      """CREATE TABLE chfuzz.main.t
        |(id BIGINT, s STRING, a BIGINT, b BIGINT, d DOUBLE,
        | arr ARRAY<BIGINT>)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    spark.sql(
      """INSERT INTO chfuzz.main.t VALUES
        |(1L, 'Hello World', 5L, 3L, 2.5D, array(3L, 1L, 2L)),
        |(2L, 'graft engine', 941L, 17L, -3.25D, array(9L)),
        |(3L, '', 0L, 1000L, 0.5D, array()),
        |(4L, 'aAbBcC xyz', -7L, 64L, 1.75D, array(5L, 5L, 6L)),
        |(5L, NULL, 123L, -456L, NULL, array(1L, 2L, 3L, 4L))""".stripMargin)
    // the local oracle view: the SAME rows through the connector read
    // (values identical by the store's own gates), queried with
    // independently written Spark SQL
    spark.table("chfuzz.main.t").createOrReplaceTempView("fuzz_local")
    // graft-law expressions for the routing-pin rows
    org.apache.spark.sql.graft.bridge.registerFunction(spark, "t_city",
      args => graft.functions.ChHash(args.head, graft.functions.ChHashAlgo.City64))
    org.apache.spark.sql.graft.bridge.registerFunction(spark, "t_sip",
      args => graft.functions.ChHash(args.head, graft.functions.ChHashAlgo.Sip64))
    org.apache.spark.sql.graft.bridge.registerFunction(spark, "t_round",
      args => graft.functions.GraftChRound(args.head,
        args.lift(1).getOrElse(
          org.apache.spark.sql.catalyst.expressions.Literal(0))))
    graft.session.ClickHouseSession.builder(spark)
      .storePath(root).catalogName("chfuzz").build()
  }

  /** One grammar production: CH spelling and the independent Spark
    * spelling, as fragment builders over already-rendered children.
    */
  private case class Node(arity: Seq[Char], out: Char,
      chF: Seq[String] => String, spF: Seq[String] => String)

  /** Template instantiation: "$0"/"$1"/"$2" are child slots. */
  private def mk(arity: String, out: Char, ch: String, sp: String): Node =
    Node(arity.toSeq, out,
      cs => cs.zipWithIndex.foldLeft(ch) { case (t, (c, i)) => t.replace("$" + i, c) },
      cs => cs.zipWithIndex.foldLeft(sp) { case (t, (c, i)) => t.replace("$" + i, c) })

  // ---- the grammar ----------------------------------------------------
  // types: 's' string, 'i' bigint, 'd' double, 'a' array<bigint>
  private val nodes: Seq[Node] = Seq(
    // string surface
    mk("s", 's', "upper($0)", "upper($0)"),
    mk("s", 's', "toLowerCase($0)", "lower($0)"),
    mk("s", 's', "lowerUTF8($0)", "lower($0)"),
    mk("s", 's', "reverse($0)", "reverse($0)"),
    mk("s", 's', "trimBoth($0)", "trim($0)"),
    mk("s", 's', "trimLeft($0)", "ltrim($0)"),
    mk("s", 's', "replaceAll($0, 'l', 'L')", "replace($0, 'l', 'L')"),
    mk("s", 's', "replaceOne($0, 'a', '_')",
      "CASE WHEN locate('a', $0) = 0 THEN $0 ELSE concat(" +
        "substring($0, 1, locate('a', $0) - 1), '_', " +
        "substring($0, locate('a', $0) + 1)) END"),
    mk("s", 's', "substringUTF8($0, 2, 5)", "substring($0, 2, 5)"),
    mk("s", 's', "leftPad($0, 12, '.')", "lpad($0, 12, '.')"),
    mk("s", 's', "rightPad($0, 12, '.')", "rpad($0, 12, '.')"),
    mk("s", 's', "repeat($0, 2)", "repeat($0, 2)"),
    mk("ss", 's', "concat($0, $1)", "concat($0, $1)"),
    mk("ss", 's', "concatWithSeparator('-', $0, $1)", "concat_ws('-', $0, $1)"),
    mk("s", 's', "extract($0, '[a-z]+')", "regexp_extract($0, '[a-z]+', 0)"),
    mk("s", 's', "substringIndex($0, 'l', 2)", "substring_index($0, 'l', 2)"),
    mk("s", 's', "left($0, 4)", "left($0, 4)"),
    mk("s", 's', "right($0, 4)", "right($0, 4)"),
    mk("i", 's', "toString($0)", "cast($0 as string)"),
    // the fuzz strings carry no double quotes or backslashes, so
    // round-tripping one through the scanner is the identity on non-NULL
    // input
    mk("s", 's', "simpleJSONExtractString(concat('{\"k\":\"', $0, '\"}'), 'k')",
      "CASE WHEN $0 IS NULL THEN NULL ELSE $0 END"),
    // integer surface (byte laws exact on ASCII data)
    mk("s", 'i', "length($0)", "octet_length($0)"),
    mk("s", 'i', "lengthUTF8($0)", "char_length($0)"),
    mk("s", 'i', "position($0, 'l')", "cast(locate('l', $0) as int)"),
    mk("s", 'i', "ascii($0)", "ascii($0)"),
    mk("ii", 'i', "plus($0, $1)", "(($0) + ($1))"),
    mk("ii", 'i', "minus($0, $1)", "(($0) - ($1))"),
    mk("ii", 'i', "bitAnd($0, $1)", "(($0) & ($1))"),
    mk("ii", 'i', "bitOr($0, $1)", "(($0) | ($1))"),
    mk("ii", 'i', "bitXor($0, $1)", "(($0) ^ ($1))"),
    mk("i", 'i', "bitNot($0)", "(~($0))"),
    mk("i", 'i', "bitCount($0)", "cast(bit_count($0) as int)"),
    mk("ii", 'i', "intDiv($0, abs($1) % 7 + 1)", "(($0) div (abs($1) % 7 + 1))"),
    mk("ii", 'i', "modulo($0, abs($1) % 7 + 1)", "(($0) % (abs($1) % 7 + 1))"),
    mk("ii", 'i', "greatest($0, $1)", "greatest($0, $1)"),
    mk("ii", 'i', "least($0, $1)", "least($0, $1)"),
    mk("i", 'i', "negate($0)", "(-($0))"),
    mk("i", 'i', "abs($0)", "abs($0)"),
    mk("ii", 'i', "if($0 > $1, $0, $1)", "if(($0) > ($1), $0, $1)"),
    mk("d", 'i', "toInt64($0)", "cast($0 as bigint)"),
    mk("ii", 'i', "bitTest($0, abs($1) % 8)",
      "((shiftright($0, abs($1) % 8)) & 1)"),
    mk("a", 'i', "indexOf($0, 2)", "coalesce(array_position($0, 2), 0)"),
    mk("a", 'i', "length($0)", "size($0)"),
    mk("s", 'i',
      "simpleJSONExtractInt(concat('{\"k\":', toString(coalesce(length($0), 0)), '}'), 'k')",
      "cast(CASE WHEN $0 IS NULL THEN 0 ELSE octet_length($0) END as bigint)"),
    // double surface
    mk("ii", 'd', "divide($0, abs($1) % 7 + 1)",
      "(cast($0 as double) / (abs($1) % 7 + 1))"),
    mk("d", 'd', "abs($0)", "abs($0)"),
    mk("dd", 'd', "hypot($0, $1)", "hypot($0, $1)"),
    mk("d", 'd', "degrees($0)", "degrees($0)"),
    mk("d", 'd', "radians($0)", "radians($0)"),
    mk("i", 'd', "toFloat64($0)", "cast($0 as double)"),
    // routing pins: same Catalyst expression, independent route
    mk("d", 'd', "round($0, 1)", "t_round($0, 1)"),
    mk("s", 's', "toString(cityHash64($0))", "cast(t_city($0) as string)"),
    mk("s", 's', "toString(sipHash64($0))", "cast(t_sip($0) as string)"),
    mk("i", 's', "toString(cityHash64($0) % 1000)",
      "cast(t_city($0) % 1000 as string)"),
    // array surface
    mk("a", 'a', "arrayDistinct($0)", "array_distinct($0)"),
    mk("a", 'a', "arrayReverse($0)", "reverse($0)"),
    mk("aa", 'a', "arrayConcat($0, $1)", "concat($0, $1)"),
    mk("a", 'a', "arraySlice($0, 1, 2)", "slice($0, 1, 2)"),
    mk("a", 'a', "arrayPushBack($0, 9)", "concat($0, array(9L))"),
    mk("a", 'a', "arrayRotateLeft($0, 1)",
      "CASE WHEN size($0) <= 0 THEN $0 ELSE concat(" +
        "slice($0, pmod(1, size($0)) + 1, size($0) - pmod(1, size($0))), " +
        "slice($0, 1, pmod(1, size($0)))) END"))

  private val leaves: Map[Char, Seq[(String, String)]] = Map(
    // call-shaped literal text, an escaped quote and a qualified
    // backticked column: literals must reach the child verbatim
    's' -> Seq(("`s`", "s"), ("'Abc l0l'", "'Abc l0l'"),
      ("'length(x)'", "'length(x)'"), ("'it\\'s, has(1)'", "'it\\'s, has(1)'"),
      ("`t`.`s`", "t.s")),
    'i' -> Seq(("`a`", "a"), ("`b`", "b"), ("5", "5"), ("`id`", "id")),
    'd' -> Seq(("`d`", "d"), ("toFloat64(`a`)", "cast(a as double)")),
    'a' -> Seq(("`arr`", "arr")))

  private def gen(rng: scala.util.Random, typ: Char, depth: Int): (String, String) = {
    val candidates = nodes.filter(_.out == typ)
    if (depth <= 0 || candidates.isEmpty || rng.nextInt(4) == 0) {
      val ls = leaves(typ)
      ls(rng.nextInt(ls.size))
    } else {
      val node = candidates(rng.nextInt(candidates.size))
      val children = node.arity.map(t => gen(rng, t, depth - 1))
      (node.chF(children.map(_._1)), node.spF(children.map(_._2)))
    }
  }

  test("260 seeded 2-3-deep compositions: translator pipeline ≡ " +
    "independent Spark rendering, bit for bit") {
    val rng = new scala.util.Random(0xC0FFEE16L)
    val types = "siida" // weight ints/doubles a little higher
    var checked = 0
    val batches = 26
    val perBatch = 10
    for (batch <- 0 until batches) {
      val shapes = (0 until perBatch).map { j =>
        val t = types(rng.nextInt(types.length))
        (s"v$j", gen(rng, t, 3))
      }
      val chSqlText = "SELECT `id` AS id, " +
        shapes.map { case (nm, (c, _)) => s"$c AS $nm" }.mkString(", ") +
        " FROM `main`.`t` AS `t` ORDER BY `id`"
      val spSqlText = "SELECT id, " +
        shapes.map { case (nm, (_, sp)) => s"$sp AS $nm" }.mkString(", ") +
        " FROM fuzz_local AS t ORDER BY id"
      val got = ch.chSql(chSqlText).collect()
      val want = spark.sql(spSqlText).collect()
      assert(got.length == want.length, s"batch $batch row count")
      got.zip(want).foreach { case (g, w) =>
        shapes.indices.foreach { j =>
          val gv = g.get(j + 1)
          val wv = w.get(j + 1)
          assert(gv == wv,
            s"batch $batch shape ${shapes(j)._1} id=${g.get(0)}: " +
              s"translator gave $gv (${Option(gv).map(_.getClass.getSimpleName)}), " +
              s"independent rendering gave $wv — ch: ${shapes(j)._2._1} | " +
              s"spark: ${shapes(j)._2._2}")
          checked += 1
        }
      }
    }
    assert(checked >= 260 * 4, s"coverage collapsed: only $checked cells")
  }

  test("aggregate-combinator fuzz: -If family over composed arguments " +
    "≡ independent CASE renderings, grouped, bit for bit") {
    val rng = new scala.util.Random(0xA66A16L)
    // child fragments come in (ch, sp) pairs; sp() is a lookup
    var pairs = Map.empty[String, String]
    def reg(p: (String, String)): String = { pairs += (p._1 -> p._2); p._1 }
    def sp(ch: String): String = pairs(ch)
    val preds: Seq[(String, String) => (String, String)] = Seq(
      (i0, s0) => (s"($i0 > 40)", s"(${sp(i0)} > 40)"),
      (i0, s0) => (s"(($i0) % 2 = 0)", s"((${sp(i0)}) % 2 = 0)"),
      (i0, s0) => (s"like($s0, '%l%')", s"(${sp(s0)} LIKE '%l%')"),
      (i0, s0) => (s"(position($s0, 'l') > 0)",
        s"(locate('l', ${sp(s0)}) > 0)"))
    var checked = 0
    for (batch <- 0 until 12) {
      pairs = Map.empty
      val i0 = reg(gen(rng, 'i', 2))
      val i1 = reg(gen(rng, 'i', 2))
      val s0 = reg(gen(rng, 's', 2))
      val (chP, spP) = preds(rng.nextInt(preds.size))(i0, s0)
      val aggs = Seq(
        (s"countIf($chP)",
          s"cast(sum(CASE WHEN $spP THEN 1 ELSE 0 END) as bigint)"),
        (s"countIf($i1, $chP)",
          s"count(CASE WHEN $spP THEN ${sp(i1)} END)"),
        (s"sumIf($i1, $chP)", s"sum(CASE WHEN $spP THEN ${sp(i1)} END)"),
        (s"minIf($i1, $chP)", s"min(CASE WHEN $spP THEN ${sp(i1)} END)"),
        (s"maxIf($i1, $chP)", s"max(CASE WHEN $spP THEN ${sp(i1)} END)"),
        (s"uniqExactIf($i1, $chP)",
          s"count(DISTINCT CASE WHEN $spP THEN ${sp(i1)} END)"))
      val chSqlText = "SELECT `id` % 2 AS g, " +
        aggs.zipWithIndex.map { case ((c, _), j) => s"$c AS v$j" }
          .mkString(", ") +
        " FROM `main`.`t` AS `t` GROUP BY `id` % 2 ORDER BY g"
      val spSqlText = "SELECT id % 2 AS g, " +
        aggs.zipWithIndex.map { case ((_, p), j) => s"$p AS v$j" }
          .mkString(", ") +
        " FROM fuzz_local AS t GROUP BY id % 2 ORDER BY g"
      val got = ch.chSql(chSqlText).collect()
      val want = spark.sql(spSqlText).collect()
      assert(got.length == want.length, s"agg batch $batch row count")
      got.zip(want).foreach { case (g, w) =>
        aggs.indices.foreach { j =>
          assert(g.get(j + 1) == w.get(j + 1),
            s"agg batch $batch v$j g=${g.get(0)}: translator " +
              s"${g.get(j + 1)} vs independent ${w.get(j + 1)} — " +
              s"ch: ${aggs(j)._1} | sp: ${aggs(j)._2}")
          checked += 1
        }
      }
    }
    assert(checked >= 12 * 6 * 2, s"agg coverage collapsed: $checked cells")
  }
}
