package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.session.ClickHouseSession

/** The embedded engine's function surface: a battery of commonly-used
  * ClickHouse scalar and aggregate spellings, each translated and
  * executed on a one-row table. Every main-list spelling must run;
  * every `knownUnmapped` spelling must still reject loudly (a spelling
  * that starts to run means a mapping landed — move it to the main
  * list, after pinning its law in a value spec).
  */
class FnSurfaceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .appName("fn-surface-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val ch: ClickHouseSession = {
    val root = Files.createTempDirectory("graft_fnsurface_").toString
    spark.conf.set("spark.sql.catalog.chfn",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chfn.path", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chfn.main")
    spark.sql(
      """CREATE TABLE chfn.main.t (id BIGINT, s STRING, a BIGINT, b BIGINT,
        |  arr ARRAY<BIGINT>, sa ARRAY<STRING>, m MAP<STRING, BIGINT>,
        |  d DOUBLE, ts TIMESTAMP, dt DATE)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    spark.sql(
      "INSERT INTO chfn.main.t SELECT 1L, 'Hello World', 5L, 3L, " +
        "array(3L, 1L, 2L, 2L), array('x', 'y'), map('k', 1L), 2.5D, " +
        "timestamp'2024-03-05 10:20:30', date'2024-03-05'")
    ClickHouseSession.builder(spark).storePath(root).catalogName("chfn").build()
  }

  private val exprs = Seq(
    // array family
    "arrayZip(arr, arr)", "arrayCompact(arr)", "arrayFlatten([arr, arr])",
    "arrayStringConcat(sa, ',')", "arrayConcat(arr, arr)",
    "arrayDistinct(arr)", "arraySlice(arr, 2, 2)", "arrayReverse(arr)",
    "arrayIntersect(arr, arr)", "arrayPushBack(arr, 9)",
    "arrayPushFront(arr, 9)", "arrayPopBack(arr)", "arrayPopFront(arr)",
    "arrayResize(arr, 6, 0)", "arrayElement(arr, 1)", "indexOf(arr, 2)",
    "countEqual(arr, 2)", "arrayEnumerate(arr)", "arrayAvg(arr)",
    "arraySum(arr)", "arrayMin(arr)", "arrayMax(arr)", "arrayProduct(arr)",
    "arrayUniq(arr)", "arrayJoin(arr)",
    // map family
    "mapKeys(m)", "mapValues(m)", "mapContains(m, 'k')",
    // tuple
    "tupleElement((a, b), 1)", "tuple(a, b)",
    // string family
    "splitByString('l', s)", "splitByRegexp('[lo]', s)",
    "extract(s, '([A-Z])')", "extractAll(s, '([A-Z])')",
    "replaceAll(s, 'l', 'L')", "replaceOne(s, 'l', 'L')",
    "replaceRegexpAll(s, '[lo]', '_')",
    "startsWith(s, 'He')", "endsWith(s, 'ld')", "trimBoth(s)",
    "trimLeft(s)", "trimRight(s)", "leftPad(s, 15, '.')",
    "rightPad(s, 15, '.')", "reverse(s)", "repeat(s, 2)", "concatWithSeparator('-', s, s)",
    "substringUTF8(s, 1, 4)", "lowerUTF8(s)", "upperUTF8(s)",
    "countSubstrings(s, 'l')", "positionCaseInsensitive(s, 'WORLD')",
    "match(s, 'H.*d')", "like(s, 'Hello%')", "notLike(s, 'x%')",
    "ilike(s, 'hello%')", "left(s, 3)", "right(s, 3)", "ascii(s)",
    "format('{}-{}', s, s)",
    // conditional / null
    "ifNull(s, 'x')", "nullIf(a, b)", "assumeNotNull(a)", "isNull(a)",
    "isNotNull(a)", "if(a > b, 'hi', 'lo')", "multiIf(a > b, 'x', 'y')",
    "greatest(a, b)", "least(a, b)",
    // math / bit
    "bitCount(a)", "bitAnd(a, b)", "bitOr(a, b)", "bitXor(a, b)",
    "bitShiftLeft(a, 1)", "bitShiftRight(a, 1)", "bitNot(a)",
    "intDiv(a, b)", "intDivOrZero(a, b)", "moduloOrZero(a, b)",
    "pow(a, 2)", "exp2(a)", "log2(a)",
    "exp10(a)", "log10(a)", "cbrt(d)", "sign(d)",
    "roundBankers(d)", "floor(d)", "ceiling(d)", "trunc(d)", "trunc(d, 1)",
    // date / time
    "toYear(ts)", "toMonth(ts)", "toDayOfMonth(ts)", "toDayOfWeek(ts)",
    "toHour(ts)", "toMinute(ts)", "toSecond(ts)", "toQuarter(ts)",
    "toDayOfYear(ts)", "toStartOfWeek(ts)", "toStartOfQuarter(ts)",
    "toMonday(ts)", "addDays(ts, 3)", "subtractDays(ts, 3)",
    "addHours(ts, 3)", "addMonths(ts, 3)", "addYears(ts, 1)",
    "dateDiff('day', dt, dt)", "toUnixTimestamp(ts)",
    "fromUnixTimestamp(1700000000)", "formatDateTime(ts, '%Y-%m-%d')",
    "toYYYYMM(ts)", "toYYYYMMDD(ts)", "today()", "yesterday()",
    // hash / encoding (round 15: the CH hash family evaluates
    // embedded — public-spec kernels, vectors pinned in HashKernelSpec)
    "xxHash64(s)", "xxHash32(s)", "cityHash64(s)", "cityHash64(id)",
    "sipHash64(s)", "halfMD5(s)", "farmFingerprint64(s)",
    "MD5(s)", "SHA256(s)", "crc32(s)",
    "hex(a)", "unhex(hex(a))", "base64Decode(base64Encode(s))",
    "bin(a)", "bitPositionsToArray(a)",
    // exact integer laws + replace-first (round 15)
    "gcd(a, b)", "lcm(a, b)", "replaceRegexpOne(s, '[lo]', '_')",
    // type conv
    "toInt64(d)", "toFloat64(a)", "toString(a)", "toDate(ts)",
    "toInt64OrNull(s)", "toInt64OrZero(s)", "toFloat64OrNull(s)",
    // misc
    "generateUUIDv4()", "rand()", "randCanonical()", "e()", "pi()",
    "least(greatest(a, 0), 10)", "transform(a, [5, 3], ['f', 't'], '?')",
    // ---- round-15 sweep 2 ----
    // math: Spark natives with identical names + laws (degrees..expm1);
    // factorial agrees on the defined domain 0..20 (beyond it the
    // server throws where Spark returns NULL — error behavior, never a
    // value lie); IEEE classification composes (NaN false both forms)
    "degrees(d)", "radians(d)", "hypot(d, d)", "atan2(d, d)",
    "sinh(d)", "cosh(d)", "tanh(d)", "asinh(d)", "acosh(d)", "atanh(1/d)",
    "log1p(d)", "expm1(d)", "factorial(a)",
    "isFinite(d)", "isInfinite(d)", "ifNotFinite(d * 1e308 * 1e308, d)", "isNaN(d)",
    // named arithmetic (divide is always Float64, the server law)
    "plus(a, b)", "minus(a, b)", "multiply(a, b)", "divide(a, b)",
    "negate(a)",
    // bit tests
    "bitTest(a, 0)", "bitTestAll(a, 0, 2)", "bitTestAny(a, 1, 2)",
    // date: fixed-interval truncations + ISO week-year
    "toISOYear(ts)", "toStartOfFiveMinutes(ts)", "toStartOfTenMinutes(ts)",
    "toStartOfFifteenMinutes(ts)", "timeSlot(ts)",
    "toStartOfInterval(ts, INTERVAL 15 MINUTE)",
    "toStartOfInterval(ts, INTERVAL 1 DAY)",
    // string codepoint forms
    "substringIndex(s, 'l', 2)", "leftUTF8(s, 3)", "rightUTF8(s, 3)",
    "arrayRotateLeft(arr, 2)", "arrayRotateRight(arr, 1)",
    "arrayShiftLeft(arr, 2, 0)", "arrayShiftRight(arr, 1, 0)",
    "sipHash64Keyed((0, 0), s)",
    "round(d)", "round(d, 1)",
    "positionUTF8(s, 'World')",
    // URL family (byte-scan laws as anchored regexes; doc-example
    // boundary values pinned in DifferentialSpec)
    "protocol('https://x.com/a')", "domain('https://x.com:80/a')",
    "domainWithoutWWW('http://www.x.com/a')",
    "topLevelDomain('svn+ssh://www.some.svn-hosting.com:80/repo')",
    "path('https://x.com/top/news.html?q=1')",
    "pathFull('https://x.com/top/news.html?q=1#f')",
    "queryString('https://x.com/a?q=1&r=2#f')",
    "fragment('https://x.com/a#frag')",
    "cutQueryString('https://x.com/a?q=1#f')",
    "extractURLParameter('https://x.com/a?q=1&r=2', 'r')",
    // round-11 JSON family (kept: literal-key get_json_object law)
    "JSONExtractString('{\"k\":\"v\"}', 'k')", "JSONHas('{\"k\":1}', 'k')",
    // ---- round-16 wave ----
    // simpleJSON/visitParam byte-scanner family (documented scanner
    // law as codegen kernels; doc examples pinned in SimpleJsonSpec)
    "simpleJSONHas('{\"k\":\"v\"}', 'k')",
    "simpleJSONExtractUInt('{\"k\":\"4e3\"}', 'k')",
    "simpleJSONExtractInt('{\"k\":-3.4}', 'k')",
    "simpleJSONExtractFloat('{\"k\":\"4e3\"}', 'k')",
    "simpleJSONExtractBool('{\"k\":true}', 'k')",
    "simpleJSONExtractRaw('{\"k\":{\"a\":[1,2]}}', 'k')",
    "simpleJSONExtractString('{\"k\":\"v\"}', 'k')",
    "visitParamHas('{\"k\":1}', 'k')",
    "visitParamExtractString('{\"k\":\"v\"}', 'k')",
    // JSONLength: array/object polymorphic length, 0-default
    "JSONLength('[1,2]')", "JSONLength('{\"a\":1,\"b\":2}')",
    "JSONLength('{\"a\":[1,2,3]}', 'a')",
    // default firstSignificantSubdomain heuristic (4-name law; the
    // *Custom variants still need a TLD list and stay rejected)
    "firstSignificantSubdomain('https://news.clickhouse.com.tr/')",
    "cutToFirstSignificantSubdomain('https://news.clickhouse.com.tr/')",
    // round-16: countMatches (regexp_count law), translate (Spark's
    // builtin shares the name AND the per-char map law on the
    // equal-length domain — the server errors on unequal from/to
    // where Spark drops chars: error behavior, never a value lie),
    // fixed splitByChar (regex-escaped literal separator)
    "countMatches(s, 'l+')", "translate(s, 'lo', 'LO')",
    "splitByChar('.', 'a.b.c')",
    // round-17: multi-argument combine chains (pinned combiners)
    "cityHash64(s, a)", "sipHash64(s, a)", "cityHash64(s, a, s)",
    // round-17 sweep: parseDateTime (PARSE-sharable directives),
    // dateAdd/dateSub spellings, RFC 3986 percent-encoding,
    // bitmask expansion
    "parseDateTime('2024-03-07 08:05:09', '%Y-%m-%d %H:%i:%s')",
    "parseDateTimeOrNull('garbage', '%Y-%m-%d')",
    "parseDateTimeOrZero('garbage', '%F')",
    "dateAdd(DAY, 3, ts)", "dateAdd('hour', 2, ts)",
    "dateSub(MONTH, 1, ts)", "date_add(ts, INTERVAL 2 HOUR)",
    "date_sub(ts, INTERVAL 1 DAY)",
    "encodeURLComponent(s)", "decodeURLComponent('Hello%20World%21')",
    "encodeURLFormComponent(s)", "decodeURLFormComponent('a+b%2B')",
    "bitmaskToList(a)", "bitmaskToArray(a)",
    "multiSearchAny(s, ['World', 'xyzq'])", "hasToken(s, 'Hello')",
    "extractGroups('abc=111', '(\\\\w+)=(\\\\w+)')",
    "position(s, 'l', 3)", "roundToExp2(a)", "toLastDayOfMonth(ts)",
    "windowFunnel(3600)(ts, a > 0, b > 0)",
    "retention(a > 0, b > 0)", "uniqUpTo(3)(a)",
    "sequenceMatch('(?1)(?t<=3600)(?2)')(ts, a > 0, b > 0)",
    "sequenceMatch('(?1).*(?2)')(ts, a > 0, b > 0)",
    "sequenceCount('(?1)(?2)')(ts, a > 0, b > 0)",
    "tupleElement(sumMap([s], [a]), 2)",
    "tupleElement(sumMapWithOverflow([s], [a]), 2)",
    "tupleElement(minMap([s], [a]), 1)",
    "tupleElement(maxMap([s], [a]), 2)",
    "groupBitAnd(a)", "groupBitOr(a)", "groupBitXor(a)",
    "arrayDifference(arr)", "arrayCumSum(arr)",
    "arrayCumSumNonNegative(arr)",
    // round-16 URL additions + JSONExtractKeys
    "cutFragment('https://x.com/a#f')",
    "cutQueryStringAndFragment('https://x.com/a?q=1#f')",
    "netloc('http://paul@www.example.com:80/p')",
    "port('http://x.com:8080/p')", "port('http://x.com/p', 443)",
    "JSONExtractKeys('{\"a\":1,\"b\":2}')",
    // calendar-origin interval steps (DateLUT origin laws)
    "toStartOfInterval(ts, INTERVAL 1 WEEK)",
    "toStartOfInterval(ts, INTERVAL 2 WEEK)",
    "toStartOfInterval(ts, INTERVAL 2 MONTH)",
    "toStartOfInterval(ts, INTERVAL 2 QUARTER)",
    "toStartOfInterval(ts, INTERVAL 5 YEAR)",
    // zero-argument count(), as an aggregate and as a window
    "count()", "count() OVER (PARTITION BY id)")
  // deliberately unmapped on the embedded engine (no value-exact Spark
  // composition / server-version-dependent law) — these REJECT loudly
  // here and execute only against a real server via the wire transport
  private val knownUnmapped = Seq(
    // farmHash64 is farmhash's PLATFORM-SELECTED Hash64 — not stable
    // across machines even against a real server, so it stays
    // rejected (farmFingerprint64 is the stable sibling, mapped)
    "erf(d)", "farmHash64(s)", "toTypeName(a)",
    "parseDateTimeBestEffortOrNull(s)",
    // multi-arg combines for the OTHER hash algos stay unmapped
    // (cityHash64/sipHash64 chains landed round 17 — main list)
    "xxHash64(s, a)", "halfMD5(s, a)",
    // roundToExp2's FLOAT law works on the exponent field — the
    // integral form maps (main list), the float form rejects
    "roundToExp2(d)",
    // JSONExtractRaw keeps rejecting: get_json_object unquotes string
    // values, so the quote-preserving raw form is not expressible
    // (simpleJSONExtractRaw's scanner law is the supported raw form)
    "JSONExtractRaw('{\"k\":{}}', 'k')",
    // the Custom variants DO need a TLD list — not shipped offline
    "firstSignificantSubdomainCustom('https://x.com/', 'l')",
    // pre-origin calendar intervals hit the server's unsigned-day
    // wraparound (not a pinnable value) — loud reject, never garbage
    "toStartOfInterval(toDateTime64('1969-06-01 00:00:00.000000', 6), INTERVAL 2 WEEK)")

  /** Runs each spelling as `SELECT <e> AS v FROM main.t`; returns the
    * spellings that threw, with the first line of the error.
    */
  private def failures(es: Seq[String]): Seq[(String, String)] =
    es.flatMap { e =>
      try {
        ch.chSql(s"SELECT $e AS v FROM `main`.`t`").collect()
        None
      } catch {
        case ex: Throwable =>
          Some(e -> String.valueOf(ex.getMessage).linesIterator.toSeq
            .headOption.getOrElse("").take(110))
      }
    }

  test("every mapped spelling translates and runs on the embedded engine") {
    val failed = failures(exprs)
    assert(failed.isEmpty,
      s"OK=${exprs.size - failed.size} FAIL=${failed.size}\n" +
        failed.map { case (e, m) => s"FAIL $e :: $m" }.mkString("\n"))
  }

  test("every known-unmapped spelling still rejects loudly") {
    val rejected = failures(knownUnmapped).toMap
    val running = knownUnmapped.filterNot(rejected.contains)
    assert(running.isEmpty,
      s"a mapping landed for ${running.mkString(", ")} — move it to the main list")
    knownUnmapped.foreach(e =>
      assert(rejected(e).trim.nonEmpty, s"$e rejected without a message"))
  }
}
