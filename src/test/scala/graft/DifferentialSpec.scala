package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Randomized differential harness for the pushdown read path: the SAME
  * Column expressions run against the remote connector table and the
  * local parquet view of identical data, and every collected result must
  * match bit-for-bit. A fixed seed keeps failures reproducible.
  *
  * This complements the oracle battery: the gates pin ~30 hand-picked
  * remote shapes, while this sweep walks a predicate/projection grammar
  * (comparisons, arithmetic, string functions, IN lists, LIKE, null
  * checks, boolean combinators at depth) across the exact-pushdown,
  * residual-filter, and expression-projection paths — any unparser edge
  * case that changes semantics (rather than erroring) surfaces as a
  * diff, not a silent wrong answer in production.
  */
class DifferentialSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.queries.ConnectorQueries.harness(s, sfDir)
    Tables.register(s, sfDir)
    s
  }

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Predicate grammar over the customer schema. */
  private def pred(r: Random, depth: Int): Column = {
    val leaf = r.nextInt(10) match {
      case 0 => col("c_acctbal") > (r.nextInt(10000) - 2000).toDouble
      case 1 => col("c_acctbal") <= (r.nextInt(8000)).toDouble
      case 2 => col("c_custkey") % (r.nextInt(9) + 2) === r.nextInt(5)
      case 3 => col("c_mktsegment") === segments(r.nextInt(segments.size))
      case 4 => col("c_name").startsWith(s"Customer#${r.nextInt(10)}")
      case 5 => length(col("c_name")) > r.nextInt(20)
      case 6 => col("c_nationkey").isin(Seq.fill(r.nextInt(4) + 1)(r.nextInt(25)): _*)
      case 7 => col("c_acctbal") * 2 + r.nextInt(100) < r.nextInt(12000).toDouble
      case 8 => col("c_mktsegment").isNotNull
      case 9 => upper(col("c_mktsegment")).contains("ING")
    }
    if (depth > 0 && r.nextInt(3) > 0) {
      val other = pred(r, depth - 1)
      r.nextInt(3) match {
        case 0 => leaf && other
        case 1 => leaf || other
        case 2 => !leaf
      }
    } else leaf
  }

  /** Projection grammar: plain prunes and computed expressions. */
  private def proj(r: Random): Seq[Column] = r.nextInt(4) match {
    case 0 => Seq(col("c_custkey"), col("c_name"), col("c_acctbal"))
    case 1 => Seq(col("c_custkey"), col("c_mktsegment"))
    case 2 => Seq(col("c_custkey"),
      (col("c_acctbal") * 2 + 1).as("x"),
      substring(col("c_name"), 1, r.nextInt(12) + 1).as("pfx"))
    case 3 => Seq(col("c_custkey"),
      concat(col("c_mktsegment"), lit("-"), col("c_nationkey").cast("string")).as("tag"),
      length(col("c_name")).as("len"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "NULL"
      case d: Double => java.lang.Double.toString(d)
      // the connector maps DateTime64 to TimestampType (an instant, as
      // the official ClickHouse connector does) while the raw parquet
      // view reads TIMESTAMP_NTZ — under the UTC session both denote
      // the same wall time but collect() as different JVM types; compare
      // the wall time
      case t: java.sql.Timestamp => java.time.Instant.ofEpochMilli(t.getTime)
        .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      case d: java.time.LocalDateTime => d.toString
      case v => v.toString
    }.mkString("|")).sorted.toSeq

  test("60 random filter+projection shapes agree remote vs local, bit for bit") {
    val r = new Random(42)
    val remote = spark.table("clickhouse.main.customer")
    val local = spark.table("customer")
    var nonEmpty = 0
    (1 to 60).foreach { i =>
      val p = pred(r, 2)
      val cols = proj(r)
      val a = canon(remote.filter(p).select(cols: _*))
      val b = canon(local.filter(p).select(cols: _*))
      assert(a == b, s"case $i diverged for predicate ${p.toString}")
      if (a.nonEmpty) nonEmpty += 1
    }
    // the sweep must actually exercise data, not vacuous empty matches
    assert(nonEmpty > 30)
  }

  test("random shapes over an ALTER-EVOLVED table agree with local, bit " +
    "for bit: pushdown holds on renamed and added columns") {
    val r = new Random(77)
    spark.sql("DROP TABLE IF EXISTS clickhouse.main.cust_evo_diff")
    spark.sql(
      """CREATE TABLE clickhouse.main.cust_evo_diff
        |(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'c_custkey')""".stripMargin)
    spark.sql(
      """INSERT INTO clickhouse.main.cust_evo_diff
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer""".stripMargin)
    spark.sql("ALTER TABLE clickhouse.main.cust_evo_diff RENAME COLUMN c_acctbal TO bal")
    spark.sql("ALTER TABLE clickhouse.main.cust_evo_diff ADD COLUMN flag BIGINT NOT NULL")
    val remote = spark.table("clickhouse.main.cust_evo_diff")
    // the local mirror reconstructs the same evolution arithmetically
    val local = spark.table("customer").select(
      col("c_custkey"), col("c_name"), col("c_acctbal").as("bal"),
      col("c_mktsegment"), lit(0L).as("flag"))
    def evoPred(depth: Int): Column = {
      val leaf = r.nextInt(6) match {
        case 0 => col("bal") > (r.nextInt(10000) - 2000).toDouble
        case 1 => col("bal") * 2 + r.nextInt(50) <= r.nextInt(12000).toDouble
        case 2 => col("flag") === 0
        case 3 => col("c_mktsegment") === segments(r.nextInt(segments.size))
        case 4 => col("c_custkey") % (r.nextInt(7) + 2) === r.nextInt(4)
        case 5 => col("c_name").endsWith(r.nextInt(10).toString)
      }
      if (depth > 0 && r.nextInt(3) > 0) {
        val other = evoPred(depth - 1)
        r.nextInt(3) match {
          case 0 => leaf && other
          case 1 => leaf || other
          case 2 => !leaf
        }
      } else leaf
    }
    var nonEmpty = 0
    (1 to 25).foreach { i =>
      val p = evoPred(2)
      val cols = Seq(col("c_custkey"), col("bal"),
        (col("bal") + col("flag")).as("x"))
      val a = canon(remote.filter(p).select(cols: _*))
      val b = canon(local.filter(p).select(cols: _*))
      assert(a == b, s"evolved case $i diverged for ${p.toString}")
      if (a.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 10)
    spark.sql("DROP TABLE clickhouse.main.cust_evo_diff")
  }

  test("random GROUP BY aggregate shapes agree remote vs local") {
    val r = new Random(1234)
    val remote = spark.table("clickhouse.main.customer")
    val local = spark.table("customer")
    // deterministic aggregates only: float SUM depends on partition
    // order even within one engine, so the sweep pins count/min/max/
    // integer-sum (the oracle gates cover rounded float sums)
    val aggPool: Seq[() => Column] = Seq(
      () => count(lit(1)).as("cnt"),
      () => sum(col("c_custkey")).as("sk"),
      () => min(col("c_acctbal")).as("mn"),
      () => max(col("c_acctbal")).as("mx"),
      () => countDistinct(col("c_nationkey")).as("nd"),
      // round-11 collapse surface: FILTER-clause aggregates (-If
      // combinators remotely) and max_by/min_by (argMax/argMin) — the
      // unique c_custkey ordering keeps tie-breaks out of the sweep
      () => expr("sum(c_custkey) FILTER (WHERE c_acctbal > 0)").as("sif"),
      () => expr("count(*) FILTER (WHERE c_acctbal < 5000)").as("cif"),
      () => expr("max_by(c_mktsegment, c_custkey)").as("mb"),
      () => expr("min_by(c_mktsegment, c_custkey)").as("mnb"))
    val keyPool: Seq[Seq[Column]] = Seq(
      Seq(col("c_mktsegment")),
      Seq(col("c_nationkey")),
      Seq(col("c_mktsegment"), col("c_nationkey")),
      Seq((col("c_custkey") % 5).as("bucket")))
    (1 to 20).foreach { i =>
      val p = pred(r, 1)
      val keys = keyPool(r.nextInt(keyPool.size))
      val aggs = r.shuffle(aggPool).take(r.nextInt(3) + 1).map(_.apply())
      val a = canon(remote.filter(p).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
      val b = canon(local.filter(p).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
      assert(a == b, s"agg case $i diverged")
    }
  }

  test("random shapes over a SHARDED catalog agree with local, bit for bit " +
    "(per-shard execution + union / partial-agg merge semantics)") {
    // two-shard hermetic cluster seeded through the hash-routed connector
    // write path; the SAME grammar then runs sharded-vs-local — any
    // operation whose semantics do NOT distribute over the shard union
    // (a wrongly-collapsed aggregate, a per-shard OFFSET, a dropped
    // LIMIT re-apply) diverges here instead of in production
    val rootA = java.nio.file.Files.createTempDirectory("graft_diffsh_a_").toString
    val rootB = java.nio.file.Files.createTempDirectory("graft_diffsh_b_").toString
    spark.conf.set("spark.sql.catalog.chdiffsh",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chdiffsh.path", s"$rootA,$rootB")
    spark.conf.set("spark.sql.catalog.chdiffsh.shard_by", "c_custkey")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chdiffsh.main")
    spark.sql(
      """CREATE TABLE chdiffsh.main.customer
        |(c_custkey BIGINT, c_name STRING, c_nationkey INT,
        | c_acctbal DOUBLE, c_mktsegment STRING)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'c_custkey')""".stripMargin)
    spark.sql(
      """INSERT INTO chdiffsh.main.customer
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer""".stripMargin)
    val sharded = spark.table("chdiffsh.main.customer")
    val local = spark.table("customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    // both shards must actually hold data or the sweep is vacuous
    val perShard = Seq(rootA, rootB).map(p =>
      new graft.client.EmbeddedClickHouse(p)
        .query("SELECT count(*) AS n FROM `main`.`customer`", 1)._2.flatten.head.getLong(0))
    assert(perShard.forall(_ > 0), s"shard row counts: $perShard")
    val r = new Random(7177)
    (1 to 30).foreach { i =>
      val p = pred(r, 2)
      val cols = proj(r)
      val a = canon(sharded.filter(p).select(cols: _*))
      val b = canon(local.filter(p).select(cols: _*))
      assert(a == b, s"sharded filter case $i diverged for ${p.toString}")
    }
    // merge-safe aggregates through the partial-pushdown downgrade
    val aggPool: Seq[() => Column] = Seq(
      () => count(lit(1)).as("cnt"),
      () => sum(col("c_custkey")).as("sk"),
      () => min(col("c_acctbal")).as("mn"),
      () => max(col("c_acctbal")).as("mx"),
      () => countDistinct(col("c_nationkey")).as("nd"))
    val keyPool: Seq[Seq[Column]] = Seq(
      Seq(col("c_mktsegment")),
      Seq(col("c_nationkey")),
      Seq((col("c_custkey") % 7).as("bucket")))
    (1 to 15).foreach { i =>
      val p = pred(r, 1)
      val keys = keyPool(r.nextInt(keyPool.size))
      val aggs = r.shuffle(aggPool).take(r.nextInt(3) + 1).map(_.apply())
      val a = canon(sharded.filter(p).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
      val b = canon(local.filter(p).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
      assert(a == b, s"sharded agg case $i diverged")
    }
    // ORDER BY + LIMIT: per-shard upper bounds re-limited by Spark
    (1 to 10).foreach { i =>
      val n = r.nextInt(20) + 1
      val a = canon(sharded.orderBy(col("c_custkey")).limit(n))
      val b = canon(local.orderBy(col("c_custkey")).limit(n))
      assert(a == b, s"sharded top-$n case $i diverged")
    }
    // ORDER BY + OFFSET (+ LIMIT): OFFSET must never push per shard — a
    // shard-local skip drops rows another shard should have contributed;
    // Spark ships LIMIT(limit+offset) as the per-shard upper bound and
    // applies the skip globally (spec-pinned rule, randomized here)
    (1 to 10).foreach { i =>
      val o = r.nextInt(30) + 1
      val n = r.nextInt(20) + 1
      val a = canon(sharded.orderBy(col("c_custkey")).offset(o).limit(n))
      val b = canon(local.orderBy(col("c_custkey")).offset(o).limit(n))
      assert(a == b, s"sharded offset-$o limit-$n case $i diverged")
      val ao = canon(sharded.orderBy(col("c_custkey")).offset(o))
      val bo = canon(local.orderBy(col("c_custkey")).offset(o))
      assert(ao == bo, s"sharded bare offset-$o case $i diverged")
    }
    // DISTINCT over the shard union: dedup must be global (a non-key
    // distinct wholly pushed per shard would keep cross-shard duplicates)
    (1 to 5).foreach { i =>
      val p = pred(r, 0)
      val a = canon(sharded.filter(p).select(col("c_mktsegment")).distinct())
      val b = canon(local.filter(p).select(col("c_mktsegment")).distinct())
      assert(a == b, s"sharded distinct case $i diverged for ${p.toString}")
    }
  }

  test("random PASSTHROUGH function shapes agree remote vs Spark-local " +
    "equivalents, bit for bit (unparse → embedded translate round-trip)") {
    import graft.chfunctions._
    GraftSession.install(spark) // passthrough needs the pushdown rule
    val remote = spark.table("clickhouse.main.customer")
    val local = spark.table("customer")
    // (remote passthrough column, local Spark equivalent) pairs — every
    // pair crosses clickhouse_fn → ChExprUnparser → ChSqlTranslator →
    // Spark, so a divergence pins a translator/unparser bug
    val pairs: Vector[(String, Column, Column)] = Vector(
      ("upper", clickhouse_fn("toUpperCase", Seq(col("c_name")), "String"),
        upper(col("c_name"))),
      ("lower", clickhouse_fn("toLowerCase", Seq(col("c_mktsegment")), "String"),
        lower(col("c_mktsegment"))),
      ("lenU8", clickhouse_fn("lengthUTF8", Seq(col("c_name")), "Int64"),
        char_length(col("c_name")).cast("bigint")),
      ("b64", clickhouse_fn("base64Encode", Seq(col("c_name")), "String"),
        base64(col("c_name").cast("binary"))),
      ("tostr", clickhouse_fn("toString", Seq(col("c_custkey")), "String"),
        col("c_custkey").cast("string")),
      ("mod7", clickhouse_fn("modulo", Seq(col("c_custkey"), lit(7)), "Int64"),
        col("c_custkey") % 7),
      ("idiv", clickhouse_fn("intDiv", Seq(col("c_custkey"), lit(3)), "Int64"),
        expr("c_custkey div 3")),
      ("sig", clickhouse_fn("sigmoid",
        Seq((col("c_acctbal") / 1000.0)), "Float64"),
        lit(1.0) / (lit(1.0) + exp(-(col("c_acctbal") / 1000.0)))),
      ("abs", clickhouse_fn("abs", Seq(col("c_acctbal")), "Float64"),
        abs(col("c_acctbal"))),
      ("rev", clickhouse_fn("reverse", Seq(col("c_name")), "String"),
        reverse(col("c_name"))),
      ("cat", clickhouse_fn("concat",
        Seq(col("c_name"), lit("_"), col("c_mktsegment")), "String"),
        concat(col("c_name"), lit("_"), col("c_mktsegment"))),
      ("sub", clickhouse_fn("substring",
        Seq(col("c_name"), lit(2), lit(5)), "String"),
        substring(col("c_name"), 2, 5)),
      ("crc", clickhouse_fn("CRC32", Seq(col("c_name")), "Int64"),
        crc32(col("c_name"))),
      // nested: passthrough composing passthrough
      ("upRev", clickhouse_fn("toUpperCase",
        Seq(clickhouse_fn("reverse", Seq(col("c_name")), "String")), "String"),
        upper(reverse(col("c_name")))))
    val r = new Random(7)
    (1 to 20).foreach { i =>
      val p = pred(r, 1)
      val chosen = r.shuffle(pairs).take(r.nextInt(3) + 2)
      val a = canon(remote.filter(p).select(
        col("c_custkey") +: chosen.map { case (n, rc, _) => rc.as(n) }: _*))
      val b = canon(local.filter(p).select(
        col("c_custkey") +: chosen.map { case (n, _, lc) => lc.as(n) }: _*))
      assert(a == b,
        s"passthrough case $i (${chosen.map(_._1).mkString(",")}) diverged " +
          s"for ${p.toString}")
    }
  }

  test("random DATE/STRING passthrough shapes over a DateTime64 table " +
    "agree remote vs Spark-local, bit for bit") {
    import graft.chfunctions._
    GraftSession.install(spark)
    val remote = spark.table("clickhouse.main.orders")
    val local = spark.table("orders")
    val ts = col("o_orderdate")
    val pairs: Vector[(String, Column, Column)] = Vector(
      ("yr", clickhouse_fn("toYear", Seq(ts), "Int32"), year(ts)),
      ("mo", clickhouse_fn("toMonth", Seq(ts), "Int32"), month(ts)),
      ("dom", clickhouse_fn("toDayOfMonth", Seq(ts), "Int32"), dayofmonth(ts)),
      ("qtr", clickhouse_fn("toQuarter", Seq(ts), "Int32"), quarter(ts)),
      ("doy", clickhouse_fn("toDayOfYear", Seq(ts), "Int32"), dayofyear(ts)),
      ("som", clickhouse_fn("toStartOfMonth", Seq(ts), "DateTime64(3)"),
        date_trunc("month", ts)),
      ("sod", clickhouse_fn("toStartOfDay", Seq(ts), "DateTime64(3)"),
        date_trunc("day", ts)),
      ("dt", clickhouse_fn("toDate", Seq(ts), "Date"), to_date(ts)),
      ("pos", clickhouse_fn("position",
        Seq(col("o_orderpriority"), lit("E")), "Int64"),
        locate("E", col("o_orderpriority")).cast("bigint")),
      ("sw", clickhouse_fn("startsWith",
        Seq(col("o_orderstatus"), lit("F")), "Bool"),
        col("o_orderstatus").startsWith("F")),
      ("rep", clickhouse_fn("replaceAll",
        Seq(col("o_orderpriority"), lit("-"), lit("_")), "String"),
        regexp_replace(col("o_orderpriority"), "-", "_")),
      ("rx", clickhouse_fn("match",
        Seq(col("o_orderpriority"), lit("^[0-9]")), "Bool"),
        col("o_orderpriority").rlike("^[0-9]")),
      ("pmod", clickhouse_fn("positiveModulo",
        Seq(col("o_orderkey"), lit(7)), "Int64"),
        pmod(col("o_orderkey"), lit(7))),
      ("trm", clickhouse_fn("trimBoth", Seq(col("o_orderpriority")), "String"),
        trim(col("o_orderpriority"))))
    def opred(r: Random): Column = r.nextInt(4) match {
      case 0 => col("o_orderkey") % (r.nextInt(7) + 2) === r.nextInt(3)
      case 1 => col("o_totalprice") > (r.nextInt(200000)).toDouble
      case 2 => col("o_orderstatus") === Seq("F", "O", "P")(r.nextInt(3))
      case 3 => col("o_custkey").isNotNull
    }
    val r = new Random(13)
    (1 to 15).foreach { i =>
      val p = opred(r)
      val chosen = r.shuffle(pairs).take(r.nextInt(3) + 2)
      val a = canon(remote.filter(p).select(
        col("o_orderkey") +: chosen.map { case (n, rc, _) => rc.as(n) }: _*))
      val b = canon(local.filter(p).select(
        col("o_orderkey") +: chosen.map { case (n, _, lc) => lc.as(n) }: _*))
      assert(a == b,
        s"date/string passthrough case $i (${chosen.map(_._1).mkString(",")}) " +
          s"diverged for ${p.toString}")
    }
  }

  test("random ARRAY-HOF passthrough shapes (lambda rewrites) agree " +
    "remote vs Spark-local, bit for bit") {
    import graft.chfunctions._
    GraftSession.install(spark)
    val remote = spark.table("clickhouse.main.embeddings")
    val local = spark.table("embeddings")
    val emb = col("embedding")
    // array-valued outputs compare through CAST(x AS STRING) on BOTH
    // sides: the rendered literal is engine-deterministic, while raw
    // collect() exposes collection-class differences between the wire
    // decode and the parquet reader
    // literals are exactly-representable floats (0.25, 0.5) and the
    // arithmetic pair computes in explicit DOUBLE on both sides: the
    // unparse→translate round-trip types numeric literals per dialect,
    // so a non-representable threshold (0.9f vs 0.9) or implicit
    // float×double promotion would diverge in the TEST, not the engine
    val pairs: Vector[(String, Column, Column)] = Vector(
      ("x2", clickhouse(transform(emb, x => x.cast("double") * 2),
        "Array(Float64)").cast("string"),
        transform(emb, x => x.cast("double") * 2).cast("string")),
      ("big", clickhouse(filter(emb, x => x > lit(0.25f)), "Array(Float32)")
        .cast("string"),
        filter(emb, x => x > lit(0.25f)).cast("string")),
      ("any5", clickhouse(exists(emb, x => x > lit(0.5f)), "Bool"),
        exists(emb, x => x > lit(0.5f))),
      ("asum", clickhouse_fn("arraySum", Seq(emb), "Float64"),
        aggregate(emb, lit(0.0), (a, v) => a + v)),
      ("nPos", clickhouse(size(filter(emb, x => x > lit(0.0f))), "Int32"),
        size(filter(emb, x => x > lit(0.0f)))))
    val r = new Random(29)
    (1 to 12).foreach { i =>
      val p = col("vec_id") % (r.nextInt(5) + 2) === r.nextInt(2)
      val chosen = r.shuffle(pairs).take(r.nextInt(2) + 2)
      val a = canon(remote.filter(p).select(
        col("vec_id") +: chosen.map { case (n, rc, _) => rc.as(n) }: _*))
      val b = canon(local.filter(p).select(
        col("vec_id") +: chosen.map { case (n, _, lc) => lc.as(n) }: _*))
      assert(a == b,
        s"HOF passthrough case $i (${chosen.map(_._1).mkString(",")}) " +
          s"diverged for ${p.toString}")
    }
  }

  test("random passthrough CHAINS (depth 1-4 compositions) agree remote " +
    "vs Spark-local, bit for bit — the nesting depth where rewrite-order " +
    "bugs live") {
    import graft.chfunctions._
    GraftSession.install(spark)
    val remote = spark.table("clickhouse.main.customer")
    val local = spark.table("customer")
    // string→string steps, freely composable in any order
    val strFns: Vector[(String, Column => Column, Column => Column)] = Vector(
      ("up", c => clickhouse_fn("toUpperCase", Seq(c), "String"), c => upper(c)),
      ("lo", c => clickhouse_fn("toLowerCase", Seq(c), "String"), c => lower(c)),
      ("rev", c => clickhouse_fn("reverse", Seq(c), "String"), c => reverse(c)),
      ("trm", c => clickhouse_fn("trimBoth", Seq(c), "String"), c => trim(c)),
      ("b64", c => clickhouse_fn("base64Encode", Seq(c), "String"),
        c => base64(c.cast("binary"))),
      ("rep", c => clickhouse_fn("replaceAll", Seq(c, lit("0"), lit("#")), "String"),
        c => regexp_replace(c, "0", "#")),
      ("sub", c => clickhouse_fn("substring", Seq(c, lit(2), lit(9)), "String"),
        c => substring(c, 2, 9)),
      // call-shaped literal text with an escaped quote: literals must
      // reach the embedded engine verbatim
      ("cat", c => clickhouse_fn("concat", Seq(c, lit("it's, has(1)")), "String"),
        c => concat(c, lit("it's, has(1)"))),
      ("pre", c => clickhouse_fn("concat", Seq(lit("length(x) "), c), "String"),
        c => concat(lit("length(x) "), c)))
    // int→int steps over the key column
    val intFns: Vector[(String, Column => Column, Column => Column)] = Vector(
      ("m11", c => clickhouse_fn("modulo", Seq(c, lit(11)), "Int64"), c => c % 11),
      // chain values stay small and non-negative, so floor(c/3) is the
      // exact local equivalent of intDiv
      ("d3", c => clickhouse_fn("intDiv", Seq(c, lit(3)), "Int64"),
        c => floor(c / 3).cast("bigint")),
      ("pm7", c => clickhouse_fn("positiveModulo", Seq(c, lit(7)), "Int64"),
        c => pmod(c, lit(7))),
      ("abs", c => clickhouse_fn("abs", Seq(c), "Int64"), c => abs(c)))
    val r = new Random(101)
    (1 to 15).foreach { i =>
      val sChain = Seq.fill(r.nextInt(4) + 1)(strFns(r.nextInt(strFns.size)))
      val iChain = Seq.fill(r.nextInt(3) + 1)(intFns(r.nextInt(intFns.size)))
      val p = pred(r, 0)
      def fold(seed: Column, fs: Seq[Column => Column]): Column =
        fs.foldLeft(seed)((acc, f) => f(acc))
      val a = canon(remote.filter(p).select(col("c_custkey"),
        fold(col("c_name"), sChain.map(_._2)).as("s"),
        fold(col("c_custkey"), iChain.map(_._2)).as("n")))
      val b = canon(local.filter(p).select(col("c_custkey"),
        fold(col("c_name"), sChain.map(_._3)).as("s"),
        fold(col("c_custkey"), iChain.map(_._3)).as("n")))
      assert(a == b,
        s"chain case $i (str=${sChain.map(_._1).mkString("∘")}, " +
          s"int=${iChain.map(_._1).mkString("∘")}) diverged for ${p.toString}")
    }
  }

  test("random SHARD-KEY-LOCAL shapes (keyed joins + keyed aggregates) " +
    "agree with local recompute, bit for bit") {
    // reuses the two-shard chdiffsh catalog (routing key c_custkey): the
    // sweep walks shapes the collapse rule may now run PER SHARD — a
    // keyed self-join or keyed aggregate that wrongly collapsed across
    // mis-placed rows, or a key-type edge the placement-hash gate should
    // have refused, diverges here instead of in production
    spark.conf.set("spark.sql.catalog.chdiffsh",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    val roots = spark.conf.getOption("spark.sql.catalog.chdiffsh.path")
    assume(roots.isDefined, "sharded catalog is seeded by the sharded sweep")
    val sharded = spark.table("chdiffsh.main.customer")
    val local = spark.table("customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val r = new Random(31415)
    // keyed aggregates: GROUP BY contains the routing column → complete
    // per-shard pushdown; arbitrary (incl. non-merge-safe) aggregates
    val aggPool: Seq[() => Column] = Seq(
      () => count(lit(1)).as("cnt"),
      () => sum(col("c_custkey")).as("sk"),
      () => min(col("c_name")).as("mn"),
      () => max(col("c_acctbal")).as("mx"),
      () => countDistinct(col("c_mktsegment")).as("nd"))
    (1 to 12).foreach { i =>
      val p = pred(r, 1)
      val keys =
        if (r.nextBoolean()) Seq(col("c_custkey"))
        else Seq(col("c_custkey"), col("c_mktsegment"))
      val aggs = r.shuffle(aggPool).take(r.nextInt(3) + 1).map(_.apply())
      val a = canon(sharded.filter(p).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
      val b = canon(local.filter(p).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
      assert(a == b, s"keyed agg case $i diverged")
    }
    // keyed self-joins (inner / left semi via where-exists shape kept
    // simple: inner only here, semi covered by spec-level tests)
    (1 to 12).foreach { i =>
      val pl = pred(r, 1)
      val pr = pred(r, 1)
      def shape(t: DataFrame): DataFrame = {
        val l = t.filter(pl).as("l")
        val rt = t.filter(pr)
          .select(col("c_custkey").as("rk"), col("c_acctbal").as("rb")).as("r")
        l.join(rt, col("l.c_custkey") === col("r.rk"))
          .select(col("l.c_custkey"), col("l.c_mktsegment"), col("r.rb"))
      }
      val a = canon(shape(sharded))
      val b = canon(shape(local))
      assert(a == b, s"keyed join case $i diverged (pl=$pl pr=$pr)")
    }
    // outer/semi/anti keyed joins: null-padding and existence checks are
    // per-shard exact because every potential match is co-located
    (1 to 10).foreach { i =>
      val pl = pred(r, 1)
      val pr = pred(r, 1)
      val joinType = Seq("left_outer", "left_semi", "left_anti", "right_outer")(r.nextInt(4))
      def shape(t: DataFrame): DataFrame = {
        val l = t.filter(pl).as("l")
        val rt = t.filter(pr)
          .select(col("c_custkey").as("rk"), col("c_acctbal").as("rb")).as("r")
        val j = l.join(rt, col("l.c_custkey") === col("r.rk"), joinType)
        joinType match {
          case "left_semi" | "left_anti" =>
            j.select(col("l.c_custkey"), col("l.c_mktsegment"))
          case "right_outer" => j.select(col("r.rk"), col("r.rb"))
          case _ => j.select(col("l.c_custkey"), col("l.c_mktsegment"), col("r.rb"))
        }
      }
      val a = canon(shape(sharded))
      val b = canon(shape(local))
      assert(a == b, s"keyed $joinType case $i diverged (pl=$pl pr=$pr)")
    }
    // ORDER BY + LIMIT over a keyed self-join: the collapsed per-shard
    // statement gets a top-k suffix (superset bound) and Spark's
    // retained Sort+Limit re-applies the global order
    (1 to 8).foreach { i =>
      val n = r.nextInt(15) + 1
      def shape(t: DataFrame): DataFrame = {
        val l = t.as("l")
        val rt = t.select(col("c_custkey").as("rk"), col("c_acctbal").as("rb")).as("r")
        l.join(rt, col("l.c_custkey") === col("r.rk"))
          .select(col("l.c_custkey"), col("r.rb"))
          .orderBy(col("l.c_custkey")).limit(n)
      }
      val a = canon(shape(sharded))
      val b = canon(shape(local))
      assert(a == b, s"keyed top-$n case $i diverged")
    }
  }

  test("random timestamp/date predicate shapes agree remote vs local (orders)") {
    val r = new Random(99)
    val remote = spark.table("clickhouse.main.orders")
    val local = spark.table("orders")
    def tsPred(): Column = r.nextInt(6) match {
      case 0 => col("o_orderdate") >= lit(s"${1995 + r.nextInt(8)}-0${1 + r.nextInt(9)}-15")
        .cast("timestamp")
      case 1 => col("o_orderdate") < lit(s"${1996 + r.nextInt(6)}-11-01").cast("timestamp")
      case 2 => year(col("o_orderdate")) === (1995 + r.nextInt(9))
      case 3 => month(col("o_orderdate")).isin(1 + r.nextInt(6), 7 + r.nextInt(6))
      case 4 => dayofmonth(col("o_orderdate")) <= 1 + r.nextInt(28)
      case 5 => col("o_totalprice") > r.nextInt(300000).toDouble &&
        year(col("o_orderdate")) >= 1995 + r.nextInt(8)
    }
    def tsProj(): Seq[Column] = r.nextInt(3) match {
      case 0 => Seq(col("o_orderkey"), col("o_orderdate"))
      case 1 => Seq(col("o_orderkey"), year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"))
      case 2 => Seq(col("o_orderkey"), date_trunc("month", col("o_orderdate")).as("m"),
        col("o_orderstatus"))
    }
    var nonEmpty = 0
    (1 to 30).foreach { i =>
      val p = tsPred()
      val cols = tsProj()
      val a = canon(remote.filter(p).select(cols: _*))
      val b = canon(local.filter(p).select(cols: _*))
      assert(a == b, s"ts case $i diverged for ${p.toString}")
      if (a.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 15)
  }

  test("random ORDER BY + LIMIT shapes agree remote vs local") {
    val r = new Random(7)
    val remote = spark.table("clickhouse.main.customer")
    val local = spark.table("customer")
    (1 to 10).foreach { i =>
      val p = pred(r, 1)
      val n = r.nextInt(20) + 1
      // deterministic total order: unique key breaks ties
      val a = canon(remote.filter(p).orderBy(col("c_custkey")).limit(n))
      val b = canon(local.filter(p).orderBy(col("c_custkey")).limit(n))
      assert(a == b, s"topk case $i diverged")
    }
  }

  test("random shapes over BUCKETED reads agree with plain reads, bit for bit") {
    // bucket routing must be invisible to semantics: any predicate +
    // projection over a bucket-keyed read returns exactly the plain
    // scan's rows, whatever bucket count the reader picked
    val r = new Random(4242)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val local = spark.table("customer")
    (1 to 15).foreach { i =>
      val n = Seq(2, 3, 5, 8, 13)(r.nextInt(5))
      val bucketed = spark.read
        .option("bucket_by", "c_custkey").option("buckets", n.toString)
        .table("clickhouse.main.customer")
      val p = pred(r, 2)
      val cols = proj(r)
      val a = canon(bucketed.filter(p).select(cols: _*))
      val b = canon(local.filter(p).select(cols: _*))
      assert(a == b, s"bucketed case $i (n=$n) diverged for ${p.toString}")
    }
  }

  test("random DELETE/UPDATE mutations agree with local recompute " +
    "(NULL condition keeps the row / leaves it unchanged)") {
    val r = new Random(31337)
    import spark.implicits._
    // grammar: each case yields the SAME predicate as ClickHouse SQL
    // (for the mutation) and a Spark Column (for the local recompute)
    def predPair(): (String, Column) = r.nextInt(6) match {
      case 0 => val n = r.nextInt(100); (s"`k` > $n", col("k") > n)
      case 1 => val d = r.nextInt(50) / 2.0; (s"`x` < $d", col("x") < d)
      case 2 => val m = r.nextInt(5); (s"`s` = 'v$m'", col("s") === s"v$m")
      case 3 => ("`s` IS NULL", col("s").isNull)
      case 4 =>
        val vs = Seq.fill(r.nextInt(3) + 1)(r.nextInt(100))
        (s"`k` IN (${vs.mkString(", ")})", col("k").isin(vs: _*))
      case 5 =>
        val (s1, c1) = (s"`k` > ${r.nextInt(80)}", col("k") > r.nextInt(80))
        // regenerate to keep SQL and Column in sync
        val n = r.nextInt(80); val (s2, c2) = (s"`k` <= $n", col("k") <= n)
        val _ = (s1, c1)
        (s"($s2 OR `x` IS NULL)", c2 || col("x").isNull)
    }
    def seed(): Seq[(Int, Option[String], Option[Double])] =
      (0 until 120).map { k =>
        (k,
          if (k % 7 == 0) None else Some(s"v${k % 5}"),
          if (k % 11 == 0) None else Some(k / 2.0))
      }
    (1 to 6).foreach { i =>
      spark.sql("DROP TABLE IF EXISTS clickhouse.main.diff_mut")
      spark.sql(
        """CREATE TABLE clickhouse.main.diff_mut (k INT, s STRING, x DOUBLE)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      val rows = seed()
      rows.toDF("k", "s", "x").writeTo("clickhouse.main.diff_mut").append()
      val local = rows.toDF("k", "s", "x")
      if (i % 2 == 1) {
        val (sqlP, colP) = predPair()
        spark.sql(s"DELETE FROM clickhouse.main.diff_mut WHERE " +
          sqlP.replace("`", ""))
        // server keeps rows where the condition is NOT TRUE (NULL keeps)
        val expect = canon(local.filter(!coalesce(colP, lit(false))))
        val got = canon(spark.table("clickhouse.main.diff_mut"))
        assert(got == expect, s"DELETE case $i ($sqlP) diverged")
      } else {
        val (sqlP, colP) = predPair()
        graft.connector.ChMutations.updateWhere(spark,
          "clickhouse.main.diff_mut",
          Seq("x" -> "`x` * 2 + 1", "s" -> "concat(`s`, '!')"), sqlP)
        // assigned columns recompute from OLD values where cond is TRUE;
        // NULL/false leave the row unchanged
        val hit = coalesce(colP, lit(false))
        val expect = canon(local.select(
          col("k"),
          when(hit, concat(col("s"), lit("!"))).otherwise(col("s")).as("s"),
          when(hit, col("x") * 2 + 1).otherwise(col("x")).as("x")))
        val got = canon(spark.table("clickhouse.main.diff_mut"))
        assert(got == expect, s"UPDATE case $i ($sqlP) diverged")
      }
    }
  }

  test("random FINAL reads agree with an explicit max-version window dedup") {
    // seed a Replacing table with 2-3 versions per key, then compare
    // `final=true` against the survivor rule computed locally
    val r = new Random(99099)
    spark.sql("DROP TABLE IF EXISTS clickhouse.main.diff_rep")
    spark.sql(
      """CREATE TABLE clickhouse.main.diff_rep (k INT, payload STRING, ver INT)
        |TBLPROPERTIES ('engine' = 'ReplacingMergeTree(ver)', 'order_by' = 'k')""".stripMargin)
    val rows = (0 until 200).flatMap { k =>
      (1 to r.nextInt(3) + 1).map(v => (k, s"p${k}_$v", v))
    }
    import spark.implicits._
    rows.toDF("k", "payload", "ver")
      .writeTo("clickhouse.main.diff_rep").append()
    val expected = rows.groupBy(_._1).map { case (_, vs) => vs.maxBy(_._3) }
      .toSeq.map { case (k, p, v) => s"$k|$p|$v" }.sorted
    (1 to 8).foreach { i =>
      val hi = r.nextInt(200)
      val fin = spark.read.option("final", "true")
        .table("clickhouse.main.diff_rep")
      val a = canon(fin.filter(col("k") < hi))
      val b = expected.filter(_.split('|')(0).toInt < hi)
      assert(a == b, s"final case $i (k<$hi) diverged")
    }
    // FINAL composes with bucket-keyed reads: each slice sees the
    // globally-deduped rows restricted to its bucket, union = FINAL
    val finB = spark.read.option("final", "true")
      .option("bucket_by", "k").option("buckets", "4")
      .table("clickhouse.main.diff_rep")
    assert(finB.rdd.getNumPartitions == 4)
    assert(canon(finB) == expected)
  }

  test("random AS-OF join shapes: the planned path (remote ASOF collapse " +
    "or in-rule lowering) agrees bit-for-bit with the local composition " +
    "over identical data") {
    val r = new Random(777001)
    import spark.implicits._
    // left: events; right: (k, qts)-unique quotes (ASOF ties are
    // unspecified on every engine — keep the fixture tie-free)
    val lRows = (0 until 240).map { i =>
      (r.nextInt(20).toLong + 1, r.nextInt(1000).toLong, i.toLong) }
    val rRows = (for (k <- 1L to 16L; q <- 0 until 12) yield
      (k, q * 83L + k * 7L, q.toLong, k * 1000L + q)).toSeq
    val lDf = lRows.toDF("k", "ts", "v")
    val rDf = rRows.toDF("k", "qts", "seq", "price")
    spark.sql("DROP TABLE IF EXISTS clickhouse.main.diff_asof_l")
    spark.sql("DROP TABLE IF EXISTS clickhouse.main.diff_asof_r")
    spark.sql(
      """CREATE TABLE clickhouse.main.diff_asof_l (k BIGINT, ts BIGINT, v BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
    spark.sql(
      """CREATE TABLE clickhouse.main.diff_asof_r
        |(k BIGINT, qts BIGINT, seq BIGINT, price BIGINT)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
    lDf.writeTo("clickhouse.main.diff_asof_l").append()
    rDf.writeTo("clickhouse.main.diff_asof_r").append()
    val remL = spark.table("clickhouse.main.diff_asof_l")
    val remR = spark.table("clickhouse.main.diff_asof_r")
    // first four cases pin one operator each; the rest draw randomly —
    // every direction/strictness variant rides the same two paths
    val ops = Seq("<=", "<", ">=", ">")
    (1 to 12).foreach { i =>
      val lCut = r.nextInt(1000).toLong
      val kMod = r.nextInt(4) + 2
      val op = if (i <= 4) ops(i - 1) else ops(r.nextInt(ops.length))
      val leftJoin = r.nextBoolean()
      val lp: DataFrame => DataFrame = _.filter(col("ts") <= lCut)
      val rp: DataFrame => DataFrame = _.filter(col("k") % kMod =!= 0)
      val planned = graft.ops.AsOfJoin.asofJoinPlanned(
        lp(remL), rp(remR), Seq("k"), "ts", "qts", "seq", Seq("price"),
        op = op, leftJoin = leftJoin)
      val local = graft.ops.AsOfJoin.asofJoin(
        lp(lDf), rp(rDf), Seq("k"), "ts", "qts", "seq", Seq("price"),
        op = op, leftJoin = leftJoin)
      assert(canon(planned) == canon(local), s"asof case $i diverged " +
        s"(ts<=$lCut, k%$kMod!=0, op=$op, leftJoin=$leftJoin)")
    }
  }

  test("random WITH FILL shapes agree with an explicit sequence-grid " +
    "recompute (bounds present/absent, strides, interpolate carry)") {
    val r = new Random(55667788)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 6).foreach { i =>
      val mod = r.nextInt(50) + 30 // sparse day subset
      val step = r.nextInt(3) + 1
      val interp = r.nextBoolean()
      val remote = ch.chSql(
        s"SELECT intDiv(toUnixTimestamp(`o_orderdate`), 86400) AS day, " +
          s"toInt64(count(*)) AS n FROM `main`.`orders` " +
          s"WHERE `o_orderkey` % $mod = 0 " +
          s"GROUP BY intDiv(toUnixTimestamp(`o_orderdate`), 86400) " +
          s"ORDER BY day WITH FILL STEP $step" +
          (if (interp) " INTERPOLATE (`n`)" else ""))
      val base = spark.sql(
        s"SELECT CAST(unix_timestamp(o_orderdate) div 86400 AS BIGINT) AS day, " +
          s"CAST(count(*) AS BIGINT) AS n FROM orders " +
          s"WHERE o_orderkey % $mod = 0 GROUP BY 1")
      val grid = base.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(expr(s"sequence(lo, hi, $step)")).as("day"))
      val missing = grid.join(base.select("day"), Seq("day"), "left_anti")
      val local0 = base.unionByName(
        missing.select(col("day"), lit(null).cast("bigint").as("n")))
      val local =
        if (!interp) local0.select(col("day"),
          coalesce(col("n"), lit(0L)).as("n")) // non-null count pads 0
        else {
          // carry = last ORIGINAL n at-or-before (counts are non-null,
          // so a plain ignoreNulls last over the padded column works)
          val w = org.apache.spark.sql.expressions.Window.orderBy("day")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
          local0.select(col("day"),
            coalesce(col("n"), last(col("n"), ignoreNulls = true).over(w),
              lit(0L)).as("n"))
        }
      assert(canon(remote) == canon(local),
        s"with-fill case $i diverged (mod=$mod, step=$step, interp=$interp)")
    }
  }

  test("random DISTINCT ON shapes agree with an explicit window pick") {
    val r = new Random(13571113)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 6).foreach { i =>
      val mod = r.nextInt(5) + 2
      val desc = if (r.nextBoolean()) " DESC" else ""
      val remote = ch.chSql(
        s"SELECT DISTINCT ON (g) toInt64(`o_custkey` % $mod) AS g, " +
          s"`o_orderkey` AS k, toInt64(round(`o_totalprice` * 100)) AS cents " +
          s"FROM `main`.`orders` ORDER BY g, cents$desc, k")
      val local = spark.sql(
        s"SELECT g, k, cents FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY g ORDER BY cents$desc, k) AS rn FROM " +
          s"(SELECT CAST(o_custkey % $mod AS BIGINT) AS g, o_orderkey AS k, " +
          s"CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)) " +
          s"WHERE rn = 1 ORDER BY g, cents$desc, k")
      assert(canon(remote) == canon(local),
        s"distinct-on case $i diverged (mod=$mod, desc='$desc')")
    }
  }

  test("random ANY JOIN shapes agree with an explicit build-side dedup " +
    "(the deterministic min-row pick)") {
    val r = new Random(24681357)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 5).foreach { i =>
      val mod = r.nextInt(7) + 2
      val kind = if (r.nextBoolean()) "LEFT ANY" else "ANY INNER"
      val remote = ch.chSql(
        s"SELECT jk, `c_custkey` AS ck, ok FROM " +
          s"(SELECT toInt64(`c_custkey` % $mod) AS jk, `c_custkey` " +
          s"FROM `main`.`customer`) AS c " +
          s"$kind JOIN (SELECT toInt64(`o_custkey` % $mod) AS jk, " +
          s"`o_orderkey` AS ok FROM `main`.`orders`) AS o " +
          s"USING (jk) ORDER BY ck, ok")
      val sparkKind = if (kind == "LEFT ANY") "LEFT" else "INNER"
      val local = spark.sql(
        s"SELECT jk, ck, ok FROM " +
          s"(SELECT CAST(c_custkey % $mod AS BIGINT) AS jk, c_custkey AS ck " +
          s"FROM customer) " +
          s"$sparkKind JOIN (SELECT * FROM (SELECT jk, ok, row_number() " +
          s"OVER (PARTITION BY jk ORDER BY jk, ok) AS rn FROM " +
          s"(SELECT CAST(o_custkey % $mod AS BIGINT) AS jk, o_orderkey AS ok " +
          s"FROM orders)) WHERE rn = 1) USING (jk) ORDER BY ck, ok")
      assert(canon(remote) == canon(local),
        s"any-join case $i diverged (mod=$mod, kind=$kind)")
    }
  }

  test("random ARRAY JOIN shapes agree with an explode recompute " +
    "(single and zipped items)") {
    val r = new Random(36925814)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 5).foreach { i =>
      val lim = r.nextInt(30) + 10
      val sep = Seq(" ", "e", "a")(r.nextInt(3))
      val zipped = r.nextBoolean()
      val extra =
        if (zipped)
          s", arrayMap(t -> toInt64(lengthUTF8(t)), splitByChar('$sep', `text`)) AS tl"
        else ""
      val extraSel = if (zipped) ", tl" else ""
      val remote = ch.chSql(
        s"SELECT `doc_id`, tok$extraSel FROM `main`.`documents` " +
          s"ARRAY JOIN splitByChar('$sep', `text`) AS tok$extra " +
          s"WHERE `doc_id` < $lim ORDER BY `doc_id`, tok$extraSel")
      val local2 =
        if (zipped) spark.sql(
          s"SELECT doc_id, tok, CAST(char_length(tok) AS BIGINT) AS tl " +
            s"FROM (SELECT doc_id, explode(split(text, '$sep')) AS tok " +
            s"FROM documents WHERE doc_id < $lim) ORDER BY doc_id, tok, tl")
        else spark.sql(
          s"SELECT doc_id, tok FROM (SELECT doc_id, " +
            s"explode(split(text, '$sep')) AS tok FROM documents " +
            s"WHERE doc_id < $lim) ORDER BY doc_id, tok")
      assert(canon(remote) == canon(local2),
        s"array-join case $i diverged (lim=$lim, sep='$sep', zipped=$zipped)")
    }
  }

  test("random scalar WITH shapes agree with the inline expansion") {
    val r = new Random(48163264)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 5).foreach { i =>
      val cut = r.nextInt(500) + 50
      val remote = ch.chSql(
        s"WITH $cut AS cut, (SELECT max(`o_orderkey`) FROM `main`.`orders`) AS mx " +
          s"SELECT toInt64(count(*)) AS n, toInt64(min(`o_orderkey` + cut)) AS v " +
          s"FROM `main`.`orders` WHERE `o_orderkey` > mx - cut")
      val local = spark.sql(
        s"SELECT CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(min(o_orderkey + $cut) AS BIGINT) AS v FROM orders " +
          s"WHERE o_orderkey > (SELECT max(o_orderkey) FROM orders) - $cut")
      assert(canon(remote) == canon(local), s"scalar-with case $i (cut=$cut)")
    }
  }

  test("random QUALIFY shapes (embedded wrapped-WHERE rewrite) agree with " +
    "a local window + filter") {
    val r = new Random(99887766)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 6).foreach { i =>
      val cut = r.nextInt(5) + 1
      val ord = if (r.nextBoolean()) "DESC" else "ASC"
      val remote = ch.chSql(
        s"SELECT `lang`, `doc_id`, row_number() OVER (PARTITION BY `lang` " +
          s"ORDER BY `n_chars` $ord, `doc_id`) AS rn " +
          s"FROM `main`.`documents` QUALIFY rn <= $cut ORDER BY `lang`, rn")
      val local = spark.sql(
        s"SELECT * FROM (SELECT lang, doc_id, row_number() OVER " +
          s"(PARTITION BY lang ORDER BY n_chars $ord, doc_id) AS rn " +
          s"FROM documents) WHERE rn <= $cut ORDER BY lang, rn")
      assert(canon(remote) == canon(local),
        s"qualify case $i diverged (cut=$cut, ord=$ord)")
    }
  }

  test("random WITH TOTALS shapes (embedded GROUPING SETS rewrite) agree " +
    "with a local grouping-sets computation") {
    val r = new Random(424242)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    val keys = Seq("lang", "source")
    (1 to 8).foreach { i =>
      val ks = r.shuffle(keys).take(r.nextInt(2) + 1)
      val cut = r.nextInt(4000) + 500
      val kq = ks.map(k => s"`$k`").mkString(", ")
      val remote = ch.chSql(
        s"SELECT ${ks.mkString(", ")}, count(*) AS n, " +
          s"toInt64(sum(`n_chars`)) AS chars FROM `main`.`documents` " +
          s"WHERE `n_chars` < $cut GROUP BY $kq WITH TOTALS")
      val local = spark.sql(
        s"SELECT ${ks.mkString(", ")}, count(*) AS n, " +
          s"CAST(sum(n_chars) AS BIGINT) AS chars FROM documents " +
          s"WHERE n_chars < $cut GROUP BY GROUPING SETS " +
          s"((${ks.mkString(", ")}), ())")
      assert(canon(remote) == canon(local),
        s"totals case $i diverged (keys=$ks, cut=$cut)")
    }
  }

  test("WITH TOTALS + HAVING (pinned after_having_exclusive) agrees with " +
    "an explicit surviving-group restriction — including NULL-keyed " +
    "groups, which the null-safe semi join must keep") {
    val r = new Random(13131313)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 8).foreach { i =>
      val cut = r.nextInt(120) + 20
      // nullIf maps one language to a NULL key: its group (largest or
      // not) must survive/drop by the SAME HAVING rule as named groups
      val remote = ch.chSql(
        s"SELECT nullIf(`lang`, 'de') AS lg, count(*) AS n, " +
          s"toInt64(sum(`n_chars`)) AS chars FROM `main`.`documents` " +
          s"GROUP BY nullIf(`lang`, 'de') WITH TOTALS HAVING count(*) > $cut")
      val local = spark.sql(
        s"""SELECT lg, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM (SELECT nullif(lang, 'de') AS lg, n_chars FROM documents) d
           |LEFT SEMI JOIN (
           |  SELECT nullif(lang, 'de') AS klg FROM documents
           |  GROUP BY nullif(lang, 'de') HAVING count(*) > $cut) keep
           |ON d.lg <=> keep.klg
           |GROUP BY GROUPING SETS ((lg), ())""".stripMargin)
      assert(canon(remote) == canon(local),
        s"totals+having case $i diverged (cut=$cut)")
      // the NULL-keyed 'de' group must be PRESENT whenever it survives
      // the cut (both a per-key row with NULL lg and its rows in totals)
      val deCount = spark.sql(
        "SELECT count(*) FROM documents WHERE lang = 'de'").head.getLong(0)
      val gotNullRows = remote.collect().count(_.isNullAt(0))
      // NULL lg appears twice when de survives (its row + totals row),
      // once otherwise (totals row only) — unless NO group survives
      val anySurvives = remote.collect().nonEmpty
      if (deCount > cut) assert(gotNullRows == 2,
        s"case $i: NULL-keyed group must survive the semi join (de=$deCount > $cut)")
      else if (anySurvives) assert(gotNullRows == 1, s"case $i")
    }
  }

  test("random trailing-clause tails (PREWHERE, WHERE, WINDOW, QUALIFY, " +
    "ORDER BY, LIMIT BY, LIMIT [WITH TIES], SETTINGS, FORMAT) with clause " +
    "words inside literals agree with a local recompute") {
    val r = new Random(20261018)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"target/chstore_$tag")
      .catalogName("clickhouse").build()
    // literals that spell clauses: data in both dialects, never clauses
    val lits = Seq("x LIMIT 5 BY k", "a WHERE b", "SETTINGS max_threads = 1",
      "ORDER BY z LIMIT 2 WITH TIES", "QUALIFY rn", "WINDOW w AS (",
      "distinct on (x)", "FORMAT JSON", "PREWHERE p", "UNION ALL SELECT")
    // (ClickHouse, Spark) predicate pairs over documents
    def pred(): (String, String) = r.nextInt(4) match {
      case 0 =>
        val c = r.nextInt(250) + 100
        (s"`n_chars` > $c", s"n_chars > $c")
      case 1 =>
        val m = r.nextInt(3) + 2
        (s"`doc_id` % $m <> 0", s"doc_id % $m <> 0")
      case 2 =>
        val l = lits(r.nextInt(lits.size))
        (s"`lang` <> '$l'", s"lang <> '$l'")
      case _ => ("`lang` IN ('en', 'fr', 'de')", "lang IN ('en', 'fr', 'de')")
    }
    val win = "PARTITION BY `lang` ORDER BY `n_chars`, `doc_id`"
    var nonEmpty = 0
    (1 to 14).foreach { i =>
      val lit = lits(r.nextInt(lits.size))
      val pre = if (r.nextBoolean()) Some(pred()) else None
      val where = if (r.nextBoolean()) Some(pred()) else None
      val named = r.nextBoolean()
      val cut = if (r.nextBoolean()) Some(r.nextInt(30) + 1) else None
      val k = r.nextInt(4) + 1
      val tail = r.nextInt(4) // none, LIMIT BY, LIMIT, LIMIT WITH TIES
      val settings = if (r.nextBoolean()) Some(r.nextInt(4) + 1) else None
      val format = r.nextBoolean()
      val remote = ch.chSql(
        s"SELECT `lang`, `doc_id`, `n_chars`, '$lit' AS tag, row_number() " +
          s"OVER ${if (named) "w" else s"($win)"} AS rn FROM `main`.`documents`" +
          pre.fold("")(p => s" PREWHERE ${p._1}") +
          where.fold("")(w => s" WHERE ${w._1}") +
          (if (named) s" WINDOW w AS ($win)" else "") +
          cut.fold("")(c => s" QUALIFY rn <= $c") +
          (tail match {
            case 0 => " ORDER BY `doc_id`"
            case 1 => s" ORDER BY `lang`, `n_chars`, `doc_id` LIMIT $k BY `lang`"
            case 2 => s" ORDER BY `n_chars`, `doc_id` LIMIT $k"
            case _ => s" ORDER BY `lang` LIMIT $k WITH TIES"
          }) +
          settings.fold("")(n => s" SETTINGS max_threads = $n") +
          (if (format) " FORMAT JSON" else ""))
      // the same rows, composed step by step in Spark SQL
      val conds = (pre.toSeq ++ where).map(_._2)
      val filtered =
        s"SELECT lang, doc_id, n_chars, '$lit' AS tag, row_number() OVER " +
          "(PARTITION BY lang ORDER BY n_chars, doc_id) AS rn FROM documents" +
          (if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", ""))
      val qualified =
        s"SELECT * FROM ($filtered) f" + cut.fold("")(c => s" WHERE rn <= $c")
      def ranked(window: String) =
        s"SELECT lang, doc_id, n_chars, tag, rn FROM (SELECT *, $window AS k2 " +
          s"FROM ($qualified) q) WHERE k2 <= $k"
      val local = spark.sql(tail match {
        case 0 => qualified
        case 1 => ranked("row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)")
        case 2 => s"SELECT * FROM ($qualified) q ORDER BY n_chars, doc_id LIMIT $k"
        case _ => ranked("rank() OVER (ORDER BY lang)")
      })
      val got = canon(remote)
      assert(got == canon(local), s"tail case $i diverged (lit='$lit', " +
        s"pre=$pre, where=$where, named=$named, qualify=$cut, tail=$tail, " +
        s"k=$k, settings=$settings, format=$format)")
      if (got.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 7, s"only $nonEmpty non-empty cases")
  }

  test("random bracket shapes (array literals + 1-based subscripts) " +
    "agree with an explicit element_at recompute") {
    val r = new Random(31415926)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 8).foreach { i =>
      val m = r.nextInt(4) + 2
      val idxExpr = s"toInt32(`doc_id` % $m) + 1"
      val lit = Seq.fill(m + 1)(r.nextInt(900) + 10)
      val wordIdx = r.nextInt(3) + 1
      val remote = ch.chSql(
        s"SELECT `doc_id` AS id, " +
          s"[${lit.map(v => s"toInt64($v)").mkString(", ")}][$idxExpr] AS pick, " +
          s"splitByChar(' ', `text`)[$wordIdx] AS w " +
          s"FROM `main`.`documents` WHERE `doc_id` < 60 ORDER BY id")
      val local = spark.sql(
        s"SELECT doc_id AS id, " +
          s"element_at(array(${lit.map(v => s"CAST($v AS BIGINT)").mkString(", ")}), " +
          s"CAST(doc_id % $m AS INT) + 1) AS pick, " +
          s"element_at(split(text, ' '), $wordIdx) AS w " +
          s"FROM documents WHERE doc_id < 60 ORDER BY id")
      assert(canon(remote) == canon(local), s"bracket case $i (m=$m)")
    }
  }

  test("random topK/topKWeighted shapes agree with an explicit " +
    "frequency-ranking recompute") {
    val r = new Random(27182818)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 6).foreach { i =>
      val k = r.nextInt(3) + 1
      val mod = r.nextInt(5) + 3
      val weighted = r.nextBoolean()
      val call =
        if (weighted) s"topKWeighted($k)(`lang`, `doc_id` % $mod)"
        else s"topK($k)(`lang`)"
      val remote = ch.chSql(
        s"SELECT `source` AS src, arrayStringConcat($call, ',') AS top " +
          s"FROM `main`.`documents` GROUP BY src ORDER BY src")
      val rank = if (weighted) s"sum(doc_id % $mod)" else "count(*)"
      val local = spark.sql(
        s"""SELECT src, concat_ws(',', slice(
           |  transform(array_sort(collect_list(struct(-cnt AS nc, lang))),
           |    x -> x.lang), 1, $k)) AS top
           |FROM (SELECT source AS src, lang, $rank AS cnt
           |      FROM documents GROUP BY source, lang)
           |GROUP BY src ORDER BY src""".stripMargin)
      assert(canon(remote) == canon(local),
        s"topK case $i (k=$k, weighted=$weighted, mod=$mod)")
    }
  }

  test("random generic -If / -Array combinator shapes agree with " +
    "FILTER-clause and element-fold recomputes") {
    val r = new Random(16180339)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 6).foreach { i =>
      val m = r.nextInt(6) + 2
      val remote = ch.chSql(
        s"SELECT `lang` AS lg, " +
          s"anyIf(`source`, `doc_id` % $m = 0) AS a, " +
          s"argMaxIf(`source`, `doc_id`, `doc_id` % $m = 1) AS am, " +
          s"uniqExactIf(`source`, `doc_id` % $m = 0) AS u, " +
          s"sumArray([`n_chars`, toInt64($m)]) AS sa, " +
          s"toInt64(minArray([`n_chars`, toInt64(500)])) AS mn " +
          s"FROM `main`.`documents` GROUP BY lg ORDER BY lg")
      val local = spark.sql(
        s"SELECT lang AS lg, " +
          s"min(source) FILTER (WHERE doc_id % $m = 0) AS a, " +
          s"max_by(source, doc_id) FILTER (WHERE doc_id % $m = 1) AS am, " +
          s"count(DISTINCT source) FILTER (WHERE doc_id % $m = 0) AS u, " +
          s"sum(n_chars + $m) AS sa, " +
          s"CAST(min(least(n_chars, 500)) AS BIGINT) AS mn " +
          s"FROM documents GROUP BY lang ORDER BY lang")
      assert(canon(remote) == canon(local), s"combinator case $i (m=$m)")
    }
  }

  test("random PASTE JOIN shapes agree with an explicit row_number join") {
    val r = new Random(14142135)
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    (1 to 6).foreach { i =>
      val cut = r.nextInt(150) + 30
      val dir2 = if (r.nextBoolean()) "DESC" else "ASC"
      val remote = ch.chSql(
        s"SELECT a.k AS k, b.id AS id FROM " +
          s"(SELECT `o_orderkey` AS k FROM `main`.`orders` " +
          s"WHERE `o_orderkey` < $cut ORDER BY k) AS a " +
          s"PASTE JOIN (SELECT `doc_id` AS id FROM `main`.`documents` " +
          s"WHERE `doc_id` < $cut ORDER BY id $dir2) AS b ORDER BY k")
      val local = spark.sql(
        s"""SELECT a.k, b.id FROM
           |(SELECT o_orderkey AS k, row_number() OVER (ORDER BY o_orderkey)
           |   AS rn FROM orders WHERE o_orderkey < $cut) a
           |JOIN
           |(SELECT doc_id AS id, row_number() OVER (ORDER BY doc_id $dir2)
           |   AS rn FROM documents WHERE doc_id < $cut) b
           |USING (rn) ORDER BY a.k""".stripMargin)
      assert(canon(remote) == canon(local),
        s"paste case $i (cut=$cut, dir=$dir2)")
    }
  }

  test("higher-moment shapes (skewPop/kurtPop/skewSamp/kurtSamp) agree " +
    "with their closed-form local recomputes, bit for bit") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    val remote = ch.chSql(
      "SELECT `lang` AS lg, skewPop(`n_chars`) AS sp, kurtPop(`n_chars`) " +
        "AS kp, skewSamp(`n_chars`) AS ss, kurtSamp(`n_chars`) AS ks, " +
        "corr(`n_chars`, `doc_id`) AS c " +
        "FROM `main`.`documents` GROUP BY lg ORDER BY lg")
    val local = spark.sql(
      "SELECT lang AS lg, skewness(n_chars) AS sp, " +
        "(kurtosis(n_chars) + 3.0) AS kp, " +
        "(skewness(n_chars) * pow(var_pop(n_chars) / var_samp(n_chars), 1.5)) AS ss, " +
        "((kurtosis(n_chars) + 3.0) * pow(var_pop(n_chars) / var_samp(n_chars), 2.0)) AS ks, " +
        "corr(n_chars, doc_id) AS c " +
        "FROM documents GROUP BY lang ORDER BY lang")
    assert(canon(remote) == canon(local))
  }

  test("GROUP BY ... WITH ROLLUP / WITH CUBE pass through the embedded " +
    "engine with the server's subtotal semantics") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    for (kind <- Seq("ROLLUP", "CUBE")) {
      val remote = ch.chSql(
        s"SELECT `lang`, `source`, count(*) AS n FROM `main`.`documents` " +
          s"WHERE `doc_id` < 400 GROUP BY `lang`, `source` WITH $kind")
      val local = spark.sql(
        s"SELECT lang, source, count(*) AS n FROM documents " +
          s"WHERE doc_id < 400 GROUP BY lang, source WITH $kind")
      assert(canon(remote) == canon(local), s"WITH $kind diverged")
    }
  }

  test("QUALIFY with an INLINE window expression executes via the hidden " +
    "hoist and agrees with the aliased form") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    val inline = ch.chSql(
      "SELECT `lang`, `doc_id` FROM `main`.`documents` " +
        "QUALIFY row_number() OVER (PARTITION BY `lang` " +
        "ORDER BY `n_chars` DESC, `doc_id`) <= 3 ORDER BY `lang`, `doc_id`")
    val aliased = ch.chSql(
      "SELECT `lang`, `doc_id` FROM (SELECT `lang`, `doc_id`, " +
        "row_number() OVER (PARTITION BY `lang` ORDER BY `n_chars` DESC, " +
        "`doc_id`) AS rn FROM `main`.`documents` QUALIFY rn <= 3) " +
        "ORDER BY `lang`, `doc_id`")
    assert(canon(inline) == canon(aliased))
    assert(!inline.columns.exists(_.startsWith("__q_")),
      "hidden hoisted columns must not leak into the result schema")
  }

  test("arrayFold/arrayReduce/arraySort shapes agree with explicit " +
    "recomputes (NULLs sort last like the server)") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    val remote = ch.chSql(
      "SELECT `doc_id` AS id, " +
        "arrayFold((acc, x) -> acc + lengthUTF8(x), " +
        "  splitByChar(' ', `text`), toInt32(0)) AS folded, " +
        "arrayReduce('sum', arrayMap(t -> toInt64(lengthUTF8(t)), " +
        "  splitByChar(' ', `text`))) AS rsum, " +
        "arrayReduce('uniqExact', splitByChar(' ', `text`)) AS runiq, " +
        "arraySort([toInt64(3), NULL, toInt64(1)])[1] AS s1, " +
        "arrayReverseSort([toInt64(3), NULL, toInt64(1)])[3] AS s3 " +
        "FROM `main`.`documents` WHERE `doc_id` < 50 ORDER BY id")
    val local = spark.sql(
      "SELECT doc_id AS id, " +
        "aggregate(split(text, ' '), 0, (acc, x) -> acc + char_length(x)) " +
        "  AS folded, " +
        "aggregate(transform(split(text, ' '), t -> " +
        "  CAST(char_length(t) AS BIGINT)), CAST(0 AS BIGINT), " +
        "  (acc, v) -> acc + v) AS rsum, " +
        "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS runiq, " +
        "CAST(1 AS BIGINT) AS s1, " +
        "CAST(NULL AS BIGINT) AS s3 " +
        "FROM documents WHERE doc_id < 50 ORDER BY id")
    assert(canon(remote) == canon(local))
  }

  test("hasAll/hasAny/range/arrayFirstIndex shapes agree with explicit " +
    "recomputes, including NULL-element set semantics") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    val remote = ch.chSql(
      "SELECT `doc_id` AS id, " +
        "hasAll(splitByChar(' ', `text`), ['the', 'of']) AS ha, " +
        "hasAny(splitByChar(' ', `text`), ['the', 'zzz_nope']) AS hy, " +
        "arrayFirstIndex(t -> lengthUTF8(t) > 5, splitByChar(' ', `text`)) " +
        "  AS fi, " +
        "range(toInt32(`doc_id` % 4)) AS rg, " +
        "hasAll([NULL, toInt64(1)], [NULL]) AS hn " +
        "FROM `main`.`documents` WHERE `doc_id` < 50 ORDER BY id")
    val local = spark.sql(
      "SELECT doc_id AS id, " +
        "(size(array_except(array('the', 'of'), split(text, ' '))) = 0) AS ha, " +
        "(size(array_intersect(split(text, ' '), array('the', 'zzz_nope'))) > 0) AS hy, " +
        "coalesce(array_position(transform(split(text, ' '), " +
        "  t -> char_length(t) > 5), true), 0) AS fi, " +
        "CASE WHEN CAST(doc_id % 4 AS INT) <= 0 THEN array() " +
        "  ELSE sequence(0, CAST(doc_id % 4 AS INT) - 1) END AS rg, " +
        "true AS hn " +
        "FROM documents WHERE doc_id < 50 ORDER BY id")
    assert(canon(remote) == canon(local))
  }

  test("arrayCumSum/arrayDifference agree with explicit recomputes") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    val remote = ch.chSql(
      "SELECT `doc_id` AS id, " +
        "arrayCumSum(arrayMap(t -> toInt64(lengthUTF8(t)), " +
        "  splitByChar(' ', `text`))) AS cs, " +
        "arrayDifference(arrayMap(t -> toInt64(lengthUTF8(t)), " +
        "  splitByChar(' ', `text`))) AS df " +
        "FROM `main`.`documents` WHERE `doc_id` < 40 ORDER BY id")
    val local = spark.sql(
      "SELECT doc_id AS id, lens AS base, " +
        "aggregate(lens, slice(lens, 1, 0), (acc, v) -> concat(acc, " +
        "  array(coalesce(try_element_at(acc, -1), CAST(0 AS BIGINT)) + v))) AS cs, " +
        "concat(array(CAST(0 AS BIGINT)), zip_with(slice(lens, 2, " +
        "  size(lens) - 1), slice(lens, 1, size(lens) - 1), " +
        "  (x, y) -> x - y)) AS df " +
        "FROM (SELECT doc_id, transform(split(text, ' '), " +
        "  t -> CAST(char_length(t) AS BIGINT)) AS lens FROM documents) " +
        "WHERE doc_id < 40 ORDER BY id").drop("base")
    assert(canon(remote) == canon(local))
  }

  test("arrayReduce('sum', [])/sumArray over only-empty arrays yield 0, " +
    "not NULL (the server's empty-fold zero)") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    val r = ch.chSql(
      "SELECT arrayReduce('sum', arrayFilter(x -> x > 10, " +
        "[toInt64(1), toInt64(2)])) AS es, " +
        "arrayReduce('sum', [toInt64(3), toInt64(4)]) AS fs").collect().head
    assert(!r.isNullAt(0) && r.getLong(0) == 0L,
      "arrayReduce('sum', []) must be 0")
    assert(r.getLong(1) == 7L)
    // a whole GROUP of empty arrays: sumArray is 0, never NULL
    val g = ch.chSql(
      "SELECT sumArray(arrayFilter(x -> x > 10000, arrayMap(" +
        "t -> lengthUTF8(t), splitByChar(' ', `text`)))) AS s " +
        "FROM `main`.`documents` WHERE `doc_id` < 5").collect().head
    assert(!g.isNullAt(0))
  }

  test("round-14 function wave: hand-pinned server values at the " +
    "boundary cases (FnSurfaceSpec mappings)") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    def one(expr: String): Any = {
      val r = ch.chSql(s"SELECT $expr AS v").collect().head
      if (r.isNullAt(0)) null else r.get(0)
    }
    // array surgery
    assert(one("arrayCompact([1, 1, 2, 2, 1])") == Seq(1, 2, 1))
    assert(one("arrayCompact([NULL, NULL, toInt32(1)])") == Seq(null, 1))
    assert(one("arrayPopBack([3, 1, 2, 2])") == Seq(3, 1, 2))
    assert(one("arrayPopFront([3, 1, 2, 2])") == Seq(1, 2, 2))
    assert(one("arrayPopBack(arrayFilter(x -> x > 9, [1]))") == Seq())
    assert(one("arrayResize([1, 2], 4, 0)") == Seq(1, 2, 0, 0))
    assert(one("arrayResize([1, 2, 3], 2, 0)") == Seq(1, 2))
    assert(one("arrayPushBack([1], 9)") == Seq(1, 9))
    assert(one("arrayPushFront([1], 9)") == Seq(9, 1))
    assert(one("countEqual([1, NULL, 2, NULL], NULL)") == 2L)
    assert(one("countEqual([1, 2, 2], 2)") == 2L)
    assert(one("arrayEnumerate([7, 8, 9])") == Seq(1, 2, 3))
    assert(one("arrayEnumerate(arrayFilter(x -> x > 9, [1]))") == Seq())
    assert(one("arrayAvg([3, 1, 2, 2])") == 2.0)
    assert(one("arrayProduct([3, 1, 2, 2])") == 12.0)
    assert(one("arrayUniq([3, 1, 2, 2])") == 3L)
    assert(one("arrayElement([10, 20], 2)") == 20)
    assert(one("tupleElement(arrayElement(arrayZip([7, 8], [9, 10]), 2), 2)") == 10)
    assert(one("bitPositionsToArray(5)") == Seq(0L, 2L))
    // strings
    assert(one("splitByString('l', 'Hello')") == Seq("He", "", "o"))
    assert(one("splitByRegexp('[lo]', 'Hello')") == Seq("He", "", "", ""))
    assert(one("replaceOne('Hello', 'l', 'L')") == "HeLlo")
    assert(one("replaceOne('Hello', 'z', 'L')") == "Hello")
    assert(one("extract('Hello World', '([A-Z])\\\\w+')") == "H") // group 1
    assert(one("extract('Hello World', '([A-Z]\\\\w+)')") == "Hello")
    assert(one("extract('Hello', 'ell')") == "ell")
    assert(one("extractAll('Hello World', '[A-Z]')") == Seq("H", "W"))
    assert(one("replaceRegexpAll('Hello', '(l+)', '[\\\\1]')") == "He[ll]o")
    assert(one("countSubstrings('Hello World', 'l')") == 3L)
    assert(one("countSubstrings('aaa', 'aa')") == 1L)
    assert(one("positionCaseInsensitive('Hello World', 'WORLD')") == 7L ||
      one("positionCaseInsensitive('Hello World', 'WORLD')") == 7)
    assert(one("format('{}-{}', 'a', 'b')") == "a-b")
    assert(one("format('{1}+{0}', 'a', 'b')") == "b+a")
    assert(one("base64Decode(base64Encode('Hey ✓'))") == "Hey ✓")
    assert(one("notLike('Hello', 'x%')") == true)
    // math / bit
    // literals parse as DECIMAL — compare numerically, not by type
    assert(one("trunc(-2.7)").toString.toDouble == -2.0)
    assert(one("trunc(2.78, 1)").toString.toDouble == 2.7)
    assert(one("exp2(3)") == 8.0)
    assert(one("intDivOrZero(5, 0)") == 0)
    assert(one("moduloOrZero(5, 0)") == 0)
    assert(one("bitAnd(6, 3)") == 2)
    assert(one("bitXor(6, 3)") == 5)
    assert(one("bitShiftLeft(1, 4)") == 16)
    val rnd = one("rand()")
    assert(rnd.isInstanceOf[Long] && rnd.asInstanceOf[Long] >= 0L &&
      rnd.asInstanceOf[Long] < 4294967296L, s"rand() out of UInt32: $rnd")
    // date/time (2024-03-05 is a TUESDAY; 2024-03-10 a SUNDAY)
    val ts = "toDateTime64('2024-03-05 10:20:30.000000', 6)"
    val sun = "toDateTime64('2024-03-10 01:02:03.000000', 6)"
    assert(one(s"toDayOfWeek($ts)") == 2)
    assert(one(s"toDayOfWeek($sun)") == 7)
    assert(one(s"toMonday($ts)").toString == "2024-03-04")
    assert(one(s"toMonday($sun)").toString == "2024-03-04")
    assert(one(s"toStartOfWeek($ts)").toString == "2024-03-03")
    assert(one(s"toStartOfWeek($ts, 1)").toString == "2024-03-04")
    assert(one(s"toStartOfQuarter($ts)").toString == "2024-01-01")
    // dateDiff counts BOUNDARY crossings, not full units
    assert(one("dateDiff('year', toDate('2023-12-31'), toDate('2024-01-01'))") == 1L)
    assert(one("dateDiff('day', toDateTime64('2024-03-04 23:59:59.000000', 6), " +
      "toDateTime64('2024-03-05 00:00:01.000000', 6))") == 1L)
    assert(one("dateDiff('day', toDateTime64('2024-03-04 00:00:01.000000', 6), " +
      "toDateTime64('2024-03-04 23:59:59.000000', 6))") == 0L)
    assert(one(s"formatDateTime($ts, '%Y-%m-%d %H:%i:%S')") == "2024-03-05 10:20:30")
    assert(one(s"toYYYYMM($ts)") == 202403L)
    assert(one(s"toYYYYMMDD($ts)") == 20240305L)
    assert(one("fromUnixTimestamp(0)").toString.startsWith("1970-01-01"))
    assert(one(s"addDays($ts, 3)").toString.startsWith("2024-03-08 10:20:30"))
    assert(one(s"subtractDays($ts, 5)").toString.startsWith("2024-02-29 10:20:30"))
    // conversions + 4-arg transform
    assert(one("toInt64OrNull('12')") == 12L)
    assert(one("toInt64OrNull('nope')") == null)
    assert(one("toInt64OrZero('nope')") == 0L)
    assert(one("transform(5, [5, 3], ['f', 't'], '?')") == "f")
    assert(one("transform(4, [5, 3], ['f', 't'], '?')") == "?")
    // avgWeighted: exact closed form, skewed weights (avg-of-avgs trap)
    val aw = ch.chSql(
      "SELECT avgWeighted(`n_chars`, `doc_id` % 3 + 1) AS v " +
        "FROM `main`.`documents` WHERE `doc_id` < 50").collect().head
    val awLocal = spark.sql(
      "SELECT sum(cast(n_chars as double) * (doc_id % 3 + 1)) / " +
        "sum(cast(doc_id % 3 + 1 as double)) AS v " +
        "FROM documents WHERE doc_id < 50").collect().head
    assert(aw.getDouble(0) == awLocal.getDouble(0))
    // avgWeighted with a NULL value: the server skips the ENTIRE row of
    // a multi-arg aggregate, so a NULL x must not contribute its weight
    // to the denominator (ADVICE r14 — an unguarded sum(w) would).
    // Rows: (x=10, w=1), (x=NULL, w=100), (x=20, w=3) → (10 + 60) / 4
    val awNull = ch.chSql(
      "SELECT avgWeighted(nullIf(`n_chars`, `n_chars`) + " +
        "if(`doc_id` = 1, 10, 20), if(`doc_id` = 1, 1, 3)) AS v " +
        "FROM `main`.`documents` WHERE `doc_id` IN (1, 3)").collect().head
    // nullIf(x, x) is always NULL → x column is NULL + constant; use a
    // cleaner literal-frame check instead for the mixed case
    assert(awNull.isNullAt(0), "all-NULL values → NULL, weights ignored")
    val awMix = ch.chSql(
      "SELECT avgWeighted(if(`doc_id` = 2, NULL, `doc_id` * 10), " +
        "if(`doc_id` = 2, 100, `doc_id`)) AS v " +
        "FROM `main`.`documents` WHERE `doc_id` IN (1, 2, 3)").collect().head
    // (10*1 + 30*3) / (1 + 3) = 25.0 — doc_id 2's weight 100 must NOT count
    assert(awMix.getDouble(0) == 25.0, s"NULL-x weight leaked: ${awMix.getDouble(0)}")
    // loud rejects stay loud
    intercept[Exception](one("formatDateTime(now(), '%M')"))
    intercept[Exception](one("deltaSum(1)"))
    intercept[Exception](one("dateDiff('week', toDate('2024-01-01'), toDate('2024-01-08'))"))
    intercept[Exception](one("arrayResize([1], 3)"))
  }

  test("round-15 sweep-2 wave: hand-pinned boundary values (URL doc " +
    "examples, IEEE classification, bit tests, interval truncation)") {
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val ch = graft.session.ClickHouseSession.builder(spark)
      .storePath(s"/root/repo/target/chstore_$tag")
      .catalogName("clickhouse").build()
    def one(expr: String): Any = {
      val r = ch.chSql(s"SELECT $expr AS v").collect().head
      if (r.isNullAt(0)) null else r.get(0)
    }
    // URL family: the server docs' own examples (scheme'd, scheme-less
    // with port, user@, www-strip, TLD of a multi-label host)
    assert(one("domain('svn+ssh://some.svn-hosting.com:80/repo/trunk')")
      == "some.svn-hosting.com")
    assert(one("domain('some.svn-hosting.com:80/repo/trunk')")
      == "some.svn-hosting.com")
    assert(one("domain('https://clickhouse.com/time/')") == "clickhouse.com")
    assert(one("domain('https://user:pw@host.example.com/a')") == "host.example.com")
    assert(one("domain('')") == "")
    assert(one("domainWithoutWWW('http://www.example.com#fragment')") == "example.com")
    assert(one("topLevelDomain('svn+ssh://www.some.svn-hosting.com:80/repo/trunk')")
      == "com")
    assert(one("topLevelDomain('http://127.0.0.1/a')") == "",
      "numeric labels are not TLDs")
    assert(one("protocol('svn+ssh://host/x')") == "svn+ssh")
    assert(one("protocol('no-scheme-here/x')") == "")
    assert(one("path('https://clickhouse.com/top/news.html?query=123')")
      == "/top/news.html")
    assert(one("pathFull('https://x.com/top/news.html?query=123#f')")
      == "/top/news.html?query=123#f")
    assert(one("queryString('https://x.com/a?page=1&lr=213#f')") == "page=1&lr=213")
    assert(one("fragment('https://x.com/a#hello')") == "hello")
    assert(one("cutQueryString('https://x.com/a?q=1#frag')") == "https://x.com/a#frag")
    assert(one("extractURLParameter('https://x.com/a?a=1&b=2&c=3', 'b')") == "2")
    assert(one("extractURLParameter('https://x.com/a?a=1', 'zz')") == "")
    // IEEE classification: NaN is false on BOTH forms (Spark's
    // NaN-as-largest ordering must never leak through)
    assert(one("isFinite(1.5)") == true)
    assert(one("isFinite(1e308 * 1e308)") == false)
    assert(one("isFinite(sqrt(-1.0))") == false, "NaN is not finite")
    assert(one("isInfinite(1e308 * 1e308)") == true)
    assert(one("isInfinite(sqrt(-1.0))") == false, "NaN is not infinite")
    assert(one("ifNotFinite(1e308 * 1e308, 42.0)") == 42.0)
    // decimal literals keep decimal typing through the CASE — compare
    // rendered value (the finite branch returns its argument unchanged)
    assert(one("ifNotFinite(2.5, 42.0)").toString == "2.5")
    // named arithmetic: divide is Float64 even on integers
    assert(one("divide(5, 2)") == 2.5)
    assert(one("plus(2, 3)") == 5L && one("minus(2, 3)") == -1L &&
      one("multiply(4, 3)") == 12L && one("negate(7)") == -7L)
    // bit tests ((a >> i) & 1): 5 = 0b101
    assert(one("bitTest(5, 0)") == 1L && one("bitTest(5, 1)") == 0L)
    assert(one("bitTestAll(5, 0, 2)") == 1 && one("bitTestAll(5, 0, 1)") == 0)
    assert(one("bitTestAny(5, 1, 2)") == 1 && one("bitTestAny(5, 1, 3)") == 0)
    // fixed-interval truncation (UTC law) + ISO week-year boundary
    // (2024-01-01 is ISO week 1 of 2024; 2023-01-01 is ISO 2022's week 52)
    val ts = "toDateTime64('2024-03-05 10:23:45.000000', 6)"
    assert(one(s"toStartOfFifteenMinutes($ts)").toString
      .startsWith("2024-03-05 10:15:00"))
    assert(one(s"toStartOfFiveMinutes($ts)").toString
      .startsWith("2024-03-05 10:20:00"))
    assert(one(s"timeSlot($ts)").toString.startsWith("2024-03-05 10:00:00"))
    assert(one(s"toStartOfInterval($ts, INTERVAL 6 HOUR)").toString
      .startsWith("2024-03-05 06:00:00"))
    assert(one("toISOYear(toDate('2023-01-01'))") == 2022)
    assert(one("toISOYear(toDate('2024-01-01'))") == 2024)
    // codepoint string forms + MySQL substring_index law
    assert(one("substringIndex('www.clickhouse.com', '.', 2)") == "www.clickhouse")
    assert(one("substringIndex('www.clickhouse.com', '.', -2)") == "clickhouse.com")
    assert(one("positionUTF8('héllo', 'llo')") == 3, "codepoint, not byte")
    assert(one("leftUTF8('héllo', 3)") == "hél")
    // CH round(): banker's on FLOAT ties, away-from-zero on the rest
    // (Spark's half-up builtin used to serve this spelling silently)
    assert(one("round(2.5e0)") == 2.0)
    assert(one("round(3.5e0)") == 4.0)
    assert(one("round(-2.5e0)") == -2.0)
    assert(one("round(2.25e0, 1)") == 2.2)
    assert(one("round(CAST(2.5 AS Decimal(3,1)))").toString == "3")
    assert(one("round(CAST(-2.5 AS Decimal(3,1)))").toString == "-3")
    assert(one("round(255, -1)") == 260L)
    assert(one("round(7)") == 7L)
    // keyed SipHash: the PAPER vector itself through the SQL surface —
    // key (0x0706050403020100, 0x0f0e0d0c0b0a0908), message 00..0e,
    // expected a129ca6149be45e5 (reference implementation appendix)
    assert(one("toString(sipHash64Keyed((506097522914230528, " +
      "1084818905618843912), unhex('000102030405060708090A0B0C0D0E')))")
      == java.lang.Long.toUnsignedString(0xa129ca6149be45e5L))
    // zero-key form == plain sipHash64
    assert(one("toString(sipHash64Keyed((0, 0), 'graft'))") ==
      "14307741831258040182")
    intercept[Exception](one("sipHash64Keyed((1, k), 'x')"))
    // array shifts: filler REQUIRED (2-arg pads with the type default,
    // not derivable from text); negatives shift the other direction
    assert(one("arrayShiftLeft([1, 2, 3, 4, 5], 2, 0)") == Seq(3, 4, 5, 0, 0))
    assert(one("arrayShiftLeft([1, 2, 3], -1, 9)") == Seq(9, 1, 2))
    assert(one("arrayShiftRight([1, 2, 3, 4, 5], 2, 0)") == Seq(0, 0, 1, 2, 3))
    assert(one("arrayShiftLeft([1, 2], 5, 7)") == Seq(7, 7))
    intercept[Exception](one("arrayShiftLeft([1, 2], 1)"))
    // array rotation: wrap-around, negatives reverse direction
    assert(one("arrayRotateLeft([1, 2, 3, 4, 5], 2)") == Seq(3, 4, 5, 1, 2))
    assert(one("arrayRotateLeft([1, 2, 3], -1)") == Seq(3, 1, 2))
    assert(one("arrayRotateRight([1, 2, 3, 4, 5], 2)") == Seq(4, 5, 1, 2, 3))
    assert(one("arrayRotateLeft([1, 2, 3], 7)") == Seq(2, 3, 1))
    assert(one("arrayRotateLeft(array(), 3)") == Seq())
    // round-11 JSON mappings keep working (sweep-2 must not shadow
    // them — the round-14 rule-ordering law). Round 16 mapped
    // JSONLength / firstSignificantSubdomain / calendar-origin
    // intervals (values pinned here and in SimpleJsonSpec);
    // JSONExtractRaw stays the one loud reject (quote-preserving raw
    // is not expressible over get_json_object).
    assert(one("JSONExtractString('{\"k\":\"v\"}', 'k')") == "v")
    assert(one("JSONHas('{\"k\":1}', 'k')") == true)
    intercept[Exception](one("JSONExtractRaw('{\"k\":{}}', 'k')"))
    assert(one("JSONLength('[1,2]')") == 2L)
    assert(one("firstSignificantSubdomain('https://a.b.com/')") == "b")
    assert(one(s"toStartOfInterval($ts, INTERVAL 1 WEEK)").toString
      == "2024-03-04")
  }
}
