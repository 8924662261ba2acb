package graft.queries

import graft.{GateQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.client.EmbeddedClickHouse

/** Gate queries routed THROUGH the ClickHouse connector (catalog + DSv2
  * scan/write): the embedded store attaches the driver's parquet tables
  * zero-copy as "remote" ClickHouse tables, every query below addresses
  * them via the `clickhouse` catalog, and the DuckDB oracle runs the
  * equivalent SQL on the raw tables — so catalog resolution, scan
  * pushdown, the write path, and federation are all hash-verified.
  */
object ConnectorQueries {

  /** Idempotently build the embedded store for a scale dir and register
    * the catalog on the session. All columns are declared Nullable so the
    * connector schema matches parquet's nullable-everything reality.
    */
  def harness(spark: SparkSession, dir: String): Unit = synchronized {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val root = s"/root/repo/target/chstore_$tag"
    val client = new EmbeddedClickHouse(root)
    val tables: Map[String, Seq[(String, String)]] = Map(
      "lineitem" -> Seq(
        "l_orderkey" -> "Nullable(Int64)", "l_partkey" -> "Nullable(Int64)",
        "l_suppkey" -> "Nullable(Int64)", "l_linenumber" -> "Nullable(Int32)",
        "l_quantity" -> "Nullable(Float64)", "l_extendedprice" -> "Nullable(Float64)",
        "l_discount" -> "Nullable(Float64)", "l_tax" -> "Nullable(Float64)",
        "l_returnflag" -> "Nullable(String)", "l_linestatus" -> "Nullable(String)",
        "l_shipdate" -> "Nullable(DateTime64(3))"),
      "orders" -> Seq(
        "o_orderkey" -> "Nullable(Int64)", "o_custkey" -> "Nullable(Int64)",
        "o_orderstatus" -> "Nullable(String)", "o_totalprice" -> "Nullable(Float64)",
        "o_orderdate" -> "Nullable(DateTime64(3))", "o_orderpriority" -> "Nullable(String)"),
      "customer" -> Seq(
        "c_custkey" -> "Nullable(Int64)", "c_name" -> "Nullable(String)",
        "c_nationkey" -> "Nullable(Int32)", "c_acctbal" -> "Nullable(Float64)",
        "c_mktsegment" -> "Nullable(String)"),
      "nation" -> Seq(
        "n_nationkey" -> "Nullable(Int32)", "n_name" -> "Nullable(String)",
        "n_regionkey" -> "Nullable(Int32)"),
      "documents" -> Seq(
        "doc_id" -> "Nullable(Int64)", "text" -> "Nullable(String)",
        "lang" -> "Nullable(String)", "source" -> "Nullable(String)",
        "n_chars" -> "Nullable(Int64)"),
      // Array cannot be inside Nullable in ClickHouse; element-level
      // Nullable matches parquet's nullable list elements
      "embeddings" -> Seq(
        "vec_id" -> "Nullable(Int64)",
        "embedding" -> "Array(Nullable(Float32))",
        "label" -> "Nullable(Int32)"))
    tables.foreach { case (t, cols) =>
      if (!client.tableExists("main", t)) {
        client.createTable("main", t, cols, Map("engine" -> "MergeTree"))
        client.attachExternal("main", t, Seq(s"$dir/$t.parquet"))
      }
    }
    spark.conf.set("spark.sql.catalog.clickhouse",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.clickhouse.path", root)
    spark.conf.set("spark.sql.catalog.clickhouse.read.streams", "8")
    graft.GraftSession.install(spark)
  }

  private def q(name: String, oracle: String)(
      f: (SparkSession, String) => DataFrame): GateQuery =
    GateQuery(name,
      (s, dir) => { harness(s, dir); Tables.register(s, dir); f(s, dir) },
      Some(oracle))

  /** Shared 150K-row orders copy (k, pri, status, odate, cents), staged
    * once per store (content-fingerprinted) — r50 and r56 clone it via
    * ATTACH PARTITION FROM instead of re-inserting per run.
    */
  private def ensureOrdBase(s: SparkSession, dir: String): Unit =
    ensureStore(s, dir, Seq(("clickhouse.main.ord_ttl_base",
      Seq("k", "pri", "status", "odate", "cents"),
      () => s.table("orders").select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
        col("o_orderstatus").as("status"), col("o_orderdate").as("odate"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))))) {
      s.sql(
        """CREATE TABLE clickhouse.main.ord_ttl_base
          |(k BIGINT, pri STRING, status STRING, odate TIMESTAMP, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.ord_ttl_base
          |SELECT o_orderkey, o_orderpriority, o_orderstatus, o_orderdate,
          |  CAST(round(o_totalprice * 100) AS BIGINT)
          |FROM orders""".stripMargin)
    }

  /** Stores already content-verified this JVM (keyed by store table set):
    * the poisoning hazard is a PERSISTED artifact from an earlier run, so
    * once a store fingerprints clean it stays trusted for the session.
    */
  private val verifiedStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** (row count, sum of per-row crc32 over the '|'-joined string render
    * of `cols`) — the cheap content fingerprint build-once gate stores
    * are verified against. Both sides are computed BY SPARK (store side
    * through the connector, expected side from the corpus derivation),
    * so renderings agree whenever the types agree — build expected
    * frames with the exact store column types (cast decimals etc.).
    */
  private def contentFp(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    // NULLs must render DISTINCTLY (concat_ws silently skips them, so
    // ("x", NULL) and (NULL, "x") would fingerprint identically —
    // exactly the value-shifting corruption this guard exists to catch):
    // coalesce every column to a sentinel no cast-rendering produces
    val rendered = cols.map(c =>
      coalesce(col(c).cast("string"), lit("␀null")))
    val row = df.agg(
      count(lit(1)),
      sum(crc32(concat_ws("|", rendered: _*).cast("binary")))).head
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Build-once gate stores are reused across driver runs, which round 6
    * proved is a poisoning hazard: an artifact written by an interrupted
    * or mid-development run passes a bare tableExists() check forever
    * (the r41/r42 driver hash failures — partial/duplicated inserts from
    * a dev run predating the final routing code). A store table is
    * therefore trusted only while its content fingerprint matches the
    * corpus derivation it claims to hold; ANY mismatch (half-build,
    * duplicated insert, corpus regeneration) drops every table in the
    * set and rebuilds. Tables here are <=150K rows at sf0.1 so the
    * verification scan is ~free, and it runs once per JVM per store.
    *
    * `tables`: (fully-qualified catalog name, fingerprint columns,
    * expected frame with IDENTICAL column names+types). The catalog for
    * each name must be configured before calling. After a rebuild the
    * fingerprints are re-checked and a residual mismatch fails loudly —
    * a silently-wrong store must never survive to poison a gate hash.
    */
  private[queries] def ensureStore(s: SparkSession, sfDir: String,
      tables: Seq[(String, Seq[String], () => DataFrame)])(build: => Unit): Unit =
    synchronized {
      // the memo key carries the corpus dir: untagged shared stores
      // (clickhouse.main.*) would otherwise skip re-verification when the
      // same JVM later runs a second sfDir — matching the r32/s08/r46
      // verifiedIndexes key scheme
      val memoKey = sfDir + "::" + tables.map(_._1).mkString(",")
      if (!verifiedStores.contains(memoKey)) {
        // inter-PROCESS exclusion around verify+rebuild: a concurrent
        // JVM sharing target/ (bench overlapping verify) must never see
        // — or scan-verify against — a torn mid-build store. The JVM-
        // local `synchronized` above keeps same-process threads out, so
        // the OS lock never self-overlaps.
        graft.client.StoreLock.withLockNamed(memoKey) {
          def mismatches(): Seq[String] = tables.flatMap { case (t, cols, exp) =>
            // a probe that THROWS (e.g. the table exists on the head shard
            // but a crashed build never created it on another) is as
            // mismatched as a wrong fingerprint
            val ok = scala.util.Try(s.catalog.tableExists(t) &&
              contentFp(s.table(t), cols) == contentFp(exp(), cols)).getOrElse(false)
            if (ok) None else Some(t)
          }
          if (mismatches().nonEmpty) {
            tables.foreach { case (t, _, _) => s.sql(s"DROP TABLE IF EXISTS $t") }
            build
            val bad = mismatches()
            require(bad.isEmpty,
              s"gate store rebuild left content mismatched vs corpus: ${bad.mkString(", ")}")
          }
        }
        verifiedStores.add(memoKey)
      }
    }

  /** Per-shard store-state evidence for the Verify forensic sidecars:
    * row count + routing-key extremes + distinct-key count per shard
    * table, and the cross-shard routing-key overlap — which MUST be 0
    * for every shard_by-routed table (an overlapping key breaks the
    * keyed-COMPLETE collapse's union semantics; it is exactly the
    * corruption class the r41/r42 driver hash failures would show if
    * the store were at fault). Every probe is Try-guarded: the sidecar
    * must report, never throw.
    */
  private def shardStats(
      roots: Seq[String], table: String, key: String): Map[String, String] = {
    def client(r: String) = new EmbeddedClickHouse(r)
    val stats = roots.zipWithIndex.flatMap { case (r, i) =>
      val base = scala.util.Try {
        val row = client(r).query(
          s"SELECT count(*) AS n, min(`$key`) AS mn, max(`$key`) AS mx " +
            s"FROM `main`.`$table`", 1)._2.flatten.head
        s"n=${row.get(0)} min=${row.get(1)} max=${row.get(2)}"
      }.recover { case e => s"error=${e.getMessage}" }.get
      Seq(s"shard$i.$table" -> base)
    }.toMap
    val overlap =
      if (roots.size < 2) "n/a"
      else scala.util.Try {
        val sets = roots.map(r => client(r).query(
          s"SELECT DISTINCT `$key` AS k FROM `main`.`$table`", 1)
          ._2.flatten.map(x => String.valueOf(x.get(0))).toSet)
        s"overlap=${sets.reduce(_ intersect _).size} " +
          sets.zipWithIndex.map { case (ks, i) => s"distinct$i=${ks.size}" }.mkString(" ")
      }.recover { case e => s"error=${e.getMessage}" }.get
    stats + (s"$table.keys" -> overlap)
  }

  /** Sidecar store probes, keyed by gate name ([[graft.Verify]] calls
    * these after writing each audited gate's parquet).
    */
  val storeAudits: Map[String, (SparkSession, String) => Map[String, String]] = {
    def sharded(prefix: String, tables: Seq[(String, String)])
        : (SparkSession, String) => Map[String, String] =
      (_, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val roots = Seq(
          s"/root/repo/target/${prefix}0_$tag", s"/root/repo/target/${prefix}1_$tag")
        tables.flatMap { case (t, k) => shardStats(roots, t, k) }.toMap
      }
    Map(
      "r39_sharded_agg" -> sharded("chshard", Seq("cust_sh" -> "c_custkey")),
      "r40_sharded_final" -> sharded("chshfin", Seq("dim_sh" -> "k")),
      "r41_sharded_colocated_join" -> sharded("chcoloc",
        Seq("cust_co" -> "custkey", "ord_co" -> "custkey")),
      "r42_sharded_keyed_agg" -> sharded("chshagg", Seq("ord_ka" -> "custkey")),
      "r43_sketch_quantile" -> ((_, dir) => {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        shardStats(Seq(s"/root/repo/target/chstore_$tag"), "qh_hist", "src")
      }),
      "r44_sharded_stream_sink" -> sharded("chshstr", Seq("ev_sh" -> "user_id")),
      "r45_sharded_stream_dedup" -> sharded("chshfp", Seq("fp_index" -> "fp")),
      "r46_sharded_ann_index" -> sharded("chshann", Seq("ivf_cells_sh" -> "cell")))
  }

  /** Body-time store snapshot: when running under graft.Verify (the
    * driver's correctness procedure sets `graft.verify.audit`), a gate
    * body records its store state IMMEDIATELY after setup, before the
    * driver materializes the returned DataFrame — so a later divergence
    * can be attributed to store mutation between body and
    * materialization vs a store that was already wrong. No-op (and
    * zero-cost) outside Verify: bench timings must not pay for probes.
    */
  private[queries] def bodyAudit(name: String, s: SparkSession, dir: String): Unit =
    sys.props.get("graft.verify.audit").foreach { auditDir =>
      try {
        // full JSON escape (Verify.jsonStr): an error=… value captured
        // from a Spark exception carries newlines/tabs that a bare
        // quote-swap would leave as invalid JSON
        val stats = storeAudits.get(name).map(f => f(s, dir)).getOrElse(Map.empty)
        val body = stats.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${graft.Verify.jsonStr(k)}: ${graft.Verify.jsonStr(v)}" }
          .mkString("{", ", ", "}")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(auditDir))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(auditDir, s"$name.body.audit.json"), body + "\n")
      } catch { case _: Throwable => () }
    }

  /** max(event_id) of the events corpus, memoized per (session, dir,
    * data token): the streaming gates (r20/r27/r45) derive their
    * micro-batch size from it on EVERY invocation — a corpus constant,
    * so pay the scan once per JVM instead of once per bench iteration
    * (optimization r17). Keyed on [[graft.Tables.dataToken]] (r18, the
    * round-13 memo law): a regenerated events.parquet changes the token
    * and the memo recomputes instead of serving a stale constant.
    */
  private[queries] val evMaxIdCache =
    scala.collection.concurrent.TrieMap.empty[CorpusMemo.Key, Long]
  private[queries] def evMaxId(s: SparkSession, dir: String): Long =
    CorpusMemo(evMaxIdCache, (s, dir, graft.Tables.dataToken(dir, "events")))(
      s.table("events").agg(max("event_id")).head().getLong(0))

  /** Shared append-only source table for the r27/r45 streaming-dedup
    * gates, content-fingerprinted against the events corpus.
    */
  private def ensureEvFpSrc(s: SparkSession, dir: String): Unit =
    ensureStore(s, dir, Seq(("clickhouse.main.ev_fp_src",
      Seq("event_id", "event_type", "props"),
      () => s.table("events").select("event_id", "event_type", "props")))) {
      s.sql(
        """CREATE TABLE clickhouse.main.ev_fp_src
          |(event_id BIGINT, event_type STRING, props STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'event_id')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.ev_fp_src
          |SELECT event_id, event_type, props FROM events""".stripMargin)
    }

  val all: Seq[GateQuery] = Seq(

    // scan with filter+projection pushdown into generated ClickHouse SQL
    q("r01_connector_scan_pushdown",
      """SELECT l_orderkey, l_quantity FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'A'""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "A")
        .select("l_orderkey", "l_quantity")
    },

    // COUNT(*) → empty-projection remote scan (SELECT 1 FROM t)
    q("r02_connector_count",
      "SELECT count(*) AS n FROM lineitem") { (s, _) =>
      s.table("clickhouse.main.lineitem").agg(count(lit(1)).as("n"))
    },

    // plain-column aggregation: DSv2 complete aggregate pushdown ships
    // the whole GROUP BY into the scan SQL (one row per group transfers)
    q("r03_connector_agg",
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.lineitem")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
    },

    // federated join: remote ClickHouse table x local parquet view
    q("r04_connector_federated_join",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.orders")
        .join(broadcast(s.table("customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },

    // write path: CREATE + INSERT INTO ... SELECT + readback
    q("r05_connector_insert_readback",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.nation_copy")
      s.sql(
        """CREATE TABLE clickhouse.main.nation_copy
          |(n_nationkey INT, n_name STRING, n_regionkey INT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'n_nationkey')""".stripMargin)
      s.sql("INSERT INTO clickhouse.main.nation_copy SELECT * FROM nation")
      s.table("clickhouse.main.nation_copy")
        .select("n_nationkey", "n_name", "n_regionkey")
    },

    // function passthrough: clickhouse(expr,'Type') eliminated by the
    // pushdown rule, executed remotely, hash-matched against local SQL
    q("r06_pushdown_function",
      """SELECT c_custkey, upper(c_name) AS uname, length(c_name) AS nlen
        |FROM customer WHERE c_acctbal > 1000""".stripMargin) { (s, _) =>
      import graft.chfunctions._
      s.table("clickhouse.main.customer")
        .filter(col("c_acctbal") > 1000)
        .select(col("c_custkey"),
          clickhouse(upper(col("c_name")), "String").as("uname"),
          clickhouse(length(col("c_name")), "Int32").as("nlen"))
    },

    // aggregation ships whole to the remote engine (federation collapse),
    // with a passthrough in the grouping key
    q("r07_pushdown_agg",
      """SELECT upper(l_returnflag) AS rf, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY upper(l_returnflag)""".stripMargin) { (s, _) =>
      import graft.chfunctions._
      s.table("clickhouse.main.lineitem")
        .groupBy(clickhouse(upper(col("l_returnflag")), "String").as("rf"))
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
    },

    // join of two remote tables collapses into ONE remote SQL
    q("r08_remote_join_collapse",
      """SELECT n_name, count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.customer")
        .join(s.table("clickhouse.main.nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"))
    },

    // remote date-grouped aggregation: toYear ships inside the collapsed
    // GROUP BY (the whole aggregate runs on the "server")
    q("r10_remote_date_agg",
      """SELECT year(o_orderdate) AS yr, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY year(o_orderdate)""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },

    // passthrough arithmetic executed remotely. NOTE: no division before
    // round() — Spark rounds the shortest decimal repr of a double while
    // DuckDB rounds the exact binary value, so values landing on .xx5
    // boundaries (e.g. price/100) diverge; doubling a 2-decimal price
    // creates no new decimal digits, keeping both engines exact.
    q("r09_pushdown_arithmetic",
      """SELECT o_orderkey, round(o_totalprice * 2, 2) AS price2
        |FROM orders WHERE o_orderkey < 300""".stripMargin) { (s, _) =>
      import graft.chfunctions._
      s.table("clickhouse.main.orders")
        .filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          clickhouse(round(col("o_totalprice") * 2, 2), "Float64").as("price2"))
    },

    // window function collapses INTO the remote query (standard OVER
    // syntax ships; rank per customer over order price)
    q("r11_remote_window",
      """SELECT o_orderkey, o_custkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders WHERE o_custkey < 50""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.table("clickhouse.main.orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_orderkey"), col("o_custkey"),
          row_number().over(w).as("rn"))
    },

    // LIKE / regex predicates unparse into the remote WHERE clause
    q("r12_remote_like_regex",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_name LIKE 'Customer#0000000_5' OR regexp_matches(c_name, '00[12]$')""".stripMargin) {
      (s, _) =>
        s.table("clickhouse.main.customer")
          .filter(col("c_name").like("Customer#0000000_5") || col("c_name").rlike("00[12]$"))
          .select("c_custkey", "c_name")
    },

    // DSv2 scan-level min/max/avg pushdown (SupportsPushDownAggregates):
    // WHERE + whole aggregate compile into one remote SQL, no raw row
    // crosses the transport. avg is unrounded: sum and count are exact
    // here, so the IEEE division is bit-identical on both engines.
    q("r13_scan_agg_minmax",
      """SELECT min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  avg(l_quantity) AS avg_qty, count(DISTINCT l_returnflag) AS n_flags
        |FROM lineitem WHERE l_quantity > 10""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.lineitem")
        .filter(col("l_quantity") > 10)
        .agg(min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"),
          avg("l_quantity").as("avg_qty"),
          countDistinct("l_returnflag").as("n_flags"))
    },

    // DSv2 top-k pushdown (SupportsPushDownTopN): ORDER BY + LIMIT run
    // remotely; only k rows transfer — the scan ships `ORDER BY ... LIMIT`
    q("r14_scan_topk",
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.orders")
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "price")
    },

    // runtime (dynamic) filtering: the federated broadcast join's build
    // side feeds an IN-list into the remote probe scan's WHERE at
    // execution time (SupportsRuntimeV2Filtering) — at 100 TB the store
    // reads only matching join keys instead of the full fact table
    q("r15_runtime_filter_join",
      """SELECT count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin) { (s, _) =>
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      s.table("clickhouse.main.orders")
        .join(broadcast(s.table("customer").filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },

    // streaming ingest INTO the connector: the events stream lands in a
    // ClickHouse table via foreachBatch append (each micro-batch is one
    // bounded-concurrency DSv2 write), then the readback aggregates
    // through the connector scan. At scale this is the continuous-ingest
    // topology: readStream from the queue, foreachBatch into the store.
    q("r16_stream_insert_connector",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ev_ingest")
      s.sql(
        """CREATE TABLE clickhouse.main.ev_ingest
          |(event_type STRING, k BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree')""".stripMargin)
      val stream = StreamingQueries.eventsStream(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      val ckBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
        else sys.props("java.io.tmpdir")
      val ck = s"$ckBase/graft_ck_ingest_${System.nanoTime()}"
      try {
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.writeTo("clickhouse.main.ev_ingest").append()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
      s.table("clickhouse.main.ev_ingest")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
    },

    // lag/lead collapse remotely as ClickHouse lagInFrame/leadInFrame with
    // the explicit full frame they require (the window-over-pushed-column
    // capability of reference tests/e2e.rs:938-943, extended to offsets)
    q("r17_remote_lag",
      """SELECT o_orderkey, o_custkey,
        |  lag(o_totalprice, 1, 0.0) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price,
        |  lead(o_orderkey, 1, -1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_key
        |FROM orders WHERE o_custkey < 100""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      s.table("clickhouse.main.orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_orderkey"), col("o_custkey"),
          lag(col("o_totalprice"), 1, 0.0).over(w).as("prev_price"),
          lead(col("o_orderkey"), 1, -1).over(w).as("next_key"))
    },

    // DIRECT streaming sink (no foreachBatch): writeStream.toTable lands
    // micro-batches through the table's own StreamingWrite — staged parts
    // + epoch markers give exactly-once; readback aggregates through the
    // connector scan and hash-matches the batch oracle
    q("r19_stream_totable_sink",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ev_totable")
      s.sql(
        """CREATE TABLE clickhouse.main.ev_totable
          |(event_type STRING, k BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree')""".stripMargin)
      val stream = StreamingQueries.eventsStream(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      val ckBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
        else sys.props("java.io.tmpdir")
      val ck = s"$ckBase/graft_ck_totable_${System.nanoTime()}"
      try {
        val q = stream.writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("clickhouse.main.ev_totable")
        q.awaitTermination()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
      s.table("clickhouse.main.ev_totable")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
    },

    // streaming READ from the connector (source-side complement of r19's
    // native sink): readStream.table tails the remote table by event_id
    // cursor ranges (MicroBatchStream); stream_max_per_batch forces the
    // drain through MULTIPLE micro-batches, so the hash-match against the
    // batch oracle proves range planning loses/duplicates nothing across
    // batch boundaries. At scale this is CDC-lite: each micro-batch ships
    // one bounded remote range query; only cursor bounds cross the driver.
    q("r20_stream_read_connector",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      // idempotent setup: the source table is append-only input, so a
      // fully-landed copy from an earlier run (content-fingerprinted
      // against the corpus derivation) is reused
      ensureStore(s, dir, Seq(("clickhouse.main.ev_src",
        Seq("event_id", "event_type", "k"),
        () => s.table("events").select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))))) {
        s.sql(
          """CREATE TABLE clickhouse.main.ev_src
            |(event_id BIGINT, event_type STRING, k BIGINT)
            |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'event_id')""".stripMargin)
        s.sql(
          """INSERT INTO clickhouse.main.ev_src
            |SELECT event_id, event_type,
            |  CAST(get_json_object(props, '$.k') AS BIGINT) AS k
            |FROM events""".stripMargin)
      }
      val maxId = evMaxId(s, dir)
      val built = s.readStream
        .option("stream_cursor", "event_id")
        // 3 micro-batches: enough to prove range planning loses/dupes
        // nothing across batch boundaries (the spec drives 4+ with
        // restarts); each extra batch is a full remote query cycle
        .option("stream_max_per_batch", math.max(1L, maxId / 2).toString)
        .table("clickhouse.main.ev_src")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
      StreamingQueries.drain(s, built, "complete")
    },

    // exact quantiles collapse remotely: Spark percentile() unparses as
    // quantileExactInclusive(p)(x) (identical percentile_cont
    // interpolation), so the per-group sort happens in the store and one
    // row per group crosses the wire — the corpus-sized sort never
    // reaches Spark.
    q("r30_remote_quantile",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.lineitem")
        .groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.5)).as("med"),
          percentile(col("l_quantity"), lit(0.9)).as("p90"),
          count(lit(1)).as("n"))
    },

    // anti-join collapse: customer LEFT ANTI a date-restricted orders
    // slice, then the dimension join and the aggregate — ALL of it one
    // remote SQL (ClickHouse spells anti joins natively; the reference's
    // semi/anti coverage is local-only). The date restriction keeps the
    // "inactive" slice non-trivial at every sf (customers-without-ANY-
    // order is near-empty in TPC-H data, which would make the gate an
    // empty-vs-empty compare): "customers with no order since 2000" is
    // the canonical retention query, and the filter pushes into the
    // anti side's scan before the store runs the join.
    q("r29_remote_anti_join",
      """SELECT n_name, count(*) AS n_inactive
        |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY n_name""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.customer")
        .join(s.table("clickhouse.main.orders")
            .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(s.table("clickhouse.main.nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_inactive"))
    },

    // CROSS-STORE federation: two catalogs over two DISTINCT store roots
    // (different connection keys). The pushdown rule must NOT collapse
    // the join into either store — each side executes as its own remote
    // scan (supplier's filter pushed into store 2, nation pruned in
    // store 1) and the join runs in Spark, the only engine that can see
    // both. The dimension side broadcasts. This is the multi-warehouse
    // topology (e.g. per-region ClickHouse clusters joined for a global
    // report) that single-store collapse can't serve.
    q("r28_cross_store_join",
      """SELECT n_name, count(*) AS n_sup, round(sum(s_acctbal), 2) AS acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_acctbal > 0
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root2 = s"/root/repo/target/chstore2_$tag"
      val client2 = new EmbeddedClickHouse(root2)
      // catalog name carries the sfDir tag: Spark's CatalogManager caches
      // the catalog instance on first load, so a fixed name would silently
      // keep reading the first store root if the same JVM session runs a
      // second sfDir — one name per root makes the cache correct by
      // construction (same reason gate suites use unique catalog names)
      val cat = s"clickhouse2_$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", root2)
      ensureStore(s, dir, Seq((s"$cat.main.supplier",
        Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        () => s.table("supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")))) {
        client2.createTable("main", "supplier", Seq(
          "s_suppkey" -> "Nullable(Int64)", "s_name" -> "Nullable(String)",
          "s_nationkey" -> "Nullable(Int32)", "s_acctbal" -> "Nullable(Float64)"),
          Map("engine" -> "MergeTree"))
        client2.attachExternal("main", "supplier", Seq(s"$dir/supplier.parquet"))
      }
      s.table(s"$cat.main.supplier")
        .filter(col("s_acctbal") > 0)
        .join(broadcast(s.table("clickhouse.main.nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_sup"), round(sum("s_acctbal"), 2).as("acctbal"))
    },

    // STREAMING incremental dedup against a stored fingerprint index:
    // the ingest-dedup pattern in its production shape — events stream out of the
    // remote source by cursor ranges (multiple micro-batches), each batch
    // first-occurrence-dedups within itself (groupBy fp -> min event_id),
    // stages the deduped rows into a remote staging table, and the store
    // itself runs the anti-insert (`INSERT INTO fp_index SELECT ... WHERE
    // fp NOT IN (SELECT fp FROM fp_index)`) — the corpus-scale index is
    // NEVER shipped into Spark, not even once per micro-batch; only the
    // batch's own (fp, first_event) rows cross the wire. Because cursor
    // ranges ascend, the first batch seeing a fingerprint holds its
    // global-min event_id, so the drained index equals the batch oracle
    // exactly. The server-side NOT IN also makes the append IDEMPOTENT
    // under micro-batch replay: re-staged rows are filtered because they
    // already landed. (GatePlanSpec asserts no connector scan of fp_index
    // appears in any micro-batch plan.)
    q("r27_stream_incremental_dedup",
      """SELECT md5(event_type || '|' || props) AS fp,
        |  CAST(min(event_id) AS BIGINT) AS first_event
        |FROM events GROUP BY md5(event_type || '|' || props)""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val client = new EmbeddedClickHouse(s"/root/repo/target/chstore_$tag")
      ensureEvFpSrc(s, dir)
      s.sql("DROP TABLE IF EXISTS clickhouse.main.fp_index")
      s.sql(
        """CREATE TABLE clickhouse.main.fp_index (fp STRING, first_event BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'fp')""".stripMargin)
      // r18: the per-batch staging table is created ONCE per run; each
      // micro-batch empties it with a metadata-speed TRUNCATE (parts
      // removed wholesale) instead of paying two Spark-SQL DDL roundtrips
      // + an extra store mutation per batch. Replay semantics unchanged:
      // a re-run batch still sees an empty stage before re-staging.
      s.sql("DROP TABLE IF EXISTS clickhouse.main.fp_stage")
      s.sql(
        """CREATE TABLE clickhouse.main.fp_stage (fp STRING, first_event BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'fp')""".stripMargin)
      val maxId = evMaxId(s, dir)
      val stream = s.readStream
        .option("stream_cursor", "event_id")
        .option("stream_max_per_batch", math.max(1L, maxId / 2).toString)
        .table("clickhouse.main.ev_fp_src")
      val ckBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
        else sys.props("java.io.tmpdir")
      val ck = s"$ckBase/graft_ck_fpdedup_${System.nanoTime()}"
      try {
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            // truncate-then-stage (replay-safe: a re-run batch re-stages
            // into an empty table and the server-side NOT IN filters it).
            // concat (not concat_ws) so a NULL event_type/props propagates
            // to a NULL fp — identical to the oracle's || semantics.
            client.truncateTable("main", "fp_stage")
            b.select(
                md5(concat(col("event_type"), lit("|"), col("props")).cast("binary")).as("fp"),
                col("event_id"))
              .groupBy("fp").agg(min("event_id").as("first_event"))
              .writeTo("clickhouse.main.fp_stage").append()
            // the anti-join runs WHERE THE INDEX LIVES: zero index rows
            // cross the wire (reference analog: whole-subtree federation
            // pushdown, /root/reference/src/federation.rs:19-43).
            // COST CONTRACT: the probe is O(index) per micro-batch — at
            // a 100 TB corpus the batch cadence is bounded by index scan
            // speed. The round-14 1x->10x A/B (BASELINE.md) showed
            // NOT IN flat and a sort-merge formulation 100x worse
            // (per-batch sorts); when the index outgrows scan bandwidth
            // the scale path is r45's fp-sharded index (probe stays
            // shard-local), not a different join shape.
            // NULL-safe anti-insert: plain NOT IN under 3-valued logic both
            // drops NULL-fp batch rows silently AND turns into an all-row
            // no-op the moment one NULL fp lands in the index. Split the
            // NULL group out explicitly: non-null fps anti-join non-null
            // index fps; the NULL-fp group inserts once (first batch wins,
            // matching the oracle's GROUP BY over a NULL md5).
            client.insertSelect("main", "fp_index",
              """SELECT `fp`, `first_event` FROM `main`.`fp_stage`
                |WHERE `fp` IS NOT NULL AND `fp` NOT IN
                |  (SELECT `fp` FROM `main`.`fp_index` WHERE `fp` IS NOT NULL)
                |UNION ALL
                |SELECT `fp`, `first_event` FROM `main`.`fp_stage`
                |WHERE `fp` IS NULL AND
                |  (SELECT count(*) FROM `main`.`fp_index` WHERE `fp` IS NULL) = 0""".stripMargin)
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
      s.table("clickhouse.main.fp_index")
    },

    // STREAMING dedup against a SHARDED fingerprint index — r27 at
    // cluster scale. The index routes by fp (shard_by), so equal
    // fingerprints co-reside and the per-shard anti-insert
    // (`INSERT INTO fp_index SELECT ... WHERE fp NOT IN (local index)`)
    // is GLOBALLY exact: no shard ever needs another shard's index, no
    // index row ever crosses the wire, and the index itself can outgrow
    // any single server. Each micro-batch dedups within itself, stages
    // into the sharded fp_stage (rows hash-routed by fp on insert), and
    // the cluster runs the anti-insert shard-locally — the same
    // placement argument that makes r41's co-located join collapse.
    // NULL fps all ride shard 0, so the NULL group's first-batch-wins
    // check is shard-local too.
    q("r45_sharded_stream_dedup",
      """SELECT md5(event_type || '|' || props) AS fp,
        |  CAST(min(event_id) AS BIGINT) AS first_event
        |FROM events GROUP BY md5(event_type || '|' || props)""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      ensureEvFpSrc(s, dir)
      val cat = s"chshfp_$tag"
      val roots = IndexedSeq(
        s"/root/repo/target/chshfp0_$tag", s"/root/repo/target/chshfp1_$tag")
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", roots.mkString(","))
      s.conf.set(s"spark.sql.catalog.$cat.shard_by", "fp")
      val shClient = new graft.client.ShardedClickHouseClient(
        roots.map(r => new EmbeddedClickHouse(r)), shardBy = Some("fp"))
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
      s.sql(s"DROP TABLE IF EXISTS $cat.main.fp_index")
      s.sql(
        s"""CREATE TABLE $cat.main.fp_index (fp STRING, first_event BIGINT)
           |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'fp')""".stripMargin)
      // r18: stage created once per run, per-batch TRUNCATE (see r27)
      s.sql(s"DROP TABLE IF EXISTS $cat.main.fp_stage")
      s.sql(
        s"""CREATE TABLE $cat.main.fp_stage (fp STRING, first_event BIGINT)
           |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'fp')""".stripMargin)
      val maxId = evMaxId(s, dir)
      val stream = s.readStream
        .option("stream_cursor", "event_id")
        .option("stream_max_per_batch", math.max(1L, maxId / 2).toString)
        .table("clickhouse.main.ev_fp_src")
      val ckBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
        else sys.props("java.io.tmpdir")
      val ck = s"$ckBase/graft_ck_shfp_${System.nanoTime()}"
      try {
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            // per-shard metadata-speed truncate, then restage (replay-safe)
            shClient.truncateTable("main", "fp_stage")
            b.select(
                md5(concat(col("event_type"), lit("|"), col("props")).cast("binary")).as("fp"),
                col("event_id"))
              .groupBy("fp").agg(min("event_id").as("first_event"))
              .writeTo(s"$cat.main.fp_stage").append()
            // runs ONCE PER SHARD against that shard's stage+index slice;
            // fp routing makes the shard-local NOT IN globally exact
            shClient.insertSelect("main", "fp_index",
              """SELECT `fp`, `first_event` FROM `main`.`fp_stage`
                |WHERE `fp` IS NOT NULL AND `fp` NOT IN
                |  (SELECT `fp` FROM `main`.`fp_index` WHERE `fp` IS NOT NULL)
                |UNION ALL
                |SELECT `fp`, `first_event` FROM `main`.`fp_stage`
                |WHERE `fp` IS NULL AND
                |  (SELECT count(*) FROM `main`.`fp_index` WHERE `fp` IS NULL) = 0""".stripMargin)
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
      // the index must actually be DISTRIBUTED (both shards hold a
      // disjoint slice), or the gate silently degrades to single-store.
      // Scalar probes only: at scale the index IS the full fingerprint
      // set, so materializing per-shard Sets on the driver (the naive
      // check) is exactly the anti-pattern the gate exists to prevent.
      // Disjoint <=> per-shard row counts sum to distinct-plus-nulls
      // over the union (each shard holds one row per fp it owns).
      val perShardN = roots.map(r => new EmbeddedClickHouse(r)
        .query("SELECT count(*) AS n FROM `main`.`fp_index`", 1)
        ._2.flatten.head.getLong(0))
      require(perShardN.forall(_ > 0), s"shard slice sizes: ${perShardN.mkString(",")}")
      val u = s.table(s"$cat.main.fp_index")
        .agg(count_distinct(col("fp")).as("nd"),
          sum(when(col("fp").isNull, 1L).otherwise(0L)).as("nn")).head()
      require(perShardN.sum == u.getLong(0) + u.getLong(1),
        s"shard slices must be disjoint: ${perShardN.sum} rows vs " +
          s"${u.getLong(0)} distinct + ${u.getLong(1)} null")
      s.table(s"$cat.main.fp_index")
    },

    // value window functions collapse remotely: first_value/last_value
    // with an explicit full frame (identical spelling in both dialects)
    // and ntile bucketing
    q("r18_remote_value_windows",
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_orderkey) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_key,
        |  last_value(o_orderkey) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
        |  ntile(4) OVER (PARTITION BY o_custkey
        |                 ORDER BY o_orderdate, o_orderkey) AS quartile
        |FROM orders WHERE o_custkey < 100""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val base = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      s.table("clickhouse.main.orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_orderkey"), col("o_custkey"),
          first(col("o_orderkey")).over(full).as("first_key"),
          last(col("o_orderkey")).over(full).as("last_key"),
          ntile(4).over(base).as("quartile"))
    },

    // the dedup pipeline composed WITH the connector: prefix-based exact
    // dedup (boilerplate detection) over a REMOTE corpus. The whole
    // Filter(Aggregate(scan)) subtree collapses into one remote SQL —
    // GROUP BY substring(text,1,40) runs in the store and only one row
    // per duplicate-prefix group crosses the wire, never the corpus.
    // (Corpus is ASCII, so byte- vs codepoint-substring agree.)
    q("r21_remote_prefix_dedup",
      """SELECT substring(text, 1, 40) AS prefix,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY substring(text, 1, 40)
        |HAVING count(*) > 1""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.documents")
        .groupBy(substring(col("text"), 1, 40).as("prefix"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
    },

    // vector search composed WITH the connector: Array(Float32)
    // embeddings stream out of the remote store (array columns survive
    // the UnsafeRow spill path end to end) and the s01 brute-force
    // cosine kernel runs on top — fixed probe set broadcasts, corpus
    // side scales out with the remote stream count.
    q("r22_remote_knn",
      """WITH pairs AS (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 20),
        |ranked AS (
        |  SELECT probe_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY probe_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM pairs)
        |SELECT probe_id, neighbor_id, round(cos, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.vector.{vec_dot, vec_norm_sq}
      val e = s.table("clickhouse.main.embeddings")
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
        .withColumn("pn", vec_norm_sq(col("pe")))
      val neighbors = e
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
        .withColumn("nn", vec_norm_sq(col("ne")))
      val pairs = broadcast(probes)
        .join(neighbors, col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          (vec_dot(col("pe"), col("ne")) / sqrt(col("pn") * col("nn"))).as("cos"))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
      pairs
        .select(col("probe_id"), col("neighbor_id"), col("cos"),
          row_number().over(w).as("rank"))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cosine"), col("rank"))
    },

    // content fingerprinting computed IN the store: Spark's md5 unparsers
    // as lower(hex(MD5(s))), so the digest of every document is produced
    // remotely and only (id, 32-char fp) rows cross the wire — the first
    // stage of cross-store exact dedup without moving the corpus.
    q("r23_remote_fingerprint",
      """SELECT doc_id, md5(text) AS fp,
        |  sha256(text) AS fp_sha256
        |FROM documents WHERE n_chars > 300""".stripMargin) { (s, _) =>
      s.table("clickhouse.main.documents")
        .filter(col("n_chars") > 300)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("fp"),
          sha2(col("text").cast("binary"), 256).as("fp_sha256"))
    },

    // server-side ETL copy: INSERT INTO ... SELECT runs entirely in the
    // store (zero rows cross the wire), then the result reads back
    // through the connector — the canonical "materialize a filtered
    // corpus slice next to the data" pipeline step.
    q("r25_remote_copy",
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'") { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val client = new EmbeddedClickHouse(s"/root/repo/target/chstore_$tag")
      if (client.tableExists("main", "docs_en")) client.dropTable("main", "docs_en")
      client.createTable("main", "docs_en", Seq(
        "doc_id" -> "Nullable(Int64)", "lang" -> "Nullable(String)",
        "n_chars" -> "Nullable(Int64)"), Map("engine" -> "MergeTree"))
      client.insertSelect("main", "docs_en",
        "SELECT `doc_id`, `lang`, `n_chars` FROM `main`.`documents` WHERE `lang` = 'en'")
      s.table("clickhouse.main.docs_en")
    },

    // incremental dedup composed WITH the connector: the corpus MinHash
    // signature table lives IN the store (built once at ingest — the
    // "signature index next to the data" pattern), so deduping an
    // arriving shard moves only 17 ints per corpus doc, never the corpus
    // text. The batch side computes its signatures locally and
    // broadcasts; the stored signatures stream out executor-side with
    // only (doc_id, s0..s15) in the projection. Same oracle as d08: the
    // stored table is derived, so the full derivation re-runs in DuckDB.
    q("r26_remote_incremental_dedup", DedupQueries.incrementalOracle) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val client = new EmbeddedClickHouse(s"/root/repo/target/chstore_$tag")
      // fingerprint covers the signature VALUES (not just doc ids): a
      // corpus regeneration changing text re-derives different minhashes
      // at identical row counts, and a stale signature table must rebuild
      ensureStore(s, dir, Seq(("clickhouse.main.doc_sigs",
        "doc_id" +: (0 until 16).map(i => s"s$i"),
        () => DedupQueries.minhashSigs(s).filter(col("doc_id") % 7 =!= 3)))) {
        client.createTable("main", "doc_sigs",
          ("doc_id" -> "Nullable(Int64)") +:
            (0 until 16).map(i => s"s$i" -> "Nullable(Int64)"),
          Map("engine" -> "MergeTree"))
        DedupQueries.minhashSigs(s).filter(col("doc_id") % 7 =!= 3)
          .writeTo("clickhouse.main.doc_sigs").append()
      }
      val batchSigs = DedupQueries.minhashSigs(s).filter(col("doc_id") % 7 === 3)
      DedupQueries.incrementalMatch(batchSigs, s.table("clickhouse.main.doc_sigs"))
    },

    // typed round-trip: Decimal(20,4) + DateTime64 + Map(String,Int64)
    // columns survive the FULL connector path — catalog DDL renders the
    // Spark types as ClickHouse types, the staged insert writes them, the
    // scan reads them back (maps take the row read path; the columnar
    // boundary covers atomic/array schemas) — and every value
    // hash-matches DuckDB recomputing the same derivation from the raw
    // table. Decimals are built by STRING cast (identical cross-engine;
    // arithmetic-derived decimals hit each engine's own precision/scale
    // propagation rules), timestamps compare as exact unix micros, maps
    // as ordered key/value renderings (SURVEY §1.2 "support from day 1").
    q("r31_typed_roundtrip",
      """SELECT n_nationkey AS nk,
        |  CAST((n_nationkey::VARCHAR || '.1234')::DECIMAL(20,4) * 10000 AS BIGINT) AS dec_v,
        |  epoch_us(TIMESTAMP '2024-03-01 00:00:00'
        |           + n_nationkey * INTERVAL 1 HOUR) AS ts_us,
        |  'k;r' AS mk,
        |  CAST(n_nationkey + n_regionkey AS BIGINT) AS mv_sum
        |FROM nation""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.typed_rt")
      s.sql(
        """CREATE TABLE clickhouse.main.typed_rt
          |(nk INT, dec_v DECIMAL(20,4), ts TIMESTAMP, m MAP<STRING, BIGINT>)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'nk')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.typed_rt
          |SELECT CAST(n_nationkey AS INT),
          |  CAST(concat(CAST(n_nationkey AS STRING), '.1234') AS DECIMAL(20, 4)),
          |  timestamp'2024-03-01 00:00:00'
          |    + make_interval(0, 0, 0, 0, CAST(n_nationkey AS INT), 0, 0),
          |  map('k', CAST(n_nationkey AS BIGINT), 'r', CAST(n_regionkey AS BIGINT))
          |FROM nation""".stripMargin)
      // dec_v round-trips the store as DECIMAL(20,4) but leaves the gate
      // as exact scaled BIGINT (*10000): DECIMAL result columns hash-flip
      // on trailing-zero rendering in the driver's pipeline (rounds 6-8).
      s.table("clickhouse.main.typed_rt").select(
        col("nk"), (col("dec_v") * 10000).cast("bigint").as("dec_v"),
        unix_micros(col("ts")).as("ts_us"),
        concat_ws(";", map_keys(col("m"))).as("mk"),
        aggregate(map_values(col("m")), lit(0L), (a, b) => a + b).as("mv_sum"))
    },

    // DELETE pushdown: Spark's `DELETE FROM` compiles its predicates to
    // ClickHouse SQL (SupportsDelete + the same exactness probe as scan
    // pushdown) and the store rewrites its parts — the mutation runs
    // where the data lives; zero rows cross the wire in either
    // direction. Oracle recomputes the kept set from the raw table with
    // the exact NULL semantics of `ALTER TABLE ... DELETE WHERE`
    // (a NULL condition keeps the row).
    q("r33_delete_where",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT coalesce(
        |  (c_acctbal < 500 OR c_mktsegment = 'BUILDING'), false)""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.cust_del")
      s.sql(
        """CREATE TABLE clickhouse.main.cust_del
          |(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'c_custkey')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.cust_del
          |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer""".stripMargin)
      s.sql(
        "DELETE FROM clickhouse.main.cust_del " +
          "WHERE c_acctbal < 500 OR c_mktsegment = 'BUILDING'")
      s.table("clickhouse.main.cust_del").select("c_custkey", "c_name", "c_acctbal")
    },

    // UPDATE mutation: ChMutations.updateWhere ships an ALTER-style
    // mutation; the store recomputes the assigned column from OLD row
    // values where the condition holds and rewrites its parts — the
    // 100 TB shape for point updates (Spark's row-level-operation
    // rewrite would re-shuffle every matched group through the cluster).
    // Oracle recomputes the same CASE over the raw table.
    q("r34_update_where",
      """SELECT c_custkey,
        |  CASE WHEN coalesce((c_mktsegment = 'BUILDING'), false)
        |    THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.cust_upd")
      s.sql(
        """CREATE TABLE clickhouse.main.cust_upd
          |(c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'c_custkey')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.cust_upd
          |SELECT c_custkey, c_acctbal, c_mktsegment FROM customer""".stripMargin)
      graft.connector.ChMutations.updateWhere(
        s, "clickhouse.main.cust_upd",
        Seq("c_acctbal" -> "c_acctbal + 100"), "c_mktsegment = 'BUILDING'")
      s.table("clickhouse.main.cust_upd").select("c_custkey", "c_acctbal")
    },

    // SAMPLE pushdown: df.sample on a sampling-keyed connector table
    // ships as ClickHouse `SAMPLE f OFFSET o` — sampling happens IN the
    // store on the declared key, so a 20% probe reads ~20% of the data
    // instead of shipping everything for Spark to discard. The embedded
    // model is the repo's deterministic md5-bucket hash, so the oracle
    // recomputes the EXACT kept set (a local seeded Bernoulli sample
    // could never hash-match — this gate fails loudly if the sample ever
    // stops pushing). seed 7 → OFFSET 0.000007 → buckets [7, 200007).
    q("r35_remote_sample",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 1000000
        |  BETWEEN 7 AND 200006""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_smp")
      s.sql(
        """CREATE TABLE clickhouse.main.ord_smp
          |(o_orderkey BIGINT, o_totalprice DOUBLE)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'o_orderkey',
          |  'sampling' = 'o_orderkey')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.ord_smp
          |SELECT o_orderkey, o_totalprice FROM orders""".stripMargin)
      s.table("clickhouse.main.ord_smp")
        .sample(withReplacement = false, 0.2, 7L)
        .select("o_orderkey", "o_totalprice")
    },

    // STORAGE-PARTITIONED cross-store join: each store reads bucket-keyed
    // (`bucket_by`/`buckets` options — the transport routes rows with
    // pmod(murmur3(key),n) and each scan reports
    // KeyGroupedPartitioning(bucket(n, key), catalog FunctionCatalog +
    // HasPartitionKey), so Spark lines the two sides' buckets up and
    // plans the join with ZERO exchange between the scans and the join.
    // Cross-store joins can never collapse into one remote SQL (r28), so
    // at 100 TB this is the difference between shuffling both warehouses
    // over the cluster and streaming co-located buckets straight into
    // the join. The merge hint pins the co-partitioned plan where gate-
    // scale stats would pick a broadcast; GatePlanSpec asserts the
    // join subtree is exchange-free.
    q("r36_spj_cross_store",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root2 = s"/root/repo/target/chstore2_$tag"
      val client2 = new EmbeddedClickHouse(root2)
      val cat = s"clickhouse2_$tag" // per-sfdir name, same reason as r28
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", root2)
      ensureStore(s, dir, Seq((s"$cat.main.customer",
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        () => s.table("customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")))) {
        client2.createTable("main", "customer", Seq(
          "c_custkey" -> "Nullable(Int64)", "c_name" -> "Nullable(String)",
          "c_nationkey" -> "Nullable(Int32)", "c_acctbal" -> "Nullable(Float64)",
          "c_mktsegment" -> "Nullable(String)"),
          Map("engine" -> "MergeTree"))
        client2.attachExternal("main", "customer", Seq(s"$dir/customer.parquet"))
      }
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val o = s.read.option("bucket_by", "o_custkey").option("buckets", "8")
        .table("clickhouse.main.orders")
      val c = s.read.option("bucket_by", "c_custkey").option("buckets", "8")
        .table(s"$cat.main.customer")
      o.join(c.hint("merge"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"),
          countDistinct(col("o_custkey")).as("n_cust"))
    },

    // FINAL dedup-on-read (ReplacingMergeTree): upserts modeled as plain
    // inserts — base rows at ver=1, a second wave re-inserting keys < 10
    // at ver=2 — resolve AT READ to the max-version survivor per ORDER
    // BY key (`final=true` read option → `FROM t FINAL`). This is the
    // mutable-dimension pattern at 100 TB: no row is ever rewritten on
    // ingest; the store collapses versions in merges and FINAL forces
    // the collapsed view. The oracle recomputes the survivor set in
    // closed form from the raw table, so the gate hash-fails if FINAL
    // ever stops deduplicating (or dedups by the wrong rule).
    q("r37_final_dedup",
      """SELECT n_nationkey AS k,
        |  CASE WHEN n_nationkey < 10 THEN n_name || '_v2' ELSE n_name END AS v,
        |  CAST(CASE WHEN n_nationkey < 10 THEN 2 ELSE 1 END AS INT) AS ver
        |FROM nation""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.dim_nation")
      s.sql(
        """CREATE TABLE clickhouse.main.dim_nation (k INT, v STRING, ver INT)
          |TBLPROPERTIES ('engine' = 'ReplacingMergeTree(ver)',
          |  'order_by' = 'k')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.dim_nation
          |SELECT CAST(n_nationkey AS INT), n_name, 1 FROM nation""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.dim_nation
          |SELECT CAST(n_nationkey AS INT), concat(n_name, '_v2'), 2
          |FROM nation WHERE n_nationkey < 10""".stripMargin)
      s.read.option("final", "true").table("clickhouse.main.dim_nation")
        .select("k", "v", "ver")
    },

    // r67: ReplacingMergeTree(ver, is_deleted) — the modern server
    // tombstone variant (VERDICT r12 item 8). Deletes are ordinary
    // inserts flagged is_deleted=1; FINAL resolves each key to its
    // max-version row and DROPS it when flagged. Every 7th order number
    // is a tombstone, so ~1/7 of customers' latest versions vanish from
    // the FINAL read while their history stays physically present.
    q("r67_replacing_tombstone",
      """SELECT k, ver, cents FROM (
        |  SELECT o_custkey AS k, o_orderkey AS ver,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS isd,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderkey DESC) AS rn
        |  FROM orders) x WHERE rn = 1 AND isd = 0""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.cust_ver_isd")
      s.sql(
        """CREATE TABLE clickhouse.main.cust_ver_isd
          |(k BIGINT, ver BIGINT, isd INT, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'ReplacingMergeTree(ver, isd)',
          |  'order_by' = 'k')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.cust_ver_isd
          |SELECT o_custkey, o_orderkey,
          |  CAST(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS INT),
          |  CAST(round(o_totalprice * 100) AS BIGINT)
          |FROM orders""".stripMargin)
      s.read.option("final", "true").table("clickhouse.main.cust_ver_isd")
        .select("k", "ver", "cents")
    },

    // OPTIMIZE TABLE FINAL (round 10): r37 proves dedup-ON-READ; this
    // gate proves the MERGE MATERIALIZES it — after optimizeTable the
    // survivors are the table's physical rows, so a PLAIN read (no
    // final=true option) returns exactly the max-version set. On a real
    // server this is the background merge FINAL reads pre-empt; the
    // embedded store rewrites its parts with the same survivor rule.
    q("r48_optimize_final",
      """SELECT o_custkey AS k,
        |  CAST(max(o_orderkey) AS BIGINT) AS latest_order
        |FROM orders GROUP BY o_custkey""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.cust_latest")
      s.sql(
        """CREATE TABLE clickhouse.main.cust_latest
          |(k BIGINT, latest_order BIGINT)
          |TBLPROPERTIES ('engine' = 'ReplacingMergeTree(latest_order)',
          |  'order_by' = 'k')""".stripMargin)
      // every order is one version row for its customer — heavy
      // duplication per key; the merge must keep exactly the max
      s.sql(
        """INSERT INTO clickhouse.main.cust_latest
          |SELECT o_custkey, o_orderkey FROM orders""".stripMargin)
      graft.connector.ChMutations.clientOf(s, "clickhouse")
        .optimizeTable("main", "cust_latest", finalize = true)
      s.table("clickhouse.main.cust_latest") // PLAIN read — no final option
    },

    // Mergeable-sketch incremental distinct count: per-group HLL sketches
    // (DataSketches via Spark's codegen'd hll_sketch_agg) are PERSISTED
    // into the store as base64 strings — the 100 TB pattern where each
    // ingest shard/day writes a KB-sized sketch once and any later
    // "distinct across everything" answer merges k sketches instead of
    // re-shuffling the corpus (ClickHouse's own uniqState/uniqMerge
    // shape, composed through the connector). The gate re-opens the
    // persisted sketch table, hll_union_agg-merges it, and pins the
    // estimate within 2% of the exact distinct — a hash row, not
    // rows-only (the s03/s04 threshold pattern).
    q("r38_sketch_distinct",
      """SELECT (SELECT count(*) FROM
        |    (SELECT DISTINCT coalesce(lang, '') FROM documents) x) AS n_groups,
        |  count(DISTINCT text) AS exact_distinct, TRUE AS estimate_ok
        |FROM documents""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.hll_lang")
      s.sql(
        """CREATE TABLE clickhouse.main.hll_lang
          |(lang STRING NOT NULL, sk STRING)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'lang')""".stripMargin)
      // one tiny row per group lands in the store; the corpus shuffles
      // ONCE (map-side partial sketches combine before the exchange)
      s.sql(
        """INSERT INTO clickhouse.main.hll_lang
          |SELECT coalesce(lang, '') AS lang, base64(hll_sketch_agg(text)) AS sk
          |FROM documents GROUP BY coalesce(lang, '')""".stripMargin)
      val merged = s.table("clickhouse.main.hll_lang").agg(
        count(lit(1)).as("n_groups"),
        hll_sketch_estimate(hll_union_agg(unbase64(col("sk")))).as("est"))
      val exact = s.table("documents")
        .agg(countDistinct(col("text")).as("exact_distinct"))
      merged.crossJoin(exact).select(
        col("n_groups"),
        col("exact_distinct"),
        (abs(col("est") - col("exact_distinct")) <=
          col("exact_distinct") * lit(0.02)).as("estimate_ok"))
    },

    // Mergeable QUANTILE sketch persisted into the store — the r38
    // pattern for order statistics (ClickHouse's quantileState/
    // quantileMerge shape): each source writes a tiny fixed-width
    // histogram ONCE (bucket = n_chars DIV 16, integer counts —
    // deterministic and mergeable by addition), and any later "median
    // across everything" answer merges k histograms instead of
    // re-reading the corpus. The estimate brackets the true median
    // between the buckets of the two middle order statistics, so its
    // error is < one bucket width; the gate pins |est - exact| <= 16
    // as a hash row against DuckDB's exact quantile_cont.
    q("r43_sketch_quantile",
      """SELECT (SELECT count(*) FROM (
        |    SELECT DISTINCT coalesce(source, '') FROM documents
        |    WHERE n_chars IS NOT NULL) x) AS n_groups,
        |  quantile_cont(n_chars, 0.5) AS exact_median,
        |  TRUE AS estimate_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      // build-once + content-fingerprinted like every other gate store:
      // the previous DROP+rebuild-per-invocation paid the full ingest in
      // every timed run AND was a standing cross-process torn-store race
      ensureStore(s, dir, Seq(("clickhouse.main.qh_hist",
        Seq("src", "bucket", "cnt"),
        () => s.table("documents").filter(col("n_chars").isNotNull)
          .groupBy(coalesce(col("source"), lit("")).as("src"),
            expr("CAST(n_chars DIV 16 AS BIGINT)").as("bucket"))
          .agg(count(lit(1)).as("cnt"))))) {
        s.sql(
          """CREATE TABLE clickhouse.main.qh_hist
            |(src STRING NOT NULL, bucket BIGINT, cnt BIGINT)
            |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'src')""".stripMargin)
        // one small row per (source, bucket) lands in the store; the
        // corpus shuffles ONCE with map-side partials
        s.sql(
          """INSERT INTO clickhouse.main.qh_hist
            |SELECT coalesce(source, '') AS src,
            |  CAST(n_chars DIV 16 AS BIGINT) AS bucket, count(*) AS cnt
            |FROM documents WHERE n_chars IS NOT NULL
            |GROUP BY coalesce(source, ''), CAST(n_chars DIV 16 AS BIGINT)""".stripMargin)
      }
      // probe: merge the persisted sketches (sum per bucket), walk the
      // cumulative histogram to bracket the two middle order statistics
      val merged = s.table("clickhouse.main.qh_hist")
        .groupBy("bucket").agg(sum("cnt").as("cnt"))
      val cumW = org.apache.spark.sql.expressions.Window
        .orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val withCum = merged.withColumn("cum", sum("cnt").over(cumW))
      val total = merged.agg(sum("cnt").as("N"))
      // lower middle: first bucket with cum >= floor((N+1)/2)
      val bLo = withCum.crossJoin(total)
        .filter(col("cum") * 2 >= col("N")).agg(min("bucket").as("b_lo"))
      // upper middle: first bucket with cum >= floor(N/2) + 1
      val bHi = withCum.crossJoin(total)
        .filter(col("cum") * 2 >= col("N") + lit(2) - (col("N") % 2))
        .agg(min("bucket").as("b_hi"))
      val est = bLo.crossJoin(bHi).select(
        (((col("b_lo") + col("b_hi")) * 16 + 16) / 2).cast("double").as("est"))
      val nGroups = s.table("clickhouse.main.qh_hist")
        .agg(countDistinct(col("src")).as("n_groups"))
      val exact = s.table("documents")
        .agg(median(col("n_chars")).as("exact_median"))
      nGroups.crossJoin(exact).crossJoin(est).select(
        col("n_groups"),
        col("exact_median"),
        (abs(col("est") - col("exact_median")) <= 16.0).as("estimate_ok"))
    },

    // Sharded cluster catalog, end-to-end: `path=a,b` composes two
    // embedded stores behind one catalog (ShardedClickHouseClient — the
    // client-side Distributed-table shape), `shard_by` hash-routes the
    // connector INSERT, and the aggregate read exercises the PARTIAL
    // pushdown downgrade: each shard ships one row per group, Spark's
    // final aggregate merges — the initiator-side merge a 100 TB sharded
    // corpus needs (no shard ever sees the others' rows; no complete-agg
    // wrong-answer shortcut, plan-guarded in ShardedClientSpec). Money
    // sums run in DECIMAL so the merge is exact cross-engine.
    q("r39_sharded_agg",
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val cat = s"chsharded_$tag" // per-sfdir name: CatalogManager caches instances (r28)
      val roots = s"/root/repo/target/chshard0_$tag,/root/repo/target/chshard1_$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", roots)
      s.conf.set(s"spark.sql.catalog.$cat.shard_by", "c_custkey")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
      ensureStore(s, dir, Seq((s"$cat.main.cust_sh",
        Seq("c_custkey", "c_mktsegment", "c_acctbal"),
        () => s.table("customer").select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"))))) {
        s.sql(
          s"""CREATE TABLE $cat.main.cust_sh
             |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DECIMAL(18,2))
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'c_custkey')""".stripMargin)
        s.sql(
          s"""INSERT INTO $cat.main.cust_sh
             |SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2))
             |FROM customer""".stripMargin)
      }
      // outputs are exact integer CENTS, never DECIMAL: the store keeps
      // DECIMAL(18,2) (the partial merge stays exact) but a DECIMAL in
      // the RESULT schema hash-flips on trailing-zero rendering in the
      // driver's pipeline (rounds 6-8 r41/r42; Verify lints against it).
      // sum is exact at scale 2, so *100 → BIGINT is lossless.
      s.table(s"$cat.main.cust_sh")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("c_acctbal").as("bal0"))
        .select(col("c_mktsegment"), col("n"),
          (col("bal0") * 100).cast("bigint").as("bal"))
    },

    // Sharded FINAL dedup-on-read: upserts-as-inserts over a TWO-shard
    // ReplacingMergeTree whose routing key (shard_by) equals the ORDER BY
    // head — all versions of a key land on one shard, so per-shard FINAL
    // is globally exact (finalReadExact gates exactly this alignment;
    // ShardedClientSpec proves the misaligned case REJECTS). Oracle
    // recomputes the max-version survivors from the raw table.
    q("r40_sharded_final",
      """SELECT n_nationkey AS k,
        |  CASE WHEN n_nationkey % 3 = 0 THEN n_name || '_u' ELSE n_name END AS v
        |FROM nation""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      // own catalog + roots: r39's catalog routes by c_custkey, and
      // CatalogManager caches instances per name — reusing it here would
      // try to route dim_sh rows by a column they don't have
      val cat = s"chshfin_$tag"
      val roots = s"/root/repo/target/chshfin0_$tag,/root/repo/target/chshfin1_$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", roots)
      s.conf.set(s"spark.sql.catalog.$cat.shard_by", "k")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
      s.sql(s"DROP TABLE IF EXISTS $cat.main.dim_sh")
      s.sql(
        s"""CREATE TABLE $cat.main.dim_sh (k INT, v STRING, ver INT)
           |TBLPROPERTIES ('engine' = 'ReplacingMergeTree(ver)',
           |  'order_by' = 'k')""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.main.dim_sh
           |SELECT CAST(n_nationkey AS INT), n_name, 1 FROM nation""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.main.dim_sh
           |SELECT CAST(n_nationkey AS INT), concat(n_name, '_u'), 2
           |FROM nation WHERE n_nationkey % 3 = 0""".stripMargin)
      s.read.option("final", "true").table(s"$cat.main.dim_sh")
        .select(col("k"), col("v"))
    },

    // Shard-key-LOCAL join+aggregate collapse: both tables route by the
    // catalog's shard_by column (`custkey`), so equal keys co-reside and
    // the whole join+GROUP BY subtree is self-contained per shard — the
    // rule collapses it into ONE remote statement per shard and unions
    // (ClickHouse's co-located Distributed JOIN,
    // `distributed_product_mode = 'local'`). At 100 TB this is the
    // difference between zero data movement and shuffling both fact
    // tables; GatePlanSpec asserts no Spark join/aggregate remains.
    q("r41_sharded_colocated_join",
      """SELECT c_custkey AS custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val cat = s"chcoloc_$tag" // per-sfdir: CatalogManager caches instances (r28)
      val roots = s"/root/repo/target/chcoloc0_$tag,/root/repo/target/chcoloc1_$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", roots)
      s.conf.set(s"spark.sql.catalog.$cat.shard_by", "custkey")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
      // round 6's poisoned artifacts were exactly these two tables: a
      // mid-development partial insert passed tableExists forever
      ensureStore(s, dir, Seq(
        (s"$cat.main.cust_co", Seq("custkey", "mkt"),
          () => s.table("customer").select(col("c_custkey").as("custkey"),
            col("c_mktsegment").as("mkt"))),
        (s"$cat.main.ord_co", Seq("custkey", "price"),
          () => s.table("orders").select(col("o_custkey").as("custkey"),
            col("o_totalprice").cast("decimal(18,2)").as("price"))))) {
        s.sql(
          s"""CREATE TABLE $cat.main.cust_co (custkey BIGINT, mkt STRING)
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'custkey')""".stripMargin)
        s.sql(
          s"""INSERT INTO $cat.main.cust_co
             |SELECT c_custkey, c_mktsegment FROM customer""".stripMargin)
        s.sql(
          s"""CREATE TABLE $cat.main.ord_co (custkey BIGINT, price DECIMAL(18,2))
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'custkey')""".stripMargin)
        s.sql(
          s"""INSERT INTO $cat.main.ord_co
             |SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2))
             |FROM orders""".stripMargin)
      }
      bodyAudit("r41_sharded_colocated_join", s, dir)
      val c = s.table(s"$cat.main.cust_co").as("c")
      val o = s.table(s"$cat.main.ord_co").as("o")
      // result is exact integer CENTS in an outer Project ABOVE the
      // collapsed join+GROUP BY (plan shape unchanged — GatePlanSpec
      // still sees no Spark join/aggregate): a DECIMAL output column
      // hash-flips on trailing-zero rendering driver-side (rounds 6-8).
      c.join(o, col("c.custkey") === col("o.custkey"))
        .groupBy(col("c.custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o.price")).as("total0"))
        .select(col("custkey"), col("n_orders"),
          (col("total0") * 100).cast("bigint").as("total"))
    },

    // Shard-key-grouped COMPLETE aggregate pushdown: GROUP BY contains
    // the routing column, so every group lives wholly on one shard and
    // the per-shard aggregate union IS the final answer — the scan claims
    // complete pushdown (ClickHouse's
    // `optimize_distributed_group_by_sharding_key`), Spark plans NO
    // aggregate, and non-merge-safe AVG becomes pushable again (the
    // partial downgrade r39 exercises cannot ship it). avg stays
    // hash-exact: integer operands, one division (the t13/d08 rule).
    q("r42_sharded_keyed_agg",
      """SELECT o_custkey AS custkey, count(*) AS n,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS minp,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS maxp,
        |  avg(o_orderkey) AS avg_okey
        |FROM orders GROUP BY o_custkey""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val cat = s"chshagg_$tag"
      val roots = s"/root/repo/target/chshagg0_$tag,/root/repo/target/chshagg1_$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", roots)
      s.conf.set(s"spark.sql.catalog.$cat.shard_by", "custkey")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
      ensureStore(s, dir, Seq((s"$cat.main.ord_ka",
        Seq("custkey", "okey", "price"),
        () => s.table("orders").select(col("o_custkey").as("custkey"),
          col("o_orderkey").as("okey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))))) {
        s.sql(
          s"""CREATE TABLE $cat.main.ord_ka
             |(custkey BIGINT, okey BIGINT, price DECIMAL(18,2))
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'custkey')""".stripMargin)
        s.sql(
          s"""INSERT INTO $cat.main.ord_ka
             |SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))
             |FROM orders""".stripMargin)
      }
      bodyAudit("r42_sharded_keyed_agg", s, dir)
      // exact integer CENTS above the COMPLETE-pushed aggregate (the
      // scan still ships the whole GROUP BY; the Project stays in Spark,
      // GatePlanSpec unchanged): DECIMAL outputs hash-flip on
      // trailing-zero rendering driver-side (rounds 6-8).
      s.table(s"$cat.main.ord_ka")
        .groupBy(col("custkey"))
        .agg(count(lit(1)).as("n"),
          min("price").as("minp0"), max("price").as("maxp0"),
          avg("okey").as("avg_okey"))
        .select(col("custkey"), col("n"),
          (col("minp0") * 100).cast("bigint").as("minp"),
          (col("maxp0") * 100).cast("bigint").as("maxp"),
          col("avg_okey"))
    },

    // Streaming ingest into a SHARDED cluster: writeStream.toTable lands
    // micro-batches through the DSv2 StreamingWrite with rows hash-routed
    // by shard_by and the per-shard CONVERGING epoch protocol (each shard
    // publishes-then-marks its own slice; a replayed epoch aborts on
    // shards that already published and repairs the ones that crashed —
    // ShardedClientSpec proves the partial-crash repair). The 100 TB
    // continuous-ingest topology: queue -> stream -> cluster, exactly
    // once, no single-store bottleneck.
    q("r44_sharded_stream_sink",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val cat = s"chshstr_$tag"
      val roots = s"/root/repo/target/chshstr0_$tag,/root/repo/target/chshstr1_$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", roots)
      s.conf.set(s"spark.sql.catalog.$cat.shard_by", "user_id")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
      s.sql(s"DROP TABLE IF EXISTS $cat.main.ev_sh")
      s.sql(
        s"""CREATE TABLE $cat.main.ev_sh (event_type STRING, user_id BIGINT)
           |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'user_id')""".stripMargin)
      val stream = StreamingQueries.eventsStream(s, dir)
        .select(col("event_type"), col("user_id"))
      val ckBase = if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
        else sys.props("java.io.tmpdir")
      val ck = s"$ckBase/graft_ck_shstr_${System.nanoTime()}"
      try {
        val q = stream.writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.main.ev_sh")
        q.awaitTermination()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
      // both shards must hold a slice, or the gate silently degrades to
      // a single-store test (user_id spreads across the placement hash)
      val perShard = roots.split(",").map(r =>
        new EmbeddedClickHouse(r).query(
          "SELECT count(*) AS n FROM `main`.`ev_sh`", 1)._2.flatten.head.getLong(0))
      require(perShard.forall(_ > 0), s"shard slices: ${perShard.mkString(",")}")
      s.table(s"$cat.main.ev_sh")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("user_id").cast("bigint").as("sum_uid"))
    },

    // text statistics computed IN the store: split unparsers as
    // splitByChar, so tokenization happens remotely and only three
    // narrow integers per document cross the wire (the t01 shape,
    // connector-composed — the 100 TB corpus never moves)
    q("r24_remote_token_stats",
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_c,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
        |FROM documents""".stripMargin) { (s, _) =>
      val ts = split(col("text"), " ")
      s.table("clickhouse.main.documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_c"),
        size(ts).cast("long").as("n_tokens"),
        size(array_distinct(ts)).cast("long").as("n_uniq"))
    },

    // Schema evolution end-to-end (round 10): ALTER TABLE as remote DDL.
    // Half the rows are inserted under the ORIGINAL schema, then the
    // table evolves (ADD COLUMN ×2, RENAME COLUMN, MODIFY Int32→Int64)
    // and the other half lands under the NEW schema — pre-ADD rows must
    // read ClickHouse column defaults (NULL / 0), renamed data must
    // survive, and the widened column must hold post-alter values. On a
    // server these ADD/DROP/RENAME are metadata-only (instant at 100 TB);
    // the embedded store rewrites parts like a MODIFY materialization.
    // Oracle reconstructs the same evolution arithmetically from the raw
    // customer table.
    q("r47_schema_evolution",
      """SELECT c_custkey,
        |  c_acctbal AS bal,
        |  CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment ELSE '-' END AS seg,
        |  CAST(CASE WHEN c_custkey % 2 = 1 THEN c_custkey % 100 ELSE 0 END
        |    AS BIGINT) AS flag
        |FROM customer""".stripMargin) { (s, _) =>
      s.sql("DROP TABLE IF EXISTS clickhouse.main.cust_evo")
      s.sql(
        """CREATE TABLE clickhouse.main.cust_evo
          |(c_custkey BIGINT, c_acctbal DOUBLE)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'c_custkey')""".stripMargin)
      s.sql(
        """INSERT INTO clickhouse.main.cust_evo
          |SELECT c_custkey, c_acctbal FROM customer
          |WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql("ALTER TABLE clickhouse.main.cust_evo ADD COLUMN seg STRING")
      s.sql("ALTER TABLE clickhouse.main.cust_evo ADD COLUMN flag INT NOT NULL")
      s.sql("ALTER TABLE clickhouse.main.cust_evo RENAME COLUMN c_acctbal TO bal")
      s.sql("ALTER TABLE clickhouse.main.cust_evo ALTER COLUMN flag TYPE BIGINT")
      s.sql(
        """INSERT INTO clickhouse.main.cust_evo
          |SELECT c_custkey, c_acctbal, c_mktsegment, c_custkey % 100
          |FROM customer WHERE c_custkey % 2 = 1""".stripMargin)
      s.table("clickhouse.main.cust_evo").select(
        col("c_custkey"), col("bal"),
        coalesce(col("seg"), lit("-")).as("seg"), col("flag"))
    },

    // system metadata tables (round 10): the reference reaches the
    // server's system.{tables,columns,...} through plain catalog
    // resolution + passthrough (the server reports `system` like any
    // database); the embedded transport synthesizes them from store
    // metadata. The gate joins system.tables row counts against
    // system.columns widths for the corpus-attached tables — both
    // sides the oracle reconstructs from the raw corpus (counts) and
    // the harness's fixed table definitions (widths). Filtered to the
    // attached tables so other gates' store tables can't perturb it.
    q("r49_system_tables",
      """SELECT * FROM (
        |  SELECT 'customer' AS name,
        |    (SELECT count(*) FROM customer) AS total_rows,
        |    CAST(5 AS BIGINT) AS ncols
        |  UNION ALL SELECT 'nation', (SELECT count(*) FROM nation),
        |    CAST(3 AS BIGINT)
        |  UNION ALL SELECT 'orders', (SELECT count(*) FROM orders),
        |    CAST(6 AS BIGINT)
        |) ORDER BY name""".stripMargin) { (s, _) =>
      val attached = Seq("customer", "nation", "orders")
      val t = s.table("clickhouse.system.tables")
        .where(col("database") === "main" && col("name").isin(attached: _*))
        .select(col("name"), col("total_rows"))
      val c = s.table("clickhouse.system.columns")
        .where(col("database") === "main" && col("table").isin(attached: _*))
        .groupBy(col("table").as("name")).agg(count(lit(1)).as("ncols"))
      t.join(c, "name").orderBy("name")
    },

    // Row TTL applied at merge time (round 10): the server expires rows
    // during merges (`ttl_expr <= now()` deletes, NULL keeps; expired
    // rows stay visible between merges) — OPTIMIZE forces the merge.
    // Per-row expiry: open orders get a ~1000-year horizon, everything
    // else expires at its (historical) order date, so the post-merge
    // survivor set is exactly the open orders — which the oracle
    // reconstructs from the raw corpus without any TTL machinery.
    // Deterministic: corpus dates are decades past, horizons centuries
    // ahead; no value near now(). Integer-cents output (r41 rule).
    q("r50_ttl_merge",
      """SELECT o_orderpriority AS pri,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, dir) =>
      // the corpus copy is staged ONCE (content-fingerprinted) and each
      // run clones it into the mutable table via ATTACH PARTITION FROM
      // (metadata-speed part clone) — the gate measures the TTL expiry
      // merge, not the 150K-row corpus re-insert (round-11 hygiene)
      ensureOrdBase(s, dir)
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_ttl")
      s.sql(
        """CREATE TABLE clickhouse.main.ord_ttl
          |(k BIGINT, pri STRING, status STRING, odate TIMESTAMP, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      val client = graft.connector.ChMutations.clientOf(s, "clickhouse")
      client.alterTable("main", "ord_ttl", Seq(graft.client.ChAlterOp.ModifyTtl(
        Some("if(status = 'O', odate + INTERVAL 1000 YEAR, odate)"))))
      client.attachPartitionsFrom("main", "ord_ttl", "main", "ord_ttl_base")
      client.optimizeTable("main", "ord_ttl", finalize = false)
      graft.connector.ChMutations.refresh(s, "clickhouse.main.ord_ttl")
      s.table("clickhouse.main.ord_ttl")
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("pri")
    },

    // Materialized view (round 10): server insert-trigger semantics —
    // each block landing in the source is transformed and appended to
    // the TO target, so an aggregating view leaves PARTIAL rows that
    // readers re-aggregate (the SummingMergeTree pattern). The gate
    // reads ONLY the target: two insert statements (parity split) fire
    // the trigger per block, and the re-aggregated target must equal
    // the oracle's direct aggregate over the raw corpus. Integer cents
    // (r41 rule).
    q("r51_materialized_view",
      """SELECT o_orderstatus AS st, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin) { (s, _) =>
      val client = graft.connector.ChMutations.clientOf(s, "clickhouse")
      if (client.listMaterializedViews("main").contains("ord_mv"))
        client.dropMaterializedView("main", "ord_mv")
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_mv_src")
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_mv_agg")
      s.sql(
        """CREATE TABLE clickhouse.main.ord_mv_src
          |(k BIGINT, st STRING, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      s.sql(
        """CREATE TABLE clickhouse.main.ord_mv_agg
          |(st STRING, n BIGINT, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'st')""".stripMargin)
      client.createMaterializedView("main", "ord_mv", "main", "ord_mv_agg",
        "SELECT st, count(*) AS n, sum(cents) AS cents " +
          "FROM main.ord_mv_src GROUP BY st")
      for (parity <- 0 to 1) s.sql(
        s"""INSERT INTO clickhouse.main.ord_mv_src
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM orders WHERE o_orderkey % 2 = $parity""".stripMargin)
      s.table("clickhouse.main.ord_mv_agg")
        .groupBy(col("st"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
        .orderBy("st")
    },

    // The canonical ClickHouse rollup (round 10): a materialized view
    // feeding a SummingMergeTree target — the MV leaves per-block
    // PARTIAL sums, the Summing merge collapses key groups, and after
    // OPTIMIZE a PLAIN read returns final totals with no re-aggregation
    // anywhere (r51 re-aggregates in the query; this gate must not).
    q("r52_summing_mv",
      """SELECT o_orderstatus AS st, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin) { (s, _) =>
      val client = graft.connector.ChMutations.clientOf(s, "clickhouse")
      if (client.listMaterializedViews("main").contains("ord_sum_mv"))
        client.dropMaterializedView("main", "ord_sum_mv")
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_sum_src")
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_sum_agg")
      s.sql(
        """CREATE TABLE clickhouse.main.ord_sum_src
          |(k BIGINT, st STRING, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      s.sql(
        """CREATE TABLE clickhouse.main.ord_sum_agg
          |(st STRING, n BIGINT, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'SummingMergeTree', 'order_by' = 'st')""".stripMargin)
      client.createMaterializedView("main", "ord_sum_mv", "main", "ord_sum_agg",
        "SELECT st, count(*) AS n, sum(cents) AS cents " +
          "FROM main.ord_sum_src GROUP BY st")
      for (parity <- 0 to 1) s.sql(
        s"""INSERT INTO clickhouse.main.ord_sum_src
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM orders WHERE o_orderkey % 2 = $parity""".stripMargin)
      client.optimizeTable("main", "ord_sum_agg", finalize = false)
      s.table("clickhouse.main.ord_sum_agg").orderBy("st")
    },

    // Raw ClickHouse-SQL passthrough (round 10): the statement ships
    // verbatim and executes where the data lives — the reference's core
    // contract (any server construct works); the result streams back as
    // a lazy DataFrame whose schema comes from the server's DESCRIBE.
    // The session API (chSql) is the entry point; the oracle computes
    // the same aggregate over the raw corpus.
    q("r53_raw_sql",
      """SELECT lang, CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `lang`, toInt64(floor(`n_chars` / 100)) AS bucket,
          |  count(*) AS n
          |FROM `main`.`documents` WHERE `n_chars` IS NOT NULL
          |GROUP BY `lang`, bucket ORDER BY `lang`, bucket""".stripMargin)
    },

    // AggregatingMergeTree + -State/-Merge (round 11): the canonical
    // ClickHouse MV rollup beyond SummingMergeTree — the view leaves
    // PARTIAL aggregate states (avg/uniq/count) per block in an
    // AggregateFunction-typed target, OPTIMIZE collapses states by the
    // sorting key, and a FINAL read with -Merge combinators returns
    // finals. avg stays an exact-integer sum/count until ONE division
    // at read (hash-stable vs the oracle, the t13/d08 rational rule);
    // uniq is exact over 64-bit hashes.
    q("r54_aggregating_mv",
      """SELECT o_orderstatus AS st,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / count(*) AS avg_cents,
        |  count(DISTINCT o_orderkey) AS uniq_k, count(*) AS n
        |FROM orders GROUP BY st ORDER BY st""".stripMargin) { (s, dir) =>
      val client = graft.connector.ChMutations.clientOf(s, "clickhouse")
      if (client.listMaterializedViews("main").contains("ord_am_mv"))
        client.dropMaterializedView("main", "ord_am_mv")
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_am_src")
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_am_agg")
      s.sql(
        """CREATE TABLE clickhouse.main.ord_am_src
          |(k BIGINT, st STRING, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      client.createTable("main", "ord_am_agg", Seq(
        "st" -> "String",
        "a" -> "AggregateFunction(avg, Int64)",
        "u" -> "AggregateFunction(uniq, Int64)",
        "c" -> "AggregateFunction(count, Int64)"),
        Map("engine" -> "AggregatingMergeTree", "order_by" -> "st"))
      client.createMaterializedView("main", "ord_am_mv", "main", "ord_am_agg",
        "SELECT st, avgState(cents) AS a, uniqState(k) AS u, " +
          "countState() AS c FROM main.ord_am_src GROUP BY st")
      for (parity <- 0 to 1) s.sql(
        s"""INSERT INTO clickhouse.main.ord_am_src
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM orders WHERE o_orderkey % 2 = $parity""".stripMargin)
      // merge-collapse the states, then read FINAL (covers both paths;
      // FINAL over the single merged part is the identity collapse)
      client.optimizeTable("main", "ord_am_agg", finalize = false)
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `st`, avgMerge(`a`) AS avg_cents, uniqMerge(`u`) AS uniq_k,
          |  countMerge(`c`) AS n
          |FROM `main`.`ord_am_agg` FINAL GROUP BY `st` ORDER BY `st`""".stripMargin)
    },

    // LIMIT BY (round 11): ClickHouse's per-group limit, embedded via
    // the row_number-window rewrite (top level, ORDER BY required for a
    // deterministic selection — ties broken by doc_id). The oracle is
    // the equivalent window form.
    q("r55_limit_by",
      """SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars, row_number() OVER
        |    (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL) s
        |WHERE rn <= 2 ORDER BY lang, n_chars DESC, doc_id""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `lang`, `doc_id`, `n_chars` FROM `main`.`documents`
          |WHERE `n_chars` IS NOT NULL AND `lang` IS NOT NULL
          |ORDER BY `lang`, `n_chars` DESC, `doc_id` LIMIT 2 BY `lang`""".stripMargin)
    },

    // Blue/green publish (round 11): the table-lifecycle primitives
    // composed as a pipeline would use them — stage an empty table,
    // clone the corpus in via ATTACH PARTITION FROM (metadata-speed),
    // EXCHANGE it with the live table atomically, TRUNCATE the old
    // copy now sitting on the stage name. Readers of `live` see the
    // full corpus; the oracle aggregates the raw corpus directly.
    q("r56_blue_green",
      """SELECT o_orderpriority AS pri, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, dir) =>
      ensureOrdBase(s, dir)
      val client = graft.connector.ChMutations.clientOf(s, "clickhouse")
      for (t <- Seq("ord_bg_live", "ord_bg_stage")) {
        s.sql(s"DROP TABLE IF EXISTS clickhouse.main.$t")
        s.sql(
          s"""CREATE TABLE clickhouse.main.$t
             |(k BIGINT, pri STRING, status STRING, odate TIMESTAMP, cents BIGINT)
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      }
      client.attachPartitionsFrom("main", "ord_bg_stage", "main", "ord_ttl_base")
      client.exchangeTables("main", "ord_bg_stage", "main", "ord_bg_live")
      client.truncateTable("main", "ord_bg_stage")
      graft.connector.ChMutations.refresh(s, "clickhouse.main.ord_bg_live")
      graft.connector.ChMutations.refresh(s, "clickhouse.main.ord_bg_stage")
      s.table("clickhouse.main.ord_bg_live")
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("pri")
    },

    // Server-side dedup merge (round 11): the corpus is attached TWICE
    // (every row exactly duplicated — also exercising repeated ATTACH),
    // then OPTIMIZE ... DEDUPLICATE collapses the full-row duplicates
    // in the store; the plain read must equal the single-copy corpus
    // aggregate. Complements the d-gates (Spark-side dedup kernels)
    // with the engine's own merge-time dedup.
    q("r57_server_dedup",
      """SELECT o_orderpriority AS pri, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, dir) =>
      ensureOrdBase(s, dir)
      val client = graft.connector.ChMutations.clientOf(s, "clickhouse")
      s.sql("DROP TABLE IF EXISTS clickhouse.main.ord_dd")
      s.sql(
        """CREATE TABLE clickhouse.main.ord_dd
          |(k BIGINT, pri STRING, status STRING, odate TIMESTAMP, cents BIGINT)
          |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
      client.attachPartitionsFrom("main", "ord_dd", "main", "ord_ttl_base")
      client.attachPartitionsFrom("main", "ord_dd", "main", "ord_ttl_base")
      client.optimizeDeduplicate("main", "ord_dd")
      graft.connector.ChMutations.refresh(s, "clickhouse.main.ord_dd")
      s.table("clickhouse.main.ord_dd")
        .groupBy(col("pri"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy("pri")
    },

    // r58: as-of join of two same-store tables ships as server-native
    // ASOF LEFT JOIN — the whole point-in-time lookup (orders enriched
    // with the latest quote at or before their date) runs in the store;
    // GatePlanSpec pins one remote exec and no Spark join/window. The
    // quote side is (k, qts)-unique by construction (ASOF tie semantics
    // are unspecified on every engine — the FINAL-read rule).
    q("r58_remote_asof_join",
      """WITH qt AS (
        |  SELECT o_custkey AS k, o_orderdate AS qts,
        |         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS qcents
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  GROUP BY o_custkey, o_orderdate)
        |SELECT o.o_orderkey AS ok, o.o_custkey AS k, o.o_orderdate AS ts,
        |       q.qcents AS asof_qcents
        |FROM orders o ASOF LEFT JOIN qt q
        |  ON o.o_custkey = q.k AND o.o_orderdate >= q.qts""".stripMargin) { (s, _) =>
      val left = s.table("clickhouse.main.orders").select(
        col("o_orderkey").as("ok"), col("o_custkey").as("k"),
        col("o_orderdate").as("ts"))
      val right = s.table("clickhouse.main.orders")
        .filter(col("o_orderkey") % 3 === 0)
        .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("qts"))
        .agg(max(round(col("o_totalprice") * 100).cast("bigint")).as("qcents"))
      graft.ops.AsOfJoin.asofJoinPlanned(
        left, right, "k", "ts", "qts", "qcents", Seq("qcents"))
    },

    // r63: REVERSED-direction as-of join (`>=`: for every order, the
    // EARLIEST quote at-or-after its date — the "next event" lookup,
    // VERDICT r12 item 1). Same one-remote-statement collapse as r58
    // (GatePlanSpec pins it); DuckDB's ASOF oracle expresses the forward
    // direction as `l.ts <= r.ts`. Quote side stays (k, qts)-unique by
    // construction (tie picks are unspecified on every engine).
    q("r63_remote_asof_forward",
      """WITH qt AS (
        |  SELECT o_custkey AS k, o_orderdate AS qts,
        |         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS qcents
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  GROUP BY o_custkey, o_orderdate)
        |SELECT o.o_orderkey AS ok, o.o_custkey AS k, o.o_orderdate AS ts,
        |       q.qcents AS asof_qcents
        |FROM orders o ASOF LEFT JOIN qt q
        |  ON o.o_custkey = q.k AND o.o_orderdate <= q.qts""".stripMargin) { (s, _) =>
      val left = s.table("clickhouse.main.orders").select(
        col("o_orderkey").as("ok"), col("o_custkey").as("k"),
        col("o_orderdate").as("ts"))
      val right = s.table("clickhouse.main.orders")
        .filter(col("o_orderkey") % 3 === 0)
        .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("qts"))
        .agg(max(round(col("o_totalprice") * 100).cast("bigint")).as("qcents"))
      graft.ops.AsOfJoin.asofJoinPlanned(
        left, right, Seq("k"), "ts", "qts", "qcents", Seq("qcents"),
        op = ">=", leftJoin = true)
    },

    // r59: WITH TOTALS through the raw-SQL passthrough — the embedded
    // engine rewrites it to GROUPING SETS ((keys), ()) (NULL-keyed totals
    // row, matching the DuckDB oracle's grouping-sets output); HTTP
    // transports ship the statement verbatim to the server. Closes the
    // last r53 "any server SQL" embedded/HTTP asymmetry (VERDICT r11).
    q("r59_with_totals",
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY GROUPING SETS ((lang), ())""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `lang`, count(*) AS n, toInt64(sum(`n_chars`)) AS chars
          |FROM `main`.`documents` GROUP BY `lang` WITH TOTALS""".stripMargin)
    },

    // r65: WITH TOTALS + HAVING under the pinned
    // totals_mode = 'after_having_exclusive' contract (VERDICT r12 item
    // 3): the totals row aggregates ONLY rows of groups surviving HAVING.
    // The threshold (72) filters different language groups at sf0.001
    // (de) and sf0.01 (de, fr), so the oracle distinguishes exclusive
    // from the server-default before_having at both driver scales.
    q("r65_totals_having",
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE lang IN (SELECT lang FROM documents
        |               GROUP BY lang HAVING count(*) > 72)
        |GROUP BY GROUPING SETS ((lang), ())""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `lang`, count(*) AS n, toInt64(sum(`n_chars`)) AS chars
          |FROM `main`.`documents` GROUP BY `lang` WITH TOTALS
          |HAVING count(*) > 72""".stripMargin)
    },

    // r66: QUALIFY through the raw-SQL passthrough (VERDICT r12 item 6):
    // the embedded engine wraps the windowed select and filters (window
    // analog of HAVING); DuckDB runs QUALIFY natively, so the oracle is
    // the same clause verbatim. Top-2 orders per priority, unique
    // tie-break on the order key.
    q("r66_qualify",
      """SELECT o_orderpriority AS pri, o_orderkey AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY round(o_totalprice * 100) DESC, o_orderkey) AS rn
        |FROM orders
        |QUALIFY rn <= 2
        |ORDER BY pri, rn""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `o_orderpriority` AS pri, `o_orderkey` AS k,
          |  toInt64(round(`o_totalprice` * 100)) AS cents,
          |  row_number() OVER (PARTITION BY `o_orderpriority`
          |    ORDER BY round(`o_totalprice` * 100) DESC, `o_orderkey`) AS rn
          |FROM `main`.`orders`
          |QUALIFY rn <= 2
          |ORDER BY pri, rn""".stripMargin)
    },

    // r70: ORDER BY ... WITH FILL through the raw-SQL passthrough — the
    // gap-filled daily series (the headline ClickHouse time-series
    // idiom). A sparse order subset (~1/97) guarantees gaps at every sf;
    // the embedded engine composes the grid lazily and pads the
    // non-nullable count with its column default 0, exactly what a
    // server's fill does; the DuckDB oracle rebuilds the series with
    // generate_series + COALESCE.
    q("r70_with_fill",
      """WITH b AS (
        |  SELECT CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
        |         count(*) AS n
        |  FROM orders WHERE o_orderkey % 97 = 0 GROUP BY 1)
        |SELECT g.day AS day, CAST(coalesce(b.n, 0) AS BIGINT) AS n
        |FROM (SELECT unnest(generate_series(
        |        (SELECT min(day) FROM b), (SELECT max(day) FROM b))) AS day) g
        |LEFT JOIN b USING (day) ORDER BY day""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT intDiv(toUnixTimestamp(`o_orderdate`), 86400) AS day,
          |  toInt64(count(*)) AS n
          |FROM `main`.`orders` WHERE `o_orderkey` % 97 = 0
          |GROUP BY intDiv(toUnixTimestamp(`o_orderdate`), 86400)
          |ORDER BY day WITH FILL""".stripMargin)
    },

    // r71: SELECT DISTINCT ON (exprs) — the server documents it as sugar
    // for LIMIT 1 BY, and the embedded engine rewrites it onto exactly
    // that machinery (row_number window; top-level only; ORDER BY
    // required by the determinism rule). First order per priority by
    // amount DESC with the unique key as tiebreak; the DuckDB oracle
    // recomputes the pick with an explicit window.
    q("r71_distinct_on",
      """SELECT pri, k, cents FROM (
        |  SELECT o_orderpriority AS pri, o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY round(o_totalprice * 100) DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY pri, cents DESC, k""".stripMargin) {
      (s, dir) =>
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val ch = graft.session.ClickHouseSession.builder(s)
          .storePath(s"/root/repo/target/chstore_$tag")
          .catalogName("clickhouse").build()
        ch.chSql(
          """SELECT DISTINCT ON (pri) `o_orderpriority` AS pri,
            |  `o_orderkey` AS k,
            |  toInt64(round(`o_totalprice` * 100)) AS cents
            |FROM `main`.`orders`
            |ORDER BY pri, cents DESC, k""".stripMargin)
    },

    // r72: the ARRAY JOIN clause — server-side tokenization exploded
    // in-statement, multi-item POSITIONAL zip (tok with its own length
    // array; a cross product would square the rows and fail the hash).
    // The embedded engine rewrites the clause to a LATERAL VIEW chain;
    // the DuckDB oracle re-derives the pairs with unnest.
    q("r72_array_join",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 40)
        |SELECT doc_id, tok, CAST(length(tok) AS BIGINT) AS toklen
        |FROM toks ORDER BY doc_id, tok, toklen""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `doc_id`, tok, toklen
          |FROM `main`.`documents`
          |ARRAY JOIN splitByChar(' ', `text`) AS tok,
          |  arrayMap(t -> toInt64(lengthUTF8(t)), splitByChar(' ', `text`))
          |    AS toklen
          |WHERE `doc_id` < 40
          |ORDER BY `doc_id`, tok, toklen""".stripMargin)
    },

    // r73: ClickHouse scalar WITH aliases (`WITH <expr> AS <ident>`) —
    // a scalar-subquery cutoff and a numeric constant, both inlined by
    // the embedded rewrite exactly as the server expands them; the
    // DuckDB oracle writes the expansion out literally.
    q("r73_scalar_with",
      """SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderdate >=
        |  (SELECT max(o_orderdate) FROM orders) - INTERVAL 90 DAY
        |GROUP BY pri ORDER BY pri""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """WITH (SELECT max(`o_orderdate`) FROM `main`.`orders`) AS maxd,
          |  100 AS scale
          |SELECT `o_orderpriority` AS pri, toInt64(count(*)) AS n,
          |  toInt64(sum(round(`o_totalprice` * scale))) AS cents
          |FROM `main`.`orders`
          |WHERE `o_orderdate` >= maxd - INTERVAL 90 DAY
          |GROUP BY `o_orderpriority`
          |ORDER BY pri""".stripMargin)
    },

    // r74: -OrNull / -OrDefault aggregate combinators where they matter
    // — GLOBAL aggregates over an EMPTY filtered set (groups are never
    // empty; only the global form exposes the nothing-accumulated case).
    // The 'empty' branch returns NULL / 0 per combinator; the 'all'
    // branch proves the strip keeps normal values intact.
    q("r74_ornull_combinators",
      """SELECT 'empty' AS tag,
        |  nullif(count(*), 0) AS c_null,
        |  CAST(count(*) AS BIGINT) AS c_def,
        |  CAST(sum(o_orderkey) AS BIGINT) AS s_null,
        |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS s_def,
        |  CAST(min(o_orderkey) AS BIGINT) AS m_null,
        |  nullif(count(DISTINCT o_orderpriority), 0) AS u_null
        |FROM orders WHERE o_orderkey < 0
        |UNION ALL
        |SELECT 'all' AS tag,
        |  nullif(count(*), 0) AS c_null,
        |  CAST(count(*) AS BIGINT) AS c_def,
        |  CAST(sum(o_orderkey) AS BIGINT) AS s_null,
        |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS s_def,
        |  CAST(min(o_orderkey) AS BIGINT) AS m_null,
        |  nullif(count(DISTINCT o_orderpriority), 0) AS u_null
        |FROM orders
        |ORDER BY tag""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT 'empty' AS tag,
          |  countOrNull() AS c_null,
          |  toInt64(countOrDefault()) AS c_def,
          |  sumOrNull(toInt64(`o_orderkey`)) AS s_null,
          |  toInt64(sumOrDefault(toInt64(`o_orderkey`))) AS s_def,
          |  minOrNull(toInt64(`o_orderkey`)) AS m_null,
          |  uniqOrNull(`o_orderpriority`) AS u_null
          |FROM `main`.`orders` WHERE `o_orderkey` < 0
          |UNION ALL
          |SELECT 'all' AS tag,
          |  countOrNull() AS c_null,
          |  toInt64(countOrDefault()) AS c_def,
          |  sumOrNull(toInt64(`o_orderkey`)) AS s_null,
          |  toInt64(sumOrDefault(toInt64(`o_orderkey`))) AS s_def,
          |  minOrNull(toInt64(`o_orderkey`)) AS m_null,
          |  uniqOrNull(`o_orderpriority`) AS u_null
          |FROM `main`.`orders`
          |ORDER BY tag""".stripMargin)
    },

    // r75: `SELECT * REPLACE (expr AS col)` — in-place column transform
    // with POSITION preserved (the server keeps the replaced column's
    // slot; a trailing re-projection would not). Composed on the
    // analyzed frame via withColumn.
    q("r75_star_replace",
      """SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey
        |FROM nation WHERE n_regionkey < 3""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT * REPLACE (upperUTF8(`n_name`) AS n_name)
          |FROM `main`.`nation` WHERE `n_regionkey` < 3""".stripMargin)
    },

    // r76: `COLUMNS('re') APPLY (fn)` — regex column selection (partial
    // match, server RE2 semantics) with every selected column wrapped,
    // result columns named fn(col) exactly as the server names them.
    q("r76_columns_apply",
      """SELECT CAST(max(n_nationkey) AS INT) AS "max(n_nationkey)",
        |  CAST(max(n_regionkey) AS INT) AS "max(n_regionkey)"
        |FROM nation""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql("SELECT COLUMNS('key') APPLY (max) FROM `main`.`nation`")
    },

    // r77: RIGHT SEMI / RIGHT ANTI joins — the preserved side is the
    // RIGHT table (nations with / without a matching customer); the
    // embedded rewrite swaps sides onto Spark's native LEFT SEMI/ANTI.
    // Each branch sits in a subquery (one join per SELECT level — the
    // same honesty rule as ASOF).
    q("r77_right_semi_anti",
      """SELECT 'semi' AS tag, n_nationkey AS k, n_name AS name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |UNION ALL
        |SELECT 'anti' AS tag, n_nationkey AS k, n_name AS name FROM nation
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |ORDER BY tag, k""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT tag, k, name FROM (
          |  SELECT 'semi' AS tag, `n_nationkey` AS k, `n_name` AS name
          |  FROM `main`.`customer` RIGHT SEMI JOIN `main`.`nation`
          |    ON `c_nationkey` = `n_nationkey`) s
          |UNION ALL
          |SELECT tag, k, name FROM (
          |  SELECT 'anti' AS tag, `n_nationkey` AS k, `n_name` AS name
          |  FROM `main`.`customer` RIGHT ANTI JOIN `main`.`nation`
          |    ON `c_nationkey` = `n_nationkey`) a
          |ORDER BY tag, k""".stripMargin)
    },

    // r78: LEFT ANY JOIN — at most one order per customer. The server
    // keeps an ARBITRARY match; the embedded engine picks the
    // deterministic legal instance (build side deduped by key, ordered
    // over all its columns — o_orderkey leads the orders schema, so the
    // pick is exactly min(o_orderkey) per customer, which the DuckDB
    // oracle reproduces with an explicit window).
    q("r78_any_join",
      """SELECT c.c_custkey AS ck, o.o_orderkey AS ok, o.pri AS pri
        |FROM customer c LEFT JOIN (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderkey, o_orderpriority AS pri,
        |      row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderkey) AS rn
        |    FROM orders) WHERE rn = 1) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY ck""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT c.`c_custkey` AS ck, o.`o_orderkey` AS ok,
          |  o.`o_orderpriority` AS pri
          |FROM `main`.`customer` AS c LEFT ANY JOIN `main`.`orders` AS o
          |  ON c.`c_custkey` = o.`o_custkey`
          |ORDER BY ck""".stripMargin)
    },

    // r60: exact nearest-rank quantiles (quantileExact family), mapped
    // honestly to sorted-array picks rather than rejected (VERDICT r11
    // item 4). quantileExactLow == DuckDB quantile_disc (rank ceil(p*n));
    // medianExact picks rank floor(0.5*n)+1, which the oracle expresses
    // as an explicit sorted-list index — integer cents keep the compare
    // exact.
    q("r60_exact_quantile",
      """SELECT o_orderpriority AS pri,
        |  quantile_disc(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)
        |    AS med_low,
        |  list_sort(list(CAST(round(o_totalprice * 100) AS BIGINT)))[
        |    CAST(floor(0.5 * count(*)) AS INT) + 1] AS med_exact,
        |  list_sort(list(CAST(round(o_totalprice * 100) AS BIGINT)))[
        |    least(CAST(floor(0.25 * count(*)) AS INT) + 1,
        |          CAST(count(*) AS INT))] AS q1_high,
        |  list_sort(list(CAST(round(o_totalprice * 100) AS BIGINT)))[
        |    least(CAST(floor(0.1 * count(*)) AS INT) + 1,
        |          CAST(count(*) AS INT))] AS p10_low
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `o_orderpriority` AS pri,
          |  quantileExactLow(0.5)(toInt64(round(`o_totalprice` * 100)))
          |    AS med_low,
          |  medianExact(toInt64(round(`o_totalprice` * 100))) AS med_exact,
          |  quantileExactHigh(0.25)(toInt64(round(`o_totalprice` * 100)))
          |    AS q1_high,
          |  quantileExactLow(0.1)(toInt64(round(`o_totalprice` * 100)))
          |    AS p10_low
          |FROM `main`.`orders` GROUP BY `o_orderpriority`""".stripMargin)
    },

    // r64: the quantileExact family at FIXED group sizes (nation is 25
    // rows at every sf: 13 even keys / 12 odd keys), pinning exactly the
    // boundaries the r12 advisor flagged: integer p*n (p=0.25 over n=12:
    // server rank floor(p*n)+1 = 4th, NOT ceil(p*n) = 3rd), the
    // lower-vs-upper middle split at p=0.5 over even n (Low 11 vs High 13
    // on the odd-key group), and the Exclusive interpolation (exact in
    // float64: quarter-fraction h over integer picks).
    q("r64_exact_quantile_boundary",
      """SELECT CAST(n_nationkey % 2 AS BIGINT) AS grp,
        |  list_sort(list(CAST(n_nationkey AS BIGINT)))[
        |    least(CAST(floor(0.25 * count(*)) AS INT) + 1,
        |          CAST(count(*) AS INT))] AS q1_low,
        |  list_sort(list(CAST(n_nationkey AS BIGINT)))[
        |    least(CAST(floor(0.25 * count(*)) AS INT) + 1,
        |          CAST(count(*) AS INT))] AS q1_exact,
        |  list_sort(list(CAST(n_nationkey AS BIGINT)))[
        |    CAST(floor(0.5 * count(*)) AS INT) + 1] AS med_high,
        |  list_sort(list(CAST(n_nationkey AS BIGINT)))[
        |    CAST(ceil(count(*) / 2.0) AS INT)] AS med_low,
        |  CAST(list_sort(list(CAST(n_nationkey AS BIGINT)))[
        |      CAST(floor(0.25 * (count(*) + 1)) AS INT)] AS DOUBLE)
        |    + (0.25 * (count(*) + 1)
        |       - CAST(floor(0.25 * (count(*) + 1)) AS INT))
        |      * (CAST(list_sort(list(CAST(n_nationkey AS BIGINT)))[
        |            CAST(floor(0.25 * (count(*) + 1)) AS INT) + 1] AS DOUBLE)
        |         - CAST(list_sort(list(CAST(n_nationkey AS BIGINT)))[
        |            CAST(floor(0.25 * (count(*) + 1)) AS INT)] AS DOUBLE))
        |    AS q1_exc
        |FROM nation GROUP BY CAST(n_nationkey % 2 AS BIGINT)""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT toInt64(`n_nationkey` % 2) AS grp,
          |  quantileExactLow(0.25)(toInt64(`n_nationkey`)) AS q1_low,
          |  quantileExact(0.25)(toInt64(`n_nationkey`)) AS q1_exact,
          |  quantileExactHigh(0.5)(toInt64(`n_nationkey`)) AS med_high,
          |  quantileExactLow(0.5)(toInt64(`n_nationkey`)) AS med_low,
          |  quantileExactExclusive(0.25)(toInt64(`n_nationkey`)) AS q1_exc
          |FROM `main`.`nation` GROUP BY toInt64(`n_nationkey` % 2)""".stripMargin)
    },

    // r61: GLOBAL-broadcast dim join on a sharded catalog (VERDICT r11
    // item 5) — customer is sharded round-robin (no routing key), nation
    // is a small dim split across shards; the non-co-located join
    // collapses per shard with the FULL dim inlined in each shard's
    // statement (distributed_product_mode='global' client-side), so the
    // fact side never leaves its shards. GatePlanSpec pins the shape;
    // ShardedClientSpec pins fact x fact staying in Spark.
    q("r61_sharded_global_join",
      """SELECT n_name AS nname, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val cat = s"chglob_$tag" // per-sfdir name: CatalogManager caches instances
      val roots = s"/root/repo/target/chglob0_$tag,/root/repo/target/chglob1_$tag"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.ClickHouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.path", roots)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
      ensureStore(s, dir, Seq(
        (s"$cat.main.cust_gl", Seq("nkey", "bal"),
          () => s.table("customer").select(col("c_nationkey").as("nkey"),
            col("c_acctbal").cast("decimal(18,2)").as("bal"))),
        (s"$cat.main.nat_gl", Seq("nk", "nname"),
          () => s.table("nation").select(col("n_nationkey").as("nk"),
            col("n_name").as("nname"))))) {
        s.sql(
          s"""CREATE TABLE $cat.main.cust_gl (nkey INT, bal DECIMAL(18,2))
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'nkey')""".stripMargin)
        s.sql(
          s"""INSERT INTO $cat.main.cust_gl
             |SELECT c_nationkey, CAST(c_acctbal AS DECIMAL(18,2))
             |FROM customer""".stripMargin)
        s.sql(
          s"""CREATE TABLE $cat.main.nat_gl (nk INT, nname STRING)
             |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'nk')""".stripMargin)
        s.sql(
          s"""INSERT INTO $cat.main.nat_gl
             |SELECT n_nationkey, n_name FROM nation""".stripMargin)
      }
      val c = s.table(s"$cat.main.cust_gl")
      val n = s.table(s"$cat.main.nat_gl")
      // exact integer CENTS above the join (render-lint rule)
      c.join(n, col("nkey") === col("nk"))
        .groupBy("nname")
        .agg(count(lit(1)).as("n"), sum(col("bal")).as("bal0"))
        .select(col("nname"), col("n"),
          (col("bal0") * 100).cast("bigint").as("bal"))
    },

    // r62: plain CollapsingMergeTree(sign) FINAL — the insertion-order
    // collapse unlocked by part-sequence tracking (round 12; previously
    // honored-or-rejected). The canonical upsert/delete writer protocol
    // over orders: every order starts as a state row, every 3rd gets a
    // cancel+updated-state pair, every 7th a trailing cancel (delete);
    // FINAL must read back exactly the survivor set the oracle computes
    // arithmetically. Statement-ordered inserts make the sequence
    // deterministic (each stage lands strictly after the previous one).
    q("r62_collapsing_final",
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 3 = 0 THEN cents * 2 ELSE cents END AS cents
        |FROM (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS cents FROM orders)
        |WHERE o_orderkey % 7 <> 0""".stripMargin) { (s, dir) =>
      def stage(n: Int) = s"""
        |SELECT o_orderkey, CAST(${if (n == 2) -1 else 1} AS TINYINT),
        |  CAST(round(o_totalprice * 100) AS BIGINT) ${if (n == 3) "* 2" else ""}
        |FROM orders ${Seq("", "", " WHERE o_orderkey % 3 = 0",
          " WHERE o_orderkey % 3 = 0", "")(n)}""".stripMargin
      ensureStore(s, dir, Seq(("clickhouse.main.cc_ord",
        Seq("k", "sign", "cents"), () => {
          val base = s.table("orders").select(
            col("o_orderkey").as("k"),
            round(col("o_totalprice") * 100).cast("bigint").as("cents"))
          val st1 = base.select(col("k"), lit(1).cast("tinyint").as("sign"), col("cents"))
          val upd = base.filter(col("k") % 3 === 0)
          val del = base.filter(col("k") % 7 === 0)
          st1.unionByName(upd.select(col("k"), lit(-1).cast("tinyint").as("sign"), col("cents")))
            .unionByName(upd.select(col("k"), lit(1).cast("tinyint").as("sign"),
              (col("cents") * 2).as("cents")))
            .unionByName(del.select(col("k"), lit(-1).cast("tinyint").as("sign"),
              when(col("k") % 3 === 0, col("cents") * 2)
                .otherwise(col("cents")).as("cents")))
        }))) {
        s.sql(
          """CREATE TABLE clickhouse.main.cc_ord
            |(k BIGINT, sign TINYINT, cents BIGINT)
            |TBLPROPERTIES ('engine' = 'CollapsingMergeTree(sign)',
            |  'order_by' = 'k')""".stripMargin)
        s.sql("INSERT INTO clickhouse.main.cc_ord" + stage(1)) // states
        s.sql("INSERT INTO clickhouse.main.cc_ord" + stage(2)) // cancels
        s.sql("INSERT INTO clickhouse.main.cc_ord" + stage(3)) // updates
        s.sql( // deletes: cancel the CURRENT state of every 7th key
          """INSERT INTO clickhouse.main.cc_ord
            |SELECT o_orderkey, CAST(-1 AS TINYINT),
            |  CAST(round(o_totalprice * 100) AS BIGINT) *
            |    (CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END)
            |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin)
      }
      s.read.option("final", "true").table("clickhouse.main.cc_ord")
        .select(col("k"), col("cents"))
    },

    // r79: topK / topKWeighted — exact frequency ranking (a legal
    // instance of the server's "approximately most frequent" contract,
    // same rule as the uniq family), deterministic ties (count DESC,
    // value ASC). The oracle re-derives the ranking with row_number;
    // arrays flatten to one comma-joined string so the gate schema
    // stays scalar.
    q("r79_topk",
      """WITH c AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pri,
        |         count(*) AS cnt, sum(o_orderkey % 7) AS wsum
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT st, pri, cnt, wsum,
        |        row_number() OVER (PARTITION BY st
        |          ORDER BY cnt DESC, pri) AS rc,
        |        row_number() OVER (PARTITION BY st
        |          ORDER BY wsum DESC, pri) AS rw
        |      FROM c)
        |SELECT st,
        |  string_agg(CASE WHEN rc <= 2 THEN pri END, ','
        |    ORDER BY cnt DESC, pri) AS top2,
        |  string_agg(CASE WHEN rw <= 2 THEN pri END, ','
        |    ORDER BY wsum DESC, pri) AS top2w
        |FROM r GROUP BY st ORDER BY st""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `o_orderstatus` AS st,
          |  arrayStringConcat(topK(2)(`o_orderpriority`), ',') AS top2,
          |  arrayStringConcat(
          |    topKWeighted(2)(`o_orderpriority`, `o_orderkey` % 7), ',')
          |    AS top2w
          |FROM `main`.`orders` GROUP BY st ORDER BY st""".stripMargin)
    },

    // r80: -Array aggregate combinators — the aggregate folds over every
    // ELEMENT of the group's arrays (token lengths per document here);
    // the oracle re-derives the fold by unnesting.
    q("r80_array_combinators",
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT lang AS lg,
        |  CAST(sum(length(tok)) AS BIGINT) AS s_len,
        |  CAST(min(length(tok)) AS BIGINT) AS mn_len,
        |  CAST(max(length(tok)) AS BIGINT) AS mx_len,
        |  CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(count(DISTINCT length(tok)) AS BIGINT) AS u_len
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `lang` AS lg,
          |  sumArray(lens) AS s_len,
          |  toInt64(minArray(lens)) AS mn_len,
          |  toInt64(maxArray(lens)) AS mx_len,
          |  countArray(lens) AS n_tok,
          |  uniqArray(lens) AS u_len
          |FROM (SELECT `lang`,
          |        arrayMap(t -> lengthUTF8(t), splitByChar(' ', `text`))
          |          AS lens
          |      FROM `main`.`documents`)
          |GROUP BY lg ORDER BY lg""".stripMargin)
    },

    // r81: ClickHouse bracket syntax — array literals ([..] → array())
    // and 1-BASED subscripts (a[i] → element_at; Spark's own a[i] is
    // 0-based, a silent off-by-one if passed through) — plus positional
    // tupleElement. DuckDB lists are 1-based natively.
    q("r81_bracket_dialect",
      """SELECT doc_id AS id,
        |  string_split(text, ' ')[1] AS w1,
        |  CAST(list_value(10, 20, 30)[CAST(doc_id % 3 AS INT) + 1]
        |    AS BIGINT) AS pick,
        |  lang AS lg
        |FROM documents WHERE doc_id < 40 ORDER BY id""".stripMargin) {
      (s, dir) =>
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val ch = graft.session.ClickHouseSession.builder(s)
          .storePath(s"/root/repo/target/chstore_$tag")
          .catalogName("clickhouse").build()
        ch.chSql(
          """SELECT `doc_id` AS id,
            |  splitByChar(' ', `text`)[1] AS w1,
            |  [toInt64(10), toInt64(20), toInt64(30)]
            |    [toInt32(`doc_id` % 3) + 1] AS pick,
            |  tupleElement(tuple(`doc_id`, `lang`), 2) AS lg
            |FROM `main`.`documents` WHERE `doc_id` < 40
            |ORDER BY id""".stripMargin)
    },

    // r82: generic -If and -Distinct aggregate combinators (the last arg
    // is the condition; any→min / anyLast→max are the pinned
    // deterministic legal instances). argMaxIf ties are avoided by the
    // unique o_orderkey value argument.
    q("r82_if_distinct_combinators",
      """SELECT o_orderstatus AS st,
        |  min(o_orderpriority) FILTER (WHERE o_orderkey % 10 = 0) AS any_p,
        |  max(o_orderpriority) FILTER (WHERE o_orderkey % 10 = 0) AS last_p,
        |  max_by(o_orderpriority, o_orderkey)
        |    FILTER (WHERE o_orderkey % 2 = 0) AS am_p,
        |  CAST(count(DISTINCT o_orderpriority)
        |    FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT) AS u_p,
        |  CAST(sum(DISTINCT o_custkey % 100) AS BIGINT) AS sd
        |FROM orders GROUP BY st ORDER BY st""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `o_orderstatus` AS st,
          |  anyIf(`o_orderpriority`, `o_orderkey` % 10 = 0) AS any_p,
          |  anyLastIf(`o_orderpriority`, `o_orderkey` % 10 = 0) AS last_p,
          |  argMaxIf(`o_orderpriority`, `o_orderkey`,
          |    `o_orderkey` % 2 = 0) AS am_p,
          |  uniqExactIf(`o_orderpriority`, `o_orderkey` % 3 = 0) AS u_p,
          |  toInt64(sumDistinct(`o_custkey` % 100)) AS sd
          |FROM `main`.`orders` GROUP BY st ORDER BY st""".stripMargin)
    },

    // r83: GROUP BY ALL / ORDER BY ALL ride Spark's own support; the
    // trailing FORMAT clause (a wire rendering the connector owns on
    // every transport) strips instead of erroring.
    q("r83_dialect_all",
      """SELECT o_orderpriority AS p, count(*) AS c,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS u
        |FROM orders GROUP BY 1 ORDER BY p, c, u""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `o_orderpriority` AS p, count(*) AS c,
          |  uniqExact(`o_custkey`) AS u
          |FROM `main`.`orders`
          |GROUP BY ALL ORDER BY ALL FORMAT Values""".stripMargin)
    },

    // r84: PASTE JOIN — horizontal concatenation by row position. Both
    // sides carry their own total ORDER BY (the rewrite's determinism
    // requirement); the second side is deliberately ordered DESCENDING
    // so the pairing is visibly positional, not key-based. The oracle
    // re-derives the pairing with explicit row_numbers.
    q("r84_paste_join",
      """WITH a AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn
        |  FROM orders WHERE o_orderkey < 200),
        |b AS (SELECT o_orderpriority AS pri, o_orderkey AS k2,
        |    row_number() OVER (ORDER BY o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderkey < 200)
        |SELECT a.k, a.cents, b.pri, b.k2
        |FROM a JOIN b USING (rn) ORDER BY a.k""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT a.k AS k, a.cents AS cents, b.pri AS pri, b.k2 AS k2
          |FROM (SELECT `o_orderkey` AS k,
          |        toInt64(round(`o_totalprice` * 100)) AS cents
          |      FROM `main`.`orders` WHERE `o_orderkey` < 200
          |      ORDER BY k) AS a
          |PASTE JOIN
          |     (SELECT `o_orderpriority` AS pri, `o_orderkey` AS k2
          |      FROM `main`.`orders` WHERE `o_orderkey` < 200
          |      ORDER BY k2 DESC) AS b
          |ORDER BY k""".stripMargin)
    },

    // r85: table PROJECTIONs — ADD PROJECTION is declared BEFORE the
    // insert, so the insert itself materializes per-part aggregate
    // states; the read swaps onto them transparently (GatePlanSpec
    // asserts the swap via the hit counter — the rows are identical by
    // construction, which is exactly what this hash gate pins). avg
    // re-merges as sum-of-sums / sum-of-counts: the same single
    // division over exact integers the oracle performs.
    q("r85_projection",
      """SELECT o_orderpriority AS pri,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s,
        |  CAST(count(*) AS BIGINT) AS c,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mn,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mx,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    / count(*) AS a
        |FROM orders GROUP BY 1 ORDER BY pri""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/root/repo/target/chstore_$tag"
      ensureStore(s, dir, Seq(("clickhouse.main.proj_ord",
        Seq("k", "pri", "cents"),
        () => s.table("orders").select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))))) {
        s.sql(
          """CREATE TABLE clickhouse.main.proj_ord
            |(k BIGINT, pri STRING, cents BIGINT)
            |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'k')""".stripMargin)
        new EmbeddedClickHouse(root).alterTable("main", "proj_ord",
          Seq(graft.client.ChAlterOp.AddProjection("by_pri",
            "SELECT pri, sum(cents), count(*), min(cents), max(cents), " +
              "avg(cents) GROUP BY pri")))
        s.sql(
          """INSERT INTO clickhouse.main.proj_ord
            |SELECT o_orderkey, o_orderpriority,
            |  CAST(round(o_totalprice * 100) AS BIGINT)
            |FROM orders""".stripMargin)
      }
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(root).catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `pri` AS pri, sum(`cents`) AS s, count(*) AS c,
          |  min(`cents`) AS mn, max(`cents`) AS mx, avg(`cents`) AS a
          |FROM `main`.`proj_ord` GROUP BY pri ORDER BY pri""".stripMargin)
    },

    // ---- wide-integer / IP type strings (VERDICT r13 item 6): an
    // Int128 column DDL-declared through the client, written through the
    // connector with beyond-Int64 values, read back bit-exact; IPv6 as
    // its textual form. In-range values round-trip exactly; >38-digit
    // values fail LOUDLY on write (Decimal overflow under ANSI) —
    // honored-or-rejected, never a silent wrap. Output renders the wide
    // column as STRING (exact at any width, and the gate schema rule
    // bars DECIMAL outputs).
    q("r86_wide_int_types",
      """SELECT o_orderkey AS k,
        |  CAST(CAST(o_orderkey AS HUGEINT) * 1000000000000000
        |    + CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS wide,
        |  '2001:db8::' || CAST(o_orderkey % 16 AS VARCHAR) AS ip
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/root/repo/target/chstore_$tag"
      ensureStore(s, dir, Seq(("clickhouse.main.wide_t",
        Seq("k", "wide", "ip"),
        () => s.table("orders").select(
          col("o_orderkey").as("k"),
          (col("o_orderkey").cast("decimal(38,0)") * lit(1000000000000000L) +
            round(col("o_totalprice") * 100).cast("bigint"))
            .cast("decimal(38,0)").as("wide"),
          concat(lit("2001:db8::"),
            (col("o_orderkey") % 16).cast("string")).as("ip"))))) {
        new EmbeddedClickHouse(root).createTable("main", "wide_t", Seq(
          "k" -> "Int64",
          "wide" -> "Int128",
          "ip" -> "Nullable(IPv6)"),
          Map("engine" -> "MergeTree", "order_by" -> "k"))
        s.sql(
          """INSERT INTO clickhouse.main.wide_t
            |SELECT o_orderkey,
            |  CAST(CAST(o_orderkey AS DECIMAL(38,0)) * 1000000000000000
            |    + CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0)),
            |  concat('2001:db8::', CAST(o_orderkey % 16 AS STRING))
            |FROM orders""".stripMargin)
      }
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(root).catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `k` AS k, toString(`wide`) AS wide, `ip` AS ip
          |FROM `main`.`wide_t` WHERE `k` % 97 = 0""".stripMargin)
    },

    // ---- round-14 function wave under the ORACLE gate: the boundary-law
    // mappings (toDayOfWeek Mon=1, toMonday, dateDiff counting BOUNDARY
    // crossings, formatDateTime token conversion, replace-first,
    // countSubstrings, regex extract, bit ops, 4-arg transform,
    // intDivOrZero) recomputed independently by DuckDB over the same
    // corpus. DuckDB's isodow/date_trunc('week')/date_diff carry the
    // SAME laws natively, so the oracle is structural, not an echo.
    q("r87_fn_wave",
      """SELECT o_orderkey AS k,
        |  CAST(isodow(o_orderdate) AS BIGINT) AS dw,
        |  CAST(date_trunc('week', o_orderdate) AS DATE) AS mon,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fd,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |  CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
        |    o_orderdate) AS BIGINT) AS dd,
        |  regexp_replace(o_orderpriority, '-', '_') AS r1,
        |  CAST(length(o_orderpriority)
        |    - length(replace(o_orderpriority, 'E', '')) AS BIGINT) AS cs,
        |  regexp_extract(o_orderpriority, '[0-9]+') AS ex,
        |  CAST(o_orderkey & 255 AS BIGINT) AS ba,
        |  CAST(bit_count(o_orderkey) AS BIGINT) AS bc,
        |  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'done'
        |    ELSE '?' END AS st,
        |  CAST(CASE WHEN o_orderkey % 5 = 0 THEN 0
        |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) // (o_orderkey % 5)
        |    END AS BIGINT) AS idz
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      ensureOrdBase(s, dir)
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `k` AS k,
          |  toInt64(toDayOfWeek(`odate`)) AS dw,
          |  toMonday(`odate`) AS mon,
          |  formatDateTime(`odate`, '%Y-%m-%d') AS fd,
          |  toInt64(toYYYYMM(`odate`)) AS ym,
          |  dateDiff('day', toDateTime64('1995-01-01 00:00:00.000000', 6),
          |    `odate`) AS dd,
          |  replaceOne(`pri`, '-', '_') AS r1,
          |  countSubstrings(`pri`, 'E') AS cs,
          |  extract(`pri`, '[0-9]+') AS ex,
          |  bitAnd(`k`, 255) AS ba,
          |  toInt64(bitCount(`k`)) AS bc,
          |  transform(`status`, ['O', 'F'], ['open', 'done'], '?') AS st,
          |  intDivOrZero(`cents`, `k` % 5) AS idz
          |FROM `main`.`ord_ttl_base` WHERE `k` % 97 = 0""".stripMargin)
    },

    // ---- round-15 hash/integer-law wave under the ORACLE gate. The
    // corpus-varying columns are STRUCTURAL: DuckDB recomputes gcd/lcm
    // natively, replace-first via its default non-global regexp_replace,
    // and halfMD5 from its own md5 (big-endian first-8 law — the only
    // hash here both engines can derive independently). The CityHash/
    // SipHash/XXH/farm columns are literal-pinned regression anchors:
    // their kernels are vector-pinned in HashKernelSpec (SipHash against
    // the 18 published paper vectors; CityHash v1.0.2 against the
    // published empty anchor + a cross-coded port; XXH/farm against
    // lz4-java/Guava), and this gate keeps the embedded wiring honest
    // round over round.
    q("r88_hash_fns",
      """SELECT o_orderkey AS k,
        |  gcd(o_orderkey, 1000) AS g,
        |  lcm(o_orderkey % 7 + 1, 6) AS l,
        |  regexp_replace(o_orderpriority, '[-E]', '_') AS r1,
        |  CAST(CAST(('0x' || substr(md5(o_orderpriority), 1, 16))
        |    AS UBIGINT) AS VARCHAR) AS hm,
        |  '15284576495479434193' AS ch,
        |  '14307741831258040182' AS sh,
        |  '17279342474342913821' AS xh,
        |  CAST(1282873741 AS BIGINT) AS x3,
        |  '17615636674710880708' AS ff,
        |  '1475707134710946645' AS cc2,
        |  '12698172050587446143' AS sc2,
        |  '16821005880652109749' AS cc3,
        |  '4290726173816471195' AS sc3
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      ensureOrdBase(s, dir)
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      // cc2/sc2/cc3/sc3 (round 17): the multi-argument combine chains,
      // anchored to the independent-Python-port values in HashKernelSpec
      // (toInt64 pins the literal's storage width to LE8)
      ch.chSql(
        """SELECT `k` AS k,
          |  gcd(`k`, 1000) AS g,
          |  lcm(`k` % 7 + 1, 6) AS l,
          |  replaceRegexpOne(`pri`, '[-E]', '_') AS r1,
          |  toString(halfMD5(`pri`)) AS hm,
          |  toString(cityHash64('graft')) AS ch,
          |  toString(sipHash64('graft')) AS sh,
          |  toString(xxHash64('graft')) AS xh,
          |  xxHash32('graft') AS x3,
          |  toString(farmFingerprint64('graft')) AS ff,
          |  toString(cityHash64('graft', toInt64(42))) AS cc2,
          |  toString(sipHash64('graft', toInt64(42))) AS sc2,
          |  toString(cityHash64('graft', toInt64(42), 'graft')) AS cc3,
          |  toString(sipHash64('graft', toInt64(42), 'graft')) AS sc3
          |FROM `main`.`ord_ttl_base` WHERE `k` % 97 = 0""".stripMargin)
    },

    // ---- round-15 sweep-2 wave under the ORACLE gate: the structural
    // subset DuckDB can recompute natively — isoyear (ISO week-year
    // boundary rows exist in the 1992-98 corpus), time_bucket (15-min
    // truncation over a synthetic intra-day offset), split_part
    // (substring_index count=1 law), float64 divide (single-division
    // rational over exact ints — hash-exact per the d08 precedent), and
    // the bit-test fold. URL/IEEE/interval boundary values are pinned in
    // DifferentialSpec (no DuckDB native to recompute them structurally).
    q("r89_fn_sweep2",
      """SELECT o_orderkey AS k,
        |  isoyear(o_orderdate) AS iso,
        |  CAST(epoch(time_bucket(INTERVAL 900 SECONDS,
        |    o_orderdate::TIMESTAMP + (o_orderkey % 86399) * INTERVAL 1 SECOND))
        |    AS BIGINT) AS t15,
        |  split_part(o_orderpriority, '-', 1) AS si,
        |  CAST(round(o_totalprice * 100) AS BIGINT) / 16.0 AS dv,
        |  ((o_orderkey >> 0) & 1)
        |    + (CASE WHEN ((o_orderkey >> 0) & 1) = 1
        |            AND ((o_orderkey >> 2) & 1) = 1 THEN 2 ELSE 0 END)
        |    + (CASE WHEN ((o_orderkey >> 1) & 1) = 1
        |            OR ((o_orderkey >> 2) & 1) = 1 THEN 4 ELSE 0 END) AS bt,
        |  CAST(epoch(o_orderdate::TIMESTAMP
        |    + (o_orderkey % 86399) * INTERVAL 1 SECOND) AS BIGINT) AS pdt,
        |  CAST(epoch(o_orderdate::TIMESTAMP + INTERVAL 3 HOUR
        |    - INTERVAL 1 DAY) AS BIGINT) AS da,
        |  replace(replace(o_orderpriority || ' #' || o_orderkey,
        |    ' ', '%20'), '#', '%23') AS enc,
        |  coalesce(array_to_string(
        |    [CAST(CAST(power(2, i) AS BIGINT) AS VARCHAR)
        |     for i in generate_series(0, 10)
        |     if ((o_orderkey % 1000) // CAST(power(2, i) AS BIGINT)) % 2 = 1],
        |    ','), '') AS bml
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      ensureOrdBase(s, dir)
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `k` AS k,
          |  toInt64(toISOYear(`odate`)) AS iso,
          |  toUnixTimestamp(toStartOfFifteenMinutes(
          |    addSeconds(`odate`, `k` % 86399))) AS t15,
          |  substringIndex(`pri`, '-', 1) AS si,
          |  divide(`cents`, 16) AS dv,
          |  bitTest(`k`, 0) + bitTestAll(`k`, 0, 2) * 2
          |    + bitTestAny(`k`, 1, 2) * 4 AS bt,
          |  toUnixTimestamp(parseDateTime(formatDateTime(
          |    addSeconds(`odate`, `k` % 86399), '%F %T'), '%F %T')) AS pdt,
          |  toUnixTimestamp(dateAdd(HOUR, 3,
          |    dateSub(DAY, 1, `odate`))) AS da,
          |  encodeURLComponent(concat(`pri`, ' #', toString(`k`))) AS enc,
          |  bitmaskToList(`k` % 1000) AS bml
          |FROM `main`.`ord_ttl_base` WHERE `k` % 97 = 0""".stripMargin)
    },

    // ---- round-16 wave under the ORACLE gate: the simpleJSON/
    // visitParam byte-scanner family (documented scanner law as codegen
    // kernels, doc examples pinned in SimpleJsonSpec), JSONLength's
    // polymorphic 0-default, the default firstSignificantSubdomain
    // 4-name heuristic, and toStartOfInterval's calendar origins. The
    // oracle is CONSTRUCTION-based: the JSON/URL text is synthesized
    // from corpus columns inside the query, so DuckDB recomputes every
    // expected value from the SOURCE columns (extraction must roundtrip
    // the construction); the calendar buckets are recomputed with
    // DuckDB's own integer date arithmetic from the documented origins
    // (Monday 1970-01-05 for multi-week, 1970-01 for multi-month).
    q("r90_simplejson",
      """SELECT o_orderkey AS k,
        |  o_orderpriority AS ps,
        |  o_orderkey AS ku,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS ci,
        |  CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) AS cf,
        |  CAST(1 AS BIGINT) AS hf,
        |  CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS bf,
        |  '{"a":' || (o_orderkey % 5) || '}' AS raw,
        |  CAST(3 AS BIGINT) AS la,
        |  'u' || o_orderkey AS fsd,
        |  'u' || o_orderkey || CASE CAST(o_orderkey % 3 AS INTEGER)
        |    WHEN 0 THEN '.com' WHEN 1 THEN '.com.tr' ELSE '.org' END AS cutf,
        |  DATE '1970-01-05' + CAST((((CAST(o_orderdate AS DATE)
        |    - DATE '1970-01-05') // 14) * 14) AS INTEGER) AS w2,
        |  make_date(
        |    1970 + ((((year(o_orderdate) - 1970) * 12 + month(o_orderdate)
        |      - 1) // 2) * 2) // 12,
        |    ((((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1)
        |      // 2) * 2) % 12 + 1, 1) AS m2
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      ensureOrdBase(s, dir)
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `k` AS k,
          |  simpleJSONExtractString(`j`, 'pri') AS ps,
          |  toInt64(simpleJSONExtractUInt(`j`, 'k')) AS ku,
          |  visitParamExtractInt(`j`, 'cents') AS ci,
          |  simpleJSONExtractFloat(`j`, 'cents') AS cf,
          |  toInt64(simpleJSONHas(`j`, 'flag')) AS hf,
          |  toInt64(simpleJSONExtractBool(`j`, 'flag')) AS bf,
          |  simpleJSONExtractRaw(`j`, 'obj') AS raw,
          |  JSONLength(`j`, 'arr') AS la,
          |  firstSignificantSubdomain(`u`) AS fsd,
          |  cutToFirstSignificantSubdomain(`u`) AS cutf,
          |  toStartOfInterval(`odate`, INTERVAL 2 WEEK) AS w2,
          |  toStartOfInterval(`odate`, INTERVAL 2 MONTH) AS m2
          |FROM (
          |  SELECT `k`, `odate`,
          |    concat('{"pri":"', `pri`, '","k":', toString(`k`),
          |      ',"cents":', toString(`cents`),
          |      ',"flag":', if(`k` % 2 = 0, 'true', 'false'),
          |      ',"obj":{"a":', toString(`k` % 5),
          |      '},"arr":[1,2,', toString(`k` % 7), ']}') AS j,
          |    concat('https://www.u', toString(`k`),
          |      multiIf(`k` % 3 = 0, '.com', `k` % 3 = 1, '.com.tr',
          |        '.org'), '/p') AS u
          |  FROM `main`.`ord_ttl_base` WHERE `k` % 97 = 0
          |)""".stripMargin)
    },

    // ---- round-16: declared-width unsigned hashing under the ORACLE
    // gate. Columns DECLARED UInt8/16/32 store one Spark type wider;
    // direct references now hash the TRUE storage width via field
    // metadata (ChHashes round-16). halfMD5 is the one hash both
    // engines derive independently — and because this DuckDB has no
    // md5(BLOB), the unsigned values are BUILT from ASCII-range byte
    // components (every LE storage byte in [1,96]), so the byte window
    // at each width IS a chr()-composable VARCHAR: the oracle md5s the
    // exact 1/2/4-byte storage the server law prescribes. A 2-byte
    // (Spark-width) hash of the UInt8 column would hash-mismatch every
    // row — the gate pins the WIDTH, not just the kernel.
    q("r91_unsigned_width",
      """SELECT o_orderkey AS k,
        |  CAST(CAST(('0x' || substr(md5(
        |    chr(CAST(1 + o_orderkey % 96 AS INTEGER))), 1, 16))
        |    AS UBIGINT) AS VARCHAR) AS h8,
        |  CAST(CAST(('0x' || substr(md5(
        |    chr(CAST(1 + o_orderkey % 96 AS INTEGER)) ||
        |    chr(CAST(1 + o_orderkey % 89 AS INTEGER))), 1, 16))
        |    AS UBIGINT) AS VARCHAR) AS h16,
        |  CAST(CAST(('0x' || substr(md5(
        |    chr(CAST(1 + o_orderkey % 96 AS INTEGER)) ||
        |    chr(CAST(1 + o_orderkey % 89 AS INTEGER)) ||
        |    chr(CAST(1 + o_orderkey % 83 AS INTEGER)) ||
        |    chr(CAST(1 + o_orderkey % 79 AS INTEGER))), 1, 16))
        |    AS UBIGINT) AS VARCHAR) AS h32
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/root/repo/target/chstore_$tag"
      ensureStore(s, dir, Seq(("clickhouse.main.u_base",
        Seq("k", "u8", "u16", "u32"),
        () => s.table("orders").select(
          col("o_orderkey").as("k"),
          (lit(1) + col("o_orderkey") % 96).cast("smallint").as("u8"),
          ((lit(1) + col("o_orderkey") % 96)
            + (lit(1) + col("o_orderkey") % 89) * 256).cast("int").as("u16"),
          ((lit(1) + col("o_orderkey") % 96)
            + (lit(1) + col("o_orderkey") % 89) * 256
            + (lit(1) + col("o_orderkey") % 83) * 65536
            + (lit(1) + col("o_orderkey") % 79) * 16777216L)
            .cast("bigint").as("u32"))))) {
        val chb = graft.session.ClickHouseSession.builder(s)
          .storePath(root).catalogName("clickhouse").build()
        chb.newTable("main", "u_base").column("k", "Int64")
          .column("u8", "UInt8").column("u16", "UInt16")
          .column("u32", "UInt32").engine("MergeTree").orderBy("k").create()
        s.sql(
          """INSERT INTO clickhouse.main.u_base
            |SELECT o_orderkey,
            |  CAST(1 + o_orderkey % 96 AS SMALLINT),
            |  CAST((1 + o_orderkey % 96) + (1 + o_orderkey % 89) * 256 AS INT),
            |  CAST((1 + o_orderkey % 96) + (1 + o_orderkey % 89) * 256
            |    + (1 + o_orderkey % 83) * 65536
            |    + (1 + o_orderkey % 79) * 16777216 AS BIGINT)
            |FROM orders""".stripMargin)
      }
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(root).catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `k` AS k,
          |  toString(halfMD5(`u8`)) AS h8,
          |  toString(halfMD5(`u16`)) AS h16,
          |  toString(halfMD5(`u32`)) AS h32
          |FROM `main`.`u_base` WHERE `k` % 97 = 0""".stripMargin)
    },

    // ---- round-16 text idioms under the ORACLE gate: countMatches
    // (regexp_count law — DuckDB recomputes via regexp_extract_all),
    // multiSearchAny (substring OR-fold — strpos), hasToken (the
    // documented non-alphanumeric-separator tokenizer law — the same
    // boundary regex in DuckDB's RE2), and the FIXED splitByChar on a
    // metachar separator ('.') whose old emission was an invalid regex.
    q("r92_text_idioms",
      """SELECT doc_id AS k,
        |  CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS cm,
        |  CAST(CASE WHEN text IS NULL THEN NULL
        |    WHEN strpos(text, 'the') > 0 OR strpos(text, 'data') > 0
        |      OR strpos(text, 'xyzq') > 0 THEN 1 ELSE 0 END AS BIGINT) AS msa,
        |  CAST(CASE WHEN text IS NULL THEN NULL
        |    WHEN regexp_matches(text, '(^|[^A-Za-z0-9])the([^A-Za-z0-9]|$)')
        |    THEN 1 ELSE 0 END AS BIGINT) AS ht,
        |  CAST(len(string_split(substr(text, 1, 200), '.')) AS BIGINT) AS sc
        |FROM documents WHERE doc_id % 5 = 0""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/root/repo/target/chstore_$tag"
      ensureStore(s, dir, Seq(("clickhouse.main.doc_text",
        Seq("doc_id", "text"),
        () => s.table("documents").select(col("doc_id"), col("text"))))) {
        s.sql(
          """CREATE TABLE clickhouse.main.doc_text (doc_id BIGINT, text STRING)
            |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'doc_id')""".stripMargin)
        s.sql("INSERT INTO clickhouse.main.doc_text " +
          "SELECT doc_id, text FROM documents")
      }
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(root).catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `doc_id` AS k,
          |  toInt64(countMatches(`text`, '[aeiou]+')) AS cm,
          |  toInt64(multiSearchAny(`text`, ['the', 'data', 'xyzq'])) AS msa,
          |  toInt64(hasToken(`text`, 'the')) AS ht,
          |  toInt64(length(splitByChar('.', substringUTF8(`text`, 1, 200))))
          |    AS sc
          |FROM `main`.`doc_text` WHERE `doc_id` % 5 = 0""".stripMargin)
    },

    // ---- round-16 behavioral-analytics aggregates under the ORACLE
    // gate: windowFunnel (default mode — the exists-a-chain law the
    // scan implements; the oracle SPELLS that law independently as
    // DuckDB 2-/3-way chain joins over exact epoch micros),
    // retention (cond1-anchored hit vector) and uniqUpTo (exact count
    // capped at N+1 — the documented law, not an approximation).
    // The events corpus has tie-free microsecond timestamps and the
    // conditions are disjoint event types, so no unpinned tie law is
    // load-bearing (ChWindowFunnel scaladoc).
    q("r93_window_funnel",
      """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |           FROM events),
        |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
        |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
        |l3 AS (SELECT DISTINCT v.user_id FROM v
        |       JOIN c ON c.user_id = v.user_id
        |         AND c.t >= v.t AND c.t <= v.t + 3600000000
        |       JOIN p ON p.user_id = v.user_id
        |         AND p.t >= c.t AND p.t <= v.t + 3600000000),
        |l2 AS (SELECT DISTINCT v.user_id FROM v
        |       JOIN c ON c.user_id = v.user_id
        |         AND c.t >= v.t AND c.t <= v.t + 3600000000),
        |smu AS (SELECT DISTINCT v.user_id FROM v
        |        JOIN c ON c.user_id = v.user_id AND c.t >= v.t
        |        JOIN p ON p.user_id = v.user_id AND p.t >= c.t),
        |smg AS (SELECT DISTINCT v.user_id FROM v
        |        JOIN c ON c.user_id = v.user_id
        |          AND c.t >= v.t AND c.t <= v.t + 600000000
        |        JOIN p ON p.user_id = v.user_id
        |          AND p.t >= c.t AND p.t <= c.t + 600000000),
        |vc AS (SELECT user_id, event_type AS et,
        |         row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
        |       FROM e WHERE event_type IN ('view', 'click')),
        |walk AS (
        |  SELECT user_id, 0 AS idx, 0 AS state, 0 AS cnt
        |  FROM (SELECT DISTINCT user_id FROM e)
        |  UNION ALL
        |  SELECT w.user_id, w.idx + 1,
        |    CASE WHEN x.et = 'view' AND w.state = 0 THEN 1
        |         WHEN x.et = 'click' AND w.state = 1 THEN 0
        |         ELSE w.state END,
        |    w.cnt + CASE WHEN x.et = 'click' AND w.state = 1
        |      THEN 1 ELSE 0 END
        |  FROM walk w JOIN vc x
        |    ON x.user_id = w.user_id AND x.rn = w.idx + 1),
        |scnt AS (SELECT user_id, arg_max(cnt, idx) AS sc
        |         FROM walk GROUP BY user_id),
        |agg AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp,
        |    least(count(DISTINCT event_type), 4) AS ut
        |  FROM e GROUP BY user_id)
        |SELECT a.user_id AS u,
        |  CAST(CASE
        |    WHEN a.user_id IN (SELECT user_id FROM l3) THEN 3
        |    WHEN a.user_id IN (SELECT user_id FROM l2) THEN 2
        |    WHEN a.hv = 1 THEN 1 ELSE 0 END AS BIGINT) AS lvl,
        |  CAST(a.hv AS BIGINT) AS r1,
        |  CAST(least(a.hv, a.hc) AS BIGINT) AS r2,
        |  CAST(least(a.hv, a.hp) AS BIGINT) AS r3,
        |  CAST(a.ut AS BIGINT) AS ut,
        |  CAST(CASE WHEN a.user_id IN (SELECT user_id FROM smu)
        |    THEN 1 ELSE 0 END AS BIGINT) AS smu,
        |  CAST(CASE WHEN a.user_id IN (SELECT user_id FROM smg)
        |    THEN 1 ELSE 0 END AS BIGINT) AS smg,
        |  CAST(sn.sc AS BIGINT) AS sc
        |FROM agg a JOIN scnt sn ON sn.user_id = a.user_id""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/root/repo/target/chstore_$tag"
      ensureStore(s, dir, Seq(("clickhouse.main.ev_funnel",
        Seq("user_id", "ts", "event_type"),
        () => s.table("events").select("user_id", "ts", "event_type")))) {
        s.sql(
          """CREATE TABLE clickhouse.main.ev_funnel
            |(user_id BIGINT, ts TIMESTAMP, event_type STRING)
            |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'user_id')""".stripMargin)
        s.sql("INSERT INTO clickhouse.main.ev_funnel " +
          "SELECT user_id, ts, event_type FROM events")
      }
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(root).catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `user_id` AS u,
          |  toInt64(windowFunnel(3600)(`ts`, `event_type` = 'view',
          |    `event_type` = 'click', `event_type` = 'purchase')) AS lvl,
          |  toInt64(retention(`event_type` = 'view',
          |    `event_type` = 'click', `event_type` = 'purchase')[1]) AS r1,
          |  toInt64(retention(`event_type` = 'view',
          |    `event_type` = 'click', `event_type` = 'purchase')[2]) AS r2,
          |  toInt64(retention(`event_type` = 'view',
          |    `event_type` = 'click', `event_type` = 'purchase')[3]) AS r3,
          |  toInt64(uniqUpTo(3)(`event_type`)) AS ut,
          |  toInt64(sequenceMatch('(?1)(?2)(?3)')(`ts`,
          |    `event_type` = 'view', `event_type` = 'click',
          |    `event_type` = 'purchase')) AS smu,
          |  toInt64(sequenceMatch('(?1)(?t<=600)(?2)(?t<=600)(?3)')(`ts`,
          |    `event_type` = 'view', `event_type` = 'click',
          |    `event_type` = 'purchase')) AS smg,
          |  sequenceCount('(?1)(?2)')(`ts`, `event_type` = 'view',
          |    `event_type` = 'click') AS sc
          |FROM `main`.`ev_funnel` GROUP BY `user_id`""".stripMargin)
    },

    // ---- round-17 behavioral strict modes + sequence gap forms under
    // the ORACLE gate. Each windowFunnel strict mode gets its own
    // independently-spelled recursive-CTE state machine (the join
    // conditions and stop laws CHANGE per mode — that independence is
    // what makes the gate meaningful); the new sequenceMatch forms
    // (lower-bound gap, equality gap, '.' any-event step, mixed
    // lower+upper chains) get all-pairs chain joins, exact by
    // enumeration. strict_increase and the equality gap run on an
    // HOUR-granularity integral timestamp — coarse on purpose, ties
    // are the thing those laws discriminate on (426 same-hour pairs in
    // the sf0.01 corpus); the micros columns stay tie-free so no
    // unpinned tie law is load-bearing there.
    q("r96_funnel_strict",
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) AS t, epoch_us(ts)//3600000000 AS th,
        |         event_type AS et,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        |  FROM events),
        |users AS (SELECT DISTINCT user_id FROM e),
        |wso AS (
        |  SELECT user_id, 0 AS idx, CAST(NULL AS BIGINT) AS s1,
        |         CAST(NULL AS BIGINT) AS s2, 0 AS lvl, false AS stopped
        |  FROM users
        |  UNION ALL
        |  SELECT w.user_id, w.idx + 1,
        |    CASE WHEN w.stopped THEN w.s1
        |         WHEN x.et = 'view' THEN x.t ELSE w.s1 END,
        |    CASE WHEN w.stopped THEN w.s2
        |         WHEN x.et = 'click' AND w.s1 IS NOT NULL
        |              AND x.t - w.s1 <= 3600000000 THEN w.s1 ELSE w.s2 END,
        |    CASE WHEN w.stopped THEN w.lvl
        |         WHEN x.et = 'view' THEN greatest(w.lvl, 1)
        |         WHEN x.et = 'click' AND w.s1 IS NOT NULL
        |              AND x.t - w.s1 <= 3600000000 THEN greatest(w.lvl, 2)
        |         WHEN x.et = 'purchase' AND w.s2 IS NOT NULL
        |              AND x.t - w.s2 <= 3600000000 THEN 3
        |         ELSE w.lvl END,
        |    CASE WHEN w.stopped THEN true
        |         WHEN x.et NOT IN ('view','click','purchase')
        |              AND w.s1 IS NOT NULL THEN true
        |         WHEN x.et = 'purchase' AND w.s1 IS NOT NULL
        |              AND w.s2 IS NULL THEN true
        |         WHEN x.et = 'purchase' AND w.s2 IS NOT NULL
        |              AND x.t - w.s2 <= 3600000000 THEN true
        |         ELSE false END
        |  FROM wso w JOIN e x ON x.user_id = w.user_id AND x.rn = w.idx + 1),
        |soa AS (SELECT user_id, arg_max(lvl, idx) AS so FROM wso GROUP BY user_id),
        |e3 AS (SELECT user_id, t, et,
        |         row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn
        |       FROM e WHERE et IN ('view','click','purchase')),
        |users3 AS (SELECT DISTINCT user_id FROM e3),
        |wsd AS (
        |  SELECT user_id, 0 AS idx, CAST(NULL AS BIGINT) AS s1,
        |         CAST(NULL AS BIGINT) AS s2, 0 AS lvl, CAST(NULL AS INT) AS res
        |  FROM users3
        |  UNION ALL
        |  SELECT w.user_id, w.idx + 1,
        |    CASE WHEN w.res IS NOT NULL THEN w.s1
        |         WHEN x.et = 'view' THEN x.t ELSE w.s1 END,
        |    CASE WHEN w.res IS NOT NULL THEN w.s2
        |         WHEN x.et = 'click' AND w.s2 IS NULL AND w.s1 IS NOT NULL
        |              AND x.t - w.s1 <= 3600000000 THEN w.s1 ELSE w.s2 END,
        |    CASE WHEN w.res IS NOT NULL THEN w.lvl
        |         WHEN x.et = 'view' THEN greatest(w.lvl, 1)
        |         WHEN x.et = 'click' AND w.s2 IS NULL AND w.s1 IS NOT NULL
        |              AND x.t - w.s1 <= 3600000000 THEN greatest(w.lvl, 2)
        |         WHEN x.et = 'purchase' AND w.s2 IS NOT NULL
        |              AND x.t - w.s2 <= 3600000000 THEN 3
        |         ELSE w.lvl END,
        |    CASE WHEN w.res IS NOT NULL THEN w.res
        |         WHEN x.et = 'click' AND w.s2 IS NOT NULL THEN 2
        |         WHEN x.et = 'purchase' AND w.s2 IS NOT NULL
        |              AND x.t - w.s2 <= 3600000000 THEN 3
        |         ELSE NULL END
        |  FROM wsd w JOIN e3 x ON x.user_id = w.user_id AND x.rn = w.idx + 1),
        |sda AS (SELECT user_id, coalesce(max(res), arg_max(lvl, idx)) AS sd
        |        FROM wsd GROUP BY user_id),
        |e3h AS (SELECT user_id, th, et,
        |          row_number() OVER (PARTITION BY user_id ORDER BY th,
        |            CASE et WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END,
        |            t) AS rn
        |        FROM e WHERE et IN ('view','click','purchase')),
        |wsi AS (
        |  SELECT user_id, 0 AS idx, CAST(NULL AS BIGINT) AS s1,
        |         CAST(NULL AS BIGINT) AS l1, CAST(NULL AS BIGINT) AS s2,
        |         CAST(NULL AS BIGINT) AS l2, 0 AS lvl
        |  FROM users3
        |  UNION ALL
        |  SELECT w.user_id, w.idx + 1,
        |    CASE WHEN x.et = 'view' THEN x.th ELSE w.s1 END,
        |    CASE WHEN x.et = 'view' THEN x.th ELSE w.l1 END,
        |    CASE WHEN x.et = 'click' AND w.s1 IS NOT NULL
        |              AND x.th - w.s1 <= 24 AND w.l1 < x.th THEN w.s1
        |         ELSE w.s2 END,
        |    CASE WHEN x.et = 'click' AND w.s1 IS NOT NULL
        |              AND x.th - w.s1 <= 24 AND w.l1 < x.th THEN x.th
        |         ELSE w.l2 END,
        |    CASE WHEN x.et = 'view' THEN greatest(w.lvl, 1)
        |         WHEN x.et = 'click' AND w.s1 IS NOT NULL
        |              AND x.th - w.s1 <= 24 AND w.l1 < x.th THEN greatest(w.lvl, 2)
        |         WHEN x.et = 'purchase' AND w.s2 IS NOT NULL
        |              AND x.th - w.s2 <= 24 AND w.l2 < x.th THEN 3
        |         ELSE w.lvl END
        |  FROM wsi w JOIN e3h x ON x.user_id = w.user_id AND x.rn = w.idx + 1),
        |sia AS (SELECT user_id, arg_max(lvl, idx) AS si FROM wsi GROUP BY user_id),
        |v AS (SELECT user_id, t, th FROM e WHERE et = 'view'),
        |c AS (SELECT user_id, t, th FROM e WHERE et = 'click'),
        |p AS (SELECT user_id, t FROM e WHERE et = 'purchase'),
        |smix AS (SELECT DISTINCT v.user_id FROM v
        |  JOIN c ON c.user_id = v.user_id AND c.t - v.t > 259200000000
        |  JOIN p ON p.user_id = v.user_id AND p.t >= c.t
        |    AND p.t - c.t <= 86400000000),
        |seqh AS (SELECT DISTINCT v.user_id FROM v
        |  JOIN c ON c.user_id = v.user_id AND c.th - v.th = 1),
        |sdot AS (SELECT DISTINCT v.user_id FROM v
        |  JOIN e x ON x.user_id = v.user_id AND x.t > v.t
        |    AND x.t - v.t <= 7200000000
        |  JOIN p ON p.user_id = v.user_id AND p.t > x.t)
        |SELECT u.user_id AS u,
        |  CAST(soa.so AS BIGINT) AS so,
        |  CAST(sda.sd AS BIGINT) AS sd,
        |  CAST(sia.si AS BIGINT) AS si,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM smix)
        |    THEN 1 ELSE 0 END AS BIGINT) AS smix,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM seqh)
        |    THEN 1 ELSE 0 END AS BIGINT) AS seqh,
        |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM sdot)
        |    THEN 1 ELSE 0 END AS BIGINT) AS sdot
        |FROM users u
        |LEFT JOIN soa ON soa.user_id = u.user_id
        |LEFT JOIN sda ON sda.user_id = u.user_id
        |LEFT JOIN sia ON sia.user_id = u.user_id""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val root = s"/root/repo/target/chstore_$tag"
      ensureStore(s, dir, Seq(("clickhouse.main.ev_funnel",
        Seq("user_id", "ts", "event_type"),
        () => s.table("events").select("user_id", "ts", "event_type")))) {
        s.sql(
          """CREATE TABLE clickhouse.main.ev_funnel
            |(user_id BIGINT, ts TIMESTAMP, event_type STRING)
            |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'user_id')""".stripMargin)
        s.sql("INSERT INTO clickhouse.main.ev_funnel " +
          "SELECT user_id, ts, event_type FROM events")
      }
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(root).catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `user_id` AS u,
          |  toInt64(windowFunnel(3600, 'strict_order')(`ts`,
          |    `event_type` = 'view', `event_type` = 'click',
          |    `event_type` = 'purchase')) AS so,
          |  toInt64(windowFunnel(3600, 'strict_dedup')(`ts`,
          |    `event_type` = 'view', `event_type` = 'click',
          |    `event_type` = 'purchase')) AS sd,
          |  toInt64(windowFunnel(24, 'strict_increase')(
          |    intDiv(toUnixTimestamp(`ts`), 3600),
          |    `event_type` = 'view', `event_type` = 'click',
          |    `event_type` = 'purchase')) AS si,
          |  toInt64(sequenceMatch('(?1)(?t>259200)(?2)(?t<=86400)(?3)')(
          |    `ts`, `event_type` = 'view', `event_type` = 'click',
          |    `event_type` = 'purchase')) AS smix,
          |  toInt64(sequenceMatch('(?1)(?t==1)(?2)')(
          |    intDiv(toUnixTimestamp(`ts`), 3600),
          |    `event_type` = 'view', `event_type` = 'click')) AS seqh,
          |  toInt64(sequenceMatch('(?1)(?t<=7200).(?2)')(`ts`,
          |    `event_type` = 'view', `event_type` = 'purchase')) AS sdot
          |FROM `main`.`ev_funnel` GROUP BY `user_id`""".stripMargin)
    },

    // ---- round-16 map aggregates under the ORACLE gate: sumMap /
    // minMap / maxMap per-key folds, rendered as comma-joined sorted
    // key and value lists (exact integer cents — no float sums). The
    // oracle recomputes the folds with DuckDB's own GROUP BY + ordered
    // list aggregation.
    q("r94_map_aggs",
      """WITH b AS (SELECT o_orderkey % 50 AS g, o_orderstatus AS st,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |           FROM orders),
        |pk AS (SELECT g, st, sum(c) AS s, min(c) AS mn, max(c) AS mx,
        |         CAST(((sum((c * 37) % 2000000000) % 4294967296
        |           + 4294967296 + 2147483648) % 4294967296)
        |           - 2147483648 AS BIGINT) AS swr
        |       FROM b GROUP BY g, st)
        |SELECT g,
        |  array_to_string(list(st ORDER BY st), ',') AS sk,
        |  array_to_string(list(CAST(s AS VARCHAR) ORDER BY st), ',') AS sv,
        |  array_to_string(list(CAST(mn AS VARCHAR) ORDER BY st), ',') AS mnv,
        |  array_to_string(list(CAST(mx AS VARCHAR) ORDER BY st), ',') AS mxv,
        |  array_to_string(list(CAST(swr AS VARCHAR) ORDER BY st), ',') AS sov
        |FROM pk GROUP BY g""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      ensureOrdBase(s, dir)
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      // sov (round 17): sumMapWithOverflow wraps at the Int32 element
      // width — the oracle builds the wrap by construction (mod
      // arithmetic over DuckDB's exact HUGEINT sum); (c*37) % 2e9 makes
      // every (g, st) group overflow Int32 at every SF
      ch.chSql(
        """SELECT `k` % 50 AS g,
          |  arrayStringConcat(tupleElement(
          |    sumMap([`status`], [`cents`]), 1), ',') AS sk,
          |  arrayStringConcat(arrayMap(x -> toString(x), tupleElement(
          |    sumMap([`status`], [`cents`]), 2)), ',') AS sv,
          |  arrayStringConcat(arrayMap(x -> toString(x), tupleElement(
          |    minMap([`status`], [`cents`]), 2)), ',') AS mnv,
          |  arrayStringConcat(arrayMap(x -> toString(x), tupleElement(
          |    maxMap([`status`], [`cents`]), 2)), ',') AS mxv,
          |  arrayStringConcat(arrayMap(x -> toString(x), tupleElement(
          |    sumMapWithOverflow([`status`],
          |      [toInt32((`cents` * 37) % 2000000000)]), 2)), ',') AS sov
          |FROM `main`.`ord_ttl_base` GROUP BY `k` % 50""".stripMargin)
    },

    // ---- round-16 array scans under the ORACLE gate: arrayDifference
    // (first element 0 then adjacent diffs), arrayCumSum (prefix sums),
    // arrayCumSumNonNegative (the clamped scan f_i = max(0, f_{i-1} +
    // x_i)) over per-row constructed integer arrays with sign mix. The
    // oracle recomputes each with DuckDB's index comprehensions — the
    // clamped scan via a 0-seeded list_reduce per prefix (the prepended
    // 0 makes the first fold application apply the clamp, matching the
    // law's f_0 = 0 seed).
    q("r95_array_scans",
      """WITH b AS (SELECT o_orderkey AS k,
        |  [o_orderkey % 7, CAST(round(o_totalprice * 100) AS BIGINT) % 5
        |     - 2, o_orderkey % 11 - 5, CAST(round(o_totalprice * 100)
        |     AS BIGINT) % 13] AS l
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT k,
        |  array_to_string([CAST(CASE WHEN i = 1 THEN 0
        |    ELSE l[i] - l[i - 1] END AS VARCHAR)
        |    for i in generate_series(1, len(l))], ',') AS ad,
        |  array_to_string([CAST(CAST(list_sum(l[1:i]) AS BIGINT)
        |    AS VARCHAR) for i in generate_series(1, len(l))], ',') AS cs,
        |  array_to_string([CAST(CAST(list_reduce(list_prepend(0, l[1:i]),
        |    (acc, x) -> greatest(acc + x, 0)) AS BIGINT) AS VARCHAR)
        |    for i in generate_series(1, len(l))], ',') AS cn
        |FROM b""".stripMargin) { (s, dir) =>
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      ensureOrdBase(s, dir)
      val ch = graft.session.ClickHouseSession.builder(s)
        .storePath(s"/root/repo/target/chstore_$tag")
        .catalogName("clickhouse").build()
      ch.chSql(
        """SELECT `k` AS k,
          |  arrayStringConcat(arrayMap(x -> toString(x),
          |    arrayDifference(`l`)), ',') AS ad,
          |  arrayStringConcat(arrayMap(x -> toString(x),
          |    arrayCumSum(`l`)), ',') AS cs,
          |  arrayStringConcat(arrayMap(x -> toString(x),
          |    arrayCumSumNonNegative(`l`)), ',') AS cn
          |FROM (
          |  SELECT `k`, [`k` % 7, `cents` % 5 - 2, `k` % 11 - 5,
          |    `cents` % 13] AS l
          |  FROM `main`.`ord_ttl_base` WHERE `k` % 97 = 0
          |)""".stripMargin)
    }
  )
}
