package connbench

import scala.util.Random

/** One statement of an op, written once with `{table}` placeholders and
  * rendered two ways: through the connector's `clickhouse` catalog (what is
  * measured) and over local parquet views of the same inputs (the expected
  * result, run untimed and without the connector).
  */
final case class Query(shape: String, template: String, localTemplate: Option[String] = None) {
  def remote: String = Query.render(template, t => s"clickhouse.main.$t")
  def local: String = Query.render(localTemplate.getOrElse(template), t => s"local_$t")
}

object Query {
  private val Placeholder = raw"\{(\w+)\}".r
  def render(sql: String, table: String => String): String =
    Placeholder.replaceAllIn(sql, m => table(m.group(1)))
}

/** The adhoc and scan op generators. Op order is drawn in rounds: each
  * round is a seeded permutation of every shape, so every run holds the
  * same mix and a percentile always falls in the same shape's range.
  */
object Workloads {

  val Names: Seq[String] = Seq("adhoc", "scan", "ingest")

  /** The corpus each workload reads: adhoc and ingest the small one, scan
    * the bulk one.
    */
  def corpus(workload: String): (String, Corpus.Sizes) = workload match {
    case "scan" => ("large", Corpus.Large)
    case _ => ("small", Corpus.Small)
  }

  val IngestBatches = 16
  val IngestBatchRows = 2000L

  /** Untimed whole rounds of ops before the window. The JVM keeps
    * compiling an op's code for its first 10-15 s of running: on a 4-core
    * box the first scan and ingest ops ran 1.5-2x slower than later ones.
    */
  val WarmupSeconds = 8

  /** Shapes whose operators above the scan the pushdown rule may collapse
    * into one remote statement (a `ClickHouseRemoteExec`).
    */
  val CollapseCandidates: Set[String] =
    Set("join_collapse", "passthrough", "window")

  /** Nine shapes: five selective ones (0.2-0.45 s) and four heavier ones
    * (0.5-1.1 s).
    */
  val AdhocShapes: Seq[String] = Seq("point_lookup", "filter_project", "scan_agg", "top_n",
    "federated_join", "join_collapse", "passthrough", "window", "like")

  val SelectiveShapes: Seq[String] =
    Seq("point_lookup", "filter_project", "top_n", "passthrough", "like")

  /** An adhoc round: every shape once and the selective ones once more (14
    * ops), as interactive use is mostly small lookups. The median op then
    * falls mid-way through the selective cluster. With each shape once it
    * sat at the cluster's top edge, next to the gap to the heavy shapes,
    * and moved by 30% between runs of 18 and 27 ops.
    */
  val AdhocRound: Seq[String] = AdhocShapes ++ SelectiveShapes

  def adhoc(shape: String, r: Random, sizes: Corpus.Sizes): Query = shape match {
    case "point_lookup" =>
      val k = 1 + r.nextInt(sizes.orders.toInt - 5)
      Query(shape,
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
           |FROM {orders} WHERE o_orderkey IN ($k, ${k + 2}, ${k + 5})""".stripMargin)
    case "filter_project" =>
      val a = 1 + r.nextInt(19960)
      val f = Seq("A", "N", "R")(r.nextInt(3))
      Query(shape,
        s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM {lineitem}
           |WHERE l_partkey BETWEEN $a AND ${a + 40} AND l_returnflag = '$f'""".stripMargin)
    case "scan_agg" =>
      val s = 1 + r.nextInt(1000)
      Query(shape,
        s"""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
           |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
           |FROM {lineitem} WHERE l_suppkey = $s
           |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    case "top_n" =>
      val st = Seq("F", "O", "P")(r.nextInt(3))
      val k = 10 + r.nextInt(91)
      Query(shape,
        s"""SELECT o_orderkey, o_totalprice FROM {orders} WHERE o_orderstatus = '$st'
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT $k""".stripMargin)
    case "federated_join" =>
      // orders stays remote, customer is a local parquet view: the
      // broadcast build side becomes a runtime IN-list on the remote scan
      val seg = Corpus.Segments(r.nextInt(Corpus.Segments.size))
      val n = r.nextInt(25)
      val tmpl = (orders: String) =>
        s"""SELECT /*+ BROADCAST(c) */ c.c_nationkey, count(*) AS n, sum(o.o_totalprice) AS rev
           |FROM $orders o JOIN local_customer c ON o.o_custkey = c.c_custkey
           |WHERE c.c_mktsegment = '$seg' AND c.c_nationkey = $n
           |GROUP BY c.c_nationkey""".stripMargin
      Query(shape, tmpl("{orders}"), Some(tmpl("local_orders")))
    case "join_collapse" =>
      val x = -999 + r.nextInt(10000)
      Query(shape,
        s"""SELECT n.n_name, count(*) AS n_cust, sum(c.c_acctbal) AS bal
           |FROM {customer} c JOIN {nation} n ON c.c_nationkey = n.n_nationkey
           |WHERE c.c_acctbal > $x GROUP BY n.n_name""".stripMargin)
    case "passthrough" =>
      val a = 1 + r.nextInt(sizes.customer.toInt - 300)
      val where = s"FROM {customer} WHERE c_custkey BETWEEN $a AND ${a + 300}"
      Query(shape,
        s"""SELECT c_custkey, clickhouse(upper(c_name), 'String') AS uname,
           |  clickhouse(length(c_name), 'Int32') AS nlen $where""".stripMargin,
        Some(s"SELECT c_custkey, upper(c_name) AS uname, length(c_name) AS nlen $where"))
    case "window" =>
      val a = 1 + r.nextInt(sizes.customer.toInt - 40)
      Query(shape,
        s"""SELECT o_orderkey, o_custkey, row_number() OVER (PARTITION BY o_custkey
           |  ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |FROM {orders} WHERE o_custkey BETWEEN $a AND ${a + 40}""".stripMargin)
    case "like" =>
      val w1 = Corpus.Words(r.nextInt(Corpus.Words.size))
      val w2 = Corpus.Words(r.nextInt(Corpus.Words.size))
      val src = r.nextInt(Corpus.Sources)
      Query(shape,
        s"""SELECT doc_id, lang, n_chars FROM {documents}
           |WHERE text LIKE '%$w1 $w2 %' AND source = 'src$src'""".stripMargin)
  }

  val ScanTables: Seq[String] = Seq("lineitem", "orders", "documents")

  def scan(table: String): Query = Query(s"scan_$table", s"SELECT * FROM {$table}")

  /** The two statements the ingest op reads after each insert: one over the
    * table just written, one over a table the write leaves untouched.
    */
  val IngestRead: Query = Query("ingest_read",
    "SELECT grp, count(*) AS n, sum(v) AS sv FROM {ingest} GROUP BY grp")

  def ingestSideRead(r: Random, sizes: Corpus.Sizes): Query = {
    val c = sizes.customer / 4 + r.nextInt(sizes.customer.toInt / 2)
    Query("side_read",
      s"""SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS rev
         |FROM {orders} WHERE o_custkey <= $c GROUP BY o_orderpriority""".stripMargin)
  }

  /** Endless op order: seeded permutations of `items`, one per round. */
  def rounds[A](items: Seq[A], r: Random): Iterator[A] =
    Iterator.continually(r.shuffle(items)).flatten
}
