package graft.connector

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{NamedReference, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.client.ClickHouseClient
import graft.sql.{ChSql, ChV2Exprs}

/** DSv2 table over a remote ClickHouse table (the Spark analog of the
  * reference's `SqlTable` provider + `ClickHouseDataSink`,
  * /root/reference/src/sql.rs:62-100 and src/sink.rs).
  *
  * Read path: Catalyst drives column pruning / filter pushdown / limit
  * pushdown into [[ChScanBuilder]]; the scan unparses to ClickHouse SQL
  * (`SELECT cols FROM db.t WHERE ... LIMIT n`) and executes remotely,
  * result streams becoming input partitions.
  *
  * Write path: append-only ([[ChWriteBuilder]]); overwrite is rejected
  * exactly like the reference (table.rs:144-152). Each write task streams
  * bounded batches to the store as it consumes its partition (the
  * reference's buffer_unordered(write_concurrency) pattern, sink.rs:
  * 129-208); commit() only aggregates counts, so no row ever crosses the
  * driver.
  */
class ClickHouseTable(
    client: ClickHouseClient,
    db: String,
    table: String,
    tableSchema: StructType,
    readStreams: Int,
    writeConcurrency: Int = 4,
    writeBatchSize: Int = 10000,
    coerceSchemas: Boolean = true,
    readDefaults: Map[String, String] = Map.empty,
    writeDistribute: Boolean = true,
    writeSortOnInsert: Boolean = false)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = s"$db.$table"

  // exposed for the INSERT-SELECT server-side rewrite (pushdown rule):
  // the rule needs the write side's transport identity to prove the
  // statement never has to leave the store
  def chClient: ClickHouseClient = client
  def chDb: String = db
  def chTable: String = table

  /** `DELETE FROM` support, the same honored-or-rejected way as scan
    * pushdown: a predicate is deletable iff it compiles to ClickHouse SQL
    * (the exactness probe); anything else fails the statement instead of
    * deleting the wrong rows. An empty predicate list (unconditional
    * DELETE / TRUNCATE TABLE) deletes every row — ClickHouse itself has
    * TRUNCATE; only write-path OVERWRITE stays rejected (reference
    * parity, table.rs:144-152).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => ChSql.compileFilter(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val where =
      if (filters.isEmpty) "1"
      else filters.flatMap(f => ChSql.compileFilter(f)).mkString(" AND ")
    client.deleteWhere(db, table, where)
  }
  override def schema(): StructType = tableSchema

  /** Engine options as table properties — DESCRIBE EXTENDED / SHOW
    * TBLPROPERTIES surface. Fetched ON CALL (this method only runs for
    * metadata commands), never at loadTable — a scan plans without it.
    */
  override def properties(): util.Map[String, String] =
    try client.fetchTableOptions(db, table).asJava
    catch { case _: Exception => java.util.Collections.emptyMap() }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // catalog-level read defaults (e.g. read.split_by) under per-read
    // .option() overrides
    val merged = new java.util.HashMap[String, String]()
    readDefaults.foreach { case (k, v) => merged.put(k, v) }
    options.asScala.foreach { case (k, v) => merged.put(k, v) }
    new ChScanBuilder(client, db, table, tableSchema, readStreams, coerceSchemas,
      scanOptions = new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ChWriteBuilder(client, db, table, info.schema(), writeConcurrency,
      writeBatchSize, info.queryId(), distribute = writeDistribute,
      sortOnInsert = writeSortOnInsert)
}

object ClickHouseTable {
  private[connector] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[ClickHouseTable])

  /** Above this many values a runtime IN-list ships as its bounding range
    * instead (the cap real engines apply to IN pushdown — giant literal
    * lists cost more to parse remotely than they save, and SQL size must
    * stay bounded no matter how large the build side is).
    */
  val RuntimeFilterMaxInValues = 1000

  /** ORDER-BY-head memo for the split_by scale warning: keyed by client
    * IDENTITY (clients are per-catalog) + table, so the system.tables
    * round-trip happens once per JVM per table instead of on every scan
    * planning. Staleness is fine — this only gates a log warning.
    */
  private val orderHeadMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), String]()
  private[connector] def orderByHead(
      client: graft.client.ClickHouseClient, db: String, table: String): String =
    orderHeadMemo.computeIfAbsent(
      (System.identityHashCode(client), s"$db.$table"),
      _ => try client.fetchTableOptions(db, table).getOrElse("order_by", "")
        .split(",")(0).trim
      catch { case _: Exception => "" })
}

/** Pushdown-capable scan builder (mirrors sql.rs:215-239): filters are
  * pushed iff they compile to ClickHouse SQL ("exactness probe");
  * projection prunes the remote select list; limit / ORDER BY+LIMIT
  * (top-k) / whole GROUP BY aggregations land in the SQL. Aggregate
  * pushdown is COMPLETE (not partial): the store holds the entire
  * table, so its aggregate result is final — at 100 TB this ships
  * one row per group instead of every raw row.
  */
class ChScanBuilder(
    client: ClickHouseClient,
    db: String,
    table: String,
    fullSchema: StructType,
    readStreams: Int,
    coerceSchemas: Boolean = true,
    scanOptions: CaseInsensitiveStringMap =
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownOffset
  with SupportsPushDownAggregates
  with SupportsPushDownTableSample {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var compiled: Seq[String] = Seq.empty
  private var hadResidual = false
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var orderBy: Seq[String] = Seq.empty
  private var sample: Option[(Double, Double)] = None // (fraction, offset frac)
  // (groupBy column fields, aggregate (sql, field) pairs)
  private var agg: Option[(Seq[StructField], Seq[(String, StructField)])] = None

  /** TABLESAMPLE / df.sample pushed as ClickHouse `SAMPLE f OFFSET o` —
    * the storage-level sampling clause (public SELECT doc §SAMPLE):
    * sampling happens IN the store on its declared sampling key, so a
    * 1% probe of a 100 TB table reads ~1% of the data instead of
    * shipping everything for Spark to discard. Honored-or-rejected: only
    * the shape the clause can express is pushed (Bernoulli fraction,
    * no replacement, lower bound 0) and only on tables that DECLARED a
    * `sampling` key; everything else stays a local Sample node. The
    * seed maps to `OFFSET` (seed mod 1e6 / 1e6), so REPEATABLE(seed)
    * keeps its promise: deterministic, seed-dependent row ranges.
    */
  override def pushTableSample(
      lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement || lowerBound != 0.0 || upperBound <= 0.0 ||
      upperBound >= 1.0) false
    else if (!client.fetchTableOptions(db, table).contains("sampling")) false
    else {
      sample = Some((upperBound,
        java.lang.Long.remainderUnsigned(seed, 1000000L).toDouble / 1000000.0))
      true
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(f => ChSql.compileFilter(f).isDefined)
    pushed = ok
    compiled = ok.toSeq.flatMap(ChSql.compileFilter)
    hadResidual = residual.nonEmpty
    residual // Spark re-applies only these locally; pushed ones are Exact
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(l: Int): Boolean = {
    // only safe to push when all filters were pushed too (otherwise the
    // remote LIMIT truncates before the residual local filter runs)
    if (!hadResidual && limit.isEmpty) { limit = Some(l); true }
    else false
  }

  /** OFFSET composes with pushed LIMIT / top-k: the remote engine skips
    * `offset` rows before applying the limit — `LIMIT n OFFSET m` means
    * the same thing in both dialects. Same residual guard as LIMIT.
    */
  override def pushOffset(o: Int): Boolean = {
    // a sharded client would skip `o` rows PER SHARD (s*o total) and
    // Spark removes the local offset once pushed — never push there
    if (!hadResidual && offset.isEmpty && client.singleExecutionDomain) {
      offset = Some(o); true
    } else false
  }

  /** ORDER BY + LIMIT pushed as remote top-k; exact (isPartiallyPushed
    * = false) because the store sorts its full table. Sort columns may
    * reference any table column, or — after aggregate pushdown — any
    * produced output column (both are valid ORDER BY targets remotely).
    */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    val scope = agg.fold(fullSchema)(a => outputSchema)
    val compiledOrders = orders.toSeq.map(ChV2Exprs.compileSortOrder(_, scope))
    if (hadResidual || limit.isDefined || compiledOrders.exists(_.isEmpty)) false
    else {
      orderBy = compiledOrders.flatten
      limit = Some(l)
      true
    }
  }

  /** Exact for one store (it sorts/limits its whole table). A sharded
    * client returns each shard's local top-k/limit — a superset upper
    * bound — so Spark must keep its own sort+limit above the union.
    */
  override def isPartiallyPushed: Boolean = !client.singleExecutionDomain

  /** One store evaluates the whole aggregate remotely (complete
    * pushdown: one row per group crosses the wire, Spark plans no
    * aggregate at all). A sharded client must NOT claim completeness —
    * per-shard aggregation is a partial result — so this returns false
    * there and Spark downgrades to partial-aggregate pushdown: the scan
    * still ships `GROUP BY` per shard (merge-safe min/max/sum/count
    * only, Spark enforces), one row per group PER SHARD crosses, and
    * Spark's final aggregate merges them — the initiator-side merge of a
    * Distributed query, expressed in the DSv2 contract.
    *
    * EXCEPTION, and the 100 TB payoff of declaring `shard_by`: when the
    * GROUP BY contains the routing column, every group lives wholly on
    * one shard (equal routing values co-reside; NULLs all ride shard 0),
    * so the union of per-shard COMPLETE aggregates IS the whole result —
    * ClickHouse's `optimize_distributed_group_by_sharding_key`. This
    * also re-enables non-merge-safe aggregates (AVG & friends) that the
    * partial form cannot ship.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    def shardKeyGrouped = client.shardRoutingColumn.exists { k =>
      aggregation.groupByExpressions.toSeq
        .flatMap(ChV2Exprs.columnRef(_, fullSchema))
        .exists(f => f.name == k &&
          graft.client.ShardedClickHouseClient.placementStable(f.dataType))
    }
    (client.singleExecutionDomain || shardKeyGrouped) &&
      compileAggregation(aggregation).isDefined
  }

  override def pushAggregation(aggregation: Aggregation): Boolean =
    compileAggregation(aggregation) match {
      case Some(a) if !hadResidual && limit.isEmpty => agg = Some(a); true
      case _ => false
    }

  private def compileAggregation(
      aggregation: Aggregation): Option[(Seq[StructField], Seq[(String, StructField)])] = {
    val groups = aggregation.groupByExpressions.toSeq
      .map(ChV2Exprs.columnRef(_, fullSchema))
    val aggs = aggregation.aggregateExpressions.toSeq
      .map(ChV2Exprs.compileAggregate(_, fullSchema))
    if (groups.exists(_.isEmpty) || aggs.exists(_.isEmpty) || aggs.isEmpty) None
    else Some((groups.flatten, aggs.flatten))
  }

  /** Scan output: group columns then uniquely-named aggregate columns
    * (Spark maps them positionally; the names also become the remote
    * select-list aliases so collapsed subqueries can reference them).
    */
  private def outputSchema: StructType = agg match {
    case Some((groups, aggs)) =>
      StructType(groups ++ aggs.zipWithIndex.map { case ((_, f), i) =>
        f.copy(name = s"agg$i")
      })
    case None => required
  }

  override def build(): Scan = {
    val select = agg match {
      case Some((groups, aggs)) =>
        groups.map(g => ChSql.quoteIdent(g.name) -> g.name) ++
          aggs.zipWithIndex.map { case ((sql, _), i) => sql -> s"agg$i" }
      case None => required.fieldNames.toSeq.map(n => ChSql.quoteIdent(n) -> n)
    }
    val groupBy = agg.fold(Seq.empty[String])(_._1.map(g => ChSql.quoteIdent(g.name)))
    // FINAL (`final=true` read option): dedup-on-read for Replacing-family
    // engines — `FROM t FINAL` collapses rows sharing the table's ORDER BY
    // key to the surviving version BEFORE filters/aggregates apply, the
    // mutable-dimension read (upserts modeled as inserts, resolved at
    // read). Honored-or-rejected: only engines with replace semantics
    // accept it, and SAMPLE cannot combine (the embedded model can't
    // express FINAL+SAMPLE; rejecting beats silently dropping either).
    val finalRead = Option(scanOptions.get("final")).exists(_.toBoolean)
    if (finalRead) {
      val engine = client.fetchTableOptions(db, table).getOrElse("engine", "")
      require(Seq("ReplacingMergeTree", "SummingMergeTree",
        "AggregatingMergeTree", "VersionedCollapsingMergeTree",
        "CollapsingMergeTree").exists(engine.startsWith),
        s"final=true requires a merge-collapsing engine (Replacing/" +
          s"Summing/Aggregating/[Versioned]Collapsing MergeTree), " +
          s"$db.$table is '$engine' (FINAL has no effect on append-only " +
          "engines — rejected rather than silently inert)")
      require(sample.isEmpty,
        "final=true cannot combine with a pushed TABLESAMPLE")
      require(client.finalReadExact(db, table),
        s"final=true on $db.$table is not exact through this transport: a " +
          "sharded read runs FINAL per shard, which only collapses versions " +
          "correctly when the routing key (shard_by) equals the table's " +
          "ORDER BY head — align them or read without FINAL (the same " +
          "caveat ClickHouse documents for FINAL over Distributed tables)")
    }
    new ChScan(client, db, table, select, compiled, groupBy, orderBy, limit,
      outputSchema, readStreams, aggregated = agg.isDefined,
      coerceSchemas = coerceSchemas, offset = offset,
      fullSchema = fullSchema, scanOptions = scanOptions, sample = sample,
      finalMod = finalRead)
  }
}

/** Remote scan: assembles the ClickHouse SQL from its pushed-down parts.
  * `select` is (expression SQL, output alias) per column — empty for the
  * COUNT(*) empty projection. Runtime filters (join-key IN-lists from
  * dynamic pruning, [[SupportsRuntimeV2Filtering]]) arrive after planning
  * and narrow the remote read: inside the WHERE for a plain scan, or
  * wrapped OUTSIDE any GROUP BY / ORDER BY / LIMIT so pushed aggregate and
  * top-k semantics are unchanged (a runtime filter inside a LIMIT would
  * change which rows are the top-k).
  */
class ChScan(
    client: ClickHouseClient,
    db: String,
    table: String,
    select: Seq[(String, String)],
    where: Seq[String],
    groupBy: Seq[String],
    orderBy: Seq[String],
    limit: Option[Int],
    out: StructType,
    readStreams: Int,
    aggregated: Boolean = false,
    coerceSchemas: Boolean = true,
    offset: Option[Int] = None,
    fullSchema: StructType = StructType(Nil),
    scanOptions: CaseInsensitiveStringMap =
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
    sample: Option[(Double, Double)] = None,
    finalMod: Boolean = false)
  extends Scan with Batch with SupportsRuntimeV2Filtering
  with SupportsReportStatistics with SupportsReportPartitioning {

  @volatile private var runtimeWhere: Seq[String] = Seq.empty

  /** Read-side observability: `chRowsRead` sums the rows each executor
    * task streamed off the wire — the read mirror of the write path's
    * `chRowsInserted`, surfaced in the Spark UI per scan node. At scale
    * this is how you see which shard/range/bucket streams carry the
    * data (task-level values) without a debugger on an executor.
    */
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ChRowsReadMetric)

  /** Bucketed read (`bucket_by` + `buckets` read options): validated
    * spec, or None when the scan shape can't key its streams by bucket
    * (pushed agg/top-k/limit/sample reshape or drop rows positionally —
    * only a plain projected-filtered scan routes whole rows). Option
    * errors are loud: half-set pairs, unknown columns, or combining with
    * `split_by` fail here rather than silently degrading (the transport
    * itself rejects inside planInputPartitions if it can't bucket).
    */
  private def bucketSpec: Option[(String, Int)] = {
    val by = Option(scanOptions.get("bucket_by"))
    val n = Option(scanOptions.get("buckets")).map(_.toInt)
    (by, n) match {
      case (None, None) => None
      case (Some(_), None) => throw new IllegalArgumentException(
        "bucket_by requires buckets = <numBuckets>")
      case (None, Some(_)) => throw new IllegalArgumentException(
        "buckets requires bucket_by = <column>")
      case (Some(c), Some(k)) =>
        require(k > 0, s"buckets must be positive, got $k")
        // bucket_by outranks split_by (a catalog-level read.split_by
        // default must not veto an explicit bucketed read): both are
        // read-routing hints and bucketing is strictly more structured —
        // planInputPartitions consults bucketSpec first
        require(fullSchema.fieldNames.contains(c),
          s"bucket_by column '$c' not in ${fullSchema.fieldNames.mkString(", ")}")
        if (!aggregated && limit.isEmpty && offset.isEmpty &&
          orderBy.isEmpty && sample.isEmpty && select.exists(_._2 == c))
          Some((c, k))
        else None
    }
  }

  /** Storage-partitioned-join surface: a bucketed read reports
    * `KeyGroupedPartitioning(bucket(n, col))` — two such scans bucketed
    * the same way on their join keys co-partition, and Spark plans the
    * join with ZERO shuffle (the bucket function identity lives in
    * [[graft.catalog.ChBucketFunction]], resolved through the catalog's
    * FunctionCatalog surface). Needs
    * spark.sql.sources.v2.bucketing.enabled=true on the session.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketSpec match {
      case Some((c, n)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Shape-aware size estimate so join placement (broadcast vs shuffle)
    * sees real remote sizes: base = the store's on-disk table size; a
    * pushed LIMIT caps at limit × row width; a pushed aggregate (and the
    * COUNT(*) empty projection) shrinks two orders — grouped results are
    * orders-of-magnitude smaller than their input, but NOT guaranteed
    * tiny, so floor 8 KiB / cap 1 MiB. Unknown table size → empty and
    * Spark falls back to defaultSizeInBytes (never broadcast blindly).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes: java.util.OptionalLong =
      client.tableSizeBytes(db, table) match {
        case None => java.util.OptionalLong.empty()
        case Some(base) =>
          val shaped =
            if (aggregated || out.isEmpty)
              math.min(1L << 20, math.max(8L << 10, base / 100))
            else {
              val rowWidth =
                math.max(1L, out.fields.map(_.dataType.defaultSize.toLong).sum)
              // a pushed SAMPLE reads ~fraction of the table
              val sampled = sample.fold(base) { case (f, _) =>
                math.max(1L, (base * f).toLong)
              }
              limit.fold(sampled)(n => math.min(sampled, n.toLong * rowWidth))
            }
          java.util.OptionalLong.of(shaped)
      }
    /** Exact remote row count (system.parts metadata) for plain scans:
      * reported only when nothing row-shaping is pushed (no WHERE — we
      * cannot estimate selectivity — no aggregate, no FINAL); pushed
      * LIMIT/OFFSET/SAMPLE re-arithmetic the exact count (`limit`
      * carries DSv2's pre-skip n+offset). The probe is memoized per
      * scan, so repeated stats calls cost one metadata round-trip.
      */
    override def numRows: java.util.OptionalLong =
      if (aggregated || out.isEmpty || where.nonEmpty || runtimeWhere.nonEmpty ||
        finalMod) java.util.OptionalLong.empty()
      else remoteRowCount match {
        case None => java.util.OptionalLong.empty()
        case Some(rows) =>
          val sampled = sample.fold(rows) { case (f, _) =>
            math.max(1L, (rows * f).toLong) }
          val afterLimit = limit.fold(sampled)(n => math.min(sampled, n.toLong))
          java.util.OptionalLong.of(
            math.max(0L, afterLimit - offset.getOrElse(0).toLong))
      }
  }

  @transient private lazy val remoteRowCount: Option[Long] =
    try client.tableRowCount(db, table) catch { case _: Exception => None }

  private def baseSql(extraWhere: Seq[String]): String = {
    val sel =
      if (select.isEmpty) "1"
      else select.map { case (e, a) =>
        if (e == ChSql.quoteIdent(a)) e else s"$e AS ${ChSql.quoteIdent(a)}"
      }.mkString(", ")
    val allWhere = where ++ extraWhere
    val b = new StringBuilder(s"SELECT $sel FROM ${ChSql.quoteTable(db, table)}")
    // FINAL directly follows the table; SAMPLE sits between it and WHERE
    if (finalMod) b.append(" FINAL")
    sample.foreach { case (f, o) =>
      def plain(d: Double): String =
        java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
      b.append(" SAMPLE ").append(plain(f))
      if (o != 0.0) b.append(" OFFSET ").append(plain(o))
    }
    if (allWhere.nonEmpty) b.append(" WHERE ").append(allWhere.mkString(" AND "))
    if (groupBy.nonEmpty) b.append(" GROUP BY ").append(groupBy.mkString(", "))
    if (orderBy.nonEmpty) b.append(" ORDER BY ").append(orderBy.mkString(", "))
    // DSv2 hands us limit = n + offset (limit counted BEFORE the skip);
    // SQL's OFFSET applies first, so the emitted LIMIT subtracts it
    limit.foreach(n => b.append(s" LIMIT ${n - offset.getOrElse(0)}"))
    offset.foreach(m => b.append(s" OFFSET $m"))
    b.toString
  }

  /** Exposed for subtree collapse (graft.pushdown): the scan's generated
    * remote SQL becomes the leaf FROM clause of a collapsed query.
    */
  def generatedSql: String =
    if (runtimeWhere.isEmpty) baseSql(Seq.empty)
    else if (groupBy.isEmpty && orderBy.isEmpty && limit.isEmpty && offset.isEmpty)
      baseSql(runtimeWhere)
    else s"SELECT * FROM (${baseSql(Seq.empty)}) AS __rf WHERE ${runtimeWhere.mkString(" AND ")}"

  def chClient: ClickHouseClient = client
  def chStreams: Int = readStreams
  def chCoerce: Boolean = coerceSchemas
  /** Configured range-split cursor (read.split_by), for subtree collapse. */
  def chSplitBy: Option[String] = Option(scanOptions.get("split_by"))

  override def filterAttributes(): Array[NamedReference] =
    out.fieldNames.map(org.apache.spark.sql.graft.bridge.namedRef)

  override def filter(predicates: Array[Predicate]): Unit =
    // output aliases = output field names, so predicates compile against
    // `out` verbatim; non-compilable ones are skipped (Spark still applies
    // the actual join — runtime filters only reduce rows shipped). IN-lists
    // above the cap degrade to their bounding range: O(1) SQL size.
    runtimeWhere = predicates.toSeq.flatMap(
      ChV2Exprs.compilePredicate(_, out, ClickHouseTable.RuntimeFilterMaxInValues))

  override def readSchema(): StructType = out
  override def description(): String = s"ClickHouseScan[$generatedSql]"
  override def toBatch: Batch = this

  /** Incremental read: `readStream.table("clickhouse.db.t")` tails the
    * table by a monotonic integral cursor column (reader options:
    * `stream_cursor` required, `stream_max_per_batch` / `stream_start`
    * optional). Pushed projection and filters carry into every
    * micro-batch's remote range query.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!aggregated && limit.isEmpty && offset.isEmpty && orderBy.isEmpty,
      "streaming read supports projection/filter scans only")
    require(!finalMod,
      "streaming read cannot combine with final=true: FINAL re-resolves " +
        "versions per query, so cursor-range micro-batches would not " +
        "compose deterministically")
    val cursor = Option(scanOptions.get("stream_cursor")).getOrElse(
      throw new IllegalArgumentException(
        "streaming read requires reader option stream_cursor = " +
          "<monotonically increasing integral column>"))
    val cursorField = fullSchema.fields.find(_.name == cursor).getOrElse(
      throw new IllegalArgumentException(
        s"stream_cursor column '$cursor' not in ${fullSchema.fieldNames.mkString(", ")}"))
    cursorField.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case t => throw new IllegalArgumentException(
        s"stream_cursor column '$cursor' must be integral, got ${t.simpleString}")
    }
    val maxPerBatch = Option(scanOptions.get("stream_max_per_batch")).map(_.toLong)
    val start = Option(scanOptions.get("stream_start"))
      .map(_.toLong).getOrElse(Long.MinValue)
    new ChMicroBatchStream(client, db, table, select, where, out, readStreams,
      cursor, maxPerBatch, start)
  }

  // One remote plan per (scan instance, generated SQL): AQE clones the
  // enclosing BatchScanExec across stage re-optimizations and every clone
  // re-calls planInputPartitions on the SAME Scan — each re-call re-ran
  // the remote query (for the embedded transport: a full spill job).
  // r18 (GateProfile r68: repeated spill-write/read job pairs per probe):
  // memoize KEYED ON THE GENERATED SQL, because runtime filters arrive
  // late through filter() and mutate generatedSql — a changed SQL MUST
  // re-plan (the r15 runtime-filter contract; an unconditional cache
  // would silently serve the unfiltered stream).
  @transient private var plannedForSql: String = _
  @transient private var plannedPartitions: Array[InputPartition] = _

  override def planInputPartitions(): Array[InputPartition] = synchronized {
    val sql = generatedSql
    if (plannedPartitions == null || plannedForSql != sql) {
      plannedPartitions = planPartitionsFor(sql)
      plannedForSql = sql
    }
    plannedPartitions
  }

  private def planPartitionsFor(sql: String): Array[InputPartition] = {
    // Plan-time work is METADATA ONLY: the client initiates the remote
    // query and hands back one cheap handle per stream — rows are pulled
    // executor-side by the reader factory (sql.rs:304-369 semantics).
    // A non-aggregated scan of an arbitrarily large remote table never
    // touches driver memory.
    // range-split read: a plain scan (no agg/limit/order, split column in
    // the projection) splits into disjoint covering ranges when the
    // transport supports it — one huge remote scan parallelizes across
    // executors with predictable slices instead of one fat stream
    val splitBy = Option(scanOptions.get("split_by")).filter(c =>
      !aggregated && limit.isEmpty && offset.isEmpty && orderBy.isEmpty &&
        select.exists(_._2 == c))
    // scale guard: on a replica-set transport an integral split cursor
    // becomes an ORDERED resumable slice — that rides the server's
    // read-in-order path ONLY when the cursor is the table's ORDER BY
    // head; any other cursor makes every slice a server-side SORT of its
    // whole range, which silently dominates an hour-long 100 TB scan
    splitBy.filter(_ => client.resumableRanges).foreach { c =>
      // only integral cursors are upgraded to ordered resumable slices
      val integral = out.fields.find(_.name == c).map(_.dataType).exists {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      val head = ClickHouseTable.orderByHead(client, db, table)
      if (integral && head.nonEmpty && head != c)
        ClickHouseTable.log.warn(
          s"split_by='$c' is not the ORDER BY head ('$head') of $db.$table: " +
            "resumable ordered slices will sort server-side instead of " +
            "riding read-in-order — prefer the sorting key as the cursor")
    }
    bucketSpec match {
      case Some((c, n)) =>
        // bucket-keyed read: handle i = bucket i, reported to Spark via
        // HasPartitionKey so storage-partitioned joins line partitions up
        val (resultSchema, handles) = client.planQueryBuckets(sql, c, n)
          .getOrElse(throw new IllegalArgumentException(
            s"this transport cannot bucket reads (bucket_by=$c); " +
              "bucketed reads need a transport that keys streams by bucket"))
        require(handles.length == n,
          s"transport returned ${handles.length} buckets, expected $n")
        if (out.nonEmpty) {
          require(resultSchema.length == out.length,
            s"remote result arity ${resultSchema.length} != expected ${out.length} for $sql")
        }
        handles.zipWithIndex.map { case (h, i) =>
          ChBucketInputPartition(h, i): InputPartition
        }.toArray
      case None =>
        val (resultSchema, handles) = splitBy match {
          case Some(c) => client.planQueryRanges(sql, c, readStreams)
          case None => client.planQuery(sql, readStreams)
        }
        if (out.nonEmpty) {
          require(resultSchema.length == out.length,
            s"remote result arity ${resultSchema.length} != expected ${out.length} for $sql")
        }
        handles.map(h => ChInputPartition(h): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChReaderFactory(client, out)
}

final case class ChInputPartition(handle: graft.client.ChPartitionHandle)
  extends InputPartition

/** A bucket-keyed input partition: `partitionKey` carries the bucket id
  * in the shape of the reported `bucket(n, col)` transform's result
  * (one INT), which is how Spark matches partitions across the two sides
  * of a storage-partitioned join.
  */
final case class ChBucketInputPartition(
    handle: graft.client.ChPartitionHandle,
    bucketId: Int)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
}

object ChReaderFactory {
  /** Both partition shapes (plain and bucket-keyed) carry the same kind
    * of transport handle; readers are shape-agnostic.
    */
  def handleOf(partition: InputPartition): graft.client.ChPartitionHandle =
    partition match {
      case ChInputPartition(h) => h
      case ChBucketInputPartition(h, _) => h
      case other => throw new IllegalArgumentException(
        s"not a ClickHouse partition: ${other.getClass.getName}")
    }

  def rowsReadMetric(v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = "chRowsRead"
    override def value(): Long = v
  }
}

/** Executor-side reader: pulls the handle's stream incrementally in
  * INTERNAL format (no external-row detour — the transport decodes
  * straight to InternalRow). For the empty projection (COUNT(*), remote
  * SQL `SELECT 1 FROM t`, sql.rs:259-276) only the row COUNT matters —
  * each pulled row becomes an empty InternalRow.
  */
class ChReaderFactory(client: ClickHouseClient, schema: StructType)
  extends PartitionReaderFactory {

  /** Vectorized boundary: every supported-schema scan reads ColumnarBatch
    * blocks (one virtual call per ~4K rows + codegen ColumnarToRow above)
    * instead of per-row next()/get(). Empty projections (COUNT(*)) and
    * nested types keep the row path.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    ColumnarPack.supports(schema)

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val handle = ChReaderFactory.handleOf(partition)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var itOpt: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = _
      private def it = {
        if (itOpt == null) itOpt = client.readPartitionColumnar(handle, schema)
        itOpt
      }
      private var current: org.apache.spark.sql.vectorized.ColumnarBatch = _
      private var rowsRead = 0L
      override def next(): Boolean =
        if (!it.hasNext) false
        else { current = it.next(); rowsRead += current.numRows(); true }
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = current
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(ChReaderFactory.rowsReadMetric(rowsRead))
      override def close(): Unit = itOpt match {
        case c: AutoCloseable => c.close()
        case _ => ()
      }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val handle = ChReaderFactory.handleOf(partition)
    new PartitionReader[InternalRow] {
      private var itOpt: Iterator[InternalRow] = _
      private def it: Iterator[InternalRow] = {
        if (itOpt == null) itOpt = client.readPartitionInternal(handle, schema)
        itOpt
      }
      private var current: InternalRow = _
      private var rowsRead = 0L
      override def next(): Boolean = {
        if (!it.hasNext) false
        else {
          val r = it.next()
          current = if (schema.isEmpty) InternalRow.empty else r
          rowsRead += 1
          true
        }
      }
      override def get(): InternalRow = current
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(ChReaderFactory.rowsReadMetric(rowsRead))
      override def close(): Unit = itOpt match {
        case c: AutoCloseable => c.close()
        case _ => ()
      }
    }
  }
}

/** Spark-UI metric: rows streamed off the wire by remote scans (the read
  * mirror of `chRowsInserted`).
  */
class ChRowsReadMetric extends CustomSumMetric {
  override def name(): String = "chRowsRead"
  override def description(): String = "rows read from ClickHouse"
}

/** Append-only write path. No SupportsTruncate/SupportsOverwrite →
  * Spark rejects overwrite at analysis, matching the reference's
  * NotImplemented for InsertOp::Overwrite.
  */
class ChWriteBuilder(
    client: ClickHouseClient,
    db: String,
    table: String,
    inputSchema: StructType,
    writeConcurrency: Int,
    batchSize: Int,
    queryId: String = "batch",
    distribute: Boolean = true,
    sortOnInsert: Boolean = false)
  extends WriteBuilder {

  override def build(): Write = new Write
    with RequiresDistributionAndOrdering {

    /** Layout-aware ingest: rows arrive at write tasks CLUSTERED by the
      * table's `partition_by` columns. Per the server's storage model
      * each (insert block × touched partition) becomes a part —
      * unaligned inserts into a partitioned 100 TB table fan every task
      * across every partition ("too many parts" is the canonical
      * ClickHouse ingest failure); clustering makes parts-per-insert
      * O(partitions), not O(tasks × partitions), and costs nothing on
      * unpartitioned tables (no requirement at all). `write.distribute
      * = false` opts out.
      *
      * Pre-sorting by `order_by` is OPT-IN (`write.sort_on_insert`):
      * the server sorts every arriving block by the table key
      * regardless (MergeTree insert contract), so the client-side sort
      * only shifts that work — measured 2.4× slower client ingest at
      * the 5M-row envelope (c16_b10000: 0.73M vs 1.76M rows/s) for a
      * server-side saving this envelope cannot see. The reference's
      * sink streams blocks unsorted too (sink.rs buffer_unordered).
      * Only plain column names participate (expression keys like
      * toYYYYMM(d) stay server-side).
      */
    private lazy val layout: (Seq[String], Seq[String]) = {
      if (!distribute) (Nil, Nil)
      else {
        val opts = try client.fetchTableOptions(db, table)
          catch { case _: Exception => Map.empty[String, String] }
        def cols(key: String): Seq[String] =
          opts.get(key).toSeq.flatMap(_.split(",")).map(_.trim)
            .filter(c => inputSchema.fieldNames.contains(c))
        (cols("partition_by"), if (sortOnInsert) cols("order_by") else Nil)
      }
    }

    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution = {
      val cluster = layout._1
      if (cluster.isEmpty)
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      else
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          cluster.map(c => org.apache.spark.sql.connector.expressions.Expressions
            .identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
    }

    // clustering is an optimization, not a correctness requirement: let
    // Spark skip the exchange when its cost model says so (e.g. tiny
    // single-partition inserts)
    override def distributionStrictlyRequired(): Boolean = false

    override def requiredOrdering(): Array[V2SortOrder] =
      layout._2.map { c =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
      }.toArray

    override def toBatch: BatchWrite =
      new ChBatchWrite(client, db, table, inputSchema, writeConcurrency, batchSize)

    // continuous ingest without foreachBatch: writeStream.toTable lands
    // micro-batches through the same staged protocol, exactly-once per
    // epoch (SURVEY §2.10's "expose the sink as a StreamingWrite").
    // Fail at sink CREATION, not at the first epoch commit: a sharded
    // target without a routing declaration cannot replay exactly-once
    // (see ShardedClickHouseClient.commitEpochStaged)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(client.singleExecutionDomain || client.shardRoutingColumn.isDefined,
        s"streaming writes into sharded table $db.$table require the " +
          "catalog to declare shard_by (round-robin placement is not " +
          "replay-deterministic, so exactly-once cannot be kept)")
      new ChStreamingWrite(client, db, table, inputSchema, writeConcurrency,
        batchSize, queryId)
    }

    // the reference returns the inserted count as a one-row result batch
    // (examples/99:295-304); Spark DML returns no rows, so the count
    // surfaces as a write metric instead (SURVEY §2.1) — visible in the
    // SQL UI and to QueryExecutionListeners
    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new ChRowsInsertedMetric)
  }
}

/** Epoch-aware streaming sink over the staged-insert protocol. Spark may
  * REPLAY an epoch after a failure (including a crash MID-COMMIT): the
  * client's converging commitEpochStaged lands the tasks' staged parts
  * tagged with the epoch's marker, invisible until the marker exists. A
  * marked epoch drops a replay's parts; an unmarked one wipes the parts
  * of the crashed attempt and lands the replay's, so no crash point
  * loses or duplicates rows.
  */
class ChStreamingWrite(
    client: ClickHouseClient,
    db: String,
    table: String,
    schema: StructType,
    writeConcurrency: Int,
    batchSize: Int,
    queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val factory =
    new ChDataWriterFactory(client, db, table, schema, writeConcurrency, batchSize)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new ChStreamingDataWriterFactory(factory)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    client.commitEpochStaged(db, table, s"$queryId-$epochId",
      messages.toSeq.collect { case ChStagedCommit(id, _) => id })
    ChMutations.drainMvRefresh(org.apache.spark.sql.SparkSession.active)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ChStagedCommit(stagingId, _) => client.abortStaged(db, table, stagingId)
      case _ => ()
    }
}

class ChStreamingDataWriterFactory(factory: ChDataWriterFactory)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    factory.createWriterWithId(
      s"epoch-$epochId-task-$partitionId-$taskId-${java.util.UUID.randomUUID.toString.take(8)}")
}

/** Sum-aggregated "rows inserted" metric reported by every write task. */
class ChRowsInsertedMetric extends CustomSumMetric {
  override def name(): String = ChRowsInsertedMetric.Name
  override def description(): String = "number of rows inserted"
}

object ChRowsInsertedMetric { val Name = "chRowsInserted" }

class ChBatchWrite(
    client: ClickHouseClient,
    db: String,
    table: String,
    inputSchema: StructType,
    writeConcurrency: Int,
    batchSize: Int)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ChDataWriterFactory(client, db, table, inputSchema, writeConcurrency, batchSize)

  // Exactly-once: tasks STAGE their part files under task-attempt-scoped
  // staging ids; only the attempts Spark committed reach this message
  // array, and publishing is per-part atomic renames. A speculative or
  // retried attempt's parts are never published (its own abort — or a
  // stale staging dir — never becomes visible). Only metadata (staging
  // ids + counts) crosses the driver.
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case ChStagedCommit(stagingId, _) => client.commitStaged(db, table, stagingId)
      case _ => ()
    }
    // SQL-visible insert count (reference parity — see ChInsertCount)
    ChInsertCount.record(client.connectionKey, db, table,
      messages.collect { case ChStagedCommit(_, rows) => rows }.sum)
    // commits may have fired materialized views into OTHER tables —
    // refresh their cached plans (Spark only invalidates THIS table)
    ChMutations.drainMvRefresh(org.apache.spark.sql.SparkSession.active)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ChStagedCommit(stagingId, _) => client.abortStaged(db, table, stagingId)
      case _ => ()
    }
}

final case class ChStagedCommit(stagingId: String, rows: Long)
  extends WriterCommitMessage

/** Streams bounded batches to the store from INSIDE each write task —
  * the reference's `buffer_unordered(write_concurrency)` pattern
  * (sink.rs:129-208, default 4, connection.rs:47) at per-partition
  * granularity: up to `writeConcurrency` inserts in flight per task,
  * `batchSize` rows each (the reference's insert-bench default batch,
  * examples/10_large_scale.rs:28). Memory per task is O(batchSize ×
  * concurrency), independent of partition size — at 100 TB the previous
  * collect-to-driver-commit shape is a guaranteed OOM.
  */
class ChDataWriterFactory(
    client: ClickHouseClient,
    db: String,
    table: String,
    schema: StructType,
    writeConcurrency: Int,
    batchSize: Int) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    // task-ATTEMPT-scoped: retries/speculation get fresh ids, so an
    // abandoned attempt's staged parts can never be published
    createWriterWithId(
      s"task-$partitionId-$taskId-${java.util.UUID.randomUUID.toString.take(8)}")

  private[connector] def createWriterWithId(id: String): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val stagingId = id
      private val toRow =
        ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      private val buf = new scala.collection.mutable.ArrayBuffer[Row](batchSize)
      private val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, writeConcurrency))
      private val inFlight =
        new scala.collection.mutable.Queue[java.util.concurrent.Future[Long]]
      private var written = 0L
      // rows accepted into the writer: Spark polls currentMetricsValues
      // during the write loop (before commit drains the async inserts),
      // so the metric tracks acceptance; a failed task's updates are
      // discarded with the task, keeping the published metric exact
      private var accepted = 0L

      override def write(record: InternalRow): Unit = {
        buf += toRow(record.copy())
        accepted += 1
        if (buf.length >= batchSize) flush()
      }

      private def flush(): Unit = if (buf.nonEmpty) {
        val rows = buf.toVector
        buf.clear()
        // bound the in-flight window: block on the oldest insert before
        // admitting a new one (buffer_unordered semantics)
        while (inFlight.length >= math.max(1, writeConcurrency))
          written += inFlight.dequeue().get()
        inFlight.enqueue(pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            client.stageInsert(db, table, schema, rows, stagingId)
        }))
      }

      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(new CustomTaskMetric {
          override def name(): String = ChRowsInsertedMetric.Name
          override def value(): Long = accepted
        })

      override def commit(): WriterCommitMessage = {
        flush()
        while (inFlight.nonEmpty) written += inFlight.dequeue().get()
        ChStagedCommit(stagingId, written)
      }

      override def abort(): Unit = {
        pool.shutdownNow()
        // drop this attempt's already-staged parts (previously they were
        // left behind: a retried task silently duplicated rows)
        try client.abortStaged(db, table, stagingId)
        catch { case _: Exception => () }
      }
      override def close(): Unit = pool.shutdown()
    }
}
