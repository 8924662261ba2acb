package graft.client

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Transport abstraction over a ClickHouse server (mirrors the reference's
  * connection layer, /root/reference/src/connection.rs:216-296, whose
  * `mocks` feature swaps the wire for a unit type so the whole stack tests
  * hermetically — here the swap-in is [[EmbeddedClickHouse]]).
  *
  * A production implementation would speak the Native protocol and stream
  * columnar blocks per shard; everything above this trait (catalog, scan,
  * sink, pushdown, federation) is transport-agnostic.
  */
trait ClickHouseClient extends Serializable {

  /** Connection identity: two tables may collapse into one remote query
    * (join/federation pushdown) only if their clients share this key —
    * the analog of the reference's `JoinPushDown::AllowedFor(pool key)`
    * gating (src/sql.rs:47-59, :413-425).
    */
  def connectionKey: String

  /** True when executing a planned statement ONCE produces the whole
    * result. False for sharded/cluster transports, where every planned
    * statement runs once PER SHARD and the observable result is the
    * UNION of shard-local results — row-local operations (projection,
    * filter, per-row expressions) distribute over that union unchanged,
    * but whole-result operations (complete aggregates, joins, windows,
    * exact top-k, OFFSET) do NOT, so planners must either keep them
    * local, push them in a merge-safe partial form, or re-apply them
    * above the union. The scan builder and the subtree-collapse rule
    * both consult this flag (the same split ClickHouse itself makes
    * between shard-local and initiator-side execution for Distributed
    * tables).
    */
  def singleExecutionDomain: Boolean = true

  /** A token that changes whenever this store's visible data MAY have
    * changed; None when the transport cannot provide one. Plan-time
    * probe results (the GLOBAL dim materialization) may be memoized
    * ONLY under a token — staleness must be detectable, so wire
    * transports (a remote server can be mutated by other clients
    * invisibly) return None and simply re-probe every planning. The
    * embedded store's token is store-wide: a write to any table moves it,
    * even though its own views and statements refresh per table.
    */
  def dataVersionToken: Option[String] = None

  /** True when this transport upgrades integral range slices to ordered
    * MID-STREAM-RESUMABLE reads (replica sets): planners can warn when a
    * chosen cursor would make the per-slice ORDER BY a server-side sort
    * instead of riding read-in-order.
    */
  def resumableRanges: Boolean = false

  /** The declared row-placement key of a sharded transport, if any: every
    * write through this client routes rows by this column, so two rows
    * with EQUAL values in it (of the same type) reside on the same shard.
    * Planners may use that co-location guarantee to run key-aligned
    * whole-result operations shard-locally — a join whose equi-condition
    * includes this column on both sides, or a GROUP BY containing it,
    * distributes over the per-shard union (ClickHouse's co-located
    * Distributed JOIN / `optimize_distributed_group_by_sharding_key`
    * shape). None for single stores (no placement to exploit) and for
    * sharded clients without `shard_by` (round-robin placement promises
    * nothing). The guarantee covers data written THROUGH the catalog;
    * server-side `insertSelect` ETL preserves it only if the SELECT
    * carries the routing column through unchanged (documented contract,
    * same as ClickHouse's own sharding-key declaration).
    */
  def shardRoutingColumn: Option[String] = None

  /** True when a FINAL (dedup-on-read) scan of this table is exact:
    * always, for a single store; for a sharded transport only when the
    * routing key guarantees all versions of a given ORDER BY key land on
    * the same shard (per-shard FINAL is then globally correct — the same
    * caveat real ClickHouse Distributed tables carry).
    */
  def finalReadExact(db: String, table: String): Boolean = true

  def listDatabases(): Seq[String]
  def listTables(db: String): Seq[String]
  def tableExists(db: String, table: String): Boolean

  /** Remote schema fetch — schemas are authoritative server-side and never
    * inferred (connection.rs:247-264). Returns ClickHouse column types.
    */
  def fetchColumns(db: String, table: String): Seq[(String, String)]

  /** Engine/options metadata for a table (engine, order_by, ...). */
  def fetchTableOptions(db: String, table: String): Map[String, String]

  /** On-disk size of a table, if the transport can tell (ClickHouse:
    * system.parts sum; embedded: part-file sizes). Feeds scan statistics
    * so Spark's join placement sees real remote sizes instead of a guess.
    */
  def tableSizeBytes(db: String, table: String): Option[Long] = None

  /** Remote row count for planner statistics (system.parts sum(rows) /
    * part-footer metadata) — one metadata probe, never a data scan.
    * None when the transport cannot answer cheaply.
    */
  def tableRowCount(db: String, table: String): Option[Long] = None

  def createDatabase(db: String, ifNotExists: Boolean = true): Unit
  def dropDatabase(db: String): Unit

  /** CREATE TABLE with ClickHouse engine options (engine, order_by,
    * partition_by, ttl, settings — the option grammar of
    * src/utils/params.rs:22-69).
    */
  def createTable(
      db: String,
      table: String,
      columns: Seq[(String, String)],
      options: Map[String, String]): Unit

  def dropTable(db: String, table: String): Unit

  /** ALTER TABLE schema changes (`ALTER TABLE t ADD/DROP/RENAME/MODIFY
    * COLUMN`) applied atomically as ONE statement in declaration order.
    * A wire transport ships the DDL (the server's ADD/DROP/RENAME are
    * metadata-only — instant at any data size; MODIFY is a server
    * mutation); the embedded store rewrites its parts, which is what a
    * server MODIFY materialization does too. Honored-or-rejected:
    * unknown columns, duplicate adds, key-column drops, and
    * Nullable→non-Nullable narrowing over existing NULLs must error,
    * never corrupt.
    */
  def alterTable(db: String, table: String, ops: Seq[ChAlterOp]): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot ALTER TABLE $db.$table")

  /** RENAME TABLE (cross-database allowed, like the server's
    * `RENAME TABLE a.x TO b.y`). Fails if the target exists.
    */
  def renameTable(db: String, table: String, newDb: String, newTable: String): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot RENAME TABLE $db.$table")

  /** `OPTIMIZE TABLE ... FINAL DEDUPLICATE [BY (columns)]` — merge that
    * drops fully-duplicate rows (or rows duplicated on the listed
    * columns). The server keeps "any one" survivor per duplicate set;
    * the embedded engine keeps the lexicographically-smallest remaining
    * row — a reproducible instance of the same contract.
    */
  def optimizeDeduplicate(
      db: String, table: String, byColumns: Seq[String] = Seq.empty): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot OPTIMIZE DEDUPLICATE $db.$table")

  /** `TRUNCATE TABLE` — drop every row, keep the table (the server
    * removes the parts wholesale; metadata-speed, unlike a DELETE
    * mutation which rewrites them).
    */
  def truncateTable(db: String, table: String): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot TRUNCATE TABLE $db.$table")

  /** `EXCHANGE TABLES a AND b` — atomic name swap (the Atomic database
    * engine's blue/green primitive: stage a rebuilt table, then swap it
    * live in one step). Both tables must exist; NOT idempotent (a
    * second exchange swaps back), so callers never retry blindly.
    */
  def exchangeTables(db: String, a: String, db2: String, b: String): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot EXCHANGE TABLES $db.$a AND $db2.$b")

  /** `ALTER TABLE db.table DROP PARTITION <value>` — drop every row of
    * one partition (the data-lifecycle primitive at scale: expire a
    * day/month in one metadata-speed operation on a server).
    * `partitionValue` is a ClickHouse literal/tuple matched against the
    * table's declared partition_by expression. Requires a declared
    * partition_by — honored-or-rejected.
    */
  def dropPartition(db: String, table: String, partitionValue: String): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot DROP PARTITION on $db.$table")

  /** `ALTER TABLE db.table ATTACH PARTITION ... FROM srcDb.srcTable`
    * applied to EVERY partition of the source: clones the source's data
    * parts into the destination without reading rows — the server's
    * metadata-speed partition attach. Both tables must share columns
    * and key layout (order_by / partition_by), the server's same-
    * structure rule. ATTACH is not an INSERT: materialized views on the
    * destination do NOT fire (server semantics). The source keeps its
    * data (ATTACH FROM copies; it is MOVE/REPLACE that take it away).
    */
  def attachPartitionsFrom(
      db: String, table: String, srcDb: String, srcTable: String): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot ATTACH PARTITION FROM into $db.$table")

  /** `OPTIMIZE TABLE [FINAL]` — force a part merge. With `finalize` on a
    * ReplacingMergeTree(ver) table this MATERIALIZES the dedup that
    * FINAL reads compute on the fly (the server's documented use); on
    * other engines it is a plain consolidation. A wire transport ships
    * the statement; the embedded store rewrites its parts.
    */
  def optimizeTable(db: String, table: String, finalize: Boolean = false): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot OPTIMIZE TABLE $db.$table")

  /** `CREATE MATERIALIZED VIEW db.name TO targetDb.targetTable AS
    * chSelectSql` — an INSERT TRIGGER, the server's semantics exactly:
    * every block landing in the select's (single) source table is
    * transformed by the select and appended to the pre-existing target.
    * Aggregating selects therefore produce PARTIAL results per block —
    * readers re-aggregate over the target (the SummingMergeTree
    * pattern). The trigger is NOT transactional with the source insert
    * (server-documented): a crash between the two can leave the target
    * behind; it catches up on no schedule. Mutations/merges of the
    * source do NOT re-fire the view.
    *
    * `populate` backfills the target with one transform of the source's
    * EXISTING rows before the trigger arms — `CREATE MATERIALIZED VIEW
    * ... POPULATE` semantics. The server's documented POPULATE caveat
    * (rows inserted concurrently with the backfill are MISSED, never
    * double-counted) applies here in the same direction: backfill runs
    * strictly before trigger arming. Note the server itself rejects
    * POPULATE on TO-form views; this engine supports the composition
    * (backfill + TO target) as a documented extension — the wire
    * transport implements it as backfill INSERT SELECT then CREATE.
    */
  def createMaterializedView(db: String, name: String, targetDb: String,
      targetTable: String, chSelectSql: String,
      populate: Boolean = false): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot CREATE MATERIALIZED VIEW $db.$name")

  /** Materialized view names in `db` (the `TO`-form views this client
    * created; a wire transport asks system.tables).
    */
  def listMaterializedViews(db: String): Seq[String] = Seq.empty

  /** `DROP VIEW db.name` — removes the trigger; the target table and
    * its rows stay.
    */
  def dropMaterializedView(db: String, name: String): Unit =
    throw new UnsupportedOperationException(
      s"this transport cannot DROP VIEW $db.$name")

  /** Result schema of a ClickHouse-dialect SELECT without executing it
    * (the server's `DESCRIBE TABLE (SELECT ...)`; the embedded model
    * analyzes the translated statement). Backs the raw-SQL DataFrame
    * surface: a lazy frame needs its schema before any execution.
    */
  def describeQuery(chSql: String): StructType =
    throw new UnsupportedOperationException(
      s"this transport cannot DESCRIBE a query")

  /** Plan a ClickHouse-dialect SELECT: initiate the remote query and
    * return the result schema plus one cheap, serializable handle per
    * remote stream/shard. NO ROW may cross the driver here — handles are
    * metadata (shard cursors, file ranges), the analog of the reference's
    * per-stream `RecordBatchStream` setup (src/sql.rs:304-369,
    * src/stream.rs:21-28). Each handle becomes one Spark input partition.
    */
  def planQuery(sql: String, numStreams: Int): (StructType, Seq[ChPartitionHandle])

  /** Range-split variant of [[planQuery]]: when the transport can carve
    * ONE remote query into N disjoint covering slices of `splitColumn`
    * (integral), each handle reads only its slice — a single huge remote
    * scan then parallelizes across executors with predictable ranges
    * (SURVEY §4 "split by shard/ORDER BY ranges"). The default ignores
    * the column (the embedded store already fans results across spill
    * streams); wire transports override.
    */
  def planQueryRanges(
      sql: String,
      splitColumn: String,
      numStreams: Int): (StructType, Seq[ChPartitionHandle]) =
    planQuery(sql, numStreams)

  /** Bucket-keyed variant of [[planQuery]]: partition the result into
    * EXACTLY `numBuckets` handles where handle i holds precisely the rows
    * with `pmod(murmur3(bucketColumn, 42), numBuckets) = i` (the contract
    * [[graft.catalog.ChBoundBucket]] declares to Spark). Two scans
    * bucketed this way on their join keys are co-partitioned, so Spark's
    * storage-partitioned join runs with ZERO shuffle — the 100 TB
    * federated-join path. `None` = this transport cannot key its streams
    * by bucket (callers must reject the option, never silently degrade).
    */
  def planQueryBuckets(
      sql: String,
      bucketColumn: String,
      numBuckets: Int): Option[(StructType, Seq[ChPartitionHandle])] = None

  /** The hash family [[planQueryBuckets]] routes with — the identity of
    * the `bucket` transform this transport's scans report (see
    * [[graft.catalog.ChBucketFunction]]). None = no bucketed reads.
    * Transports with different families never co-partition with each
    * other (the same key would land in different buckets).
    */
  def bucketFamily: Option[String] = None

  /** Re-address another client's partition handle to THIS client, when
    * the transport can serve the same slice independently. A handle is
    * re-homeable only if it is a SELF-CONTAINED statement (the slice is a
    * pure function of the SQL it carries — HTTP handles qualify), not a
    * reference to transport-local state (embedded spill streams are bound
    * to the store that planned them). None = this client cannot serve the
    * slice; callers must fail loudly rather than guess. Powers mid-plan
    * replica failover (see FailoverClickHouseClient).
    */
  def rehome(handle: ChPartitionHandle): Option[ChPartitionHandle] = None

  /** Resumable-read hook 1/2: a copy of `handle` whose statement is
    * ordered by `column` ascending, NULLS FIRST — a deterministic replay
    * prefix, so a consumer that tracked the last fully-delivered cursor
    * group can resume the REMAINDER of the slice elsewhere (see
    * [[FailoverClickHouseClient]] mid-stream re-plan). Only transports
    * whose handles are self-contained statements can comply; None =
    * reads of this handle stay non-resumable (mid-stream death is loud).
    * On a real server the cursor is typically the table's ORDER BY head,
    * so the added sort rides the native read-in-order path.
    */
  def orderedSlice(
      handle: ChPartitionHandle, column: String): Option[ChPartitionHandle] = None

  /** Resumable-read hook 2/2: a copy of `handle` restricted to the rows
    * AFTER the last fully-delivered cursor group of an [[orderedSlice]]
    * read — `column > after` (integral literal) when after is Some, else
    * `column IS NOT NULL` (the NULL group, ordered first, was already
    * delivered whole) — keeping the same ordering. None = cannot resume.
    */
  def resumeSlice(
      handle: ChPartitionHandle,
      column: String,
      after: Option[Long]): Option[ChPartitionHandle] = None

  /** Open one stream EXECUTOR-SIDE and pull its rows incrementally (the
    * reference's `poll_next` loop, stream.rs:30-43). Must be callable from
    * any task thread after the client deserializes into the closure.
    */
  def readPartition(handle: ChPartitionHandle): Iterator[Row]

  /** Internal-format variant for the scan/exec hot path: a wire client
    * decodes blocks straight to InternalRow (no external-row detour).
    * Default adapts the external iterator; native transports override.
    */
  def readPartitionInternal(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(schema)
      .createSerializer()
    readPartition(handle).map(r => ser(r).copy())
  }

  /** Columnar read: decode one stream into reused ColumnarBatch blocks.
    * The default packs [[readPartitionInternal]] rows into OnHeap vectors
    * (graft.connector.ColumnarPack); a wire client speaking the Native
    * protocol overrides this to decode server blocks straight into
    * vectors — the Arrow-columnar transport of the reference
    * (connection.rs:163-178) — and never materializes rows at all.
    * Callers must gate on ColumnarPack.supports(schema).
    */
  def readPartitionColumnar(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
    graft.connector.ColumnarPack.iterator(readPartitionInternal(handle, schema), schema)

  /** Driver-side convenience (tests, one-row scalar folds): materializes
    * the whole result — never use on the scan/exec path.
    */
  final def query(sql: String, numStreams: Int): (StructType, Seq[Seq[Row]]) = {
    val (schema, handles) = planQuery(sql, numStreams)
    (schema, handles.map(h => readPartition(h).toSeq))
  }

  /** Delete the rows where `whereSql` (a ClickHouse boolean expression
    * over the table's columns) evaluates TRUE — NULL keeps the row, like
    * the server's `ALTER TABLE ... DELETE WHERE` mutation semantics. A
    * wire transport ships the mutation and waits for it; the embedded
    * store rewrites its parts (which is what a server mutation does too).
    */
  def deleteWhere(db: String, table: String, whereSql: String): Unit

  /** `ALTER TABLE ... UPDATE` mutation: set each assigned column to its
    * ClickHouse expression on the rows where `whereSql` evaluates TRUE
    * (NULL keeps the row unchanged, like [[deleteWhere]]). Assignments
    * are (column, ClickHouse expression) pairs evaluated against the
    * row's OLD values — server mutation semantics. The expression and
    * condition run where the data lives; no row crosses the wire.
    */
  def updateWhere(
      db: String, table: String,
      assignments: Seq[(String, String)], whereSql: String): Unit

  /** Append rows (INSERT ... FORMAT Native analog). Returns row count.
    * Immediately visible — direct-API use only; the DSv2 write path goes
    * through the staged protocol below for exactly-once semantics.
    */
  def insert(db: String, table: String, schema: StructType, rows: Seq[Row]): Long

  /** Server-side `INSERT INTO db.table <chSelectSql>`: the SELECT runs
    * where the data lives and lands directly in the target table — ZERO
    * rows cross the wire, the canonical store-internal ETL copy. A wire
    * client ships the statement verbatim; the embedded store executes
    * the translated SELECT and publishes the result through the staged-
    * insert protocol (atomic per part). Returns the inserted row count.
    */
  def insertSelect(db: String, table: String, chSelectSql: String): Long

  /** Stage rows under a task-scoped staging id WITHOUT publishing them.
    * A wire client maps this to insert dedup tokens or a temp table +
    * ATTACH; the embedded store lands part files in a staging directory.
    * Returns the row count staged.
    */
  def stageInsert(
      db: String, table: String, schema: StructType, rows: Seq[Row],
      stagingId: String): Long

  /** Publish everything staged under `stagingId` atomically-per-part.
    * Called from the DRIVER in BatchWrite.commit — only task attempts
    * Spark actually committed are published, so speculative/retried
    * attempts never duplicate rows.
    */
  def commitStaged(db: String, table: String, stagingId: String): Unit

  /** Discard everything staged under `stagingId` (task abort / job abort). */
  def abortStaged(db: String, table: String, stagingId: String): Unit

  /** Atomically record that a streaming epoch committed; returns false if
    * the marker already existed (a replayed epoch — the caller must drop
    * its re-staged parts instead of publishing). Transports without a
    * durable marker may return true (at-least-once), but the embedded
    * store and any real server (e.g. a keeper-backed insert token) give
    * exactly-once.
    */
  def tryMarkEpochCommitted(db: String, table: String, marker: String): Boolean = true

  /** Publish a streaming epoch's staged inserts exactly-once, CONVERGING
    * under replay: a crash anywhere inside a commit must leave a state a
    * replayed commit repairs — neither losing the epoch's rows nor
    * duplicating them. `staged` holds this attempt's staging ids; the
    * epoch marker is the dedup key across attempts. The default is the
    * naive marker-gated publish (exactly-once only if commit itself
    * never crashes mid-way); the embedded store overrides it with a
    * converging one (it wipes an unmarked attempt's parts, then lands
    * this attempt's with the marker).
    */
  def commitEpochStaged(
      db: String, table: String, epochMarker: String, staged: Seq[String]): Unit =
    if (tryMarkEpochCommitted(db, table, epochMarker))
      staged.foreach(commitStaged(db, table, _))
    else
      staged.foreach(abortStaged(db, table, _))
}

/** One ALTER TABLE schema change. Types are ClickHouse type strings
  * (`Nullable(Int64)`, `Decimal(20, 4)`, ...) — nullability rides the
  * type string, exactly as the server declares it.
  */
sealed trait ChAlterOp
object ChAlterOp {
  /** `position`: None = append (ClickHouse default), Some(None) = FIRST,
    * Some(Some(c)) = AFTER `c`.
    */
  final case class AddColumn(
      name: String, chType: String,
      position: Option[Option[String]] = None) extends ChAlterOp
  final case class DropColumn(name: String) extends ChAlterOp
  final case class RenameColumn(from: String, to: String) extends ChAlterOp
  final case class ModifyType(name: String, chType: String) extends ChAlterOp
  /** `ALTER TABLE ... MODIFY TTL expr` / `REMOVE TTL` (None). */
  final case class ModifyTtl(expr: Option[String]) extends ChAlterOp
  /** `ADD PROJECTION name (SELECT ... GROUP BY ...)` — recorded for NEW
    * parts; MATERIALIZE backfills existing ones (server semantics).
    */
  final case class AddProjection(name: String, select: String) extends ChAlterOp
  final case class DropProjection(name: String) extends ChAlterOp
  final case class MaterializeProjection(name: String) extends ChAlterOp
}

/** Opaque per-stream result handle; implementations carry whatever
  * metadata their transport needs (shard cursor id, spill file ranges).
  * Must be small and serializable — it ships inside task closures.
  */
trait ChPartitionHandle extends Serializable
