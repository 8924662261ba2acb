package graft.client

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** A ClickHouse CLUSTER as one [[ClickHouseClient]]: N shard transports
  * composed behind the single-store interface, the client-side analog of
  * a `Distributed` table (shard-local execution + initiator-side merge).
  * The reference connects to one endpoint (its pool holds connections to
  * a single `Destination`, /root/reference/src/connection.rs:107-118);
  * this composite is the 100 TB extension of that surface: a corpus that
  * outgrows one server reads and writes through the same catalog,
  * unchanged.
  *
  * Execution semantics (see [[ClickHouseClient.singleExecutionDomain]]):
  * every planned statement runs once PER SHARD and the observable result
  * is the union of shard-local results. That is exactly correct for
  * row-local work (scan/filter/projection/per-row expressions, mutations,
  * sampling) and for MERGE-SAFE partial aggregates (the scan builder
  * downgrades aggregate pushdown to partial mode so Spark's final
  * aggregate merges per-shard rows); whole-result operations (complete
  * aggregates, collapsed joins/windows, exact top-k, OFFSET) are kept in
  * Spark by the planners consulting the flag. LIMIT still pushes as a
  * per-shard upper bound (Spark re-applies the global limit).
  *
  * Writes route by `shardBy` — `floorMod(value.hashCode, n)` on the
  * routing column, a CLIENT-side placement hash (documented as such — no
  * server hash parity is claimed; bucket-keyed READS stay exact anyway
  * because [[planQueryBuckets]] unions every shard's slice of each
  * bucket, see ShardMultiHandle). Without `shardBy`, whole blocks
  * round-robin. DDL and mutations broadcast to every shard; schemas are
  * authoritative on shard 0 (DDL broadcast keeps them aligned). FINAL
  * reads are exact only when `shardBy` equals the table's ORDER BY head —
  * the same caveat ClickHouse documents for FINAL over Distributed
  * tables ([[finalReadExact]] enforces it; rejected, never silently
  * wrong).
  */
class ShardedClickHouseClient(
    val shards: IndexedSeq[ClickHouseClient],
    val shardBy: Option[String] = None)
  extends ClickHouseClient {

  require(shards.size >= 2, s"a sharded client needs >= 2 shards, got ${shards.size}")

  override def singleExecutionDomain: Boolean = false
  override def resumableRanges: Boolean = shards.exists(_.resumableRanges)

  /** `shard_by` IS the placement declaration: insert/stageInsert route by
    * it (see [[route]]), so equal same-typed values co-reside. */
  override def shardRoutingColumn: Option[String] = shardBy

  // shardBy is part of the identity: two catalogs over the SAME roots
  // with different routing columns place rows differently, so their
  // scans must never share a collapse domain (shard-key-local joins
  // would falsely co-locate them)
  override def connectionKey: String =
    s"sharded[${shards.map(_.connectionKey).mkString("|")};by=${shardBy.getOrElse("-")}]"

  // change-detectable only when EVERY shard is (one wire shard can be
  // mutated invisibly → the whole set re-probes)
  override def dataVersionToken: Option[String] = {
    val toks = shards.map(_.dataVersionToken)
    if (toks.forall(_.isDefined)) Some(toks.flatten.mkString("|")) else None
  }

  // ---- metadata: shard 0 is authoritative (DDL broadcasts keep shards
  // aligned; a drifted shard fails loudly at scan time via the wire
  // header/name checks, never silently) ----

  override def listDatabases(): Seq[String] = shards.head.listDatabases()
  override def listTables(db: String): Seq[String] = shards.head.listTables(db)
  override def tableExists(db: String, table: String): Boolean =
    shards.head.tableExists(db, table)
  override def fetchColumns(db: String, table: String): Seq[(String, String)] =
    shards.head.fetchColumns(db, table)
  override def fetchTableOptions(db: String, table: String): Map[String, String] =
    shards.head.fetchTableOptions(db, table)
  override def tableSizeBytes(db: String, table: String): Option[Long] = {
    val sizes = shards.map(_.tableSizeBytes(db, table))
    if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
  }

  override def tableRowCount(db: String, table: String): Option[Long] = {
    val counts = shards.map(_.tableRowCount(db, table))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  override def finalReadExact(db: String, table: String): Boolean =
    shardBy.exists { key =>
      fetchTableOptions(db, table).get("order_by")
        .exists(_.split(",").headOption.map(_.trim.stripPrefix("`").stripSuffix("`"))
          .contains(key))
    }

  // ---- DDL: broadcast ----

  override def createDatabase(db: String, ifNotExists: Boolean = true): Unit =
    shards.foreach(_.createDatabase(db, ifNotExists))
  override def dropDatabase(db: String): Unit = shards.foreach(_.dropDatabase(db))
  override def createTable(
      db: String, table: String,
      columns: Seq[(String, String)], options: Map[String, String]): Unit =
    shards.foreach(_.createTable(db, table, columns, options))
  override def dropTable(db: String, table: String): Unit =
    shards.foreach(_.dropTable(db, table))
  override def alterTable(db: String, table: String, ops: Seq[ChAlterOp]): Unit = {
    // the guard lives HERE, not only in the catalog: every entry point
    // (fluent session API included) must be unable to rename/retype/drop
    // the routing column — doing so re-routes every future insert away
    // from existing rows, silently breaking shard-key-local collapse
    shardBy.foreach { key =>
      val touches = ops.exists {
        case ChAlterOp.DropColumn(n) => n == key
        case ChAlterOp.RenameColumn(a, _) => a == key
        case ChAlterOp.ModifyType(n, _) => n == key
        case _ => false
      }
      require(!touches,
        s"ALTER TABLE $db.$table: column '$key' is the catalog's shard_by " +
          "routing key — altering it would re-route future inserts away " +
          "from existing rows")
    }
    shards.foreach(_.alterTable(db, table, ops))
  }
  override def renameTable(
      db: String, table: String, newDb: String, newTable: String): Unit =
    shards.foreach(_.renameTable(db, table, newDb, newTable))
  // DDL broadcast: each shard runs its own local insert trigger, so MV
  // target rows land on the SAME shard as their source block (the
  // ON-CLUSTER local-views pattern); reads of the target union per shard
  // and re-aggregate, which merges the per-shard partials for free
  override def createMaterializedView(db: String, name: String,
      targetDb: String, targetTable: String, chSelectSql: String,
      populate: Boolean): Unit =
    // POPULATE backfills per shard from the shard's LOCAL slice — the
    // same locality as the trigger itself (target rows land with their
    // source shard; reads union and re-aggregate)
    shards.foreach(_.createMaterializedView(
      db, name, targetDb, targetTable, chSelectSql, populate))
  override def listMaterializedViews(db: String): Seq[String] =
    shards.head.listMaterializedViews(db)
  // schema is identical across shards (DDL broadcasts) — one probe
  override def describeQuery(chSql: String): StructType =
    shards.head.describeQuery(chSql)
  override def dropMaterializedView(db: String, name: String): Unit =
    shards.foreach(_.dropMaterializedView(db, name))
  override def optimizeTable(db: String, table: String, finalize: Boolean): Unit =
    shards.foreach(_.optimizeTable(db, table, finalize))
  // data removal broadcasts: every shard clears its slice
  override def truncateTable(db: String, table: String): Unit =
    shards.foreach(_.truncateTable(db, table))
  // per-shard merge: duplicates co-locate under shard_by routing, so a
  // shard-local dedup equals the global one for routed writes; rows
  // duplicated ACROSS shards (foreign-routed inserts) stay — the same
  // documented limit as every shard-local merge
  override def optimizeDeduplicate(
      db: String, table: String, byColumns: Seq[String]): Unit =
    shards.foreach(_.optimizeDeduplicate(db, table, byColumns))
  // DDL broadcast like RENAME: every shard swaps its local pair
  override def exchangeTables(db: String, a: String, db2: String, b: String): Unit =
    shards.foreach(_.exchangeTables(db, a, db2, b))
  // mutation broadcast: every shard drops its slice of the partition
  override def dropPartition(db: String, table: String, partitionValue: String): Unit =
    shards.foreach(_.dropPartition(db, table, partitionValue))
  // shard-local clone: each shard attaches its own slice — ATTACH never
  // moves rows between shards, so routing stays exactly the source's
  override def attachPartitionsFrom(
      db: String, table: String, srcDb: String, srcTable: String): Unit =
    shards.foreach(_.attachPartitionsFrom(db, table, srcDb, srcTable))

  // ---- reads: one statement per shard, handles tagged with their shard ----

  /** Dispatch a per-shard planning call CONCURRENTLY — the Distributed
    * initiator fans statements out to every shard at once, it does not
    * visit them one by one. For wire transports planning is a cheap
    * DESCRIBE and this hardly matters; for the embedded transport (whose
    * plan step executes the statement into spill) serial dispatch made a
    * collapsed shard-local statement pay #shards × its latency.
    */
  private def perShard[T](f: ClickHouseClient => T): IndexedSeq[T] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the embedded transport resolves SparkSession.active PER CALL to
    // bind its child session — pool worker threads inherit whatever
    // thread-local was captured at pool creation (possibly a stale
    // micro-batch clone), so propagate the CALLER's session explicitly
    // or every sharded call thrashes the child-session cache
    val callerSession = org.apache.spark.sql.SparkSession.getActiveSession
    val futs = shards.map(c => Future(blocking {
      // restore the worker thread's previous active session afterwards:
      // the global pool is JVM-shared, and leaking the caller's session
      // (possibly a stopped one or a micro-batch clone) into it would
      // hand unrelated code a thread-local it never set
      val prev = org.apache.spark.sql.SparkSession.getActiveSession
      callerSession.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      try f(c)
      finally prev match {
        case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }))
    // JOIN EVERY future before surfacing a failure: a fail-fast
    // Future.sequence returns while the other shards' calls are still
    // executing — for a write (insertSelect) the caller would observe
    // failure (and maybe retry) while the first attempt's mutation is
    // still landing on another shard, a lost-update race the old serial
    // dispatch could never produce
    val results = futs.map(fu => scala.util.Try(Await.result(fu, Duration.Inf)))
    results.collect { case scala.util.Failure(e) => e }.reduceOption { (a, b) =>
      a.addSuppressed(b); a
    }.foreach(throw _)
    results.map(_.get)
  }

  override def planQuery(sql: String, numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val per = math.max(1, numStreams / shards.size)
    val planned = perShard(_.planQuery(sql, per))
    (planned.head._1, tag(planned.map(_._2)))
  }

  override def planQueryRanges(
      sql: String, splitColumn: String, numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val per = math.max(1, numStreams / shards.size)
    val planned = perShard(_.planQueryRanges(sql, splitColumn, per))
    (planned.head._1, tag(planned.map(_._2)))
  }

  private def tag(perShard: Seq[Seq[ChPartitionHandle]]): Seq[ChPartitionHandle] =
    perShard.zipWithIndex.flatMap { case (hs, i) => hs.map(ShardHandle(i, _)) }

  /** Bucket-keyed sharded read: bucket i must hold ALL rows whose key
    * hashes to bucket i — across every shard — or the reported
    * KeyGroupedPartitioning would be a lie. So handle i is the UNION of
    * each shard's bucket-i slice (one remote statement per shard, read
    * sequentially inside the task). The bucket function family is the
    * shards' common one (they share a transport type by construction);
    * mixed families would co-partition keys into different buckets →
    * refuse (None) rather than degrade.
    */
  override def bucketFamily: Option[String] = {
    val fams = shards.map(_.bucketFamily).distinct
    if (fams.length == 1) fams.head else None
  }

  override def planQueryBuckets(
      sql: String,
      bucketColumn: String,
      numBuckets: Int): Option[(StructType, Seq[ChPartitionHandle])] = {
    if (bucketFamily.isEmpty) return None
    val planned = perShard(_.planQueryBuckets(sql, bucketColumn, numBuckets))
    if (planned.exists(_.isEmpty)) return None
    val schema = planned.head.get._1
    val byShard = planned.map(_.get._2)
    require(byShard.forall(_.length == numBuckets),
      s"every shard must return exactly $numBuckets buckets")
    Some((schema, (0 until numBuckets).map { b =>
      ShardMultiHandle(byShard.zipWithIndex.map { case (hs, i) => (i, hs(b)) })
    }))
  }

  private def shardOf(handle: ChPartitionHandle): (ClickHouseClient, ChPartitionHandle) =
    handle match {
      case ShardHandle(i, inner) => (shards(i), inner)
      case other => throw new IllegalArgumentException(
        s"sharded client got a foreign handle: ${other.getClass.getName}")
    }

  override def readPartition(handle: ChPartitionHandle): Iterator[Row] = handle match {
    case ShardMultiHandle(parts) =>
      parts.iterator.flatMap { case (i, h) => shards(i).readPartition(h) }
    case _ => val (c, h) = shardOf(handle); c.readPartition(h)
  }
  override def readPartitionInternal(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    handle match {
      case ShardMultiHandle(parts) =>
        parts.iterator.flatMap { case (i, h) => shards(i).readPartitionInternal(h, schema) }
      case _ => val (c, h) = shardOf(handle); c.readPartitionInternal(h, schema)
    }
  override def readPartitionColumnar(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
    handle match {
      case ShardMultiHandle(parts) =>
        parts.iterator.flatMap { case (i, h) => shards(i).readPartitionColumnar(h, schema) }
      case _ => val (c, h) = shardOf(handle); c.readPartitionColumnar(h, schema)
    }

  // ---- mutations: row-local, broadcast ----

  override def deleteWhere(db: String, table: String, whereSql: String): Unit =
    shards.foreach(_.deleteWhere(db, table, whereSql))
  override def updateWhere(
      db: String, table: String,
      assignments: Seq[(String, String)], whereSql: String): Unit = {
    // assigning the routing column would leave rows whose placement no
    // longer matches their value — r41-class shard-key-local collapses
    // would then return per-shard-partial answers. Statically checkable
    // (unlike the documented insertSelect caveat), so reject.
    shardBy.foreach { key =>
      require(!assignments.exists(_._1 == key),
        s"UPDATE on $db.$table assigns shard_by routing column '$key': " +
          "rows would no longer live where their key routes — re-insert " +
          "through the catalog instead")
    }
    shards.foreach(_.updateWhere(db, table, assignments, whereSql))
  }

  // ---- writes: hash-routed by shardBy, else round-robin blocks ----

  private val rr = new AtomicLong(0)

  /** Client-side placement hash: stable across JVMs for the types a
    * routing key can be (String/Long/Int hashCode are specified by the
    * JLS), NULLs ride shard 0. This routes PLACEMENT only — no
    * co-partitioning with any server hash family is claimed.
    */
  private def route(schema: StructType, rows: Seq[Row]): Seq[(Int, Seq[Row])] =
    shardBy match {
      case Some(key) =>
        val idx = schema.fieldNames.indexOf(key)
        require(idx >= 0,
          s"shard_by column '$key' is not in the insert schema " +
            s"(${schema.fieldNames.mkString(", ")}) — cannot route rows")
        // placement must be VALUE-stable or the co-location promise the
        // planner exploits is a lie: Float/Double break it (-0.0 and 0.0
        // are equal keys to Spark but hash to different shards),
        // Decimal's hashCode varies with scale representation — reject
        // rather than place wrongly (honored-or-rejected)
        require(ShardedClickHouseClient.placementStable(schema(idx).dataType),
          s"shard_by column '$key' has type ${schema(idx).dataType.sql}, " +
            "which is not placement-stable (equal-comparing values can " +
            "hash apart, e.g. 0.0 vs -0.0, or box differently across " +
            "writers) — route by an integral, string or boolean column")
        rows.groupBy { r =>
          if (r.isNullAt(idx)) 0 else math.floorMod(r.get(idx).hashCode, shards.size)
        }.toSeq.sortBy(_._1)
      case None =>
        Seq((math.floorMod(rr.getAndIncrement(), shards.size.toLong).toInt, rows))
    }

  override def insert(db: String, table: String, schema: StructType, rows: Seq[Row]): Long =
    route(schema, rows).map { case (i, rs) => shards(i).insert(db, table, schema, rs) }.sum

  /** Shard-local ETL: the statement runs on EVERY shard against that
    * shard's data — the `ON CLUSTER` INSERT SELECT shape. Correct
    * whenever source and target tables co-reside (they do: DDL
    * broadcasts), because each row is read and written on its own shard.
    */
  override def insertSelect(db: String, table: String, chSelectSql: String): Long =
    perShard(_.insertSelect(db, table, chSelectSql)).sum

  // ---- staged (exactly-once) writes: split rows per shard under the
  // same staging id; commit/abort broadcast (a shard with nothing staged
  // under the id is a no-op) ----

  override def stageInsert(
      db: String, table: String, schema: StructType, rows: Seq[Row],
      stagingId: String): Long =
    route(schema, rows).map { case (i, rs) =>
      shards(i).stageInsert(db, table, schema, rs, stagingId)
    }.sum

  override def commitStaged(db: String, table: String, stagingId: String): Unit =
    shards.foreach(_.commitStaged(db, table, stagingId))

  override def abortStaged(db: String, table: String, stagingId: String): Unit =
    shards.foreach(_.abortStaged(db, table, stagingId))

  /** Epoch markers live on shard 0 — one authority for direct
    * marker-probe callers. The streaming WRITE path does NOT go through
    * this: see [[commitEpochStaged]].
    */
  override def tryMarkEpochCommitted(db: String, table: String, marker: String): Boolean =
    shards.head.tryMarkEpochCommitted(db, table, marker)

  /** Converging streaming-epoch publish, per shard: each shard runs its
    * OWN converging protocol (publish-staged-then-mark) over its slice
    * of the epoch's rows. The inherited default (mark on one authority,
    * then broadcast publish) would NOT converge: a crash between the
    * mark and the publish makes the replay see "already committed" and
    * abort the re-staged rows — losing the un-published shards' slice.
    * Per-shard convergence is global convergence because routing is
    * deterministic: a replayed epoch re-stages the SAME rows on the same
    * shards, each shard's marker covers exactly its own slice, and a
    * shard that already published aborts the re-staged duplicate while a
    * shard that crashed pre-mark publishes — never mixed within a shard,
    * and cross-shard mixes repair themselves on the next replay.
    */
  override def commitEpochStaged(
      db: String, table: String, epochMarker: String, staged: Seq[String]): Unit = {
    // per-shard convergence REQUIRES deterministic placement: a replayed
    // epoch must re-stage each row on the shard that may already hold
    // it. Round-robin placement re-routes replayed rows, so a partially
    // committed epoch (one shard published+marked, another crashed
    // before its commit) would publish the same rows on a SECOND shard
    // on replay — duplicates. Honored-or-rejected: refuse rather than
    // silently break exactly-once.
    require(shardBy.isDefined,
      s"exactly-once streaming writes into sharded table $db.$table " +
        "require a declared shard_by routing column (round-robin " +
        "placement is not replay-deterministic, so a partially-committed " +
        "epoch could duplicate rows on replay)")
    shards.foreach(_.commitEpochStaged(db, table, epochMarker, staged))
  }
}

object ShardedClickHouseClient {
  /** Types whose JVM boxed hashCode is a pure, representation-free
    * function of the value (JLS-specified), so equal keys ALWAYS
    * co-locate: integrals, strings, booleans. Float/Double (-0.0 vs
    * 0.0), Decimal (scale-dependent), and date/time (java.sql vs
    * java.time boxing differs per session config) are excluded.
    */
  def placementStable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType => true
    case _ => false
  }
}

/** Shard-tagged handle: remembers which shard planned `inner` so the
  * executor-side read routes to the right transport.
  */
final case class ShardHandle(shard: Int, inner: ChPartitionHandle)
  extends ChPartitionHandle

/** One bucket of a bucket-keyed sharded read: the union of every shard's
  * slice of that bucket, drained sequentially inside one task.
  */
final case class ShardMultiHandle(parts: Seq[(Int, ChPartitionHandle)])
  extends ChPartitionHandle
