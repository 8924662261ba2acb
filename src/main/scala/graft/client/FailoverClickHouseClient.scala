package graft.client

import java.io.IOException
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** One ClickHouse SHARD as a replica set behind the single-store
  * interface: N transports holding (by the server's replication — e.g.
  * ReplicatedMergeTree / a Distributed table with
  * `internal_replication=true`) the same data, composed for read
  * availability. The client-side analog of ClickHouse's own
  * shard-with-replicas cluster entry; catalogs spell it
  * `endpoint = "http://r1:8123|http://r2:8123"` (and a sharded cluster
  * composes it per shard: `"r1|r2,r3|r4"`).
  *
  * Semantics — honored or rejected, never silently wrong:
  *  - READS (metadata, planQuery*, scalar probes) run on one LIVE
  *    replica: statements try replicas from a sticky cursor and fail
  *    over on transport-level IOException (never on an HTTP error
  *    status — a bad query is bad on every replica). Planned handles
  *    PREFER the replica that planned them; if that replica is dead at
  *    stream-OPEN time (before any row is delivered) the slice re-opens
  *    on a surviving replica when the transport's handles are
  *    self-contained statements ([[ClickHouseClient.rehome]] — HTTP
  *    qualifies). A replica dying MID-STREAM still fails the task
  *    loudly (rows may already be consumed; a silent re-read could
  *    duplicate or reorder) — but the task RETRY starts with zero
  *    delivered rows and fails over at open, so the statement completes
  *    on the surviving replica.
  *  - WRITES (insert, staged protocol, insertSelect, epoch markers) pin
  *    to replica 0 — the write PRIMARY. Staged-insert ids and epoch
  *    markers are replica-local state, so spraying them across replicas
  *    would break exactly-once; a dead primary fails writes loudly
  *    (ClickHouse's own behavior when the targeted replica is down).
  *    Replicating written data to the others is the SERVER's job; with a
  *    non-replicating backend a failover read may observe that replica's
  *    own (possibly older) state — precisely ClickHouse's documented
  *    eventual-consistency caveat for reading replicas.
  *  - DDL and mutations BROADCAST to every replica (the per-replica
  *    CREATE TABLE setup shape / `ON CLUSTER`), keeping schemas aligned
  *    so metadata may be served from any live replica.
  */
class FailoverClickHouseClient(
    val replicas: IndexedSeq[ClickHouseClient],
    val loadBalancing: String = "first")
  extends ClickHouseClient {

  require(replicas.size >= 2,
    s"a replica set needs >= 2 replicas, got ${replicas.size}")
  require(loadBalancing == "first" || loadBalancing == "random",
    s"load_balancing must be 'first' (sticky primary-first: read-your-" +
      s"writes against a lagging replica) or 'random' (spread read load " +
      s"across replicas, ClickHouse's first_or_random analog), got " +
      s"'$loadBalancing'")

  override def connectionKey: String =
    s"replicated[${replicas.map(_.connectionKey).mkString("|")}]"

  // one replica holds the whole data set: single execution domain
  override def singleExecutionDomain: Boolean = true
  override def resumableRanges: Boolean = true
  override def finalReadExact(db: String, table: String): Boolean =
    replicas.head.finalReadExact(db, table)
  override def bucketFamily: Option[String] = {
    val fams = replicas.map(_.bucketFamily).distinct
    if (fams.length == 1) fams.head else None
  }

  /** Sticky read cursor: starts at the primary so reads see their own
    * writes when replication lags; advances only on transport death.
    */
  private val preferred = new AtomicInteger(0)

  private def withLive[T](f: ClickHouseClient => T): (Int, T) = {
    val start =
      if (loadBalancing == "random")
        java.util.concurrent.ThreadLocalRandom.current().nextInt(replicas.size)
      else preferred.get()
    var lastErr: IOException = null
    var i = 0
    while (i < replicas.size) {
      val idx = (start + i) % replicas.size
      try {
        val r = f(replicas(idx))
        preferred.set(idx)
        return (idx, r)
      } catch {
        case e: IOException =>
          if (lastErr != null) e.addSuppressed(lastErr)
          lastErr = e
          i += 1
      }
    }
    throw new IOException(
      s"all ${replicas.size} replicas failed (last: ${lastErr.getMessage})", lastErr)
  }

  // ---- metadata: any live replica (DDL broadcast keeps them aligned) ----

  override def listDatabases(): Seq[String] = withLive(_.listDatabases())._2
  override def listTables(db: String): Seq[String] = withLive(_.listTables(db))._2
  override def tableExists(db: String, table: String): Boolean =
    withLive(_.tableExists(db, table))._2
  override def fetchColumns(db: String, table: String): Seq[(String, String)] =
    withLive(_.fetchColumns(db, table))._2
  override def fetchTableOptions(db: String, table: String): Map[String, String] =
    withLive(_.fetchTableOptions(db, table))._2
  override def tableSizeBytes(db: String, table: String): Option[Long] =
    withLive(_.tableSizeBytes(db, table))._2
  override def tableRowCount(db: String, table: String): Option[Long] =
    withLive(_.tableRowCount(db, table))._2

  // ---- DDL: broadcast (per-replica setup / ON CLUSTER) ----

  override def createDatabase(db: String, ifNotExists: Boolean = true): Unit =
    replicas.foreach(_.createDatabase(db, ifNotExists))
  override def dropDatabase(db: String): Unit = replicas.foreach(_.dropDatabase(db))
  override def createTable(
      db: String, table: String,
      columns: Seq[(String, String)], options: Map[String, String]): Unit =
    replicas.foreach(_.createTable(db, table, columns, options))
  override def dropTable(db: String, table: String): Unit =
    replicas.foreach(_.dropTable(db, table))
  // ALTER broadcasts like all DDL (schema objects are per-replica state
  // in this class's model, the ON CLUSTER analog — same as createTable).
  // Against a ReplicatedMergeTree backend, where ALTER self-replicates,
  // the second replica's re-application fails LOUDLY ("column already
  // exists") after the change has landed — an error on success, never
  // silent divergence; a deployment on a replicated backend should
  // address DDL at one replica directly, exactly as it must for
  // CREATE/DROP (recorded decision, mirrors the mutations-pin rationale
  // but lands on the opposite side because DDL is per-replica here).
  override def alterTable(db: String, table: String, ops: Seq[ChAlterOp]): Unit =
    replicas.foreach(_.alterTable(db, table, ops))
  // MV DDL broadcasts like all schema objects; the trigger itself fires
  // where inserts land (writes pin to replica 0), so replica state stays
  // mutually consistent (both source and target replicate via the pin)
  override def createMaterializedView(db: String, name: String,
      targetDb: String, targetTable: String, chSelectSql: String,
      populate: Boolean): Unit = {
    // POPULATE is a WRITE: pin the backfill to replica 0 (the server
    // replicates; running it per replica would multiply the rows — the
    // same rationale as the mutations pin). It runs before ANY replica
    // arms the trigger, so the miss-not-double window is preserved.
    if (populate) replicas.head.insertSelect(targetDb, targetTable, chSelectSql)
    replicas.foreach(_.createMaterializedView(
      db, name, targetDb, targetTable, chSelectSql))
  }
  override def listMaterializedViews(db: String): Seq[String] =
    withLive(_.listMaterializedViews(db))._2
  override def describeQuery(chSql: String): StructType =
    withLive(_.describeQuery(chSql))._2
  override def dropMaterializedView(db: String, name: String): Unit =
    replicas.foreach(_.dropMaterializedView(db, name))
  override def renameTable(
      db: String, table: String, newDb: String, newTable: String): Unit =
    replicas.foreach(_.renameTable(db, table, newDb, newTable))
  // merges replicate server-side on a replicated backend — issue once at
  // the primary, like mutations (broadcasting would force N merges)
  override def optimizeTable(db: String, table: String, finalize: Boolean): Unit =
    primary.optimizeTable(db, table, finalize)
  // a data change like inserts/mutations: once at the primary, the
  // server replicates the attached parts
  override def attachPartitionsFrom(
      db: String, table: String, srcDb: String, srcTable: String): Unit =
    primary.attachPartitionsFrom(db, table, srcDb, srcTable)
  // data change: once at the primary, the server replicates the removal
  override def truncateTable(db: String, table: String): Unit =
    primary.truncateTable(db, table)
  // a merge like OPTIMIZE: once at the primary
  override def optimizeDeduplicate(
      db: String, table: String, byColumns: Seq[String]): Unit =
    primary.optimizeDeduplicate(db, table, byColumns)
  // Name swap is per-replica metadata like RENAME, so it broadcasts — but
  // unlike RENAME the swap is NOT idempotent: a retry swaps already-swapped
  // replicas BACK, so a partial failure cannot be repaired by re-running.
  // Pre-probe every replica first (most failures then surface before any
  // state changes), and on a mid-broadcast failure roll back the replicas
  // that already swapped; if the rollback itself fails, raise an explicit
  // divergence error naming the inconsistent replicas instead of leaving
  // reads to silently serve swapped-or-unswapped data by routing luck.
  override def exchangeTables(db: String, a: String, db2: String, b: String): Unit = {
    replicas.zipWithIndex.foreach { case (r, i) =>
      require(r.tableExists(db, a) && r.tableExists(db2, b),
        s"EXCHANGE TABLES $db.$a AND $db2.$b: replica $i is missing one side " +
          "— refusing a broadcast that would diverge the replica set")
    }
    // pre-swap column captures (uncached system.columns reads): when the
    // broadcast fails mid-call, these decide whether the FAILING replica
    // applied the swap before erroring (e.g. a timeout after the server
    // committed) — advisor r12: rollback alone would leave that replica
    // silently swapped with no divergence diagnostic
    def colsOf(r: ClickHouseClient, d: String, t: String)
        : Option[Seq[(String, String)]] =
      scala.util.Try(r.query(
        s"SELECT name, type FROM system.columns WHERE database = '$d' " +
          s"AND table = '$t' ORDER BY name", 1)
        ._2.flatten.map(row =>
          (String.valueOf(row.get(0)), String.valueOf(row.get(1))))).toOption
    val preA = colsOf(primary, db, a)
    val preB = colsOf(primary, db2, b)
    var done = 0
    try {
      replicas.foreach { r => r.exchangeTables(db, a, db2, b); done += 1 }
    } catch {
      case e: Throwable =>
        val rolledBack = scala.collection.mutable.ArrayBuffer.empty[Int]
        val stuck = scala.collection.mutable.ArrayBuffer.empty[Int]
        (0 until done).foreach { i =>
          try { replicas(i).exchangeTables(db, a, db2, b); rolledBack += i }
          catch { case _: Throwable => stuck += i }
        }
        if (stuck.nonEmpty)
          throw new IllegalStateException(
            s"EXCHANGE TABLES $db.$a AND $db2.$b diverged the replica set: " +
              s"replica $done failed mid-broadcast and rollback failed on " +
              s"replica(s) ${stuck.mkString(", ")} (still swapped); " +
              s"replica(s) ${rolledBack.mkString(", ")} rolled back. " +
              "Manual repair required before serving reads.", e)
        // replicas 0..done-1 rolled back; the THROWING replica may have
        // applied the swap server-side before erroring — probe its
        // current schema against the pre-swap capture (decidable only
        // when the two sides' schemas differ)
        val applied: Option[Boolean] = (preA, preB) match {
          case (Some(sa), Some(sb)) if sa != sb =>
            colsOf(replicas(done), db, a).map(now => now == sb)
          case _ => None
        }
        applied match {
          case Some(true) => throw new IllegalStateException(
            s"EXCHANGE TABLES $db.$a AND $db2.$b diverged the replica " +
              s"set: replica $done APPLIED the swap before failing while " +
              "every other replica rolled back. Manual repair (a single " +
              s"EXCHANGE on replica $done) required before serving reads.", e)
          case Some(false) => throw e // confirmed un-applied: consistent
          case None => throw new IllegalStateException(
            s"EXCHANGE TABLES $db.$a AND $db2.$b: replica $done failed " +
              "mid-broadcast and its post-failure state could not be " +
              "verified (probe failed, or both sides share a schema) — " +
              s"every other replica rolled back, but replica $done may be " +
              "swapped; verify before serving reads.", e)
        }
    }
  }
  // partition drop is a mutation: once at the primary, server replicates
  override def dropPartition(db: String, table: String, partitionValue: String): Unit =
    primary.dropPartition(db, table, partitionValue)

  // ---- mutations: the PRIMARY only, like inserts. The class model is a
  // server-replicated backend (ReplicatedMergeTree), where an ALTER
  // UPDATE/DELETE replicates BY ITSELF — broadcasting it would apply a
  // non-idempotent assignment (v = v + 1) once per replica: silent data
  // corruption on exactly the backend the write-pinning assumes. One
  // data-change model for every mutation path: issue once at the
  // primary, replication is the server's job, lagging replicas may
  // briefly serve pre-mutation state (the same documented caveat as
  // inserts). DDL stays broadcast: schema objects are per-replica state
  // (the ON CLUSTER analog) and re-applying DDL is idempotent. ----

  override def deleteWhere(db: String, table: String, whereSql: String): Unit =
    primary.deleteWhere(db, table, whereSql)
  override def updateWhere(
      db: String, table: String,
      assignments: Seq[(String, String)], whereSql: String): Unit =
    primary.updateWhere(db, table, assignments, whereSql)

  // ---- reads: plan on a live replica, tag handles with its index ----

  override def planQuery(
      sql: String, numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val (idx, (schema, handles)) = withLive(_.planQuery(sql, numStreams))
    (schema, handles.map(ReplicaHandle(idx, _)))
  }

  /** Range-split slices additionally become RESUMABLE when the cursor is
    * integral and the transport can order its statements: each slice
    * reads `ORDER BY cursor NULLS FIRST` (a deterministic replay prefix
    * — on a real server the cursor is the table's ORDER BY head, so the
    * sort rides the native read-in-order path), and a replica dying
    * MID-STREAM re-plans the REMAINDER of the slice on a survivor
    * (ClickHouseClient.resumeSlice) instead of killing the query. Rows
    * are delivered in whole cursor-value groups, so the resume point is
    * exact — no duplicates, no loss (see [[ResumableRead]]). Non-integral
    * cursors and non-range shapes keep the loud mid-stream contract.
    */
  override def planQueryRanges(
      sql: String, splitColumn: String,
      numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val (idx, (schema, handles)) =
      withLive(_.planQueryRanges(sql, splitColumn, numStreams))
    import org.apache.spark.sql.types._
    val integralCursor = schema.fields.find(_.name == splitColumn)
      .map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    val wrapped = handles.map { h =>
      val ordered =
        if (integralCursor) replicas(idx).orderedSlice(h, splitColumn) else None
      ordered match {
        case Some(oh) => ResumableReplicaHandle(idx, oh, h, splitColumn)
        case None => ReplicaHandle(idx, h)
      }
    }
    (schema, wrapped)
  }

  override def planQueryBuckets(
      sql: String, bucketColumn: String,
      numBuckets: Int): Option[(StructType, Seq[ChPartitionHandle])] = {
    val (idx, planned) =
      withLive(_.planQueryBuckets(sql, bucketColumn, numBuckets))
    planned.map { case (schema, handles) =>
      (schema, handles.map(ReplicaHandle(idx, _)))
    }
  }

  /** Open a partition stream with AT-OPEN failover: the pinned replica is
    * tried first; if the transport dies BEFORE the first element is
    * available (`force` runs the lazy open), the slice re-opens on the
    * next live replica via [[ClickHouseClient.rehome]] — safe because no
    * row of this attempt has been delivered, so the re-opened stream
    * re-derives the WHOLE slice (HTTP handles are self-contained
    * statements). Spark task retries ride the same path: a retry calls
    * readPartition afresh with zero delivered rows, so a replica dying
    * mid-stream fails the task loudly (rows may be consumed — a silent
    * re-read could duplicate) and the RETRY fails over. A transport whose
    * handles cannot re-home keeps the original pinned-loud contract.
    * Caveat (the same one plan-time failover documents): with lagging
    * replication, slices of one statement re-opened on different replicas
    * may observe different snapshots.
    */
  private def openFailover[T](
      handle: ChPartitionHandle)(open: (ClickHouseClient, ChPartitionHandle) => T)(
      force: T => Unit): T = {
    val (pinnedIdx, inner) = handle match {
      case ReplicaHandle(i, h) => (i, h)
      case other => throw new IllegalArgumentException(
        s"replica set got a foreign handle: ${other.getClass.getName}")
    }
    var lastErr: IOException = null
    var i = 0
    while (i < replicas.size) {
      val idx = (pinnedIdx + i) % replicas.size
      val slice =
        if (idx == pinnedIdx) Some(inner) else replicas(idx).rehome(inner)
      slice match {
        case Some(h) =>
          var t: Option[T] = None
          def releaseAttempt(): Unit =
            // release the failed attempt's transport state: the HTTP
            // iterator holds a live connection AND a per-endpoint pool
            // permit from the moment the open started — abandoning it
            // un-closed leaks both (driver-side reads have no task
            // completion listener to clean up after us)
            t.foreach {
              case c: AutoCloseable =>
                try c.close() catch { case _: Exception => () }
              case _ => ()
            }
          try {
            val opened = open(replicas(idx), h)
            t = Some(opened)
            force(opened)
            return opened
          } catch {
            case e: IOException =>
              releaseAttempt()
              if (lastErr != null) e.addSuppressed(lastErr)
              lastErr = e
            case scala.util.control.NonFatal(e) =>
              // non-transport failures (e.g. a truncation verdict's
              // RuntimeException) still clean up — but they do NOT fail
              // over: a non-IO error is an error on every replica
              releaseAttempt()
              throw e
          }
        case None => () // this transport cannot serve the slice — skip
      }
      i += 1
    }
    throw new IOException(
      s"all ${replicas.size} replicas failed opening a partition stream " +
        s"(last: ${Option(lastErr).map(_.getMessage).getOrElse("no replica could serve the slice")})",
      lastErr)
  }

  override def readPartition(handle: ChPartitionHandle): Iterator[Row] =
    handle match {
      // external-row reads (driver-side probes) have no schema to derive
      // a cursor getter from: keep at-open failover on the ordered slice
      case r: ResumableReplicaHandle =>
        openFailover(ReplicaHandle(r.replica, r.ordered))(
          (c, h) => c.readPartition(h))(_.hasNext)
      case _ => openFailover(handle)((c, h) => c.readPartition(h))(_.hasNext)
    }
  override def readPartitionInternal(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    handle match {
      case r: ResumableReplicaHandle =>
        new ResumableRead[org.apache.spark.sql.catalyst.InternalRow](
          r, (c, h) => c.readPartitionInternal(h, schema),
          internalCursorGetter(schema, r.cursor))
      case _ =>
        openFailover(handle)((c, h) => c.readPartitionInternal(h, schema))(_.hasNext)
    }
  override def readPartitionColumnar(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
    handle match {
      // group-aligned batch resume (round 9): the batch body stays on the
      // transport's native vector decode; only each batch's tail cursor
      // group is carried as row copies until its boundary arrives — see
      // ResumableBatchRead (this replaced the round-8 row-pack fallback,
      // which re-materialized every row: 1.41x on 16-col schemas)
      case r: ResumableReplicaHandle => new ResumableBatchRead(r, schema)
      case _ =>
        openFailover(handle)((c, h) => c.readPartitionColumnar(h, schema))(_.hasNext)
    }

  /** Null-aware integral cursor extractor for group-boundary tracking. */
  private def internalCursorGetter(schema: StructType, cursor: String)
      : org.apache.spark.sql.catalyst.InternalRow => Option[Long] = {
    import org.apache.spark.sql.types._
    val i = schema.fieldIndex(cursor)
    val get: org.apache.spark.sql.catalyst.InternalRow => Long =
      schema.fields(i).dataType match {
        case LongType => _.getLong(i)
        case IntegerType => _.getInt(i).toLong
        case ShortType => _.getShort(i).toLong
        case ByteType => _.getByte(i).toLong
        case t => throw new IllegalArgumentException(
          s"non-integral resume cursor '$cursor': ${t.simpleString}")
      }
    r => if (r.isNullAt(i)) None else Some(get(r))
  }

  /** Mid-stream-resumable slice read. Rows stream out in whole
    * cursor-value GROUPS: a group is released only when the first row of
    * the NEXT group (or clean end) arrives, so when the serving replica
    * dies mid-stream the partially-buffered group was never delivered —
    * re-planning the slice as `cursor > lastReleased` on a survivor
    * re-reads exactly the undelivered remainder (the NULL group orders
    * first; resuming after it uses `cursor IS NOT NULL`). No duplicates,
    * no loss, no row-identity guessing. Degrades to the loud contract
    * when a single group outgrows the buffer bound (its rows are
    * released partially, so an exact resume point no longer exists) or
    * when the transport emits cursors out of order.
    */
  private abstract class ResumableCore[I](
      h: ResumableReplicaHandle,
      openOn: (ClickHouseClient, ChPartitionHandle) => Iterator[I])
    extends AutoCloseable {

    protected var current: Iterator[I] = _
    private var currentIdx: Int = h.replica
    // last FULLY-released group: None = none yet; Some(None) = the NULL
    // group; Some(Some(v)) = value group v
    protected var released: Option[Option[Long]] = None
    protected var resumable = true
    protected var drained = false

    protected def closeQuietly(it: Iterator[I]): Unit = it match {
      case c: AutoCloseable => try c.close() catch { case _: Exception => () }
      case _ => ()
    }

    /** Try replicas from `startIdx`: initial open reads the whole
      * ordered slice; a resume re-plans the remainder via resumeSlice.
      */
    protected def openAttempts(startIdx: Int, cause: Option[IOException]): Unit = {
      var lastErr: IOException = cause.orNull
      var i = 0
      while (i < replicas.size && current == null) {
        val idx = (startIdx + i) % replicas.size
        val slice: Option[ChPartitionHandle] = released match {
          case None => replicas(idx).rehome(h.ordered)
          case Some(after) => replicas(idx).rehome(h.base)
            .flatMap(b => replicas(idx).resumeSlice(b, h.cursor, after))
        }
        slice match {
          case Some(s) =>
            var t: Iterator[I] = null
            try {
              t = openOn(replicas(idx), s)
              t.hasNext // force the lazy open so transport death lands HERE
              current = t
              currentIdx = idx
            } catch {
              case e: IOException =>
                if (t != null) closeQuietly(t)
                if (lastErr != null) e.addSuppressed(lastErr)
                lastErr = e
              case e: Throwable =>
                if (t != null) closeQuietly(t)
                throw e
            }
          case None => ()
        }
        i += 1
      }
      if (current == null)
        throw new IOException(
          s"all ${replicas.size} replicas failed serving a resumable slice " +
            s"(last: ${Option(lastErr).map(_.getMessage).getOrElse("no replica could derive the slice")})",
          lastErr)
    }

    // resumes that never advance the watermark are bounded: a fault that
    // kills every replica before it releases a NEW group (e.g. a corrupt
    // block early in the remainder) would otherwise loop
    // resume→open→die forever, silently hammering the replicas instead
    // of failing loudly like the pre-resume contract
    private var stalledResumes = 0
    private var haveResumed = false
    private var watermarkAtResume: Option[Option[Long]] = None

    /** Subclass hook: drop the buffered rows of the UNDELIVERED partial
      * group — the resumed stream re-reads that group whole.
      */
    protected def dropPartial(): Unit

    protected def resume(cause: IOException): Unit = {
      closeQuietly(current)
      current = null
      if (haveResumed && watermarkAtResume == released) stalledResumes += 1
      else stalledResumes = 0
      haveResumed = true
      watermarkAtResume = released
      if (stalledResumes >= 2 * replicas.size)
        throw new IOException(
          s"resumable slice made no progress across $stalledResumes " +
            s"consecutive resumes (watermark stuck at $released) — failing " +
            "loudly instead of hammering the replicas", cause)
      dropPartial()
      openAttempts((currentIdx + 1) % replicas.size, Some(cause))
    }

    protected def ordered(a: Option[Long], b: Option[Long]): Boolean = (a, b) match {
      case (None, _) => true // NULLs first
      case (Some(_), None) => false
      case (Some(x), Some(y)) => x <= y
    }

    override def close(): Unit = if (current != null) closeQuietly(current)
  }

  private final class ResumableRead[T](
      h: ResumableReplicaHandle,
      openOn: (ClickHouseClient, ChPartitionHandle) => Iterator[T],
      cursorOf: T => Option[Long],
      maxGroupBuffer: Int = 100000)
    extends ResumableCore[T](h, openOn) with Iterator[T] {

    private val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    private var bufValue: Option[Long] = None
    private var out: Iterator[T] = Iterator.empty

    openAttempts(h.replica, None)

    override protected def dropPartial(): Unit = {
      buf.clear()
      bufValue = None
    }

    private def refill(): Unit = {
      while (!out.hasNext && !drained) {
        try {
          if (current.hasNext) {
            val r = current.next()
            val v = cursorOf(r)
            if (buf.isEmpty || v == bufValue) {
              buf += r
              bufValue = v
              if (buf.length >= maxGroupBuffer) {
                // one group outgrew the bound: release it partially and
                // give up resume-exactness from here on (loud contract)
                out = buf.toVector.iterator
                buf.clear()
                resumable = false
              }
            } else {
              // a transport violating its own ORDER BY would make the
              // released watermark skip unseen rows — detect and go loud
              if (!ordered(bufValue, v)) resumable = false
              out = buf.toVector.iterator
              if (resumable) released = Some(bufValue)
              buf.clear()
              buf += r
              bufValue = v
            }
          } else {
            out = buf.toVector.iterator
            buf.clear()
            drained = true
          }
        } catch {
          case e: IOException if resumable => resume(e)
        }
      }
    }

    override def hasNext: Boolean = { refill(); out.hasNext }
    override def next(): T = {
      refill()
      if (!out.hasNext) throw new NoSuchElementException
      out.next()
    }
  }

  /** Mid-stream-resumable COLUMNAR slice read: the batch body stays on
    * the transport's native vector decode; only the (possibly continuing)
    * tail cursor group of each batch is carried as row COPIES until its
    * boundary arrives. At every point a resume can trigger (a transport
    * pull), the delivered rows are exactly whole cursor groups — a group
    * may span a carried-rows mini batch and the following trimmed batch,
    * but both are handed out before the next pull — so the release
    * watermark is as exact as the row path's. The transport's batch
    * iterator delivers its decoded prefix before a death surfaces
    * (streamBatches' deferral), so a mid-stream resume re-plans
    * `cursor > lastReleased` from the rows actually received. Degrades
    * exactly like the row path: a group outgrowing the buffer bound or
    * out-of-order cursors flip to the loud non-resumable contract
    * (batches then pass through untrimmed).
    */
  private final class ResumableBatchRead(
      h: ResumableReplicaHandle,
      schema: StructType,
      maxGroupBuffer: Int = 100000)
    extends ResumableCore[org.apache.spark.sql.vectorized.ColumnarBatch](
      h, (c, hh) => c.readPartitionColumnar(hh, schema))
    with Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] {

    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.vectorized.ColumnarBatch

    private val cursorIdx = schema.fieldIndex(h.cursor)
    // primitive getter: the per-batch scan runs per ROW, so it must not
    // box an Option per row (measured 1.3x drag on a 16-col wide scan)
    private val primAt: (ColumnarBatch, Int) => Long = {
      import org.apache.spark.sql.types._
      schema.fields(cursorIdx).dataType match {
        case LongType => (b, r) => b.column(cursorIdx).getLong(r)
        case IntegerType => (b, r) => b.column(cursorIdx).getInt(r).toLong
        case ShortType => (b, r) => b.column(cursorIdx).getShort(r).toLong
        case ByteType => (b, r) => b.column(cursorIdx).getByte(r).toLong
        case t => throw new IllegalArgumentException(
          s"non-integral resume cursor '${h.cursor}': ${t.simpleString}")
      }
    }
    // Option view, used only at batch BOUNDARIES (once per batch)
    private def cursorAt(b: ColumnarBatch, r: Int): Option[Long] =
      if (b.column(cursorIdx).isNullAt(r)) None else Some(primAt(b, r))

    // carried tail group: row COPIES — the transport reuses its vectors
    // across batches, so views would not survive the next pull
    private val pending = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    private var pendingValue: Option[Long] = None

    // ready outputs from the last processed transport batch; both are
    // consumed before the next transport pull, so neither can dangle
    // across a resume (the trimmed main batch VIEWS transport vectors)
    private var readyMini: ColumnarBatch = _
    private var readyMain: ColumnarBatch = _
    private var miniOwner: AutoCloseable = _ // vectors backing readyMini

    openAttempts(h.replica, None)

    override protected def dropPartial(): Unit = {
      pending.clear()
      pendingValue = None
    }

    /** Pack the carried rows into their own one-shot batch (their group
      * is complete). The previous mini's vectors are closed here — its
      * batch was consumed at least one delivery ago.
      */
    private def flushPending(): Unit = if (pending.nonEmpty) {
      if (miniOwner != null) {
        try miniOwner.close() catch { case _: Exception => () }
      }
      val pack = graft.connector.ColumnarPack.iterator(
        pending.toVector.iterator, schema, pending.size)
      readyMini = pack.next()
      miniOwner = pack
      pending.clear()
      pendingValue = None
    }

    private def process(b: ColumnarBatch): Unit = {
      val n = b.numRows()
      if (n == 0) return
      if (!resumable) { readyMain = b; return } // loud passthrough
      // one PRIMITIVE scan (no per-row boxing): within-batch ordering
      // (NULL group first, then non-decreasing) + start of the LAST group
      val col = b.column(cursorIdx)
      var lastNull = col.isNullAt(0)
      var lastVal = if (lastNull) 0L else primAt(b, 0)
      var inOrder = pending.isEmpty || (pendingValue match {
        case None => true // carried NULL group orders first
        case Some(p) => !lastNull && p <= lastVal
      })
      var bStart = 0
      var i = 1
      while (i < n) {
        if (col.isNullAt(i)) {
          if (!lastNull) { // non-null → NULL violates NULLS-first order
            inOrder = false; bStart = i; lastNull = true; lastVal = 0L
          } // NULL after NULL: same group
        } else {
          val v = primAt(b, i)
          if (lastNull) { bStart = i; lastNull = false; lastVal = v }
          else if (v != lastVal) {
            if (v < lastVal) inOrder = false
            bStart = i; lastVal = v
          }
        }
        i += 1
      }
      val last: Option[Long] = if (lastNull) None else Some(lastVal)
      if (!inOrder) {
        // a transport violating its own ORDER BY would make the released
        // watermark skip unseen rows — detect and go loud, like the row path
        resumable = false
        flushPending()
        readyMain = b
        return
      }
      val continues = pending.nonEmpty && pendingValue == cursorAt(b, 0)
      if (bStart == 0 && (pending.isEmpty || continues)) {
        // the whole batch is one group (possibly continuing the carry)
        pendingValue = last
        var j = 0
        while (j < n) { pending += b.getRow(j).copy(); j += 1 }
        if (pending.length >= maxGroupBuffer) {
          // one group outgrew the bound: release it partially and give up
          // resume-exactness from here on (loud contract)
          resumable = false
          flushPending()
        }
        return
      }
      // groups before bStart are complete; the tail group is carried.
      // Copy the tail BEFORE trimming (getRow asserts rowId < numRows),
      // and capture the watermark BEFORE the carry flush clears it.
      val lastComplete: Option[Long] =
        if (bStart > 0) cursorAt(b, bStart - 1) else pendingValue
      val tail = new Array[InternalRow](n - bStart)
      var j = 0
      while (j < tail.length) { tail(j) = b.getRow(bStart + j).copy(); j += 1 }
      flushPending() // the carried group completed inside this batch
      if (bStart > 0) { b.setNumRows(bStart); readyMain = b }
      pending ++= tail
      pendingValue = last
      // safe to advance at enqueue: both outputs are delivered before the
      // next transport pull, so no released-but-undelivered batch exists
      // at any point a resume can trigger
      released = Some(lastComplete)
    }

    private def fill(): Unit = {
      while (readyMini == null && readyMain == null && !drained) {
        try {
          if (current.hasNext) process(current.next())
          else {
            flushPending() // clean end: the carried group is complete
            drained = true
          }
        } catch {
          case e: IOException if resumable => resume(e)
        }
      }
    }

    override def hasNext: Boolean = {
      fill()
      readyMini != null || readyMain != null
    }

    override def next(): ColumnarBatch = {
      fill()
      if (readyMini != null) { val r = readyMini; readyMini = null; r }
      else if (readyMain != null) { val r = readyMain; readyMain = null; r }
      else throw new NoSuchElementException
    }

    override def close(): Unit = {
      super.close()
      if (miniOwner != null) {
        try miniOwner.close() catch { case _: Exception => () }
      }
    }
  }

  // ---- writes: the PRIMARY only (replica 0) — staging ids and epoch
  // markers are replica-local, so they must all land on one replica ----

  private def primary: ClickHouseClient = replicas.head

  override def insert(
      db: String, table: String, schema: StructType, rows: Seq[Row]): Long =
    primary.insert(db, table, schema, rows)
  override def insertSelect(db: String, table: String, chSelectSql: String): Long =
    primary.insertSelect(db, table, chSelectSql)
  override def stageInsert(
      db: String, table: String, schema: StructType, rows: Seq[Row],
      stagingId: String): Long =
    primary.stageInsert(db, table, schema, rows, stagingId)
  override def commitStaged(db: String, table: String, stagingId: String): Unit =
    primary.commitStaged(db, table, stagingId)
  override def abortStaged(db: String, table: String, stagingId: String): Unit =
    primary.abortStaged(db, table, stagingId)
  override def tryMarkEpochCommitted(
      db: String, table: String, marker: String): Boolean =
    primary.tryMarkEpochCommitted(db, table, marker)
  override def commitEpochStaged(
      db: String, table: String, epochMarker: String, staged: Seq[String]): Unit =
    primary.commitEpochStaged(db, table, epochMarker, staged)
}

/** Replica-tagged handle: remembers which replica planned `inner` so the
  * executor-side read streams from the replica whose cursor/spill state
  * the plan created.
  */
final case class ReplicaHandle(replica: Int, inner: ChPartitionHandle)
  extends ChPartitionHandle

/** Resumable range slice: `ordered` is the slice statement with its
  * deterministic ORDER BY (what the first open reads); `base` is the
  * original unordered slice (what resumeSlice re-plans from); `cursor`
  * names the integral split column tracked for the resume watermark.
  */
final case class ResumableReplicaHandle(
    replica: Int,
    ordered: ChPartitionHandle,
    base: ChPartitionHandle,
    cursor: String)
  extends ChPartitionHandle
