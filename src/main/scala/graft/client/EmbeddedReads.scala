package graft.client

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sql.ChClauses

/** Embedded-store partition handle: one contiguous group of spill files
  * plus the result schema (field count for the UnsafeRow reader; JSON for
  * external-row adaptation).
  */
final case class ChSpillHandle(files: Seq[String], numFields: Int, schemaJson: String)
  extends ChPartitionHandle

/** Embedded-store partition handle of a bare column read: some of the
  * scan's own file partitions (store-owned parts as hard links in the
  * result dir `pin`, attached files in place), the reader function the
  * scan would have run on them, whether that reader returns
  * ColumnarBatch blocks, and the result schema.
  */
final case class ChPartHandle(
    parts: Seq[FilePartition],
    read: PartitionedFile => Iterator[InternalRow],
    batches: Boolean,
    pin: Option[String],
    schemaJson: String) extends ChPartitionHandle

/** The embedded store's read path: planning a prepared statement into
  * stream handles, and reading them back.
  *
  * Two paths. A bare column read (the statement's prepared plan is one
  * parquet scan, see [[EmbeddedReads.bareScan]]) runs no job and copies no
  * row: it returns [[ChPartHandle]]s over the scan's own file partitions
  * ([[partHandles]]), read by the reader the scan would have run.
  *
  * Every other statement is executed once, by the spill job over the
  * statement's own cached `toRdd` (under AQE, building it runs the
  * shuffle stages once; a warm statement re-runs only the final stage),
  * and the stream fan-out happens on the spill write instead of through
  * a sizing pass and a repartitioned re-run. An un-ordered result with
  * fewer partitions than `numStreams` deals each partition's rows
  * round-robin over its share of the stream files (stream j belongs to
  * partition j % parts) and comes back as exactly `numStreams` handles,
  * as a server fans even small results across max_threads streams.
  * Otherwise partition i is stream file i (none if it is empty) and the
  * handles are contiguous file groups: a TOP-LEVEL ORDER BY result keeps
  * its range partitioning, so handle order replays the global order (a
  * subquery-only ORDER BY orders nothing outside it). An empty result is
  * one empty handle. Spill files are UnsafeRow bytes: no external-row
  * conversion on either side of the "wire".
  *
  * Result dirs live under `<root>/.spill`; a TTL reaper removes them and
  * readers pin them live. The read methods run on executors too, so
  * nothing here touches a session outside planning.
  */
private[client] final class EmbeddedReads(store: EmbeddedClickHouse) {
  import EmbeddedReads._

  def planQuery(sql: String, numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val df = store.statements.prepared(sql)
    val schema = df.schema
    val qe = perRunPlan(df)
    val direct = bareScan(qe.executedPlan, schema).flatMap(partHandles(_, schema, numStreams))
    (schema, direct.getOrElse(spillHandles(qe.toRdd, sql, schema, numStreams)))
  }

  private def spillHandles(
      internal: RDD[InternalRow], sql: String, schema: StructType,
      numStreams: Int): Seq[ChPartitionHandle] = {
    val parts = internal.getNumPartitions
    val fan = parts < numStreams &&
      !ChClauses(sql).branches.exists(_.has(ChClauses.OrderBy))
    val files = spill(internal, schema)(i =>
      if (fan) i until numStreams by parts else IndexedSeq(i))
    val groups =
      if (files.isEmpty) Seq(Seq.empty[String])
      // exactly numStreams handles; a stream no row landed in is empty
      else if (fan) (0 until numStreams).map(j => files.get(j).toSeq)
      else {
        val ordered = files.toSeq.sortBy(_._1).map(_._2)
        val streams = math.max(1, numStreams)
        ordered.grouped((ordered.length + streams - 1) / streams).toSeq
      }
    groups.map(g => ChSpillHandle(g, schema.length, schema.json))
  }

  /** The bare read's handles: the scan's file partitions dealt over
    * exactly `numStreams` handles (partition i to handle i % numStreams,
    * empty handles as padding), each with the reader function the scan
    * builds for its own tasks, so decoding is the scan's own. Store-owned
    * parts are hard-linked into a fresh spill dir first: the TTL reaper
    * and the readers' liveness pin cover it like a spill, and a later
    * merge, mutation or TRUNCATE cannot remove a file a planned read
    * still needs. Attached external files are read in place (no write
    * removes them). None when a link fails; the caller spills instead.
    */
  private def partHandles(
      scan: FileSourceScanExec, schema: StructType,
      numStreams: Int): Option[Seq[ChPartitionHandle]] = {
    val rdd = scan.inputRDD.asInstanceOf[FileScanRDD]
    val owned = Paths.get(store.root).toAbsolutePath.normalize
    def local(f: PartitionedFile) =
      Option(f.pathUri).filter(_.getScheme == "file").map(Paths.get(_))
    val toLink = rdd.filePartitions.flatMap(_.files.flatMap(local)).distinct
      .filter(_.startsWith(owned))
    val dir = if (toLink.isEmpty) None else Some(newSpillDir())
    val linked =
      try dir.fold(Map.empty[Path, Path])(d => toLink.zipWithIndex.map { case (p, i) =>
        p -> Files.createLink(d.resolve(f"$i%05d-${p.getFileName}"), p)
      }.toMap)
      catch {
        case _: java.io.IOException | _: UnsupportedOperationException =>
          dir.foreach(d => try NioFiles.deleteRecursively(d) catch { case _: Exception => () })
          return None
      }
    val parts = rdd.filePartitions.map(p => p.copy(files = p.files.map { f =>
      local(f).flatMap(linked.get).fold(f)(l =>
        f.copy(filePath = org.apache.spark.paths.SparkPath.fromUri(l.toUri)))
    }))
    val read = scanReader(scan, rdd)
    val n = math.max(1, numStreams)
    Some((0 until n).map(j => ChPartHandle(
      parts.indices.filter(_ % n == j).map(parts): Seq[FilePartition],
      read, scan.supportsColumnar, dir.map(_.toString), schema.json)))
  }

  /** A fresh result dir under `<root>/.spill`. Spill dirs from finished
    * queries are garbage once their readers are done, so anything older
    * than [[EmbeddedReads.SpillTtlMillis]] goes first (readers never
    * outlive a query by that much). The listing holds up to a TTL's worth
    * of result dirs, so a plan reaps at most once per
    * [[EmbeddedReads.SpillReapIntervalMillis]] per store root; the first
    * plan of a JVM always reaps.
    */
  private def newSpillDir(): Path = {
    val spillRoot = Paths.get(store.root, ".spill")
    val last = store.state.lastSpillReap
    val prev = last.get
    val now = System.currentTimeMillis()
    if (now - prev >= SpillReapIntervalMillis && last.compareAndSet(prev, now))
      NioFiles.sweepStale(spillRoot, now - SpillTtlMillis)
    Files.createDirectories(spillRoot.resolve(java.util.UUID.randomUUID.toString))
  }

  /** The spill job: run `rows` once, dealing partition i round-robin
    * over the streams `layout(i)` (files in a fresh spill dir); returns
    * stream → file for every stream a row landed in. A result with no
    * rows leaves no dir.
    */
  private def spill(rows: RDD[InternalRow], schema: StructType)(
      layout: Int => IndexedSeq[Int]): Map[Int, String] = {
    val dir = newSpillDir()
    val dirStr = dir.toString
    val files = rows.mapPartitionsWithIndex { (i, it) =>
      val streams = layout(i).map(j => j -> Paths.get(dirStr, f"stream-$j%05d.rows"))
      val written = RowSpill.writeRoundRobin(streams.map(_._2), schema, it).toSet
      streams.iterator.collect { case (j, f) if written(f) => j -> f.toString }
    }.collect().toMap
    if (files.isEmpty) Files.deleteIfExists(dir)
    files
  }

  /** Bucket-keyed read ([[ClickHouseClient.planQueryBuckets]]): route the
    * result through Spark's own HashPartitioning on the bucket column —
    * partition i then holds exactly the rows with
    * `pmod(murmur3(col, 42), n) = i`, which is bit-for-bit the contract
    * [[graft.catalog.ChBoundBucket]] reports to Spark's storage-
    * partitioned join. EXACTLY n handles come back, index = bucket id
    * (empty buckets stay as empty handles so both join sides always
    * align positionally).
    */
  def planQueryBuckets(
      sql: String, bucketColumn: String, numBuckets: Int): (StructType, Seq[ChPartitionHandle]) = {
    val df = store.statements.prepared(sql)
    val schema = df.schema
    require(schema.fieldNames.contains(bucketColumn),
      s"bucket column '$bucketColumn' not in result schema " +
        schema.fieldNames.mkString(", "))
    val files = spill(
      df.repartition(numBuckets, df(bucketColumn)).queryExecution.toRdd, schema)(
      IndexedSeq(_))
    (schema, (0 until numBuckets).map(i =>
      ChSpillHandle(files.get(i).toSeq, schema.length, schema.json)))
  }

  def readPartitionInternal(handle: ChPartitionHandle, schema: StructType): Iterator[InternalRow] =
    handle match {
      case ChSpillHandle(files, numFields, _) =>
        files.headOption.foreach(f => pinLive(Paths.get(f).getParent))
        val it = new SpillPartitionIterator(files, numFields)
        // abandoned reads (pushed limits, killed tasks) close at task
        // completion rather than waiting for GC
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => it.close()))
        it
      case h: ChPartHandle =>
        // the reader's rows (or batch rows) are reused buffers
        val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
        val out = openParts(h)
        val rows =
          if (h.batches) out.asInstanceOf[Iterator[ColumnarBatch]].flatMap(_.rowIterator.asScala)
          else out
        rows.map {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.copy()
          case r => toUnsafe(r).copy()
        }
      case other => notOurs(other)
    }

  /** A bare read's batches as the scan's reader made them; None for a
    * handle whose rows the caller packs.
    */
  def batches(handle: ChPartitionHandle): Option[Iterator[ColumnarBatch]] =
    handle match {
      case h: ChPartHandle if h.batches => Some(openParts(h).asInstanceOf[Iterator[ColumnarBatch]])
      case _ => None
    }

  def readPartition(handle: ChPartitionHandle): Iterator[Row] = {
    val schemaJson = handle match {
      case h: ChSpillHandle => h.schemaJson
      case h: ChPartHandle => h.schemaJson
      case other => notOurs(other)
    }
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val de = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(schema)
      .resolveAndBind().createDeserializer()
    readPartitionInternal(handle, schema).map(de(_))
  }

  /** The handle's files through its reader, in partition order. Readers
    * close their file at exhaustion and at task completion.
    */
  private def openParts(h: ChPartHandle): Iterator[InternalRow] = {
    h.pin.foreach(d => pinLive(Paths.get(d)))
    h.parts.iterator.flatMap(_.files).flatMap(h.read)
  }

  /** Liveness pin: touching a result dir's mtime keeps the TTL reaper
    * away while the result still has readers (late retries, recomputed
    * cached plans).
    */
  private def pinLive(dir: Path): Unit =
    try Files.setLastModifiedTime(dir,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: Exception => () }

  private def notOurs(h: ChPartitionHandle): Nothing =
    throw new IllegalArgumentException(s"not an embedded-store handle: ${h.getClass.getName}")
}

private[client] object EmbeddedReads {
  /** Result dirs (and the store's orphaned write dirs) older than this are
    * garbage.
    */
  val SpillTtlMillis: Long = 30L * 60 * 1000

  /** Spill-dir reaps run at most this often per store root. */
  val SpillReapIntervalMillis: Long = 60L * 1000

  /** The QueryExecution a [[EmbeddedReads.planQuery]] runs: the prepared
    * statement's own, cached with it, unless the statement reads the
    * clock. The optimizer folds now() / today() into the plan
    * (ComputeCurrentTime), so a cached plan would replay its first run's
    * time; such a statement gets a fresh QueryExecution per run.
    */
  def perRunPlan(df: DataFrame): QueryExecution = {
    val qe = df.queryExecution
    val readsClock = qe.analyzed.collectWithSubqueries {
      case p if p.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE) => p
    }.nonEmpty
    if (readsClock) df.sparkSession.sessionState.executePlan(qe.analyzed) else qe
  }

  /** The parquet scan a bare column read is: the executed plan is a
    * FileSourceScanExec, alone or under ColumnarToRow / whole-stage
    * codegen, with no data, partition or runtime filter, no partition,
    * bucket or metadata column, and output equal to `schema`. Any
    * operator above it (filter, project, aggregate, sort, limit, union,
    * window, a local relation) leaves the statement on the spill path.
    */
  def bareScan(plan: SparkPlan, schema: StructType): Option[FileSourceScanExec] = {
    import org.apache.spark.sql.execution._
    plan match {
      case p: WholeStageCodegenExec => bareScan(p.child, schema)
      case p: ColumnarToRowExec => bareScan(p.child, schema)
      case p: InputAdapter => bareScan(p.child, schema)
      case s: FileSourceScanExec
        if s.partitionFilters.isEmpty && s.dataFilters.isEmpty &&
          s.relation.partitionSchema.isEmpty && !s.bucketedScan &&
          s.optionalBucketSet.isEmpty && s.fileConstantMetadataColumns.isEmpty &&
          s.output.map(a => (a.name, a.dataType)) ==
            s.requiredSchema.map(f => (f.name, f.dataType)) &&
          s.output.map(a => (a.name, a.dataType)) == schema.map(f => (f.name, f.dataType)) =>
        Some(s)
      case _ => None
    }
  }

  private val scanReaders = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, PartitionedFile => Iterator[InternalRow]])

  /** The reader function `scan` builds for its own tasks (options and
    * Hadoop conf as FileSourceScanExec passes them), once per planned
    * scan: building one broadcasts the session's Hadoop conf, about 11 ms
    * of a 13 ms warm bare-read `planQuery` on 4 cores. Keyed weakly on
    * the scan's cached `inputRDD`, so it lives as long as the plan.
    */
  def scanReader(scan: FileSourceScanExec, rdd: FileScanRDD): PartitionedFile => Iterator[InternalRow] =
    Option(scanReaders.get(rdd)).getOrElse {
      val rel = scan.relation
      val read = rel.fileFormat.buildReaderWithPartitionValues(
        rel.sparkSession, rel.dataSchema, rel.partitionSchema, scan.requiredSchema, Nil,
        rel.options + (org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH ->
          scan.supportsColumnar.toString),
        scan.getHadoopConf(rel.sparkSession, rel.options))
      scanReaders.put(rdd, read)
      read
    }

  /** Sequential reader over one handle's spill files; closing releases
    * the in-flight file's descriptor immediately.
    */
  final class SpillPartitionIterator(files: Seq[String], numFields: Int)
    extends Iterator[InternalRow] with AutoCloseable {
    private val fileIt = files.iterator
    private var cur: RowSpill.SpillFileIterator = _

    override def hasNext: Boolean = {
      while ((cur == null || !cur.hasNext) && fileIt.hasNext)
        cur = RowSpill.read(Paths.get(fileIt.next()), numFields)
      cur != null && cur.hasNext
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      cur.next()
    }

    override def close(): Unit = if (cur != null) cur.close()
  }
}
