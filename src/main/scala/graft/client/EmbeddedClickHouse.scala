package graft.client

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StructField, StructType}

import graft.types.ClickHouseType

/** Embedded, parquet-backed stand-in for a ClickHouse server (the
  * reference's `mocks` transport, `src/connection.rs`, but executing real
  * queries, so the entire pushdown path is exercised hermetically).
  *
  * Store layout: `<root>/<db>/<table>/table.meta` (TSV: columns with
  * ClickHouse types, engine options, external data paths) plus inserted
  * parquet part files. This class is the store: metadata, DDL, ALTER,
  * part listings, projections, materialized views, system tables and the
  * staged and epoch write protocols. "Remote" SQL — the ClickHouse dialect
  * our unparser generates — resolves in [[EmbeddedStatements]] on an
  * isolated child SparkSession standing in for the server's own engine,
  * and [[EmbeddedReads]] plans it into stream handles and reads them.
  * Per-root state shared by every client of one root lives in
  * [[EmbeddedClickHouse.RootState]].
  */
final class EmbeddedClickHouse(val root: String) extends ClickHouseClient {

  override def connectionKey: String = s"embedded:${Paths.get(root).toAbsolutePath}"

  // looked up again where the client is deserialized (read and write tasks)
  @transient private[client] lazy val state = EmbeddedClickHouse.rootState(root)
  @transient private[client] lazy val clock = state.clock
  @transient private[client] lazy val statements = new EmbeddedStatements(this)
  @transient private lazy val reads = new EmbeddedReads(this)

  // every write and DDL moves the store's one counter, so its value is a
  // change-detectable data token; it stays store-wide (not per table)
  override def dataVersionToken: Option[String] = Some(clock.counter.get.toString)

  private def dbPath(db: String): Path = Paths.get(root, db)
  private def tablePath(db: String, table: String): Path = Paths.get(root, db, table)
  private def metaPath(db: String, table: String): Path =
    tablePath(db, table).resolve("table.meta")

  // ---- the `system` metadata database (read-only, synthesized) ----
  //
  // A real server ships system.{databases,tables,columns,parts}; the
  // reference reaches them with NO special code — its catalog lists
  // whatever databases the server reports and passthrough SQL executes
  // server-side — so connector users expect to query them. The embedded
  // model synthesizes them from store metadata at read time (the HTTP
  // transport keeps the reference's passthrough behavior untouched).
  // Count columns are declared Int64 rather than the server's UInt64:
  // UInt64 maps to DECIMAL(20,0) on the Spark side and metadata counts
  // never approach 2^63 (deliberate width narrowing, documented here).
  private[client] def isSystem(db: String): Boolean = db == "system"

  private val systemSchemas: Map[String, Seq[(String, String)]] = Map(
    "databases" -> Seq("name" -> "String"),
    "tables" -> Seq(
      "database" -> "String", "name" -> "String", "engine" -> "String",
      "total_rows" -> "Nullable(Int64)",
      "sorting_key" -> "String", "partition_key" -> "String"),
    "columns" -> Seq(
      "database" -> "String", "table" -> "String", "name" -> "String",
      "type" -> "String", "position" -> "Int64"),
    "parts" -> Seq(
      "database" -> "String", "table" -> "String", "name" -> "String",
      "rows" -> "Int64", "bytes_on_disk" -> "Int64", "active" -> "Bool"),
    "projections" -> Seq(
      "database" -> "String", "table" -> "String", "name" -> "String",
      "definition" -> "String",
      "parts_built" -> "Int64", "parts_total" -> "Int64"))

  private def rejectSystem(db: String, what: String): Unit =
    require(!isSystem(db),
      s"$what: the system database is read-only (server-model parity)")

  override def listDatabases(): Seq[String] = {
    val r = Paths.get(root)
    val real =
      if (!Files.isDirectory(r)) Seq.empty
      else NioFiles.list(r).iterator.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).filterNot(_.startsWith(".")) // .spill etc.
        .toSeq
    (real :+ "system").distinct.sorted
  }

  override def listTables(db: String): Seq[String] =
    if (isSystem(db)) systemSchemas.keys.toSeq.sorted
    else {
      val d = dbPath(db)
      if (!Files.isDirectory(d)) Seq.empty
      else NioFiles.list(d).iterator
        .filter(p => Files.exists(p.resolve("table.meta")))
        .map(_.getFileName.toString).toSeq.sorted
    }

  override def tableExists(db: String, table: String): Boolean =
    if (isSystem(db)) systemSchemas.contains(table)
    else Files.exists(metaPath(db, table))

  private[client] def readMeta(db: String, table: String): (Seq[(String, String)], Map[String, String], Seq[String]) = {
    if (isSystem(db)) {
      require(systemSchemas.contains(table), s"no such table: $db.$table")
      return (systemSchemas(table), Map("engine" -> "SystemTable"), Seq.empty)
    }
    require(tableExists(db, table), s"no such table: $db.$table")
    val lines = Files.readAllLines(metaPath(db, table)).asScala.toSeq
    val cols = lines.collect { case l if l.startsWith("column\t") =>
      val Array(_, n, t) = l.split("\t", 3); (n, t)
    }
    val opts = lines.collect { case l if l.startsWith("option\t") =>
      val Array(_, k, v) = l.split("\t", 3); (k, v)
    }.toMap
    val ext = lines.collect { case l if l.startsWith("external\t") => l.split("\t", 2)(1) }
    (cols, opts, ext)
  }

  /** A table a write rewrites in place, with its columns and options:
    * not a system table, existing, and without attached external data
    * (a zero-copy view over files the store does not own is read-only).
    */
  private def ownedTable(
      db: String, table: String, what: String): (Seq[(String, String)], Map[String, String]) = {
    rejectSystem(db, s"$what $db.$table")
    require(tableExists(db, table), s"no such table: $db.$table")
    val (cols, opts, ext) = readMeta(db, table)
    require(ext.isEmpty, s"$what $db.$table: table has attached external data (read-only)")
    (cols, opts)
  }

  override def fetchColumns(db: String, table: String): Seq[(String, String)] =
    readMeta(db, table)._1

  override def fetchTableOptions(db: String, table: String): Map[String, String] =
    readMeta(db, table)._2

  override def createDatabase(db: String, ifNotExists: Boolean): Unit = {
    require(!isSystem(db) || ifNotExists, "database system already exists")
    if (isSystem(db)) return
    val d = dbPath(db)
    if (Files.exists(d) && !ifNotExists) sys.error(s"database $db already exists")
    Files.createDirectories(d)
    clock.catalogChanged()
  }

  override def dropDatabase(db: String): Unit = {
    rejectSystem(db, "DROP DATABASE")
    NioFiles.deleteRecursively(dbPath(db))
    clock.catalogChanged()
  }

  override def createTable(
      db: String,
      table: String,
      columns: Seq[(String, String)],
      options: Map[String, String]): Unit = {
    rejectSystem(db, s"CREATE TABLE $db.$table")
    createDatabase(db, ifNotExists = true)
    require(!Files.exists(mvMetaPath(db, table)),
      s"CREATE TABLE $db.$table: a materialized view of that name exists")
    // validate every type string parses before persisting anything
    columns.foreach { case (_, t) => ClickHouseType.parse(t) }
    options.get("ttl").foreach(e => validateTtl(db, table, columns, e))
    val dir = tablePath(db, table)
    Files.createDirectories(dir)
    val lines =
      columns.map { case (n, t) => s"column\t$n\t$t" } ++
        options.toSeq.sortBy(_._1).map { case (k, v) => s"option\t$k\t$v" } ++
        options.get("external_paths").toSeq.flatMap(_.split(",")).map(p => s"external\t$p")
    Files.write(metaPath(db, table), lines.asJava)
    clock.catalogChanged()
  }

  /** Attach existing parquet files as the table's data (zero-copy). */
  def attachExternal(db: String, table: String, paths: Seq[String]): Unit = {
    rejectSystem(db, s"ATTACH to $db.$table")
    val (cols, opts, ext) = readMeta(db, table)
    val lines =
      cols.map { case (n, t) => s"column\t$n\t$t" } ++
        opts.toSeq.sortBy(_._1).map { case (k, v) => s"option\t$k\t$v" } ++
        (ext ++ paths).distinct.map(p => s"external\t$p")
    Files.write(metaPath(db, table), lines.asJava)
    clock.catalogChanged()
  }

  override def dropTable(db: String, table: String): Unit = {
    rejectSystem(db, s"DROP TABLE $db.$table")
    NioFiles.deleteRecursively(tablePath(db, table))
    clock.catalogChanged()
  }

  /** ALTER TABLE by part rewrite: the embedded analog of a server
    * MODIFY-COLUMN materialization (the store rewrites its parts, like
    * [[deleteWhere]]). ADD fills ClickHouse column defaults (0 / '' /
    * epoch / empty composite; NULL when Nullable); RENAME/DROP/MODIFY of
    * key columns (order_by / partition_by / sampling / primary_keys)
    * are rejected — stricter than a server, which rewrites key
    * references on RENAME, but never silently wrong. Narrowing
    * Nullable→non-Nullable re-checks the data and rejects on any NULL.
    */
  override def alterTable(db: String, table: String, ops: Seq[ChAlterOp]): Unit = {
    val (cols, opts) = ownedTable(db, table, "ALTER TABLE")
    require(ops.nonEmpty, "ALTER TABLE requires at least one change")
    val keyCols: Set[String] =
      Seq("order_by", "partition_by", "sampling", "primary_keys")
        .flatMap(opts.get)
        .flatMap(_.split("[^A-Za-z0-9_]+")).filter(_.nonEmpty).toSet
    val qt = graft.sql.ChSql.quoteTable(db, table)
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col

    // the one SQL round-trip: a plain SELECT * — every column transform
    // below is built from typed Column objects (no SQL casts to
    // mis-translate)
    val base = statements.resolve(s"SELECT * FROM $qt")

    // fold ops over (name, chType, column-over-OLD-table); every op
    // validates against the state at ITS point in the sequence, like the
    // server applying one comma-joined ALTER in declaration order
    var state: Vector[(String, String, Column)] =
      cols.toVector.map { case (n, t) => (n, t, col(s"`${n.replace("`", "``")}`")) }
    def idxOf(op: String, n: String): Int = {
      val i = state.indexWhere(_._1 == n)
      require(i >= 0, s"ALTER TABLE $db.$table $op: no such column '$n'")
      i
    }
    var newOpts = opts
    var colsChanged = false
    // a column a projection references cannot be dropped/renamed/retyped
    // under it — the stored states would silently diverge from the
    // definition (a server refuses too); drop the projection first
    def guardProjections(op: String, col: String): Unit =
      listProjections(db, table).foreach { d =>
        require(!raw"(?<![A-Za-z0-9_])${java.util.regex.Pattern.quote(col)}(?![A-Za-z0-9_])".r
          .findFirstIn(d.defSql.replace("`", "")).isDefined,
          s"ALTER TABLE $db.$table $op '$col': projection '${d.name}' " +
            s"references it — DROP PROJECTION ${d.name} first")
      }
    ops.foreach {
      case ChAlterOp.AddProjection(n, defSql) =>
        val d = ChProjections.parseDef(n, defSql)
        require(!listProjections(db, table).exists(_.name == n),
          s"ADD PROJECTION $n: $db.$table already has a projection of " +
            "that name")
        validateProjectionDef(db, table, state.map(s => (s._1, s._2)), d)
        // recorded for NEW parts only; MATERIALIZE backfills (server
        // semantics — ADD is metadata-speed)
        writeProjectionMeta(db, table,
          listProjections(db, table).map(p => (p.name, p.defSql)) :+
            ((n, defSql)))
      case ChAlterOp.DropProjection(n) =>
        require(listProjections(db, table).exists(_.name == n),
          s"DROP PROJECTION $n: no such projection on $db.$table")
        writeProjectionMeta(db, table,
          listProjections(db, table).filterNot(_.name == n)
            .map(p => (p.name, p.defSql)))
        NioFiles.deleteRecursively(projDataDir(db, table, n))
      case ChAlterOp.MaterializeProjection(n) =>
        val d = listProjections(db, table).find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"MATERIALIZE PROJECTION $n: no such projection on $db.$table"))
        materializeProjection(db, table, d)
      case ChAlterOp.ModifyTtl(expr) =>
        // TTL is table metadata until a merge (no part rewrite here);
        // [[optimizeTable]] applies the expiry rule. The expression must
        // type-check as Date/DateTime over the CURRENT column state —
        // the server validates this at DDL time, and a stored TTL that
        // could never be applied at merge time is a silent lie
        expr.foreach(e => validateTtl(db, table, state.map(s => (s._1, s._2)), e))
        newOpts = expr match {
          case Some(e) => newOpts + ("ttl" -> e)
          case None => newOpts - "ttl"
        }
      case ChAlterOp.AddColumn(n, t, pos) =>
        colsChanged = true
        require(!state.exists(_._1 == n),
          s"ALTER TABLE $db.$table ADD COLUMN: column '$n' already exists")
        val added = (n, t, defaultColumn(n, ClickHouseType.parse(t)))
        pos match {
          case None => state :+= added
          case Some(None) => state +:= added // FIRST
          case Some(Some(c)) =>
            val i = idxOf("ADD COLUMN ... AFTER", c)
            state = state.patch(i + 1, Seq(added), 0)
        }
      case ChAlterOp.DropColumn(n) =>
        colsChanged = true
        val i = idxOf("DROP COLUMN", n)
        require(!keyCols.contains(n),
          s"ALTER TABLE $db.$table DROP COLUMN: '$n' is a key column")
        guardProjections("DROP COLUMN", n)
        require(state.size > 1,
          s"ALTER TABLE $db.$table DROP COLUMN: cannot drop the only column")
        state = state.patch(i, Nil, 1)
      case ChAlterOp.RenameColumn(a, b) =>
        colsChanged = true
        val i = idxOf("RENAME COLUMN", a)
        require(!keyCols.contains(a),
          s"ALTER TABLE $db.$table RENAME COLUMN: '$a' is a key column")
        guardProjections("RENAME COLUMN", a)
        require(!state.exists(_._1 == b),
          s"ALTER TABLE $db.$table RENAME COLUMN: column '$b' already exists")
        state = state.updated(i, (b, state(i)._2, state(i)._3))
      case ChAlterOp.ModifyType(n, t) =>
        colsChanged = true
        val i = idxOf("MODIFY COLUMN", n)
        require(!keyCols.contains(n),
          s"ALTER TABLE $db.$table MODIFY COLUMN: '$n' is a key column")
        guardProjections("MODIFY COLUMN", n)
        val oldP = ClickHouseType.parse(state(i)._2)
        val newP = ClickHouseType.parse(t)
        if (oldP.nullable && !newP.nullable) {
          // honored-or-rejected: a server MODIFY to non-Nullable fails
          // on existing NULLs instead of inventing values — so do we
          val nulls = base.where(state(i)._3.isNull).count()
          require(nulls == 0L,
            s"ALTER TABLE $db.$table MODIFY COLUMN '$n' to non-Nullable: " +
              s"$nulls existing NULL value(s)")
        }
        state = state.updated(i, (n, t, state(i)._3.cast(newP.dataType)))
    }

    if (colsChanged)
      rewritePartsDf(db, table,
        base.select(state.map { case (n, _, c) => c.as(n) }: _*))
    // parts first, meta second: a half-applied alter leaves data readable
    // under the OLD meta for every surviving column (embedded store is a
    // single-JVM test double; the server's DDL is atomic)
    val lines =
      state.map { case (n, t, _) => s"column\t$n\t$t" } ++
        newOpts.toSeq.sortBy(_._1).map { case (k, v) => s"option\t$k\t$v" }
    Files.write(metaPath(db, table), lines.asJava)
    clock.catalogChanged()
  }

  /** ClickHouse column DEFAULT for an added column: NULL when Nullable,
    * the type's zero value otherwise (0 / '' / false / epoch / empty
    * array / empty map). Tuple adds need Nullable(...) — matching the
    * server's refusal to invent a composite default.
    */
  private def defaultColumn(
      name: String, p: ClickHouseType.Parsed): org.apache.spark.sql.Column =
    if (p.nullable) org.apache.spark.sql.functions.lit(null).cast(p.dataType)
    else EmbeddedClickHouse.zeroValue(p.dataType).getOrElse(throw new IllegalArgumentException(
      s"ADD COLUMN '$name': no default for type ${p.dataType.sql} — add it as Nullable"))

  /** TTL expressions must evaluate to Date/DateTime over the table's
    * columns — the server validates this at DDL time ("TTL expression
    * result column should have Date or DateTime type"), and a stored
    * TTL that could never be applied at merge time is a silent lie.
    * Resolution runs the translated expression over an empty frame with
    * the table's schema on the server session (full function surface).
    */
  private def validateTtl(
      db: String, table: String, cols: Seq[(String, String)], expr: String): Unit = {
    val dt = resolvedType(cols, ChSqlTranslator.translate(expr, Seq.empty))(e =>
      s"TTL expression '$expr' does not resolve over $db.$table: ${e.getMessage}")
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    require(dt == DateType || dt == TimestampType || dt == TimestampNTZType,
      s"TTL expression '$expr' on $db.$table must evaluate to Date or " +
        s"DateTime, not ${dt.sql}")
  }

  /** The type a Spark SQL expression resolves to over a table with
    * columns `cols` (analysis only, no row read), or a rejection with
    * `message`.
    */
  private def resolvedType(cols: Seq[(String, String)], sparkExpr: String)(
      message: Exception => String): org.apache.spark.sql.types.DataType =
    try statements.session.createDataFrame(java.util.Collections.emptyList[Row](),
      ClickHouseType.toStructType(cols)).selectExpr(sparkExpr).schema.head.dataType
    catch { case e: Exception => throw new IllegalArgumentException(message(e), e) }

  /** OPTIMIZE as part rewrite: consolidates every part into one; FINAL
    * on a ReplacingMergeTree(ver) table materializes the max-version
    * survivor set (the same rule FINAL reads apply on the fly, via
    * [[EmbeddedStatements]]' FINAL rewrite), so subsequent plain reads see the deduped rows —
    * the server's documented OPTIMIZE FINAL semantics. FINAL on engines
    * without a version column is a plain consolidation (no row change).
    * A declared row TTL is applied here — merges are where the server
    * expires rows (`expr <= now()` deletes; NULL keeps), so expired rows
    * stay visible to plain reads until an OPTIMIZE, exactly like a
    * server between merges.
    */
  override def optimizeTable(db: String, table: String, finalize: Boolean): Unit = {
    val (_, opts) = ownedTable(db, table, "OPTIMIZE TABLE")
    val qt = graft.sql.ChSql.quoteTable(db, table)
    val engine = opts.getOrElse("engine", "")
    val replacing = "ReplacingMergeTree\\([^)]+\\)".r
      .findFirstIn(engine).isDefined
    // Replacing dedup materializes only under OPTIMIZE FINAL (the
    // documented use); Summing collapse happens on ANY merge — a plain
    // OPTIMIZE of a SummingMergeTree table already sums the key groups
    // AggregatingMergeTree likewise combines state columns on ANY
    // merge; VersionedCollapsing cancels sign pairs on any merge too,
    // and (since round 12) so does plain CollapsingMergeTree — its
    // insertion-order collapse reads the part-sequence view.
    val collapsing = engine.startsWith("CollapsingMergeTree")
    val summing = engine.startsWith("SummingMergeTree") ||
      engine.startsWith("AggregatingMergeTree") ||
      engine.startsWith("VersionedCollapsingMergeTree") || collapsing
    // keepTombstones: a merge keeps the max-version is_deleted=1
    // survivor (a server purges it only under OPTIMIZE ... FINAL
    // CLEANUP); only FINAL READS filter tombstones
    val src =
      if ((finalize && replacing) || summing) s"SELECT * FROM $qt FINAL"
      else s"SELECT * FROM $qt"
    val base = statements.resolve(src, keepTombstones = true)
    val merged = opts.get("ttl").foldLeft(base) { (df, e) =>
      val te = ChSqlTranslator.translate(e, Seq.empty)
      df.where(s"NOT coalesce(($te) <= now(), false)")
    }
    // one part out: coalesce(1) is the merge — at embedded scale one
    // file per table is exactly what a finished merge tree looks like.
    // Collapsing keeps a defined ROW ORDER in the merged part (the next
    // collapse is order-dependent): within each key at most one cancel
    // and one state survive, and the cancel always precedes the state in
    // insert order, so (keys..., sign ASC) reproduces it exactly.
    val one = merged.coalesce(1)
    val ordered =
      if (!collapsing) one
      else {
        val signCol = "CollapsingMergeTree\\(\\s*([^)\\s]+)\\s*\\)".r
          .findFirstMatchIn(engine).map(_.group(1)).getOrElse(
            throw new IllegalArgumentException(
              s"OPTIMIZE $db.$table: CollapsingMergeTree needs (sign_column)"))
        val keys = opts.getOrElse("order_by", "").split(",")
          .map(_.trim).filter(_.nonEmpty).toSeq
        one.sortWithinPartitions(
          (keys :+ signCol).map(org.apache.spark.sql.functions.col): _*)
      }
    rewritePartsDf(db, table, ordered)
  }

  /** Partition attach as a part-file clone: the embedded analog of the
    * server's metadata-speed `ATTACH PARTITION ... FROM` applied to all
    * partitions — no rows are read or rewritten. Same-structure rule
    * honored-or-rejected: identical columns and key layout. No MV fire
    * (ATTACH is not an INSERT — server semantics).
    */
  override def attachPartitionsFrom(
      db: String, table: String, srcDb: String, srcTable: String): Unit = {
    rejectSystem(db, s"ATTACH PARTITION into $db.$table")
    rejectSystem(srcDb, s"ATTACH PARTITION FROM $srcDb.$srcTable")
    require(tableExists(db, table), s"no such table: $db.$table")
    require(tableExists(srcDb, srcTable), s"no such table: $srcDb.$srcTable")
    val (dCols, dOpts, _) = readMeta(db, table)
    val (sCols, sOpts, _) = readMeta(srcDb, srcTable)
    require(dCols == sCols,
      s"ATTACH PARTITION FROM: $db.$table and $srcDb.$srcTable differ in " +
        s"structure (server same-structure rule): $dCols vs $sCols")
    for (k <- Seq("order_by", "partition_by"))
      require(dOpts.get(k) == sOpts.get(k),
        s"ATTACH PARTITION FROM: $k differs between $db.$table and " +
          s"$srcDb.$srcTable (server same-key rule)")
    // the clones are staged without a sequence, named in SOURCE part
    // order, so the landing gives them fresh sequences in that order and
    // order-dependent collapses remain defined across an ATTACH
    publishStaged(db, table, "attach", fire = false) { dir =>
      Files.createDirectories(dir)
      dataFiles(srcDb, srcTable).zipWithIndex.foreach { case (f, i) =>
        Files.copy(Paths.get(f), dir.resolve(f"attach-$i%08d.parquet"))
      }
    }
  }

  /** DEDUPLICATE merge: full-row distinct, or — with BY columns — one
    * survivor per key, the lexicographically-smallest remaining row
    * (a reproducible "any", the Summing-representative rule).
    */
  override def optimizeDeduplicate(
      db: String, table: String, byColumns: Seq[String]): Unit = {
    val (cols, _) = ownedTable(db, table, "OPTIMIZE DEDUPLICATE")
    byColumns.foreach(c => require(cols.exists(_._1 == c),
      s"OPTIMIZE DEDUPLICATE $db.$table: no such column '$c'"))
    val df = statements.resolve(
      s"SELECT * FROM ${graft.sql.ChSql.quoteTable(db, table)}")
    val merged =
      if (byColumns.isEmpty) df.distinct()
      else {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number, struct}
        val rest = cols.map(_._1).filterNot(byColumns.contains)
        val w = Window.partitionBy(byColumns.map(col): _*)
          .orderBy(struct(rest.map(col): _*).asc_nulls_last)
        if (rest.isEmpty) df.distinct()
        else df.withColumn("__dd_rn", row_number().over(w))
          .where(org.apache.spark.sql.functions.expr("__dd_rn = 1"))
          .drop("__dd_rn")
      }
    rewritePartsDf(db, table, merged.coalesce(1))
  }

  /** TRUNCATE as wholesale part removal (metadata-speed like the
    * server — never a row-rewriting mutation). External attachments are
    * read-only and reject. Every part file goes, an unmarked epoch's
    * included, and the epoch markers clear with them so a replayed
    * streaming epoch can land again post-truncate.
    */
  override def truncateTable(db: String, table: String): Unit = {
    ownedTable(db, table, "TRUNCATE TABLE")
    NioFiles.deleteRecursively(tablePath(db, table).resolve(".epochs"))
    land(db, table, Nil, replaces = partFiles(db, table), fire = false)
  }

  /** Atomic-engine name swap: three same-filesystem moves through a temp
    * name, serialized by an OS store lock (same-JVM callers additionally
    * serialize on a per-root monitor — FileChannel.lock throws on
    * same-JVM contention rather than blocking) and made crash-recoverable
    * by a journal: a `.exchange-<uuid>.meta` sibling written BEFORE the
    * first move records (tmp, pa, pb), so a crash at any point leaves a
    * state the next open/exchange deterministically repairs — rollback if
    * only the first move landed, roll-forward if two did. Materialized
    * views are rejected on either side by the existence check — a view is
    * not a table (its dir holds only view.meta).
    */
  override def exchangeTables(db: String, a: String, db2: String, b: String): Unit = {
    rejectSystem(db, s"EXCHANGE TABLES $db.$a")
    rejectSystem(db2, s"EXCHANGE TABLES $db2.$b")
    state.exchange.synchronized {
      StoreLock.withLockNamed(s"exchange:${Paths.get(root).toAbsolutePath}") {
        recoverOrphanExchanges()
        require(tableExists(db, a), s"no such table: $db.$a")
        require(tableExists(db2, b), s"no such table: $db2.$b")
        val (pa, pb) = (tablePath(db, a), tablePath(db2, b))
        val tmp = pa.resolveSibling(s".exchange-${java.util.UUID.randomUUID}")
        val journal = pa.resolveSibling(tmp.getFileName.toString + ".meta")
        Files.write(journal, Seq(tmp, pa, pb)
          .map(_.toAbsolutePath.toString).mkString("\n").getBytes("UTF-8"))
        Files.move(pa, tmp)
        Files.move(pb, pa)
        Files.move(tmp, pb)
        Files.delete(journal)
      }
    }
    clock.catalogChanged()
  }

  /** Repair any exchange interrupted by a crash: each surviving
    * `.exchange-*.meta` journal names (tmp, a, b); the filesystem state
    * decides the unique legal continuation. Called at store open and
    * before every exchange, under the exchange lock.
    */
  private def recoverOrphanExchanges(): Unit = {
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return
    val journals = NioFiles.list(rootP).iterator.filter(Files.isDirectory(_))
      .flatMap(dbDir => NioFiles.list(dbDir).iterator
        .filter(_.getFileName.toString.matches(raw"\.exchange-[0-9a-f-]+\.meta"))
        .toSeq).toSeq
    journals.foreach { j =>
      val lines = new String(Files.readAllBytes(j), "UTF-8").split("\n")
      if (lines.length == 3) {
        val Array(tmp, pa, pb) = lines.map(Paths.get(_))
        val (tE, aE, bE) = (Files.exists(tmp), Files.exists(pa), Files.exists(pb))
        if (!tE) () // crash before move 1 (or after move 3): nothing to do
        else if (!aE && bE) Files.move(tmp, pa) // after move 1: roll back
        else if (aE && !bE) Files.move(tmp, pb) // after move 2: roll forward
        else throw new IllegalStateException(
          s"unrepairable interrupted EXCHANGE: tmp=$tmp a=$pa b=$pb all exist")
      }
      Files.delete(j)
    }
    if (journals.nonEmpty) clock.catalogChanged()
  }

  /** DROP PARTITION as a mutation: every row whose partition_by value
    * equals the given literal is deleted (the server drops the parts;
    * the embedded store's parts are not partition-organized, so the
    * row-predicate rewrite is the same observable result).
    */
  override def dropPartition(db: String, table: String, partitionValue: String): Unit = {
    rejectSystem(db, s"DROP PARTITION on $db.$table")
    require(tableExists(db, table), s"no such table: $db.$table")
    val pb = readMeta(db, table)._2.getOrElse("partition_by",
      throw new IllegalArgumentException(
        s"DROP PARTITION on $db.$table: table declares no partition_by"))
    deleteWhere(db, table, s"($pb) = ($partitionValue)")
  }

  override def renameTable(
      db: String, table: String, newDb: String, newTable: String): Unit = {
    rejectSystem(db, s"RENAME TABLE $db.$table")
    rejectSystem(newDb, s"RENAME TABLE to $newDb.$newTable")
    require(tableExists(db, table), s"no such table: $db.$table")
    require(Files.isDirectory(dbPath(newDb)), s"no such database: $newDb")
    require(!tableExists(newDb, newTable),
      s"RENAME TABLE target already exists: $newDb.$newTable")
    Files.move(tablePath(db, table), tablePath(newDb, newTable))
    clock.catalogChanged()
  }

  // ---- projections (per-part pre-aggregates, server semantics) ----

  private def projMetaPath(db: String, table: String): Path =
    tablePath(db, table).resolve("projections.meta")

  private[client] def projDataDir(db: String, table: String, name: String): Path =
    tablePath(db, table).resolve(".projections").resolve(name)

  /** Declared projections of a table (empty for system / missing). */
  def listProjections(db: String, table: String): Seq[ChProjections.ProjectionDef] = {
    val p = projMetaPath(db, table)
    if (isSystem(db) || !Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val Array(n, b64) = line.split("\t", 2)
      ChProjections.parseDef(n,
        new String(java.util.Base64.getDecoder.decode(b64),
          java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  private def writeProjectionMeta(
      db: String, table: String, defs: Seq[(String, String)]): Unit = {
    val lines = defs.map { case (n, sql) =>
      s"$n\t${java.util.Base64.getEncoder.encodeToString(
        sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))}"
    }
    if (lines.isEmpty) Files.deleteIfExists(projMetaPath(db, table))
    else Files.write(projMetaPath(db, table), lines.asJava)
    ()
  }

  /** Every expression in the definition must resolve over the table's
    * columns; sum/avg arguments must be numeric and non-Decimal (sums of
    * sums change a Decimal's precision, and avg-of-states its scale —
    * the rewritten schema would differ from the base scan's, a visible
    * lie the swap-time schema check would reject on every read anyway).
    */
  private def validateProjectionDef(
      db: String, table: String, cols: Seq[(String, String)],
      d: ChProjections.ProjectionDef): Unit = {
    def resolve(frag: String, what: String): org.apache.spark.sql.types.DataType =
      resolvedType(cols, ChSqlTranslator.translateFragment(frag, Seq.empty))(e =>
        s"ADD PROJECTION ${d.name}: $what '$frag' does not resolve over " +
          s"$db.$table: ${e.getMessage}")
    d.rawKeys.foreach(k => resolve(k, "GROUP BY key"))
    d.aggs.foreach { a =>
      if (a.arg.nonEmpty) {
        val dt = resolve(a.rawArg, s"${a.fn} argument")
        if (a.fn == "sum" || a.fn == "avg") {
          import org.apache.spark.sql.types._
          require(dt.isInstanceOf[NumericType],
            s"ADD PROJECTION ${d.name}: ${a.fn}(${a.rawArg}) needs a " +
              s"numeric argument (got ${dt.sql})")
          require(!dt.isInstanceOf[DecimalType],
            s"ADD PROJECTION ${d.name}: ${a.fn} over Decimal cannot be " +
              "re-merged from per-part states without changing the " +
              "result precision — project the raw column instead")
        }
      }
    }
  }

  /** Build one projection's state rows for ONE part file, atomically:
    * a Spark write into a hidden staging dir, then a same-fs rename to
    * `.projections/<name>/<partFileName>`. Called by [[land]] with STAGED
    * part files before they land (a failed build aborts the whole landing
    * with nothing visible) and with live files on MATERIALIZE.
    */
  private def buildProjectionPart(
      db: String, table: String, d: ChProjections.ProjectionDef,
      srcFile: Path, outName: String): Unit = {
    val child = statements.session
    val tmp = s"__ch_projsrc_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    child.read.schema(sparkSchema(db, table)).parquet(srcFile.toString)
      .createOrReplaceTempView(tmp)
    try {
      val tr = ChSqlTranslator.translate(d.buildSql(tmp), Seq.empty)
      val df = child.sql(tr)
      val projRoot = projDataDir(db, table, d.name)
      Files.createDirectories(projRoot)
      val staging = projRoot.resolve(s".build-${java.util.UUID.randomUUID}")
      df.write.parquet(staging.toString)
      val target = projRoot.resolve(outName)
      if (Files.exists(target)) NioFiles.deleteRecursively(target)
      Files.move(staging, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally {
      child.catalog.dropTempView(tmp)
      ()
    }
  }

  /** Backfill every live part lacking this projection's state dir —
    * `ALTER TABLE ... MATERIALIZE PROJECTION` (the server's mutation).
    */
  private def materializeProjection(
      db: String, table: String, d: ChProjections.ProjectionDef): Unit = {
    dataFiles(db, table).foreach { f =>
      val p = Paths.get(f)
      val name = p.getFileName.toString
      if (!Files.isDirectory(projDataDir(db, table, d.name).resolve(name)))
        buildProjectionPart(db, table, d, p, name)
    }
    clock.catalogChanged()
  }

  /** Remove state dirs whose part no longer exists (mutations and
    * merges land REWRITTEN parts and delete the originals). A part of an
    * epoch not yet marked is live: its landing built its states.
    */
  private def pruneProjectionOrphans(db: String, table: String): Unit = {
    val defs = listProjections(db, table)
    if (defs.isEmpty) return
    val live = partFiles(db, table).map(_.getFileName.toString).toSet
    defs.foreach { d =>
      val dir = projDataDir(db, table, d.name)
      if (Files.isDirectory(dir))
        NioFiles.list(dir).iterator.foreach { c =>
          val n = c.getFileName.toString
          if (!n.startsWith(".build-") && !live.contains(n))
            NioFiles.deleteRecursively(c)
        }
    }
  }

  // ---- materialized views (insert triggers, server semantics) ----

  private def mvMetaPath(db: String, name: String): Path =
    tablePath(db, name).resolve("view.meta")

  private def readMv(db: String, name: String): EmbeddedClickHouse.MvDef = {
    val lines = Files.readAllLines(mvMetaPath(db, name)).asScala
    val m = lines.map(_.split("\t", 3)).map(a => a(0) -> a.drop(1)).toMap
    val Array(tDb, tT) = m("mview")(0).split("\\.", 2)
    val Array(sDb, sT) = m("source")(0).split("\\.", 2)
    EmbeddedClickHouse.MvDef(db, name, sDb, sT, tDb, tT, m("mview")(1))
  }

  /** View definitions, memoized on the store clock's catalog stamp: the
    * lookup runs on EVERY insert commit (streaming sinks commit per
    * batch), but the definition set only changes with DDL (or a change
    * made outside this client, [[EmbeddedClickHouse.invalidate]]), and
    * inserts stamp only their table. The stamp is read before the
    * listing, so a racing DDL leaves the memo stale, never fresh.
    */
  private def allMvs: Seq[EmbeddedClickHouse.MvDef] = {
    val at = clock.catalogStamp
    val (memoAt, memo) = state.mvs
    if (memoAt == at) memo
    else {
      val defs =
        for (db <- listDatabases().filterNot(isSystem);
             name <- listMaterializedViews(db)) yield readMv(db, name)
      state.mvs = (at, defs)
      defs
    }
  }

  override def listMaterializedViews(db: String): Seq[String] = {
    val d = dbPath(db)
    if (isSystem(db) || !Files.isDirectory(d)) Seq.empty
    else NioFiles.list(d).iterator
      .filter(p => Files.exists(p.resolve("view.meta")))
      .map(_.getFileName.toString).toSeq.sorted
  }

  override def createMaterializedView(db: String, name: String,
      targetDb: String, targetTable: String, chSelectSql: String,
      populate: Boolean): Unit = {
    rejectSystem(db, s"CREATE MATERIALIZED VIEW $db.$name")
    rejectSystem(targetDb, s"MATERIALIZED VIEW target $targetDb.$targetTable")
    require(Files.isDirectory(dbPath(db)), s"no such database: $db")
    require(!tableExists(db, name) && !Files.exists(mvMetaPath(db, name)),
      s"CREATE MATERIALIZED VIEW: $db.$name already exists")
    // TO-form: the target holds the data and must pre-exist
    require(tableExists(targetDb, targetTable),
      s"CREATE MATERIALIZED VIEW $db.$name: TO target " +
        s"$targetDb.$targetTable does not exist")
    // the trigger needs ONE unambiguous source; the server fires multi-
    // table selects only on the left-most table (a documented footgun) —
    // honored-or-rejected, we require a single-table select instead
    val referenced =
      ChSqlTranslator.tablesIn(chSelectSql, knownTables.filterNot(t => isSystem(t._1)))
    require(referenced.size == 1,
      s"CREATE MATERIALIZED VIEW $db.$name: the select must read exactly " +
        s"one source table (found ${referenced.size}: " +
        referenced.map { case (d, t) => s"$d.$t" }.mkString(", ") + ")")
    val (srcDb, srcTable) = referenced.head
    require(!(srcDb == targetDb && srcTable == targetTable),
      s"CREATE MATERIALIZED VIEW $db.$name: source and target are the " +
        "same table (every insert would re-trigger itself)")
    // a chain of views from the target back to the source would loop on
    // every insert — the server rejects the cycle, so do we
    def reaches(fromDb: String, fromTable: String,
        seen: Set[(String, String)]): Boolean =
      (fromDb, fromTable) == ((srcDb, srcTable)) ||
        allMvs.filter(m => m.srcDb == fromDb && m.srcTable == fromTable)
          .exists { m =>
            val t = (m.targetDb, m.targetTable)
            !seen(t) && reaches(m.targetDb, m.targetTable, seen + t)
          }
    require(!reaches(targetDb, targetTable, Set.empty),
      s"CREATE MATERIALIZED VIEW $db.$name: cyclic view chain — inserts " +
        s"into $targetDb.$targetTable feed back into $srcDb.$srcTable")
    // the transform must resolve as it fires — over one block of the
    // source, here an empty one — and insert cleanly into the target
    val out =
      try statements.resolve(chSelectSql,
        block = Some(((srcDb, srcTable), Nil))).schema
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW $db.$name: select does not resolve: " +
          e.getMessage, e) }
    val errs = fitErrors(out, sparkSchema(targetDb, targetTable))
    require(errs.isEmpty,
      s"CREATE MATERIALIZED VIEW $db.$name: select does not fit target " +
        s"$targetDb.$targetTable: ${errs.mkString("; ")}")
    // POPULATE: backfill the target from the source's EXISTING rows
    // strictly BEFORE the trigger arms (view.meta write) — rows already
    // present appear in the target exactly once, and the first
    // post-create insert fires the trigger over only its own block.
    // Backfill through insertSelect: staged-commit atomicity, and the
    // TARGET's own views fire on the landed backfill (chain semantics).
    if (populate) insertSelect(targetDb, targetTable, chSelectSql)
    Files.createDirectories(tablePath(db, name))
    Files.write(mvMetaPath(db, name), Seq(
      // meta is line-based: flatten the select (SQL is whitespace-blind)
      s"mview\t$targetDb.$targetTable\t${chSelectSql.replaceAll("\\s+", " ").trim}",
      s"source\t$srcDb.$srcTable").asJava)
    clock.catalogChanged()
  }

  override def dropMaterializedView(db: String, name: String): Unit = {
    require(Files.exists(mvMetaPath(db, name)),
      s"no such materialized view: $db.$name")
    NioFiles.deleteRecursively(tablePath(db, name))
    clock.catalogChanged()
  }

  /** The insert trigger: transform the freshly-landed block (ONLY the
    * new part files) through each view on the source and append the
    * result to its target via the staged protocol — whose commit
    * cascades into the target's own views (chains, cycle-checked at
    * create). Runs driver-side at commit time; per-thread re-entrancy
    * guard as defense in depth behind the create-time cycle check.
    */
  private def fireMaterializedViews(db: String, table: String, block: Seq[Path]): Unit = {
    val mvs = allMvs.filter(m => m.srcDb == db && m.srcTable == table)
    if (mvs.isEmpty || block.isEmpty) return
    val key = s"$db.$table"
    val firing = EmbeddedClickHouse.firingMvs.get()
    require(!firing.contains(key),
      s"materialized view cascade loops through $key")
    EmbeddedClickHouse.firingMvs.set(firing + key)
    try mvs.foreach { m =>
      // during the trigger the source IS the inserted block (server
      // semantics)
      val sink = sparkSchema(m.targetDb, m.targetTable)
      val out = statements.resolve(m.select,
        block = Some(((db, table), block)))
        .select(sink.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      publishStaged(m.targetDb, m.targetTable, "mv", fire = true)(dir =>
        out.write.parquet(dir.toString))
      MvRefresh.pending.add((connectionKey, m.targetDb, m.targetTable))
    } finally EmbeddedClickHouse.firingMvs.set(firing)
  }

  /** View schema for the embedded child session. Columns DECLARED
    * UInt8/16/32 carry their declared type as field metadata
    * (`graft.ch.declared`): Spark stores them one type wider (UInt8 →
    * Short, ...), so the WIDTH of the true storage bytes is otherwise
    * unrecoverable post-resolution — the hash kernels read it to hash
    * the server's exact storage width for direct column references
    * (VERDICT r15 item 2). Metadata rides AttributeReferences through
    * resolution; nothing in the read/write guards compares it (the
    * projection-swap guard is name+type only).
    *
    * CONTRACT (documented, not silently widened): the declared width
    * applies to DIRECT base-table column references. An operator whose
    * server-side result type would promote the width — a UNION of a
    * UInt8 column with an Int16 expression keeps the FIRST branch's
    * attribute metadata in Spark — hashes at the first branch's
    * declared width; values outside that width still reject loudly in
    * the hash kernels (the in-range hash agrees only when the server
    * would not have promoted). Mixed-width unions under declared-width
    * hash fns are outside the pinned surface.
    */
  def sparkSchema(db: String, table: String): StructType =
    StructType(fetchColumns(db, table).map { case (n, t) =>
      val p = ClickHouseType.parse(t)
      val base = t.trim match {
        case EmbeddedClickHouse.NullableRe(inner) => inner
        case other => other
      }
      val f = StructField(n, p.dataType, p.nullable)
      if (base == "UInt8" || base == "UInt16" || base == "UInt32")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putString("graft.ch.declared", base).build())
      else f
    }.toArray)

  override def tableSizeBytes(db: String, table: String): Option[Long] =
    if (isSystem(db) || !tableExists(db, table)) None
    else Some(dataFiles(db, table).map { f =>
      try Files.size(Paths.get(f)) catch { case _: Exception => 0L }
    }.sum)

  /** Parquet footer row count of one part file (throws on unreadable),
    * opened once per (path, size, mtime): parts are immutable and
    * uniquely named.
    */
  private def partRowCount(f: String): Long =
    state.footerCounts.rows(f)

  override def tableRowCount(db: String, table: String): Option[Long] =
    if (isSystem(db) || !tableExists(db, table)) None
    else try {
      // footer metadata only — the system.parts sum(rows) analog. ANY
      // unreadable part poisons the whole answer to None: this count is
      // presented to the planner as EXACT, so a partial sum (e.g. racing
      // a concurrent part rewrite) must become "unknown", never "fewer"
      Some(dataFiles(db, table).map(partRowCount).sum)
    } catch { case _: Exception => None }

  /** Every part file in the table dir, an unmarked epoch's included.
    * A table dir that still holds the older layout's tree of epoch parts
    * rejects: its rows would be missing from every read.
    */
  private def partFiles(db: String, table: String): Seq[Path] = {
    val dir = tablePath(db, table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val oldLayout = dir.resolve(".epoch-parts")
    if (Files.exists(oldLayout)) throw new IllegalStateException(
      s"$db.$table: $oldLayout holds streaming epoch parts in a layout this " +
        "store no longer reads; land its rows again and remove the dir")
    NioFiles.list(dir).filter(_.getFileName.toString.endsWith(".parquet")).sorted
  }

  /** The table's visible parts: its attached files, then its part files
    * in insert order. A part an epoch landed is visible once that epoch's
    * marker exists (the epoch's atomic visibility switch).
    */
  private[client] def dataFiles(db: String, table: String): Seq[String] = {
    if (isSystem(db)) return Seq.empty
    val (_, _, ext) = readMeta(db, table)
    val marked = scala.collection.mutable.Map.empty[String, Boolean]
    ext ++ partFiles(db, table).filter(p =>
      EmbeddedClickHouse.epochOf(p.getFileName.toString).forall(m =>
        marked.getOrElseUpdate(m, epochMarked(db, table, m))))
      .map(_.toString)
  }

  private def epochMarked(db: String, table: String, marker: String): Boolean =
    Files.exists(tablePath(db, table).resolve(".epochs").resolve(marker))

  /** Synthesize a system table's rows from live store metadata. Runs
    * driver-side at view (re-)registration; rows are metadata-scale.
    * Refreshed like every view (ensureViews); a system table reads every
    * table, so any write refreshes the snapshot on the next query that
    * touches it.
    */
  private[client] def systemRows(t: String): Seq[Row] = {
    val realDbs = listDatabases().filterNot(isSystem)
    t match {
      case "databases" => listDatabases().map(Row(_))
      case "tables" =>
        (for (db <- realDbs; tb <- listTables(db)) yield {
          val o = readMeta(db, tb)._2
          Row(db, tb, o.getOrElse("engine", "MergeTree"),
            tableRowCount(db, tb).map(java.lang.Long.valueOf).orNull,
            o.getOrElse("order_by", ""), o.getOrElse("partition_by", ""))
        }) ++ (for (db <- realDbs; mv <- listMaterializedViews(db)) yield
          Row(db, mv, "MaterializedView", null, "", "")
        ) ++ systemSchemas.keys.toSeq.sorted.map(tb =>
          Row("system", tb, "SystemTable", null, "", ""))
      case "columns" =>
        for (db <- realDbs :+ "system"; tb <- listTables(db);
             ((n, ty), i) <- fetchColumns(db, tb).zipWithIndex)
          yield Row(db, tb, n, ty, (i + 1).toLong)
      case "parts" =>
        val live = for (db <- realDbs; tb <- listTables(db); f <- dataFiles(db, tb)) yield (db, tb, f)
        state.footerCounts.retain(live.map(_._3).toSet)
        for ((db, tb, f) <- live) yield {
          val p = Paths.get(f)
          val rows = try partRowCount(f) catch { case _: Exception => -1L }
          val bytes = try Files.size(p) catch { case _: Exception => -1L }
          Row(db, tb, p.getFileName.toString, rows, bytes, true)
        }
      case "projections" =>
        for (db <- realDbs; tb <- listTables(db);
             d <- listProjections(db, tb)) yield {
          val live = dataFiles(db, tb).map(f => Paths.get(f).getFileName.toString)
          val built = live.count(n =>
            Files.isDirectory(projDataDir(db, tb, d.name).resolve(n)))
          Row(db, tb, d.name, d.defSql, built.toLong, live.size.toLong)
        }
      case other => throw new IllegalArgumentException(
        s"no such system table: system.$other")
    }
  }

  // ---- reads: the statements unit resolves, the reads unit plans and reads ----

  override def describeQuery(chSql: String): StructType =
    statements.prepared(chSql).schema // analysis only, no execution

  override def planQuery(sql: String, numStreams: Int): (StructType, Seq[ChPartitionHandle]) =
    reads.planQuery(sql, numStreams)

  override def bucketFamily: Option[String] = Some("murmur3")

  override def planQueryBuckets(
      sql: String, bucketColumn: String,
      numBuckets: Int): Option[(StructType, Seq[ChPartitionHandle])] =
    Some(reads.planQueryBuckets(sql, bucketColumn, numBuckets))

  override def readPartition(handle: ChPartitionHandle): Iterator[Row] =
    reads.readPartition(handle)

  override def readPartitionInternal(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    reads.readPartitionInternal(handle, schema)

  override def readPartitionColumnar(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
    reads.batches(handle).getOrElse(super.readPartitionColumnar(handle, schema))

  /** Times a read of `db`.`table` was served from projection `name`
    * (this JVM, this store root).
    */
  def projectionHitCount(db: String, table: String, name: String): Long =
    Option(state.projectionHits.get(s"$db.$table.$name")).fold(0L)(_.get)

  private[client] def knownTables: Seq[(String, String)] =
    for (db <- listDatabases(); t <- listTables(db)) yield (db, t)

  /** One block staged and landed at once ([[stageInsert]], [[land]]). */
  override def insert(db: String, table: String, schema: StructType, rows: Seq[Row]): Long = {
    rejectSystem(db, s"INSERT into $db.$table")
    publishStaged(db, table, "insert", fire = true)(dir =>
      stageInsert(db, table, schema, rows, dir.getFileName.toString))
  }

  /** `ALTER TABLE ... DELETE WHERE` analog: rewrites the table's parts
    * without the matching rows — exactly what a server mutation does,
    * expressed through the staged-write machinery (kept rows land in a
    * staging dir, old parts are removed, staged parts move in atomically
    * per file). NULL predicate results keep the row, matching the server.
    */
  override def deleteWhere(db: String, table: String, whereSql: String): Unit = {
    ownedTable(db, table, "DELETE from")
    val qt = graft.sql.ChSql.quoteTable(db, table)
    // DELETE WHERE cond removes rows where cond IS TRUE; NULL keeps.
    // CAST: ClickHouse conditions may be integral (e.g. the `1` of an
    // unconditional delete) — Spark's coalesce/NOT need a real boolean
    val pred = s"coalesce(CAST(($whereSql) AS BOOLEAN), false)"
    if (matches(qt, pred)) {
      // the table's own columns, never a virtual one the condition reads
      val cols = sparkSchema(db, table).fieldNames.map(graft.sql.ChSql.quoteIdent)
      rewritePartsDf(db, table, statements.resolve(
        s"SELECT ${cols.mkString(", ")} FROM $qt WHERE NOT $pred"))
    }
  }

  /** Whether a mutation over `qt` has any row to rewrite. */
  private def matches(qt: String, pred: String): Boolean =
    statements.resolve(s"SELECT count(*) AS n FROM $qt WHERE $pred")
      .head().getLong(0) > 0L

  /** `ALTER TABLE ... UPDATE` analog: rewrite parts with assigned columns
    * recomputed where the condition holds (CASE over the OLD row values,
    * which is exactly what a server mutation evaluates). Unassigned
    * columns pass through; results cast back to the column's type so the
    * table schema is invariant under mutation.
    */
  override def updateWhere(
      db: String, table: String,
      assignments: Seq[(String, String)], whereSql: String): Unit = {
    ownedTable(db, table, "UPDATE on")
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    val schema = sparkSchema(db, table)
    val byName = assignments.toMap
    val unknown = byName.keySet.diff(schema.fieldNames.toSet)
    require(unknown.isEmpty,
      s"UPDATE on $db.$table: unknown column(s) ${unknown.toSeq.sorted.mkString(", ")}")
    val qt = graft.sql.ChSql.quoteTable(db, table)
    val pred = s"coalesce(CAST(($whereSql) AS BOOLEAN), false)"
    val cols = schema.fields.map { f =>
      val q = graft.sql.ChSql.quoteIdent(f.name)
      byName.get(f.name) match {
        case Some(expr) =>
          s"CAST(CASE WHEN $pred THEN ($expr) ELSE $q END AS ${f.dataType.sql}) AS $q"
        case None => q
      }
    }
    if (matches(qt, pred))
      rewritePartsDf(db, table,
        statements.resolve(s"SELECT ${cols.mkString(", ")} FROM $qt"))
  }

  /** Shared mutation core: drop the snapshot of current parts and
    * publish `result` as their replacement, atomically per file.
    */
  private def rewritePartsDf(
      db: String, table: String,
      result: org.apache.spark.sql.DataFrame): Unit = {
    // snapshot the parts being rewritten BEFORE materializing the result
    val snapshot = dataFiles(db, table).map(Paths.get(_))
    publishStaged(db, table, "mutate", replaces = snapshot, fire = false)(dir =>
      result.write.parquet(dir.toString))
  }

  override def insertSelect(db: String, table: String, chSelectSql: String): Long = {
    rejectSystem(db, s"INSERT into $db.$table")
    val df = statements.resolve(chSelectSql)
    val sink = sparkSchema(db, table)
    val errs = fitErrors(df.schema, sink)
    require(errs.isEmpty, s"INSERT SELECT schema mismatch for $db.$table: ${errs.mkString("; ")}")
    // nullability is enforced at RUNTIME like a real server: a NULL
    // reaching a non-Nullable sink column fails the copy
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val nullable = df.schema.fields.map(f => f.name -> f.nullable).toMap
    val guarded = sink.fields.toSeq.map { sf =>
      val c = col(sf.name)
      if (!sf.nullable && nullable(sf.name))
        when(c.isNull, raise_error(
          lit(s"Cannot insert NULL into non-Nullable column $db.$table.${sf.name}")))
          .otherwise(c).as(sf.name)
      else c
    }
    // inserted-row count from the part-file footers (local metadata —
    // no second Spark job over data that was just written)
    publishStaged(db, table, "copy", fire = true) { dir =>
      df.select(guarded: _*).write.parquet(dir.toString)
      NioFiles.walk(dir).iterator
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => partRowCount(p.toString)).sum
    }
  }

  /** Why a result schema does not fit a table's: missing, mistyped or
    * unexpected columns. Nullability is left to the rows' landing:
    * parquet reads are always nullable, and aggregate state structs
    * carry nullability the declared storage type cannot mirror.
    */
  private def fitErrors(out: StructType, sink: StructType): Seq[String] = {
    val types = out.fields.map(f => f.name -> f.dataType).toMap
    sink.fields.toSeq.flatMap { sf =>
      types.get(sf.name) match {
        case None => Some(s"missing column '${sf.name}'")
        case Some(t) if ClickHouseType.ignoreNullability(t) !=
            ClickHouseType.ignoreNullability(sf.dataType) =>
          Some(s"'${sf.name}' type mismatch: ${t.sql} vs ${sf.dataType.sql}")
        case _ => None
      }
    } ++ out.fieldNames.filterNot(sink.fieldNames.contains)
      .map(n => s"unexpected column '$n'")
  }

  /** Stage parts with `write` into a fresh `<kind>-<uuid>` staging dir
    * and land them ([[land]]) in place of `replaces`, firing views when
    * `fire` (inserts; not mutations, merges or ATTACH). Any failure
    * discards the staging dir. Returns what `write` returned.
    */
  private def publishStaged[A](
      db: String, table: String, kind: String,
      replaces: Seq[Path] = Nil, fire: Boolean)(write: Path => A): A = {
    val stagingId = s"$kind-${java.util.UUID.randomUUID}"
    val dir = stagingPath(db, table, stagingId)
    try {
      val a = write(dir)
      land(db, table, Seq(dir), replaces, fire)
      a
    } catch {
      case e: Throwable => abortStaged(db, table, stagingId); throw e
    }
  }

  private def reorderToSink(
      db: String, table: String, schema: StructType, rows: Seq[Row]): Seq[Row] = {
    val sink = sparkSchema(db, table)
    val errs = ClickHouseType.verifyWriteSchema(sink, schema)
    require(errs.isEmpty, s"insert schema mismatch for $db.$table: ${errs.mkString("; ")}")
    // input column order may differ from the sink's (names matched
    // order-insensitively, as in the reference) — reorder values to sink order
    val idx = sink.fields.map(f => schema.fieldIndex(f.name))
    rows.map(r => Row.fromSeq(idx.toSeq.map(r.get)))
  }

  private def stagingPath(db: String, table: String, stagingId: String): Path = {
    require(!stagingId.contains("/") && !stagingId.contains(".."),
      s"invalid staging id: $stagingId")
    tablePath(db, table).resolve(".insert-staging").resolve(stagingId)
  }

  override def stageInsert(
      db: String, table: String, schema: StructType, rows: Seq[Row],
      stagingId: String): Long = {
    rejectSystem(db, s"INSERT into $db.$table")
    val sink = reorderToSink(db, table, schema, rows)
    val dir = Files.createDirectories(stagingPath(db, table, stagingId))
    // no stamp: staged parts are invisible (dataFiles only lists the
    // table dir itself) until the landing moves them in
    ParquetBlockWriter.writeBlock(dir, sparkSchema(db, table), sink)
  }

  /** A re-driven commit of a landed staging id finds no dir: a no-op. */
  override def commitStaged(db: String, table: String, stagingId: String): Unit = {
    val dir = stagingPath(db, table, stagingId)
    if (Files.isDirectory(dir)) land(db, table, Seq(dir), Nil, fire = true)
  }

  /** The landing step: every change to the part set in a table's dir
    * goes through here (inserts, streaming epochs, INSERT SELECT, view
    * fires, mutations, merges, ATTACH, TRUNCATE), like a server
    * committing every part with its projection parts whatever made it.
    * In order:
    *  1. each staged part is named with an insert sequence: a part
    *     without one (Spark-written part-00000-..., ATTACH clones) gets a
    *     fresh one in staged-name order, which follows partition index,
    *     which follows seq-sorted input order for narrow rewrites; so
    *     EVERY visible part carries its sequence and order-dependent
    *     collapses stay defined after rewrites. An epoch's parts also
    *     carry its marker's tag ([[EmbeddedClickHouse.epochPartName]]);
    *  2. projection states build from the STAGED files, so a failed
    *     build aborts with nothing visible and the old parts intact;
    *  3. the `replaces` parts go;
    *  4. the staged parts move in, each atomically (same-fs rename),
    *     touched first so their age counts from the landing;
    *  5. state dirs of parts no longer in the dir are pruned;
    *  6. the table is stamped, or for an epoch its marker is created,
    *     which stamps the table and makes the epoch's parts visible;
    *  7. and 8. [[settle]]: stale write dirs and unmarked epoch parts are
    *     reaped, and views fire on the landed parts when `fire`.
    */
  private def land(
      db: String, table: String, staging: Seq[Path], replaces: Seq[Path],
      fire: Boolean, epoch: Option[String] = None): Unit = {
    val planned = staging.filter(Files.isDirectory(_))
      .flatMap(NioFiles.list).filter(_.getFileName.toString.endsWith(".parquet"))
      .sorted.map { p =>
        val name = p.getFileName.toString
        val sequenced =
          if (EmbeddedClickHouse.partSeqOf(name).isDefined) name
          else f"part-${ParquetBlockWriter.nextPartSeq()}%016x-" +
            name.stripPrefix("part-")
        (p, epoch.fold(sequenced)(EmbeddedClickHouse.epochPartName(sequenced, _)))
      }
    val projs = listProjections(db, table)
    projs.foreach(d => planned.foreach { case (p, outName) =>
      buildProjectionPart(db, table, d, p, outName)
    })
    replaces.foreach(Files.deleteIfExists)
    val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    val landed = planned.map { case (p, outName) =>
      val t = tablePath(db, table).resolve(outName)
      Files.setLastModifiedTime(p, now)
      Files.move(p, t, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      t
    }
    staging.foreach(NioFiles.deleteRecursively)
    if (projs.nonEmpty) pruneProjectionOrphans(db, table)
    epoch match {
      case Some(marker) => tryMarkEpochCommitted(db, table, marker)
      case None => clock.tableChanged(db, table)
    }
    settle(db, table, if (fire) landed else Nil)
  }

  /** The tail of every landing: reap the staging dirs left past the
    * spill TTL (of hard-crashed tasks, or of a failed job whose task
    * commit message raced the failure and never reached
    * BatchWrite.abort) and the parts of epochs that landed that long ago
    * and were never marked, then fire the table's views on `landed`.
    */
  private def settle(db: String, table: String, landed: Seq[Path]): Unit = {
    val cutoff = System.currentTimeMillis() - EmbeddedReads.SpillTtlMillis
    val dir = tablePath(db, table)
    NioFiles.sweepStale(dir.resolve(".insert-staging"), cutoff)
    NioFiles.sweepStale(dir, cutoff, p =>
      EmbeddedClickHouse.epochOf(p.getFileName.toString).exists(!epochMarked(db, table, _)))
    fireMaterializedViews(db, table, landed)
  }

  override def abortStaged(db: String, table: String, stagingId: String): Unit =
    NioFiles.deleteRecursively(stagingPath(db, table, stagingId))

  override def tryMarkEpochCommitted(db: String, table: String, marker: String): Boolean = {
    EmbeddedClickHouse.checkMarker(marker)
    val dir = tablePath(db, table).resolve(".epochs")
    Files.createDirectories(dir)
    // the marker is the epoch's visibility switch (dataFiles)
    try { Files.createFile(dir.resolve(marker)); clock.tableChanged(db, table); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  /** Converging epoch publish, all-or-nothing per attempt: if the epoch
    * is already marked, this is a replay after a successful commit — drop
    * everything re-staged. Otherwise the parts a crashed prior attempt
    * landed under this marker's tag are wiped (they were never visible),
    * and this attempt's staged dirs land with the marker, which flips
    * their visibility atomically. Wipe-then-fill rather than per-part
    * dedup: a replay may partition differently (stateless sinks re-plan
    * across restarts), and mixing two attempts' parts would duplicate
    * rows. Every crash point replays into the same terminal state:
    * exactly one complete copy of the epoch. Views fire after the marker,
    * so they see each epoch at most once (the server's own MV/insert
    * non-atomicity).
    */
  override def commitEpochStaged(
      db: String, table: String, epochMarker: String, staged: Seq[String]): Unit = {
    EmbeddedClickHouse.checkMarker(epochMarker)
    if (epochMarked(db, table, epochMarker))
      staged.foreach(abortStaged(db, table, _))
    else {
      partFiles(db, table)
        .filter(p => EmbeddedClickHouse.epochOf(p.getFileName.toString).contains(epochMarker))
        .foreach(Files.deleteIfExists)
      land(db, table, staged.map(stagingPath(db, table, _)), Nil, fire = true,
        Some(epochMarker))
    }
  }

  // store-open crash recovery: a process that died mid-EXCHANGE leaves a
  // journal + temp dir; repair before this client serves its first read
  state.exchange.synchronized {
    if (Files.isDirectory(Paths.get(root)))
      StoreLock.withLockNamed(s"exchange:${Paths.get(root).toAbsolutePath}") {
        recoverOrphanExchanges()
      }
  }
}

object EmbeddedClickHouse {

  /** Everything this JVM keeps per store root, whichever spelling of the
    * root a client was opened with: the change clock, the footer row
    * counts, the view definitions, the projection hit counts, the last
    * spill reap and the EXCHANGE monitor.
    */
  private[client] final class RootState {
    val clock = new StoreClock
    val footerCounts = new FooterCounts
    /** View definitions and the catalog stamp they were listed at. */
    @volatile var mvs: (Long, Seq[MvDef]) = (-1L, Nil)
    /** Reads served from a projection, keyed `<db>.<table>.<name>`. */
    val projectionHits =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
    /** Wall-clock millis of the last spill reap (0 = never). */
    val lastSpillReap = new java.util.concurrent.atomic.AtomicLong(0L)
    /** EXCHANGE TABLES serializes here before taking the OS lock:
      * FileChannel.lock throws on same-JVM contention.
      */
    val exchange = new Object
  }

  private val roots = new java.util.concurrent.ConcurrentHashMap[String, RootState]

  /** The state of the store at `root`, keyed on the absolute path, as
    * [[EmbeddedClickHouse.connectionKey]] is.
    */
  private[client] def rootState(root: String): RootState =
    roots.computeIfAbsent(Paths.get(root).toAbsolutePath.toString, _ => new RootState)

  /** The server session and prepared statements per
    * [[EmbeddedClickHouse.connectionKey]].
    */
  private[client] val sessionCache =
    new java.util.concurrent.ConcurrentHashMap[String, EmbeddedStatements.CachedServer]

  /** A change to the store's files made outside this client: every view,
    * prepared statement and materialized-view definition over the store
    * is read again.
    */
  def invalidate(root: String): Unit = rootState(root).clock.catalogChanged()

  /** Strips one Nullable(...) wrapper for declared-type inspection. */
  private[client] val NullableRe = raw"^Nullable\((.+)\)$$".r

  /** The server's default of a non-Nullable column: its type's zero (0,
    * '', false, the epoch, an empty array or map); None for a type
    * without one.
    */
  private[client] def zeroValue(dt: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Some(dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: DecimalType => lit(0).cast(dt)
      case StringType => lit("")
      case BooleanType => lit(false)
      case DateType => to_date(lit("1970-01-01"))
      case TimestampType | TimestampNTZType => timestamp_seconds(lit(0)).cast(dt)
      case _: ArrayType => array().cast(dt)
      case MapType(kt, vt, _) =>
        map_from_arrays(
          array().cast(ArrayType(kt, containsNull = false)),
          array().cast(ArrayType(vt, containsNull = true))).cast(dt)
      case _ => return None
    })
  }

  /** Source tables whose materialized views are firing on THIS thread —
    * re-entrancy guard behind the create-time cycle check (fires run
    * driver-side at commit; cascades stay on the calling thread).
    */
  private[client] val firingMvs: ThreadLocal[Set[String]] =
    ThreadLocal.withInitial(() => Set.empty[String])

  private[client] final case class MvDef(
      db: String, name: String, srcDb: String, srcTable: String,
      targetDb: String, targetTable: String, select: String)

  /** A store root's part-file row counts, keyed on (path, size, mtime):
    * each part's parquet footer is opened once, not on every
    * `system.parts` / `system.tables` build. `opens` counts footer reads.
    */
  private[client] final class FooterCounts {
    val opens = new java.util.concurrent.atomic.AtomicLong(0L)
    private val memo = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]

    def rows(f: String): Long = {
      val p = Paths.get(f)
      memo.computeIfAbsent((f, Files.size(p), Files.getLastModifiedTime(p).toMillis), _ => {
        opens.incrementAndGet()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try java.lang.Long.valueOf(r.getRecordCount) finally r.close()
      })
    }

    /** Drop the counts of every file not in `live` (a full part listing). */
    def retain(live: Set[String]): Unit = memo.keySet.removeIf(k => !live(k._1))
  }

  /** A store root's change clock: one monotonic counter, the value it
    * reached at each table's last part-set change, and the value at the
    * last catalog change (DDL). State resolved at counter value `at`, read
    * before its file listing, is fresh while neither the catalog nor a
    * table it reads changed after `at`; a concurrent write can then only
    * make it stale, never fresh. A `system` table reads every table.
    */
  private[client] final class StoreClock {
    val counter = new java.util.concurrent.atomic.AtomicLong(0L)
    private val catalog = new java.util.concurrent.atomic.AtomicLong(0L)
    private val tables =
      new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]

    /** A write that changed the part set of `db`.`table` only. */
    def tableChanged(db: String, table: String): Unit = {
      val v: java.lang.Long = counter.incrementAndGet()
      tables.merge((db, table), v, (a, b) => if (a.longValue >= b.longValue) a else b)
    }

    /** DDL, or any change not known to touch one table's parts only. */
    def catalogChanged(): Unit =
      catalog.accumulateAndGet(counter.incrementAndGet(), math.max(_, _))

    /** The counter value at the last catalog change. */
    def catalogStamp: Long = catalog.get

    def fresh(at: Long, reads: Iterable[(String, String)]): Boolean =
      at >= catalog.get && reads.forall { case (db, t) =>
        if (db == "system") at >= counter.get
        else {
          val c = tables.get((db, t))
          c == null || at >= c
        }
      }
  }

  // part-name insert sequence (ParquetBlockWriter naming): 16 fixed hex
  // digits right after the part- prefix
  private val PartSeq = "^part-([0-9a-f]{16})-".r

  private[client] def partSeqOf(name: String): Option[Long] =
    PartSeq.findFirstMatchIn(name)
      .map(m => java.lang.Long.parseUnsignedLong(m.group(1), 16))

  /** An epoch marker names a file in the table's `.epochs` dir. */
  private[client] def checkMarker(marker: String): Unit =
    require(marker.nonEmpty && marker != "." && !marker.contains("/") &&
      !marker.contains(".."), s"invalid epoch marker: $marker")

  // an epoch part's tag, right after its sequence: the marker's UTF-8
  // bytes in hex, so every marker has one tag, the tag ends at the first
  // '_', and no other part name (a block writer uuid, a Spark task file,
  // an ATTACH clone) has `epoch_` after its sequence
  private val EpochTag = "^part-[0-9a-f]{16}-epoch_((?:[0-9a-f]{2})+)_".r

  /** `name` (which carries an insert sequence) tagged with an epoch's
    * marker: `part-<seq>-epoch_<hex marker>_<rest>`.
    */
  private[graft] def epochPartName(name: String, marker: String): String = {
    require(partSeqOf(name).isDefined, s"part $name carries no insert sequence")
    val hex = marker.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x").mkString
    name.patch("part-0123456789abcdef-".length, s"epoch_${hex}_", 0)
  }

  /** The marker of the epoch that landed the part `name`, if one did. */
  private[client] def epochOf(name: String): Option[String] =
    EpochTag.findFirstMatchIn(name).map(m => new String(
      m.group(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      java.nio.charset.StandardCharsets.UTF_8))
}

