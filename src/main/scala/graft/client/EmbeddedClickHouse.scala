package graft.client

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.sql.{ChClauses, ChLex}
import graft.types.ClickHouseType

/** Embedded, parquet-backed stand-in for a ClickHouse server (the dev
  * sandbox has no server — this mirrors the reference's `mocks` transport,
  * /root/reference/src/connection.rs:1-37, but executes real queries so
  * the entire pushdown path is exercised hermetically).
  *
  * Store layout: `<root>/<db>/<table>/table.meta` (TSV: columns with
  * ClickHouse types, engine options, external data paths) plus inserted
  * parquet part files. "Remote" SQL — the ClickHouse dialect our unparser
  * generates — is translated by [[ChSqlTranslator]] and executed on an
  * isolated child SparkSession, standing in for the server's own engine.
  *
  * Driver-side only: `query` runs at plan/execute time on the driver and
  * partitions the result into `numStreams` groups (a real client would
  * stream per shard); `insert` lands parquet part files atomically.
  */
final class EmbeddedClickHouse(val root: String) extends ClickHouseClient {

  override def connectionKey: String = s"embedded:${Paths.get(root).toAbsolutePath}"

  // looked up again where the client is deserialized (write tasks)
  @transient private lazy val clock = EmbeddedClickHouse.clock(root)

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
  private def isSystem(db: String): Boolean = db == "system"

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

  private def readMeta(db: String, table: String): (Seq[(String, String)], Map[String, String], Seq[String]) = {
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
    bumpMvGen() // the database may carry view.meta dirs
    deleteRecursively(dbPath(db))
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
    if (Files.exists(mvMetaPath(db, table))) bumpMvGen() // DROP TABLE on a view
    deleteRecursively(tablePath(db, table))
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
    rejectSystem(db, s"ALTER TABLE $db.$table")
    require(tableExists(db, table), s"no such table: $db.$table")
    require(ops.nonEmpty, "ALTER TABLE requires at least one change")
    val (cols, opts, ext) = readMeta(db, table)
    require(ext.isEmpty,
      s"ALTER TABLE $db.$table: table has attached external data (read-only)")
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
    val base = resolveStatement(serverEntry(), s"SELECT * FROM $qt")

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
        deleteRecursively(projDataDir(db, table, n))
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
      name: String, p: ClickHouseType.Parsed): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dt = p.dataType
    if (p.nullable) lit(null).cast(dt)
    else dt match {
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
      case other => throw new IllegalArgumentException(
        s"ADD COLUMN '$name': no default for type ${other.sql} — add it as Nullable")
    }
  }

  /** TTL expressions must evaluate to Date/DateTime over the table's
    * columns — the server validates this at DDL time ("TTL expression
    * result column should have Date or DateTime type"), and a stored
    * TTL that could never be applied at merge time is a silent lie.
    * Resolution runs the translated expression over an empty frame with
    * the table's schema on the server session (full function surface).
    */
  private def validateTtl(
      db: String, table: String, cols: Seq[(String, String)], expr: String): Unit = {
    val schema = ClickHouseType.toStructType(cols)
    val empty = serverEntry().session
      .createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val translated = ChSqlTranslator.translate(expr, Seq.empty)
    val dt =
      try empty.selectExpr(translated).schema.head.dataType
      catch { case e: Exception => throw new IllegalArgumentException(
        s"TTL expression '$expr' does not resolve over $db.$table: " +
          e.getMessage, e) }
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    require(dt == DateType || dt == TimestampType || dt == TimestampNTZType,
      s"TTL expression '$expr' on $db.$table must evaluate to Date or " +
        s"DateTime, not ${dt.sql}")
  }

  /** OPTIMIZE as part rewrite: consolidates every part into one; FINAL
    * on a ReplacingMergeTree(ver) table materializes the max-version
    * survivor set (the same rule FINAL reads apply on the fly, via
    * [[rewriteStorage]]), so subsequent plain reads see the deduped rows —
    * the server's documented OPTIMIZE FINAL semantics. FINAL on engines
    * without a version column is a plain consolidation (no row change).
    * A declared row TTL is applied here — merges are where the server
    * expires rows (`expr <= now()` deletes; NULL keeps), so expired rows
    * stay visible to plain reads until an OPTIMIZE, exactly like a
    * server between merges.
    */
  override def optimizeTable(db: String, table: String, finalize: Boolean): Unit = {
    rejectSystem(db, s"OPTIMIZE TABLE $db.$table")
    require(tableExists(db, table), s"no such table: $db.$table")
    val (_, opts, ext) = readMeta(db, table)
    require(ext.isEmpty,
      s"OPTIMIZE TABLE $db.$table: table has attached external data (read-only)")
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
    val base = resolveStatement(serverEntry(), src, keepTombstones = true)
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
    val dstDir = tablePath(db, table)
    // attached clones get fresh insert sequences in SOURCE part order, so
    // order-dependent collapses remain defined across an ATTACH
    dataFiles(srcDb, srcTable).zipWithIndex.foreach { case (f, i) =>
      val target = dstDir.resolve(
        f"part-${ParquetBlockWriter.nextPartSeq()}%016x-attach-$i.parquet")
      Files.copy(Paths.get(f), target)
    }
    clock.tableChanged(db, table)
  }

  /** DEDUPLICATE merge: full-row distinct, or — with BY columns — one
    * survivor per key, the lexicographically-smallest remaining row
    * (a reproducible "any", the Summing-representative rule).
    */
  override def optimizeDeduplicate(
      db: String, table: String, byColumns: Seq[String]): Unit = {
    rejectSystem(db, s"OPTIMIZE DEDUPLICATE $db.$table")
    require(tableExists(db, table), s"no such table: $db.$table")
    val (cols, _, ext) = readMeta(db, table)
    require(ext.isEmpty,
      s"OPTIMIZE DEDUPLICATE $db.$table: table has attached external data")
    byColumns.foreach(c => require(cols.exists(_._1 == c),
      s"OPTIMIZE DEDUPLICATE $db.$table: no such column '$c'"))
    val df = resolveStatement(serverEntry(),
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
    * read-only and reject; epoch markers clear with the parts so a
    * replayed streaming epoch can land again post-truncate.
    */
  override def truncateTable(db: String, table: String): Unit = {
    rejectSystem(db, s"TRUNCATE TABLE $db.$table")
    require(tableExists(db, table), s"no such table: $db.$table")
    val (_, _, ext) = readMeta(db, table)
    require(ext.isEmpty,
      s"TRUNCATE TABLE $db.$table: table has attached external data (read-only)")
    val dir = tablePath(db, table)
    NioFiles.list(dir).iterator
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(Files.delete)
    for (sub <- Seq(".epoch-parts", ".epochs"))
      deleteRecursively(dir.resolve(sub))
    clock.tableChanged(db, table)
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
    EmbeddedClickHouse.exchangeMonitor(root).synchronized {
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

  private def projDataDir(db: String, table: String, name: String): Path =
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
    val schema = ClickHouseType.toStructType(cols)
    val empty = serverEntry().session
      .createDataFrame(java.util.Collections.emptyList[Row](), schema)
    def resolve(frag: String, what: String): org.apache.spark.sql.types.DataType =
      try empty.selectExpr(ChSqlTranslator.translateFragment(frag, Seq.empty))
        .schema.head.dataType
      catch { case e: Exception => throw new IllegalArgumentException(
        s"ADD PROJECTION ${d.name}: $what '$frag' does not resolve over " +
          s"$db.$table: ${e.getMessage}", e) }
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
    * `.projections/<name>/<partFileName>`. Called with STAGED part files
    * before they land (a failed build aborts the whole insert with
    * nothing visible) and with live files on MATERIALIZE.
    */
  private def buildProjectionPart(
      db: String, table: String, d: ChProjections.ProjectionDef,
      srcFile: Path, outName: String): Unit = {
    val child = serverEntry().session
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
      if (Files.exists(target)) deleteRecursively(target)
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
    * merges land REWRITTEN parts and delete the originals).
    */
  private def pruneProjectionOrphans(db: String, table: String): Unit = {
    val defs = listProjections(db, table)
    if (defs.isEmpty) return
    val live = dataFiles(db, table)
      .map(f => Paths.get(f).getFileName.toString).toSet
    defs.foreach { d =>
      val dir = projDataDir(db, table, d.name)
      if (Files.isDirectory(dir))
        NioFiles.list(dir).iterator.foreach { c =>
          val n = c.getFileName.toString
          if (!n.startsWith(".build-") && !live.contains(n))
            deleteRecursively(c)
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

  /** View definitions, memoized per MV-DDL generation: the lookup runs
    * on EVERY insert commit (streaming sinks commit per batch), but the
    * definition set only changes on view/table DDL — a store-version
    * key would rescan per insert (inserts bump it). JVM-local like the
    * store-version scheme itself.
    */
  private def allMvs: Seq[EmbeddedClickHouse.MvDef] = {
    val v = EmbeddedClickHouse.mvVersion(root).get()
    val cached = EmbeddedClickHouse.mvCache.get(root)
    if (cached != null && cached._1 == v) cached._2
    else {
      val defs =
        for (db <- listDatabases().filterNot(isSystem);
             name <- listMaterializedViews(db)) yield readMv(db, name)
      EmbeddedClickHouse.mvCache.put(root, (v, defs))
      defs
    }
  }

  private def bumpMvGen(): Unit = EmbeddedClickHouse.mvVersion(root).incrementAndGet()

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
      try resolveStatement(serverEntry(), chSelectSql,
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
    bumpMvGen()
    clock.catalogChanged()
  }

  override def dropMaterializedView(db: String, name: String): Unit = {
    require(Files.exists(mvMetaPath(db, name)),
      s"no such materialized view: $db.$name")
    deleteRecursively(tablePath(db, name))
    bumpMvGen()
    clock.catalogChanged()
  }

  /** The insert trigger: transform the freshly-landed block (ONLY the
    * new part files) through each view on the source and append the
    * result to its target via the staged protocol — whose commit
    * cascades into the target's own views (chains, cycle-checked at
    * create). Runs driver-side at commit time; per-thread re-entrancy
    * guard as defense in depth behind the create-time cycle check.
    */
  private def fireMaterializedViews(db: String, table: String, newFiles: Seq[Path]): Unit = {
    if (newFiles.isEmpty) return
    val mvs = allMvs.filter(m => m.srcDb == db && m.srcTable == table)
    if (mvs.isEmpty) return
    val key = s"$db.$table"
    val firing = EmbeddedClickHouse.firingMvs.get()
    require(!firing.contains(key),
      s"materialized view cascade loops through $key")
    EmbeddedClickHouse.firingMvs.set(firing + key)
    try mvs.foreach { m =>
      // during the trigger the source IS the inserted block (server
      // semantics)
      val sink = sparkSchema(m.targetDb, m.targetTable)
      val out = resolveStatement(serverEntry(), m.select,
        block = Some(((db, table), newFiles)))
        .select(sink.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      publishStaged(m.targetDb, m.targetTable, "mv", out, fire = true)(_ => ())
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
    EmbeddedClickHouse.footerCounts(root).rows(f)

  override def tableRowCount(db: String, table: String): Option[Long] =
    if (isSystem(db) || !tableExists(db, table)) None
    else try {
      // footer metadata only — the system.parts sum(rows) analog. ANY
      // unreadable part poisons the whole answer to None: this count is
      // presented to the planner as EXACT, so a partial sum (e.g. racing
      // a concurrent part rewrite) must become "unknown", never "fewer"
      Some(dataFiles(db, table).map(partRowCount).sum)
    } catch { case _: Exception => None }

  private def dataFiles(db: String, table: String): Seq[String] = {
    if (isSystem(db)) return Seq.empty
    val (_, _, ext) = readMeta(db, table)
    val dir = tablePath(db, table)
    val parts =
      if (!Files.isDirectory(dir)) Seq.empty
      else NioFiles.list(dir).iterator
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted
    // streaming epoch publishes live under .epoch-parts/<marker>/p<id>/
    // and are visible IFF their epoch marker exists (the converging
    // commit's atomic visibility switch)
    val epochRoot = dir.resolve(".epoch-parts")
    val markerDir = dir.resolve(".epochs")
    val epochParts =
      if (!Files.isDirectory(epochRoot)) Seq.empty
      else NioFiles.list(epochRoot).iterator
        .filter(e => Files.exists(markerDir.resolve(e.getFileName)))
        .flatMap(e => NioFiles.walk(e).iterator)
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted
    ext ++ parts ++ epochParts
  }

  /** The "server engine": a child session of the active SparkSession with
    * every store table registered, running the translated remote SQL.
    *
    * Cached per store root (a real server keeps its catalog resident; a
    * rebuild per query is pure overhead growing with store size). A write
    * keeps the session: the temp views capture a table's part-file list,
    * and each view and prepared statement re-resolves once a table it
    * reads has changed since (the store's [[EmbeddedClickHouse.StoreClock]]).
    * Single-JVM by design: the embedded store is a test double, and
    * local-mode executors share the driver's companion object.
    */
  private def serverEntry(): EmbeddedClickHouse.CachedServer = {
    val active = SparkSession.active
    val cached = EmbeddedClickHouse.sessionCache.get(connectionKey)
    if (cached != null && (cached.parent eq active)) return cached
    val entry = new EmbeddedClickHouse.CachedServer(buildServerSession(active), active, clock)
    EmbeddedClickHouse.sessionCache.put(connectionKey, entry)
    entry
  }

  /** Register (or refresh) the temp views a translated SQL references,
    * and record the tables it reads for the statement being prepared.
    * Only referenced tables pay the parquet (re-)listing; everything else
    * keeps its registered view.
    */
  private def ensureViews(
      entry: EmbeddedClickHouse.CachedServer,
      translatedSql: String,
      tables: Seq[(String, String)]): Unit =
    entry.reads(tables.filter { case (db, t) =>
      def refs(view: String) = EmbeddedClickHouse.referencesView(translatedSql, view)
      val plain = refs(ChSqlTranslator.viewName(db, t))
      if (plain) refreshView(entry, (db, t), (db, t))(registerView(entry.session, db, t))
      // sequence-bearing view (order-dependent collapses): registered
      // only when a rewrite referenced it
      val seq = refs(EmbeddedClickHouse.seqViewName(db, t))
      if (seq) refreshView(entry, (db, t + " seq"), (db, t))(registerSeqView(entry.session, db, t))
      // the `_part` view registers in rewritePartVirtual
      plain || seq || refs(EmbeddedClickHouse.partViewName(db, t))
    })

  /** Run `register` unless the view under `key` is fresh for `table`,
    * one registration per key at a time. `at`, the counter value the
    * view is stamped with, must be read before `register`'s file listing:
    * a racing write then leaves the view stale, never fresh.
    */
  private def refreshView(
      entry: EmbeddedClickHouse.CachedServer, key: (String, String),
      table: (String, String), at: Long = clock.counter.get)(
      register: => Unit): Unit =
    entry.viewVersions.compute(key, (_, reg) =>
      if (reg != null && clock.fresh(reg, Seq(table))) reg
      else { register; java.lang.Long.valueOf(at) })

  /** Register the table's rows EXTENDED with a per-row insert sequence
    * `__ch_seq` (part insert order × row position within the part) under
    * [[EmbeddedClickHouse.seqViewName]] — what order-dependent collapses
    * (CollapsingMergeTree) read. Every part carries its sequence in its
    * file name (ParquetBlockWriter / commitStagedFire / attach); a part
    * without one predates sequence tracking and rejects loudly.
    */
  private def registerSeqView(child: SparkSession, db: String, t: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val (_, _, ext) = readMeta(db, t)
    require(ext.isEmpty,
      s"$db.$t: attached external parquet carries no insert sequence — " +
        "order-dependent collapses need store-owned parts")
    val files = dataFiles(db, t)
    val schema = sparkSchema(db, t)
    val df =
      if (files.isEmpty) {
        val s2 = org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("__ch_seq",
            org.apache.spark.sql.types.LongType, nullable = false))
        child.createDataFrame(java.util.Collections.emptyList[Row](), s2)
      } else {
        val withSeq = files.map { f =>
          val n = Paths.get(f).getFileName.toString
          val seq = EmbeddedClickHouse.partSeqOf(n).getOrElse(
            throw new IllegalArgumentException(
              s"$db.$t: part $n carries no insert sequence (written before " +
                "sequence tracking) — its insertion order is unrecoverable " +
                "and this engine's collapse is order-dependent; re-ingest " +
                "the data into a fresh table"))
          (f, seq)
        }
        // ordinal over seq-sorted parts × parquet row position: dense,
        // overflow-free (seq values are wall-clock micros — shifting THEM
        // would overflow Long)
        // path tiebreak: two JVMs can mint the same wall-clock seq —
        // the order is then arbitrary but must at least be DETERMINISTIC
        //
        // r18 (GateProfile r62: the FINAL collapse read ran a 28-task job
        // over a 28-way per-part UNION): ONE multi-file scan with the
        // part ordinal looked up from _metadata.file_name replaces the
        // N-way union — plan size drops from O(parts) scan relations to
        // one, which is what survives a 10K-part table at 100 TB. Safe
        // here (unlike registerView's order-preserving Collapsing union,
        // which must NOT bin-pack): every consumer of this view windows
        // over the EXPLICIT __ch_seq value, never partition order.
        // the ordinal map keys on the basename, and epoch parts live in
        // per-epoch subdirs: two parts with one name would share a key
        files.groupBy(f => Paths.get(f).getFileName.toString).collectFirst {
          case (n, same) if same.size > 1 => throw new IllegalStateException(
            s"$db.$t: parts ${same.mkString(" and ")} share the file name $n — " +
              "the insertion order of their rows is ambiguous")
        }
        val ordered = withSeq.sortBy { case (f, seq) => (seq, f) }.zipWithIndex
        val nameToIdx = ordered.flatMap { case ((f, _), i) =>
          Seq(lit(Paths.get(f).getFileName.toString), lit(i.toLong))
        }
        val idx = org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.map(nameToIdx: _*),
          col("_metadata.file_name"))
        child.read.schema(schema).parquet(ordered.map(_._1._1): _*)
          .select(col("*"),
            (idx * lit(1L << 40) + col("_metadata.row_index"))
              .as("__ch_seq"))
      }
    df.createOrReplaceTempView(EmbeddedClickHouse.seqViewName(db, t))
  }

  private def registerView(child: SparkSession, db: String, t: String): Unit = {
    val df =
      if (isSystem(db))
        child.createDataFrame(systemRows(t).asJava, sparkSchema(db, t))
      else {
        val files = dataFiles(db, t)
        if (files.isEmpty)
          child.createDataFrame(java.util.Collections.emptyList[Row](), sparkSchema(db, t))
        else if (readMeta(db, t)._2.getOrElse("engine", "")
          .startsWith("CollapsingMergeTree"))
          // insertion-ORDERED view: a multi-file parquet read bin-packs
          // files by SIZE, which scrambles row order across parts — fatal
          // for the one engine whose collapse is insertion-order-
          // dependent. A union of per-file reads in sequence order keeps
          // partition order = insertion order through every narrow plan,
          // so mutation/ALTER rewrites republish rows in an order the
          // next collapse can still trust (their staged part-0000N names
          // follow partition index; publish stamps fresh seqs in that
          // order). FINAL reads stay immune either way (explicit
          // __ch_seq via the sequence view).
          files.map { f =>
            val n = Paths.get(f).getFileName.toString
            // reject like registerSeqView: a legacy no-seq part would
            // otherwise sort LAST here (it was inserted FIRST), and a
            // mutation over this view would re-stamp fresh sequences in
            // the wrong insertion order, corrupting future collapses
            // (advisor r12)
            val seq = EmbeddedClickHouse.partSeqOf(n).getOrElse(
              throw new IllegalArgumentException(
                s"$db.$t: part $n carries no insert sequence (written " +
                  "before sequence tracking) — its insertion order is " +
                  "unrecoverable, and CollapsingMergeTree collapses are " +
                  "order-dependent; re-ingest the data into a fresh table"))
            (f, seq)
          }.sortBy { case (f, s) => (s, f) }
            .map { case (f, _) => child.read.schema(sparkSchema(db, t)).parquet(f) }
            .reduce(_ union _)
        else child.read.schema(sparkSchema(db, t)).parquet(files: _*)
      }
    df.createOrReplaceTempView(ChSqlTranslator.viewName(db, t))
  }

  /** Synthesize a system table's rows from live store metadata. Runs
    * driver-side at view (re-)registration; rows are metadata-scale.
    * Refreshed like every view (ensureViews); a system table reads every
    * table, so any write refreshes the snapshot on the next query that
    * touches it.
    */
  private def systemRows(t: String): Seq[Row] = {
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
        EmbeddedClickHouse.footerCounts(root).retain(live.map(_._3).toSet)
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

  private def buildServerSession(active: SparkSession): SparkSession = {
    val child = active.newSession()
    // a view's parquet read gets the part files dataFiles already listed;
    // past the default 32 paths, InMemoryFileIndex would list them again
    // in a distributed job on every (re-)registration
    child.conf.set(
      org.apache.spark.sql.internal.SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key,
      Int.MaxValue.toLong)
    // ClickHouse's length() is polymorphic over strings/arrays — and for
    // String returns BYTES (the round-14 Java-UDF shim returned UTF-16
    // units, silently diverging on multi-byte text; VERDICT r14 item 4).
    // GraftLength is a codegen expression dispatching on the child type:
    // UTF-8 byte count for strings/binary, element count for arrays/maps.
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_length",
      args => {
        require(args.size == 1, "graft_length(x)")
        graft.functions.GraftLength(args.head)
      })
    // CH position() is a 1-based BYTE offset (locate counts codepoints)
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_position",
      args => {
        require(args.size == 2, "graft_position(haystack, needle)")
        graft.functions.GraftBytePosition(args(0), args(1))
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child,
      "graft_position_from",
      args => {
        require(args.size == 3, "graft_position_from(haystack, needle, start)")
        graft.functions.GraftBytePositionFrom(args(0), args(1), args(2))
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_rexp2",
      args => {
        require(args.size == 1, "graft_rexp2(x)")
        graft.functions.GraftRoundToExp2(args.head)
      })
    // windowFunnel: the window and mode list arrive as literals
    // prepended by the translator's parameterized-aggregate rewrite
    org.apache.spark.sql.graft.bridge.registerFunction(child,
      "graft_window_funnel",
      args => {
        require(args.size >= 4,
          "graft_window_funnel(window, modes, ts, cond...)")
        val w = args.head match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
          case other => throw new IllegalArgumentException(
            s"windowFunnel: the window must be an integer literal (got $other)")
        }
        val modeStr = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
            u: org.apache.spark.unsafe.types.UTF8String, _) => u.toString
          case other => throw new IllegalArgumentException(
            s"windowFunnel: modes must be a string literal (got $other)")
        }
        val (so, sd, si) = graft.functions.ChWindowFunnel.parseModes(
          modeStr.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        graft.functions.ChWindowFunnel(w, args(2), args.drop(3),
          strictOrder = so, strictDedup = sd, strictIncrease = si)
          .toAggregateExpression()
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child,
      "graft_seq_match",
      args => {
        require(args.size >= 3, "graft_seq_match(pattern, ts, cond...)")
        val pat = args.head match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
            u: org.apache.spark.unsafe.types.UTF8String, _) => u.toString
          case other => throw new IllegalArgumentException(
            s"sequenceMatch: the pattern must be a string literal (got $other)")
        }
        graft.functions.ChSequenceMatch(pat, args(1), args.drop(2))
          .toAggregateExpression()
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child,
      "graft_seq_count",
      args => {
        require(args.size >= 3, "graft_seq_count(pattern, ts, cond...)")
        val pat = args.head match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
            u: org.apache.spark.unsafe.types.UTF8String, _) => u.toString
          case other => throw new IllegalArgumentException(
            s"sequenceCount: the pattern must be a string literal (got $other)")
        }
        graft.functions.ChSequenceMatch(pat, args(1), args.drop(2),
          countMode = true).toAggregateExpression()
      })
    for ((name, mode) <- Seq(
      "graft_summap" -> graft.functions.ChMapAgg.Mode.Sum,
      "graft_minmap" -> graft.functions.ChMapAgg.Mode.Min,
      "graft_maxmap" -> graft.functions.ChMapAgg.Mode.Max,
      "graft_summap_ov" -> graft.functions.ChMapAgg.Mode.SumOv))
      org.apache.spark.sql.graft.bridge.registerFunction(child, name,
        args => {
          require(args.size == 2, s"$name(keys, values)")
          graft.functions.ChMapAgg(args(0), args(1), mode,
            wrapUW = graft.functions.ChMapAgg.arrayDeclaredW(args(1)))
            .toAggregateExpression()
        })
    // ClickHouse hash family (public-spec kernels, vectors pinned in
    // HashKernelSpec). Round 17: cityHash64/sipHash64 accept the
    // multi-argument combine chain (combiners pinned from the same
    // public sources as the r15 kernels — ChHashChain scaladoc); the
    // other algos keep the single-argument-only reject (their combine
    // laws are not pinned offline).
    for ((name, algo) <- Seq(
      "graft_cityhash64" -> graft.functions.ChHashAlgo.City64,
      "graft_siphash64" -> graft.functions.ChHashAlgo.Sip64,
      "graft_xxhash64ch" -> graft.functions.ChHashAlgo.Xx64,
      "graft_xxhash32ch" -> graft.functions.ChHashAlgo.Xx32,
      "graft_farmfp64" -> graft.functions.ChHashAlgo.FarmFp64,
      "graft_halfmd5" -> graft.functions.ChHashAlgo.HalfMd5))
      org.apache.spark.sql.graft.bridge.registerFunction(child, name,
        args => {
          if (args.size == 1) graft.functions.ChHash(args.head, algo)
          else if (algo == graft.functions.ChHashAlgo.City64 ||
            algo == graft.functions.ChHashAlgo.Sip64)
            graft.functions.ChHashChain(args, algo)
          else throw new IllegalArgumentException(
            s"$name: only the single-argument form is supported by the " +
              "embedded engine (this algo's multi-argument combine " +
              "chain is not a pinnable law offline) — concat the " +
              "arguments explicitly or run against a real server")
        })
    // RFC 3986 percent-encoding family (GraftUrlCodec)
    for ((name, enc, form) <- Seq(
      ("graft_encurl", true, false), ("graft_decurl", false, false),
      ("graft_encurlf", true, true), ("graft_decurlf", false, true)))
      org.apache.spark.sql.graft.bridge.registerFunction(child, name,
        args => {
          require(args.size == 1, s"$name(s)")
          graft.functions.GraftUrlCodecExpr(args.head, enc, form)
        })
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_gcd",
      args => {
        require(args.size == 2, "gcd(a, b)")
        graft.functions.GraftGcd(args(0), args(1))
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_lcm",
      args => {
        require(args.size == 2, "lcm(a, b)")
        graft.functions.GraftLcm(args(0), args(1))
      })
    // keyed SipHash: keys arrive as literal args appended by the
    // translator's tuple-literal parse
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_siphash64k",
      args => {
        require(args.size == 3, "graft_siphash64k(data, k0, k1)")
        def keyLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Long =
          e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
            case org.apache.spark.sql.catalyst.expressions.Literal(d: org.apache.spark.sql.types.Decimal, _) =>
              d.toJavaBigDecimal.toBigIntegerExact.longValue() // UInt64 bit pattern
            case other => throw new IllegalArgumentException(
              s"sipHash64Keyed: keys must be integer literals (got $other)")
          }
        graft.functions.ChSipHashKeyed(args(0), keyLit(args(1)), keyLit(args(2)))
      })
    // CH round: banker's for Float inputs, away-from-zero otherwise —
    // Spark's half-up builtin previously resolved case-insensitively
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_round",
      args => {
        require(args.size == 1 || args.size == 2, "round(x[, N])")
        graft.functions.GraftChRound(args.head,
          args.lift(1).getOrElse(
            org.apache.spark.sql.catalyst.expressions.Literal(0)))
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child,
      "graft_replace_regexp_one",
      args => {
        require(args.size == 3,
          "replaceRegexpOne(haystack, pattern, replacement)")
        graft.functions.GraftRegexpReplaceOne(args(0), args(1), args(2))
      })
    // simpleJSON*/visitParam* byte-scanner family (round 16; laws in
    // GraftSimpleJson's scaladoc — the constant-name requirement is
    // enforced by the expression's type check)
    for ((name, mode) <- Seq(
      "graft_sj_has" -> graft.functions.ChSimpleJsonMode.Has,
      "graft_sj_uint" -> graft.functions.ChSimpleJsonMode.UIntM,
      "graft_sj_int" -> graft.functions.ChSimpleJsonMode.IntM,
      "graft_sj_float" -> graft.functions.ChSimpleJsonMode.FloatM,
      "graft_sj_bool" -> graft.functions.ChSimpleJsonMode.Bool,
      "graft_sj_raw" -> graft.functions.ChSimpleJsonMode.Raw,
      "graft_sj_string" -> graft.functions.ChSimpleJsonMode.Str))
      org.apache.spark.sql.graft.bridge.registerFunction(child, name,
        args => {
          require(args.size == 2, s"$name(json, 'name')")
          graft.functions.ChSimpleJson(args(0), args(1), mode)
        })
    // firstSignificantSubdomain family (round 16; documented 4-name
    // heuristic — GraftUrlFns.fsd). The cut flag arrives as a literal
    // appended by the translator.
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_fsd",
      args => {
        require(args.size == 2, "graft_fsd(url, cut)")
        val cut = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_fsd: cut must be a boolean literal (got $other)")
        }
        graft.functions.GraftFsd(args(0), cut)
      })
    // ClickHouse MD5()/SHA1()/SHA256() return the binary digest (not
    // hex); generated SQL wraps them as lower(hex(F(x))) which composes
    // on these UDFs. CRC32 is zlib's (IEEE 802.3, init 0xFFFFFFFF) in
    // both engines.
    def digestBytes(x: AnyRef, fn: String): Array[Byte] = x match {
      case null => null
      case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"$fn: unsupported type ${other.getClass}")
    }
    for ((udf, algo) <- Seq("graft_md5bin" -> "MD5", "graft_sha1bin" -> "SHA-1",
      "graft_sha256bin" -> "SHA-256")) {
      child.udf.register(udf,
        new org.apache.spark.sql.api.java.UDF1[AnyRef, Array[Byte]] {
          override def call(x: AnyRef): Array[Byte] = {
            val bytes = digestBytes(x, udf)
            if (bytes == null) null
            else java.security.MessageDigest.getInstance(algo).digest(bytes)
          }
        },
        org.apache.spark.sql.types.BinaryType)
    }
    child.udf.register("graft_crc32",
      new org.apache.spark.sql.api.java.UDF1[AnyRef, java.lang.Long] {
        override def call(x: AnyRef): java.lang.Long = {
          val bytes = digestBytes(x, "graft_crc32")
          if (bytes == null) null
          else {
            val c = new java.util.zip.CRC32(); c.update(bytes); c.getValue
          }
        }
      },
      org.apache.spark.sql.types.LongType)
    // Catalyst-builder functions a Scala UDF cannot express (polymorphic
    // over the argument's type). graft_topk/graft_topk_w back the
    // translator's topK(k)(x)/topKWeighted(k)(x, w) rewrites;
    // graft_tuple_at is tupleElement's POSITIONAL struct access.
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal (got $other)")
    }
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_topk",
      args => {
        require(args.size == 2, "graft_topk(x, k)")
        graft.functions.ChTopK(args(0), intLit(args(1), "topK: k"), None)
          .toAggregateExpression()
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_topk_w",
      args => {
        require(args.size == 3, "graft_topk_w(x, w, k)")
        graft.functions.ChTopK(args(0), intLit(args(2), "topKWeighted: k"),
          Some(args(1))).toAggregateExpression()
      })
    org.apache.spark.sql.graft.bridge.registerFunction(child, "graft_tuple_at",
      args => {
        require(args.size == 2, "graft_tuple_at(struct, index)")
        val i = intLit(args(1), "tupleElement: index")
        require(i >= 1, s"tupleElement: index is 1-based (got $i)")
        org.apache.spark.sql.catalyst.expressions.GetStructField(args(0), i - 1)
      })
    // table views register LAZILY (ensureViews) — a fresh session starts
    // with UDFs only, and each query registers just the views it touches
    child
  }

  /** `FROM db.t FINAL`: the table's merged state on read, per engine —
    * Replacing keeps the max-version row per ORDER BY key (dropping
    * is_deleted survivors unless `keepTombstones`), Summing and
    * Aggregating combine each key group, VersionedCollapsing and
    * Collapsing cancel sign pairs. Engines without a merge rule reject:
    * their part-order tiebreak is not reproducible here. (Rows tying on
    * (key, ver) have no deterministic survivor on the server either.)
    */
  private def finalSource(db: String, t: String, keepTombstones: Boolean): String = {
    require(tableExists(db, t), s"no such table $db.$t")
    val (cols, opts, _) = readMeta(db, t)
    def orderKeys: Seq[String] =
      opts.getOrElse("order_by", throw new IllegalArgumentException(
        s"FINAL on $db.$t: table declares no order_by key"))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // is_deleted tombstone variant FIRST: the one-arg pattern would
    // otherwise swallow "ver,isd" written without a space
    val VerDelRe =
      "ReplacingMergeTree\\(\\s*([^,)\\s]+)\\s*,\\s*([^,)\\s]+)\\s*\\)".r
    val VerRe = "ReplacingMergeTree\\(\\s*([^,)\\s]+)\\s*\\)".r
    val SumRe = "SummingMergeTree(?:\\(\\s*([^)]*)\\))?".r
    def replacingPick(ver: String, isDeleted: Option[String]): String = {
      require(cols.exists(_._1 == ver),
        s"FINAL on $db.$t: version column '$ver' not in table columns")
      isDeleted.foreach { d =>
        val ty = cols.collectFirst { case (c, ty0) if c == d => ty0 }
          .getOrElse(throw new IllegalArgumentException(
            s"FINAL on $db.$t: is_deleted column '$d' not in table columns"))
        require({
          import org.apache.spark.sql.types._
          Seq(ByteType, ShortType, IntegerType, LongType)
            .contains(ClickHouseType.parse(ty).dataType)
        },
          s"FINAL on $db.$t: is_deleted column '$d' must be an integer " +
            s"0/1 flag (UInt8 on a real server), not $ty")
      }
      val keys = orderKeys.map(k => s"`$k`").mkString(", ")
      val colList = cols.map { case (c, _) => s"`$c`" }.mkString(", ")
      // survivor = max-version row per key; with an is_deleted column a
      // FINAL READ then drops survivors flagged 1 (the modern server
      // tombstone rule). Merges (OPTIMIZE, keepTombstones=true) KEEP
      // the flagged survivor — a server only purges it under OPTIMIZE
      // ... FINAL CLEANUP, so plain reads must still see it.
      val drop = isDeleted match {
        case Some(d) if !keepTombstones => s" AND `$d` <> 1"
        case _ => ""
      }
      s"FROM (SELECT $colList FROM (SELECT *, ROW_NUMBER() OVER " +
        s"(PARTITION BY $keys ORDER BY `$ver` DESC) AS __gf_rn " +
        s"FROM `$db`.`$t`) AS __gf_in WHERE __gf_rn = 1$drop) AS `$t`"
    }
    opts.getOrElse("engine", "") match {
      case VerDelRe(ver, del) =>
        replacingPick(ver, Some(del))
      case VerRe(ver) =>
        replacingPick(ver, None)
      case SumRe(sumList) =>
        // SummingMergeTree: merges collapse rows sharing the sorting
        // key — listed columns (or, unlisted, every numeric non-key
        // column) SUM; other non-key columns take a deterministic
        // representative (min — the server keeps "any one", min is a
        // legal any, reproducibly); rows whose summed columns all
        // total 0/NULL are DELETED (the server's documented rule)
        val keys = orderKeys
        keys.foreach(k => require(cols.exists(_._1 == k),
          s"FINAL on $db.$t: sorting key '$k' not in table columns"))
        val listed = Option(sumList).map(_.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
        listed.foreach(c => require(cols.exists(_._1 == c),
          s"FINAL on $db.$t: summed column '$c' not in table columns"))
        val summed: Set[String] =
          if (listed.nonEmpty) listed.toSet
          else cols.collect { case (c, ty)
              if !keys.contains(c) &&
                ClickHouseType.parse(ty).dataType
                  .isInstanceOf[org.apache.spark.sql.types.NumericType] =>
            c
          }.toSet
        require(summed.nonEmpty,
          s"FINAL on $db.$t: SummingMergeTree with nothing to sum " +
            "(no numeric non-key columns)")
        val sel = cols.map { case (c, _) =>
          if (keys.contains(c)) s"`$c`"
          else if (summed(c)) s"sum(`$c`) AS `$c`"
          else s"min(`$c`) AS `$c`"
        }.mkString(", ")
        val havingNotAllZero = summed.toSeq.sorted
          .map(c => s"coalesce(sum(`$c`), 0) = 0").mkString(" AND ")
        s"FROM (SELECT $sel FROM `$db`.`$t` GROUP BY " +
          keys.map(k => s"`$k`").mkString(", ") +
          s" HAVING NOT ($havingNotAllZero)) AS `$t`"
      case e if e.startsWith("VersionedCollapsingMergeTree") =>
        // (sign, version): rows with the same sorting key AND version
        // cancel in +1/-1 pairs; the net survivor keeps its net sign.
        // Deterministic for well-formed input (net sign per (key,
        // version) in {-1, 0, 1} — the documented usage); plain
        // CollapsingMergeTree depends on INSERTION ORDER and is
        // rejected below.
        val VcRe = "VersionedCollapsingMergeTree\\(\\s*([^,\\s)]+)\\s*,\\s*([^,\\s)]+)\\s*\\)".r
        val (signCol, verCol) = VcRe.findFirstMatchIn(e) match {
          case Some(m) => (m.group(1), m.group(2))
          case None => throw new IllegalArgumentException(
            s"FINAL on $db.$t: VersionedCollapsingMergeTree needs " +
              "(sign_column, version_column)")
        }
        for (c <- Seq(signCol, verCol))
          require(cols.exists(_._1 == c),
            s"FINAL on $db.$t: column '$c' not in table columns")
        val keys = orderKeys
        keys.foreach(k => require(cols.exists(_._1 == k),
          s"FINAL on $db.$t: sorting key '$k' not in table columns"))
        val groupCols = keys :+ verCol
        val sel = cols.map { case (c, ty) =>
          if (groupCols.contains(c)) s"`$c`"
          else if (c == signCol)
            // CAST target is the CH type — the translator maps it
            s"CAST(if(sum(`$signCol`) > 0, 1, -1) AS $ty) AS `$c`"
          else s"min(`$c`) AS `$c`"
        }.mkString(", ")
        s"FROM (SELECT $sel FROM `$db`.`$t` GROUP BY " +
          groupCols.map(k => s"`$k`").mkString(", ") +
          s" HAVING sum(`$signCol`) <> 0) AS `$t`"
      case e if e.startsWith("CollapsingMergeTree") =>
        // Insertion-order collapse over the sequence view (every part
        // carries its insert sequence in its name since round 12). Per
        // sorting-key group, in insertion order — the server's
        // documented algorithm: net sum(sign) = 0 with a trailing
        // cancel → nothing survives; net 0 with a trailing state →
        // first cancel AND last state survive (the state row arrived
        // after its own history collapsed); net +1 → last state;
        // net -1 → first cancel; |net| >= 2 is the server's "logical
        // error" (it logs and gives no guarantee) — here it raises
        // loudly instead of answering unpredictably.
        val CcRe = "CollapsingMergeTree\\(\\s*([^)\\s]+)\\s*\\)".r
        val signCol = CcRe.findFirstMatchIn(e) match {
          case Some(m) => m.group(1)
          case None => throw new IllegalArgumentException(
            s"FINAL on $db.$t: CollapsingMergeTree needs (sign_column)")
        }
        require(cols.exists(_._1 == signCol),
          s"FINAL on $db.$t: sign column '$signCol' not in table columns")
        val keys = orderKeys
        keys.foreach(k => require(cols.exists(_._1 == k),
          s"FINAL on $db.$t: sorting key '$k' not in table columns"))
        val kl = keys.map(k => s"`$k`").mkString(", ")
        val colList = cols.map { case (c, _) => s"`$c`" }.mkString(", ")
        val sq = s"`$signCol`"
        s"FROM (SELECT $colList FROM (SELECT *, " +
          s"sum($sq) OVER (PARTITION BY $kl) AS __cf_net, " +
          s"max(CASE WHEN $sq = 1 THEN __ch_seq END) OVER (PARTITION BY $kl) AS __cf_ls, " +
          s"min(CASE WHEN $sq = -1 THEN __ch_seq END) OVER (PARTITION BY $kl) AS __cf_fc, " +
          s"max(__ch_seq) OVER (PARTITION BY $kl) AS __cf_mx " +
          s"FROM ${EmbeddedClickHouse.seqViewName(db, t)}) AS __cf_in " +
          "WHERE CASE " +
          "WHEN abs(__cf_net) > 1 THEN CAST(raise_error(" +
          s"'CollapsingMergeTree collapse on $db.$t: a sorting-key " +
          "group nets |sum(sign)| >= 2 — malformed state/cancel " +
          "sequence (the server calls this a logical error and gives " +
          "no guarantee); repair the writer') AS BOOLEAN) " +
          s"WHEN __cf_net = 1 THEN $sq = 1 AND __ch_seq = __cf_ls " +
          s"WHEN __cf_net = -1 THEN $sq = -1 AND __ch_seq = __cf_fc " +
          "WHEN __cf_ls IS NOT NULL AND __cf_ls = __cf_mx THEN " +
          s"($sq = 1 AND __ch_seq = __cf_ls) OR " +
          s"($sq = -1 AND __ch_seq = __cf_fc) " +
          s"ELSE false END) AS `$t`"
      case e if e.startsWith("AggregatingMergeTree") =>
        // AggregatingMergeTree: rows sharing the sorting key collapse
        // by MERGING each AggregateFunction column per its function
        // (the transparent state reps of ClickHouseType.aggStateType);
        // plain non-key columns take the deterministic representative
        val keys = orderKeys
        keys.foreach(k => require(cols.exists(_._1 == k),
          s"FINAL on $db.$t: sorting key '$k' not in table columns"))
        val sel = cols.map { case (c, ty) =>
          if (keys.contains(c)) s"`$c`"
          else ClickHouseType.aggFunction(ty) match {
            case Some("avg") =>
              s"named_struct('s', sum(`$c`.s), 'c', sum(`$c`.c)) AS `$c`"
            case Some("uniq") | Some("uniqExact") =>
              s"array_distinct(flatten(collect_list(`$c`))) AS `$c`"
            case Some("sum") | Some("count") => s"sum(`$c`) AS `$c`"
            case Some("min") | Some("any") => s"min(`$c`) AS `$c`"
            case Some("max") => s"max(`$c`) AS `$c`"
            case Some(other) => throw new IllegalArgumentException(
              s"FINAL on $db.$t: no merge rule for AggregateFunction($other)")
            case None => s"min(`$c`) AS `$c`"
          }
        }.mkString(", ")
        s"FROM (SELECT $sel FROM `$db`.`$t` GROUP BY " +
          keys.map(k => s"`$k`").mkString(", ") + s") AS `$t`"
      case e => throw new IllegalArgumentException(
        s"FINAL on $db.$t: the embedded store supports FINAL only on " +
          s"ReplacingMergeTree(<version_column>), SummingMergeTree" +
          s"[(columns)], or AggregatingMergeTree (engine is '$e'; " +
          "without a merge rule the server's part-order tiebreak is " +
          "not reproducible here)")
    }
  }

  /** `FROM db.t SAMPLE f [OFFSET o]`, the server's storage-level
    * sampling, deterministically: keep the rows whose unit-interval hash
    * of the table's DECLARED sampling key (first 8 hex of md5 as an
    * integer, mod 1e6) falls in [o, o+f), wrapping at 1. A table without
    * a declared `sampling` key rejects the clause, like the server.
    */
  private def sampleCond(db: String, t: String, f: Double, o: Double): String = {
    require(tableExists(db, t), s"no such table $db.$t")
    val (_, opts, _) = readMeta(db, t)
    val key = opts.getOrElse("sampling", throw new IllegalArgumentException(
      s"SAMPLE on $db.$t: table has no declared sampling key " +
        "(create it with TBLPROPERTIES sampling = '<expr>')"))
    val lo = math.round(o * 1000000.0)
    val hi = lo + math.round(f * 1000000.0)
    val bucket = "pmod(CAST(conv(substring(md5(CAST((" + key +
      ") AS STRING)), 1, 8), 16, 10) AS BIGINT), 1000000)"
    if (hi <= 1000000L) s"($bucket >= $lo AND $bucket < $hi)"
    else s"($bucket >= $lo OR $bucket < ${hi - 1000000L})"
  }

  private val StorageRef = ("(?is)^\\s*(?:`([^`]+)`|(\\w+))\\.(?:`([^`]+)`|(\\w+))\\s+" +
    "(?:(FINAL)|SAMPLE\\s+([0-9.]+)(?:\\s+OFFSET\\s+([0-9.]+))?)(?=\\s|$)").r

  /** `FROM db.t FINAL` and `FROM db.t SAMPLE f [OFFSET o]`, names
    * quoted or bare, at every query level: the source becomes its dedup
    * subquery or its sampled subquery. Both are read from the FROM
    * clause's own text, never from literals. A `trigger` (a materialized
    * view's select over one inserted block) rejects FINAL.
    */
  private def rewriteStorage(sql: String, keepTombstones: Boolean, trigger: Boolean): String =
    if (raw"(?i)\b(FINAL|SAMPLE)\b".r.findFirstIn(sql).isEmpty) sql
    else ChClauses.mapLevels(sql) { s =>
      ChClauses(s).branches.flatMap(_(ChClauses.From)).foldRight(s) { (f, acc) =>
        StorageRef.findFirstMatchIn(acc.substring(f.body, f.end)).fold(acc) { m =>
          val (db, t) = (Option(m.group(1)).getOrElse(m.group(2)),
            Option(m.group(3)).getOrElse(m.group(4)))
          require(m.group(5) == null || !trigger,
            s"FINAL on $db.$t in a materialized view select: the trigger " +
              "runs over one inserted block, and FINAL reads the merged " +
              "state of the whole table — read the target with FINAL instead")
          val source =
            if (m.group(5) != null) finalSource(db, t, keepTombstones)
            else s"FROM (SELECT * FROM `$db`.`$t` WHERE " + sampleCond(db, t,
              m.group(6).toDouble, Option(m.group(7)).fold(0.0)(_.toDouble)) +
              s") AS `$t`"
          acc.substring(0, f.start) + source + acc.substring(f.body + m.end)
        }
      }
    }

  /** A read statement through the prepared-statement cache: a server
    * keeps prepared statements; repeated identical remote SQL (bench
    * iterations, re-planned scans) skips parse+analysis. A statement is
    * re-resolved only after a table it reads, or the catalog, changed: a
    * write to one table leaves every other table's statements warm.
    * Bounded: runtime-filter literals make distinct SQL per
    * execution, so the cache keeps the
    * [[EmbeddedClickHouse.PreparedStatements]] most recently used
    * statements rather than growing without limit on long read-only
    * sessions.
    */
  private def resolveQueryDf(
      entry: EmbeddedClickHouse.CachedServer,
      sql: String): org.apache.spark.sql.DataFrame =
    entry.prepared(sql)(resolveStatement(entry, _))

  /** The one statement path: every statement the store runs turns its
    * ClickHouse SQL into an analyzed DataFrame here, through the same
    * stages in order: detoken → ANY JOIN → reshape → FINAL/SAMPLE →
    * `_part` → translate → views → analyze → projection swap → reshape
    * post-step. Reads come through [[resolveQueryDf]]'s cache; writes,
    * DDL and triggers call it uncached, so they never evict a read plan.
    * `keepTombstones`: a merge keeps is_deleted survivors. `block`: a
    * materialized view's select over one inserted block (no files: an
    * empty one) — the view stage binds the source table to it, and
    * FINAL and `_part` reject, as they read table-level state.
    */
  private def resolveStatement(
      entry: EmbeddedClickHouse.CachedServer,
      sql: String,
      keepTombstones: Boolean = false,
      block: Option[((String, String), Seq[Path])] = None)
      : org.apache.spark.sql.DataFrame = {
    val tables = knownTables
    // keyed-collapse slice tokens are an HTTP-transport affordance
    // (per-slice hash-mod predicates inside the aggregation); the
    // embedded transport executes the statement once and fans its
    // result out on the spill write, so the token is dropped before
    // translation (leaving `WHERE true`)
    val detokened0 = sql.replaceAll(raw"/\*__CH_SLICE__\([^)]*\)\*/", "")
    // ANY JOIN strictness: build side dedupes to a deterministic
    // one-row-per-key pick (needs schema, so it lives here, not in
    // the pure translator)
    val detokened = rewriteAnyJoin(entry, detokened0)
    // top-level reshapes, decided from one clause split: DISTINCT ON
    // and LIMIT n [OFFSET o] BY (a row_number window in the ORDER BY
    // order, which is REQUIRED), LIMIT n WITH TIES (a rank() window,
    // same helper-column pattern), ORDER BY col WITH FILL (the gap rows
    // are composed onto the analyzed frame below, lazily, so DESCRIBE
    // never executes anything), star transformers (* REPLACE / APPLY /
    // COLUMNS('re'), composed on the analyzed frame)
    val shape = ChSqlTranslator.reshape(detokened)
    val effective = shape.fold(detokened)(_.statement)
    val plainStmt = rewriteStorage(effective, keepTombstones, block.isDefined)
    // `_part` virtual column (server MergeTree parity): statements
    // referencing it read through per-part augmented views so the
    // part NAME is an ordinary column — registered on demand, never
    // polluting star-selects of ordinary reads
    val partStmt = rewritePartVirtual(entry, plainStmt, tables, block.isDefined)
    val tr = ChSqlTranslator.translate(partStmt, tables)
    // a trigger's source resolves to the block, on a clone of the server
    // session so that concurrent statements keep reading the table
    ensureViews(entry, tr, tables.filterNot(t => block.exists(_._1 == t)))
    val session = block.fold(entry.session) { case ((db, t), files) =>
      val s = org.apache.spark.sql.graft.bridge.cloneSession(entry.session)
      val schema = sparkSchema(db, t)
      (if (files.isEmpty)
        s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else s.read.schema(schema).parquet(files.map(_.toString): _*))
        .createOrReplaceTempView(ChSqlTranslator.viewName(db, t))
      s
    }
    val df =
      try session.sql(tr) catch { case e: Throwable =>
        // the ASOF rewrite flattens `l.*, r.*` into one subquery and
        // strips alias qualifiers, so two sides SHARING a column name
        // (the `ON l.sym = r.sym` shape with same-named keys) surface
        // as an ambiguous-reference analysis error — name the actual
        // limitation instead of leaving a bare Spark message (advisor
        // r12); the workaround is renaming one side's columns apart in
        // a subselect
        val asofAmbig =
          raw"(?i)\bASOF\b".r.findFirstIn(detokened).isDefined &&
            (e.getMessage.contains("AMBIGUOUS_REFERENCE") ||
              e.getMessage.toLowerCase.contains("ambiguous"))
        val hint =
          if (asofAmbig)
            "\nASOF JOIN note: the embedded rewrite flattens both " +
              "sides into one row, so columns sharing a NAME across " +
              "the two sides become ambiguous — alias one side's " +
              "columns apart in a subselect (e.g. SELECT sym AS qsym, " +
              "... ) and join on the renamed key"
          else ""
        throw new IllegalArgumentException(
          s"translated SQL failed: ${e.getMessage}$hint" +
            s"\n--- translated ---\n$tr", e) }
    // projection swap: when the statement is a plain aggregate over a
    // projected table and every live part carries the projection's
    // state dir, re-plan onto the state view. The swap is verified
    // against the BASE plan's analyzed schema (names + types) and any
    // mismatch or failure keeps the base frame — a projection read is
    // a storage optimization, identical rows by construction (a
    // trigger reads its block, never the table's projection states)
    val chosen =
      if (block.isDefined) df else tryProjectionSwap(entry, plainStmt, df, tables)
    shape match {
      case Some(_: ChSqlTranslator.LimitByParts) => chosen.drop("__lb_rn")
      case Some(_: ChSqlTranslator.WithTiesParts) => chosen.drop("__wt_rk")
      case Some(f: ChSqlTranslator.WithFillParts) => fillGaps(chosen, f)
      case Some(p: ChSqlTranslator.StarTransformParts) =>
        starTransform(chosen, p, tables)
      case None => chosen
    }
  }

  /** The `_part` virtual column: when a statement references it (word-
    * boundary, outside strings), every referenced store table swaps to
    * an on-demand view carrying the part file name as a column — the
    * server's MergeTree `_part` surface. Other virtual columns
    * (`_partition_id` etc.) stay unresolved-and-loud: embedded part
    * files are not partition-split, so deriving them from file names
    * would lie. A `trigger` rejects `_part`.
    */
  private def rewritePartVirtual(
      entry: EmbeddedClickHouse.CachedServer, stmt: String,
      tables: Seq[(String, String)], trigger: Boolean): String = {
    // quote-aware reference scan: a bare `_part` word or the backticked
    // identifier, never text inside string literals
    def referencesPart(s: String): Boolean = {
      val lx = new ChLex(s)
      while (lx.next())
        if ((lx.kind == ChLex.Ident && lx.closed ||
          lx.kind == ChLex.Word) && lx.name == "_part") return true
      false
    }
    if (!referencesPart(stmt)) return stmt
    require(!trigger,
      "_part in a materialized view select: the trigger runs over one " +
        "inserted block, and _part reads the part list of the whole table")
    tables.foldLeft(stmt) { case (acc, (db, t)) =>
      val quoted = s"`$db`.`$t`"
      if (!acc.contains(quoted)) acc
      else ChSqlTranslator.mapOutsideStrings(acc)(
        _.replace(quoted, ensurePartView(entry, db, t)))
    }
  }

  private def ensurePartView(
      entry: EmbeddedClickHouse.CachedServer, db: String, t: String): String = {
    val name = EmbeddedClickHouse.partViewName(db, t)
    refreshView(entry, (s"__vpart__$db.$t", ""), (db, t)) {
      val child = entry.session
      import org.apache.spark.sql.functions.lit
      val schema = sparkSchema(db, t)
      val files = dataFiles(db, t)
      val df =
        if (files.isEmpty)
          child.createDataFrame(java.util.Collections.emptyList[Row](), schema)
            .withColumn("_part", lit(""))
        else files.map { f =>
          child.read.schema(schema).parquet(f).withColumn("_part",
            lit(Paths.get(f).getFileName.toString))
        }.reduce(_ unionByName _)
      df.createOrReplaceTempView(name)
    }
    name
  }

  private val ProjFromRe = raw"^`([^`]+)`\.`([^`]+)`$$".r

  /** Attempt the projection read-rewrite for `plainStmt`; returns the
    * projection-backed frame only when the rewritten statement analyzes
    * to the SAME schema as `base` — otherwise `base`, always correct.
    */
  private def tryProjectionSwap(
      entry: EmbeddedClickHouse.CachedServer, plainStmt: String,
      base: org.apache.spark.sql.DataFrame,
      tables: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    try {
      val top = ChClauses(plainStmt)
      if (top.branches.size != 1) return base
      val (db, t) = top.branches.head(ChClauses.From).map(top.body) match {
        case Some(ProjFromRe(d0, t0)) => (d0, t0)
        case _ => return base
      }
      val defs = listProjections(db, t)
      if (defs.isEmpty) return base
      val at = clock.counter.get // before the listing the view registers
      val live = dataFiles(db, t).map(f => Paths.get(f).getFileName.toString)
      if (live.isEmpty) return base
      val tableRef = s"`$db`.`$t`"
      defs.foreach { d =>
        val covered = live.forall(n =>
          Files.isDirectory(projDataDir(db, t, d.name).resolve(n)))
        if (covered) {
          val viewRef = s"__ch_proj_${db}_${t}_${d.name}"
          ChProjections.rewriteQuery(plainStmt, tableRef, d, viewRef)
            .foreach { ps =>
              val swapped =
                try {
                  refreshView(entry, (s"__proj__$db.$t", d.name), (db, t), at) {
                    entry.session.read.parquet(live.map(n =>
                      projDataDir(db, t, d.name).resolve(n).toString): _*)
                      .createOrReplaceTempView(viewRef)
                  }
                  val pdf = entry.session.sql(
                    ChSqlTranslator.translate(ps, tables))
                  val sameSchema =
                    pdf.schema.fields.length == base.schema.fields.length &&
                      pdf.schema.fields.zip(base.schema.fields).forall {
                        case (a, b) => a.name == b.name &&
                          ClickHouseType.ignoreNullability(a.dataType) ==
                            ClickHouseType.ignoreNullability(b.dataType)
                      }
                  if (sameSchema) Some(pdf) else None
                } catch { case _: Exception => None }
              swapped.foreach { pdf =>
                val hitKey = s"$root|$db.$t.${d.name}"
                EmbeddedClickHouse.projectionHits.merge(
                  hitKey, java.lang.Long.valueOf(1L),
                  (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
                EmbeddedClickHouse.lastProjectionHit = Some(s"$db.$t.${d.name}")
                return pdf
              }
            }
        }
      }
      base
    } catch { case _: Exception => base }
  }

  /** Times a read of `db`.`table` was served from projection `name`
    * (this JVM, this store root).
    */
  def projectionHitCount(db: String, table: String, name: String): Long = {
    val v = EmbeddedClickHouse.projectionHits.get(s"$root|$db.$table.$name")
    if (v == null) 0L else v.longValue
  }

  /** `LEFT ANY JOIN` / `INNER ANY JOIN` (either keyword order): at most
    * one build-side row joins per key. The server picks an ARBITRARY
    * match; the embedded engine picks a DETERMINISTIC legal instance —
    * the build side dedupes to one row per join key via a row_number
    * window ordered over ALL of its columns (the any() → min() rule,
    * join-shaped). The column list comes from table metadata (bare
    * `db`.`t` operands) or a LIMIT-0 schema probe (subquery operands).
    * Top-level only, one join per level, equi-ON or USING — everything
    * else rejects loudly in parseAnyJoin.
    */
  private def rewriteAnyJoin(
      entry: EmbeddedClickHouse.CachedServer, sql: String): String = {
    val p = ChSqlTranslator.parseAnyJoin(sql).getOrElse(return sql)
    val bareT = "^`([^`]+)`\\.`([^`]+)`$".r
    val rightTrim = p.right.trim
    val cols: Seq[String] = rightTrim match {
      case bareT(db, t) => readMeta(db, t)._1.map(_._1)
      case rsub =>
        require(rsub.startsWith("("),
          s"ANY JOIN: unsupported right operand '$rsub' — use a bare " +
            "`db`.`table` reference or a parenthesized subquery")
        resolveStatement(entry, s"SELECT * FROM $rsub __any_probe LIMIT 0")
          .schema.fieldNames.toSeq
    }
    val alias = p.rightAlias.map(_.stripPrefix("`").stripSuffix("`"))
      .getOrElse(rightTrim match {
        case bareT(_, t) => t
        case _ => throw new IllegalArgumentException(
          "ANY JOIN: a subquery right operand needs an alias (AS r)")
      })
    val keys: Seq[String] = p.usingCols.getOrElse {
      // equi-ON: the build-side key columns, by alias qualifier
      val body = p.on
      val QualRef = ("^(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))\\." +
        "(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))$").r
      def refOf(e: String): Option[(String, String)] =
        QualRef.findFirstMatchIn(e.trim).map(q =>
          (Option(q.group(1)).getOrElse(q.group(2)),
            Option(q.group(3)).getOrElse(q.group(4))))
      body.split(raw"(?i)\bAND\b").toSeq.map(_.trim).map { item =>
        item.split("=", 2).toSeq.map(_.trim) match {
          case Seq(a, b) =>
            (refOf(a), refOf(b)) match {
              case (Some((qa, ca)), Some(_)) if qa == alias => ca
              case (Some(_), Some((qb, cb))) if qb == alias => cb
              case _ => throw new IllegalArgumentException(
                s"ANY JOIN: ON item '$item' is not a qualified equality " +
                  s"with one side on `$alias` — use alias-qualified " +
                  "equi-conditions or USING (cols)")
            }
          case _ => throw new IllegalArgumentException(
            s"ANY JOIN: ON item '$item' is not an equality; only " +
              "equi-ON / USING shapes are modeled embedded")
        }
      }
    }
    keys.foreach(k => require(cols.contains(k),
      s"ANY JOIN: key `$k` is not a column of the build side " +
        s"(${cols.mkString(", ")})"))
    val colList = cols.map(c => s"`$c`").mkString(", ")
    val keyList = keys.map(k => s"`$k`").mkString(", ")
    val newRight =
      s"(SELECT $colList FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY $keyList ORDER BY $colList) AS __any_rn " +
        s"FROM $rightTrim) __any_d WHERE __any_rn = 1) AS `$alias`"
    p.prefix + "FROM " + p.left + s" ${p.kind} JOIN " + newRight + " " + p.cond
  }

  /** Compose parsed star transformers onto the analyzed core frame:
    * COLUMNS filters by partial regex match first (server RE2 find
    * semantics), REPLACE substitutes in place keeping column position
    * (withColumn), APPLY wraps every column and renames to `fn(col)` —
    * the server's result naming. Item expressions are ClickHouse SQL
    * fragments, translated before expr().
    */
  private def starTransform(
      df0: org.apache.spark.sql.DataFrame,
      p: ChSqlTranslator.StarTransformParts,
      tables: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    var df = df0
    p.columnsRe.foreach { re =>
      val r = re.r
      val hit = df.columns.filter(c => r.findFirstIn(c).isDefined)
      require(hit.nonEmpty,
        s"COLUMNS('$re') matched no column of (${df.columns.mkString(", ")})")
      df = df.select(hit.map(col).toIndexedSeq: _*)
    }
    p.ops.foreach {
      case ChSqlTranslator.StarReplace(items) =>
        items.foreach { case (e, c) =>
          require(df.columns.contains(c),
            s"* REPLACE: no column `$c` in (${df.columns.mkString(", ")})")
          df = df.withColumn(c,
            expr(ChSqlTranslator.translateFragment(e, tables)))
        }
      case ChSqlTranslator.StarApply(fn) =>
        df = df.select(df.columns.map(c =>
          expr(ChSqlTranslator.translateFragment(s"$fn(`$c`)", tables))
            .as(s"$fn($c)")).toIndexedSeq: _*)
    }
    df
  }

  /** Compose the WITH FILL gap rows onto the analyzed core frame: a
    * lazy integer grid over [FROM, TO) — or the result's own min..max
    * when a bound is omitted — anti-joined against the existing fill
    * values; missing rows pad the other columns with the server's
    * column defaults (NULL when nullable, the type zero otherwise — the
    * same rule ALTER ADD uses), and the union re-sorts ascending on the
    * fill column. Everything stays lazy, so DESCRIBE never executes.
    */
  private def fillGaps(
      df0: org.apache.spark.sql.DataFrame,
      f: ChSqlTranslator.WithFillParts): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val cname = f.col.stripPrefix("`").stripSuffix("`")
    val field = df0.schema.fields.find(_.name == cname).getOrElse(
      throw new IllegalArgumentException(
        s"WITH FILL: column `$cname` is not in the result " +
          s"(${df0.schema.fieldNames.mkString(", ")})"))
    val isDate = field.dataType == DateType
    require(isDate || Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(field.dataType),
      s"WITH FILL embedded supports integral and Date fill columns, " +
        s"not ${field.dataType.sql}")
    val Quoted = "'(.*)'".r
    def bound(txt: String, which: String): org.apache.spark.sql.Column =
      (txt, isDate) match {
        case (Quoted(d), true) => to_date(lit(d))
        case (n, false) if n.matches("-?\\d+") => lit(n.toLong)
        case _ => throw new IllegalArgumentException(
          s"WITH FILL $which bound '$txt' does not match the " +
            s"${field.dataType.sql} fill column (dates take '<yyyy-MM-dd>', " +
            "integers a bare number)")
      }
    // step: numeric counts stride integers; Date columns step by a
    // calendar interval (a bare number means n DAYS, like the server)
    val stepUnit = f.stepUnit.getOrElse(
      if (isDate) "DAY" else "")
    require(!(!isDate && f.stepUnit.isDefined),
      "WITH FILL STEP INTERVAL needs a Date fill column")
    val stepCol =
      if (isDate) expr(s"interval ${f.stepN} $stepUnit") else lit(f.stepN)
    // grid source: a 1-row frame when both bounds are literal, else the
    // result's own min/max (the agg stays lazy)
    val gridBase =
      if (f.from.isDefined && f.to.isDefined)
        df0.sparkSession.range(1).toDF()
      else if (isDate) df0.agg(
        min(col(cname)).as("__lo"), max(col(cname)).as("__hi"))
      else df0.agg(
        min(col(cname)).cast(LongType).as("__lo"),
        max(col(cname)).cast(LongType).as("__hi"))
    val loC = f.from.map(bound(_, "FROM")).getOrElse(col("__lo"))
    // TO is exclusive (server semantics); an omitted TO means the
    // existing max, inclusive. For dates the largest value < TO at day
    // granularity is TO - 1 day (calendar steps land on or before it).
    val hiC = f.to.map(t =>
      if (isDate) date_sub(bound(t, "TO"), 1) else bound(t, "TO") - lit(1))
      .getOrElse(col("__hi"))
    val grid = gridBase
      .select(explode(sequence(loC, hiC, stepCol)).as("__fill"))
      .select(col("__fill").cast(field.dataType).as(cname))
    val missing = grid.join(
      df0.select(col(cname)).where(col(cname).isNotNull), Seq(cname), "left_anti")
    val padCols = df0.schema.fields.map { sf =>
      if (sf.name == cname) col(cname)
      else if (sf.nullable) lit(null).cast(sf.dataType).as(sf.name)
      else (sf.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => lit(0).cast(sf.dataType)
        case StringType => lit("")
        case BooleanType => lit(false)
        case DateType => to_date(lit("1970-01-01"))
        case TimestampType | TimestampNTZType =>
          timestamp_seconds(lit(0)).cast(sf.dataType)
        case at: ArrayType => array().cast(at)
        case other => throw new IllegalArgumentException(
          s"WITH FILL: no column default for non-nullable ${other.sql} " +
            s"(`${sf.name}`)")
      }).as(sf.name)
    }
    if (f.interpolate.isEmpty)
      df0.unionByName(missing.select(padCols.toIndexedSeq: _*))
        .orderBy(col(cname).asc_nulls_last)
    else {
      // INTERPOLATE (previous-value carry): a fill row takes the value of
      // the previous OUTPUT row, which chains back to the LAST ORIGINAL
      // row at-or-before it — NULL included (an original NULL repeats as
      // NULL, so a bare ignoreNulls last() over the column would lie).
      // The struct wrap makes every original row non-null for the
      // ignoreNulls pick regardless of the column's own value.
      val interpNames = f.interpolate.map(_.stripPrefix("`").stripSuffix("`"))
      interpNames.foreach { c =>
        require(df0.schema.fieldNames.contains(c),
          s"INTERPOLATE: column `$c` is not in the result")
        require(c != cname, "INTERPOLATE of the fill column itself")
      }
      val marked = df0.withColumn("__fill", lit(false))
        .unionByName(missing.select(
          (padCols :+ lit(true).as("__fill")).toIndexedSeq: _*))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(cname).asc_nulls_last)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val carried = interpNames.foldLeft(marked) { (d, c) =>
        val lastOrig = last(
          when(!col("__fill"), struct(col(c).as("v"))), ignoreNulls = true)
          .over(w)
        d.withColumn(c,
          when(col("__fill") && lastOrig.isNotNull, lastOrig.getField("v"))
            .otherwise(col(c)))
      }
      carried.drop("__fill").orderBy(col(cname).asc_nulls_last)
    }
  }

  override def describeQuery(chSql: String): StructType =
    resolveQueryDf(serverEntry(), chSql).schema // analysis only, no execution

  /** Two paths. A bare column read (the statement's prepared plan is
    * one parquet scan, see [[EmbeddedClickHouse.bareScan]]) runs no job
    * and copies no row: it returns [[ChPartHandle]]s over the scan's own
    * file partitions ([[partHandles]]), read by the reader the scan would
    * have run.
    *
    * Every other statement is executed once, by the spill job over the
    * statement's own cached `toRdd` (under AQE, building it runs the
    * shuffle stages once; a warm statement re-runs only the final stage),
    * and the stream fan-out happens on the spill write instead of through
    * a sizing pass and a repartitioned re-run. An un-ordered result
    * with fewer partitions than `numStreams` deals each partition's rows
    * round-robin over its share of the stream files (stream j belongs to
    * partition j % parts) and comes back as exactly `numStreams` handles,
    * as a server fans even small results across max_threads streams.
    * Otherwise partition i is stream file i (none if it is empty) and
    * the handles are contiguous file groups: a TOP-LEVEL ORDER BY result
    * keeps its range partitioning, so handle order replays the global
    * order (a subquery-only ORDER BY orders nothing outside it). An empty
    * result is one empty handle. Spill files are UnsafeRow bytes: no
    * external-row conversion on either side of the "wire".
    */
  override def planQuery(sql: String, numStreams: Int): (StructType, Seq[ChPartitionHandle]) = {
    val df = resolveQueryDf(serverEntry(), sql)
    val schema = df.schema
    val qe = EmbeddedClickHouse.perRunPlan(df)
    val direct = EmbeddedClickHouse.bareScan(qe.executedPlan, schema)
      .flatMap(partHandles(_, schema, numStreams))
    (schema, direct.getOrElse(spillHandles(qe.toRdd, sql, schema, numStreams)))
  }

  private def spillHandles(
      internal: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      sql: String, schema: StructType, numStreams: Int): Seq[ChPartitionHandle] = {
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
      scan: org.apache.spark.sql.execution.FileSourceScanExec,
      schema: StructType, numStreams: Int): Option[Seq[ChPartitionHandle]] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, PartitionedFile}
    val rdd = scan.inputRDD.asInstanceOf[FileScanRDD]
    val owned = Paths.get(root).toAbsolutePath.normalize
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
          dir.foreach(d => try deleteRecursively(d) catch { case _: Exception => () })
          return None
      }
    val parts = rdd.filePartitions.map(p => p.copy(files = p.files.map { f =>
      local(f).flatMap(linked.get).fold(f)(l =>
        f.copy(filePath = org.apache.spark.paths.SparkPath.fromUri(l.toUri)))
    }))
    val read = EmbeddedClickHouse.scanReader(scan, rdd)
    val n = math.max(1, numStreams)
    Some((0 until n).map(j => ChPartHandle(
      parts.indices.filter(_ % n == j).map(parts): Seq[FilePartition],
      read, scan.supportsColumnar, dir.map(_.toString), schema.json)))
  }

  /** A fresh result dir under `<root>/.spill` (reaping stale ones first). */
  private def newSpillDir(): Path = {
    val spillRoot = Paths.get(root, ".spill")
    cleanStaleSpills(spillRoot)
    Files.createDirectories(spillRoot.resolve(java.util.UUID.randomUUID.toString))
  }

  /** The spill job: run `rows` once, dealing partition i round-robin
    * over the streams `layout(i)` (files in a fresh spill dir); returns
    * stream → file for every stream a row landed in. A result with no
    * rows leaves no dir.
    */
  private def spill(
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: StructType)(layout: Int => IndexedSeq[Int]): Map[Int, String] = {
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
  override def bucketFamily: Option[String] = Some("murmur3")

  override def planQueryBuckets(
      sql: String,
      bucketColumn: String,
      numBuckets: Int): Option[(StructType, Seq[ChPartitionHandle])] = {
    val df = resolveQueryDf(serverEntry(), sql)
    val schema = df.schema
    require(schema.fieldNames.contains(bucketColumn),
      s"bucket column '$bucketColumn' not in result schema " +
        schema.fieldNames.mkString(", "))
    val files = spill(
      df.repartition(numBuckets, df(bucketColumn)).queryExecution.toRdd, schema)(
      IndexedSeq(_))
    Some((schema, (0 until numBuckets).map(i =>
      ChSpillHandle(files.get(i).toSeq, schema.length, schema.json))))
  }

  override def readPartitionInternal(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    handle match {
      case ChSpillHandle(files, numFields, _) =>
        files.headOption.foreach(f => pinLive(Paths.get(f).getParent))
        val it = new EmbeddedClickHouse.SpillPartitionIterator(files, numFields)
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
          if (h.batches) out.asInstanceOf[Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]]
            .flatMap(_.rowIterator.asScala)
          else out
        rows.map {
          case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.copy()
          case r => toUnsafe(r).copy()
        }
      case other => throw new IllegalArgumentException(
        s"not an embedded-store handle: ${other.getClass.getName}")
    }

  /** A bare read's batches go to the caller as the scan's reader made
    * them; a row-returning reader's rows are packed.
    */
  override def readPartitionColumnar(
      handle: ChPartitionHandle,
      schema: StructType): Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
    handle match {
      case h: ChPartHandle if h.batches =>
        openParts(h).asInstanceOf[Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]]
      case _ => super.readPartitionColumnar(handle, schema)
    }

  /** The handle's files through its reader, in partition order. Readers
    * close their file at exhaustion and at task completion.
    */
  private def openParts(h: ChPartHandle): Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
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

  override def readPartition(handle: ChPartitionHandle): Iterator[Row] = {
    val schemaJson = handle match {
      case h: ChSpillHandle => h.schemaJson
      case h: ChPartHandle => h.schemaJson
      case other => throw new IllegalArgumentException(
        s"not an embedded-store handle: ${other.getClass.getName}")
    }
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val de = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(schema)
      .resolveAndBind().createDeserializer()
    readPartitionInternal(handle, schema).map(de(_))
  }

  /** Spill dirs from finished queries are garbage once their readers are
    * done; reap anything older than [[EmbeddedClickHouse.SpillTtlMillis]]
    * (readers never outlive a query by that much). The listing holds up
    * to a TTL's worth of result dirs, so a plan reaps at most once per
    * [[EmbeddedClickHouse.SpillReapIntervalMillis]] per store root; the
    * first plan of a JVM always reaps.
    */
  private def cleanStaleSpills(spillRoot: Path): Unit = {
    val last = EmbeddedClickHouse.lastSpillReap(root)
    val prev = last.get
    val now = System.currentTimeMillis()
    if (now - prev >= EmbeddedClickHouse.SpillReapIntervalMillis &&
      last.compareAndSet(prev, now) && Files.isDirectory(spillRoot)) {
      val cutoff = now - EmbeddedClickHouse.SpillTtlMillis
      NioFiles.list(spillRoot).iterator
        .filter { p =>
          try Files.getLastModifiedTime(p).toMillis < cutoff
          catch { case _: Exception => false }
        }
        .foreach { p =>
          try deleteRecursively(p) catch { case _: Exception => () }
        }
    }
  }

  private def knownTables: Seq[(String, String)] =
    for (db <- listDatabases(); t <- listTables(db)) yield (db, t)

  override def insert(db: String, table: String, schema: StructType, rows: Seq[Row]): Long = {
    rejectSystem(db, s"INSERT into $db.$table")
    // one Native-protocol block = one atomically-moved parquet part file,
    // written WITHOUT a SparkSession (ParquetBlockWriter drives parquet-mr
    // directly), so inserts can run from DSv2 write tasks on executors —
    // the per-partition streaming shape of the reference's sink
    val (n, landed) = ParquetBlockWriter.writeBlockAt(
      tablePath(db, table), sparkSchema(db, table), reorderToSink(db, table, schema, rows))
    clock.tableChanged(db, table)
    fireMaterializedViews(db, table, Seq(landed))
    n
  }

  /** `ALTER TABLE ... DELETE WHERE` analog: rewrites the table's parts
    * without the matching rows — exactly what a server mutation does,
    * expressed through the staged-write machinery (kept rows land in a
    * staging dir, old parts are removed, staged parts move in atomically
    * per file). NULL predicate results keep the row, matching the server.
    */
  override def deleteWhere(db: String, table: String, whereSql: String): Unit = {
    rejectSystem(db, s"DELETE from $db.$table")
    require(tableExists(db, table), s"no such table $db.$table")
    val (_, _, ext) = readMeta(db, table)
    // attached external parquet is a zero-copy read-only view over files
    // the store does not own — rewriting them is out of contract
    require(ext.isEmpty,
      s"DELETE from $db.$table: table has attached external data (read-only)")
    val qt = graft.sql.ChSql.quoteTable(db, table)
    // DELETE WHERE cond removes rows where cond IS TRUE; NULL keeps.
    // CAST: ClickHouse conditions may be integral (e.g. the `1` of an
    // unconditional delete) — Spark's coalesce/NOT need a real boolean
    val pred = s"coalesce(CAST(($whereSql) AS BOOLEAN), false)"
    val entry = serverEntry()
    if (matches(entry, qt, pred)) {
      // the table's own columns, never a virtual one the condition reads
      val cols = sparkSchema(db, table).fieldNames.map(graft.sql.ChSql.quoteIdent)
      rewritePartsDf(db, table, resolveStatement(entry,
        s"SELECT ${cols.mkString(", ")} FROM $qt WHERE NOT $pred"))
    }
  }

  /** Whether a mutation over `qt` has any row to rewrite. */
  private def matches(
      entry: EmbeddedClickHouse.CachedServer, qt: String, pred: String): Boolean =
    resolveStatement(entry, s"SELECT count(*) AS n FROM $qt WHERE $pred")
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
    rejectSystem(db, s"UPDATE on $db.$table")
    require(tableExists(db, table), s"no such table $db.$table")
    require(assignments.nonEmpty, "UPDATE requires at least one assignment")
    val (_, _, ext) = readMeta(db, table)
    require(ext.isEmpty,
      s"UPDATE on $db.$table: table has attached external data (read-only)")
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
    val entry = serverEntry()
    if (matches(entry, qt, pred))
      rewritePartsDf(db, table,
        resolveStatement(entry, s"SELECT ${cols.mkString(", ")} FROM $qt"))
  }

  /** Shared mutation core: drop the snapshot of current parts and
    * publish `result` as their replacement, atomically per file.
    */
  private def rewritePartsDf(
      db: String, table: String,
      result: org.apache.spark.sql.DataFrame): Unit = {
    // snapshot the parts being rewritten BEFORE materializing the result
    val snapshot = dataFiles(db, table)
    publishStaged(db, table, "mutate", result, fire = false)(_ =>
      snapshot.foreach(f => Files.deleteIfExists(Paths.get(f))))
  }

  override def insertSelect(db: String, table: String, chSelectSql: String): Long = {
    rejectSystem(db, s"INSERT into $db.$table")
    val df = resolveStatement(serverEntry(), chSelectSql)
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
    publishStaged(db, table, "copy", df.select(guarded: _*), fire = true) { dir =>
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

  /** Publish `df` into a table through the staged protocol: Spark
    * writes parts executor-side into a fresh `<kind>-<uuid>` staging dir,
    * `beforeCommit` sees that dir, and the commit renames the parts in
    * atomically, firing views unless `fire` is false (mutations, merges).
    * Any failure discards the staging dir.
    */
  private def publishStaged[A](
      db: String, table: String, kind: String,
      df: org.apache.spark.sql.DataFrame, fire: Boolean)(beforeCommit: Path => A): A = {
    val stagingId = s"$kind-${java.util.UUID.randomUUID}"
    val dir = stagingPath(db, table, stagingId)
    Files.createDirectories(dir.getParent)
    try {
      df.write.parquet(dir.toString)
      val a = beforeCommit(dir)
      commitStagedFire(db, table, stagingId, fire)
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
    val dir = stagingPath(db, table, stagingId)
    Files.createDirectories(dir)
    // no invalidate: staged parts are invisible (dataFiles only lists the
    // table dir itself) until commitStaged renames them in
    ParquetBlockWriter.writeBlock(dir, sparkSchema(db, table),
      reorderToSink(db, table, schema, rows))
  }

  override def commitStaged(db: String, table: String, stagingId: String): Unit =
    commitStagedFire(db, table, stagingId, fire = true)

  /** `fire = false` for MUTATION part rewrites (DELETE/UPDATE/ALTER/
    * OPTIMIZE ride the same staged publish but are not inserts — the
    * server does not re-fire materialized views on mutations or merges).
    */
  private def commitStagedFire(
      db: String, table: String, stagingId: String, fire: Boolean): Unit = {
    val dir = stagingPath(db, table, stagingId)
    if (Files.isDirectory(dir)) {
      val parts = NioFiles.list(dir).iterator
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
      // parts without an insert sequence in their name (Spark-written
      // mutation/copy outputs, part-00000-...) get one at publish, in
      // staged-name order — so EVERY visible part carries its sequence
      // and order-dependent collapses stay defined after rewrites
      // (staged names part-00000 < part-00001 follow partition index,
      // which follows seq-sorted input file order for narrow rewrites)
      val planned = parts.map { p =>
        val name = p.getFileName.toString
        val outName =
          if (EmbeddedClickHouse.partSeqOf(name).isDefined) name
          else f"part-${ParquetBlockWriter.nextPartSeq()}%016x-" +
            name.stripPrefix("part-")
        (p, outName)
      }
      // projection states build from the STAGED files BEFORE anything
      // lands: a failed build aborts the whole commit with nothing
      // visible (every landing path — insert, mutation rewrite, merge —
      // keeps its projections current, like a server rebuilding
      // projections in mutations and merges)
      val projs = listProjections(db, table)
      projs.foreach(d => planned.foreach { case (p, outName) =>
        buildProjectionPart(db, table, d, p, outName)
      })
      // same-filesystem renames: each part becomes visible atomically, and
      // a re-driven commit of the same staging id is a no-op (dir empty)
      val landed = planned.map { case (p, outName) =>
        val t = tablePath(db, table).resolve(outName)
        Files.move(p, t, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        t
      }
      deleteRecursively(dir)
      // a failed job can orphan a staged dir when its task's commit
      // message raced the failure and never reached BatchWrite.abort —
      // the next successful write to the table reaps anything past TTL
      reapStaleWriteDirs(db, table)
      clock.tableChanged(db, table)
      if (projs.nonEmpty) pruneProjectionOrphans(db, table)
      if (fire) fireMaterializedViews(db, table, landed)
    }
  }

  override def abortStaged(db: String, table: String, stagingId: String): Unit =
    deleteRecursively(stagingPath(db, table, stagingId))

  override def tryMarkEpochCommitted(db: String, table: String, marker: String): Boolean = {
    require(!marker.contains("/") && !marker.contains(".."), s"invalid marker: $marker")
    val dir = tablePath(db, table).resolve(".epochs")
    Files.createDirectories(dir)
    // the marker is the epoch's visibility switch (dataFiles)
    try { Files.createFile(dir.resolve(marker)); clock.tableChanged(db, table); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  /** Converging epoch publish, all-or-nothing per attempt: if the epoch
    * is already marked, this is a replay after a successful commit — drop
    * everything re-staged. Otherwise any UNMARKED debris from a crashed
    * prior attempt is wiped (it was never visible), this attempt's staged
    * dirs rename in whole, and the marker flips visibility atomically
    * (dataFiles only lists marked epochs). Wipe-then-fill rather than
    * per-slot dedup: a replay may partition differently (stateless sinks
    * re-plan across restarts), and mixing two attempts' partitionings
    * would duplicate rows. Every crash point replays into the same
    * terminal state: exactly one complete copy of the epoch.
    */
  override def commitEpochStaged(
      db: String, table: String, epochMarker: String,
      staged: Seq[(String, Int)]): Unit = {
    require(!epochMarker.contains("/") && !epochMarker.contains(".."),
      s"invalid epoch marker: $epochMarker")
    val markerFile = tablePath(db, table).resolve(".epochs").resolve(epochMarker)
    val epochDir = tablePath(db, table).resolve(".epoch-parts").resolve(epochMarker)
    if (Files.exists(markerFile)) {
      staged.foreach { case (stagingId, _) => abortStaged(db, table, stagingId) }
    } else {
      deleteRecursively(epochDir) // unmarked partial-attempt debris
      Files.createDirectories(epochDir)
      staged.foreach { case (stagingId, partitionId) =>
        val src = stagingPath(db, table, stagingId)
        if (Files.isDirectory(src))
          Files.move(src, epochDir.resolve(s"p$partitionId"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      tryMarkEpochCommitted(db, table, epochMarker)
      // fire AFTER the marker: a crash-replay (marker present) aborts its
      // re-staged parts above and must not double-fire — views see each
      // epoch at most once (the server's own MV/insert non-atomicity).
      // The walk only runs when a view is defined on this table — epoch
      // commits are per-batch on streaming sinks, so the no-view path
      // must stay metadata-free
      if (allMvs.exists(m => m.srcDb == db && m.srcTable == table))
        fireMaterializedViews(db, table, NioFiles.walk(epochDir)
          .filter(_.getFileName.toString.endsWith(".parquet")))
    }
    reapStaleWriteDirs(db, table)
  }

  /** Orphan reaping: staging dirs from hard-crashed tasks and epoch dirs
    * whose query never completed (no marker) leak otherwise — anything
    * inactive past the spill TTL goes.
    */
  private def reapStaleWriteDirs(db: String, table: String): Unit = {
    val cutoff = System.currentTimeMillis() - EmbeddedClickHouse.SpillTtlMillis
    def stale(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: Exception => false }
    val staging = tablePath(db, table).resolve(".insert-staging")
    if (Files.isDirectory(staging))
      NioFiles.list(staging).iterator.filter(stale)
        .foreach(p => try deleteRecursively(p) catch { case _: Exception => () })
    val epochs = tablePath(db, table).resolve(".epoch-parts")
    val markers = tablePath(db, table).resolve(".epochs")
    if (Files.isDirectory(epochs))
      NioFiles.list(epochs).iterator
        .filter(p => stale(p) && !Files.exists(markers.resolve(p.getFileName)))
        .foreach(p => try deleteRecursively(p) catch { case _: Exception => () })
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      NioFiles.walk(p).reverse.foreach(Files.delete)
    }

  // store-open crash recovery: a process that died mid-EXCHANGE leaves a
  // journal + temp dir; repair before this client serves its first read
  EmbeddedClickHouse.exchangeMonitor(root).synchronized {
    if (Files.isDirectory(Paths.get(root)))
      StoreLock.withLockNamed(s"exchange:${Paths.get(root).toAbsolutePath}") {
        recoverOrphanExchanges()
      }
  }
}

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
    parts: Seq[org.apache.spark.sql.execution.datasources.FilePartition],
    read: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow],
    batches: Boolean,
    pin: Option[String],
    schemaJson: String) extends ChPartitionHandle

object EmbeddedClickHouse {
  private[client] val SpillTtlMillis: Long = 30L * 60 * 1000

  /** The QueryExecution a [[EmbeddedClickHouse.planQuery]] runs: the
    * prepared statement's own, cached with it, unless the statement
    * reads the clock. The optimizer folds now() / today() into the plan
    * (ComputeCurrentTime), so a cached plan would replay its first run's
    * time; such a statement gets a fresh QueryExecution per run.
    */
  private[client] def perRunPlan(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.QueryExecution = {
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
  private[client] def bareScan(
      plan: org.apache.spark.sql.execution.SparkPlan,
      schema: StructType): Option[org.apache.spark.sql.execution.FileSourceScanExec] = {
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
    new java.util.WeakHashMap[AnyRef, org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow]])

  /** The reader function `scan` builds for its own tasks (options and
    * Hadoop conf as FileSourceScanExec passes them), once per planned
    * scan: building one broadcasts the session's Hadoop conf, about 11 ms
    * of a 13 ms warm bare-read `planQuery` on 4 cores. Keyed weakly on
    * the scan's cached `inputRDD`, so it lives as long as the plan.
    */
  private[client] def scanReader(
      scan: org.apache.spark.sql.execution.FileSourceScanExec,
      rdd: org.apache.spark.sql.execution.datasources.FileScanRDD)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
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

  /** Spill-dir reaps run at most this often per store root. */
  private[client] val SpillReapIntervalMillis: Long = 60L * 1000

  private val spillReaps =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]

  /** Wall-clock millis of the store root's last spill reap (0 = never). */
  private[client] def lastSpillReap(root: String): java.util.concurrent.atomic.AtomicLong =
    spillReaps.computeIfAbsent(
      Paths.get(root).toAbsolutePath.toString,
      _ => new java.util.concurrent.atomic.AtomicLong(0L))

  /** Strips one Nullable(...) wrapper for declared-type inspection. */
  private[client] val NullableRe = raw"^Nullable\((.+)\)$$".r

  /** Source tables whose materialized views are firing on THIS thread —
    * re-entrancy guard behind the create-time cycle check (fires run
    * driver-side at commit; cascades stay on the calling thread).
    */
  private[client] val firingMvs: ThreadLocal[Set[String]] =
    ThreadLocal.withInitial(() => Set.empty[String])

  /** Word-boundary view-name containment: `__ch_main_t_1` is a PREFIX
    * of `__ch_main_t_10`, so bare `contains` misattributes references
    * between tables whose names extend each other (caught by the MV
    * fuzz — the source detector claimed two sources for a one-table
    * select). View names are \\w-only, so a non-word neighbor char is
    * a true boundary.
    */
  private[client] def referencesView(sql: String, view: String): Boolean = {
    var i = sql.indexOf(view)
    while (i >= 0) {
      val end = i + view.length
      def word(c: Char) = c.isLetterOrDigit || c == '_'
      if ((i == 0 || !word(sql.charAt(i - 1))) &&
        (end >= sql.length || !word(sql.charAt(end)))) return true
      i = sql.indexOf(view, i + 1)
    }
    false
  }

  private[client] final case class MvDef(
      db: String, name: String, srcDb: String, srcTable: String,
      targetDb: String, targetTable: String, select: String)

  /** MV-DDL generation counter per store root (bumped only by view /
    * table / database DDL that can add or remove view.meta files) and
    * the definition cache it keys — see [[EmbeddedClickHouse.allMvs]].
    */
  private val mvVersions =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private[client] def mvVersion(root: String): java.util.concurrent.atomic.AtomicLong =
    mvVersions.computeIfAbsent(root, _ => new java.util.concurrent.atomic.AtomicLong(0))
  private[client] val mvCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Seq[MvDef])]()

  /** Projection read-path observability: reads served from a projection,
    * keyed `<root>|<db>.<table>.<name>` — the spec-level proof that the
    * swap actually engaged (results are identical either way).
    */
  private[graft] val projectionHits =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile private[graft] var lastProjectionHit: Option[String] = None

  /** Sequential reader over one handle's spill files; closing releases
    * the in-flight file's descriptor immediately.
    */
  private[client] final class SpillPartitionIterator(files: Seq[String], numFields: Int)
    extends Iterator[org.apache.spark.sql.catalyst.InternalRow] with AutoCloseable {
    private val fileIt = files.iterator
    private var cur: RowSpill.SpillFileIterator = _

    override def hasNext: Boolean = {
      while ((cur == null || !cur.hasNext) && fileIt.hasNext)
        cur = RowSpill.read(Paths.get(fileIt.next()), numFields)
      cur != null && cur.hasNext
    }

    override def next(): org.apache.spark.sql.catalyst.InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      cur.next()
    }

    override def close(): Unit = if (cur != null) cur.close()
  }

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

  private val footerCountsByRoot = new java.util.concurrent.ConcurrentHashMap[String, FooterCounts]
  private[client] def footerCounts(root: String): FooterCounts =
    footerCountsByRoot.computeIfAbsent(
      Paths.get(root).toAbsolutePath.toString, _ => new FooterCounts)

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

    def fresh(at: Long, reads: Iterable[(String, String)]): Boolean =
      at >= catalog.get && reads.forall { case (db, t) =>
        if (db == "system") at >= counter.get
        else {
          val c = tables.get((db, t))
          c == null || at >= c
        }
      }
  }

  /** A prepared statement's resolution: the counter value read before it
    * listed any file, and the tables it reads.
    */
  private final case class Stamp(at: Long, reads: Set[(String, String)])

  private[client] final class CachedServer(
      val session: SparkSession, val parent: SparkSession, clock: StoreClock) {

    /** Prepared statements by their ClickHouse SQL. */
    val dfCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]

    // view key -> store counter value its temp view was registered at:
    // views refresh LAZILY, one at a time, only when a query references
    // them after a table they read changed — a real server never re-reads
    // its whole catalog because one table got an insert
    val viewVersions = new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]

    /** Store counter value at the last sweep of stale statements. */
    @volatile var version: Long = clock.counter.get

    private val stamps = new java.util.concurrent.ConcurrentHashMap[String, Stamp]
    // recency of the dfCache keys, eldest first; guarded by itself, and
    // taken before any dfCache key's lock, never inside one
    private val recency = new java.util.LinkedHashMap[String, Unit](16, 0.75f, true)
    // the tables read by the statement this thread is preparing
    private val reading = new ThreadLocal[scala.collection.mutable.Set[(String, String)]]

    /** The prepared statement for `sql`, resolved at most once per key
      * and store state (`compute` excludes concurrent resolvers of the
      * same key) and kept among the [[PreparedStatements]] most recently
      * used: an entry enters `recency` only after it is in `dfCache`, so
      * eviction never drops a statement that is being resolved. An entry
      * stays until a table it reads, or the catalog, changes; the first
      * call after a write drops every entry that write made stale.
      */
    def prepared(sql: String)(resolve: String => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      sweep()
      val df = dfCache.compute(sql, (k, old) =>
        if (old != null && isFresh(k)) old
        else {
          val at = clock.counter.get
          val reads = scala.collection.mutable.Set.empty[(String, String)]
          reading.set(reads)
          val df = try resolve(k) finally reading.remove()
          stamps.put(k, Stamp(at, reads.toSet))
          df
        })
      recency.synchronized {
        recency.put(sql, ())
        if (recency.size > PreparedStatements) {
          val eldest = recency.keySet.iterator.next()
          recency.remove(eldest)
          drop(eldest, onlyStale = false)
        }
      }
      df
    }

    /** Tables the statement being prepared on this thread reads. */
    def reads(tables: Iterable[(String, String)]): Unit =
      Option(reading.get).foreach(_ ++= tables)

    private def isFresh(sql: String): Boolean = {
      val s = stamps.get(sql)
      s != null && clock.fresh(s.at, s.reads)
    }

    /** Drop `sql`'s statement (if `onlyStale`, only a stale one),
      * atomically with any resolution of it; whether it is gone.
      */
    private def drop(sql: String, onlyStale: Boolean): Boolean =
      dfCache.computeIfPresent(sql, (k, df) =>
        if (onlyStale && isFresh(k)) df else { stamps.remove(k); null }) == null

    private def sweep(): Unit = {
      val now = clock.counter.get
      if (now > version) recency.synchronized {
        if (now > version) {
          version = now
          recency.keySet.removeIf(drop(_, onlyStale = true))
        }
      }
    }
  }

  /** Prepared-statement cache bound per store root: the connector's plan
    * memo and bench iterations re-send a few texts, while runtime-filter
    * and ad-hoc literals make the rest single-use.
    */
  private[client] val PreparedStatements = 64

  private[client] val sessionCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedServer]

  private val clocks = new java.util.concurrent.ConcurrentHashMap[String, StoreClock]

  private[client] def clock(root: String): StoreClock =
    clocks.computeIfAbsent(Paths.get(root).toAbsolutePath.toString, _ => new StoreClock)

  /** A change to the store's files made outside this client: every view
    * and prepared statement over the store re-resolves.
    */
  def invalidate(root: String): Unit = clock(root).catalogChanged()

  // part-name insert sequence (ParquetBlockWriter naming): 16 fixed hex
  // digits right after the part- prefix
  private val PartSeq = "^part-([0-9a-f]{16})-".r

  private[client] def partSeqOf(name: String): Option[Long] =
    PartSeq.findFirstMatchIn(name)
      .map(m => java.lang.Long.parseUnsignedLong(m.group(1), 16))

  private[client] def seqViewName(db: String, table: String): String =
    s"__ch_seqv_${db}_$table"

  /** The `_part`-carrying view of a table ([[rewritePartVirtual]]). */
  private[client] def partViewName(db: String, table: String): String =
    ChSqlTranslator.viewName(db, table) + "__parts"

  // per-root JVM monitor for EXCHANGE TABLES: FileChannel.lock throws on
  // same-JVM contention, so threads serialize here before taking the OS lock
  private val exchangeMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private[client] def exchangeMonitor(root: String): Object =
    exchangeMonitors.computeIfAbsent(
      Paths.get(root).toAbsolutePath.toString, _ => new Object)
}
