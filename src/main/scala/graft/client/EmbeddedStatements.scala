package graft.client

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.StructType

import graft.sql.{ChClauses, ChLex}
import graft.types.ClickHouseType

/** The embedded store's statement path: the server session, the temp
  * views it reads the store through, and the one function that turns a
  * ClickHouse statement into an analyzed DataFrame ([[resolveStatement]]),
  * with its storage rewrites (FINAL, SAMPLE, ANY JOIN, `_part`,
  * projections) and result reshapes. Reads resolve through the
  * prepared-statement cache ([[prepared]]); writes, DDL and triggers
  * resolve uncached ([[resolve]]). Table metadata and part listings come
  * from the store.
  */
private[client] final class EmbeddedStatements(store: EmbeddedClickHouse) {
  import EmbeddedStatements._

  /** The server session (UDFs registered, views lazily). */
  def session: SparkSession = serverEntry().session

  /** A read statement through the prepared-statement cache: a server
    * keeps prepared statements; repeated identical remote SQL (bench
    * iterations, re-planned scans) skips parse+analysis. A statement is
    * re-resolved only after a table it reads, or the catalog, changed: a
    * write to one table leaves every other table's statements warm.
    * Bounded: runtime-filter literals make distinct SQL per execution, so
    * the cache keeps the [[PreparedStatements]] most recently used
    * statements rather than growing without limit on long read-only
    * sessions.
    */
  def prepared(sql: String): DataFrame = {
    val entry = serverEntry()
    entry.prepared(sql)(resolveStatement(entry, _))
  }

  /** A write, DDL or trigger statement, resolved uncached (see
    * [[resolveStatement]]).
    */
  def resolve(
      sql: String, keepTombstones: Boolean = false,
      block: Option[((String, String), Seq[Path])] = None): DataFrame =
    resolveStatement(serverEntry(), sql, keepTombstones, block)

  /** The "server engine": a child session of the active SparkSession with
    * every store table registered, running the translated remote SQL.
    *
    * Cached per store root (a real server keeps its catalog resident; a
    * rebuild per query is pure overhead growing with store size). A write
    * keeps the session: the temp views capture a table's part-file list,
    * and each view and prepared statement re-resolves once a table it
    * reads has changed since (the store's [[EmbeddedClickHouse.StoreClock]]).
    * Single-JVM by design: the embedded store is a test double, and
    * local-mode executors run in the same JVM, sharing the companion.
    */
  private def serverEntry(): CachedServer = {
    val active = SparkSession.active
    val cached = EmbeddedClickHouse.sessionCache.get(store.connectionKey)
    if (cached != null && (cached.parent eq active)) return cached
    val entry = new CachedServer(serverSession(active), active, store.clock)
    EmbeddedClickHouse.sessionCache.put(store.connectionKey, entry)
    entry
  }

  /** Register (or refresh) the temp views a translated SQL references,
    * and record the tables it reads for the statement being prepared.
    * Only referenced tables pay the parquet (re-)listing; everything else
    * keeps its registered view.
    */
  private def ensureViews(
      entry: CachedServer,
      translatedSql: String,
      tables: Seq[(String, String)]): Unit =
    entry.reads(tables.filter { case (db, t) =>
      def refs(view: String) = referencesView(translatedSql, view)
      val plain = refs(ChSqlTranslator.viewName(db, t))
      if (plain) refreshView(entry, (db, t), (db, t))(registerView(entry.session, db, t))
      // sequence-bearing view (order-dependent collapses): registered
      // only when a rewrite referenced it
      val seq = refs(seqViewName(db, t))
      if (seq) refreshView(entry, (db, t + " seq"), (db, t))(registerSeqView(entry.session, db, t))
      // the `_part` view registers in rewritePartVirtual
      plain || seq || refs(partViewName(db, t))
    })

  /** Run `register` unless the view under `key` is fresh for `table`,
    * one registration per key at a time. `at`, the counter value the
    * view is stamped with, must be read before `register`'s file listing:
    * a racing write then leaves the view stale, never fresh.
    */
  private def refreshView(
      entry: CachedServer, key: (String, String),
      table: (String, String), at: Long = store.clock.counter.get)(
      register: => Unit): Unit =
    entry.viewVersions.compute(key, (_, reg) =>
      if (reg != null && store.clock.fresh(reg, Seq(table))) reg
      else { register; java.lang.Long.valueOf(at) })

  /** A part's insert sequence (part insertion order), or a rejection: a
    * part without one in its name predates sequence tracking, and the
    * order-dependent collapse of a CollapsingMergeTree cannot place it
    * (defaulting it to sort last would let a mutation re-stamp the wrong
    * insertion order, corrupting every later collapse).
    */
  private def insertSeq(db: String, t: String, f: String): Long = {
    val n = Paths.get(f).getFileName.toString
    EmbeddedClickHouse.partSeqOf(n).getOrElse(throw new IllegalArgumentException(
      s"$db.$t: part $n carries no insert sequence (written before sequence " +
        "tracking) — its insertion order is unrecoverable and this engine's " +
        "collapse is order-dependent; re-ingest the data into a fresh table"))
  }

  /** Register the table's rows EXTENDED with a per-row insert sequence
    * `__ch_seq` (part insert order × row position within the part) under
    * [[seqViewName]] — what order-dependent collapses
    * (CollapsingMergeTree) read. Every part carries its sequence in its
    * file name (ParquetBlockWriter, or the landing step for the rest).
    */
  private def registerSeqView(child: SparkSession, db: String, t: String): Unit = {
    import org.apache.spark.sql.functions.{col, element_at, lit, map}
    val (_, _, ext) = store.readMeta(db, t)
    require(ext.isEmpty,
      s"$db.$t: attached external parquet carries no insert sequence — " +
        "order-dependent collapses need store-owned parts")
    val files = store.dataFiles(db, t)
    val schema = store.sparkSchema(db, t)
    val df =
      if (files.isEmpty)
        emptyFrame(child, schema.add("__ch_seq", org.apache.spark.sql.types.LongType, nullable = false))
      else {
        // ordinal over seq-sorted parts × parquet row position: dense and
        // overflow-free (seq values are wall-clock micros; shifting them
        // would overflow Long). The path breaks ties: two JVMs can mint
        // the same seq, and the order must at least be deterministic.
        // ONE multi-file scan with the part ordinal looked up from
        // _metadata.file_name, not a per-part union (plan size O(1), not
        // O(parts)): every consumer of this view windows over the
        // explicit __ch_seq value, never partition order.
        val ordered = files.map(f => (f, insertSeq(db, t, f))).sortBy(_.swap).map(_._1)
        val idx = element_at(
          map(ordered.zipWithIndex.flatMap { case (f, i) =>
            Seq(lit(Paths.get(f).getFileName.toString), lit(i.toLong))
          }: _*),
          col("_metadata.file_name"))
        child.read.schema(schema).parquet(ordered: _*)
          .select(col("*"), (idx * lit(1L << 40) + col("_metadata.row_index")).as("__ch_seq"))
      }
    df.createOrReplaceTempView(seqViewName(db, t))
  }

  private def registerView(child: SparkSession, db: String, t: String): Unit =
    tableFrame(child, db, t, withPart = false)
      .createOrReplaceTempView(ChSqlTranslator.viewName(db, t))

  /** A table's rows: one multi-file scan of its parts, or, for
    * CollapsingMergeTree, a union of per-part reads in insert order.
    * `withPart` adds the `_part` column, each row's part file name.
    */
  private def tableFrame(
      child: SparkSession, db: String, t: String, withPart: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val schema = store.sparkSchema(db, t)
    val files = store.dataFiles(db, t)
    def read(fs: String*): DataFrame = {
      val df = child.read.schema(schema).parquet(fs: _*)
      if (withPart) df.select(col("*"), col("_metadata.file_name").as("_part")) else df
    }
    def padded(df: DataFrame): DataFrame =
      if (withPart) df.withColumn("_part", lit("")) else df
    if (store.isSystem(db))
      padded(child.createDataFrame(store.systemRows(t).asJava, schema))
    else if (files.isEmpty) padded(emptyFrame(child, schema))
    else if (store.readMeta(db, t)._2.getOrElse("engine", "").startsWith("CollapsingMergeTree"))
      // insertion-ORDERED view: a multi-file parquet read bin-packs
      // files by SIZE, which scrambles row order across parts — fatal
      // for the one engine whose collapse is insertion-order-
      // dependent. A union of per-file reads in sequence order keeps
      // partition order = insertion order through every narrow plan,
      // so mutation/ALTER rewrites republish rows in an order the
      // next collapse can still trust (their staged part-0000N names
      // follow partition index; the landing stamps fresh seqs in that
      // order). FINAL reads stay immune either way (explicit
      // __ch_seq via the sequence view).
      files.map(f => (f, insertSeq(db, t, f))).sortBy(_.swap)
        .map { case (f, _) => read(f) }
        .reduce(_ union _)
    else read(files: _*)
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
    require(store.tableExists(db, t), s"no such table $db.$t")
    val (cols, opts, _) = store.readMeta(db, t)
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
          s"FROM ${seqViewName(db, t)}) AS __cf_in " +
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
    require(store.tableExists(db, t), s"no such table $db.$t")
    val (_, opts, _) = store.readMeta(db, t)
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

  /** The one statement path: every statement the store runs turns its
    * ClickHouse SQL into an analyzed DataFrame here, through the same
    * stages in order: detoken → ANY JOIN → reshape → FINAL/SAMPLE →
    * `_part` → translate → views → analyze → projection swap → reshape
    * post-step. Reads come through [[prepared]]'s cache; writes,
    * DDL and triggers call it uncached, so they never evict a read plan.
    * `keepTombstones`: a merge keeps is_deleted survivors. `block`: a
    * materialized view's select over one inserted block (no files: an
    * empty one) — the view stage binds the source table to it, and
    * FINAL and `_part` reject, as they read table-level state.
    */
  private def resolveStatement(
      entry: CachedServer,
      sql: String,
      keepTombstones: Boolean = false,
      block: Option[((String, String), Seq[Path])] = None)
      : DataFrame = {
    val tables = store.knownTables
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
      val schema = store.sparkSchema(db, t)
      (if (files.isEmpty) emptyFrame(s, schema)
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
      entry: CachedServer, stmt: String,
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
      entry: CachedServer, db: String, t: String): String = {
    val name = partViewName(db, t)
    refreshView(entry, (s"__vpart__$db.$t", ""), (db, t))(
      tableFrame(entry.session, db, t, withPart = true).createOrReplaceTempView(name))
    name
  }

  private val ProjFromRe = raw"^`([^`]+)`\.`([^`]+)`$$".r

  /** Attempt the projection read-rewrite for `plainStmt`; returns the
    * projection-backed frame only when the rewritten statement analyzes
    * to the SAME schema as `base` — otherwise `base`, always correct.
    */
  private def tryProjectionSwap(
      entry: CachedServer, plainStmt: String,
      base: DataFrame,
      tables: Seq[(String, String)]): DataFrame = {
    try {
      val top = ChClauses(plainStmt)
      if (top.branches.size != 1) return base
      val (db, t) = top.branches.head(ChClauses.From).map(top.body) match {
        case Some(ProjFromRe(d0, t0)) => (d0, t0)
        case _ => return base
      }
      val defs = store.listProjections(db, t)
      if (defs.isEmpty) return base
      val at = store.clock.counter.get // before the listing the view registers
      val live = store.dataFiles(db, t).map(f => Paths.get(f).getFileName.toString)
      if (live.isEmpty) return base
      val tableRef = s"`$db`.`$t`"
      defs.foreach { d =>
        val covered = live.forall(n =>
          Files.isDirectory(store.projDataDir(db, t, d.name).resolve(n)))
        if (covered) {
          val viewRef = s"__ch_proj_${db}_${t}_${d.name}"
          ChProjections.rewriteQuery(plainStmt, tableRef, d, viewRef)
            .foreach { ps =>
              val swapped =
                try {
                  refreshView(entry, (s"__proj__$db.$t", d.name), (db, t), at) {
                    entry.session.read.parquet(live.map(n =>
                      store.projDataDir(db, t, d.name).resolve(n).toString): _*)
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
                store.state.projectionHits.computeIfAbsent(s"$db.$t.${d.name}",
                  _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
                return pdf
              }
            }
        }
      }
      base
    } catch { case _: Exception => base }
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
      entry: CachedServer, sql: String): String = {
    val p = ChSqlTranslator.parseAnyJoin(sql).getOrElse(return sql)
    val bareT = "^`([^`]+)`\\.`([^`]+)`$".r
    val rightTrim = p.right.trim
    val cols: Seq[String] = rightTrim match {
      case bareT(db, t) => store.readMeta(db, t)._1.map(_._1)
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
      df0: DataFrame,
      p: ChSqlTranslator.StarTransformParts,
      tables: Seq[(String, String)]): DataFrame = {
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
      df0: DataFrame,
      f: ChSqlTranslator.WithFillParts): DataFrame = {
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
      else EmbeddedClickHouse.zeroValue(sf.dataType).getOrElse(throw new IllegalArgumentException(
        s"WITH FILL: no column default for non-nullable ${sf.dataType.sql} (`${sf.name}`)"))
        .as(sf.name)
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
}

private[client] object EmbeddedStatements {
  import org.apache.spark.sql.graft.bridge
  import graft.functions._

  private def emptyFrame(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private[client] def seqViewName(db: String, table: String): String =
    s"__ch_seqv_${db}_$table"

  /** The `_part`-carrying view of a table ([[rewritePartVirtual]]). */
  private[client] def partViewName(db: String, table: String): String =
    ChSqlTranslator.viewName(db, table) + "__parts"

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

  /** A fresh server session: a child of `active` with the ClickHouse
    * functions registered. Table views register lazily (ensureViews): a
    * fresh session starts with functions only, and each statement
    * registers just the views it touches.
    */
  private def serverSession(active: SparkSession): SparkSession = {
    val child = active.newSession()
    // a view's parquet read gets the part files dataFiles already listed;
    // past the default 32 paths, InMemoryFileIndex would list them again
    // in a distributed job on every (re-)registration
    child.conf.set(
      org.apache.spark.sql.internal.SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key,
      Int.MaxValue.toLong)
    Functions.foreach { case (name, build) => bridge.registerFunction(child, name, build) }
    // ClickHouse MD5()/SHA1()/SHA256() return the binary digest (not
    // hex); generated SQL wraps them as lower(hex(F(x))) which composes
    // on these UDFs. CRC32 is zlib's (IEEE 802.3, init 0xFFFFFFFF) in
    // both engines.
    for ((udf, algo) <- Seq("graft_md5bin" -> "MD5", "graft_sha1bin" -> "SHA-1",
      "graft_sha256bin" -> "SHA-256"))
      child.udf.register(udf,
        new org.apache.spark.sql.api.java.UDF1[AnyRef, Array[Byte]] {
          override def call(x: AnyRef): Array[Byte] =
            digestBytes(x, udf).map(java.security.MessageDigest.getInstance(algo).digest).orNull
        },
        org.apache.spark.sql.types.BinaryType)
    child.udf.register("graft_crc32",
      new org.apache.spark.sql.api.java.UDF1[AnyRef, java.lang.Long] {
        override def call(x: AnyRef): java.lang.Long =
          digestBytes(x, "graft_crc32").map { b =>
            val c = new java.util.zip.CRC32(); c.update(b); java.lang.Long.valueOf(c.getValue)
          }.orNull
      },
      org.apache.spark.sql.types.LongType)
    child
  }

  private def digestBytes(x: AnyRef, fn: String): Option[Array[Byte]] = x match {
    case null => None
    case s: String => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case b: Array[Byte] => Some(b)
    case other => throw new IllegalArgumentException(s"$fn: unsupported type ${other.getClass}")
  }

  private type Builder = Seq[Expression] => Expression

  /** The literal argument `e` as `pick` reads it, or a rejection: `what`
    * names the parameter and the literal it must be.
    */
  private def literal[T](e: Expression, what: String)(pick: PartialFunction[Any, T]): T =
    e match {
      case Literal(v, _) if pick.isDefinedAt(v) => pick(v)
      case other => throw new IllegalArgumentException(s"$what (got $other)")
    }

  private val integral: PartialFunction[Any, Long] = { case v: Int => v.toLong; case v: Long => v }
  private val text: PartialFunction[Any, String] = {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
  }

  /** `build` over exactly `n` arguments (`usage` otherwise). */
  private def args(n: Int, usage: String)(build: Builder): Builder =
    a => { require(a.size == n, usage); build(a) }

  /** The server session's ClickHouse functions, by name: Catalyst
    * builders, so each one is polymorphic over its argument types.
    * Parameters the translator passes as leading or trailing literals
    * (windows, modes, patterns, keys, k) reject anything else.
    */
  private val Functions: Seq[(String, Builder)] = Seq[(String, Builder)](
    // ClickHouse's length() is polymorphic over strings/arrays — and for
    // String returns BYTES (a Java-UDF shim returning UTF-16 units
    // silently diverged on multi-byte text): UTF-8 byte count for
    // strings/binary, element count for arrays/maps
    "graft_length" -> args(1, "graft_length(x)")(a => GraftLength(a(0))),
    // CH position() is a 1-based BYTE offset (locate counts codepoints)
    "graft_position" -> args(2, "graft_position(haystack, needle)")(a =>
      GraftBytePosition(a(0), a(1))),
    "graft_position_from" -> args(3, "graft_position_from(haystack, needle, start)")(a =>
      GraftBytePositionFrom(a(0), a(1), a(2))),
    "graft_rexp2" -> args(1, "graft_rexp2(x)")(a => GraftRoundToExp2(a(0))),
    // windowFunnel: the window and mode list arrive as literals
    // prepended by the translator's parameterized-aggregate rewrite
    "graft_window_funnel" -> { a =>
      require(a.size >= 4, "graft_window_funnel(window, modes, ts, cond...)")
      val (so, sd, si) = ChWindowFunnel.parseModes(
        literal(a(1), "windowFunnel: modes must be a string literal")(text)
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      ChWindowFunnel(literal(a(0), "windowFunnel: the window must be an integer literal")(integral),
        a(2), a.drop(3), strictOrder = so, strictDedup = sd, strictIncrease = si)
        .toAggregateExpression()
    },
    "graft_seq_match" -> { a =>
      require(a.size >= 3, "graft_seq_match(pattern, ts, cond...)")
      ChSequenceMatch(literal(a(0), "sequenceMatch: the pattern must be a string literal")(text),
        a(1), a.drop(2)).toAggregateExpression()
    },
    "graft_seq_count" -> { a =>
      require(a.size >= 3, "graft_seq_count(pattern, ts, cond...)")
      ChSequenceMatch(literal(a(0), "sequenceCount: the pattern must be a string literal")(text),
        a(1), a.drop(2), countMode = true).toAggregateExpression()
    },
    "graft_gcd" -> args(2, "gcd(a, b)")(a => GraftGcd(a(0), a(1))),
    "graft_lcm" -> args(2, "lcm(a, b)")(a => GraftLcm(a(0), a(1))),
    // keyed SipHash: keys arrive as literal args appended by the
    // translator's tuple-literal parse; a UInt64 key is its bit pattern
    "graft_siphash64k" -> args(3, "graft_siphash64k(data, k0, k1)") { a =>
      def key(e: Expression) = literal(e, "sipHash64Keyed: keys must be integer literals")(
        integral.orElse { case d: org.apache.spark.sql.types.Decimal =>
          d.toJavaBigDecimal.toBigIntegerExact.longValue() })
      ChSipHashKeyed(a(0), key(a(1)), key(a(2)))
    },
    // CH round: banker's for Float inputs, away-from-zero otherwise —
    // Spark's half-up builtin would resolve case-insensitively
    "graft_round" -> { a =>
      require(a.size == 1 || a.size == 2, "round(x[, N])")
      GraftChRound(a(0), a.lift(1).getOrElse(Literal(0)))
    },
    "graft_replace_regexp_one" -> args(3, "replaceRegexpOne(haystack, pattern, replacement)")(a =>
      GraftRegexpReplaceOne(a(0), a(1), a(2))),
    // firstSignificantSubdomain family (documented 4-name heuristic —
    // GraftUrlFns.fsd); the cut flag arrives as an appended literal
    "graft_fsd" -> args(2, "graft_fsd(url, cut)")(a =>
      GraftFsd(a(0), literal(a(1), "graft_fsd: cut must be a boolean literal")({ case b: Boolean => b }))),
    // topK(k)(x) / topKWeighted(k)(x, w) and tupleElement's POSITIONAL
    // struct access: a Scala UDF cannot be polymorphic over the type
    "graft_topk" -> args(2, "graft_topk(x, k)")(a =>
      ChTopK(a(0), literal(a(1), "topK: k must be an integer literal")(integral).toInt, None)
        .toAggregateExpression()),
    "graft_topk_w" -> args(3, "graft_topk_w(x, w, k)")(a =>
      ChTopK(a(0), literal(a(2), "topKWeighted: k must be an integer literal")(integral).toInt,
        Some(a(1))).toAggregateExpression()),
    "graft_tuple_at" -> args(2, "graft_tuple_at(struct, index)") { a =>
      val i = literal(a(1), "tupleElement: index must be an integer literal")(integral).toInt
      require(i >= 1, s"tupleElement: index is 1-based (got $i)")
      org.apache.spark.sql.catalyst.expressions.GetStructField(a(0), i - 1)
    }
  ) ++ Seq(
    "graft_summap" -> ChMapAgg.Mode.Sum, "graft_minmap" -> ChMapAgg.Mode.Min,
    "graft_maxmap" -> ChMapAgg.Mode.Max, "graft_summap_ov" -> ChMapAgg.Mode.SumOv
  ).map { case (name, mode) =>
    name -> args(2, s"$name(keys, values)")(a =>
      ChMapAgg(a(0), a(1), mode, wrapUW = ChMapAgg.arrayDeclaredW(a(1))).toAggregateExpression())
  } ++ Seq(
    // ClickHouse hash family (public-spec kernels, vectors pinned in
    // HashKernelSpec). cityHash64/sipHash64 accept the multi-argument
    // combine chain (combiners pinned from the same public sources —
    // ChHashChain scaladoc); the other algos' combine laws are not
    // pinned offline, so they take one argument only
    "graft_cityhash64" -> ChHashAlgo.City64, "graft_siphash64" -> ChHashAlgo.Sip64,
    "graft_xxhash64ch" -> ChHashAlgo.Xx64, "graft_xxhash32ch" -> ChHashAlgo.Xx32,
    "graft_farmfp64" -> ChHashAlgo.FarmFp64, "graft_halfmd5" -> ChHashAlgo.HalfMd5
  ).map { case (name, algo) =>
    name -> ((a: Seq[Expression]) =>
      if (a.size == 1) ChHash(a.head, algo)
      else if (algo == ChHashAlgo.City64 || algo == ChHashAlgo.Sip64) ChHashChain(a, algo)
      else throw new IllegalArgumentException(
        s"$name: only the single-argument form is supported by the " +
          "embedded engine (this algo's multi-argument combine " +
          "chain is not a pinnable law offline) — concat the " +
          "arguments explicitly or run against a real server"))
  } ++ Seq(
    // RFC 3986 percent-encoding family (GraftUrlCodec)
    ("graft_encurl", true, false), ("graft_decurl", false, false),
    ("graft_encurlf", true, true), ("graft_decurlf", false, true)
  ).map { case (name, enc, form) =>
    name -> args(1, s"$name(s)")(a => GraftUrlCodecExpr(a(0), enc, form))
  } ++ Seq(
    // simpleJSON*/visitParam* byte-scanner family (laws in
    // GraftSimpleJson's scaladoc — the constant-name requirement is
    // enforced by the expression's type check)
    "graft_sj_has" -> ChSimpleJsonMode.Has, "graft_sj_uint" -> ChSimpleJsonMode.UIntM,
    "graft_sj_int" -> ChSimpleJsonMode.IntM, "graft_sj_float" -> ChSimpleJsonMode.FloatM,
    "graft_sj_bool" -> ChSimpleJsonMode.Bool, "graft_sj_raw" -> ChSimpleJsonMode.Raw,
    "graft_sj_string" -> ChSimpleJsonMode.Str
  ).map { case (name, mode) =>
    name -> args(2, s"$name(json, 'name')")(a => ChSimpleJson(a(0), a(1), mode))
  }

  /** A prepared statement's resolution: the counter value read before it
    * listed any file, and the tables it reads.
    */
  private final case class Stamp(at: Long, reads: Set[(String, String)])

  private[client] final class CachedServer(
      val session: SparkSession, val parent: SparkSession, clock: EmbeddedClickHouse.StoreClock) {

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
}
