package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.client.{HttpClickHouseClient, RowBinary}

/** The real-protocol transport, tested hermetically: an in-JVM HTTP server
  * emulates the slice of ClickHouse's public HTTP interface the client
  * speaks — system.* metadata and DESCRIBE as TabSeparated, SELECT streams
  * as `RowBinaryWithNamesAndTypes`, INSERT bodies as `RowBinary` blocks
  * (query in the URL, data in the body — the documented INSERT shape),
  * gzip content-coding both directions, DDL — the counterpart of the
  * reference's `mocks` feature (/root/reference/src/connection.rs:1-37,
  * connection/mock.rs). Point the same client at a live server by setting
  * CH_ENDPOINT (integration path; skipped here, no egress in the sandbox).
  *
  * Protocol facts pinned by this mock (vs the public docs, see
  * docs/en/interfaces/http + formats#rowbinary):
  *  - `enable_http_compression=1` + `Accept-Encoding: gzip|lz4|zstd` →
  *    response in that coding with matching `Content-Encoding`
  *    (doc §Compression; lz4 rides the LZ4 frame format)
  *  - a gzip/lz4/zstd `Content-Encoding` REQUEST body is decompressed
  *    server-side
  *  - RowBinaryWithNamesAndTypes: LEB128 column count, names, type
  *    strings, then raw rows (formats doc §RowBinaryWithNamesAndTypes)
  *  - Nullable wire flag byte precedes the value (1 = NULL)
  */
class HttpClientSpec extends AnyFunSuite {

  // ---- mock ClickHouse: one table main.events_http + DDL/insert support ----

  private val queries = mutable.ArrayBuffer.empty[String]
  // per-codec wire counters: (codec -> how many response bodies / request
  // bodies actually crossed the wire in that coding)
  private val encodedResponses =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  private val encodedRequestBodies =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  private def bump(m: java.util.concurrent.ConcurrentHashMap[String, AtomicInteger],
      codec: String): Unit = {
    m.computeIfAbsent(codec, _ => new AtomicInteger(0)).incrementAndGet(); ()
  }
  private def countOf(m: java.util.concurrent.ConcurrentHashMap[String, AtomicInteger],
      codec: String): Int = Option(m.get(codec)).map(_.get()).getOrElse(0)
  // URL parameters of every request, in arrival order (server settings
  // ride here — http doc §Settings)
  private val paramsLog = new java.util.concurrent.CopyOnWriteArrayList[Map[String, String]]()

  // (id, name, val) with one NULL id — range splits must not lose it
  private val baseRows = mutable.ArrayBuffer[(Option[Long], String, Double)](
    (Some(1L), "a", 1.5), (Some(2L), "b", 2.5), (Some(3L), "c", 3.5),
    (Some(10L), "d", 4.5), (Some(11L), "e", 5.5), (Some(12L), "f", 6.5),
    (Some(20L), "g", 7.5), (Some(21L), "h", 8.5), (None, "z", 9.5))
  private val colTypes = Seq(
    "id" -> "Nullable(Int64)", "name" -> "Nullable(String)", "val" -> "Float64")
  // extra tables created via DDL at runtime: name -> (columns, rows as JSON maps)
  private val dynTables =
    mutable.Map.empty[String, (Seq[(String, String)], mutable.ArrayBuffer[Map[String, Any]])]

  /** What `SELECT version()` reports (the client gates lightweight
    * DELETE on >= 23.3) and whether the mock refuses `DELETE FROM`
    * (forcing the client's ALTER fallback).
    */
  @volatile private var mockVersion = "24.3.2.1"
  @volatile private var rejectLightweight = false

  /** Column types of the table a statement references (NOT a flat merged
    * map — different tables may reuse a column name with another type).
    */
  private def typesFor(sql: String): Map[String, String] =
    (if (sql.contains("`events_http`")) colTypes
     else dynTables.collectFirst {
       case (t, (c, _)) if sql.contains(s"`$t`") => c
     }.getOrElse(colTypes)).toMap

  /** (source, output) pairs of the innermost explicit select list,
    * alias-aware: "`id` AS c0" -> ("id","c0"), "`id`" -> ("id","id").
    * Collapsed-subtree SQL aliases outputs c0..cn, so the mock must
    * resolve those back to storage columns.
    */
  private def selectPairs(sql: String): Seq[(String, String)] = {
    var s = sql
    var sel = ""
    // `SELECT * FROM (inner)` wrappers (range slices): descend to the
    // innermost explicit select list
    while ({
      val from = s.toUpperCase.indexOf(" FROM ")
      sel = s.substring(s.toUpperCase.indexOf("SELECT") + 6, from).trim
      sel == "*" && s.indexOf('(', from) >= 0
    }) s = s.substring(s.indexOf('(', s.toUpperCase.indexOf(" FROM ")) + 1)
    sel.split(",").map(_.trim).map { item =>
      val i = item.toUpperCase.lastIndexOf(" AS ")
      if (i > 0)
        (item.substring(0, i).trim.stripPrefix("`").stripSuffix("`"),
          item.substring(i + 4).trim.stripPrefix("`").stripSuffix("`"))
      else {
        val c = item.stripPrefix("`").stripSuffix("`")
        (c, c)
      }
    }.toSeq
  }

  private def selectCols(sql: String): Seq[String] = selectPairs(sql).map(_._2)

  private def srcOf(sql: String, col: String): String =
    scala.util.Try(selectPairs(sql)).toOption.flatMap(_.collectFirst {
      case (s, o) if o == col => s
    }).getOrElse(col)

  private def rowsFor(sql: String): Seq[Map[String, Any]] = {
    val all: Seq[Map[String, Any]] =
      if (sql.contains("`events_http`")) baseRows.toSeq.map { case (id, n, v) =>
        Map("id" -> id.orNull, "name" -> n, "val" -> v)
      }
      else dynTables.collectFirst {
        case (t, (_, rows)) if sql.contains(s"`$t`") => rows.toSeq
      }.getOrElse(Seq.empty)
    // emulate every slice-predicate family planQueryRanges emits:
    // numeric ranges, date/datetime literal ranges (incl. the open-ended
    // top slice), and cityHash64-mod buckets. Bounds compare the way the
    // server would: numerically for integers, lexicographically for the
    // fixed-width date/time renderings.
    def cmp(v: Any, bound: String): Int = v match {
      case l: Long => java.lang.Long.compare(l, bound.toLong)
      case other => render(other).compareTo(bound)
    }
    def bucket(v: Any, n: Long): Long = mockHash(v, n)
    def col(c: String) = srcOf(sql, c)
    val NFirst = raw"\(`(\w+)` <= (-?\d+) OR `\w+` IS NULL\)".r.unanchored
    val NRange = raw"\(`(\w+)` >= (-?\d+) AND `\w+` <= (-?\d+)\)".r.unanchored
    val LFirst = raw"\(`(\w+)` <= '([^']+)' OR `\w+` IS NULL\)".r.unanchored
    val TFirst = raw"\(`(\w+)` < '([^']+)' OR `\w+` IS NULL\)".r.unanchored
    val LRange = raw"\(`(\w+)` >= '([^']+)' AND `\w+` <= '([^']+)'\)".r.unanchored
    val TRange = raw"\(`(\w+)` >= '([^']+)' AND `\w+` < '([^']+)'\)".r.unanchored
    val LTop = raw"\(`(\w+)` >= '([^']+)'\)".r.unanchored
    val H0 = raw"\(`(\w+)` IS NULL OR cityHash64\(`\w+`\) % (\d+) = (\d+)\)".r.unanchored
    val HK = raw"\(`(\w+)` IS NOT NULL AND cityHash64\(`\w+`\) % (\d+) = (\d+)\)".r.unanchored
    if (!sql.contains(" WHERE ")) all
    else sql match {
      case NFirst(c, hi) => all.filter(r =>
        r.get(col(c)).forall(v => v == null || cmp(v, hi) <= 0))
      case NRange(c, lo, hi) => all.filter(r => r.get(col(c)).exists(v =>
        v != null && cmp(v, lo) >= 0 && cmp(v, hi) <= 0))
      case LFirst(c, hi) => all.filter(r =>
        r.get(col(c)).forall(v => v == null || cmp(v, hi) <= 0))
      case TFirst(c, hi) => all.filter(r =>
        r.get(col(c)).forall(v => v == null || cmp(v, hi) < 0))
      case LRange(c, lo, hi) => all.filter(r => r.get(col(c)).exists(v =>
        v != null && cmp(v, lo) >= 0 && cmp(v, hi) <= 0))
      case TRange(c, lo, hi) => all.filter(r => r.get(col(c)).exists(v =>
        v != null && cmp(v, lo) >= 0 && cmp(v, hi) < 0))
      case LTop(c, lo) => all.filter(r => r.get(col(c)).exists(v =>
        v != null && cmp(v, lo) >= 0))
      case H0(c, n, k) => all.filter(r =>
        r.get(col(c)).forall(v => v == null || bucket(v, n.toLong) == k.toLong))
      case HK(c, n, k) => all.filter(r => r.get(col(c)).exists(v =>
        v != null && bucket(v, n.toLong) == k.toLong))
      case _ => all
    }
  }

  /** Server-side cityHash64 routing, now the REAL hash (round 15:
    * graft.functions.GraftHashes is bit-exact CityHash v1.0.2 over the
    * value's storage bytes — Long keys LE8, strings raw bytes — so the
    * mock routes rows exactly as a real server would, and
    * ChBoundBucket("cityhash64").produceResult agrees with the slices
    * this mock serves).
    */
  private def mockHash(v: Any, n: Long): Long = {
    val b = v match {
      case l: Long => graft.functions.GraftHashes.bytesLE(l)
      case i: Int => graft.functions.GraftHashes.bytesLE(i)
      case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case other =>
        render(other).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    java.lang.Long.remainderUnsigned(
      graft.functions.GraftHashes.cityHash64(b, 0, b.length), n)
  }

  /** Render a value the way ClickHouse TSV would (UTC, fixed-width). */
  private def render(v: Any): String = v match {
    case i: java.time.Instant => java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC).format(i)
    case x => x.toString
  }

  /** RowBinaryWithNamesAndTypes response: header + rows, encoded with the
    * production codec's ENCODER (the decoder under test is exercised by
    * the client; RowBinarySpec pins the codec's own round-trip).
    */
  private def rowBinaryResponse(
      sql: String, pairs: Seq[(String, String)], rows: Seq[Map[String, Any]]): Array[Byte] = {
    val byName = typesFor(sql)
    val types = pairs.map {
      case ("1", _) => "UInt8"
      case (src, _) => byName.getOrElse(src, "Nullable(String)")
    }
    val bos = new ByteArrayOutputStream()
    RowBinary.writeHeader(bos, pairs.map(_._2).zip(types))
    val out = new DataOutputStream(bos)
    val encs = types.map(RowBinary.encoder)
    rows.foreach { r =>
      pairs.indices.foreach { i =>
        val v: Any = if (pairs(i)._1 == "1") 1.toByte else r.getOrElse(pairs(i)._1, null)
        encs(i).write(out, v)
      }
    }
    out.flush()
    bos.toByteArray
  }

  /** Decode a RowBinary INSERT body using the target table's declared
    * column types, into the mock's plain-value row maps.
    */
  private def decodeInsert(
      table: String, cols: Seq[String], data: Array[Byte]): Seq[Map[String, Any]] = {
    val types = dynTables.get(table).map(_._1.toMap).getOrElse(colTypes.toMap)
    val decs = cols.map(c => RowBinary.decoder(types.getOrElse(c, "Nullable(String)")))
    val in = new DataInputStream(new ByteArrayInputStream(data))
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    var done = false
    while (!done) {
      val first =
        try decs.head.read(in)
        catch { case _: EOFException => done = true; null }
      if (!done) {
        val vals = first +: decs.tail.map(_.read(in))
        rows += cols.zip(vals.map(plain)).toMap
      }
    }
    rows.toSeq
  }

  private def plain(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case x => x
  }

  private def tsvOk(s: String) = (200, s.getBytes(UTF_8), Map.empty[String, String])

  /** Evaluate the subset of delete predicates the client generates that
    * this suite exercises: `1`, backticked comparisons vs numeric/string
    * literals, joined by top-level AND.
    */
  private def evalDeleteCond(cond: String, row: Map[String, Any]): Boolean = {
    val Cmp = raw"`([^`]+)`\s*(>=|<=|=|>|<)\s*(.+)".r
    def one(c0: String): Boolean = {
      val c = c0.trim.stripPrefix("(").stripSuffix(")").trim
      if (c == "1") true
      else c match {
        case Cmp(colName, op, lit0) =>
          val lit = lit0.trim
          row.getOrElse(colName, null) match {
            case null => false // NULL comparison keeps the row
            case v if lit.startsWith("'") =>
              op == "=" && v.toString == lit.stripPrefix("'").stripSuffix("'")
            case v =>
              val x = v match { case n: Number => n.doubleValue; case s => s.toString.toDouble }
              val y = lit.toDouble
              op match {
                case "=" => x == y
                case ">" => x > y
                case "<" => x < y
                case ">=" => x >= y
                case "<=" => x <= y
              }
          }
        case other => throw new IllegalArgumentException(s"mock cannot evaluate: $other")
      }
    }
    cond.split(" AND ").forall(one)
  }

  /** UPDATE right-hand sides this suite exercises: string/numeric
    * literals and `` `col` + n `` arithmetic over the OLD row value.
    */
  private def evalUpdateRhs(rhs: String, row: Map[String, Any]): Any = {
    val Plus = raw"`([^`]+)`\s*\+\s*([0-9.]+)".r
    rhs.trim match {
      case s if s.startsWith("'") => s.stripPrefix("'").stripSuffix("'")
      case Plus(c, n) => row(c) match {
        case x: Number => x.doubleValue + n.toDouble
        case other => throw new IllegalArgumentException(s"mock: non-numeric $other")
      }
      case n => n.toDouble
    }
  }

  private def handleQuery(sql: String, data: Array[Byte]): (Int, Array[Byte], Map[String, String]) = {
    queries.synchronized { queries += sql }
    // a real server executes SAMPLE/FINAL in storage; this mock pins only
    // the wire SHAPE (asserted against `queries`) and serves raw rows
    val q = sql.trim.replaceAll(" SAMPLE [0-9.]+( OFFSET [0-9.]+)?", "")
      .replaceAll(" FINAL(?=[ )]|$)", "")
    if (q.contains(" JOIN ") || q.contains(" UNION "))
      // this mock executes single-table statements only; answering a
      // collapsed multi-relation query with one table's rows would be
      // valid-looking garbage (NULL-padded columns) — fail LOUDLY the
      // way a fidelity mock must
      (500, s"mock: multi-relation SQL is not executable here: ${q.take(200)}"
        .getBytes(UTF_8), Map.empty[String, String])
    else if (q.contains("`no_such_table`"))
      // error shape of the HTTP interface: non-200, text body, and the
      // ClickHouse exception code in X-ClickHouse-Exception-Code
      // (http doc §Response; 60 = UNKNOWN_TABLE)
      (404,
        "Code: 60. DB::Exception: Table main.no_such_table does not exist".getBytes(UTF_8),
        Map("X-ClickHouse-Exception-Code" -> "60"))
    else if (q == "SELECT version()")
      tsvOk(mockVersion + "\n")
    else if (q.startsWith("DELETE FROM") && q.contains(" WHERE ")) {
      // lightweight delete (>= 23.3 servers): same row semantics as the
      // ALTER mutation; rejectLightweight models a table feature the
      // server refuses it for (client must fall back to ALTER)
      if (rejectLightweight)
        (500, "Code: 48. DB::Exception: Lightweight delete is not supported"
          .getBytes(UTF_8), Map("X-ClickHouse-Exception-Code" -> "48"))
      else {
        val Del = raw"DELETE FROM `main`\.`([^`]+)` WHERE (.+)".r.unanchored
        q match {
          case Del(t, cond) if dynTables.contains(t) =>
            val rows = dynTables(t)._2
            val kept = rows.filterNot(r => evalDeleteCond(cond, r)).toList
            rows.clear(); rows ++= kept
            tsvOk("")
          case _ => (404,
            s"Code: 60. DB::Exception: cannot mutate: $q".getBytes(UTF_8),
            Map("X-ClickHouse-Exception-Code" -> "60"))
        }
      }
    }
    else if (q.startsWith("SELECT name FROM system.databases"))
      tsvOk("default\nmain\n")
    else if (q.startsWith("SELECT name FROM system.tables"))
      tsvOk((Seq("events_http") ++ dynTables.keys.toSeq.sorted).mkString("", "\n", "\n"))
    else if (q.startsWith("SELECT count() FROM system.tables")) {
      val known = Seq("events_http") ++ dynTables.keys
      tsvOk(if (known.exists(t => q.contains(s"name = '$t'"))) "1\n" else "0\n")
    } else if (q.startsWith("SELECT count() FROM `main`.`__graft_epochs`")) {
      val marker = raw"WHERE m = '([^']+)'".r.unanchored
      val seen = q match {
        case marker(m) => dynTables.get("__graft_epochs")
          .exists(_._2.exists(_.get("m").contains(m)))
        case _ => false
      }
      tsvOk(if (seen) "1\n" else "0\n")
    } else if (q.startsWith("SELECT name, type FROM system.columns")) {
      val cols =
        if (q.contains("table = 'events_http'")) colTypes
        else dynTables.collectFirst {
          case (t, (c, _)) if q.contains(s"table = '$t'") => c
        }.getOrElse(Seq.empty)
      tsvOk(cols.map { case (n, t) => s"$n\t$t" }.mkString("", "\n", "\n"))
    } else if (q.startsWith("SELECT engine, sorting_key, partition_key, sampling_key")) {
      // tables named smp_* declare a sampling key (SAMPLE BY id);
      // rep_* tables are ReplacingMergeTree (system.tables reports the
      // engine NAME without its arguments, doc §system.tables)
      val smp = if (q.contains("name = 'smp_")) "id" else ""
      val eng = if (q.contains("name = 'rep_")) "ReplacingMergeTree" else "MergeTree"
      tsvOk(s"$eng\tid\t\t$smp\n")
    } else if (q.startsWith("SELECT engine, sorting_key, partition_key"))
      tsvOk("MergeTree\tid\t\n")
    else if (q.startsWith("SELECT sum(bytes_on_disk)"))
      tsvOk("123456\n")
    else if (q.startsWith("DESCRIBE TABLE")) {
      val inner = q.stripPrefix("DESCRIBE TABLE (")
      val byName = typesFor(inner)
      val out = selectPairs(inner).map {
        case ("1", o) => s"$o\tUInt8"
        case ("count(*)", o) => s"$o\tUInt64" // ClickHouse count() is UInt64
        case (src, o) => s"$o\t${byName.getOrElse(src, "Nullable(String)")}"
      }
      tsvOk(out.mkString("", "\n", "\n"))
    } else if (q.startsWith("SELECT min(`")) {
      val MinMax = raw"SELECT min\(`(\w+)`\), max\(`\w+`\) FROM \((.*)\) AS __mm.*".r
      q match {
        case MinMax(c, inner) =>
          val src = srcOf(inner, c)
          val vals = rowsFor(inner).flatMap(r => Option(r.getOrElse(src, null)))
          if (vals.isEmpty) tsvOk("\\N\t\\N\n")
          else {
            implicit val ord: Ordering[Any] = vals.head match {
              case _: Long => Ordering.by((x: Any) => x.asInstanceOf[Long])
              case _ => Ordering.by((x: Any) => render(x))
            }
            tsvOk(s"${render(vals.min)}\t${render(vals.max)}\n")
          }
        case _ => (500, s"mock: bad min/max probe: $q".getBytes(UTF_8), Map.empty[String, String])
      }
    } else if (q.startsWith("CREATE DATABASE") || q.startsWith("DROP DATABASE"))
      tsvOk("")
    else if (q.startsWith("CREATE TABLE")) {
      val Name = raw"CREATE TABLE (?:IF NOT EXISTS )?`main`\.`([^`]+)`".r.unanchored
      q match {
        case Name(t) if !dynTables.contains(t) =>
          if (q.contains(" AS `main`.")) {
            val Src = raw" AS `main`\.`([^`]+)`".r.unanchored
            val srcCols = q match {
              case Src("events_http") => colTypes
              case Src(s) => dynTables.get(s).map(_._1).getOrElse(colTypes)
              case _ => colTypes
            }
            dynTables(t) = (srcCols, mutable.ArrayBuffer.empty)
          } else {
            // balanced-paren parse of the column section
            val start = q.indexOf('(') + 1
            var depth = 1
            var i = start
            while (i < q.length && depth > 0) {
              q.charAt(i) match {
                case '(' => depth += 1
                case ')' => depth -= 1
                case _ => ()
              }
              i += 1
            }
            val section = q.substring(start, i - 1)
            val items = mutable.ArrayBuffer.empty[String]
            val cur = new StringBuilder
            var d = 0
            section.foreach {
              case ',' if d == 0 => items += cur.result(); cur.clear()
              case c =>
                if (c == '(') d += 1 else if (c == ')') d -= 1
                cur.append(c)
            }
            if (cur.nonEmpty) items += cur.result()
            val cols = items.map(_.trim).filter(_.nonEmpty).map { it =>
              val sp = it.indexOf(' ')
              it.substring(0, sp).stripPrefix("`").stripSuffix("`") ->
                it.substring(sp + 1).trim
            }.toSeq
            dynTables(t) = (cols, mutable.ArrayBuffer.empty)
          }
          tsvOk("")
        case _ => tsvOk("")
      }
    } else if (q.startsWith("ALTER TABLE") && q.contains(" UPDATE ") &&
      q.contains(" WHERE ")) {
      // mutation: recompute assigned columns on matching rows (OLD values)
      val Alt = raw"ALTER TABLE `main`\.`([^`]+)` UPDATE (.+) WHERE (.+)".r.unanchored
      q match {
        case Alt(t, sets, cond) if dynTables.contains(t) =>
          val assigns = sets.split(",").map(_.trim).map { a =>
            val i = a.indexOf('=')
            a.substring(0, i).trim.stripPrefix("`").stripSuffix("`") ->
              a.substring(i + 1).trim
          }.toSeq
          val rows = dynTables(t)._2
          val updated = rows.map { r =>
            if (!evalDeleteCond(cond, r)) r
            else r ++ assigns.map { case (c, rhs) => c -> evalUpdateRhs(rhs, r) }
          }.toList
          rows.clear(); rows ++= updated
          tsvOk("")
        case _ => (404,
          s"Code: 60. DB::Exception: cannot mutate: $q".getBytes(UTF_8),
          Map("X-ClickHouse-Exception-Code" -> "60"))
      }
    } else if (q.startsWith("ALTER TABLE") && q.contains("PROJECTION")) {
      // projection DDL is metadata-speed server-side; accept verbatim
      tsvOk("")
    } else if (q.startsWith("ALTER TABLE") && q.contains(" DELETE WHERE ")) {
      // mutation: rewrite the dyn table without the matching rows
      val Alt = raw"ALTER TABLE `main`\.`([^`]+)` DELETE WHERE (.+)".r.unanchored
      q match {
        case Alt(t, cond) if dynTables.contains(t) =>
          val rows = dynTables(t)._2
          val kept = rows.filterNot(r => evalDeleteCond(cond, r)).toList
          rows.clear(); rows ++= kept
          tsvOk("")
        case _ => (404,
          s"Code: 60. DB::Exception: cannot mutate: $q".getBytes(UTF_8),
          Map("X-ClickHouse-Exception-Code" -> "60"))
      }
    } else if (q.startsWith("DROP TABLE")) {
      val Name = raw"`main`\.`([^`]+)`".r.unanchored
      q match { case Name(t) => dynTables.remove(t); case _ => () }
      tsvOk("")
    } else if (q.startsWith("INSERT INTO") && q.contains("FORMAT RowBinary")) {
      val Ins = raw"INSERT INTO `main`\.`([^`]+)` \(([^)]*)\) FORMAT RowBinary".r.unanchored
      q match {
        case Ins(t, colList) =>
          val cols = colList.split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq
          val rows = decodeInsert(t, cols, data)
          dynTables.getOrElseUpdate(t, (colTypes, mutable.ArrayBuffer.empty))._2 ++= rows
          tsvOk("")
        case _ => (500, s"mock: bad RowBinary insert: $q".getBytes(UTF_8), Map.empty)
      }
    } else if (q.startsWith("INSERT INTO") && q.contains(" SELECT ")) {
      // server-side INSERT SELECT (staged commit): move rows
      val Tgt = raw"INSERT INTO `main`\.`([^`]+)`".r.unanchored
      val Src = raw"FROM `main`\.`([^`]+)`".r.unanchored
      (q, q) match {
        case (Tgt(t), Src(s)) =>
          val moved = dynTables.get(s).map(_._2.toSeq).getOrElse(Seq.empty)
          dynTables.getOrElseUpdate(t, (colTypes, mutable.ArrayBuffer.empty))._2 ++= moved
          (200, Array.empty[Byte], Map("X-ClickHouse-Summary" ->
            s"""{"written_rows":${moved.size}}"""))
        case _ => tsvOk("")
      }
    } else if (q.startsWith("INSERT INTO") && q.contains("VALUES")) {
      // small driver-side literal insert (epoch markers)
      val Ins = raw"INSERT INTO `main`\.`([^`]+)` \(([^)]*)\) VALUES \('([^']*)'\)".r.unanchored
      q match {
        case Ins(t, colList, v) =>
          val col = colList.trim.stripPrefix("`").stripSuffix("`")
          dynTables.getOrElseUpdate(t, (Seq(col -> "String"), mutable.ArrayBuffer.empty))
            ._2 += Map(col -> v)
          tsvOk("")
        case _ => (500, s"mock: bad VALUES insert: $q".getBytes(UTF_8), Map.empty)
      }
    } else if (q.toUpperCase.contains("FORMAT ROWBINARYWITHNAMESANDTYPES")) {
      val pairs = selectPairs(q)
      if (pairs.exists(_._1 == "count(*)")) {
        // pushed-down COUNT scan: one UInt64 row
        val bos = new java.io.ByteArrayOutputStream()
        RowBinary.writeHeader(bos, pairs.map(p => (p._2, "UInt64")))
        val out = new DataOutputStream(bos)
        RowBinary.encoder("UInt64").write(out, rowsFor(q).size.toLong)
        out.flush()
        (200, bos.toByteArray, Map.empty[String, String])
      } else
        (200, rowBinaryResponse(q, pairs, rowsFor(q)), Map.empty[String, String])
    } else (500, s"mock: unhandled query: $q".getBytes(UTF_8), Map.empty[String, String])
  }

  // The mock speaks each content-coding through the codec libraries
  // DIRECTLY (not through the client's HttpCodec helper) so an asymmetry
  // bug in the client's wrapper cannot cancel itself out in the tests.
  private def decodeBytes(codec: String, b: Array[Byte]): Array[Byte] = {
    val in = codec match {
      case "gzip" => new GZIPInputStream(new ByteArrayInputStream(b))
      case "lz4" => new net.jpountz.lz4.LZ4FrameInputStream(new ByteArrayInputStream(b))
      case "zstd" => new com.github.luben.zstd.ZstdInputStream(new ByteArrayInputStream(b))
      case other => throw new IllegalArgumentException(s"mock: unknown coding $other")
    }
    try in.readAllBytes() finally in.close()
  }

  private def encodeBytes(codec: String, b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out: java.io.OutputStream = codec match {
      case "gzip" => new GZIPOutputStream(bos)
      case "lz4" => new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      case "zstd" => new com.github.luben.zstd.ZstdOutputStream(bos)
      case other => throw new IllegalArgumentException(s"mock: unknown coding $other")
    }
    out.write(b); out.close()
    bos.toByteArray
  }

  private lazy val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val params = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
          .iterator.filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
          }.toMap
        paramsLog.add(params)
        val rawBody = ex.getRequestBody.readAllBytes()
        // a gzip/lz4/zstd Content-Encoding request body is decompressed
        // server-side (http doc §Compression)
        val reqEnc = Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .map(_.trim.toLowerCase).filter(_.nonEmpty)
        reqEnc.foreach(bump(encodedRequestBodies, _))
        val body = reqEnc.map(decodeBytes(_, rawBody)).getOrElse(rawBody)
        // INSERT shape: query in the URL, data in the body
        val (sql, data) = params.get("query") match {
          case Some(qq) => (qq, body)
          case None => (new String(body, UTF_8), Array.empty[Byte])
        }
        val (code, resp, headers) =
          try handleQuery(sql, data)
          catch {
            case e: Throwable =>
              (500, s"mock error: $e".getBytes(UTF_8), Map.empty[String, String])
          }
        // response compression requires BOTH the setting and the header
        // (http doc §Compression); the server answers in the FIRST coding
        // it supports from Accept-Encoding
        val accept = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
          .map(_.toLowerCase).getOrElse("")
        val respCodec =
          if (!params.get("enable_http_compression").contains("1")) None
          else accept.split(",").map(_.trim.takeWhile(_ != ';'))
            .find(Set("gzip", "lz4", "zstd"))
        val outBytes = respCodec match {
          case Some(cod) if code == 200 && resp.nonEmpty =>
            bump(encodedResponses, cod)
            ex.getResponseHeaders.set("Content-Encoding", cod)
            encodeBytes(cod, resp)
          case _ => resp
        }
        headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
        ex.sendResponseHeaders(code, if (outBytes.isEmpty) -1 else outBytes.length)
        if (outBytes.nonEmpty) {
          val os = ex.getResponseBody
          try os.write(outBytes) finally os.close()
        }
        ex.close()
      }
    })
    s.start()
    s
  }

  private lazy val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
  private lazy val client = new HttpClickHouseClient(endpoint)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // unique catalog name per suite (shared JVM session)
    s.conf.set("spark.sql.catalog.chhttp", classOf[graft.catalog.ClickHouseCatalog].getName)
    s.conf.set("spark.sql.catalog.chhttp.endpoint", endpoint)
    s.conf.set("spark.sql.catalog.chhttp.read.streams", "4")
    s.conf.set("spark.sql.catalog.chhttp.read.split_by", "id")
    s
  }

  test("metadata round-trip over the wire protocol") {
    assert(client.listDatabases() == Seq("default", "main"))
    assert(client.listTables("main").contains("events_http"))
    assert(client.tableExists("main", "events_http"))
    assert(!client.tableExists("main", "nope"))
    assert(client.fetchColumns("main", "events_http") == colTypes)
    assert(client.fetchTableOptions("main", "events_http") ==
      Map("engine" -> "MergeTree", "order_by" -> "id"))
    assert(client.tableSizeBytes("main", "events_http").contains(123456L))
  }

  test("chSql pins totals_mode on the statement the server receives " +
    "unless its SETTINGS clause names one: a 'totals_mode' literal is data") {
    val ch = graft.session.ClickHouseSession.builder(spark)
      .endpoint(endpoint).catalogName("chhttptot").build()
    queries.synchronized(queries.clear())
    ch.chSql("SELECT `name`, count(*) AS n, 'totals_mode' AS tag " +
      "FROM `main`.`events_http` GROUP BY `name` WITH TOTALS HAVING count(*) >= 1")
    val described = queries.synchronized(
      queries.filter(_.startsWith("DESCRIBE TABLE")).toSeq)
    assert(described.nonEmpty && described.forall(_.contains("HAVING count(*) >= 1 " +
      "SETTINGS totals_mode = 'after_having_exclusive'")), described.toString)
  }

  test("planQuery streams RowBinaryWithNamesAndTypes executor-side") {
    val (schema, handles) = client.planQuery(
      "SELECT `id`, `name`, `val` FROM `main`.`events_http`", 1)
    assert(schema.fieldNames.toSeq == Seq("id", "name", "val"))
    assert(handles.size == 1)
    val sent = queries.synchronized(queries.toSeq)
    val rows = client.readPartition(handles.head).toSeq
    assert(rows.size == baseRows.size)
    assert(rows.exists(_.isNullAt(0))) // NULL id survives binary decode
    assert(rows.map(r => Option(r.get(1)).orNull).contains("z"))
    // the data statement went over the wire in the binary format
    val dataQ = queries.synchronized(queries.toSeq).diff(sent)
    assert(dataQ.exists(_.endsWith("FORMAT RowBinaryWithNamesAndTypes")))
    assert(!dataQ.exists(_.contains("JSON")))
  }

  test("projection DDL ships as one ALTER statement, rendered verbatim " +
    "(the server validates — it accepts MORE than the embedded model)") {
    val before = queries.synchronized(queries.toSeq)
    client.alterTable("main", "events_http", Seq(
      graft.client.ChAlterOp.AddProjection("by_name",
        "SELECT name, sum(val), count(*) GROUP BY name"),
      graft.client.ChAlterOp.MaterializeProjection("by_name")))
    client.alterTable("main", "events_http",
      Seq(graft.client.ChAlterOp.DropProjection("by_name")))
    val sent = queries.synchronized(queries.toSeq).diff(before)
    assert(sent.exists(_.startsWith(
      "ALTER TABLE `main`.`events_http` ADD PROJECTION `by_name` " +
        "(SELECT name, sum(val), count(*) GROUP BY name), " +
        "MATERIALIZE PROJECTION `by_name`")), sent.mkString("\n"))
    assert(sent.exists(_.startsWith(
      "ALTER TABLE `main`.`events_http` DROP PROJECTION `by_name`")),
      sent.mkString("\n"))
  }

  test("columnar read decodes wire blocks straight into vectors") {
    val (schema, handles) = client.planQuery(
      "SELECT `id`, `name`, `val` FROM `main`.`events_http`", 1)
    val before = HttpClickHouseClient.binaryBatchesDecoded.get()
    val it = client.readPartitionColumnar(handles.head, schema)
    val batches = it.toSeq
    assert(batches.map(_.numRows).sum == baseRows.size)
    assert(HttpClickHouseClient.binaryBatchesDecoded.get() > before)
    // spot-check values through the vector API (last batch still live)
    val b = batches.head
    assert(b.column(0).isNullAt(baseRows.size - 1)) // NULL id row
    assert(b.column(1).getUTF8String(0).toString == "a")
    assert(b.column(2).getDouble(2) == 3.5)
  }

  test("catalog scan end-to-end rides the binary columnar path") {
    val before = HttpClickHouseClient.binaryBatchesDecoded.get()
    val got = spark.table("chhttp.main.events_http").collect()
    assert(got.length == baseRows.size)
    assert(HttpClickHouseClient.binaryBatchesDecoded.get() > before)
  }

  test("map columns decode wire-to-vector on the binary columnar path") {
    dynTables("map_http") = (Seq(
      "id" -> "Nullable(Int64)", "attrs" -> "Map(String, Nullable(Int64))"),
      mutable.ArrayBuffer(
        Map[String, Any]("id" -> 1L,
          "attrs" -> scala.collection.immutable.ListMap("a" -> 1L, "b" -> null)),
        Map[String, Any]("id" -> 2L, "attrs" -> Map.empty[String, Any])))
    val before = HttpClickHouseClient.binaryBatchesDecoded.get()
    val (schema, handles) = client.planQuery(
      "SELECT `id`, `attrs` FROM `main`.`map_http`", 1)
    val batches = client.readPartitionColumnar(handles.head, schema).toSeq
    assert(batches.map(_.numRows).sum == 2)
    // wire blocks decoded DIRECTLY into vectors — not the row-pack fallback
    assert(HttpClickHouseClient.binaryBatchesDecoded.get() > before)
    val m = batches.head.column(1).getMap(0)
    assert(m.numElements() == 2)
    assert(m.keyArray.getUTF8String(0).toString == "a" && m.valueArray.getLong(0) == 1L)
    assert(m.valueArray.isNullAt(1))
    assert(batches.head.column(1).getMap(1).numElements() == 0)
  }

  test("range-split read: N disjoint covering slices, nothing lost") {
    queries.synchronized(queries.clear())
    val df = spark.table("chhttp.main.events_http")
    assert(df.rdd.getNumPartitions == 4)
    val got = df.collect()
    assert(got.length == baseRows.size) // all rows exactly once, NULL id incl.
    assert(got.count(_.isNullAt(0)) == 1)
    val rangeQs = queries.synchronized(
      queries.filter(_.contains("WHERE (`id`")).toSeq)
    assert(rangeQs.size == 4)
    // slices are disjoint and cover [1, 21]: range starts are strictly
    // increasing, each next lo = previous hi + 1
    val Range = raw"`id` >= (-?\d+) AND `id` <= (-?\d+)".r.unanchored
    val bounds = rangeQs.flatMap {
      case Range(lo, hi) => Some(lo.toLong -> hi.toLong)
      case _ => None
    }.sorted
    assert(bounds.size == 3) // first slice is the <= OR IS NULL form
    assert(bounds.sliding(2).forall {
      case Seq((_, h1), (l2, _)) => l2 == h1 + 1
      case _ => true
    })
    assert(bounds.last._2 == 21L)
  }

  test("date cursor: planQueryRanges slices by date literals, disjoint-covering") {
    dynTables("date_t") = (Seq("d" -> "Date", "name" -> "Nullable(String)"),
      mutable.ArrayBuffer((0 until 14).map { i =>
        Map[String, Any](
          "d" -> java.time.LocalDate.of(2024, 3, 1).plusDays(i), "name" -> s"r$i")
      }: _*))
    queries.synchronized(queries.clear())
    val (schema, handles) = client.planQueryRanges(
      "SELECT `d`, `name` FROM `main`.`date_t`", "d", 4)
    assert(handles.size == 4)
    val rows = handles.flatMap(h => client.readPartition(h).toSeq)
    assert(rows.size == 14) // every row exactly once
    assert(schema("d").dataType == org.apache.spark.sql.types.DateType)
    val ranged = queries.synchronized(queries.filter(_.contains("WHERE (`d`")).toSeq)
    assert(ranged.size == 4)
    assert(ranged.forall(_.contains("'2024-03-"))) // date literals on the wire
    // top slice is open-ended upward (no AND upper bound)
    assert(ranged.exists(q => q.contains("`d` >= '") && !q.contains(" AND ")))
  }

  test("datetime cursor slices whole seconds; fractional ticks above the " +
    "probed max's second survive via the open-ended top slice") {
    val base = java.time.Instant.parse("2024-06-01T10:00:00Z")
    dynTables("dt64_t") = (Seq("ts" -> "DateTime64(3)", "name" -> "Nullable(String)"),
      mutable.ArrayBuffer((0 until 10).map { i =>
        Map[String, Any]("ts" -> base.plusMillis(i * 1700L), "name" -> s"r$i")
      }: _*))
    val (_, handles) = client.planQueryRanges(
      "SELECT `ts`, `name` FROM `main`.`dt64_t`", "ts", 4)
    assert(handles.size == 4)
    val rows = handles.flatMap(h => client.readPartition(h).toSeq)
    assert(rows.size == 10) // max row carries .300 fraction — not dropped
  }

  test("wire-vs-plan type drift coerces on both stream paths " +
    "(pushed COUNT arrives as UInt64, plan declares Long)") {
    import org.apache.spark.sql.types._
    val (wireSchema, handles) = client.planQuery(
      "SELECT count(*) AS `agg0` FROM `main`.`events_http`", 1)
    assert(wireSchema("agg0").dataType == DecimalType(20, 0)) // the drift
    val plan = StructType(Seq(StructField("agg0", LongType, nullable = false)))
    val rows = client.readPartitionInternal(handles.head, plan).toSeq
    assert(rows.map(_.getLong(0)) == Seq(baseRows.size.toLong))
    val batches = client.readPartitionColumnar(handles.head, plan).toList
    assert(batches.map(_.numRows).sum == 1)
    assert(batches.head.column(0).getLong(0) == baseRows.size.toLong)
  }

  test("COUNT(*) empty-projection scan works over the binary wire") {
    val n = spark.table("chhttp.main.events_http").count()
    assert(n == baseRows.size)
  }

  test("a String column with date-shaped values takes the hash family, " +
    "never date intervals (declared type drives the slice dispatch)") {
    dynTables("datestr_t") = (Seq("tag" -> "Nullable(String)", "val" -> "Float64"),
      mutable.ArrayBuffer(
        // '2022-05-01x' sorts BETWEEN '2022-05-01' and '2022-05-02' —
        // closed date intervals would lose it
        Map[String, Any]("tag" -> "2020-01-01", "val" -> 1.0),
        Map[String, Any]("tag" -> "2022-05-01x", "val" -> 2.0),
        Map[String, Any]("tag" -> "2024-12-31", "val" -> 3.0)))
    queries.synchronized(queries.clear())
    val (_, handles) = client.planQueryRanges(
      "SELECT `tag`, `val` FROM `main`.`datestr_t`", "tag", 3)
    val rows = handles.flatMap(h => client.readPartition(h).toSeq)
    assert(rows.size == 3) // nothing lost
    val qs = queries.synchronized(queries.filter(_.contains(" WHERE ")).toSeq)
    assert(qs.forall(_.contains("cityHash64")), qs.mkString("\n"))
  }

  test("string cursor: server-side hash-mod buckets, NULLs ride bucket 0") {
    dynTables("str_t") = (Seq("name" -> "Nullable(String)", "val" -> "Float64"),
      mutable.ArrayBuffer(Seq(
        "apple", "banana", "cherry", "date", "elder", "fig", "grape", null)
        .zipWithIndex.map { case (n, i) =>
          Map[String, Any]("name" -> n, "val" -> (i + 0.5))
        }: _*))
    queries.synchronized(queries.clear())
    val (_, handles) = client.planQueryRanges(
      "SELECT `name`, `val` FROM `main`.`str_t`", "name", 4)
    assert(handles.size == 4)
    val rows = handles.flatMap(h => client.readPartition(h).toSeq)
    assert(rows.size == 8) // union covers, buckets are disjoint by construction
    assert(rows.count(_.isNullAt(0)) == 1)
    val hq = queries.synchronized(queries.filter(_.contains("cityHash64")).toSeq)
    assert(hq.size == 4)
  }

  test("keyed-collapse slice token substitutes INSIDE the aggregation " +
    "subquery (pre-GROUP BY), with no outer wrap") {
    import graft.pushdown.ChPlanUnparser.{SliceOpen, SliceClose}
    // the shape the collapse rule emits for a shard-key-grouped
    // aggregate: slice token in the aggregate statement's WHERE
    val sql = "SELECT `a1` AS c0, `a2` AS c1 FROM (" +
      "SELECT `id` AS a1, count(*) AS a2 FROM " +
      "(SELECT `id` FROM `main`.`events_http`) AS t0 " +
      s"WHERE ${SliceOpen}a1$SliceClose GROUP BY `id`) AS fin"
    val planned = client.planQueryBuckets(sql, "c0", 4)
    assert(planned.isDefined)
    val hs = planned.get._2
    assert(hs.size == 4)
    hs.zipWithIndex.foreach { case (h, i) =>
      val hsql = h.asInstanceOf[graft.client.HttpQueryHandle].sql
      assert(!hsql.contains("__CH_SLICE__"), s"token must be substituted: $hsql")
      assert(!hsql.contains("__rb"),
        s"templated SQL must not get the outer wrap: $hsql")
      val pred = hsql.indexOf(s"cityHash64(a1) % 4 = $i")
      val group = hsql.indexOf("GROUP BY")
      assert(pred >= 0, s"slice $i predicate missing: $hsql")
      assert(pred < group,
        s"slice predicate must sit before the GROUP BY: $hsql")
      if (i == 0) assert(hsql.contains("a1 IS NULL OR"),
        s"NULL keys must ride slice 0: $hsql")
      else assert(hsql.contains("a1 IS NOT NULL AND"), hsql)
    }
  }

  test("collapsed-subtree SQL range-splits through the exec node (c0 alias cursor)") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val _ = spark // session active for SparkPlan execution
    queries.synchronized(queries.clear())
    // the shape the collapse rule emits: outputs aliased c0..cn over an
    // inner subquery
    val sql = "SELECT `id` AS c0, `val` AS c1 FROM " +
      "(SELECT `id`, `name`, `val` FROM `main`.`events_http`) AS fin"
    val out = Seq(
      AttributeReference("c0", LongType, nullable = true)(),
      AttributeReference("c1", DoubleType, nullable = true)())
    val exec = graft.pushdown.ClickHouseRemoteExec(
      out, sql, client, 4, splitBy = Some("c0"))
    // raw RDD collect: the planner normally adds the unsafe-row/columnar
    // conversion above this node, so executeCollect() doesn't apply here
    val rows = exec.execute().map(_.copy()).collect()
    assert(rows.length == baseRows.size) // all rows exactly once, NULL id incl.
    assert(rows.count(_.isNullAt(0)) == 1)
    val slices = queries.synchronized(queries.count(_.contains("WHERE (`c0`")))
    assert(slices == 4) // the collapsed statement itself was sliced
  }

  test("catalog DDL + staged DSv2 write land via RowBinary wire inserts") {
    spark.sql(
      """CREATE TABLE chhttp.main.scores (id BIGINT, score DOUBLE)
        |TBLPROPERTIES ('engine' = 'MergeTree', 'order_by' = 'id')""".stripMargin)
    assert(dynTables.contains("scores"))
    import spark.implicits._
    Seq((100L, 0.5), (101L, 0.7)).toDF("id", "score")
      .writeTo("chhttp.main.scores").append()
    val landed = dynTables("scores")._2
    assert(landed.size == 2)
    assert(landed.exists(r => r("id") == 100L && r("score") == 0.5))
    // the staged protocol went through a side table: create-as + commit
    val staged = queries.synchronized(queries.exists(q =>
      q.startsWith("CREATE TABLE IF NOT EXISTS `main`.`scores__stg_") &&
        q.contains("AS `main`.`scores`")))
    assert(staged)
    assert(dynTables.keys.filter(_.startsWith("scores__stg")).isEmpty) // dropped
    // and the insert data went as a binary block, not JSON text
    val ins = queries.synchronized(queries.filter(q =>
      q.startsWith("INSERT INTO `main`.`scores__stg_")).toSeq)
    assert(ins.nonEmpty && ins.forall(_.contains("FORMAT RowBinary")))
  }

  test("Enum columns end-to-end: reads decode names, inserts encode names " +
    "back to discriminants, unknown names are rejected before the wire") {
    val enumT = "Enum8('new' = 1, 'done' = 2, 'dead' = -1)"
    client.createTable("main", "enum_http",
      Seq("id" -> "Int64", "st" -> enumT),
      Map("engine" -> "MergeTree", "order_by" -> "id"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("st", org.apache.spark.sql.types.StringType)))
    // the enum column surfaces as StringType, so an insert carries the NAME
    val n = client.insert("main", "enum_http", schema,
      Seq(org.apache.spark.sql.Row(1L, "new"), org.apache.spark.sql.Row(2L, "dead")))
    assert(n == 2)
    val landed = dynTables("enum_http")._2
    assert(landed.exists(r => r("id") == 1L && r("st") == "new"))
    assert(landed.exists(r => r("id") == 2L && r("st") == "dead"))
    // read back over the wire: the response encodes the enum column with
    // the declared Enum8 type; the client decodes it to the name string
    val (rschema, handles) = client.planQuery(
      "SELECT `id`, `st` FROM `main`.`enum_http`", 1)
    assert(rschema("st").dataType == org.apache.spark.sql.types.StringType)
    val rows = handles.flatMap(h => client.readPartition(h).toSeq)
    assert(rows.map(r => (r.get(0), r.get(1).toString)).toSet ==
      Set((1L, "new"), (2L, "dead")))
    // honored-or-rejected: a name outside the declaration fails the
    // insert loudly instead of landing as corrupted wire bytes
    val before = landed.size
    val e = intercept[Exception] {
      client.insert("main", "enum_http", schema,
        Seq(org.apache.spark.sql.Row(3L, "nope")))
    }
    assert(e.getMessage != null && e.getMessage.contains("nope"), e)
    assert(dynTables("enum_http")._2.size == before)
    dynTables.remove("enum_http")
  }

  test("wide-int + IP columns end-to-end over the binary wire (round 15: " +
    "these types parsed at loadTable but died at stream time before)") {
    import org.apache.spark.sql.types._
    client.createTable("main", "wide_http",
      Seq("id" -> "Int64", "w" -> "Int128", "u" -> "UInt128",
        "ip4" -> "IPv4", "ip6" -> "IPv6"),
      Map("engine" -> "MergeTree", "order_by" -> "id"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("w", DecimalType(38, 0)),
      StructField("u", DecimalType(38, 0)),
      StructField("ip4", StringType), StructField("ip6", StringType)))
    val big = new java.math.BigDecimal("99999999999999999999999999999999999999")
    val n = client.insert("main", "wide_http", schema, Seq(
      org.apache.spark.sql.Row(1L, big, big, "1.2.3.4", "2001:db8::1"),
      org.apache.spark.sql.Row(2L, big.negate, java.math.BigDecimal.ZERO,
        "255.0.0.1", "::ffff:9.8.7.6")))
    assert(n == 2)
    // read back over the wire: the server header declares the wide/IP
    // types and the client's RowBinary decoders produce exact values
    val (rschema, handles) = client.planQuery(
      "SELECT `id`, `w`, `u`, `ip4`, `ip6` FROM `main`.`wide_http`", 1)
    assert(rschema("w").dataType == DecimalType(38, 0))
    assert(rschema("ip6").dataType == StringType)
    val rows = handles.flatMap(h => client.readPartition(h).toSeq)
      .map(r => (r.get(0), r.get(1).toString, r.get(2).toString,
        r.get(3).toString, r.get(4).toString)).toSet
    assert(rows == Set(
      (1L, big.toString, big.toString, "1.2.3.4", "2001:db8::1"),
      (2L, big.negate.toString, "0", "255.0.0.1", "::ffff:9.8.7.6")), rows)
    // honored-or-rejected: malformed IP text fails BEFORE the wire
    intercept[Exception] {
      client.insert("main", "wide_http", schema, Seq(
        org.apache.spark.sql.Row(3L, big, big, "not-an-ip", "2001:db8::1")))
    }
    assert(dynTables("wide_http")._2.size == 2)
    dynTables.remove("wide_http")
  }

  test("every accepted CREATE TABLE key renders real DDL: primary_keys, " +
    "defaults, defaults_for_nullable; external_paths is rejected") {
    client.createTable("main", "ddl_full",
      Seq("id" -> "Int64", "grp" -> "Int32", "note" -> "Nullable(String)",
        "score" -> "Float64"),
      Map("engine" -> "MergeTree", "order_by" -> "id, grp",
        "primary_keys" -> "id", "partition_by" -> "grp",
        "ttl" -> "toDateTime(id) + INTERVAL 30 DAY",
        "defaults" -> "score=0.0", "defaults_for_nullable" -> "true",
        "settings" -> "index_granularity = 8192"))
    val ddl = queries.synchronized(
      queries.filter(_.startsWith("CREATE TABLE `main`.`ddl_full`")).toSeq)
    assert(ddl.size == 1, ddl.mkString("\n"))
    val sql = ddl.head
    assert(sql.contains("`score` Float64 DEFAULT 0.0"), sql)
    assert(sql.contains("`note` Nullable(String) DEFAULT NULL"), sql)
    assert(sql.contains("PRIMARY KEY (id)"), sql)
    assert(sql.contains("ORDER BY (id, grp)"), sql)
    assert(sql.contains("PARTITION BY (grp)"), sql)
    assert(sql.contains("TTL toDateTime(id) + INTERVAL 30 DAY"), sql)
    assert(sql.contains("SETTINGS index_granularity = 8192"), sql)
    dynTables.remove("ddl_full")
    // defaults naming an unknown column fail before any wire call
    val e = intercept[IllegalArgumentException] {
      client.createTable("main", "ddl_bad", Seq("id" -> "Int64"),
        Map("defaults" -> "nope=1"))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
    // embedded-only attach concept: rejected, never silently dropped
    val e2 = intercept[IllegalArgumentException] {
      client.createTable("main", "ddl_ext", Seq("id" -> "Int64"),
        Map("external_paths" -> "/tmp/x.parquet"))
    }
    assert(e2.getMessage.contains("embedded"), e2.getMessage)
  }

  /** One full both-directions wire check per content-coding: the RESPONSE
    * must arrive `Content-Encoding: <codec>` (counted server-side before
    * decode) and the INSERT body must leave `Content-Encoding: <codec>`
    * (counted server-side before decompression) — so compression is
    * verified ON THE WIRE, not just configured.
    */
  private def compressionRoundTrip(codec: String): Unit = {
    val cl = new HttpClickHouseClient(endpoint, compression = codec)
    val respBefore = countOf(encodedResponses, codec)
    val (schema, handles) = cl.planQuery(
      "SELECT `id`, `name`, `val` FROM `main`.`events_http`", 1)
    val rows = cl.readPartition(handles.head).toSeq
    assert(rows.size == baseRows.size)
    assert(countOf(encodedResponses, codec) > respBefore) // response was compressed
    // compressed RowBinary insert body
    val reqBefore = countOf(encodedRequestBodies, codec)
    cl.createTable("main", s"${codec}_sink",
      Seq("id" -> "Int64", "tag" -> "Nullable(String)"), Map("engine" -> "MergeTree"))
    val n = cl.insert("main", s"${codec}_sink",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))),
      Seq(org.apache.spark.sql.Row(5L, "x"), org.apache.spark.sql.Row(6L, null)))
    assert(n == 2)
    assert(countOf(encodedRequestBodies, codec) > reqBefore) // body was compressed
    val landed = dynTables(s"${codec}_sink")._2
    assert(landed.exists(r => r("id") == 5L && r("tag") == "x"))
    assert(landed.exists(r => r("id") == 6L && r("tag") == null))
    val _ = schema
  }

  test("gzip compression round-trips both directions and is really on the wire") {
    compressionRoundTrip("gzip")
  }

  test("lz4 compression round-trips both directions (the codec the " +
    "reference pins, tests/common/helpers.rs:29)") {
    compressionRoundTrip("lz4")
  }

  test("zstd compression round-trips both directions") {
    compressionRoundTrip("zstd")
  }

  test("unsupported compression codecs are rejected, not silently inert") {
    val e = intercept[IllegalArgumentException](
      new HttpClickHouseClient(endpoint, compression = "br"))
    assert(e.getMessage.contains("br"))
    assert(e.getMessage.contains("zstd")) // error names what IS supported
  }

  test("server settings ride EVERY request as URL parameters — driver " +
    "statements, executor data streams, and insert bodies alike " +
    "(reference utils/params.rs:256-266; http doc §Settings)") {
    val st = new HttpClickHouseClient(endpoint,
      serverSettings = Map("max_threads" -> "7", "max_memory_usage" -> "1000000000"))
    val mark = paramsLog.size()
    val (schema, handles) = st.planQuery(
      "SELECT `id`, `name`, `val` FROM `main`.`events_http`", 1)
    val rows = st.readPartition(handles.head).toSeq // executor-side stream path
    assert(rows.size == baseRows.size)
    st.createTable("main", "settings_sink",
      Seq("id" -> "Int64"), Map("engine" -> "MergeTree"))
    st.insert("main", "settings_sink",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))),
      Seq(org.apache.spark.sql.Row(1L)))
    val since = (mark until paramsLog.size()).map(paramsLog.get)
    assert(since.nonEmpty)
    since.foreach { p =>
      assert(p.get("max_threads").contains("7"), s"missing max_threads in $p")
      assert(p.get("max_memory_usage").contains("1000000000"))
      assert(p.get("session_timezone").contains("UTC")) // pinned value survives
    }
    val _ = schema
  }

  test("transport-reserved server settings are rejected at construction") {
    val e = intercept[IllegalArgumentException](new HttpClickHouseClient(
      endpoint, serverSettings = Map("session_timezone" -> "America/New_York")))
    assert(e.getMessage.contains("session_timezone"))
  }

  test("settings.* catalog options: honored on HTTP, rejected on the " +
    "embedded store (no server to land on), reserved names rejected") {
    // HTTP: accepted at setup
    val ok = new graft.catalog.ClickHouseCatalog
    ok.initialize("okcat_settings",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
        "endpoint", endpoint, "settings.max_threads", "4")))
    // HTTP + reserved name: rejected by the option grammar
    val e1 = intercept[IllegalArgumentException] {
      new graft.catalog.ClickHouseCatalog().initialize("badcat_settings",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "endpoint", endpoint, "settings.enable_http_compression", "1")))
    }
    assert(e1.getMessage.contains("reserved"))
    // embedded: any settings.* errors — honored-or-rejected
    val e2 = intercept[IllegalArgumentException] {
      new graft.catalog.ClickHouseCatalog().initialize("badcat_settings2",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of(
          "path", "/tmp/graft_settings_embedded", "settings.max_threads", "4")))
    }
    assert(e2.getMessage.contains("embedded") || e2.getMessage.contains("server"),
      e2.getMessage)
  }

  test("wire-read envelope mock streams correct RowBinary rows (codec on): " +
    "the read benchmark measures a correct decode, not garbage") {
    val srv = new graft.client.MockClickHouseHttp
    srv.wireReadRows = 1000
    try {
      val cl = new HttpClickHouseClient(srv.endpoint, compression = "lz4")
      val (schema, handles) = cl.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
      assert(schema.fieldNames.toSeq == Seq("id", "v", "tag"))
      val rows = cl.readPartition(handles.head).toSeq
      assert(rows.size == 1000)
      assert(rows.head.getLong(0) == 0L && rows.head.getString(2) == "tag_0")
      assert(rows.last.getLong(0) == 999L && rows.last.getDouble(1) == 999 * 0.5)
    } finally srv.close()
  }

  test("use_tls is asserted against the endpoint scheme") {
    val e = intercept[IllegalArgumentException](
      new HttpClickHouseClient(endpoint, useTls = Some(true)))
    assert(e.getMessage.contains("use_tls"))
    // matching declaration is fine
    new HttpClickHouseClient(endpoint, useTls = Some(false))
  }

  test("options the HTTP transport cannot honor fail at catalog setup") {
    val cat = new graft.catalog.ClickHouseCatalog
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("endpoint", endpoint, "pool_idle_timeout", "30"))
    val e = intercept[IllegalArgumentException](cat.initialize("badcat", opts))
    assert(e.getMessage.contains("pool_idle_timeout"))
    assert(e.getMessage.contains("not honored"))
  }

  test("HTTP option validation is an allowlist: catalog-valid keys the " +
    "transport does not honor are rejected, not silently inert") {
    // `path` is a perfectly valid catalog key (embedded transport) but
    // means nothing once `endpoint` selects HTTP — accepting it would be
    // the silent-lie failure mode the honored-or-rejected contract bans
    val cat = new graft.catalog.ClickHouseCatalog
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("endpoint", endpoint, "path", "/tmp/ignored"))
    val e = intercept[IllegalArgumentException](cat.initialize("badcat2", opts))
    assert(e.getMessage.contains("path") && e.getMessage.contains("not honored"))
    // every honored key together passes setup
    val ok = new graft.catalog.ClickHouseCatalog
    val okOpts = new java.util.HashMap[String, String]()
    okOpts.put("endpoint", endpoint)
    okOpts.put("username", "default"); okOpts.put("password", "")
    okOpts.put("default_database", "main"); okOpts.put("compression", "gzip")
    okOpts.put("use_tls", "false"); okOpts.put("pool_max_size", "4")
    okOpts.put("pool_connection_timeout", "5000")
    okOpts.put("pool_retry_connection", "true")
    okOpts.put("coerce_schemas", "true"); okOpts.put("read.streams", "2")
    okOpts.put("read.split_by", "id"); okOpts.put("write.concurrency", "2")
    okOpts.put("write.batch_size", "1000")
    ok.initialize("okcat_allow",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(okOpts))
  }

  test("pool_max_size bounds concurrent wire requests") {
    val pooled = new HttpClickHouseClient(endpoint, poolMaxSize = 2)
    val (schema, handles) = pooled.planQuery(
      "SELECT `id`, `name`, `val` FROM `main`.`events_http`", 1)
    // open two streams without draining them: both slots taken
    val it1 = pooled.readPartitionInternal(handles.head, schema)
    val it2 = pooled.readPartitionInternal(handles.head, schema)
    assert(it1.hasNext && it2.hasNext) // both opened (and hold a slot)
    // a third request must wait for a slot — probe with a timed thread
    val third = new Thread(() => pooled.tableExists("main", "events_http"))
    third.start()
    third.join(300)
    assert(third.isAlive, "third request should be blocked by the pool bound")
    // drain one stream → its slot frees → the blocked request completes
    while (it1.hasNext) it1.next()
    third.join(5000)
    assert(!third.isAlive)
    while (it2.hasNext) it2.next()
  }

  test("DELETE ships the LIGHTWEIGHT `DELETE FROM` on modern servers, " +
    "falls back to ALTER when the server refuses the statement, and " +
    "uses ALTER outright below 23.3") {
    dynTables("del_http") = (colTypes, mutable.ArrayBuffer(
      (1 to 10).map(i =>
        Map[String, Any]("id" -> i.toLong, "name" -> s"n$i", "val" -> i * 0.5)): _*))
    spark.sql("DELETE FROM chhttp.main.del_http WHERE id > 5 AND name = 'n7'")
    // server-side semantics: only the row matching BOTH conjuncts is gone
    assert(dynTables("del_http")._2.map(_("id")).toSet ==
      ((1 to 10).toSet - 7).map(_.toLong))
    val light = queries.synchronized {
      queries.filter(_.startsWith("DELETE FROM `main`.`del_http` WHERE")).toSeq
    }
    assert(light.nonEmpty,
      "the mock reports 24.x — expected a lightweight DELETE FROM on the wire")
    assert(queries.synchronized(
      !queries.exists(_.startsWith("ALTER TABLE `main`.`del_http` DELETE"))),
      "no part-rewrite mutation when the lightweight path succeeds")
    // server refuses lightweight (e.g. a table feature): fall back to the
    // classic mutation — identical visible semantics, still loud on a
    // real failure of BOTH paths
    rejectLightweight = true
    try {
      spark.sql("DELETE FROM chhttp.main.del_http WHERE id > 9")
      assert(dynTables("del_http")._2.map(_("id")).toSet ==
        ((1 to 9).toSet - 7).map(_.toLong))
      assert(queries.synchronized(queries.exists(
        _.startsWith("ALTER TABLE `main`.`del_http` DELETE WHERE"))),
        "expected the ALTER fallback on the wire")
    } finally rejectLightweight = false
    // pre-GA server: a FRESH client (the version probe caches per client)
    // must not even attempt DELETE FROM
    mockVersion = "22.8.1.1"
    try {
      val oldClient = new graft.client.HttpClickHouseClient(endpoint)
      val before = queries.synchronized(
        queries.count(_.startsWith("DELETE FROM `main`.`del_http`")))
      oldClient.deleteWhere("main", "del_http", "`id` > 8")
      assert(dynTables("del_http")._2.map(_("id")).toSet ==
        ((1 to 8).toSet - 7).map(_.toLong))
      assert(queries.synchronized(
        queries.count(_.startsWith("DELETE FROM `main`.`del_http`"))) == before,
        "a 22.x server must take the ALTER path directly")
    } finally mockVersion = "24.3.2.1"
    // unconditional DELETE compiles to WHERE 1 (TRUNCATE-equivalent)
    spark.sql("DELETE FROM chhttp.main.del_http")
    assert(dynTables("del_http")._2.isEmpty)
    dynTables.remove("del_http")
    ()
  }

  test("updateWhere ships ALTER TABLE ... UPDATE over the wire " +
    "(old-value semantics on the matching rows only)") {
    dynTables("upd_http") = (colTypes, mutable.ArrayBuffer(
      (1 to 6).map(i =>
        Map[String, Any]("id" -> i.toLong, "name" -> s"n$i", "val" -> i * 1.0)): _*))
    client.updateWhere(
      "main", "upd_http", Seq("val" -> "`val` + 10"), "`id` > 4")
    val byId = dynTables("upd_http")._2
      .map(r => r("id").asInstanceOf[Long] -> r("val")).toMap
    assert(byId(1L) == 1.0 && byId(4L) == 4.0, "non-matching rows unchanged")
    assert(byId(5L) == 15.0 && byId(6L) == 16.0, "matching rows updated from OLD values")
    val alters = queries.synchronized {
      queries.filter(_.startsWith("ALTER TABLE `main`.`upd_http` UPDATE ")).toSeq
    }
    assert(alters.exists(_.contains("UPDATE `val` = `val` + 10 WHERE `id` > 4")),
      s"wire statements: $alters")
    dynTables.remove("upd_http")
    ()
  }

  test("df.sample ships a SAMPLE clause only for sampling-keyed tables " +
    "(system.tables sampling_key gates the pushdown)") {
    dynTables("smp_http") = (colTypes, mutable.ArrayBuffer(
      (1 to 8).map(i =>
        Map[String, Any]("id" -> i.toLong, "name" -> s"n$i", "val" -> i * 0.5)): _*))
    assert(client.fetchTableOptions("main", "smp_http").get("sampling").contains("id"))
    val df = spark.table("chhttp.main.smp_http")
      .sample(withReplacement = false, 0.25, 3L)
    df.collect() // mock serves unsampled rows; the WIRE SHAPE is the pin
    val sampled = queries.synchronized {
      queries.filter(q => q.contains("`smp_http`") && q.contains(" SAMPLE ")).toSeq
    }
    assert(sampled.exists(_.contains("SAMPLE 0.25 OFFSET 0.000003")),
      s"wire statements: $sampled")
    // events_http has no sampling key → sample stays local, no clause
    val df2 = spark.table("chhttp.main.events_http")
      .sample(withReplacement = false, 0.25, 3L)
    df2.collect()
    assert(!queries.synchronized {
      queries.exists(q => q.contains("`events_http`") && q.contains(" SAMPLE "))
    })
    dynTables.remove("smp_http")
    ()
  }

  test("final=true ships FROM t FINAL for Replacing engines and rejects " +
    "append-only ones (system.tables engine gates the option)") {
    dynTables("rep_http") = (colTypes, mutable.ArrayBuffer(
      (1 to 4).map(i =>
        Map[String, Any]("id" -> i.toLong, "name" -> s"n$i", "val" -> i * 0.5)): _*))
    assert(client.fetchTableOptions("main", "rep_http")("engine") == "ReplacingMergeTree")
    val df = spark.read.option("final", "true").table("chhttp.main.rep_http")
      .select("id", "name")
    assert(df.count() == 4) // mock serves raw rows; the WIRE SHAPE is the pin
    val finals = queries.synchronized {
      queries.filter(q => q.contains("`rep_http`") && q.contains(" FINAL")).toSeq
    }
    assert(finals.exists(_.contains("FROM `main`.`rep_http` FINAL")),
      s"wire statements: $finals")
    // MergeTree table: the option is rejected, never silently inert
    val e = intercept[Exception] {
      spark.read.option("final", "true").table("chhttp.main.events_http").collect()
    }
    assert(e.getMessage.contains("merge-collapsing engine"), e.getMessage)
    dynTables.remove("rep_http")
    ()
  }

  test("bucketed HTTP reads: server-side cityHash64 slices, co-partitioned " +
    "join plans zero exchange") {
    def seedRows(tag: String) = mutable.ArrayBuffer(
      (1 to 12).map(i =>
        Map[String, Any]("id" -> i.toLong, "name" -> s"$tag$i", "val" -> i * 0.5)): _*)
    dynTables("bkt_l") = (colTypes, seedRows("l"))
    dynTables("bkt_r") = (colTypes, seedRows("r"))
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // second catalog, same server, DIFFERENT user: distinct connection
    // keys make this the cross-connection federated-join shape — the
    // subtree-collapse rule refuses it (r28 semantics), so the plan must
    // go through storage-partitioned buckets REGARDLESS of whether an
    // earlier suite installed the pushdown extensions on the shared
    // session (same-key same-store joins legitimately collapse into one
    // remote SQL instead — that path is PushdownSpec's r08 territory)
    spark.conf.set("spark.sql.catalog.chhttpb",
      classOf[graft.catalog.ClickHouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.chhttpb.endpoint", endpoint)
    spark.conf.set("spark.sql.catalog.chhttpb.username", "reader")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def bucketed(catalog: String, t: String) = spark.read
        .option("bucket_by", "id").option("buckets", "4").table(s"$catalog.main.$t")
      import org.apache.spark.sql.functions.{col => c}
      val l = bucketed("chhttp", "bkt_l").select(c("id"), c("name").as("ln"))
      val rt = bucketed("chhttpb", "bkt_r").select(c("id").as("rid"), c("name").as("rn"))
      val joined = l.join(rt, c("id") === c("rid")).select("id", "ln", "rn")
      val got = joined.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == (1 to 12).map(i => (i.toLong, s"l$i", s"r$i")).toSet)
      // the join subtree is exchange-free: buckets line up via the
      // server-routed cityHash64 identity
      val all = PlanAsserts.flatten(joined.queryExecution.executedPlan)
      assert(all.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]))
      assert(!all.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
        s"bucketed HTTP join must be exchange-free:\n${all.head}")
      // wire shape: each side read 4 slice queries with the server-side
      // hash predicate; NULLs ride bucket 0
      val slices = queries.synchronized {
        queries.filter(q => q.contains("`bkt_l`") && q.contains("cityHash64")).toSeq
      }
      assert(slices.size == 4, slices.mkString("\n"))
      assert(slices.exists(_.contains("`id` IS NULL OR cityHash64(`id`) % 4 = 0")))
      assert(slices.exists(_.contains("`id` IS NOT NULL AND cityHash64(`id`) % 4 = 3")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      dynTables.remove("bkt_l"); dynTables.remove("bkt_r")
    }
    ()
  }

  test("shuffle-one-side SPJ: a plain local side shuffles INTO the HTTP " +
    "scan's cityHash64 buckets via the now-evaluable bucket function " +
    "(round 15) — one exchange, server slices untouched, values exact") {
    val rows = mutable.ArrayBuffer(
      (1 to 12).map(i =>
        Map[String, Any]("id" -> i.toLong, "name" -> s"b$i", "val" -> i * 0.5)): _*)
    dynTables("bkt_s") = (colTypes, rows)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions.{col => c}
      import spark.implicits._
      val l = spark.read.option("bucket_by", "id").option("buckets", "4")
        .table("chhttp.main.bkt_s").select(c("id"), c("name").as("ln"))
      // plain local side — NOT bucketed; Spark must route it through
      // ChBoundBucket("cityhash64").produceResult (bit-exact kernel)
      // to line partitions up with the server-routed slices
      val r = (1 to 12).map(i => (i.toLong, s"p$i")).toDF("rid", "rn")
      val joined = l.join(r.hint("merge"), c("id") === c("rid"))
        .select("id", "ln", "rn")
      val got = joined.collect()
        .map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSet
      assert(got == (1 to 12).map(i => (i.toLong, s"b$i", s"p$i")).toSet)
      val all = PlanAsserts.flatten(joined.queryExecution.executedPlan)
      val shuffles = all.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }
      assert(shuffles.size == 1,
        s"exactly the plain side shuffles (got ${shuffles.size}):\n${all.head}")
      // the scan side stayed server-routed: 4 slice queries
      val slices = queries.synchronized {
        queries.filter(q => q.contains("`bkt_s`") && q.contains("cityHash64")).toSeq
      }
      assert(slices.size == 4, slices.mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "false")
      dynTables.remove("bkt_s")
    }
    ()
  }

  test("insertSelect returns written_rows from the summary header AND pins " +
    "insert_null_as_default=0 (server default 1 would silently turn a NULL " +
    "into the column default — the collapsed INSERT SELECT path strips " +
    "AssertNotNull on the promise of a loud server-side failure)") {
    dynTables("src_copy") = (colTypes, mutable.ArrayBuffer(
      Map[String, Any]("id" -> 7L, "name" -> "s", "val" -> 0.25)))
    client.createTable("main", "dst_copy", colTypes, Map("engine" -> "MergeTree"))
    val before = paramsLog.size()
    val n = client.insertSelect("main", "dst_copy",
      "SELECT * FROM `main`.`src_copy`")
    assert(n == 1L)
    assert(dynTables("dst_copy")._2.size == 1)
    import scala.jdk.CollectionConverters._
    val insertParams = paramsLog.asScala.drop(before).filter(p =>
      p.get("query").forall(_.startsWith("INSERT INTO `main`.`dst_copy`")))
    assert(insertParams.exists(p =>
      p.get("insert_null_as_default").contains("0") &&
        p.get("input_format_null_as_default").contains("0")),
      s"params after insertSelect: ${paramsLog.asScala.drop(before)}")
  }

  test("epoch markers: first commit wins, replay detected") {
    assert(client.tryMarkEpochCommitted("main", "scores", "epoch-7"))
    assert(!client.tryMarkEpochCommitted("main", "scores", "epoch-7"))
    assert(client.tryMarkEpochCommitted("main", "scores", "epoch-8"))
  }

  test("planQueryRanges survives a full-64-bit cursor span (hash cursors): " +
    "`hi - lo` would wrap Long; slices stay disjoint-covering, no row lost") {
    dynTables("hash_t") = (colTypes, mutable.ArrayBuffer(
      Map[String, Any]("id" -> Long.MinValue, "name" -> "lo", "val" -> 0.1),
      Map[String, Any]("id" -> -1L, "name" -> "m1", "val" -> 0.2),
      Map[String, Any]("id" -> 0L, "name" -> "z0", "val" -> 0.3),
      Map[String, Any]("id" -> (Long.MaxValue - 1), "name" -> "hi", "val" -> 0.4),
      Map[String, Any]("id" -> null, "name" -> "nn", "val" -> 0.5)))
    val (schema, handles) = client.planQueryRanges(
      "SELECT `id`, `name`, `val` FROM `main`.`hash_t`", "id", 4)
    assert(handles.size == 4)
    val rows = handles.flatMap(h => client.readPartition(h).toSeq)
    assert(rows.size == 5) // every row exactly once, NULL id included
    assert(rows.count(_.isNullAt(0)) == 1)
    assert(schema.fieldNames.head == "id")
  }

  test("planQueryRanges falls back to one stream for empty results") {
    dynTables("empty_t") = (colTypes, mutable.ArrayBuffer.empty)
    val (_, handles) = client.planQueryRanges(
      "SELECT `id`, `name`, `val` FROM `main`.`empty_t`", "id", 4)
    assert(handles.size == 1)
  }

  test("server failures surface the X-ClickHouse-Exception-Code header " +
    "(http doc §Response: code rides a header next to the text body)") {
    val (schema, handles) = client.planQuery(
      "SELECT `id`, `name`, `val` FROM `main`.`events_http`", 1)
    val bad = handles.head.asInstanceOf[graft.client.HttpQueryHandle]
      .copy(sql = "SELECT `id` FROM `main`.`no_such_table`")
    val e = intercept[RuntimeException](client.readPartition(bad).toSeq)
    assert(e.getMessage.contains("server error code 60"), e.getMessage)
    assert(e.getMessage.contains("does not exist"))
    val _ = schema
  }

  test("every successfully decoded row is DELIVERED before the lookahead's " +
    "failure surfaces: a stream dying after N rows yields exactly N, then " +
    "throws — the exact-watermark contract resumable reads build on") {
    val mock = new graft.client.MockClickHouseHttp
    mock.wireReadRows = 1000
    mock.failAfterRows = 100
    try {
      val cl = new graft.client.HttpClickHouseClient(mock.endpoint)
      val (schema, hs) = cl.planQuery(
        "SELECT `id`, `v`, `tag` FROM `bench`.`wire_read`", 1)
      val it = cl.readPartitionInternal(hs.head, schema)
      var delivered = 0L
      val err = scala.util.Try { while (it.hasNext) { it.next(); delivered += 1 } }
      assert(err.isFailure, "mid-stream death must still surface")
      // the one-row lookahead decoded row 99 before hitting the death:
      // pre-deferral this delivered only 99 rows and the resume watermark
      // sat one group low
      assert(delivered == 100,
        s"all decoded rows must be delivered before the error: $delivered")
    } finally mock.close()
  }

  test("a 16-column resumable columnar read rides the native binary path") {
    val mock = new graft.client.MockClickHouseHttp
    mock.wireReadRows = 20000
    mock.wireReadExtraCols = 13
    try {
      val http = new HttpClickHouseClient(mock.endpoint)
      val client = new graft.client.FailoverClickHouseClient(IndexedSeq(http, http))
      val cols = (Seq("id", "v", "tag") ++ (0 until 13).map(i => s"w$i"))
        .map(c => s"`$c`").mkString(", ")
      val (schema, hs) = client.planQueryRanges(
        s"SELECT $cols FROM `bench`.`wire_read`", "id", 1)
      assert(hs.head.isInstanceOf[graft.client.ResumableReplicaHandle])
      val before = HttpClickHouseClient.binaryBatchesDecoded.get()
      var n = 0L
      val it = client.readPartitionColumnar(hs.head, schema)
      while (it.hasNext) n += it.next().numRows()
      val after = HttpClickHouseClient.binaryBatchesDecoded.get()
      assert(n == 20000L)
      assert(after > before, "16-col resumable read took the ROW fallback")
    } finally mock.close()
  }

  /* ==================== protocol verification ledger ====================
   *
   * Every wire behavior this client depends on, with its verification
   * status. "doc" = pinned against the public ClickHouse documentation
   * and enforced by this suite's mock; "live" = additionally exercised
   * against a real server (set CH_ENDPOINT; blocked in this sandbox —
   * zero egress).
   *
   * | behavior                                        | source                      | status |
   * |-------------------------------------------------|-----------------------------|--------|
   * | RowBinary(WithNamesAndTypes) layout: LEB128     | formats doc §RowBinary      | doc    |
   * |   header, LE fixed-width values, length-prefixed|                             |        |
   * |   strings (RowBinarySpec pins bytes)            |                             |        |
   * | Nullable = flag byte 1/0 before the value       | formats doc §RowBinary      | doc    |
   * | DateTime64(p) = Int64 ticks at 10^-p, epoch-    | formats doc + data-types    | doc    |
   * |   based (timezone-unambiguous on the wire)      |   doc §DateTime64           |        |
   * | Date = UInt16 epoch days / Date32 = Int32       | data-types doc §Date        | doc    |
   * | Decimal(P,S) width 4/8/16/32 by precision       | data-types doc §Decimal     | doc    |
   * | INSERT: query in URL ?query=, data as body      | http doc §Usage (INSERT)    | doc    |
   * | gzip/lz4/zstd responses: enable_http_compression| http doc §Compression       | doc    |
   * |   =1 + Accept-Encoding; request bodies decoded  |                             |        |
   * |   per Content-Encoding (lz4 = LZ4 FRAME format, |                             |        |
   * |   the coding the reference pins, helpers.rs:29) |                             |        |
   * | errors: non-200 + X-ClickHouse-Exception-Code   | http doc §Response          | doc    |
   * |   header + text body                            |                             |        |
   * | X-ClickHouse-Summary on INSERT SELECT           | http doc §Response headers  | doc    |
   * |   (written_rows JSON)                           |                             |        |
   * | TSV metadata: \N for NULL, tab-separated       | formats doc §TabSeparated   | doc    |
   * | session_timezone pins text DateTime rendering   | settings doc                | doc    |
   * | DESCRIBE TABLE (subquery) returns name+type     | sql-reference §DESCRIBE     | doc    |
   * | keep-alive connection reuse across requests     | http doc §HTTP interface    | doc    |
   * | count()/aggregates return UInt64 → plan-type    | data-types doc §UInt64      | doc    |
   * |   drift coerced by scan-level cast projection   |                             |        |
   * | SELECT ... SAMPLE f OFFSET o storage sampling;  | select doc §SAMPLE clause + | doc    |
   * |   SAMPLE BY in CREATE DDL; sampling_key column  |   system.tables doc         |        |
   * |   of system.tables gates the pushdown           |                             |        |
   * | lightweight DELETE FROM ... WHERE on >= 23.3    | sql-reference §DELETE       | doc    |
   * |   (version()-probed; _row_exists mask, no part  |   (lightweight delete)      |        |
   * |   rewrite); ALTER TABLE ... DELETE WHERE        |   + §ALTER DELETE           |        |
   * |   fallback below 23.3 or on server refusal;     |   + settings doc            |        |
   * |   mutations_sync=1 waits for this replica on    |                             |        |
   * |   both paths                                    |                             |        |
   * | buffered Content-Length INSERT bodies (client   | http doc §Usage (INSERT)    | doc    |
   * |   deliberately avoids chunked mode: blocks are  |                             |        |
   * |   bounded by write.batch_size, and a length-    |                             |        |
   * |   framed body lets the server reject truncation)|                             |        |
   * | FROM t FINAL collapses Replacing-family rows    | select doc §FINAL modifier  | doc    |
   * |   before WHERE/aggregates; engine column of     |   + system.tables doc       |        |
   * |   system.tables gates the read option           |                             |        |
   * | server settings as URL parameters on any        | http doc §Settings          | doc    |
   * |   request (settings.* catalog keys; reserved    |                             |        |
   * |   transport-pinned names rejected)              |                             |        |
   * | cityHash64(col) % n = i slice predicates are    | functions doc §cityHash64   | doc    |
   * |   server-computed, disjoint-covering per query  |   (stable across versions)  |        |
   * |   (bucket-keyed reads; NULLs ride slice 0)      |                             |        |
   *
   * Not yet live-verified (needs CH_ENDPOINT): exact server renderings
   * of DateTime64 precision >6 in TSV probes, progress headers on
   * multi-second queries, LowCardinality serialization version guards.
   * ===================================================================== */
}
