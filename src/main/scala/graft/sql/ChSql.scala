package graft.sql

import org.apache.spark.sql.sources._

/** ClickHouse SQL generation helpers: identifier quoting, literal
  * rendering, and the DSv2 `Filter` → ClickHouse-WHERE compiler used by
  * the scan's pushdown probe (mirrors the reference's per-filter
  * "unparses?" exactness probe, /root/reference/src/sql.rs:215-228: a
  * filter is pushed iff it compiles; otherwise it stays local as a
  * residual).
  */
object ChSql {

  def quoteIdent(name: String): String = "`" + name.replace("`", "``") + "`"

  def quoteTable(db: String, table: String): String =
    s"${quoteIdent(db)}.${quoteIdent(table)}"

  def stringLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Render an external (driver-side) value as a ClickHouse literal. */
  def literal(v: Any): Option[String] = v match {
    case null => Some("NULL")
    case s: String => Some(stringLit(s))
    case b: Boolean => Some(if (b) "true" else "false")
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    case f: Float => if (f.isNaN || f.isInfinite) None else Some(f.toString)
    case d: Double => if (d.isNaN || d.isInfinite) None else Some(d.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.underlying.toPlainString)
    case t: java.sql.Timestamp =>
      Some(s"toDateTime64(${stringLit(fmtTs(t.toInstant))}, 6)")
    case i: java.time.Instant => Some(s"toDateTime64(${stringLit(fmtTs(i))}, 6)")
    case d: java.sql.Date => Some(s"toDate(${stringLit(d.toString)})")
    case d: java.time.LocalDate => Some(s"toDate(${stringLit(d.toString)})")
    case _ => None // unsupported literal type → filter stays local
  }

  private def fmtTs(i: java.time.Instant): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(i)

  /** Compile one DSv2 filter to a ClickHouse boolean expression.
    * None = not compilable (kept as a local residual).
    */
  def compileFilter(f: Filter): Option[String] = f match {
    case AlwaysTrue() => Some("1") // unconditional DELETE / TRUNCATE
    case AlwaysFalse() => Some("0")
    case EqualTo(a, v) => binOp(a, "=", v)
    case EqualNullSafe(a, null) => Some(s"${quoteIdent(a)} IS NULL")
    case EqualNullSafe(a, v) => binOp(a, "=", v) // non-null literal: same as =
    case GreaterThan(a, v) => binOp(a, ">", v)
    case GreaterThanOrEqual(a, v) => binOp(a, ">=", v)
    case LessThan(a, v) => binOp(a, "<", v)
    case LessThanOrEqual(a, v) => binOp(a, "<=", v)
    case IsNull(a) => Some(s"${quoteIdent(a)} IS NULL")
    case IsNotNull(a) => Some(s"${quoteIdent(a)} IS NOT NULL")
    case In(a, vs) =>
      val lits = vs.toSeq.map(literal)
      if (lits.exists(_.isEmpty) || lits.isEmpty) None
      else Some(s"${quoteIdent(a)} IN (${lits.flatten.mkString(", ")})")
    case StringStartsWith(a, v) =>
      Some(s"startsWith(${quoteIdent(a)}, ${stringLit(v)})")
    case StringEndsWith(a, v) =>
      Some(s"endsWith(${quoteIdent(a)}, ${stringLit(v)})")
    case StringContains(a, v) =>
      Some(s"position(${quoteIdent(a)}, ${stringLit(v)}) > 0")
    case And(l, r) =>
      for (cl <- compileFilter(l); cr <- compileFilter(r)) yield s"($cl AND $cr)"
    case Or(l, r) =>
      for (cl <- compileFilter(l); cr <- compileFilter(r)) yield s"($cl OR $cr)"
    case Not(c) => compileFilter(c).map(cc => s"(NOT $cc)")
    case _ => None
  }

  private def binOp(attr: String, op: String, v: Any): Option[String] =
    literal(v).map(lit => s"${quoteIdent(attr)} $op $lit")
}
