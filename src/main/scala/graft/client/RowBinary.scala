package graft.client

import java.io.{DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codec for ClickHouse's `RowBinary` / `RowBinaryWithNamesAndTypes` wire
  * format (https://clickhouse.com/docs/en/interfaces/formats#rowbinary):
  * the binary block transport of the public HTTP interface, replacing
  * per-row JSON parse on the scan path — the HTTP analog of the
  * reference's Native-format columnar blocks
  * (/root/reference/src/connection.rs:163-178, sink.rs:102-211).
  *
  * Layout (all little-endian):
  *  - header (WithNamesAndTypes only): LEB128 column count, then names,
  *    then ClickHouse type strings, each LEB128-length-prefixed UTF-8
  *  - rows: values back to back, column order, no delimiters
  *  - `Nullable(T)`: one flag byte (1 = NULL, nothing follows; 0 = value)
  *  - String/FixedString: LEB128 length + bytes / exactly-n bytes
  *  - Date = UInt16 days, Date32 = Int32 days, DateTime = UInt32 seconds,
  *    DateTime64(p) = Int64 ticks at 10^-p — all epoch-based, so binary
  *    reads are timezone-unambiguous (unlike the text formats)
  *  - Decimal(P,S): unscaled two's-complement int of 4/8/16/32 bytes for
  *    P ≤ 9 / 18 / 38 / 76
  *  - Array: LEB128 count + elements; Map: LEB128 count + interleaved
  *    key,value pairs; Tuple: elements in order
  *  - UUID: two UInt64 halves (hi, lo), each little-endian
  *  - LowCardinality(T) serializes transparently as T in this format
  *
  * Decoders compile once per column from the server-declared ClickHouse
  * type string and then run allocation-light per row; `readInto` decodes
  * straight into a [[WritableColumnVector]] for the columnar scan path.
  */
object RowBinary {

  // ---- LEB128 unsigned varint ----

  def readVarInt(in: DataInputStream): Int = {
    var shift = 0
    var v = 0
    var b = 0
    do {
      b = in.readUnsignedByte()
      v |= (b & 0x7f) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  def writeVarInt(out: OutputStream, value: Int): Unit = {
    var v = value
    while ((v & ~0x7f) != 0) {
      out.write((v & 0x7f) | 0x80)
      v >>>= 7
    }
    out.write(v)
  }

  def readString(in: DataInputStream): String = {
    val n = readVarInt(in)
    val b = new Array[Byte](n)
    in.readFully(b)
    new String(b, UTF_8)
  }

  def writeString(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeVarInt(out, b.length)
    out.write(b)
  }

  /** RowBinaryWithNamesAndTypes header → (name, ClickHouse type) pairs. */
  def readHeader(in: DataInputStream): Seq[(String, String)] = {
    val n = readVarInt(in)
    val names = (0 until n).map(_ => readString(in))
    val types = (0 until n).map(_ => readString(in))
    names.zip(types)
  }

  def writeHeader(out: OutputStream, cols: Seq[(String, String)]): Unit = {
    writeVarInt(out, cols.length)
    cols.foreach { case (n, _) => writeString(out, n) }
    cols.foreach { case (_, t) => writeString(out, t) }
  }

  // ---- little-endian fixed-width primitives ----

  private def readShortLE(in: DataInputStream): Short = {
    val a = in.readUnsignedByte(); val b = in.readUnsignedByte()
    ((b << 8) | a).toShort
  }
  private def readIntLE(in: DataInputStream): Int = {
    val a = in.readUnsignedByte(); val b = in.readUnsignedByte()
    val c = in.readUnsignedByte(); val d = in.readUnsignedByte()
    (d << 24) | (c << 16) | (b << 8) | a
  }
  private def readLongLE(in: DataInputStream): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (in.readUnsignedByte().toLong << (8 * i)); i += 1 }
    v
  }
  private def writeShortLE(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def writeIntLE(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def writeLongLE(out: OutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Signed two's-complement little-endian of exactly `width` bytes. */
  private def readBigIntLE(in: DataInputStream, width: Int): java.math.BigInteger = {
    val b = new Array[Byte](width)
    in.readFully(b)
    // reverse to big-endian for BigInteger
    var i = 0
    while (i < width / 2) {
      val t = b(i); b(i) = b(width - 1 - i); b(width - 1 - i) = t; i += 1
    }
    new java.math.BigInteger(b)
  }

  private def writeBigIntLE(
      out: OutputStream, v: java.math.BigInteger, width: Int): Unit = {
    // bitLength excludes the sign bit, so the value fits `width` bytes of
    // two's-complement iff bitLength <= width*8 - 1; anything larger used
    // to have its high bytes silently dropped on the wire
    if (v.bitLength() >= width * 8)
      throw new IllegalArgumentException(
        s"unscaled value $v does not fit in $width-byte two's-complement")
    val src = v.toByteArray // big-endian, minimal length, sign-extended
    val sign: Byte = if (v.signum() < 0) -1 else 0
    var i = 0
    while (i < width) { // emit little-endian, sign-extend to width
      val be = src.length - 1 - i
      out.write(if (be >= 0) src(be) else sign)
      i += 1
    }
  }

  /** Unsigned wide-integer read: `width` little-endian bytes, no sign. */
  private def readUBigIntLE(in: DataInputStream, width: Int): java.math.BigInteger = {
    val b = new Array[Byte](width)
    in.readFully(b)
    var i = 0
    while (i < width / 2) {
      val t = b(i); b(i) = b(width - 1 - i); b(width - 1 - i) = t; i += 1
    }
    new java.math.BigInteger(1, b)
  }

  /** Unsigned wide-integer write: the low `width` bytes LE; negative or
    * over-width values fail loudly (never a silent wrap).
    */
  private def writeUBigIntLE(
      out: OutputStream, v: java.math.BigInteger, width: Int): Unit = {
    if (v.signum() < 0 || v.bitLength() > width * 8)
      throw new IllegalArgumentException(
        s"value $v out of range for a $width-byte unsigned integer")
    val src = v.toByteArray // big-endian; may carry one leading 0x00
    var i = 0
    while (i < width) {
      val be = src.length - 1 - i
      out.write(if (be >= 0) src(be) else 0)
      i += 1
    }
  }

  /** Wide wire integer → Decimal(38,0), or a LOUD out-of-range error:
    * Int128/256 and UInt128/256 ranges exceed 38 decimal digits, and a
    * silently saturated read would be a value lie.
    */
  private def wideDecimal(bi: java.math.BigInteger, chType: String): Decimal = {
    val bd = new java.math.BigDecimal(bi)
    if (bd.precision > 38)
      throw new IllegalArgumentException(
        s"$chType wire value $bi exceeds Decimal(38,0) — beyond the " +
          "38-digit exact range this connector can represent (the same " +
          "boundary writes enforce under ANSI overflow)")
    Decimal(bd, 38, 0)
  }

  /** RFC 5952 compressed text of 16 network-order IPv6 bytes; the
    * IPv4-mapped prefix renders in the server's mixed `::ffff:a.b.c.d`
    * form (Guava would return an Inet4Address for mapped bytes and
    * print bare dotted-quad, which is not what the server prints).
    */
  private def ipv6Text(b: Array[Byte]): String = {
    var i = 0
    var zeros = true
    while (i < 10 && zeros) { zeros = b(i) == 0; i += 1 }
    if (zeros && b(10) == -1 && b(11) == -1)
      s"::ffff:${b(12) & 255}.${b(13) & 255}.${b(14) & 255}.${b(15) & 255}"
    else com.google.common.net.InetAddresses.toAddrString(
      java.net.Inet6Address.getByAddress(null, b, -1))
  }

  /** Parse IP text without ever touching DNS (Guava forString). */
  private def parseIp(t: String, v: Any): java.net.InetAddress = {
    val s = v match {
      case s: String => s
      case u: UTF8String => u.toString
      case other => throw new IllegalArgumentException(
        s"$t column takes the textual form, got ${other.getClass.getName}")
    }
    try com.google.common.net.InetAddresses.forString(s)
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"invalid $t literal '$s'", e)
    }
  }

  // ---- type-string parsing (shared shapes with ClickHouseType) ----

  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inQuote = false
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote && c == '\\' && i + 1 < s.length) {
        // ClickHouse escapes quotes in type strings (Enum8('a\'b' = 1)):
        // the escaped char must not toggle the quote state
        cur.append(c).append(s.charAt(i + 1))
        i += 2
      } else {
        c match {
          case '\'' => inQuote = !inQuote; cur.append('\'')
          case '(' if !inQuote => depth += 1; cur.append('(')
          case ')' if !inQuote => depth -= 1; cur.append(')')
          case ',' if depth == 0 && !inQuote => out += cur.result(); cur.clear()
          case _ => cur.append(c)
        }
        i += 1
      }
    }
    if (cur.nonEmpty) out += cur.result()
    out.result().map(_.trim)
  }

  private def inner(t: String, prefix: String): String =
    t.substring(prefix.length + 1, t.length - 1)

  /** Enum8('a' = 1, 'b' = 2) → value → name. */
  private def enumMap(body: String): Map[Int, String] =
    splitTopLevel(body).map { item =>
      val eq = item.lastIndexOf('=')
      val name = item.substring(0, eq).trim.stripPrefix("'").stripSuffix("'")
        .replace("\\'", "'")
      item.substring(eq + 1).trim.toInt -> name
    }.toMap

  private def decWidth(precision: Int): Int =
    if (precision <= 9) 4 else if (precision <= 18) 8
    else if (precision <= 38) 16 else 32

  // ============================================================ decode ==

  /** Compiled single-column decoder. `read` returns a Catalyst value
    * (null for SQL NULL); `readInto` writes straight into a vector slot.
    */
  sealed abstract class Dec {
    def read(in: DataInputStream): Any
    def readInto(in: DataInputStream, v: WritableColumnVector, rowId: Int): Unit = {
      read(in) match {
        case null => v.putNull(rowId)
        case x => putValue(v, rowId, x)
      }
    }
    /** Fallback boxed put for composite decoders. */
    protected def putValue(v: WritableColumnVector, rowId: Int, x: Any): Unit =
      throw new UnsupportedOperationException(s"$this cannot write to vectors")
  }

  /** Compile a decoder for one server-declared ClickHouse type. */
  def decoder(chType: String): Dec = {
    val t = chType.trim
    t match {
      case _ if t.startsWith("Nullable(") =>
        val d = decoder(inner(t, "Nullable"))
        new Dec {
          override def read(in: DataInputStream): Any =
            if (in.readUnsignedByte() != 0) null else d.read(in)
          override def readInto(
              in: DataInputStream, v: WritableColumnVector, rowId: Int): Unit =
            if (in.readUnsignedByte() != 0) v.putNull(rowId) else d.readInto(in, v, rowId)
        }
      case _ if t.startsWith("LowCardinality(") => decoder(inner(t, "LowCardinality"))
      case _ if t.startsWith("List(") => decoder("Array(" + inner(t, "List") + ")")
      case "Int8" => new Dec {
        override def read(in: DataInputStream): Any = in.readByte()
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putByte(r, in.readByte())
      }
      case "UInt8" => new Dec { // → Short per the type mapping
        override def read(in: DataInputStream): Any = in.readUnsignedByte().toShort
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putShort(r, in.readUnsignedByte().toShort)
      }
      case "Bool" | "Boolean" => new Dec {
        override def read(in: DataInputStream): Any = in.readUnsignedByte() != 0
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putBoolean(r, in.readUnsignedByte() != 0)
      }
      case "Int16" => new Dec {
        override def read(in: DataInputStream): Any = readShortLE(in)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putShort(r, readShortLE(in))
      }
      case "UInt16" => new Dec { // → Int
        override def read(in: DataInputStream): Any = readShortLE(in) & 0xffff
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putInt(r, readShortLE(in) & 0xffff)
      }
      case "Int32" => new Dec {
        override def read(in: DataInputStream): Any = readIntLE(in)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putInt(r, readIntLE(in))
      }
      case "UInt32" => new Dec { // → Long
        override def read(in: DataInputStream): Any = readIntLE(in).toLong & 0xffffffffL
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putLong(r, readIntLE(in).toLong & 0xffffffffL)
      }
      case "Int64" => new Dec {
        override def read(in: DataInputStream): Any = readLongLE(in)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putLong(r, readLongLE(in))
      }
      case "UInt64" => new Dec { // → Decimal(20,0)
        override def read(in: DataInputStream): Any = {
          val raw = readLongLE(in)
          val bi = if (raw >= 0) java.math.BigInteger.valueOf(raw)
            else java.math.BigInteger.valueOf(raw).add(TwoPow64)
          Decimal(new java.math.BigDecimal(bi), 20, 0)
        }
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putDecimal(r, read(in).asInstanceOf[Decimal], 20)
      }
      case "Float32" => new Dec {
        override def read(in: DataInputStream): Any =
          java.lang.Float.intBitsToFloat(readIntLE(in))
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putFloat(r, java.lang.Float.intBitsToFloat(readIntLE(in)))
      }
      case "Float64" => new Dec {
        override def read(in: DataInputStream): Any =
          java.lang.Double.longBitsToDouble(readLongLE(in))
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putDouble(r, java.lang.Double.longBitsToDouble(readLongLE(in)))
      }
      case "String" | "Utf8" | "LargeUtf8" | "Utf8View" => new Dec {
        override def read(in: DataInputStream): Any = {
          val n = readVarInt(in)
          val b = new Array[Byte](n)
          in.readFully(b)
          UTF8String.fromBytes(b)
        }
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit = {
          val n = readVarInt(in)
          val b = new Array[Byte](n)
          in.readFully(b)
          v.putByteArray(r, b, 0, n)
        }
      }
      case _ if t.startsWith("FixedString(") => new Dec {
        private val n = inner(t, "FixedString").trim.toInt
        override def read(in: DataInputStream): Any = {
          val b = new Array[Byte](n)
          in.readFully(b)
          UTF8String.fromBytes(b)
        }
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit = {
          val b = new Array[Byte](n)
          in.readFully(b)
          v.putByteArray(r, b, 0, n)
        }
      }
      case "Date" => new Dec { // UInt16 epoch days
        override def read(in: DataInputStream): Any = readShortLE(in) & 0xffff
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putInt(r, readShortLE(in) & 0xffff)
      }
      case "Date32" => new Dec { // Int32 epoch days
        override def read(in: DataInputStream): Any = readIntLE(in)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putInt(r, readIntLE(in))
      }
      case _ if t == "DateTime64" || t.startsWith("DateTime64(") => new Dec { // Int64 ticks at 10^-p → micros
        private val args = if (t.contains("(")) splitTopLevel(inner(t, "DateTime64")) else Nil
        private val p = args.headOption.map(_.trim.toInt).getOrElse(3)
        private val toMicros = // 10^(6-p) multiplier (or divisor when p > 6)
          if (p <= 6) Some(math.pow(10, 6 - p).toLong) else None
        private val divisor = if (p > 6) math.pow(10, p - 6).toLong else 1L
        private def micros(ticks: Long): Long = toMicros match {
          case Some(m) => ticks * m
          case None => Math.floorDiv(ticks, divisor)
        }
        override def read(in: DataInputStream): Any = micros(readLongLE(in))
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putLong(r, micros(readLongLE(in)))
      }
      // exact-or-parenthesized match: a loose prefix would also swallow
      // identifiers like "DateTime_end" in named-tuple detection
      case _ if t == "DateTime" || t.startsWith("DateTime(") => new Dec { // UInt32 epoch seconds → micros
        override def read(in: DataInputStream): Any =
          (readIntLE(in).toLong & 0xffffffffL) * 1000000L
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putLong(r, (readIntLE(in).toLong & 0xffffffffL) * 1000000L)
      }
      case _ if t.startsWith("Decimal(") => new Dec {
        private val Seq(ps, ss) = splitTopLevel(inner(t, "Decimal"))
        private val (p, s) = (ps.trim.toInt, ss.trim.toInt)
        private val width = decWidth(p)
        override def read(in: DataInputStream): Any = {
          val unscaled = readBigIntLE(in, width)
          Decimal(new java.math.BigDecimal(unscaled, s), p, s)
        }
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putDecimal(r, read(in).asInstanceOf[Decimal], p)
      }
      case _ if t.startsWith("Enum8(") => new Dec {
        private val m = enumMap(inner(t, "Enum8"))
        override def read(in: DataInputStream): Any = {
          val v = in.readByte().toInt
          UTF8String.fromString(m.getOrElse(v,
            throw new IllegalArgumentException(s"unknown Enum8 value $v for $t")))
        }
        override protected def putValue(
            v: WritableColumnVector, rowId: Int, x: Any): Unit = {
          val b = x.asInstanceOf[UTF8String].getBytes
          v.putByteArray(rowId, b, 0, b.length)
        }
      }
      case _ if t.startsWith("Enum16(") => new Dec {
        private val m = enumMap(inner(t, "Enum16"))
        override def read(in: DataInputStream): Any = {
          val v = readShortLE(in).toInt
          UTF8String.fromString(m.getOrElse(v,
            throw new IllegalArgumentException(s"unknown Enum16 value $v for $t")))
        }
        override protected def putValue(
            v: WritableColumnVector, rowId: Int, x: Any): Unit = {
          val b = x.asInstanceOf[UTF8String].getBytes
          v.putByteArray(rowId, b, 0, b.length)
        }
      }
      case "UUID" => new Dec { // two UInt64 halves (hi, lo), each LE
        override def read(in: DataInputStream): Any = {
          val hi = readLongLE(in)
          val lo = readLongLE(in)
          UTF8String.fromString(new java.util.UUID(hi, lo).toString)
        }
        override protected def putValue(
            v: WritableColumnVector, rowId: Int, x: Any): Unit = {
          val b = x.asInstanceOf[UTF8String].getBytes
          v.putByteArray(rowId, b, 0, b.length)
        }
      }
      // wide integers → Decimal(38,0) (the type mapping's widest exact
      // type). Int128/UInt128 values can exceed 38 digits (|max| ≈
      // 1.7e38 / 3.4e38) — out-of-Decimal-range wire values fail LOUDLY,
      // mirroring the write-side ANSI overflow law (ADVICE r14: these
      // types parsed at loadTable but had no wire codec — scans died
      // with a generic unsupported-type error at stream time)
      case "Int128" => new Dec {
        override def read(in: DataInputStream): Any =
          wideDecimal(readBigIntLE(in, 16), t)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putDecimal(r, read(in).asInstanceOf[Decimal], 38)
      }
      case "Int256" => new Dec {
        override def read(in: DataInputStream): Any =
          wideDecimal(readBigIntLE(in, 32), t)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putDecimal(r, read(in).asInstanceOf[Decimal], 38)
      }
      case "UInt128" => new Dec {
        override def read(in: DataInputStream): Any =
          wideDecimal(readUBigIntLE(in, 16), t)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putDecimal(r, read(in).asInstanceOf[Decimal], 38)
      }
      case "UInt256" => new Dec {
        override def read(in: DataInputStream): Any =
          wideDecimal(readUBigIntLE(in, 32), t)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit =
          v.putDecimal(r, read(in).asInstanceOf[Decimal], 38)
      }
      // IPv4 = UInt32 of the address (dotted text is the big-endian
      // bytes); IPv6 = 16 network-order bytes, rendered in the RFC 5952
      // compressed form the server prints (Guava toAddrString — Java's
      // own getHostAddress never compresses zero runs)
      case "IPv4" => new Dec {
        private def text(in: DataInputStream): UTF8String = {
          val u = readIntLE(in).toLong & 0xffffffffL
          UTF8String.fromString(
            s"${u >>> 24}.${(u >>> 16) & 255}.${(u >>> 8) & 255}.${u & 255}")
        }
        override def read(in: DataInputStream): Any = text(in)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit = {
          val b = text(in).getBytes
          v.putByteArray(r, b, 0, b.length)
        }
      }
      case "IPv6" => new Dec {
        private def text(in: DataInputStream): UTF8String = {
          val b = new Array[Byte](16)
          in.readFully(b)
          UTF8String.fromString(ipv6Text(b))
        }
        override def read(in: DataInputStream): Any = text(in)
        override def readInto(in: DataInputStream, v: WritableColumnVector, r: Int): Unit = {
          val b = text(in).getBytes
          v.putByteArray(r, b, 0, b.length)
        }
      }
      case _ if t.startsWith("Array(") => new Dec {
        private val elem = decoder(inner(t, "Array"))
        override def read(in: DataInputStream): Any = {
          val n = readVarInt(in)
          val vals = new Array[Any](n)
          var i = 0
          while (i < n) { vals(i) = elem.read(in); i += 1 }
          new GenericArrayData(vals)
        }
        // composite: iterator-level code appends into the child vector
      }
      case _ if t.startsWith("Map(") => new Dec {
        private val Seq(kt, vt) = splitTopLevel(inner(t, "Map"))
        private val (kd, vd) = (decoder(kt), decoder(vt))
        override def read(in: DataInputStream): Any = {
          val n = readVarInt(in)
          val keys = new Array[Any](n)
          val vals = new Array[Any](n)
          var i = 0
          while (i < n) { keys(i) = kd.read(in); vals(i) = vd.read(in); i += 1 }
          ArrayBasedMapData(keys, vals)
        }
      }
      case _ if t.startsWith("Tuple(") => new Dec {
        private val els = splitTopLevel(inner(t, "Tuple")).map(f => decoder(tupleElemType(f)))
        override def read(in: DataInputStream): Any = {
          val row = new GenericInternalRow(els.length)
          var i = 0
          while (i < els.length) { row.update(i, els(i).read(in)); i += 1 }
          row
        }
      }
      case other =>
        throw new IllegalArgumentException(s"RowBinary: unsupported type '$other'")
    }
  }

  private val TwoPow64 = java.math.BigInteger.ONE.shiftLeft(64)

  /** Type string of one tuple element, which may be named ("amount
    * UInt32" — and legally "Amount UInt32": names can start uppercase,
    * so a first-letter heuristic misparses). Named iff the remainder
    * after the first space compiles as a type and the WHOLE string does
    * not ("Map(String, Int64)" contains a space but is one type).
    */
  private def tupleElemType(f: String): String = {
    val t = f.trim
    val sp = t.split(" ", 2)
    if (sp.length != 2) t
    else if (compiles(t)) t
    else if (compiles(sp(1))) sp(1)
    else t
  }

  private def compiles(t: String): Boolean =
    try { decoder(t); true } catch { case _: IllegalArgumentException => false }

  /** FilterInputStream counting consumed bytes — lets readers tell a
    * CLEAN end-of-stream (EOF before any byte of the next row) from a
    * TRUNCATED stream (EOF mid-row), which must fail loudly instead of
    * returning a silently partial result.
    */
  final class CountingInputStream(in0: java.io.InputStream)
    extends java.io.FilterInputStream(in0) {
    private var n = 0L
    def count: Long = n
    override def read(): Int = {
      val b = super.read()
      if (b >= 0) n += 1
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = super.read(b, off, len)
      if (r > 0) n += r
      r
    }
  }

  /** Row-stream decode: one InternalRow per wire row. `counter` (when
    * provided, wrapping the same stream) upgrades mid-row EOF from
    * "silent partial result" to an explicit transport error.
    */
  final class RowReader(
      in: DataInputStream, decs: Array[Dec],
      counter: CountingInputStream = null) {
    /** Reads one row, or null at a clean end-of-stream. */
    def readRow(): GenericInternalRow = {
      val before = if (counter != null) counter.count else 0L
      val first =
        try decs(0).read(in)
        catch {
          case e: EOFException =>
            if (counter != null && counter.count != before) throw truncated(e)
            return null
        }
      val row = new GenericInternalRow(decs.length)
      row.update(0, first)
      var i = 1
      while (i < decs.length) {
        try row.update(i, decs(i).read(in))
        catch { case e: EOFException => throw truncated(e) }
        i += 1
      }
      row
    }
  }

  /** Transport-level truncation: the response ended before the declared
    * (or mid-row expected) bytes. An IOException ON PURPOSE — replica
    * failover classifies it as transport death, so at-OPEN truncation
    * fails over and a resumable range read re-plans mid-stream; on a
    * single transport nothing catches it and the read stays loud.
    */
  final class TruncatedStreamException(msg: String, cause: Throwable)
    extends java.io.IOException(msg, cause) {
    def this(msg: String) = this(msg, null)
  }

  private[client] def truncated(e: EOFException): java.io.IOException =
    new TruncatedStreamException(
      "RowBinary stream truncated mid-row (connection dropped or " +
        "response incomplete) — partial results discarded", e)

  // ============================================================ encode ==

  /** Compiled single-column encoder: external Row value → wire bytes for
    * the declared TARGET ClickHouse column type (inserts must match the
    * table's exact widths, so callers compile encoders from
    * fetchColumns). Accepts the JVM value families Spark's external rows
    * carry for each Spark type.
    */
  trait Enc { def write(out: DataOutputStream, v: Any): Unit }

  def encoder(chType: String): Enc = {
    val t = chType.trim
    t match {
      case _ if t.startsWith("Nullable(") =>
        val e = encoder(inner(t, "Nullable"))
        (out: DataOutputStream, v: Any) =>
          if (v == null) out.write(1) else { out.write(0); e.write(out, v) }
      case _ if t.startsWith("LowCardinality(") => encoder(inner(t, "LowCardinality"))
      case _ if t.startsWith("List(") => encoder("Array(" + inner(t, "List") + ")")
      case "Int8" => (out: DataOutputStream, v: Any) =>
        out.write(inRange(t, asLong(t, v), Byte.MinValue, Byte.MaxValue).toInt & 0xff)
      case "UInt8" => (out: DataOutputStream, v: Any) =>
        out.write(inRange(t, asLong(t, v), 0L, 255L).toInt)
      case "Bool" | "Boolean" => (out: DataOutputStream, v: Any) =>
        out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
      case "Int16" => (out: DataOutputStream, v: Any) =>
        writeShortLE(out, inRange(t, asLong(t, v), Short.MinValue, Short.MaxValue).toInt)
      case "UInt16" => (out: DataOutputStream, v: Any) =>
        writeShortLE(out, inRange(t, asLong(t, v), 0L, 65535L).toInt)
      case "Int32" => (out: DataOutputStream, v: Any) =>
        writeIntLE(out, inRange(t, asLong(t, v), Int.MinValue, Int.MaxValue).toInt)
      case "UInt32" => (out: DataOutputStream, v: Any) =>
        writeIntLE(out, inRange(t, asLong(t, v), 0L, 0xffffffffL).toInt)
      case "Int64" => (out: DataOutputStream, v: Any) => writeLongLE(out, asLong(t, v))
      case "UInt64" => (out: DataOutputStream, v: Any) => {
        val bi = v match {
          case d: java.math.BigDecimal => d.toBigIntegerExact
          case d: BigDecimal => d.underlying.toBigIntegerExact
          case d: Decimal => d.toJavaBigDecimal.toBigIntegerExact
          case other => java.math.BigInteger.valueOf(asLong(t, other))
        }
        if (bi.signum() < 0 || bi.bitLength() > 64)
          throw new IllegalArgumentException(
            s"value $bi out of range for ClickHouse UInt64 [0, 2^64)")
        writeLongLE(out, bi.longValue) // low 64 bits == value, range-checked
      }
      case "Int128" | "Int256" | "UInt128" | "UInt256" =>
        val width = if (t.endsWith("128")) 16 else 32
        val signed = t.startsWith("Int")
        (out: DataOutputStream, v: Any) => {
          val bi = v match {
            case d: java.math.BigDecimal => d.toBigIntegerExact
            case d: BigDecimal => d.underlying.toBigIntegerExact
            case d: Decimal => d.toJavaBigDecimal.toBigIntegerExact
            case n: Number => java.math.BigInteger.valueOf(asLong(t, n))
          }
          if (signed) writeBigIntLE(out, bi, width)
          else writeUBigIntLE(out, bi, width)
        }
      case "IPv4" => (out: DataOutputStream, v: Any) => {
        val a = parseIp(t, v)
        val b = a.getAddress
        if (b.length != 4) throw new IllegalArgumentException(
          s"IPv4 column cannot hold '${v}' (not a dotted-quad address)")
        writeIntLE(out, ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
          ((b(2) & 0xff) << 8) | (b(3) & 0xff))
      }
      case "IPv6" => (out: DataOutputStream, v: Any) => {
        val b = parseIp(t, v).getAddress
        if (b.length == 16) out.write(b)
        else { // dotted-quad text → the server's IPv4-mapped form
          var i = 0
          while (i < 10) { out.write(0); i += 1 }
          out.write(0xff); out.write(0xff)
          out.write(b)
        }
      }
      case "Float32" => (out: DataOutputStream, v: Any) =>
        writeIntLE(out, java.lang.Float.floatToRawIntBits(v match {
          case f: Float => f
          case d: Double => d.toFloat
          case n: Number => n.floatValue
        }))
      case "Float64" => (out: DataOutputStream, v: Any) =>
        writeLongLE(out, java.lang.Double.doubleToRawLongBits(v match {
          case d: Double => d
          case f: Float => f.toDouble
          case n: Number => n.doubleValue
        }))
      case "String" | "Utf8" | "LargeUtf8" | "Utf8View" =>
        (out: DataOutputStream, v: Any) => {
          val b = v match {
            case s: String => s.getBytes(UTF_8)
            case u: UTF8String => u.getBytes
            case a: Array[Byte] => a
          }
          writeVarInt(out, b.length)
          out.write(b)
        }
      case _ if t.startsWith("FixedString(") =>
        val n = inner(t, "FixedString").trim.toInt
        (out: DataOutputStream, v: Any) => {
          val b = v match {
            case s: String => s.getBytes(UTF_8)
            case u: UTF8String => u.getBytes
            case a: Array[Byte] => a
          }
          require(b.length <= n, s"value longer than $t: ${b.length}")
          out.write(b)
          var i = b.length
          while (i < n) { out.write(0); i += 1 }
        }
      case "Date" => (out: DataOutputStream, v: Any) => // UInt16 epoch days
        writeShortLE(out, inRange(t, asDays(v), 0L, 65535L).toInt)
      case "Date32" => (out: DataOutputStream, v: Any) => writeIntLE(out, asDays(v))
      case _ if t == "DateTime64" || t.startsWith("DateTime64(") =>
        val args = if (t.contains("(")) splitTopLevel(inner(t, "DateTime64")) else Nil
        val p = args.headOption.map(_.trim.toInt).getOrElse(3)
        (out: DataOutputStream, v: Any) => {
          val us = asMicros(v)
          // floorDiv, matching the decoder: plain division truncates
          // toward zero and shifts pre-epoch sub-tick values by one tick
          val ticks =
            if (p <= 6) Math.floorDiv(us, math.pow(10, 6 - p).toLong)
            else Math.multiplyExact(us, math.pow(10, p - 6).toLong)
          writeLongLE(out, ticks)
        }
      case _ if t == "DateTime" || t.startsWith("DateTime(") => (out: DataOutputStream, v: Any) =>
        // UInt32 epoch seconds: timestamps outside 1970-2106 used to wrap
        writeIntLE(out,
          inRange(t, Math.floorDiv(asMicros(v), 1000000L), 0L, 0xffffffffL).toInt)
      case _ if t.startsWith("Decimal(") =>
        val Seq(ps, ss) = splitTopLevel(inner(t, "Decimal"))
        val (p, s) = (ps.trim.toInt, ss.trim.toInt)
        val width = decWidth(p)
        (out: DataOutputStream, v: Any) => {
          val bd = v match {
            case d: java.math.BigDecimal => d
            case d: BigDecimal => d.underlying
            case d: Decimal => d.toJavaBigDecimal
            case n: Number => new java.math.BigDecimal(n.toString)
          }
          writeBigIntLE(out, bd.setScale(s).unscaledValue, width)
        }
      case "UUID" => (out: DataOutputStream, v: Any) => {
        val u = java.util.UUID.fromString(v match {
          case s: String => s
          case u8: UTF8String => u8.toString
        })
        writeLongLE(out, u.getMostSignificantBits)
        writeLongLE(out, u.getLeastSignificantBits)
      }
      case _ if t.startsWith("Enum8(") =>
        val m = enumMap(inner(t, "Enum8"))
        (out: DataOutputStream, v: Any) =>
          out.write(enumDiscriminant(t, v, m) & 0xff)
      case _ if t.startsWith("Enum16(") =>
        val m = enumMap(inner(t, "Enum16"))
        (out: DataOutputStream, v: Any) =>
          writeShortLE(out, enumDiscriminant(t, v, m))
      case _ if t.startsWith("Array(") =>
        val elem = encoder(inner(t, "Array"))
        (out: DataOutputStream, v: Any) => {
          val seq = v match {
            case s: scala.collection.Seq[_] => s
            case a: Array[_] => a.toSeq
            case l: java.util.List[_] =>
              scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
          }
          writeVarInt(out, seq.length)
          seq.foreach(e => elem.write(out, e))
        }
      case _ if t.startsWith("Map(") =>
        val Seq(kt, vt) = splitTopLevel(inner(t, "Map"))
        val (ke, ve) = (encoder(kt), encoder(vt))
        (out: DataOutputStream, v: Any) => {
          val m = v match {
            case m: scala.collection.Map[_, _] => m.toSeq
            case m: java.util.Map[_, _] =>
              scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toSeq
          }
          writeVarInt(out, m.length)
          m.foreach { case (k, x) => ke.write(out, k); ve.write(out, x) }
        }
      case _ if t.startsWith("Tuple(") =>
        val els = splitTopLevel(inner(t, "Tuple")).map(f => encoder(tupleElemType(f)))
        (out: DataOutputStream, v: Any) => {
          val vals: Seq[Any] = v match {
            case r: org.apache.spark.sql.Row => r.toSeq
            case s2: scala.collection.Seq[_] => s2.toSeq
            case p: Product => p.productIterator.toSeq
          }
          require(vals.length == els.length,
            s"tuple arity ${vals.length} != ${els.length} for $t")
          var i = 0
          while (i < els.length) { els(i).write(out, vals(i)); i += 1 }
        }
      case other =>
        throw new IllegalArgumentException(s"RowBinary: unsupported insert type '$other'")
    }
  }

  /** Enum insert value → wire discriminant: the enum NAME (what a read of
    * the same column returns, Enum → StringType in the type mapping) or a
    * numeric discriminant already present in the declaration. Unknown
    * names/values are rejected — honored-or-rejected, same as [[inRange]].
    */
  private def enumDiscriminant(t: String, v: Any, m: Map[Int, String]): Int = {
    def byName(s: String): Int =
      m.collectFirst { case (d, n) if n == s => d }.getOrElse(
        throw new IllegalArgumentException(s"unknown enum name '$s' for $t"))
    v match {
      case s: String => byName(s)
      case u: UTF8String => byName(u.toString)
      case n: Number =>
        // bound-check the full exact long BEFORE narrowing: a Long whose
        // low 32 bits happen to equal a declared discriminant must
        // reject, not encode the wrong member (honored-or-rejected)
        val (lo, hi) = if (t.startsWith("Enum8")) (-128L, 127L) else (-32768L, 32767L)
        val l = asLong(t, n)
        if (l < lo || l > hi || !m.contains(l.toInt))
          throw new IllegalArgumentException(s"unknown enum discriminant $l for $t")
        l.toInt
      case other => throw new IllegalArgumentException(
        s"cannot encode ${other.getClass.getName} as $t")
    }
  }

  /** Honored-or-rejected: a value outside the target column's range must
    * fail the insert, not land as valid-looking corrupted wire bytes.
    */
  private def inRange(t: String, v: Long, lo: Long, hi: Long): Long = {
    if (v < lo || v > hi)
      throw new IllegalArgumentException(
        s"value $v out of range for ClickHouse $t [$lo, $hi]")
    v
  }

  private def asLong(t: String, v: Any): Long = v match {
    case x: Byte => x.toLong
    case x: Short => x.toLong
    case x: Int => x.toLong
    case x: Long => x
    case x: java.math.BigDecimal => x.longValueExact
    case x: BigDecimal => x.underlying.longValueExact
    case other => throw new IllegalArgumentException(
      s"cannot encode ${other.getClass.getName} as $t")
  }

  private def asDays(v: Any): Int = v match {
    case d: java.time.LocalDate => Math.toIntExact(d.toEpochDay)
    case d: java.sql.Date => Math.toIntExact(d.toLocalDate.toEpochDay)
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"cannot encode ${other.getClass.getName} as Date")
  }

  private def asMicros(v: Any): Long = v match {
    case i: java.time.Instant =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
    case ts: java.sql.Timestamp =>
      Math.addExact(Math.multiplyExact(
        ts.toInstant.getEpochSecond, 1000000L), ts.toInstant.getNano / 1000L)
    case ldt: java.time.LocalDateTime => // TIMESTAMP_NTZ external value
      Math.addExact(Math.multiplyExact(
        ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), ldt.getNano / 1000L)
    case l: Long => l
    case other => throw new IllegalArgumentException(
      s"cannot encode ${other.getClass.getName} as DateTime")
  }

  /** Catalyst DateType/TimestampType decode note: [[decoder]] returns
    * epoch days / epoch micros (ints/longs) — already the Catalyst
    * internal representation, so decoded rows feed InternalRow directly.
    */

  // ===================================================== vector decode ==

  /** Column decoder for the columnar scan path: wire bytes straight into a
    * [[WritableColumnVector]], no row materialization. Covers the same
    * shapes as ColumnarPack.supports (atomics + arrays of atomics); the
    * caller falls back to the row path for anything else. Array decoders
    * keep a running child-vector offset, so call [[reset]] whenever the
    * parent vector is reset for a new batch.
    */
  abstract class VecDec {
    def readInto(in: DataInputStream, vec: WritableColumnVector, rowId: Int): Unit
    def reset(): Unit = ()
  }

  /** Compile a vector decoder, or None when this type needs the row path. */
  def vectorDecoder(chType: String): Option[VecDec] = {
    val t0 = chType.trim
    val t = if (t0.startsWith("List(")) "Array(" + inner(t0, "List") + ")" else t0
    if (t.startsWith("Array(")) {
      // FULLY RECURSIVE since round 14: Array(Tuple(...)), Map(_,
      // Array(...)) etc. decode natively into nested vectors — each
      // array-shaped decoder tracks its own running child offset
      // (mirroring ColumnarPack's per-vector offsets); reset() fans out
      vectorDecoder(inner(t, "Array")).map { elem =>
        new VecDec {
          private var off = 0
          override def reset(): Unit = { off = 0; elem.reset() }
          override def readInto(
              in: DataInputStream, vec: WritableColumnVector, rowId: Int): Unit = {
            val n = readVarInt(in)
            val child = vec.arrayData()
            child.reserve(off + n)
            var j = 0
            while (j < n) { elem.readInto(in, child, off + j); j += 1 }
            vec.putArray(rowId, off, n)
            off += n
          }
        }
      }
    } else if (t.startsWith("Map(")) {
      // maps use the array offsets mechanism: child 0 = keys, child 1 =
      // values, interleaved on the wire
      val Seq(kt, vt) = splitTopLevel(inner(t, "Map"))
      for (kd <- vectorDecoder(kt); vd <- vectorDecoder(vt)) yield
        new VecDec {
          private var off = 0
          override def reset(): Unit = { off = 0; kd.reset(); vd.reset() }
          override def readInto(
              in: DataInputStream, vec: WritableColumnVector, rowId: Int): Unit = {
            val n = readVarInt(in)
            val keys = vec.getChild(0)
            val vals = vec.getChild(1)
            keys.reserve(off + n)
            vals.reserve(off + n)
            var j = 0
            while (j < n) {
              kd.readInto(in, keys, off + j)
              vd.readInto(in, vals, off + j)
              j += 1
            }
            vec.putArray(rowId, off, n)
            off += n
          }
        }
    } else if (t.startsWith("Tuple(")) {
      // tuple -> struct: children index by the parent's slot. A tuple
      // nested under an array indexes by that array's element offset,
      // whose capacity only the array parent reserves — so each field
      // child reserves its own slot before the write.
      val parts = splitTopLevel(inner(t, "Tuple")).map(tupleElemType)
      val els = parts.map(vectorDecoder)
      if (els.exists(_.isEmpty)) None
      else {
        val ds = els.map(_.get).toArray
        Some(new VecDec {
          override def reset(): Unit = ds.foreach(_.reset())
          override def readInto(
              in: DataInputStream, vec: WritableColumnVector, rowId: Int): Unit = {
            var j = 0
            while (j < ds.length) {
              val ch = vec.getChild(j)
              ch.reserve(rowId + 1)
              ds(j).readInto(in, ch, rowId)
              j += 1
            }
          }
        })
      }
    } else {
      // atomics (incl. Nullable/LowCardinality wrappers — the row
      // decoder handles the null flag and writes putNull itself).
      // Nullable COMPOSITES stay on the row path (the server cannot
      // produce them; rejecting keeps the fallback honest).
      if (!vectorAtomic(stripMods(t))) None
      else {
        val d = decoder(t)
        Some(new VecDec {
          override def readInto(
              in: DataInputStream, vec: WritableColumnVector, rowId: Int): Unit =
            d.readInto(in, vec, rowId)
        })
      }
    }
  }

  /** Strip Nullable/LowCardinality wrappers (in either nesting order). */
  private def stripMods(t0: String): String = {
    var t = t0.trim
    var changed = true
    while (changed) {
      changed = false
      if (t.startsWith("Nullable(")) { t = inner(t, "Nullable").trim; changed = true }
      if (t.startsWith("LowCardinality(")) { t = inner(t, "LowCardinality").trim; changed = true }
    }
    t
  }

  /** Types whose [[Dec.readInto]] writes vectors directly (everything
    * scalar; Array/Map/Tuple go through the composite handling above).
    */
  private def vectorAtomic(bare0: String): Boolean = {
    val bare = bare0.trim
    bare match {
      case "Int8" | "UInt8" | "Bool" | "Boolean" | "Int16" | "UInt16" | "Int32" |
           "UInt32" | "Int64" | "UInt64" | "Float32" | "Float64" | "String" |
           "Utf8" | "LargeUtf8" | "Utf8View" | "Date" | "Date32" | "UUID" |
           "Int128" | "Int256" | "UInt128" | "UInt256" | "IPv4" | "IPv6" => true
      case "DateTime" | "DateTime64" => true
      case _ => bare.startsWith("FixedString(") || bare.startsWith("DateTime(") ||
        bare.startsWith("DateTime64(") || bare.startsWith("Decimal(") ||
        bare.startsWith("Enum8(") || bare.startsWith("Enum16(")
    }
  }
}
