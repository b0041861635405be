package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One candump text line → its parsed frame, as an `array<struct<ts_us,
  * iface, can_id, data>>` of one element, or empty for a malformed or null
  * line (reference P1/F2, `candump_parse.h:38-101`). The array lets
  * `inline` parse and drop (F2) in one evaluation per line: a
  * struct-or-null result would need a filter, which Catalyst pushes below
  * the projection, and every line would be scanned twice.
  *
  * [[CandumpLine.scan]] is a single regex-free pass over the line's UTF-8
  * bytes that accepts exactly the lines [[graft.can.CandumpParser.LineRe]]
  * accepts (the regex stays as the specification and the test oracle) and
  * extracts the same fields its groups yield:
  *
  *   - `\s` is ASCII whitespace (space, `\t`, `\n`, `\v`, `\f`, `\r`);
  *     runs of it are allowed wherever the regex has `\s+`/`\s*`;
  *   - `(` 1–11 second digits, optional `.`, 0–9 fraction digits `)`.
  *     Without a dot the regex splits one run of up to 20 digits into 11
  *     second digits and the rest as fraction, and so does the scanner;
  *   - the interface is one whitespace-free token;
  *   - a 1–8 hex-digit id, `#`, an optional `R`, then any run of hex
  *     digits, of which whole bytes are kept up to 8 (an odd trailing
  *     nibble is dropped);
  *   - trailing whitespace, then the end of the line — or one final
  *     U+0085, U+2028 or U+2029, before which `java.util.regex`'s `$`
  *     also matches.
  *
  * `ts_us` is `sec · 10⁶ + (first 6 fraction digits, zero-padded)`, exact
  * in a long for 11 second digits.
  */
case class CandumpLine(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(CandumpLine.FrameType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "candump_line"

  override def eval(input: InternalRow): Any =
    CandumpLine.rows(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${classOf[CandumpLine].getName}.rows(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CandumpLine =
    copy(child = newChild)
}

object CandumpLine {

  /** Field types of the parsed frame, nullable like the regex-built
    * columns they replace, so downstream plans and written schemas are
    * unchanged.
    */
  val FrameType: StructType = StructType(Seq(
    StructField("ts_us", LongType),
    StructField("iface", StringType),
    StructField("can_id", LongType),
    StructField("data", BinaryType)))

  def apply(line: Column): Column = Shims.column(CandumpLine(Shims.expression(line)))

  private val NoFrames: ArrayData = new GenericArrayData(Array.empty[Any])

  /** The expression's value: one parsed frame, or none. */
  def rows(line: UTF8String): ArrayData = {
    val r = if (line == null) null else scan(line)
    if (r == null) NoFrames else new GenericArrayData(Array[Any](r))
  }

  private def isSpace(b: Int): Boolean = b == ' ' || (b >= 0x09 && b <= 0x0D)
  private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  private def hexValue(b: Int): Int =
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else -1

  /** Parses one line into `(ts_us, iface, can_id, data)`; null when
    * [[graft.can.CandumpParser.LineRe]] would not match it.
    */
  def scan(line: UTF8String): InternalRow = {
    val base = line.getBaseObject
    val off = line.getBaseOffset
    val n = line.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xFF
    def digits(from: Int, len: Int): Long = {
      var v = 0L
      var k = 0
      while (k < len) { v = v * 10 + (at(from + k) - '0'); k += 1 }
      v
    }
    def skipSpace(from: Int): Int = {
      var i = from
      while (i < n && isSpace(at(i))) i += 1
      i
    }

    var i = skipSpace(0)
    if (i >= n || at(i) != '(') return null
    i += 1
    val secFrom = i
    while (i < n && isDigit(at(i))) i += 1
    val run = i - secFrom
    var secLen = 0
    var fracFrom = 0
    var fracLen = 0
    if (i < n && at(i) == '.') {
      if (run < 1 || run > 11) return null
      i += 1
      fracFrom = i
      while (i < n && isDigit(at(i))) i += 1
      fracLen = i - fracFrom
      if (fracLen > 9) return null
      secLen = run
    } else {
      if (run < 1 || run > 20) return null
      secLen = math.min(run, 11)
      fracFrom = secFrom + secLen
      fracLen = run - secLen
    }
    if (i >= n || at(i) != ')') return null
    var micros = 0L
    var k = 0
    while (k < 6) {
      micros = micros * 10 + (if (k < fracLen) at(fracFrom + k) - '0' else 0)
      k += 1
    }
    val tsUs = digits(secFrom, secLen) * 1000000L + micros

    i += 1
    var j = skipSpace(i)
    if (j == i || j >= n) return null
    val ifaceFrom = j
    var ascii = true
    while (j < n && !isSpace(at(j))) { if (at(j) >= 0x80) ascii = false; j += 1 }
    val ifaceLen = j - ifaceFrom
    i = skipSpace(j)
    if (i == j) return null

    val idFrom = i
    var id = 0L
    while (i < n && i - idFrom < 9 && hexValue(at(i)) >= 0) { id = (id << 4) | hexValue(at(i)); i += 1 }
    if (i == idFrom || i - idFrom > 8 || i >= n || at(i) != '#') return null
    i += 1
    if (i < n && at(i) == 'R') i += 1
    val dataFrom = i
    while (i < n && hexValue(at(i)) >= 0) i += 1
    val dataLen = i - dataFrom
    i = skipSpace(i)
    val rest = n - i
    val atEnd = rest == 0 ||
      (rest == 2 && at(i) == 0xC2 && at(i + 1) == 0x85) ||
      (rest == 3 && at(i) == 0xE2 && at(i + 1) == 0x80 &&
        (at(i + 2) == 0xA8 || at(i + 2) == 0xA9))
    if (!atEnd) return null

    val data = new Array[Byte](math.min(8, dataLen / 2))
    k = 0
    while (k < data.length) {
      data(k) = ((hexValue(at(dataFrom + 2 * k)) << 4) | hexValue(at(dataFrom + 2 * k + 1))).toByte
      k += 1
    }
    // the regex reads the decoded string: a non-ASCII interface goes
    // through the same decode (malformed UTF-8 → U+FFFD) to match it
    val ifaceBytes = UTF8String.fromAddress(base, off + ifaceFrom, ifaceLen)
    val iface = if (ascii) ifaceBytes.copy() else UTF8String.fromString(ifaceBytes.toString)
    new GenericInternalRow(Array[Any](tsUs, iface, id, data))
  }
}
