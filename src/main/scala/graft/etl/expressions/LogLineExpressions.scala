package graft.etl.expressions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one "JSON value → text" rule of the map-shaped parses
  * ([[JsonToStringMap]], [[ParseLogLine]]): a string value decodes, a
  * scalar keeps its raw literal text, an object or array becomes its
  * compact JSON text (numbers inside re-rendered by Jackson's
  * generator), and JSON null is null. */
object JsonText {
  val factory = new JsonFactory()

  /** The text of the value at `tok`, the parser's current token;
    * consumes a nested value to its end. Throws on a token that is not
    * a value. */
  def value(p: JsonParser, tok: JsonToken): String = tok match {
    case JsonToken.VALUE_STRING => p.getText
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT |
        JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => p.getText
    case JsonToken.START_OBJECT | JsonToken.START_ARRAY => compact(p)
    case other => throw new IllegalStateException(s"not a JSON value: $other")
  }

  /** The current value as Jackson's generator writes it. */
  def compact(p: JsonParser): String = {
    val sw = new java.io.StringWriter()
    val gen = factory.createGenerator(sw)
    gen.copyCurrentStructure(p)
    gen.close()
    sw.toString
  }

  /** The text the current value has after it is written out compactly
    * and parsed again: [[value]] of the re-parsed token. A number
    * re-renders (`1.50` → `1.5`, `1e400` → `Infinity`); every other
    * value keeps its [[value]] text. */
  def reparsed(p: JsonParser, tok: JsonToken): String = tok match {
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
      val q = factory.createParser(compact(p))
      try value(q, q.nextToken()) finally q.close()
    case _ => value(p, tok)
  }

  def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
}

/** The normalize kernel: ONE JSON parse of a raw log line, from its
  * UTF-8 bytes, into the struct [[ParseLogLine.Schema]]:
  *   - one string slot per canonical key
  *     ([[graft.etl.LogSchema.CanonicalKeys]] minus `kubernetes`); the
  *     last duplicate wins;
  *   - `kubernetes_namespace_name`, `kubernetes_pod_name`,
  *     `kubernetes_node_name`: read inline from a `kubernetes` object,
  *     or from a string value that holds a JSON object; any other value
  *     leaves them null, and a repeated `kubernetes` key resets all
  *     three;
  *   - `fields`: every other key, in first-position order with its
  *     last value.
  * Values follow [[JsonText]]: each slot holds what
  * [[JsonToStringMap]] holds under its key. Inside a `kubernetes`
  * object the three values read as if the object had been written out
  * compactly and parsed again ([[JsonText.reparsed]]), which is what a
  * `kubernetes` map built from the value's text holds. A non-object,
  * malformed or trailing-garbage line is null, the Go `json.Unmarshal`
  * failure contract (`cmd/etl/main.go:365-374`).
  *
  * Codegen: one static call ([[ParseLogLine.parse]]) inside
  * whole-stage codegen. */
case class ParseLogLine(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType}")
  override def dataType: DataType = ParseLogLine.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "parse_log_line"

  override def nullSafeEval(input: Any): Any =
    ParseLogLine.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ParseLogLine.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $cls.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseLogLine =
    copy(child = newChild)
}

object ParseLogLine {
  /** Canonical keys with a slot of their own, in schema order. */
  val SlotKeys: Seq[String] = graft.etl.LogSchema.CanonicalKeys.filter(_ != "kubernetes")
  val KubernetesKeys: Seq[String] = Seq("namespace_name", "pod_name", "node_name")

  val Schema: StructType = StructType(
    (SlotKeys ++ KubernetesKeys.map("kubernetes_" + _))
      .map(StructField(_, StringType)) :+
      StructField("fields", MapType(StringType, StringType, valueContainsNull = true)))

  private val K8s = SlotKeys.size
  private val FieldsSlot = K8s + KubernetesKeys.size
  private val KubernetesSlot = -1
  private val Slots: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    SlotKeys.zipWithIndex.foreach { case (k, i) => m.put(k, i) }
    m.put("kubernetes", KubernetesSlot)
    m
  }
  private val EmptyMap = new ArrayBasedMapData(
    new GenericArrayData(Array.empty[AnyRef]), new GenericArrayData(Array.empty[AnyRef]))

  def parse(s: UTF8String): InternalRow = {
    if (s == null) return null
    val bytes = s.getByteBuffer
    try {
      val p = JsonText.factory.createParser(bytes.array,
        bytes.arrayOffset + bytes.position, bytes.remaining)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return null
        val out = new Array[Any](FieldsSlot + 1)
        var residual: java.util.LinkedHashMap[String, UTF8String] = null
        var tok = p.nextToken()
        while (tok == JsonToken.FIELD_NAME) {
          val key = p.currentName()
          val vt = p.nextToken()
          val slot = Slots.get(key)
          if (slot == null) {
            if (residual == null) residual = new java.util.LinkedHashMap()
            residual.put(key, JsonText.utf8(JsonText.value(p, vt)))
          } else if (slot == KubernetesSlot) kubernetes(p, vt, out)
          else out(slot) = JsonText.utf8(JsonText.value(p, vt))
          tok = p.nextToken()
        }
        if (tok != JsonToken.END_OBJECT || p.nextToken() != null) return null
        out(FieldsSlot) = if (residual == null) EmptyMap else toMap(residual)
        new GenericInternalRow(out)
      } finally p.close()
    } catch {
      case _: Exception => null
    }
  }

  /** Fill the three kubernetes slots from the value at `tok`. */
  private def kubernetes(p: JsonParser, tok: JsonToken, out: Array[Any]): Unit = {
    var i = 0
    while (i < KubernetesKeys.size) { out(K8s + i) = null; i += 1 }
    tok match {
      case JsonToken.START_OBJECT =>
        var t = p.nextToken()
        while (t == JsonToken.FIELD_NAME) {
          val k = KubernetesKeys.indexOf(p.currentName())
          val vt = p.nextToken()
          if (k < 0) p.skipChildren()
          else out(K8s + k) = JsonText.utf8(JsonText.reparsed(p, vt))
          t = p.nextToken()
        }
      case JsonToken.VALUE_STRING =>
        // a string that holds a JSON object is parsed as one; any other
        // string leaves the slots null
        val vs = new Array[String](KubernetesKeys.size)
        try {
          val q = JsonText.factory.createParser(
            p.getText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          try {
            if (q.nextToken() == JsonToken.START_OBJECT) {
              var t = q.nextToken()
              while (t == JsonToken.FIELD_NAME) {
                val k = KubernetesKeys.indexOf(q.currentName())
                val v = JsonText.value(q, q.nextToken())
                if (k >= 0) vs(k) = v
                t = q.nextToken()
              }
              if (t == JsonToken.END_OBJECT && q.nextToken() == null)
                vs.indices.foreach(j => out(K8s + j) = JsonText.utf8(vs(j)))
            }
          } finally q.close()
        } catch { case _: Exception => () }
      case _ => p.skipChildren()
    }
  }

  private def toMap(m: java.util.LinkedHashMap[String, UTF8String]): MapData = {
    val ks = new Array[AnyRef](m.size)
    val vs = new Array[AnyRef](m.size)
    var i = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      ks(i) = UTF8String.fromString(e.getKey)
      vs(i) = e.getValue
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }
}

/** The record render: the nine sink columns of a normalized record —
  * `ts, level, service, namespace, pod, node, message, trace_id` and
  * `fields`, in that order — as the one-line JSON Go's `json.Encoder`
  * writes for `model.Normalized` (`internal/model/normalized.go:3-13`,
  * `internal/sink/jsonl.go:30`): struct field names as keys, in struct
  * order; a null string as `""`; `Fields` with its keys in Java
  * `String` order (the last of duplicate keys wins) and null as
  * `null`. Strings are escaped like `encoding/json`: `"`, `\`, `\n`,
  * `\r`, `\t` by name, other control characters and `<`, `>`, `&`,
  * U+2028, U+2029 as `\u00XX`-style escapes. A `Fields` value whose
  * text is a JSON number (JSON's grammar: no leading zero), `true`,
  * `false`, `null`, or an object or array that parses, is written
  * unquoted — the raw text the normalize kept for a non-string value
  * ([[graft.etl.LogSchema]]); every other value is a quoted string.
  * Documented remaining delta: a string value whose text IS valid JSON
  * (`"[1]"`, `"null"`) re-types on render, and raw number text is
  * written verbatim (`5.0` stays `5.0` where Go re-renders the parsed
  * float as `5`) — both still valid JSON.
  *
  * Codegen: the children evaluate inline and one [[RecordRenderer]]
  * per generated class renders the row into its reused buffer. */
case class RenderRecord(children: Seq[Expression]) extends Expression {
  require(children.size == 9, s"render_record takes 9 columns, got ${children.size}")

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.init.forall(_.dataType == StringType) &&
        children.last.dataType.isInstanceOf[MapType] &&
        children.last.dataType.asInstanceOf[MapType].keyType == StringType &&
        children.last.dataType.asInstanceOf[MapType].valueType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires 8 strings and a map<string,string>, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "render_record"

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    new RecordRenderer().render(v.init.map(_.asInstanceOf[UTF8String]).toArray,
      v.last.asInstanceOf[MapData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val renderer = ctx.addMutableState(classOf[RecordRenderer].getName,
      "recordRenderer", v => s"$v = new ${classOf[RecordRenderer].getName}();")
    val evals = children.map(_.genCode(ctx))
    val strings = evals.init.map(e => s"${e.isNull} ? null : ${e.value}")
    val fields = evals.last
    ev.copy(code = code"""
      ${Block.blocksToBlock(evals.map(_.code))}
      boolean ${ev.isNull} = false;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $renderer.render(
        new UTF8String[] {${strings.mkString(", ")}},
        ${fields.isNull} ? null : ${fields.value});""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RenderRecord = copy(children = newChildren)
}

/** [[RenderRecord]]'s writer: renders one record at a time into a
  * buffer it reuses, and returns a copy of the bytes. */
final class RecordRenderer {
  import RecordRenderer._

  private var buf = new Array[Byte](512)
  private var n = 0

  /** `strings`: the eight string columns in Go struct order. */
  def render(strings: Array[UTF8String], fields: MapData): UTF8String = {
    n = 0
    var i = 0
    while (i < strings.length) { bytes(Names(i)); str(strings(i)); i += 1 }
    bytes(FieldsName)
    if (fields == null) ascii("null") else renderFields(fields)
    byte('}')
    UTF8String.fromBytes(java.util.Arrays.copyOf(buf, n))
  }

  private def renderFields(m: MapData): Unit = {
    val keys = m.keyArray()
    val values = m.valueArray()
    val order = sortedByKey(keys, m.numElements())
    byte('{')
    var first = true
    var k = 0
    while (k < order.length) {
      val i = order(k)
      // equal keys sort stably: the last of a run is the last duplicate
      if (k + 1 == order.length || javaOrder(
          keys.getUTF8String(i), keys.getUTF8String(order(k + 1))) != 0) {
        if (!first) byte(',')
        first = false
        str(keys.getUTF8String(i))
        byte(':')
        if (values.isNullAt(i)) ascii("null")
        else literal(values.getUTF8String(i))
      }
      k += 1
    }
    byte('}')
  }

  /** A value as raw JSON when its text is a JSON literal, else as a
    * quoted string. */
  private def literal(v: UTF8String): Unit = {
    val len = v.numBytes
    val c = if (len == 0) 0 else Platform.getByte(v.getBaseObject, v.getBaseOffset)
    if (c == '{' || c == '[') {
      val s = v.toString
      if (parsesAsJson(s)) bytes(s.getBytes("UTF-8")) else str(v)
    } else if (isLiteralWord(v) || isJsonNumber(v))
      copy(v)
    else str(v)
  }

  /** A quoted, escaped JSON string; null renders as `""`. Well-formed
    * UTF-8 is escaped byte by byte; a value that is not (the pipeline
    * never makes one) is decoded first, like `String` decoding. */
  private def str(v: UTF8String): Unit = {
    byte('"')
    if (v != null) {
      val start = n
      if (!escapeUtf8(v)) { n = start; escapeChars(v.toString) }
    }
    byte('"')
  }

  private def escapeUtf8(v: UTF8String): Boolean = {
    val base = v.getBaseObject
    val off = v.getBaseOffset
    val end = v.numBytes
    var i = 0
    while (i < end) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0) { escapeAscii(b); i += 1 }
      else {
        val len = sequenceLength(base, off, i, end)
        if (len == 0) return false
        if (len == 3 && (b & 0xff) == 0xe2 && Platform.getByte(base, off + i + 1) == 0x80.toByte &&
            (Platform.getByte(base, off + i + 2) & 0xfe) == 0xa8) {
          ascii(if (Platform.getByte(base, off + i + 2) == 0xa8.toByte) "\\u2028" else "\\u2029")
        } else {
          ensure(len)
          Platform.copyMemory(base, off + i, buf, Platform.BYTE_ARRAY_OFFSET + n, len)
          n += len
        }
        i += len
      }
    }
    true
  }

  private def escapeAscii(b: Byte): Unit = b match {
    case '"' => ascii("\\\"")
    case '\\' => ascii("\\\\")
    case '\n' => ascii("\\n")
    case '\r' => ascii("\\r")
    case '\t' => ascii("\\t")
    // encoding/json escapes HTML-significant characters by default
    case '<' => ascii("\\u003c")
    case '>' => ascii("\\u003e")
    case '&' => ascii("\\u0026")
    case c if c < ' ' => ascii(f"\\u${c.toInt}%04x")
    case c => byte(c)
  }

  private def escapeChars(s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) escapeAscii(c.toByte)
      else if (c == '\u2028') ascii("\\u2028")
      else if (c == '\u2029') ascii("\\u2029")
      else {
        val cp = s.codePointAt(i)
        bytes(new String(Character.toChars(cp)).getBytes("UTF-8"))
        i += Character.charCount(cp) - 1
      }
      i += 1
    }
  }

  private def ensure(k: Int): Unit =
    if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
  private def byte(b: Int): Unit = { ensure(1); buf(n) = b.toByte; n += 1 }
  private def bytes(bs: Array[Byte]): Unit = {
    ensure(bs.length); System.arraycopy(bs, 0, buf, n, bs.length); n += bs.length
  }
  private def ascii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf(n) = s.charAt(i).toByte; n += 1; i += 1 }
  }
  private def copy(v: UTF8String): Unit = {
    ensure(v.numBytes)
    Platform.copyMemory(v.getBaseObject, v.getBaseOffset, buf,
      Platform.BYTE_ARRAY_OFFSET + n, v.numBytes)
    n += v.numBytes
  }
}

object RecordRenderer {
  private val Names = Array("{\"TS\":", ",\"Level\":", ",\"Service\":",
    ",\"Namespace\":", ",\"Pod\":", ",\"Node\":", ",\"Message\":",
    ",\"TraceID\":").map(_.getBytes("UTF-8"))
  private val FieldsName = ",\"Fields\":".getBytes("UTF-8")
  private val jsonCheckFactory = new JsonFactory()
  private val Words = Seq("true", "false", "null").map(UTF8String.fromString)

  /** Text that Jackson parses to its end: an object or array value
    * written unquoted must not break the line. */
  def parsesAsJson(v: String): Boolean =
    try {
      val p = jsonCheckFactory.createParser(v)
      try { while (p.nextToken() != null) {} } finally p.close()
      true
    } catch { case _: Exception => false }

  def isLiteralWord(v: UTF8String): Boolean = Words.contains(v)

  /** JSON's number grammar: `-?(0|[1-9]\d*)(\.\d+)?([eE][+-]?\d+)?`. */
  def isJsonNumber(v: UTF8String): Boolean = {
    val base = v.getBaseObject
    val off = v.getBaseOffset
    val len = v.numBytes
    def at(i: Int): Int = if (i < len) Platform.getByte(base, off + i) else -1
    def digits(from: Int): Int = { var i = from; while (at(i) >= '0' && at(i) <= '9') i += 1; i }
    var i = if (at(0) == '-') 1 else 0
    if (at(i) == '0') i += 1
    else if (at(i) >= '1' && at(i) <= '9') i = digits(i + 1)
    else return false
    if (at(i) == '.') {
      val j = digits(i + 1)
      if (j == i + 1) return false
      i = j
    }
    if (at(i) == 'e' || at(i) == 'E') {
      val s = if (at(i + 1) == '+' || at(i + 1) == '-') i + 2 else i + 1
      val j = digits(s)
      if (j == s) return false
      i = j
    }
    i == len
  }

  /** Java `String` (UTF-16) order on well-formed UTF-8: byte order,
    * except that a supplementary character (lead byte F0–F4, a
    * surrogate pair in UTF-16) sorts before U+E000–U+FFFF (lead byte
    * EE or EF). */
  def javaOrder(a: UTF8String, b: UTF8String): Int = {
    val m = math.min(a.numBytes, b.numBytes)
    var i = 0
    while (i < m) {
      val x = Platform.getByte(a.getBaseObject, a.getBaseOffset + i) & 0xff
      val y = Platform.getByte(b.getBaseObject, b.getBaseOffset + i) & 0xff
      if (x != y) {
        if (x >= 0xf0 && (y == 0xee || y == 0xef)) return -1
        if (y >= 0xf0 && (x == 0xee || x == 0xef)) return 1
        return x - y
      }
      i += 1
    }
    a.numBytes - b.numBytes
  }

  /** Indices 0 until n in [[javaOrder]] of their keys; stable. */
  def sortedByKey(keys: ArrayData, n: Int): Array[Int] = {
    var a = Array.range(0, n)
    var b = new Array[Int](n)
    var w = 1
    while (w < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + w, n)
        val hi = math.min(lo + 2 * w, n)
        var i = lo
        var j = mid
        var k = lo
        while (k < hi) {
          if (i < mid && (j >= hi ||
              javaOrder(keys.getUTF8String(a(i)), keys.getUTF8String(a(j))) <= 0)) {
            b(k) = a(i); i += 1
          } else { b(k) = a(j); j += 1 }
          k += 1
        }
        lo = hi
      }
      val t = a; a = b; b = t
      w *= 2
    }
    a
  }

  /** Length of the well-formed UTF-8 sequence that starts at byte `i`
    * (a non-ASCII lead byte), or 0 when it is malformed: overlong,
    * a surrogate, above U+10FFFF or truncated. */
  def sequenceLength(base: AnyRef, off: Long, i: Int, end: Int): Int = {
    def at(j: Int): Int = if (j < end) Platform.getByte(base, off + j) & 0xff else -1
    def cont(j: Int): Boolean = at(j) >= 0x80 && at(j) <= 0xbf
    val b = at(i)
    val c = at(i + 1)
    if (b >= 0xc2 && b <= 0xdf) { if (cont(i + 1)) 2 else 0 }
    else if (b >= 0xe0 && b <= 0xef) {
      val ok = if (b == 0xe0) c >= 0xa0 && c <= 0xbf
        else if (b == 0xed) c >= 0x80 && c <= 0x9f
        else cont(i + 1)
      if (ok && cont(i + 2)) 3 else 0
    } else if (b >= 0xf0 && b <= 0xf4) {
      val ok = if (b == 0xf0) c >= 0x90 && c <= 0xbf
        else if (b == 0xf4) c >= 0x80 && c <= 0x8f
        else cont(i + 1)
      if (ok && cont(i + 2) && cont(i + 3)) 4 else 0
    } else 0
  }
}
