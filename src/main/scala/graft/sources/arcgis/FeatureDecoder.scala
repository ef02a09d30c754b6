package graft.sources.arcgis

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** An HTTP-200 reply whose body is the ArcGIS `{"error":{...}}` envelope:
  * the server refused the request (expired token, bad parameter) but said
  * so in the body, not the status line.
  */
final class ArcGisServerError(what: String, val code: Int, message: String)
    extends RuntimeException(s"ArcGIS $what failed: server returned an error envelope " +
      s"(code=$code, message='$message')") {
  /** 498 invalid token, 499 token required, 401/403: the cached token is bad. */
  def authFailure: Boolean = code == 498 || code == 499 || code == 401 || code == 403
}

private[arcgis] object ArcGisServerError {
  /** Throws if `reply` carries a top-level `error` object. */
  def check(reply: MiniJson.JValue, what: String): Unit =
    reply.obj("error").foreach { e =>
      throw new ArcGisServerError(what, e.num("code").map(_.toInt).getOrElse(-1), e.str("message"))
    }
}

/** The connector's one JSON reader. [[MiniJson.parse]] builds its trees
  * with [[tree]]; feature pages skip the tree: the same tokenizer walks the
  * reply bytes once and hands each feature's attributes and point geometry
  * to a sink. Both paths read the same values: numbers with `.`/`e`/`E` are
  * doubles, other numbers longs; a later duplicate key replaces an earlier
  * one. On a page, a non-object `attributes` or `geometry` reads as absent
  * and a geometry needs numeric `x` and `y`; a top-level `error` object
  * throws [[ArcGisServerError]]. Anything malformed throws "malformed
  * ArcGIS JSON response".
  */
private[arcgis] object FeatureDecoder {

  /** The page's features as rows of `schema`, coerced as
    * [[ArcGisValues.coerce]] does.
    */
  def rows(body: Array[Byte], schema: StructType, what: String): Array[InternalRow] = {
    val sink = new RowSink(schema)
    decode(body, sink, what)
    sink.result()
  }

  /** The page's features as [[EsriFeature]]s. */
  def features(body: Array[Byte], what: String): Seq[EsriFeature] = {
    val sink = new FeatureSink
    decode(body, sink, what)
    sink.result()
  }

  /** Any JSON value: objects as `Map[String, Any]`, arrays as `Seq[Any]`. */
  def tree(body: Array[Byte]): Any = guarded(body)(new Tokenizer(body).value())

  private def decode(body: Array[Byte], sink: Sink, what: String): Unit =
    guarded(body)(new PageDecoder(body, sink, what).page())

  private def guarded[T](body: Array[Byte])(run: => T): T =
    try run
    catch {
      case e: ArcGisServerError => throw e
      case e: RuntimeException =>
        val head = new String(body, 0, math.min(body.length, 480), UTF_8).take(120)
        throw new RuntimeException(
          s"malformed ArcGIS JSON response (${e.getClass.getSimpleName}): $head", e)
    }

  /** Receives one feature at a time. `slot` resolves an attribute key (raw
    * bytes `[from, until)` of the body, the `pos`-th key of the object) to
    * the sink's slot, or -1 to drop its value.
    */
  private abstract class Sink {
    def slot(buf: Array[Byte], from: Int, until: Int, pos: Int): Int
    def slotOf(name: String): Int
    def reset(): Unit
    def clearAttributes(): Unit
    def putNull(slot: Int): Unit
    /** A string value, raw bytes `[from, until)`, no escapes, all ASCII. */
    def putAscii(slot: Int, buf: Array[Byte], from: Int, until: Int): Unit
    def putString(slot: Int, s: String): Unit
    def putLong(slot: Int, v: Long): Unit
    def putDouble(slot: Int, v: Double): Unit
    def putBoolean(slot: Int, v: Boolean): Unit
    /** A nested object or array, as [[MiniJson]] represents it. */
    def putOther(slot: Int, v: Any): Unit
    def endFeature(hasGeometry: Boolean, x: Double, y: Double): Unit
  }

  /** Key resolution shared by both sinks: the key at position `pos` of the
    * previous feature predicts this one (ArcGIS serializes every feature's
    * attributes in the same order), so the common case is one byte compare.
    */
  private abstract class PredictingSink extends Sink {
    private var prevFrom = new Array[Int](16)
    private var prevLen = Array.fill(16)(-1)
    private var prevSlot = new Array[Int](16)

    protected def resolve(buf: Array[Byte], from: Int, until: Int): Int

    final def slot(buf: Array[Byte], from: Int, until: Int, pos: Int): Int = {
      if (pos >= prevLen.length) {
        val n = pos * 2
        prevFrom = java.util.Arrays.copyOf(prevFrom, n)
        prevSlot = java.util.Arrays.copyOf(prevSlot, n)
        val grown = java.util.Arrays.copyOf(prevLen, n)
        java.util.Arrays.fill(grown, prevLen.length, n, -1)
        prevLen = grown
      }
      val len = until - from
      if (prevLen(pos) == len &&
          java.util.Arrays.equals(buf, from, until, buf, prevFrom(pos), prevFrom(pos) + len))
        prevSlot(pos)
      else {
        val s = resolve(buf, from, until)
        prevFrom(pos) = from; prevLen(pos) = len; prevSlot(pos) = s
        s
      }
    }
  }

  private final class RowSink(schema: StructType) extends PredictingSink {
    private val n = schema.length
    private val types = schema.fields.map(_.dataType)
    private val geomX = schema.fieldNames.indexOf("geom_x")
    private val geomY = schema.fieldNames.indexOf("geom_y")
    private val deleted = schema.fieldNames.indexOf("_deleted")
    /** Ordinals fed by layer attributes, with their names as UTF-8 bytes. */
    private val attrOrdinals =
      schema.fieldNames.indices.filter(i => i != geomX && i != geomY && i != deleted).toArray
    private val attrNames = attrOrdinals.map(i => schema.fieldNames(i).getBytes(UTF_8))
    private val out = Array.newBuilder[InternalRow]
    private var values = new Array[Any](n)

    protected def resolve(buf: Array[Byte], from: Int, until: Int): Int = {
      var k = 0
      while (k < attrNames.length) {
        val a = attrNames(k)
        if (java.util.Arrays.equals(buf, from, until, a, 0, a.length)) return attrOrdinals(k)
        k += 1
      }
      -1
    }

    def slotOf(name: String): Int = {
      val bytes = name.getBytes(UTF_8)
      resolve(bytes, 0, bytes.length)
    }

    def reset(): Unit = out.clear()
    def clearAttributes(): Unit = attrOrdinals.foreach(values(_) = null)
    def putNull(slot: Int): Unit = if (slot >= 0) values(slot) = null

    def putAscii(slot: Int, buf: Array[Byte], from: Int, until: Int): Unit =
      if (slot >= 0) values(slot) =
        if (types(slot) == StringType) UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, from, until))
        else null

    def putString(slot: Int, s: String): Unit =
      if (slot >= 0) values(slot) = if (types(slot) == StringType) UTF8String.fromString(s) else null

    def putLong(slot: Int, v: Long): Unit = if (slot >= 0) values(slot) = types(slot) match {
      case LongType => v
      case IntegerType => v.toInt
      case DoubleType => v.toDouble
      case FloatType => v.toFloat
      case StringType => UTF8String.fromString(java.lang.Long.toString(v))
      case _ => null
    }

    def putDouble(slot: Int, v: Double): Unit = if (slot >= 0) values(slot) = types(slot) match {
      case DoubleType => v
      case LongType => v.toLong
      case IntegerType => v.toInt
      case FloatType => v.toFloat
      case StringType => UTF8String.fromString(java.lang.Double.toString(v))
      case _ => null
    }

    def putBoolean(slot: Int, v: Boolean): Unit = if (slot >= 0) values(slot) = types(slot) match {
      case BooleanType => v
      case StringType => UTF8String.fromString(v.toString)
      case _ => null
    }

    def putOther(slot: Int, v: Any): Unit =
      if (slot >= 0) values(slot) = ArcGisValues.coerce(types(slot), v)

    def endFeature(hasGeometry: Boolean, x: Double, y: Double): Unit = {
      if (hasGeometry) {
        if (geomX >= 0) values(geomX) = x
        if (geomY >= 0) values(geomY) = y
      }
      if (deleted >= 0) values(deleted) = false
      out += new GenericInternalRow(values)
      values = new Array[Any](n)
    }

    def result(): Array[InternalRow] = out.result()
  }

  /** Features as the tree path builds them: a key whose final value is
    * null is left out of the attribute map.
    */
  private final class FeatureSink extends PredictingSink {
    private var names = new Array[String](16)
    private var count = 0
    private val byName = new java.util.HashMap[String, Integer]()
    private val out = Seq.newBuilder[EsriFeature]
    private var attrs = Map.newBuilder[String, Any]
    private var nulls = false

    protected def resolve(buf: Array[Byte], from: Int, until: Int): Int =
      slotOf(new String(buf, from, until - from, UTF_8))

    def slotOf(name: String): Int = {
      val known = byName.get(name)
      if (known != null) known
      else {
        if (count == names.length) names = java.util.Arrays.copyOf(names, count * 2)
        names(count) = name
        byName.put(name, count)
        count += 1
        count - 1
      }
    }

    def reset(): Unit = out.clear()
    def clearAttributes(): Unit = attrs.clear()
    private def put(slot: Int, v: Any): Unit = attrs += names(slot) -> v
    def putNull(slot: Int): Unit = { nulls = true; put(slot, null) }
    def putAscii(slot: Int, buf: Array[Byte], from: Int, until: Int): Unit =
      put(slot, new String(buf, from, until - from, ISO_8859_1))
    def putString(slot: Int, s: String): Unit = put(slot, s)
    def putLong(slot: Int, v: Long): Unit = put(slot, v)
    def putDouble(slot: Int, v: Double): Unit = put(slot, v)
    def putBoolean(slot: Int, v: Boolean): Unit = put(slot, v)
    def putOther(slot: Int, v: Any): Unit = put(slot, v)

    def endFeature(hasGeometry: Boolean, x: Double, y: Double): Unit = {
      val all = attrs.result()
      out += EsriFeature(if (nulls) all.filter(_._2 != null) else all,
        if (hasGeometry) Some((x, y)) else None)
      attrs = Map.newBuilder[String, Any]
      nulls = false
    }

    def result(): Seq[EsriFeature] = out.result()
  }

  /** 1e0 .. 1e22, every one exactly representable. */
  private val Pow10 = Array(1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 1e9, 1e10, 1e11,
    1e12, 1e13, 1e14, 1e15, 1e16, 1e17, 1e18, 1e19, 1e20, 1e21, 1e22)

  /** One pass over `buf`: JSON structure, whitespace and scalars. */
  private class Tokenizer(buf: Array[Byte]) {
    protected var i = 0
    // string scan results
    protected var strFrom = 0
    protected var strUntil = 0
    protected var strEscaped = false
    protected var strAscii = true
    // number scan results
    protected var numIsDouble = false
    protected var numLong = 0L
    protected var numDouble = 0.0

    private def isWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13) || (b >= 28 && b <= 31)
    protected def ws(): Unit = while (i < buf.length && isWs(buf(i))) i += 1
    private def expect(c: Char): Unit = {
      ws(); require(buf(i) == c, s"expected $c at $i"); i += 1
    }

    /** Scans a string token; its raw bytes are `[strFrom, strUntil)`. */
    protected def scanString(): Unit = {
      expect('"')
      strFrom = i
      strEscaped = false
      strAscii = true
      var b = buf(i)
      while (b != '"') {
        if (b == '\\') {
          strEscaped = true
          i += 1
          if (buf(i) == 'u') i += 4
        } else if (b < 0) strAscii = false
        i += 1
        b = buf(i)
      }
      strUntil = i
      i += 1
    }

    /** The scanned string's value, escapes resolved. */
    protected def scannedString(): String = {
      val raw = new String(buf, strFrom, strUntil - strFrom, if (strAscii) ISO_8859_1 else UTF_8)
      if (!strEscaped) raw else unescape(raw)
    }

    private def unescape(s: String): String = {
      val sb = new java.lang.StringBuilder(s.length)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        if (c == '\\') {
          j += 1
          s.charAt(j) match {
            case 'n' => sb.append('\n'); case 't' => sb.append('\t')
            case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' => sb.append(Integer.parseInt(s.substring(j + 1, j + 5), 16).toChar); j += 4
            case other => sb.append(other)
          }
        } else sb.append(c)
        j += 1
      }
      sb.toString
    }

    /** Whether the scanned string is the ASCII key `k`. */
    protected def scannedIs(k: String): Boolean =
      if (strEscaped) scannedString() == k
      else strUntil - strFrom == k.length && {
        var j = 0
        while (j < k.length && buf(strFrom + j) == k.charAt(j)) j += 1
        j == k.length
      }

    private def isNumChar(b: Byte): Boolean =
      (b >= '0' && b <= '9') || b == '-' || b == '+' || b == '.' || b == 'e' || b == 'E'

    /** Scans a number token into `numLong` or `numDouble`. */
    protected def scanNumber(): Unit = {
      val start = i
      var dots = 0
      var exp = false
      var signs = 0
      while (i < buf.length && isNumChar(buf(i))) {
        val b = buf(i)
        if (b == '.') dots += 1 else if (b == 'e' || b == 'E') exp = true
        else if (b == '-' || b == '+') signs += 1
        i += 1
      }
      numIsDouble = dots > 0 || exp
      if (!fastNumber(start, dots, exp, signs)) {
        val t = new String(buf, start, i - start, ISO_8859_1)
        if (numIsDouble) numDouble = t.toDouble else numLong = t.toLong
      }
    }

    /** `-?digits` or `-?digits.digits` with a mantissa below 2^53 and at
      * most 22 fraction digits: exact integer arithmetic, then one
      * correctly rounded division — the value `String.toDouble` gives.
      */
    private def fastNumber(start: Int, dots: Int, exp: Boolean, signs: Int): Boolean = {
      if (exp || dots > 1 || signs > 1) return false
      var j = start
      val neg = buf(j) == '-'
      if (signs == 1 && !neg) return false
      if (neg) j += 1
      var m = 0L
      var digits = 0
      var frac = -1
      while (j < i) {
        val b = buf(j)
        if (b == '.') {
          if (digits == 0) return false
          frac = 0
        } else if (b >= '0' && b <= '9') {
          if (digits >= 18) return false
          m = m * 10 + (b - '0')
          digits += 1
          if (frac >= 0) frac += 1
        } else return false
        j += 1
      }
      if (digits == 0 || frac == 0) return false
      if (numIsDouble) {
        if (m > (1L << 53) || frac > 22) return false
        val d = m / Pow10(frac)
        numDouble = if (neg) -d else d
      } else numLong = if (neg) -m else m
      true
    }

    /** Any value, objects as `Map[String, Any]`, arrays as `Seq[Any]`. */
    def value(): Any = {
      ws()
      buf(i) match {
        case '{' =>
          val b = Map.newBuilder[String, Any]
          members(_ => b += (scannedString() -> value()))
          b.result()
        case '[' =>
          val b = Seq.newBuilder[Any]
          elements(() => b += value())
          b.result()
        case '"' => scanString(); scannedString()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ => scanNumber(); if (numIsDouble) numDouble else numLong
      }
    }

    /** Iterates the members of the object at `i`; `member` consumes each
      * value, the current key being the scanned string.
      */
    protected def members(member: Int => Unit): Unit = {
      expect('{'); ws()
      if (buf(i) == '}') { i += 1; return }
      var pos = 0
      var done = false
      while (!done) {
        ws(); scanString(); expect(':')
        member(pos)
        pos += 1
        ws()
        if (buf(i) == ',') i += 1 else { expect('}'); done = true }
      }
    }

    protected def elements(element: () => Unit): Unit = {
      expect('['); ws()
      if (buf(i) == ']') { i += 1; return }
      var done = false
      while (!done) {
        element(); ws()
        if (buf(i) == ',') i += 1 else { expect(']'); done = true }
      }
    }

    protected def peekIs(c: Char): Boolean = { ws(); buf(i) == c }
  }

  /** A `/query` page: the `features[]` member goes to `sink`, every other
    * member is read as a value and dropped.
    */
  private final class PageDecoder(buf: Array[Byte], sink: Sink, what: String) extends Tokenizer(buf) {
    def page(): Unit =
      if (!peekIs('{')) value()
      else members { _ =>
        if (scannedIs("features")) {
          sink.reset()
          if (peekIs('[')) elements(() => feature()) else value()
        } else if (scannedIs("error") && peekIs('{')) {
          ArcGisServerError.check(MiniJson.JValue(Map("error" -> value())), what)
        } else value()
      }

    private def feature(): Unit = {
      var hasX, hasY = false
      var x, y = 0.0
      if (!peekIs('{')) value()
      else members { _ =>
        if (scannedIs("attributes")) {
          sink.clearAttributes()
          if (peekIs('{')) members(attribute) else value()
        } else if (scannedIs("geometry")) {
          hasX = false; hasY = false
          if (!peekIs('{')) value()
          else members { _ =>
            val isX = scannedIs("x")
            if (isX || scannedIs("y")) {
              val v = value()
              val (has, d) = v match {
                case d: Double => (true, d)
                case l: Long => (true, l.toDouble)
                case _ => (false, 0.0)
              }
              if (isX) { hasX = has; x = d } else { hasY = has; y = d }
            } else value()
          }
        } else value()
      }
      sink.endFeature(hasX && hasY, x, y)
    }

    private def attribute(pos: Int): Unit = {
      val slot =
        if (strEscaped) sink.slotOf(scannedString())
        else sink.slot(buf, strFrom, strUntil, pos)
      ws()
      buf(i) match {
        case '"' =>
          scanString()
          if (!strEscaped && strAscii) sink.putAscii(slot, buf, strFrom, strUntil)
          else sink.putString(slot, scannedString())
        case 't' => i += 4; sink.putBoolean(slot, true)
        case 'f' => i += 5; sink.putBoolean(slot, false)
        case 'n' => i += 4; sink.putNull(slot)
        case '{' | '[' => sink.putOther(slot, value())
        case _ =>
          scanNumber()
          if (numIsDouble) sink.putDouble(slot, numDouble) else sink.putLong(slot, numLong)
      }
    }
  }
}
