package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass gate statistics for the langid+quality corpus gate
  * (VERDICT r12 #8): a stage-isolated timing (README history, commit
  * 9405a3b) showed the gate stage
  * — a map-only scan computing `TextFunctions.langId` and
  * `TextFunctions.qualityScore` — dominating the composed training-mix
  * pipeline at 162.7 s of 229.2 at 500k docs. The legacy column
  * formulas walk the text ~23 times per row (two `regexp_replace`
  * passes for the alpha/punct counts, one `split` for the token count,
  * one `lower`, and 20 marker `contains` scans). This expression
  * computes every input those formulas need in ONE byte-level pass over
  * the UTF8 text:
  *
  *   struct(n, alpha, punct, toks, scores array<int>)
  *
  *   - n      = `length(text)`             (code points)
  *   - alpha  = count of [A-Za-z]          (ASCII-only class, so a
  *              byte-level test is exact — multi-byte code points
  *              cannot be in it)
  *   - punct  = count of [.,;:!?]          (same)
  *   - toks   = `size(split(trim(text), "\\s+"))` with the
  *              `when(length(trim(text)) = 0, 0)` guard — replicated
  *              including Spark's `limit = -1` semantics (leading AND
  *              trailing empty fields kept), `trim` stripping ASCII
  *              spaces only, and Java-regex `\s` being the six ASCII
  *              whitespace chars
  *   - scores = per language, the count of DISTINCT marker words w with
  *              `concat(' ', lower(text), ' ').contains(' w ')` — i.e.
  *              space-delimited (0x20 exactly, not general whitespace)
  *              occurrence in the lowercased text. Space positions are
  *              invariant under lowercasing (no Unicode lowercase
  *              mapping produces or consumes U+0020), so matching the
  *              lowercased word against the ASCII marker is exact; the
  *              ASCII fast path lowercases bytes in place and a rare
  *              non-ASCII word falls back to `UTF8String.toLowerCase`.
  *
  * The downstream quality/langid arithmetic is unchanged — it runs on
  * these counts with the IDENTICAL expressions, so outputs (and the
  * DuckDB oracles) are bit-for-bit stable; GateStatsSpec pins equality
  * against the legacy formulas property-style. `defineCodeGen` keeps
  * the surrounding projection in whole-stage codegen (one static call,
  * no boxing of the hot path).
  */
object TextGateImpl {

  final val WsChars: Array[Boolean] = {
    val a = new Array[Boolean](128)
    for (c <- Seq(' ', '\t', '\n', '\u000B', '\f', '\r')) a(c) = true
    a
  }

  @inline private def isWs(b: Byte): Boolean =
    b >= 0 && b < 128 && WsChars(b)

  @inline private def isAlpha(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')

  @inline private def isPunct(b: Byte): Boolean =
    b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?'

  def compile(markers: Seq[(String, Seq[String])]): GateMarkers = {
    // The per-language hit set is a single Long bitmask: a config with
    // more than 64 words per language would silently alias bits
    // (1L << w wraps mod 64) and undercount distinct-marker scores.
    // Fail loudly at plan time instead.
    markers.foreach { case (lang, words) =>
      require(words.length <= 64,
        s"text_gate_stats: language '$lang' has ${words.length} marker " +
          "words; the distinct-hit bitmask supports at most 64 per language")
    }
    new GateMarkers(markers.map(_._2.map(
      _.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray).toArray)
  }

  def gateStats(s: UTF8String, m: GateMarkers): GenericInternalRow = {
    val nb = s.numBytes()
    var n = 0L
    var alpha = 0L
    var punct = 0L
    // --- counting pass + space-trim bounds ---
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if ((b & 0xc0) != 0x80) n += 1
      if (isAlpha(b)) alpha += 1
      else if (isPunct(b)) punct += 1
      i += 1
    }
    // trim(text) strips ASCII spaces only
    var ts = 0
    while (ts < nb && s.getByte(ts) == ' ') ts += 1
    var te = nb
    while (te > ts && s.getByte(te - 1) == ' ') te -= 1
    // --- toks: size(split(trimmed, "\s+")) with limit -1 ---
    var toks = 0L
    if (te > ts) {
      var runs = 0L
      var inRun = false
      var j = ts
      while (j < te) {
        val ws = isWs(s.getByte(j))
        if (!ws && !inRun) { runs += 1; inRun = true }
        else if (ws) inRun = false
        j += 1
      }
      toks = runs
      if (isWs(s.getByte(ts))) toks += 1 // leading empty field kept
      if (isWs(s.getByte(te - 1))) toks += 1 // trailing kept (limit -1)
    }
    // --- marker scan: space-delimited words over the FULL text ---
    val nLangs = m.words.length
    val scores = new Array[Int](nLangs)
    if (nLangs > 0) {
      val hit = new Array[Long](nLangs) // bitmask per lang, ≤64 words
      var ws2 = 0
      while (ws2 < nb) {
        // next run of non-space (0x20) bytes
        while (ws2 < nb && s.getByte(ws2) == ' ') ws2 += 1
        var we = ws2
        var ascii = true
        while (we < nb && s.getByte(we) != ' ') {
          if (s.getByte(we) < 0) ascii = false
          we += 1
        }
        val len = we - ws2
        if (len > 0 && (ascii && len <= m.maxLen ||
            !ascii && len <= 4 * m.maxLen)) {
          var l = 0
          while (l < nLangs) {
            val ws3 = m.words(l)
            var w = 0
            while (w < ws3.length) {
              if ((hit(l) & (1L << w)) == 0 &&
                  matches(s, ws2, len, ascii, ws3(w), m.lowered(l)(w)))
                hit(l) |= (1L << w)
              w += 1
            }
            l += 1
          }
        }
        ws2 = we
      }
      var l = 0
      while (l < nLangs) {
        scores(l) = java.lang.Long.bitCount(hit(l))
        l += 1
      }
    }
    new GenericInternalRow(Array[Any](n, alpha, punct, toks,
      new GenericArrayData(scores)))
  }

  /** Case-insensitive match of the word bytes at [off, off+len) against
    * the (lowercase ASCII) marker. ASCII fast path folds A-Z in place;
    * the rare non-ASCII word lowercases through UTF8String (exactly the
    * `lower()` the legacy formula applied to the whole text).
    */
  private def matches(s: UTF8String, off: Int, len: Int, ascii: Boolean,
                      marker: Array[Byte], markerU: UTF8String): Boolean = {
    if (ascii) {
      if (len != marker.length) return false
      var k = 0
      while (k < len) {
        var b = s.getByte(off + k)
        if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
        if (b != marker(k)) return false
        k += 1
      }
      true
    } else {
      val bytes = new Array[Byte](len)
      var k = 0
      while (k < len) { bytes(k) = s.getByte(off + k); k += 1 }
      UTF8String.fromBytes(bytes).toLowerCase.equals(markerU)
    }
  }
}

/** Marker config compiled to byte arrays: words(lang)(word). Top-level
  * (not nested in the impl object) so generated Java can name the type.
  */
final class GateMarkers(val words: Array[Array[Array[Byte]]])
    extends Serializable {
  val maxLen: Int =
    // foldLeft(0), not .max: a non-empty config whose word lists are all
    // empty must yield 0, not throw on an empty iterator.
    words.iterator.flatMap(_.iterator.map(_.length)).foldLeft(0)(math.max)
  val lowered: Array[Array[UTF8String]] =
    words.map(_.map(w => UTF8String.fromBytes(w)))
}

case class TextGateStats(child: Expression,
                         markers: Seq[(String, Seq[String])])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("alpha", LongType, nullable = false),
    StructField("punct", LongType, nullable = false),
    StructField("toks", LongType, nullable = false),
    StructField("scores", ArrayType(IntegerType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "text_gate_stats"

  @transient private lazy val compiled = TextGateImpl.compile(markers)

  override def nullSafeEval(input: Any): Any =
    TextGateImpl.gateStats(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val m = ctx.addReferenceObj("gateMarkers", compiled,
      "graft.expressions.GateMarkers")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextGateImpl.gateStats($c, $m)")
  }

  override protected def withNewChildInternal(c: Expression): TextGateStats =
    copy(child = c)
}

object TextGateStats {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def text_gate_stats(text: Column,
                      markers: Seq[(String, Seq[String])]): Column =
    column(TextGateStats(expression(text), markers))
}
