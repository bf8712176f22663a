package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word statistics of a text column — every per-document
  * signal the quality and repetition operators threshold, from one
  * walk over the UTF-8 bytes:
  *
  *  - `n_words`: words of the single-space split with limit −1
  *    semantics (`split(text, ' ')`: every space separates, so empty
  *    words between, before and after spaces count — n_words is the
  *    space count plus one);
  *  - `stop_hits`: words equal to `the` or `a`;
  *  - `digits` / `alphas`: bytes in `[0-9]` / `[a-z]` (ASCII only,
  *    which is what the regex classes match; in UTF-8 those bytes
  *    never occur inside a multi-byte character);
  *  - `top_word` / `n_distinct`: multiplicity of the most frequent
  *    word, number of distinct words;
  *  - `top_bigram` / `n_bigrams`: multiplicity of the most frequent
  *    adjacent word pair, number of pairs (n_words − 1).
  *
  * Multiplicities are exact: words and pairs are keyed on their bytes
  * (a pair is the byte span `word_i ' ' word_{i+1}`, which is the
  * `concat_ws(' ', ...)` bigram string), never on a hash alone. NULL
  * text gives a NULL struct.
  */
case class TextStats(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = TextStats.Schema
  override def prettyName: String = "graft_text_stats"

  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    var spaces = 0
    var digits = 0L
    var alphas = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == ' ') spaces += 1
      else if (b >= '0' && b <= '9') digits += 1
      else if (b >= 'a' && b <= 'z') alphas += 1
      i += 1
    }
    val nWords = spaces + 1
    // word k spans [starts(k), starts(k + 1) - 1)
    val starts = new Array[Int](nWords + 1)
    var k = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(nWords) = n + 1
    var stopHits = 0L
    k = 0
    while (k < nWords) {
      val from = starts(k)
      val len = starts(k + 1) - 1 - from
      if ((len == 1 && bytes(from) == 'a') ||
          (len == 3 && bytes(from) == 't' && bytes(from + 1) == 'h' &&
            bytes(from + 2) == 'e')) stopHits += 1
      k += 1
    }
    val words = TextStats.multiplicities(bytes, starts, nWords, 1)
    val pairs = TextStats.multiplicities(bytes, starts, nWords, 2)
    new GenericInternalRow(Array[Any](nWords.toLong, stopHits, digits,
      alphas, words._1, words._2, pairs._1, (nWords - 1).toLong))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textStats", this, classOf[TextStats].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {
  val Schema: StructType = StructType(Seq("n_words", "stop_hits", "digits",
    "alphas", "top_word", "n_distinct", "top_bigram", "n_bigrams")
    .map(StructField(_, LongType, nullable = false)))

  def textStats(text: Column): Column =
    GraftColumnBridge.column(TextStats(GraftColumnBridge.expression(text)))

  /** (top multiplicity, distinct count) of the `span`-word segments of
    * `bytes`: segment k is [starts(k), starts(k + span) - 1). An open
    * addressing table of segment ids, compared by hash and then by
    * bytes. (0, 0) when there are fewer than `span` words. */
  private[functions] def multiplicities(bytes: Array[Byte], starts: Array[Int],
                                        nWords: Int, span: Int): (Long, Long) = {
    val m = nWords - span + 1
    if (m <= 0) return (0L, 0L)
    var cap = 4
    while (cap < 2 * m) cap <<= 1
    val mask = cap - 1
    val slotSeg = new Array[Int](cap) // segment id + 1, 0 = empty
    val slotCnt = new Array[Int](cap)
    val hashes = new Array[Int](m)
    var top = 0
    var distinct = 0
    var k = 0
    while (k < m) {
      val from = starts(k)
      val to = starts(k + span) - 1
      var h = 0x811c9dc5
      var i = from
      while (i < to) { h = (h ^ (bytes(i) & 0xff)) * 0x01000193; i += 1 }
      h ^= h >>> 16
      hashes(k) = h
      var slot = h & mask
      var placed = false
      while (!placed) {
        val s = slotSeg(slot) - 1
        if (s < 0) {
          slotSeg(slot) = k + 1
          slotCnt(slot) = 1
          distinct += 1
          if (top < 1) top = 1
          placed = true
        } else if (hashes(s) == h && java.util.Arrays.equals(
            bytes, starts(s), starts(s + span) - 1, bytes, from, to)) {
          slotCnt(slot) += 1
          if (slotCnt(slot) > top) top = slotCnt(slot)
          placed = true
        } else slot = (slot + 1) & mask
      }
      k += 1
    }
    (top.toLong, distinct.toLong)
  }
}
