package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextStats

/** TextStats against an explode-based reference: the same signals
  * computed the way the word operators used to — `split(text, ' ')`,
  * one explode per words and bigrams, groupBy counts, and
  * `regexp_extract_all` character counts. Covers the tokenizer edges
  * (NULL, empty, lone / doubled / trailing spaces), non-ASCII bytes,
  * newline-joined tokens, and repeated words and bigrams, plus seeded
  * random strings over an alphabet that mixes all of them.
  */
class TextStatsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fields = TextStats.Schema.fieldNames.toSeq

  /** Per id, the eight TextStats fields by explode + groupBy; NULL
    * text maps to None. */
  private def reference(docs: DataFrame): Map[Long, Option[Seq[Long]]] = {
    val ws = docs.select(col("id"), split(col("text"), " ").as("ws"),
      col("text"))
    val words = ws.select(col("id"), explode(col("ws")).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max("c").as("top_word"),
        count(lit(1)).as("n_distinct"))
    val bigrams = ws.filter(size(col("ws")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> concat_ws(' ', ws[i], ws[i + 1]))")).as("b"))
      .groupBy("id", "b").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(max("c").as("top_bigram"))
    ws.join(words, Seq("id"), "left_outer")
      .join(bigrams, Seq("id"), "left_outer")
      .select(col("id"), col("text").isNull.as("null_text"),
        size(col("ws")).cast("long").as("n_words"),
        size(filter(col("ws"), w => w === "the" || w === "a"))
          .cast("long").as("stop_hits"),
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
          .cast("long").as("digits"),
        size(regexp_extract_all(col("text"), lit("[a-z]"), lit(0)))
          .cast("long").as("alphas"),
        coalesce(col("top_word"), lit(0L)).as("top_word"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("top_bigram"), lit(0L)).as("top_bigram"),
        greatest(size(col("ws")) - 1, lit(0)).cast("long").as("n_bigrams"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.getBoolean(1)) None
          else Some(fields.map(f => r.getAs[Long](f))))
      }.toMap
  }

  private def got(docs: DataFrame): Map[Long, Option[Seq[Long]]] =
    docs.select(col("id"), TextStats.textStats(col("text")).as("s"))
      .collect().map { r =>
        r.getLong(0) -> Option(r.getStruct(1)).map(s => fields.indices.map(s.getLong))
      }.toMap

  private def check(texts: Seq[String]): Unit = {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val (want, have) = (reference(docs), got(docs))
    assert(have.keySet == want.keySet)
    val diffs = want.keys.toSeq.sorted.filter(k => have(k) != want(k))
    assert(diffs.isEmpty, diffs.take(5).map(k =>
      s"${Option(texts(k.toInt)).map(t => "\"" + t + "\"")}: " +
        s"got ${have(k)}, want ${want(k)}").mkString("\n"))
  }

  test("TextStats == explode reference on tokenizer edge cases") {
    check(Seq(null, "", " ", "  ", "a  b", "a b ", " a b", "word",
      "abc 123 x9y 0", "café naïve é é café", "東京 大阪 東京 大阪 東京",
      "line one\nline two\nline one", "the a the a thee at the",
      "x y x y x y x", "a a a a", "A THE The the", "éé é"))
  }

  test("TextStats == explode reference on seeded random strings") {
    val rnd = new scala.util.Random(20261018L)
    val alphabet = Seq(" ", " ", " ", "a", "the", "b", "7", "Z", "é", "京",
      "\n", "ab", "x1")
    check((1 to 300).map(_ =>
      Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.size))).mkString))
  }

  test("an empty document scores NULL per-character ratios, never a division by zero") {
    import graft.operators.{Curate, TextAnalysis}
    val docs = Seq((1L, "the cat sat on a mat with the dog"), (2L, ""))
      .toDF("doc_id", "text")
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q(2L).isNullAt(q(2L).fieldIndex("alpha_ratio")) &&
      q(2L).isNullAt(q(2L).fieldIndex("digit_ratio")))
    assert(q(1L).getAs[Double]("alpha_ratio") == 0.757576 &&
      q(1L).getAs[Double]("digit_ratio") == 0.0)
    val batch = TextAnalysis.qualityClassifier(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val (vocab, total) = TextAnalysis.freezeVocabulary(docs, "doc_id", "text", 10)
    val frozen = TextAnalysis.qualityClassifierFrozen(docs, "doc_id", "text",
        vocab, total)
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(batch, frozen).foreach { out =>
      assert(out(2L).isNullAt(out(2L).fieldIndex("alpha_ratio")))
      assert(!out(2L).getAs[Boolean]("keep"))
      assert(out(1L).getAs[Double]("alpha_ratio") == 0.757576)
    }
    val lenient = TextAnalysis.QualityThresholds(minWords = 1L,
      minAvgWordLen = 0.0, minDistinctRatio = 0.0, maxTopWordRatio = 1.0)
    val kept = Curate.corpus(docs, "doc_id", "text",
        cfg = Curate.CurateConfig(quality = Some(lenient)))
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }
}
