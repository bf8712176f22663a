package graft

import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curate, Dedup, TextAnalysis}

/** `Curate.corpus` against the stage-by-stage composition it replaces:
  * the classifier's keep list semi-joined on doc_id, `lineDedup`, the
  * `Dedup.pipeline` keep list semi-joined back, and `decontaminate`'s
  * flagged ids anti-joined — each stage's public operator, composed by
  * doc_id. The two must keep the same ids with the same text. Plus the
  * job budget of one curation and the `minOverlap` contract.
  */
class CurateSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def reference(docs: DataFrame, evalDocs: Option[DataFrame],
                        cfg: Curate.CurateConfig): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val afterQuality = cfg.quality match {
      case Some(th) =>
        val kept = TextAnalysis.qualityClassifier(docs, "doc_id", "text", th)
          .filter(col("keep")).select("doc_id")
        base.join(kept, Seq("doc_id"), "left_semi")
      case None => base
    }
    val cleaned =
      (if (cfg.lineDedup)
        Dedup.lineDedup(afterQuality, "doc_id", "text",
            cfg.lineMaxDf, cfg.lineMinChars)
          .select(col("doc_id"), col("text_clean").as("text"))
      else afterQuality)
        .filter(col("text").rlike("\\S"))
    val kept = Dedup.pipeline(cleaned, "doc_id", "text",
      cfg.dedupN, cfg.dedupThreshold)
    val deduped = cleaned.join(kept, Seq("doc_id"), "left_semi")
    evalDocs match {
      case Some(ev) =>
        val contaminated = Dedup.decontaminate(deduped, "doc_id", "text",
            ev, "doc_id", "text", cfg.decontamN, cfg.decontamMinOverlap)
          .select("doc_id")
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
      case None => deduped
    }
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text").as[(Long, String)].collect().toSeq.sorted

  private def assertSame(docs: DataFrame, evalDocs: Option[DataFrame],
                         cfg: Curate.CurateConfig): Seq[(Long, String)] = {
    val got = rows(Curate.corpus(docs, "doc_id", "text", evalDocs, cfg))
    val want = rows(reference(docs, evalDocs, cfg))
    assert(got == want, s"curate != reference under $cfg:\n" +
      s"only curate: ${got.diff(want).take(5)}\n" +
      s"only reference: ${want.diff(got).take(5)}")
    got
  }

  private val vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(17)
    (0 until 600).map(_ =>
      (0 until 4 + r.nextInt(5)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }
  private val boiler = Seq("subscribe to our newsletter for weekly updates",
    "all rights reserved by the publisher of this site",
    "follow us on every social network you use")

  /** `n` docs of 4–6 lines of 12–24 words: every 9th an exact copy of
    * an earlier doc, every 11th a near copy (about one word in 30
    * replaced), a boilerplate line in a third of them, and a few that
    * fail the default quality rules (too short, one word repeated). */
  private def corpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val r = new SplittableRandom(seed)
    def words(k: Int) = (0 until k).map(_ => vocab(r.nextInt(vocab.size)))
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i > 10 && i % 9 == 0) texts(r.nextInt(i))
        else if (i > 10 && i % 11 == 0)
          texts(r.nextInt(i)).split("\n").map(_.split(" ").map(w =>
            if (r.nextInt(30) == 0) vocab(r.nextInt(vocab.size)) else w)
            .mkString(" ")).mkString("\n")
        else if (i % 23 == 5) words(6).mkString(" ")
        else if (i % 29 == 7) Seq.fill(60)("spam").mkString(" ")
        else {
          val body = (0 until 4 + r.nextInt(3))
            .map(_ => words(12 + r.nextInt(13)).mkString(" "))
          if (i % 3 == 0) (body :+ boiler(r.nextInt(boiler.size))).mkString("\n")
          else body.mkString("\n")
        }
    }
    texts.indices.map(i => (i.toLong, texts(i)))
  }

  /** Eval docs quoting a 10-word span of each of the given docs. */
  private def evalOf(docs: Seq[(Long, String)], ids: Seq[Long]): DataFrame =
    ids.map { id =>
      val ws = docs.find(_._1 == id).get._2.split("\n").head.split(" ")
      (1000L + id, (ws.take(10) ++ Seq("held", "out", "tail")).mkString(" "))
    }.toDF("doc_id", "text")

  private lazy val gen = corpus(240, 5)
  private lazy val genDocs = gen.toDF("doc_id", "text")
  private lazy val genEval = evalOf(gen, Seq(2L, 40L, 77L, 130L))

  test("Curate.corpus == the stage-by-stage composition: default thresholds") {
    val cfg = Curate.CurateConfig(lineMaxDf = 5)
    val out = assertSame(genDocs, Some(genEval), cfg)
    // every stage removes something, so each one is compared
    val ids = out.map(_._1).toSet
    val kept = TextAnalysis.qualityClassifier(genDocs, "doc_id", "text")
      .filter(col("keep")).count()
    assert(kept < gen.size, "some docs must fail quality")
    assert(out.size < kept, "dedup and decontamination must drop docs")
    assert(!ids(40L) && !ids(77L), s"contaminated docs survived: $ids")
    assert(!ids(18L) && !ids(27L), "exact copies (every 9th) must not survive")
    assert(out.exists { case (_, t) => t.nonEmpty } &&
      !out.exists { case (_, t) => boiler.exists(t.contains) },
      "boilerplate lines must be cut")
    // without an eval set the same holds
    assertSame(genDocs, None, cfg)
  }

  test("Curate.corpus == the composition: a bounded lm band takes the classifier path") {
    val lm = TextAnalysis.lmScore(genDocs, "doc_id", "text")
      .select("lm_score").as[Double].collect().sorted
    val median = lm(lm.length / 2)
    Seq(TextAnalysis.QualityThresholds(minLmScore = median),
        TextAnalysis.QualityThresholds(maxLmScore = median)).foreach { th =>
      assert(TextAnalysis.lmBandBinds(th))
      val out = assertSame(genDocs, Some(genEval),
        Curate.CurateConfig(quality = Some(th), lineMaxDf = 5))
      assert(out.nonEmpty)
    }
    assert(!TextAnalysis.lmBandBinds(TextAnalysis.QualityThresholds()))
    assert(!TextAnalysis.lmBandBinds(
      TextAnalysis.QualityThresholds(minLmScore = -1.0)))
  }

  test("Curate.corpus == the composition: lenient thresholds, empty, blank and NULL texts") {
    val lenient = TextAnalysis.QualityThresholds(minWords = 0L,
      minAvgWordLen = 0.0, minAlphaRatio = 0.0, maxTopWordRatio = 1.0,
      maxTopBigramRatio = 1.0, minDistinctRatio = 0.0)
    val edge = Seq[(Long, String)]((900L, ""), (901L, " "), (902L, "   "),
      (903L, "\n \n"), (904L, null), (905L, "one"), (906L, "two words"),
      (907L, "two words"), (908L, " lead and trail "))
    val docs = (gen.take(60) ++ edge).toDF("doc_id", "text")
    for (q <- Seq(Some(lenient), None, Some(TextAnalysis.QualityThresholds()));
         line <- Seq(true, false)) {
      val out = assertSame(docs, Some(genEval),
        Curate.CurateConfig(quality = q, lineDedup = line, lineMaxDf = 3))
      val ids = out.map(_._1).toSet
      assert(!Seq(900L, 901L, 902L, 903L, 904L).exists(ids),
        s"wordless texts must not survive: $ids")
      if (q.contains(lenient))
        assert(ids(905L) && ids(906L) && ids(907L) && ids(908L),
          s"short texts bypass dedup and pass lenient quality: $ids")
    }
  }

  test("Curate.corpus == the composition: exact and near copies keep the min id") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val c = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq((5L, a), (3L, a), (9L, b), (4L, c), (8L, c),
      (7L, s"$c\nsubscribe now"), (6L, "short copy"), (2L, "short copy"))
      .toDF("doc_id", "text")
    val out = assertSame(docs, None, Curate.CurateConfig(quality = None))
    // 5 is an exact copy of 3 and 9 a near copy (Jaccard 9/11), 8 an
    // exact copy of 4; 7 adds a line to 4's text (Jaccard 9/12, below
    // 0.8); short docs bypass dedup, so both short copies survive
    assert(out.map(_._1) == Seq(2L, 3L, 4L, 6L, 7L), s"got $out")
  }

  test("Curate.corpus: a repeated doc id is gated per row (ids must be unique)") {
    val cfg = Curate.CurateConfig(lineDedup = false)
    val base = gen.take(40)
    val (id, good) = rows(Curate.corpus(base.toDF("doc_id", "text"),
      "doc_id", "text", None, cfg)).head
    val docs = (base :+ ((id, "x y"))).toDF("doc_id", "text")
    val got = rows(Curate.corpus(docs, "doc_id", "text", None, cfg))
    val want = rows(reference(docs, None, cfg))
    // the gate drops the failing row on its own; a doc_id semi-join of
    // the classifier's keep list keeps both rows of the id
    assert(got.filter(_._1 == id) == Seq((id, good)))
    assert(want.filter(_._1 == id).toSet == Set((id, good), (id, "x y")))
    assert(got.filterNot(_._1 == id) == want.filterNot(_._1 == id))
  }

  test("Curate.corpus == the composition: decontamination at minOverlap 1 and 2") {
    val base = gen.take(80)
    // doc 10 shares one 3-gram with the eval set, doc 20 two, doc 30 many
    def words(id: Long) = base.find(_._1 == id).get._2.split("\n").head
      .split(" ")
    val eval = Seq(
      (500L, (words(10).take(3) ++ Seq("zz1", "zz2")).mkString(" ")),
      (501L, (words(20).take(4) ++ Seq("zz3")).mkString(" ")),
      (502L, words(30).take(10).mkString(" "))).toDF("doc_id", "text")
    val docs = base.toDF("doc_id", "text")
    def kept(minOverlap: Long) = assertSame(docs, Some(eval),
      Curate.CurateConfig(quality = None, lineMaxDf = 5,
        decontamMinOverlap = minOverlap)).map(_._1).toSet
    val one = kept(1L)
    val two = kept(2L)
    assert(!one(10L) && !one(20L) && !one(30L), s"minOverlap 1: $one")
    assert(two(10L) && !two(20L) && !two(30L), s"minOverlap 2: $two")
    assert(one.subsetOf(two))
  }

  test("decontaminate, decontaminateFrozen and CurateConfig reject minOverlap < 1") {
    val docs = Seq((1L, "a b c d"), (2L, "p q r s")).toDF("doc_id", "text")
    val eval = Seq((9L, "a b c")).toDF("doc_id", "text")
    val frozen = Dedup.freezeEvalShingles(eval, "text", 3)
    Seq(0L, -1L).foreach { m =>
      intercept[IllegalArgumentException](
        Dedup.decontaminate(docs, "doc_id", "text", eval, "doc_id", "text", 3, m))
      intercept[IllegalArgumentException](
        Dedup.decontaminateFrozen(docs, "doc_id", "text", frozen, 3, m))
      intercept[IllegalArgumentException](
        Curate.CurateConfig(decontamMinOverlap = m))
    }
    // at minOverlap 1 both flag only the doc sharing a shingle
    val batch = Dedup.decontaminate(docs, "doc_id", "text", eval, "doc_id",
      "text", 3).as[(Long, Long)].collect().toSeq
    val viaFrozen = Dedup.decontaminateFrozen(docs, "doc_id", "text", frozen,
      3).as[(Long, Long)].collect().toSeq
    assert(batch == Seq((1L, 1L)) && viaFrozen == batch)
  }

  test("Curate.corpus: one curation with an eval set runs at most 14 Spark jobs") {
    val docs = genDocs.localCheckpoint()
    val evalDocs = genEval.localCheckpoint()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("-"))
    }
    sc.setJobDescription("caller")
    sc.addSparkListener(listener)
    val out = try {
      val out = Curate.corpus(docs, "doc_id", "text", Some(evalDocs),
        Curate.CurateConfig(lineMaxDf = 5)).localCheckpoint()
      assert(sc.getLocalProperty("spark.job.description") == "caller",
        "the caller's job description must be restored")
      org.apache.spark.GraftSparkTestAccess.waitListenerBusEmpty(sc, 30000)
      out
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq
    assert(out.count() > 0)
    assert(seen.size <= 14, s"${seen.size} jobs: $seen")
    // the jobs that run while the stages are built carry their names,
    // the rest run at the caller's action
    assert(Set("curate: line dedup", "curate: near-dup",
      "curate: decontaminate").subsetOf(seen.toSet), s"$seen")
    assert(seen.forall(d => d.startsWith("curate: ") || d == "caller"),
      s"$seen")
  }
}
