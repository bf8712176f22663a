package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The packaged END-TO-END curation pipeline — one call from raw
  * crawl to training-ready corpus, in the stage order the published
  * pipelines converged on (RefinedWeb / Dolma / CCNet):
  *
  *   1. quality filter    — drop whole documents the composite
  *                          classifier rejects (the keep decision of
  *                          TextAnalysis.qualityClassifier);
  *   2. line dedup        — cut boilerplate lines repeated across
  *                          documents (Dedup.lineDedup), BEFORE
  *                          near-dup detection so shared nav/footer
  *                          text can neither mask real near-dups nor
  *                          manufacture false ones;
  *   3. document dedup    — exact → MinHash candidates → exact-verify
  *                          keep-min (Dedup.pipeline) over the
  *                          CLEANED text;
  *   4. decontamination   — drop documents sharing at least
  *                          `decontamMinOverlap` distinct n-grams with
  *                          the eval set (Dedup.decontaminate's rule).
  *
  * Returns (doc_id, text) survivors with stage-2-cleaned text; a
  * document left with no words (NULL, empty or whitespace-only text)
  * does not survive. Doc ids must be unique (every Dedup stage assumes
  * it): the quality gate and line dedup work per row, so two rows
  * sharing an id are gated one by one, and the survivors of a repeated
  * id are not specified.
  *
  * Plan. Each stage hands the next its surviving rows, text included,
  * so the composition has no doc_id joins of its own:
  *  - quality: with the default lm band (`minLmScore <= 0`,
  *    `maxLmScore` = +Inf) the lm_score rule cannot fail a document
  *    (TextAnalysis.lmBandBinds), and the gate is one per-row
  *    TextStats projection and filter (TextAnalysis.qualityGate). A
  *    bounded band needs the corpus vocabulary and keeps the
  *    classifier's plan, semi-joined on doc_id;
  *  - line dedup: one line-frequency aggregate and one per-doc
  *    reassembly (Dedup.keptLines); a doc left without lines is gone;
  *  - near-dup: Dedup.pipelineRows returns the surviving rows;
  *  - decontamination: the eval set's distinct shingles are collected
  *    once (Dedup.freezeEvalShingles; the eval side is small, the
  *    broadcast assumption decontaminate already makes) and each doc
  *    probes its own shingles against them (Dedup.scrubFrozen): no
  *    corpus explode, no shuffle, no anti-join.
  *
  * A curation holds three corpus-sized lazy joints (localCheckpoint,
  * materialized at first use, reclaimed by the ContextCleaner): the
  * gate's output, read twice by line dedup (the frequent lines and the
  * reassembly), which would otherwise run the gate's TextStats pass
  * twice; the cleaned text, read by the dedup's exact and short-doc
  * branches; and the dedup's exact survivors with their shingle
  * hashes, read by the band keys, both verify sides and the output.
  * The dedup's near-drop list is a fourth, small joint.
  *
  * Jobs that run while a stage is built carry its job description
  * (`curate: quality`, `curate: line dedup`, `curate: near-dup`,
  * `curate: decontaminate`); the caller's description is restored
  * after each. The last jobs — the near-drop list's broadcast and the
  * survivors' scan — run at the caller's action.
  */
object Curate {

  case class CurateConfig(
      quality: Option[TextAnalysis.QualityThresholds] =
        Some(TextAnalysis.QualityThresholds()),
      lineDedup: Boolean = true,
      lineMaxDf: Int = 10,
      lineMinChars: Int = 5,
      dedupN: Int = 3,
      dedupThreshold: Double = 0.8,
      decontamN: Int = 3,
      decontamMinOverlap: Long = 1L) {
    require(decontamMinOverlap >= 1,
      s"decontamMinOverlap must be >= 1, got $decontamMinOverlap")
  }

  def corpus(docs: DataFrame, idCol: String, textCol: String,
             evalDocs: Option[DataFrame] = None,
             cfg: CurateConfig = CurateConfig()): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    // the caller's description (or its absence) is restored after each
    def stage[T](name: String)(body: => T): T = {
      val key = "spark.job.description"
      val caller = sc.getLocalProperty(key)
      sc.setLocalProperty(key, s"curate: $name")
      try body finally sc.setLocalProperty(key, caller)
    }
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val gated = stage("quality") {
      (cfg.quality match {
        case Some(th) if !TextAnalysis.lmBandBinds(th) =>
          TextAnalysis.qualityGate(docs, idCol, textCol, th)
        case Some(th) =>
          val kept = TextAnalysis.qualityClassifier(docs, idCol, textCol, th)
            .filter(col("keep")).select("doc_id")
          base.join(kept, Seq("doc_id"), "left_semi")
        case None => base.filter(col("doc_id").isNotNull)
      }).localCheckpoint(false)
    }
    // A document whose cleaned text has no words is not training data.
    // Dedup passes short and empty docs around its exact-hash stage
    // (keepList's contract), so without this filter every copy of a
    // document that line dedup emptied would survive.
    val cleaned = stage("line dedup") {
      (if (cfg.lineDedup)
        Dedup.keptLines(gated, "doc_id", "text", cfg.lineMaxDf,
            cfg.lineMinChars)
          .select(col("doc_id"), col("text_clean").as("text"))
      else gated)
        .filter(col("text").rlike("\\S"))
        .localCheckpoint(false)
    }
    val deduped = stage("near-dup") {
      Dedup.pipelineRows(cleaned, cfg.dedupN, cfg.dedupThreshold)
    }
    evalDocs match {
      case Some(ev) => stage("decontaminate") {
        val evalShingles = Dedup.freezeEvalShingles(ev, "text", cfg.decontamN)
        Dedup.scrubFrozen(deduped, "text", evalShingles, cfg.decontamN,
          cfg.decontamMinOverlap)
      }
      case None => deduped
    }
  }
}
