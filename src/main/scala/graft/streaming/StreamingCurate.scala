package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** The INGEST-TIME curation chain as one streaming pipeline — the
  * micro-batch twin of [[graft.operators.Curate]]'s batch stage
  * order, built entirely from the engine's frozen policies so every
  * decision is a versioned artifact, not a per-batch refit:
  *
  *   1. quality gate     — the frozen-vocabulary composite classifier
  *                         ([[TextAnalysis.qualityClassifierFrozen]]),
  *                         a row-local projection;
  *   2. exact dedup      — first arrival of each normalized content
  *                         fingerprint wins ([[StreamingDedup]]'s
  *                         per-key state — no global structure);
  *   3. decontamination  — the frozen eval shingle set probed by the
  *                         codegen ShingleOverlap expression (one
  *                         pass, no join); contaminated docs DROP.
  *
  * Stages 1 and 3 are stateless projections (identical plans in
  * batch and streaming); stage 2 is the only stateful operator, its
  * state one boolean per distinct fingerprint, sharded by the
  * groupByKey shuffle. The spec holds the streamed survivors equal
  * to the batch chain (frozen quality filter → keep-min exact dedup
  * → decontamination drop) when arrivals respect id order.
  */
object StreamingCurate {

  /** `docs` must carry (doc_id: long, text: string). Returns the
    * curated (doc_id, text) stream. */
  def curate(docs: DataFrame, vocab: Map[String, Long],
             totalTokens: Long,
             th: TextAnalysis.QualityThresholds,
             evalShingles: Array[Long], shingleN: Int,
             minOverlap: Long = 1L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val gated = TextAnalysis.qualityClassifierFrozen(docs, "doc_id",
        "text", vocab, totalTokens, th = th, keepText = true)
      .filter(col("keep"))
      .select(col("doc_id").as("doc_id"), col("text").as("text"))
    val deduped = StreamingDedup.firstArrivals(
      gated.as[StreamingDedup.Doc])
    Dedup.scrubFrozen(deduped.toDF(), "text", evalShingles, shingleN,
        minOverlap)
      .select("doc_id", "text")
  }
}
