package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming point-in-time (ASOF) enrichment — the continuous twin of
  * AsofJoin.pointInTime: every label event is emitted exactly once,
  * carrying the latest value of each feature at-or-before its event
  * time, with the batch operator's floor/tie semantics (feature at
  * exactly the label ts is visible; equal-ts duplicate features
  * resolve to the greatest value). One divergence to mind: the batch
  * operator prunes features older than `lookbackDays` before the
  * earliest label, while the stream's floor value has no age unless
  * `maxFeatureAgeMs` is set — set it to the same horizon when
  * training (batch) and serving (stream) must agree on entities whose
  * features have gone stale.
  *
  * Shape: both streams are tagged and unioned, then
  * flatMapGroupsWithState per entity holds (a) the pending labels not
  * yet ripe and (b) the feature timeline. A label is ripe once the
  * WATERMARK passes its event time — no earlier feature can still
  * arrive, so the emitted vector is final (exactly-once, append mode).
  *
  * State stays bounded on an unbounded stream: ripe labels leave the
  * state when emitted, and the feature timeline keeps, per feature
  * name, only the single latest value at-or-before the watermark
  * (anything older is dominated for every future label) plus the
  * not-yet-final values ahead of it. That per-entity floor value is
  * the serving state a feature store keeps anyway — it never times
  * out; use `idleTtl` to reap entities that stop producing entirely.
  */
object StreamingAsof {

  case class FeatureUpdate(entity_id: String, ts: Timestamp,
                           feature_name: String, value: Double)
  case class LabelEvent(entity_id: String, ts: Timestamp,
                        label_id: Long, label: Double)

  case class Tagged(entity_id: String, ts: Timestamp,
                            is_label: Boolean, name: String,
                            value: Double, label_id: Long)

  /** (ts_ms, name, value) timeline + (ts_ms, label_id, label) pending. */
  case class AsofState(features: List[(Long, String, Double)],
                               labels: List[(Long, Long, Double)])

  case class Enriched(entity_id: String, label_id: Long, ts_ms: Long,
                      label: Double, features: Map[String, Double])

  /** @param watermarkDelay how long to admit out-of-order events
    *   (e.g. "10 minutes") — also the emission latency of a label
    * @param featureNames fixed, ordered feature list (the view schema)
    * @param default value when no feature row precedes the label
    * @param idleTtlMs when > 0, an entity with no pending labels whose
    *   last feature is older than this (vs the watermark) is dropped
    *   from state — bounded memory under key churn; a label arriving
    *   after the TTL sees `default`, exactly as if the history expired
    * @param maxFeatureAgeMs when > 0, a feature older than this at the
    *   label's event time does not count as its floor (the label sees
    *   `default`) — the streaming analogue of the batch lookback
    *   horizon, and a staleness SLA: a silent upstream must not keep
    *   serving its last value forever
    */
  def enrich(features: Dataset[FeatureUpdate], labels: Dataset[LabelEvent],
             watermarkDelay: String, featureNames: Seq[String],
             default: Double, idleTtlMs: Long = -1L,
             maxFeatureAgeMs: Long = -1L): Dataset[Enriched] = {
    val spark = features.sparkSession
    import spark.implicits._
    val wanted = featureNames.toSet
    // Watermark AFTER the map: deserialize/serialize re-creates the ts
    // attribute, and the event-time tag must live on the column that
    // actually reaches flatMapGroupsWithState.
    val f = features
      .filter(col("feature_name").isin(featureNames: _*))
      .map(u => Tagged(u.entity_id, u.ts, is_label = false,
        u.feature_name, u.value, -1L))
      .withWatermark("ts", watermarkDelay)
    val l = labels
      .map(e => Tagged(e.entity_id, e.ts, is_label = true, "",
        e.label, e.label_id))
      .withWatermark("ts", watermarkDelay)
    f.union(l)
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[AsofState, Enriched](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (entity, batch, state: GroupState[AsofState]) =>
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(AsofState(Nil, Nil))
          batch.foreach { e =>
            val t = e.ts.getTime
            if (e.is_label)
              st = st.copy(labels = (t, e.label_id, e.value) :: st.labels)
            else if (wanted.contains(e.name))
              st = st.copy(features = (t, e.name, e.value) :: st.features)
          }
          // Ripe = watermark STRICTLY past the label's event time: an
          // event AT the watermark is not yet late, so an equal-ts
          // feature could still arrive — the label waits one more
          // watermark advance and the emitted vector is final.
          val (ripe, pending) = st.labels.partition(_._1 < wm)
          val out = ripe.sortBy(lb => (lb._1, lb._2)).map {
            case (lt, lid, lv) =>
              val view = featureNames.map { n =>
                // floor semantics: latest ts <= label ts; tie on ts →
                // greatest value (matches the batch sorted scan's ordering)
                val v = st.features.iterator
                  .filter(fr => fr._2 == n && fr._1 <= lt &&
                    (maxFeatureAgeMs <= 0 || lt - fr._1 <= maxFeatureAgeMs))
                  .foldLeft(Option.empty[(Long, Double)]) { (best, fr) =>
                    best match {
                      case Some((bt, bv)) if bt > fr._1 ||
                        (bt == fr._1 && bv >= fr._3) => best
                      case _ => Some((fr._1, fr._3))
                    }
                  }
                n -> v.map(_._2).getOrElse(default)
              }.toMap
              Enriched(entity, lid, lt, lv, view)
          }
          // Timeline pruning: per name, the single dominant value
          // at-or-before the watermark, plus everything still ahead.
          // Under a feature-age SLA, values already older than the
          // horizon at the watermark can never serve a future label
          // (future labels have ts >= wm) — drop them too.
          val keep = st.features.groupBy(_._2).iterator.flatMap {
            case (_, frs) =>
              val (past, future) = frs.partition(_._1 <= wm)
              val floor = past.sortBy(fr => (fr._1, fr._3)).lastOption
              future ++ floor.toList
          }.filter(fr =>
            maxFeatureAgeMs <= 0 || wm - fr._1 <= maxFeatureAgeMs).toList
          val idle = pending.isEmpty && idleTtlMs > 0 &&
            keep.forall(_._1 + idleTtlMs <= wm)
          if ((keep.isEmpty && pending.isEmpty) || idle) state.remove()
          else {
            state.update(AsofState(keep, pending))
            if (pending.nonEmpty)
              // fire as soon as the watermark passes the earliest
              // pending label (clamped above wm — a pending label can
              // sit exactly AT the watermark)
              state.setTimeoutTimestamp(
                math.max(pending.map(_._1).min, wm + 1))
            else if (idleTtlMs > 0)
              state.setTimeoutTimestamp(
                keep.map(_._1).max + idleTtlMs)
          }
          out.iterator
      }
  }

  /** Wide-column projection of [[enrich]]'s map output — the batch
    * pointInTime schema (entity_id, label_id, label, f_<name>...). */
  def widen(enriched: Dataset[Enriched], featureNames: Seq[String])
  : DataFrame =
    enriched.select(
      col("entity_id") +: col("label_id") +: col("ts_ms") +:
        col("label") +:
        featureNames.map(n =>
          element_at(col("features"), n).as(s"f_$n")): _*)
}
