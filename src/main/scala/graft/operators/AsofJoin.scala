package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Point-in-time (ASOF) join: for each label event, the latest value of
  * each feature at-or-before the label's event time.
  *
  * Re-expresses the reference's
  * IcebergOfflineStore.generateTrainingDataset (reference
  * src/main/java/.../store/offline/IcebergOfflineStore.java:118-200),
  * which builds a driver-side TreeMap per (entity, feature) and calls
  * floorEntry per label — single-node, O(history) driver memory.
  *
  * Spark-first design: UNION the label stream into the feature stream,
  * hash-shuffle once on the entity, sort each partition by (entity,
  * ts, kind, label_id, fname, fval), then ONE streaming pass per
  * entity that keeps the latest non-null value of each feature and
  * emits a row only for labels. No label×history join blowup, and a
  * task holds O(features) state: the sort spills like any external
  * sort, and nothing buffers an entity's history, so a hot (Zipf)
  * entity costs sort work, not memory. The lookback filter prunes
  * event_time partitions before the shuffle.
  */
object AsofJoin {

  /** @param features EAV rows (entityCol, tsCol, nameCol, valueCol)
    * @param labels   label rows (entityCol, tsCol, labelIdCol, labelCol)
    * @param featureNames fixed, ordered feature list (the view schema)
    * @param default  value used when no feature row precedes the label
    * @param labelWindowStart when the caller knows the earliest label
    *   time, pass it to prune feature history with a constant the scan
    *   can push down. When None, the bound is derived LAZILY from a
    *   broadcast single-row min — no job runs until the plan executes,
    *   honoring the facade's "nothing executes until an action"
    *   contract (at the cost of pruning post-scan instead of at the
    *   parquet reader).
    */
  def pointInTime(features: DataFrame, labels: DataFrame,
                  entityCol: String, tsCol: String, nameCol: String,
                  valueCol: String, labelIdCol: String, labelCol: String,
                  featureNames: Seq[String], default: Double,
                  lookbackDays: Int = 180,
                  labelWindowStart: Option[java.sql.Timestamp] = None)
  : DataFrame = {
    require(featureNames.distinct.size == featureNames.size,
      s"duplicate feature names: ${featureNames.diff(featureNames.distinct)}")
    val lookback = expr(s"INTERVAL $lookbackDays DAYS")
    val pruned = labelWindowStart match {
      case Some(start) =>
        features.filter(col(tsCol) >= lit(start) - lookback)
      case None =>
        val minTs = labels.agg(min(col(tsCol)).as("__min_label_ts"))
        features.crossJoin(broadcast(minTs))
          .filter(col(tsCol) >= col("__min_label_ts") - lookback)
          .drop("__min_label_ts")
    }
    val featSide = pruned
      .filter(col(nameCol).isin(featureNames: _*)) // prune non-view features at scan
      .select(
        col(entityCol).as("entity_id"), col(tsCol).as("ts"),
        lit(0).as("kind"), lit(-1L).as("label_id"),
        lit(null).cast("double").as("label"),
        col(nameCol).as("fname"), col(valueCol).as("fval"))
    val labelSide = labels.select(
      col(entityCol).as("entity_id"), col(tsCol).as("ts"),
      lit(1).as("kind"), col(labelIdCol).cast("long").as("label_id"),
      col(labelCol).cast("double").as("label"),
      lit(null).cast("string").as("fname"),
      lit(null).cast("double").as("fval"))

    val unioned = featSide.unionByName(labelSide)
    // Feature rows sort before label rows at equal ts (kind 0 < 1), so a
    // feature stamped exactly at the label time IS visible — matching the
    // reference's floorEntry (<=) semantics. fname/fval complete the
    // ordering so equal-timestamp duplicate feature rows resolve
    // deterministically (greatest value wins) on any cluster layout.
    val in = unioned.schema
    val outSchema = StructType(
      Seq(in("entity_id"), in("label_id"), in("label")) ++
      featureNames.map(f => StructField(s"f_$f", DoubleType, nullable = false)))
    unioned.groupBy(col("entity_id"))
      .as[Row, Row](Encoders.row(StructType(Seq(in("entity_id")))),
        Encoders.row(in))
      .flatMapSortedGroups(col("ts"), col("kind"), col("label_id"),
        col("fname"), col("fval"))(
        scanEntity(featureNames.zipWithIndex.toMap, default, in) _)(
        Encoders.row(outSchema))
  }

  /** The per-entity pass over one entity's rows in ASOF order: the
    * running latest non-null value of each feature, emitted (default
    * where unseen) at every label row. */
  private def scanEntity(index: Map[String, Int], default: Double,
                         in: StructType)(key: Row, rows: Iterator[Row])
  : Iterator[Row] = {
    val (kind, labelId, label, fname, fval) = (in.fieldIndex("kind"),
      in.fieldIndex("label_id"), in.fieldIndex("label"),
      in.fieldIndex("fname"), in.fieldIndex("fval"))
    val latest = Array.fill(index.size)(default)
    rows.flatMap { r =>
      if (r.getInt(kind) == 0) {
        if (!r.isNullAt(fval)) latest(index(r.getString(fname))) = r.getDouble(fval)
        Iterator.empty
      } else {
        Iterator.single(Row.fromSeq(
          Seq(key.get(0), r.get(labelId), r.get(label)) ++ latest))
      }
    }
  }
}
