package graft

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsofJoin

/** Property test: the distributed union + sorted-scan ASOF join must agree
  * with a naive per-label floor scan (the reference's TreeMap
  * floorEntry semantics, IcebergOfflineStore.java:118-200) on
  * arbitrary feature/label layouts — including equal timestamps,
  * entities with no history, and labels before any feature.
  */
class AsofPropertySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val genEntity = Gen.choose(1, 4).map(i => s"u$i")
  private val genTs = Gen.choose(0L, 50L).map(m => new Timestamp(t0 + m * 60000L))
  private val genFeature = Gen.oneOf("f1", "f2")

  private val genFeatures = Gen.listOfN(25,
    for { e <- genEntity; t <- genTs; f <- genFeature
          v <- Gen.choose(1, 999).map(_ / 10.0) } yield (e, t, f, v))
  private val genLabels = Gen.listOfN(8,
    for { e <- genEntity; t <- genTs } yield (e, t))

  test("asof join == naive floor scan on random layouts") {
    // deterministic seeds — 15 independently generated layouts
    (1 to 15).foreach { round =>
      val p = Gen.Parameters.default
      val feats = genFeatures(p, Seed(round * 7919L)).get
      val labels0 = genLabels(p, Seed(round * 104729L)).get
        val labels = labels0.zipWithIndex
          .map { case ((e, t), i) => (e, t, i.toLong, 1.0) }
        val featDf = feats.toDF("entity_id", "ts", "feature_name", "value_float")
        val labelDf = labels.toDF("entity_id", "ts", "event_id", "value")

        val got = AsofJoin.pointInTime(featDf, labelDf,
          "entity_id", "ts", "feature_name", "value_float",
          "event_id", "value", Seq("f1", "f2"), default = -9.0)
          .collect()
          .map(r => r.getAs[Long]("label_id") ->
            (r.getAs[Double]("f_f1"), r.getAs[Double]("f_f2"))).toMap

        // naive oracle: latest value at-or-before label ts; equal-ts
        // duplicates resolve to the greatest value — the operator's
        // documented deterministic tie-break (window ordered by
        // ..., fname, fval)
        def floor(e: String, t: Timestamp, f: String): Double =
          feats
            .filter { case (fe, ft, ff, _) =>
              fe == e && ff == f && !ft.after(t) }
            .sortBy { case (_, ft, _, v) => (ft.getTime, v) }
            .lastOption.map(_._4).getOrElse(-9.0)

        labels.foreach { case (e, t, id, _) =>
          assert(got(id) == (floor(e, t, "f1"), floor(e, t, "f2")),
            s"label $id entity $e ts $t")
        }
    }
  }

  test("asof edge cases == TreeMap floorEntry reference") {
    val day = 86400000L
    def at(d: Int) = new Timestamp(t0 + d * day)
    // (entity, ts, feature, value)
    val feats = Seq[(String, Timestamp, String, java.lang.Double)](
      (null, at(1), "f1", 5.0),             // a NULL entity is one entity
      ("u1", at(1), "f1", 1.0),
      ("u1", at(3), "f1", null),            // NULL value: ignored
      ("u1", at(4), "f2", 3.0),             // equal-ts duplicates:
      ("u1", at(4), "f2", 7.0),             //   the greatest wins
      ("u1", at(6), "f1", 2.0),             // stamped AT the label time
      ("u1", at(2), "f3", 9.0),             // not a view feature
      ("u1", at(-400), "f2", 8.0)) ++       // outside the lookback
      // neighbours: more entities than shuffle partitions, so several
      // share a partition — each keeps its own state
      (1 to 12).map(i => (s"n$i", at(i), if (i % 2 == 0) "f1" else "f2",
        java.lang.Double.valueOf(i.toDouble)))
    val labels: Seq[(String, Timestamp, Long)] = Seq(
      (null, at(2), 0L), ("u1", at(5), 1L), ("u1", at(6), 2L),
      ("u2", at(9), 3L),                    // no features at all
      ("u1", at(0), 4L)) ++
      (1 to 12).map(i => (s"n$i", at(20), 10L + i))
    val featDf = feats.toDF("entity_id", "ts", "feature_name", "value_float")
    val labelDf = labels.map { case (e, t, id) => (e, t, id, id * 0.5) }
      .toDF("entity_id", "ts", "event_id", "value")
    val names = Seq("f1", "f2")
    val got = AsofJoin.pointInTime(featDf, labelDf, "entity_id", "ts",
        "feature_name", "value_float", "event_id", "value", names,
        default = -1.0, lookbackDays = 180)
      .collect().map(r => r.getAs[Long]("label_id") ->
        ((Option(r.getAs[String]("entity_id")), r.getAs[Double]("label"),
          names.map(f => r.getAs[Double](s"f_$f"))))).toMap

    // per (entity, feature) a TreeMap by time, greatest value on equal
    // times, floorEntry at the label time inside the lookback
    val hist = feats.filter(_._4 != null)
      .groupBy(f => (Option(f._1), f._3)).map { case (k, rows) =>
        val m = new java.util.TreeMap[java.lang.Long, java.lang.Double]()
        rows.foreach { case (_, t, _, v) =>
          val old = m.get(t.getTime)
          if (old == null || old < v) m.put(t.getTime, v)
        }
        k -> m
      }
    val minLabel = labels.map(_._2.getTime).min
    val want = labels.map { case (e, t, id) =>
      id -> ((Option(e), id * 0.5, names.map { f =>
        hist.get((Option(e), f)).flatMap(m => Option(m.floorEntry(t.getTime)))
          .filter(_.getKey >= minLabel - 180 * day)
          .map(_.getValue.doubleValue).getOrElse(-1.0)
      }))
    }.toMap
    assert(labels.map(_._1).distinct.size > spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(got == want)
    // the cases the rows were built for
    assert(want(0L)._3 == Seq(5.0, -1.0) && want(1L)._3 == Seq(1.0, 7.0) &&
      want(2L)._3 == Seq(2.0, 7.0) && want(3L)._3 == Seq(-1.0, -1.0) &&
      want(4L)._3 == Seq(-1.0, -1.0))
  }
}
