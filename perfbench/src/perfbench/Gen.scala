package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Zipf-distributed ranks 0 until n with exponent s, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** EAV feature history: record i is (entity(ent(i)), feature(feat(i)),
  * value(i), ts(i), commit(i)). */
final class Records(val nEntities: Int, val features: IndexedSeq[String],
                    val ent: Array[Int], val feat: Array[Int],
                    val ts: Array[Long], val value: Array[Double],
                    val commit: Array[Long]) {
  def size: Int = ent.length
}

object Records {
  def concat(parts: Seq[Records]): Records = new Records(
    parts.head.nEntities, parts.head.features,
    parts.flatMap(_.ent).toArray, parts.flatMap(_.feat).toArray,
    parts.flatMap(_.ts).toArray, parts.flatMap(_.value).toArray,
    parts.flatMap(_.commit).toArray)
}

/** Generated text corpus with the facts the output checks need. */
final class Corpus(val texts: Array[String], val evalTexts: Array[String],
                   val exactCopies: Seq[Int], val contaminated: Seq[Int])

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test only ever sees the parquet shards they write. */
object Gen {
  val DayMs: Long = 86400000L
  /** 2024-01-01T00:00:00Z, the start of every generated history. */
  val T0: Long = 1704067200000L

  def entityId(i: Int): String = f"u$i%07d"
  def featureNames(n: Int): IndexedSeq[String] = (0 until n).map(i => f"x$i%02d")
  private def money(r: SplittableRandom): Double =
    math.rint(r.nextDouble() * 100000) / 100

  /** An independent random stream per (seed, stream). Both are hashed:
    * SplittableRandom's own step is 0x9E3779B97F4A7C15, so seeds that
    * differ by a multiple of it would give the same sequence, shifted. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed) + stream))

  /** The 64-bit finalizer of MurmurHash3. */
  private def mix64(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** A seeded permutation, so hot Zipf ranks land on scattered ids. */
  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** Shard `shard` of `n` skewed records over `days` of history: entity
    * activity is Zipf(1.0) over a seeded permutation shared by all
    * shards, so a few hot entities hold a large share of the rows. */
  def skewedShard(seed: Long, shard: Int, shards: Int, nEntities: Int,
                  nFeatures: Int, n: Int, days: Int): Records = {
    val hot = permutation(nEntities, rng(seed, -1))
    val z = new Zipf(nEntities, 1.0)
    val r = rng(seed, shard)
    val m = n / shards
    val ent = new Array[Int](m)
    val feat = new Array[Int](m)
    val ts = new Array[Long](m)
    val value = new Array[Double](m)
    var i = 0
    while (i < m) {
      ent(i) = hot(z.sample(r))
      feat(i) = r.nextInt(nFeatures)
      ts(i) = T0 + r.nextLong(days * DayMs)
      value(i) = money(r)
      i += 1
    }
    new Records(nEntities, featureNames(nFeatures), ent, feat, ts, value,
      Array.tabulate(m)(i => commitId(shard, i)))
  }

  /** Shard `shard` of a snapshot history: its slice of the entities gets
    * one to two records for 90% of (entity, feature) pairs; the rest stay
    * missing so materialization default-fills them. */
  def snapshotShard(seed: Long, shard: Int, shards: Int, nEntities: Int,
                    nFeatures: Int, days: Int): Records = {
    val r = rng(seed, shard)
    val ent = ArrayBuffer.empty[Int]
    val feat = ArrayBuffer.empty[Int]
    val ts = ArrayBuffer.empty[Long]
    val value = ArrayBuffer.empty[Double]
    for (e <- shard * nEntities / shards until (shard + 1) * nEntities / shards;
         f <- 0 until nFeatures if r.nextInt(10) != 0; _ <- 0 to r.nextInt(2)) {
      ent += e; feat += f
      ts += T0 + r.nextLong(days * DayMs)
      value += money(r)
    }
    new Records(nEntities, featureNames(nFeatures), ent.toArray,
      feat.toArray, ts.toArray, value.toArray,
      Array.tabulate(ent.size)(i => commitId(shard, i)))
  }

  private def commitId(shard: Int, i: Int): Long = (shard.toLong << 32) | i

  /** Label events (entity, ts, label) with the same entity skew as the
    * history, stamped inside its last `days - fromDay` days. */
  def labels(seed: Long, nEntities: Int, n: Int, fromDay: Int,
             days: Int): (Array[Int], Array[Long], Array[Double]) = {
    val hot = permutation(nEntities, rng(seed, -1))
    val z = new Zipf(nEntities, 1.0)
    val r = rng(seed, -2)
    val ent = Array.fill(n)(hot(z.sample(r)))
    val ts = Array.fill(n)(T0 + fromDay * DayMs +
      r.nextLong((days - fromDay) * DayMs))
    val label = Array.fill(n)(r.nextInt(2).toDouble)
    (ent, ts, label)
  }

  val recordSchema: StructType = StructType(Seq(
    StructField("entity_id", StringType, nullable = false),
    StructField("feature_name", StringType, nullable = false),
    StructField("value_float", DoubleType, nullable = false),
    StructField("event_time", TimestampType, nullable = false),
    StructField("commit_id", LongType, nullable = false)))

  /** Writes driver-side `rows` as `shards` parquet files under `dir`. */
  def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType,
                shards: Int, dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, shards), schema)
      .write.parquet(dir)

  /** Writes one parquet file per shard under `dir`; each shard's records
    * are generated by the task that writes them. Returns all records,
    * generated again on the driver for the output checks. */
  def writeRecords(spark: SparkSession, shards: Int, dir: String)
                  (shard: Int => Records): Records = {
    val rows = spark.sparkContext.parallelize(0 until shards, shards).flatMap { s =>
      val rec = shard(s)
      Iterator.tabulate(rec.size)(i => Row(entityId(rec.ent(i)),
        rec.features(rec.feat(i)), rec.value(i), new Timestamp(rec.ts(i)),
        rec.commit(i)))
    }
    spark.createDataFrame(rows, recordSchema).write.parquet(dir)
    Records.concat((0 until shards).map(shard))
  }

  /** A corpus of `n` documents over a Zipf vocabulary: 10% exact copies
    * of earlier documents, 10% near copies with ~3% of tokens replaced,
    * shared boilerplate lines in 40% of documents, and `nEval` eval
    * documents that each quote a 12-token span of one otherwise
    * uncopied corpus document. */
  def corpus(r: SplittableRandom, n: Int, nEval: Int): Corpus = {
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 20000) {
        val len = 3 + r.nextInt(7)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toIndexedSeq
    }
    val z = new Zipf(vocab.size, 1.0)
    def words(k: Int): IndexedSeq[String] = (0 until k).map(_ => vocab(z.sample(r)))
    val boilerplate = (0 until 12).map(_ => words(8 + r.nextInt(5)).mkString(" "))
    // each document as lines; line 0 is always unique text
    val lines = new Array[IndexedSeq[String]](n)
    val copiedFrom = Array.fill(n)(-1)
    val exact = ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      val roll = r.nextInt(10)
      if (i >= 20 && roll == 0) {
        val src = r.nextInt(i)
        lines(i) = lines(src); copiedFrom(i) = src; exact += i
      } else if (i >= 20 && roll == 1) {
        val src = r.nextInt(i)
        lines(i) = lines(src).map { l =>
          if (boilerplate.contains(l)) l
          else l.split(" ").map(w => if (r.nextInt(33) == 0) vocab(z.sample(r)) else w)
            .mkString(" ")
        }
        copiedFrom(i) = src
      } else {
        val body = (0 until 4 + r.nextInt(4))
          .map(_ => words(12 + r.nextInt(19)).mkString(" "))
        lines(i) =
          if (r.nextInt(10) < 4)
            (0 until 1 + r.nextInt(2)).foldLeft(body) { (acc, _) =>
              val at = 1 + r.nextInt(acc.size)
              (acc.take(at) :+ boilerplate(r.nextInt(boilerplate.size))) ++ acc.drop(at)
            }
          else body
      }
    }
    val copied = copiedFrom.filter(_ >= 0).toSet
    val sources = (0 until n).filter(i => copiedFrom(i) < 0 && !copied(i))
    val chosen = permutation(sources.size, r).take(nEval).map(sources(_)).sorted
    val evalTexts = chosen.map { i =>
      val line = lines(i)(0).split(" ")
      val at = r.nextInt(line.length - 11)
      (line.slice(at, at + 12) ++ words(20)).mkString(" ")
    }
    new Corpus(lines.map(_.mkString("\n")), evalTexts, exact.toSeq,
      chosen.toSeq)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def writeDocs(spark: SparkSession, texts: Array[String], shards: Int,
                dir: String): Unit =
    writeRows(spark, texts.indices.map(i => Row(i.toLong, texts(i))),
      docSchema, shards, dir)
}
