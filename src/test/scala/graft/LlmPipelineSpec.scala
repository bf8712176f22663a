package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmPipelineSpec extends AnyFunSuite {
  import graft.operators.{Ann, Dedup, FeatureEng, MultiModal, TextAnalysis}

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ngramJaccard finds injected near-dups and excludes distant docs") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),   // one shingle off → high jaccard
      (3L, "z y x w v u t s")    // disjoint
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("ngramJaccard maxDf caps stop-shingle fan-out but keeps real dups") {
    val boiler = "x1 x2 x3 x4"  // shared by every doc (stop-shingles)
    val docs = Seq(
      (1L, s"$boiler a b c d e f g h"),
      (2L, s"$boiler a b c d e f g i"),
      (3L, s"$boiler q r s t u v w z")
    ).toDF("doc_id", "text")
    // df cap of 2 drops the 3-doc boilerplate shingles from pair
    // generation; the (1,2) near-dup still surfaces via its own overlap
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.3, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhashLsh candidates include true near-dups") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k m"),
      (3L, "q r s t u v w x y z a0 a1")
    ).toDF("doc_id", "text")
    val cand = Dedup.minhashLsh(docs, "doc_id", "text", 3, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)) || !cand.contains((2L, 3L)))
  }

  test("ccnetPipeline: keep == the non-tail of the full per-lang ranking; short docs drop; langs well-formed") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    // hiCut=1.0 keeps EVERYTHING that can be ranked — the full
    // ranked universe the default gate filters
    val all = TextAnalysis.ccnetPipeline(docs, "doc_id", "text",
        hiCut = 1.0).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(4))).toMap
    val kept = TextAnalysis.ccnetPipeline(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(4),
        r.getString(5)))
    // the keep gate IS pr < 2/3 over the same ranking
    val wantKeep = all.filter(_._2._2 < 2.0 / 3).keySet
    assert(kept.map(_._1).toSet == wantKeep)
    kept.foreach { case (id, lang, pr, bucket) =>
      assert(all(id)._1 == lang && all(id)._2 == pr)
      assert(bucket == (if (pr < 1.0 / 3) "head" else "middle"))
      assert(Set("en", "es", "fr", "de", "und")(lang))
    }
    // docs with < 2 words have no bigrams → never ranked, never kept
    val short = docs.filter(size(split(col("text"), " ")) < 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.map(_._1).toSet.intersect(short).isEmpty)
  }

  test("ccnetPipelineFt: the frozen ft-langid twin equals the heuristic pipeline on the agreeing subset") {
    import graft.operators.FtClassify
    val docs = Tables.documents(spark, TestSpark.sfDir)
    // bootstrap the production assigner ON the heuristic's labels
    // (CCNet's own shape: fastText langid trained on a labeled seed)
    val heur = TextAnalysis.langId(docs, "doc_id", "text")
      .select(col("doc_id"), col("pred_lang"))
    val seed = docs.select("doc_id", "text").join(heur, "doc_id")
    val model = FtClassify.trainMc(seed, "doc_id", "text", "pred_lang",
      nBuckets = 512, dim = 4, epochs = 10)
    val pred = FtClassify.scoreFrozenMc(docs, "doc_id", "text", model)
      .select(col("doc_id"), col("pred_label"))
    val joined = heur.join(pred, "doc_id")
    val nAll = joined.count()
    val agreeIds = joined
      .filter(col("pred_lang") === col("pred_label"))
      .select("doc_id")
    val nAgree = agreeIds.count()
    // trained on the heuristic's own labels, the scorer should mostly
    // reproduce them — the twin is meaningful, not vacuous
    assert(nAgree.toDouble / nAll >= 0.7,
      s"assigners agree on only $nAgree/$nAll docs")
    // on the agreeing subset the two pipelines are the SAME function
    // of (doc_id, ws, lang) — row-identical end to end
    val sub = docs.join(agreeIds, "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getString(5))).toSet
    val a = rows(TextAnalysis.ccnetPipeline(sub, "doc_id", "text"))
    val b = rows(TextAnalysis.ccnetPipelineFt(sub, "doc_id", "text", model))
    assert(a == b, s"twin diverged: onlyHeur=${(a -- b).take(3)} " +
      s"onlyFt=${(b -- a).take(3)}")
    assert(a.nonEmpty)
  }

  test("gramProject: near-dups near-parallel, disjoint docs not; vectors distill into the ANN float tier") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"), // one word off
      (3L, "q r s t u v w x y z z1 z2 z3 z4 z5 z6"),
      (4L, "a b")                              // < n words → drops
    ).toDF("doc_id", "text")
    val pairs = Dedup.gramProjectPairs(docs, "doc_id", "text",
        n = 3, dim = 16, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet == Set((1L, 2L)), s"got $pairs")
    // the vectors feed the existing float ANN machinery losslessly:
    // components are small integers, so the float cast is exact and
    // the float-side cosine ranks doc 2 as doc 1's nearest neighbor
    val fv = Dedup.gramProjectVectors(docs, "doc_id", "text", 3, 16)
      .select(col("doc_id"), col("gv").cast("array<float>").as("fv"))
    import graft.functions.VectorExpressions.dotF
    val top = fv.as("a").join(fv.as("b"), col("a.doc_id") =!= col("b.doc_id"))
      .filter(col("a.doc_id") === 1L)
      .select(col("b.doc_id"),
        (dotF(col("a.fv"), col("b.fv")) /
          (sqrt(dotF(col("a.fv"), col("a.fv"))) *
            sqrt(dotF(col("b.fv"), col("b.fv"))))).as("c"))
      .orderBy(col("c").desc).head()
    assert(top.getLong(0) == 2L)
    intercept[IllegalArgumentException] { // one md5 draw = 31 signs max
      Dedup.gramProjectVectors(docs, "doc_id", "text", 3, 32)
    }
  }

  test("minhashMd5Pairs: verified near-dups surface, distant docs do not, short docs drop") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k m"),
      (3L, "q r s t u v w x y z a0 a1"),
      (4L, "a b")                       // < n words → no signature
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashMd5Pairs(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys == Set((1L, 2L)))
    assert(pairs.forall(_.getDouble(3) >= 0.5))
  }

  test("minhash two-family recall contract: md5 pairs == xxhash64-verified pairs on the gate corpus; J=1 recall 1.0 in both") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val t = 0.8
    // exact ground truth at the declared threshold (uncapped)
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 3, t, maxDf = 0)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // md5 family: precision 1.0 — every emitted pair IS an exact pair,
    // with the identical jaccard value
    val md5Pairs = Dedup.minhashMd5Pairs(docs, "doc_id", "text",
        3, 16, 4, t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    md5Pairs.foreach { case (k, j) =>
      assert(exact.get(k).contains(j), s"md5 pair $k not exact or jaccard drifted") }
    // xxhash64 production family: same candidates-then-verify recipe
    val xxVerified = Dedup.minhashLsh(docs, "doc_id", "text", 3, 16, 4)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(k => exact.get(k).exists(_ >= t))
    // J=1 (byte-identical shingle sets) collide on ALL bands in BOTH
    // families — recall 1.0 by construction
    val exactDups = exact.filter(_._2 == 1.0).keySet
    exactDups.foreach { k =>
      assert(md5Pairs.contains(k), s"md5 family missed exact dup $k")
      assert(xxVerified.contains(k), s"xxhash64 family missed exact dup $k")
    }
    // on the gate corpus the two families' verified sets agree — the
    // recall contract the production family is held to (deterministic:
    // both families are RNG-free, so this is a fixture fact, not luck)
    assert(md5Pairs.keySet == xxVerified,
      s"families disagree: md5-only=${md5Pairs.keySet -- xxVerified} " +
        s"xx-only=${xxVerified -- md5Pairs.keySet}")
  }

  test("simhashMd5Pairs banding recall: EVERY pair within maxHamming found (vs brute force); exact dups at hamming 0 in both families") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val (dim, h) = (31, 2)
    val sigs = Dedup.simhashMd5Signatures(docs, "doc_id", "text", dim)
      .localCheckpoint(false)
    val brute = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long")
          .as("ham"))
      .filter(col("ham") <= h)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val banded = Dedup.simhashMd5Pairs(docs, "doc_id", "text", dim, h)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(banded == brute,
      s"pigeonhole must recover exactly the brute-force set: " +
        s"missing=${(brute.keySet -- banded.keySet).take(3)} " +
        s"extra=${(banded.keySet -- brute.keySet).take(3)}")
    // byte-identical texts: hamming 0 in BOTH families by construction
    val twin = docs.limit(1).select(lit(999999L).as("doc_id"),
      col("text"))
    val withTwin = docs.select("doc_id", "text").union(twin)
    val origId = docs.limit(1).select("doc_id").head().getLong(0)
    val md5Pair = Dedup.simhashMd5Pairs(withTwin, "doc_id", "text",
        dim, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(md5Pair.contains((origId, 999999L)))
    val fnvPair = Dedup.simhashPairs(withTwin, "doc_id", "text", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fnvPair.contains((origId, 999999L)))
  }

  test("simhash two-family recall contract: wide production family re-anchored to the md5 oracle family on the gate corpus") {
    // the minhash two-family precedent (md5 == xxhash64-verified)
    // applied to SimHash: q_simhash_md5's pairs are ORACLE-checked;
    // this ties the wide-FNV production family (q_dedup_simhash_wide)
    // to that anchored ground truth. (1) byte-identical texts pair at
    // hamming 0 in BOTH families by construction; (2) every
    // oracle-family pair whose WIDE hamming is within the production
    // radius is found by the production family (its banding is
    // brute-held on its own signature, so this is the cross-family
    // recall statement, measured not assumed).
    import graft.functions.{Fns, SimHash64}
    val docs = Tables.documents(spark, TestSpark.sfDir)
    // (1) planted byte-identical twins (the gate corpus carries no
    // natural exact dups): id+10⁶ twins of two real docs
    val twinBase = docs.select("doc_id", "text").limit(2)
    val twins = twinBase.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    val withTwins = docs.select("doc_id", "text").union(twins)
    val dupPairs = twinBase.select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    val md5H0 = Dedup.simhashMd5Pairs(withTwins, "doc_id", "text",
        dim = 31, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wideH0 = Dedup.simhashPairsWide(withTwins, "doc_id", "text",
        maxHamming = 0, words = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    dupPairs.foreach { p =>
      assert(md5H0.contains(p), s"md5 family missed exact dup $p")
      assert(wideH0.contains(p), s"wide family missed exact dup $p")
    }
    // (2) oracle-family pairs at the declared (31, 1) dial, re-scored
    // on the wide signature: those within the production radius MUST
    // be production-family pairs
    val wideRadius = 12
    val oraclePairs = Dedup.simhashMd5Pairs(docs, "doc_id", "text",
        dim = 31, maxHamming = 1)
      .select("doc_a", "doc_b")
    val sigs = docs.select($"doc_id",
      SimHash64.simhash64($"text", 0).as("s0"),
      SimHash64.simhash64($"text", 1).as("s1"))
    val inRadius = oraclePairs
      .join(sigs.select($"doc_id".as("doc_a"), $"s0".as("a0"),
        $"s1".as("a1")), "doc_a")
      .join(sigs.select($"doc_id".as("doc_b"), $"s0".as("b0"),
        $"s1".as("b1")), "doc_b")
      .filter((Fns.hamming64($"a0", $"b0") +
        Fns.hamming64($"a1", $"b1")) <= wideRadius)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inRadius.nonEmpty,
      "some oracle-anchored pairs must fall inside the wide radius")
    val widePairs = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = wideRadius, words = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inRadius.subsetOf(widePairs),
      s"production family missed oracle-anchored pairs: " +
        s"${(inRadius -- widePairs).take(5)}")
  }

  test("simhashPairs: near-identical docs collide, distant do not") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("simhashPairs banding recall: EVERY pair within maxHamming found (vs brute force)") {
    // The pigeonhole contract: banding into maxHamming+1 segments must
    // recover exactly the pairs an all-pairs hamming scan finds. Run
    // against the real corpus so the signature distribution is adversarial
    // (near-dup clusters + background), at the declared threshold 6.
    import graft.functions.Fns
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
    val brute = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(Fns.hamming64($"a.sig", $"b.sig") <= 6)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"missed=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
    assert(brute.nonEmpty)
  }

  test("simhashPairsWide recall: banding equals brute force on the wide signature") {
    import graft.functions.{Fns, SimHash64}
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val sigs = docs.select($"doc_id",
      SimHash64.simhash64($"text", 0).as("s0"),
      SimHash64.simhash64($"text", 1).as("s1"))
    val brute = sigs.as("a").join(sigs.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter((Fns.hamming64($"a.s0", $"b.s0") +
               Fns.hamming64($"a.s1", $"b.s1")) <= 6)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashPairsWide(docs, "doc_id", "text",
      maxHamming = 6, words = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"missed=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
  }

  test("pipeline keeps identical SHORT docs, matching keepList's contract") {
    // docs under n words have no shingles: the exact path can never
    // pair them, so the pipeline's exact-hash stage must not drop them
    val docs = Seq(
      (1L, "hello world"), (2L, "hello world"),          // short dups
      (3L, "a b c d e f g h"), (4L, "a b c d e f g h")   // long dups
    ).toDF("doc_id", "text")
    val keep = Dedup.keepList(docs, "doc_id", "text", 3, 0.8, exact = true)
      .collect().map(_.getLong(0)).toSet
    val piped = Dedup.pipeline(docs, "doc_id", "text", 3, 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(keep == Set(1L, 2L, 3L))
    assert(piped == keep)
  }

  test("pipeline keeps NULL-text docs (size(NULL) fails both filter branches)") {
    val docs = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, "a b c d e f g h"), (3L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val piped = Dedup.pipeline(docs, "doc_id", "text", 3, 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(piped == Set(1L, 2L), "null-text doc must not silently vanish")
  }

  test("simhashPairs maxHamming=0: full-signature band, exact-sig pairs only") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o p"), // identical → same sig
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("pipeline (exact→minhash→verify) equals the exact keepList") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val exact = Dedup.keepList(docs, "doc_id", "text", 3, 0.8, exact = true)
      .collect().map(_.getLong(0)).toSet
    val piped = Dedup.pipeline(docs, "doc_id", "text", 3, 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(piped == exact,
      s"extraKept=${(piped -- exact).take(5)} extraDropped=${(exact -- piped).take(5)}")
  }

  test("repetitionMetrics: hand-computed ratios, short and degenerate docs") {
    val docs = Seq(
      (1L, "x x x y"),        // top word 3/4, distinct 2/4, top bigram 2/3
      (2L, "hi"),             // one word, no bigrams
      (3L, "a b a b a b a b") // perfect loop: top bigram ("a b") 4/7
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(m(1L) == ((4L, 0.75, 0.5, 0.666667)))
    assert(m(2L) == ((1L, 1.0, 1.0, 0.0)),
      "a doc with no bigrams must report ratio 0, not null")
    assert(m(3L) == ((8L, 0.5, 0.25, 0.571429))) // top bigram "a b" 4/7
  }

  test("lmScore: hand-computed unigram surprise, common text scores lower") {
    // corpus: "a a a b" + "a c" → counts a:4, b:1, c:1, total 6
    val docs = Seq((1L, "a a a b"), (2L, "a c")).toDF("doc_id", "text")
    val m = TextAnalysis.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val pa = 4.0 / 6; val pb = 1.0 / 6
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(m(1L) == ((4L, r4((3 * -math.log(pa) - math.log(pb)) / 4))))
    assert(m(2L) == ((2L, r4((-math.log(pa) - math.log(pb)) / 2))))
    // the all-common-words doc is less surprising than the rare-word one
    assert(m(1L)._2 < m(2L)._2)
  }

  test("qualityClassifier: each rule fires, fixed-order attribution, good doc keeps") {
    val th = TextAnalysis.QualityThresholds(
      minWords = 3L, maxWords = 100L,
      minAvgWordLen = 1.0, maxAvgWordLen = 10.0,
      minAlphaRatio = 0.5, minStopwordRatio = 0.0,
      maxTopWordRatio = 0.5, maxTopBigramRatio = 0.9,
      minDistinctRatio = 0.25)
    val docs = Seq(
      (1L, "aa bb"),                                      // 2 words
      (2L, "a" * 40 + " bb cc"),                          // avg word len 14.7
      (3L, "123 456 789 012"),                            // no alphas
      (4L, "zz zz zz zz zz aa bb cc dd"),                 // top word 5/9
      (5L, "ee ee ee ee ee ff ff ff ff ff"),              // distinct 2/10
      (6L, "the quick brown fox jumps over a lazy dog"),  // clean
      (7L, "qq qq")  // fails word_count AND top_word -> first rule wins
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityClassifier(docs, "doc_id", "text", th)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[String]("drop_reason")), r.getBoolean(
          r.fieldIndex("keep"))))).toMap
    assert(out(1L) == ((Some("word_count"), false)))
    assert(out(2L) == ((Some("word_length"), false)))
    assert(out(3L) == ((Some("alpha_ratio"), false)))
    assert(out(4L) == ((Some("top_word"), false)))
    assert(out(5L) == ((Some("distinct_words"), false)))
    assert(out(6L) == ((None, true)))
    assert(out(7L) == ((Some("word_count"), false)),
      "evaluation order must attribute the FIRST failing rule")
    // the lm band is corpus-relative: an impossible band drops the
    // otherwise-clean doc with reason lm_score
    val strict = TextAnalysis.qualityClassifier(docs, "doc_id", "text",
      th.copy(minLmScore = 100.0))
      .filter(col("doc_id") === 6L).head()
    assert(strict.getAs[String]("drop_reason") == "lm_score")
  }

  test("dedupIncremental: shard-by-shard equals the batch pipeline; replay drops everything") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val mid = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    val a = docs.filter($"doc_id" <= mid)
    val b = docs.filter($"doc_id" > mid)
    val root = java.nio.file.Files
      .createTempDirectory("dstate").toString + "/state"
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    // shard 1 (initializes state) must equal the batch pipeline on it
    val s1 = ids(Dedup.dedupIncremental(a, "doc_id", "text", root,
      n = 3, threshold = 0.8))
    assert(s1 == ids(Dedup.pipeline(a, "doc_id", "text", 3, 0.8)))
    // shard 2 dedups against state; union must equal batch on the union
    val s2 = ids(Dedup.dedupIncremental(b, "doc_id", "text", root,
      n = 3, threshold = 0.8))
    val batch = ids(Dedup.pipeline(docs, "doc_id", "text", 3, 0.8))
    assert((s1 ++ s2) == batch,
      s"incremental union diverged from batch: " +
        s"extra=${(s1 ++ s2) -- batch}, missing=${batch -- (s1 ++ s2)}")
    // replayed shard: every long doc exact-matches state -> dropped
    // (the corpus has no sub-n-word docs, so the survivor set is empty)
    val s2replay = ids(Dedup.dedupIncremental(b, "doc_id", "text", root,
      n = 3, threshold = 0.8))
    assert(s2replay.isEmpty,
      s"replayed shard must fully dedup against state: $s2replay")
  }

  test("dedupIncremental micro-shard: key-sorted state prunes files, identical survivors") {
    import graft.offline.VersionedStore
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val mx = docs.agg(max($"doc_id")).head().getLong(0)
    val bulk = docs.filter($"doc_id" <= mx - 25)
    val shard = docs.filter($"doc_id" > mx - 25)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    // registration mutates state, so the pruned and full-scan shard
    // runs each dedup against their own (identical) state
    val r1 = java.nio.file.Files
      .createTempDirectory("dstateP").toString + "/state"
    val r2 = java.nio.file.Files
      .createTempDirectory("dstateF").toString + "/state"
    val s1 = ids(Dedup.dedupIncremental(bulk, "doc_id", "text", r1,
      n = 3, threshold = 0.8))
    val s2 = ids(Dedup.dedupIncremental(bulk, "doc_id", "text", r2,
      n = 3, threshold = 0.8))
    assert(s1 == s2, "same bulk must build equivalent state")
    Dedup.compactDedupState(spark, r1, numFiles = 8)
    // primitive proof: on the key-sorted tables a point-set read opens
    // a strict subset of files (bands pruned by a band-key hash,
    // hashes pruned by an md5 string — the string-stats path)
    val bandsAll = VersionedStore.read(spark, s"$r1/bands").inputFiles.toSet
    assert(bandsAll.size == 8, s"compaction should spread to 8 files")
    val someKey = VersionedStore.read(spark, s"$r1/bands")
      .select("key").limit(1).head().getLong(0)
    val bandsOpened = VersionedStore.readValues(spark, s"$r1/bands", "key",
      Seq(someKey.toDouble)).inputFiles.toSet
    assert(bandsOpened.nonEmpty && bandsOpened.subsetOf(bandsAll) &&
      bandsOpened.size < bandsAll.size,
      s"one band key must open <8 band files, got ${bandsOpened.size}")
    val hashesAll = VersionedStore.read(spark, s"$r1/hashes").inputFiles.toSet
    val someH = VersionedStore.read(spark, s"$r1/hashes")
      .select("h").limit(1).head().getString(0)
    val hashesOpened = VersionedStore.readValuesStr(spark, s"$r1/hashes",
      "h", Seq(someH)).inputFiles.toSet
    assert(hashesOpened.nonEmpty && hashesOpened.subsetOf(hashesAll) &&
      hashesOpened.size < hashesAll.size,
      s"one md5 must open <${hashesAll.size} hash files, " +
        s"got ${hashesOpened.size}")
    // end-to-end: the fast path equals the full-scan path equals the
    // batch pipeline over the union
    val fast = ids(Dedup.dedupIncremental(shard, "doc_id", "text", r1,
      n = 3, threshold = 0.8, pruneStateDocs = 1000))
    val full = ids(Dedup.dedupIncremental(shard, "doc_id", "text", r2,
      n = 3, threshold = 0.8))
    assert(fast == full,
      s"pruned fast path diverged: extra=${fast -- full}, " +
        s"missing=${full -- fast}")
    assert((s1 ++ fast) == ids(Dedup.pipeline(docs, "doc_id", "text", 3, 0.8)),
      "incremental union must still equal the batch pipeline")
  }

  test("embeddingSemdedup: nCells=1 equals the exact blocked join; cells keep true cosines") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(
      Dedup.embeddingCosine(emb, "vec_id", "embedding", 0.4, 8))
    assert(exact.nonEmpty, "gate corpus must contain qualifying pairs")
    // one cell == no blocking: complete equivalence with the exact
    // triangular join, pair for pair, cosine for cosine
    val one = pairSet(
      Dedup.embeddingSemdedup(emb, "vec_id", "embedding", 0.4, 1))
    assert(one == exact,
      s"nCells=1 must reduce to embeddingCosine: " +
        s"extra=${(one -- exact).take(3)}, missing=${(exact -- one).take(3)}")
    // blocked: every returned pair is a TRUE pair with its exact
    // cosine (precision 1.0); recall is the published cell-split
    // tradeoff — record it, require it nonzero, and require
    // determinism run to run
    val cells = pairSet(
      Dedup.embeddingSemdedup(emb, "vec_id", "embedding", 0.4, 8))
    assert(cells.subsetOf(exact), "cell-blocked pairs must be exact")
    assert(cells.nonEmpty, "co-located near-dups must be found")
    assert(pairSet(
      Dedup.embeddingSemdedup(emb, "vec_id", "embedding", 0.4, 8)) == cells)
    info(f"semdedup recall at 8 cells: " +
      f"${cells.size.toDouble / exact.size}%.2f (${cells.size}/${exact.size})")
  }

  test("embeddingExact: identical vectors collapse to the min id") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq((5L, v(1, 0)), (2L, v(1, 0)), (9L, v(1, 0)),
      (3L, v(0, 1))).toDF("vec_id", "embedding")
    val got = Dedup.embeddingExact(emb, "vec_id", "embedding").collect()
      .map(r => (r.getSeq[Float](0).toList, r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((List(1f, 0f), 2L, 3L), (List(0f, 1f), 3L, 1L)),
      s"got $got")
  }

  test("embeddingKeepList: replicas collapse, keep-min over canonical near-dups") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "embedding")
    // inject exact replicas with shifted ids — none may survive
    val withReps = emb.unionByName(
      emb.select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val keep = Dedup.embeddingKeepList(withReps, "vec_id", "embedding",
      threshold = 0.4, nCells = 1)
      .collect().map(_.getLong(0)).toSet
    // independent expectation: canonicals are the original ids (they
    // are smaller than every replica), and a canonical drops iff it
    // appears as doc_b in the exact blocked join's pair set
    val dropB = Dedup.embeddingCosine(emb, "vec_id", "embedding", 0.4, 8)
      .collect().map(_.getLong(1)).toSet
    val expected =
      emb.select("vec_id").collect().map(_.getLong(0)).toSet -- dropB
    assert(keep == expected,
      s"extra=${(keep -- expected).take(3)} missing=${(expected -- keep).take(3)}")
    assert(keep.forall(_ < 1000000L), "no replica may survive")
  }

  test("embeddingSemdedupIncremental: frozen-cell equality, pruned reads, idempotent replay") {
    import graft.offline.VersionedStore
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val mx = emb.agg(max($"vec_id")).head().getLong(0)
    val bulk = emb.filter($"vec_id" <= mx - 3)
    val batch = emb.filter($"vec_id" > mx - 3)
    val root = java.nio.file.Files
      .createTempDirectory("isem").toString + "/idx"
    Ann.ivfBuildIndex(bulk, "vec_id", "embedding", nCentroids = 8, root)
    val allFiles = VersionedStore.read(spark, s"$root/assignment")
      .inputFiles.toSet
    val got = Dedup.embeddingSemdedupIncremental(batch, "vec_id",
      "embedding", root, threshold = 0.4)
    val gotIds = got.collect().map(_.getLong(0)).toSet
    // pruning proof: the survivors plan opens only the batch's cells'
    // state files (3 vectors -> at most 3 of 8 cells)
    val opened = got.inputFiles.toSet.intersect(allFiles)
    assert(opened.nonEmpty && opened.size < allFiles.size,
      s"batch must read a strict subset of the inverted file: " +
        s"${opened.size}/${allFiles.size}")
    // independent driver-side expectation under the FROZEN cells:
    // replicate assignToCentroids' argmax(dot - |c|^2/2, tie -> low
    // cell) and the operator's 6-dp rounded cosine
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val cents = VersionedStore.read(spark, s"$root/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def cellOf(v: Array[Float]): Int =
      cents.map { case (c, cv) => (c, dot(v, cv) - dot(cv, cv) / 2) }
        .maxBy { case (c, s) => (s, -c) }._1
    def cos(a: Array[Float], b: Array[Float]): Double =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val all = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val withCell = all.map { case (id, v) => (id, v, cellOf(v)) }
    val batchRows = withCell.filter(_._1 > mx - 3)
    val expected = batchRows.filter { case (bId, bv, bc) =>
      !withCell.exists { case (aId, av, ac) =>
        ac == bc && (aId <= mx - 3 || aId < bId) && aId != bId &&
          cos(av, bv) >= 0.4
      }
    }.map(_._1).toSet
    assert(gotIds == expected,
      s"frozen-cell expectation mismatch: got $gotIds expected $expected")
    // replay of the registered batch recomputes the identical frame
    // (its own ids are excluded from the state side)
    val again = Dedup.embeddingSemdedupIncremental(batch, "vec_id",
      "embedding", root, threshold = 0.4)
      .collect().map(_.getLong(0)).toSet
    assert(again == gotIds, "replay must reproduce the survivors")
    // the state grew: an exact duplicate of a REGISTERED batch vector
    // (survivor or not, drops register too) must now drop
    val dup = batch.orderBy("vec_id").limit(1)
      .select(lit(mx + 100L).as("vec_id"), $"embedding")
    val s2 = Dedup.embeddingSemdedupIncremental(dup, "vec_id",
      "embedding", root, threshold = 0.4)
    assert(s2.isEmpty, "an exact dup of registered state must drop")
  }

  test("domainMix: rates derive from token counts, binding source keeps all, others downsample") {
    // srcA: 100 tokens, srcB: 400 tokens, shares 50/50 ->
    // scale = min(100/.5, 400/.5) = 200; rateA = 200*.5/100 = 1.0
    // (binding, keeps everything), rateB = 200*.5/400 = 0.25 (2500 bp)
    val docs = (0 until 10).map(i => (i.toLong, ("w " * 10).trim, "srcA")) ++
      (10 until 50).map(i => (i.toLong, ("w " * 10).trim, "srcB")) ++
      (50 until 60).map(i => (i.toLong, ("w " * 10).trim, "srcC")) // unlisted
    val out = FeatureEng.domainMix(docs.toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", Map("srcA" -> 0.5, "srcB" -> 0.5))
    val rows = out.collect()
    assert(!rows.exists(_.getString(1) == "srcC"),
      "sources without a share must be dropped")
    val rates = rows.map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(rates("srcA") == 10000L, s"binding source keeps all: $rates")
    assert(rates("srcB") == 2500L, s"derived rate: $rates")
    assert(rows.count(_.getString(1) == "srcA") == 10,
      "rate 10000 must keep every binding-source doc")
    // determinism: same input, same kept set
    val again = FeatureEng.domainMix(docs.toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", Map("srcA" -> 0.5, "srcB" -> 0.5))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again == rows.map(_.getLong(0)).sorted.toSeq)
  }

  test("freezeVocabulary: top-K by count, exact full-corpus total") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a d")).toDF("doc_id", "text")
    val (vocab, total) = TextAnalysis.freezeVocabulary(
      docs, "doc_id", "text", topK = 2)
    assert(total == 8L, "total must cover ALL tokens, not just top-K")
    assert(vocab == Map("a" -> 4L, "b" -> 2L))
    // the frozen classifier with this artifact scores 'a' exactly and
    // tail words via the OOV fallback — same decision machinery
    val scored = TextAnalysis.qualityClassifierFrozen(
      docs, "doc_id", "text", vocab, total, oovCount = 1L,
      th = TextAnalysis.QualityThresholds(minWords = 1L,
        minAvgWordLen = 0.0, minAlphaRatio = 0.0,
        maxTopWordRatio = 1.0, maxTopBigramRatio = 1.0,
        minDistinctRatio = 0.0))
    val lm = scored.collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("lm_score")).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // doc 2: "a d" -> -ln(4/8), -ln(1/8 OOV)
    assert(lm(2L) == r4((-math.log(4.0 / 8) - math.log(1.0 / 8)) / 2))
  }

  test("perplexityBuckets: percent-rank semantics, ties share a bucket, single doc is head") {
    // lm scores are corpus-relative; construct docs whose ROUNDED
    // scores produce known ranks: identical docs tie exactly
    val docs = Seq(
      (1L, "a a a a"), (2L, "a a a a"),  // tied lowest surprise
      (3L, "a b"), (4L, "c d e")         // increasingly rare words
    ).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Double]("pr"), r.getString(3)))).toMap
    // n=4: pr = below/3. Docs 1,2 tie at below=0 -> pr 0 (head);
    // doc 3 below=2 -> 0.666667 (tail, >= 2/3); doc 4 below=3 -> 1 (tail)
    assert(out(1L) == ((0.0, "head")) && out(2L) == ((0.0, "head")),
      s"ties must share rank and bucket: $out")
    assert(out(3L)._1 == 0.666667 && out(3L)._2 == "tail")
    assert(out(4L) == ((1.0, "tail")))
    // a single-doc corpus cannot divide by n-1 = 0: pr 0, head
    val one = TextAnalysis.perplexityBuckets(
      Seq((9L, "x y z")).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(one.getAs[Double]("pr") == 0.0 &&
      one.getString(3) == "head")
  }

  test("qualityClassifierFrozen(batch vocab) equals the batch classifier on the gate corpus") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val th = TextAnalysis.QualityThresholds(
      minWords = 20L, minStopwordRatio = 0.01,
      minLmScore = 3.39, maxLmScore = 3.43)
    // freeze the batch corpus's own unigram table -> the frozen scorer
    // must reproduce the batch decision on every doc, signal for signal
    val freq = docs.select(explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = freq.values.sum
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_words", "avg_word_len", "stopword_ratio",
          "alpha_ratio", "top_word_ratio", "distinct_word_ratio",
          "top_bigram_ratio", "lm_score", "drop_reason", "keep")
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val batch = canon(
      TextAnalysis.qualityClassifier(docs, "doc_id", "text", th))
    val frozen = canon(TextAnalysis.qualityClassifierFrozen(
      docs, "doc_id", "text", freq, total, th = th))
    assert(frozen.keySet == batch.keySet)
    val diffs = batch.keys.filter(k => frozen(k) != batch(k))
    assert(diffs.isEmpty,
      s"frozen != batch for docs ${diffs.take(3).map(k =>
        s"$k: ${batch(k)} vs ${frozen(k)}")}")
  }

  test("overlapSpans: maximal shared token runs with exact positions, islands split on gaps") {
    val docs = Seq(
      // docs 1/2 share "p q r s t" (5 tokens): doc1 pos 1-5, doc2 pos 3-7
      (1L, "p q r s t u v w"),
      (2L, "x y p q r s t z"),
      // doc 3 shares nothing long enough with either
      (3L, "a b c d e f g h"),
      // docs 4/5: TWO disjoint shared runs, must come back as two spans
      (4L, "m n o p q GAP1 GAP2 r s t u v"),
      (5L, "m n o p q DIFF1 DIFF2 r s t u v")
    ).toDF("doc_id", "text")
    val spans = Dedup.overlapSpans(docs, "doc_id", "text",
      n = 3, minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(spans.contains((1L, 2L, 1L, 3L, 5L)),
      s"expected the 5-token run at (1,3), got $spans")
    assert(!spans.exists(s => s._1 == 3L || s._2 == 3L))
    assert(spans.contains((4L, 5L, 1L, 1L, 5L)), s"first run: $spans")
    assert(spans.contains((4L, 5L, 8L, 8L, 5L)), s"second run: $spans")
    // nothing longer than the constructed runs
    assert(spans.forall(_._5 == 5L), s"unexpected span lengths: $spans")
  }

  test("exactSubstrSpans: global detection, first occurrence exempt") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    val docs = Seq(
      (1L, s"$shared tail1 one"),     // global first occurrence — exempt
      (2L, s"head2 a $shared"),       // second copy → span at pos 3
      (3L, s"$shared mid3 x"),        // third copy → span at pos 1
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")) // all unique
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text",
        n = 3, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((2L, 3L, 10L), (3L, 1L, 10L)),
      s"expected the two non-first copies only, got $spans")
  }

  test("exactSubstrSpans: within-doc repetition is a duplicate too") {
    // second half repeats the first: gram starts 9..14 duplicate
    // their pos 1..6 twins; the seam grams (7, 8) are unique
    val docs = Seq((1L, "a b c d e f g h a b c d e f g h"))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(docs, "doc_id", "text",
        n = 3, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 9L, 8L)))
  }

  test("exactSubstrSpans: aggregation shape == round-11 window shape (gate corpus + hot gram)") {
    // The round-12 skew-safe detector (groupBy(s) + min(struct) join
    // back) must reproduce the window-shaped detector (df/rank over
    // Window.partitionBy(s)) span for span — on the gate corpus AND
    // on a synthetic hot-gram corpus where one boilerplate line
    // appears in every doc (the 100 TB straggler case the rewrite
    // exists for).
    def spans(d: org.apache.spark.sql.DataFrame,
              f: (org.apache.spark.sql.DataFrame, String, String, Int,
                Int) => org.apache.spark.sql.DataFrame) =
      f(d, "doc_id", "text", 3, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val corpus = Tables.documents(spark, TestSpark.sfDir)
    assert(spans(corpus, Dedup.exactSubstrSpans(_, _, _, _, _)) ===
      spans(corpus, Dedup.exactSubstrSpansWindowed(_, _, _, _, _)))
    val hot = (1L to 200L).map(i =>
      (i, s"boiler b1 b2 b3 b4 b5 b6 b7 tail${i}a tail${i}b"))
      .toDF("doc_id", "text")
    val agg = spans(hot, Dedup.exactSubstrSpans(_, _, _, _, _))
    assert(agg === spans(hot, Dedup.exactSubstrSpansWindowed(_, _, _, _, _)))
    // every copy but doc 1's reported, at the boilerplate's position
    assert(agg === (2L to 200L).map(i => (i, 1L, 8L)).toSet)
  }

  test("exactSubstrDedup: cuts every copy but the global first; corpus keeps one") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    val docs = Seq(
      (1L, s"$shared tail1 one"),
      (2L, s"head2 a $shared"),
      (3L, shared),                    // pure copy → empty after cut
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text",
        n = 3, minTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === s"$shared tail1 one", "first occurrence survives")
    assert(out(2L) === "head2 a", "later copy loses exactly the span")
    assert(out(3L) === "", "pure copy comes back empty, never dropped")
    assert(out(4L) === "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")
    assert(out.size === 4, "every input doc must come back")
  }

  test("exactSubstrDedup on the corpus: injected exact copies empty, originals intact") {
    val base = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
    // inject exact copies at higher ids: ALL their grams are
    // non-first (the full text exists at a smaller doc_id), so
    // ExactSubstr must empty them entirely while the originals —
    // every gram a global first unless naturally duplicated — keep
    // at least their unique material
    val copies = base.filter(col("doc_id") < 5 &&
        size(split(col("text"), " ")) >= 8)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .localCheckpoint(false)
    val copyIds = copies.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(copyIds.nonEmpty)
    val docs = base.union(copies).localCheckpoint(false)
    val cleaned = Dedup.exactSubstrDedup(docs, "doc_id", "text",
        n = 3, minTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    copyIds.foreach { id =>
      assert(cleaned(id) === "", s"exact copy $id not fully stripped") }
    copyIds.foreach { id =>
      assert(cleaned(id - 100000L).nonEmpty,
        "the original (global first) must keep its text") }
    assert(cleaned.size === docs.count())
  }

  test("exactSubstrSpansAgainst: corpus is keeper, shard-local first-occurrence; == batch when ids order after corpus") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    val fresh = "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10"
    val corpus = Seq(
      (1L, s"$shared tail1 one"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"))
      .toDF("doc_id", "text")
    val shard = Seq(
      (10L, s"head2 a $shared"),  // repeats the corpus → span at 3
      (11L, shared),              // pure corpus copy → span at 1
      (12L, s"$fresh tailA"),     // shard-local first of `fresh` — exempt
      (13L, s"b $fresh"),         // shard-local repeat → span at 2
      (14L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12"))
      .toDF("doc_id", "text")
    val incr = Dedup.exactSubstrSpansAgainst(corpus, shard,
        "doc_id", "text", n = 3, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr === Set((10L, 3L, 10L), (11L, 1L, 10L), (13L, 2L, 10L)),
      s"got $incr")
    // shard ids all order after corpus ids → batch over the union,
    // restricted to shard docs, is the same set
    val batch = Dedup.exactSubstrSpans(corpus.union(shard),
        "doc_id", "text", n = 3, minTokens = 8)
      .filter(col("doc_id") >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr === batch)
    // and the action strips exactly those spans, corpus untouched
    val out = Dedup.exactSubstrDedupAgainst(corpus, shard,
        "doc_id", "text", n = 3, minTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) === "head2 a" && out(11L) === "")
    assert(out(12L) === s"$fresh tailA", "shard-local first survives")
    assert(out(13L) === "b")
    assert(out.size === 5, "every shard doc comes back; corpus not in output")
  }

  test("exactSubstrSpansAgainst: keeper stability — corpus copy wins even when the shard doc would sort first") {
    val shared = "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10"
    val corpus = Seq((5L, s"$shared c-tail")).toDF("doc_id", "text")
    val shard = Seq((0L, s"$shared s-tail")).toDF("doc_id", "text")
    // incremental: the corpus's released copy is ALWAYS the keeper —
    // the shard doc is flagged although its (doc_id, pos) sorts first
    val incr = Dedup.exactSubstrSpansAgainst(corpus, shard,
        "doc_id", "text", n = 3, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr === Set((0L, 1L, 10L)))
    // batch over the union elects doc 0 (global min) instead — the
    // documented divergence the scaladoc declares
    val batch0 = Dedup.exactSubstrSpans(corpus.union(shard),
        "doc_id", "text", n = 3, minTokens = 8)
      .filter(col("doc_id") === 0L).count()
    assert(batch0 === 0L, "batch keeps the globally-first shard doc")
  }

  test("substr gram store: shard upserts ledger-idempotent; incremental serve == direct; freeze == corpus freeze") {
    val root = java.nio.file.Files
      .createTempDirectory("substrstore").toString + "/ss"
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    val bDup = "g1 g2 g3 g4 g5 g6 g7 g8 g9 g10"
    val corpusA = Seq(
      (1L, s"$shared tail1 one"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"))
      .toDF("doc_id", "text")
    val shardB = Seq(
      (20L, s"$bDup mid b1"),
      (21L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
      .toDF("doc_id", "text")
    val shardC = Seq(
      (40L, s"c0 $shared"),        // dup vs A
      (41L, s"$bDup c-end"),       // dup vs B
      (42L, "h1 h2 h3 h4 h5 h6 h7 h8 h9 h10 z"),
      (43L, "y h1 h2 h3 h4 h5 h6 h7 h8 h9 h10")) // dup within C
      .toDF("doc_id", "text")
    Dedup.buildSubstrStore(corpusA, "doc_id", "text", root, n = 3)
    assert(Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "b"))
    assert(!Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "b"),
      "replayed shard must no-op by the ledger")
    val served = Dedup.substrSpansIncremental(shardC, "doc_id", "text",
        root, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Dedup.exactSubstrSpansAgainst(corpusA.union(shardB),
        shardC, "doc_id", "text", n = 3, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served === direct, "store-served spans must equal direct")
    assert(served.map(_._1) === Set(40L, 41L, 43L))
    val cleanServed = Dedup.substrDedupIncremental(shardC, "doc_id",
        "text", root, minTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleanServed(40L) === "c0" && cleanServed(41L) === "c-end")
    assert(cleanServed(43L) === "y")
    assert(cleanServed(42L).nonEmpty, "within-C first keeps its text")
    // freeze from stored counts == corpus freeze over the union
    assert(Dedup.freezeDupGramsFromStore(spark, root, minDf = 1L).toSet ===
      Dedup.freezeDupGrams(corpusA.union(shardB), "doc_id", "text",
        n = 3, minDf = 1L).toSet)
  }

  test("substr store retraction: exact subtraction, generation cycles, reserved ids refused") {
    val root = java.nio.file.Files
      .createTempDirectory("substrretract").toString + "/ss"
    val shared = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val bDup = "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    val corpusA = Seq((1L, s"$shared a-tail")).toDF("doc_id", "text")
    val shardB = Seq((20L, s"$bDup b-tail")).toDF("doc_id", "text")
    val probe = Seq(
      (40L, s"x $shared"),   // dup vs the base corpus
      (41L, s"y $bDup"))     // dup vs shard B only
      .toDF("doc_id", "text")
    Dedup.buildSubstrStore(corpusA, "doc_id", "text", root, n = 3)
    assert(Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "b"))
    def spanDocs() = Dedup.substrSpansIncremental(probe, "doc_id",
      "text", root, minTokens = 8).collect().map(_.getLong(0)).toSet
    assert(spanDocs() === Set(40L, 41L))
    // retract B: probe doc 41 stops matching — the store equals one
    // that never saw the shard; counts subtracted exactly
    assert(Dedup.retractSubstrShard(shardB, "doc_id", "text", root, "b"))
    assert(spanDocs() === Set(40L))
    assert(Dedup.freezeDupGramsFromStore(spark, root, minDf = 1L).toSet ===
      Dedup.freezeDupGrams(corpusA, "doc_id", "text", n = 3,
        minDf = 1L).toSet)
    // double retraction no-ops; never-ingested shard no-ops
    assert(!Dedup.retractSubstrShard(shardB, "doc_id", "text", root, "b"))
    assert(!Dedup.retractSubstrShard(shardB, "doc_id", "text", root,
      "never-seen"))
    // generation cycle: re-ingest after retraction applies again
    assert(Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "b"))
    assert(spanDocs() === Set(40L, 41L))
    // the ledger frame character is refused anywhere in an id (bans
    // the reserved verbs AND the 'a' vs 'a:1' intent-collision class)
    val ex = intercept[IllegalArgumentException] {
      Dedup.upsertSubstrShard(shardB, "doc_id", "text", root,
        "retract:evil")
    }
    assert(ex.getMessage.contains(":"))
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "a:1")
    }
    assert(ex2.getMessage.contains("frame"))
  }

  test("substr store ingest is exactly-once: a crashed replay never double-counts") {
    val root = java.nio.file.Files
      .createTempDirectory("substrcrash").toString + "/ss"
    val corpusA = Seq((1L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
      .toDF("doc_id", "text")
    val shardB = Seq((20L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"))
      .toDF("doc_id", "text")
    Dedup.buildSubstrStore(corpusA, "doc_id", "text", root, n = 3)
    def storeTotal(): Long = graft.offline.VersionedStore
      .read(spark, root + "/grams")
      .agg(org.apache.spark.sql.functions.sum("df")).head().getLong(0)
    val base = storeTotal()
    // simulate a crash AFTER the merge but BEFORE the done row: apply
    // the real upsert, then delete its done row so only the intent
    // survives — exactly the crash-window ledger state
    assert(Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "b"))
    val afterIngest = storeTotal()
    assert(afterIngest > base)
    graft.offline.VersionedStore.deleteKeys(
      Seq("b").toDF("shard_id"), root + "/applied", Seq("shard_id"))
    // the replay must FINISH (ledger row only), not re-merge
    assert(Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "b"))
    assert(storeTotal() === afterIngest,
      "replayed ingest after a crash must not double-count")
    // and a further replay no-ops entirely (done row present)
    assert(!Dedup.upsertSubstrShard(shardB, "doc_id", "text", root, "b"))
    assert(storeTotal() === afterIngest)
  }

  test("exactSubstrFrozen: frozen boilerplate grams cut, fresh text kept") {
    val boiler = "b1 b2 b3 b4 b5 b6"
    val corpus = Seq(
      (1L, s"c1 c2 $boiler c3"),
      (2L, s"c4 $boiler c5 c6"),
      (3L, "c7 c8 c9 c10 c11")).toDF("doc_id", "text")
    // minDf=2: only the boilerplate's grams qualify (each appears in
    // docs 1 and 2); the unique c* grams stay out of the artifact
    val frozen = Dedup.freezeDupGrams(corpus, "doc_id", "text",
      n = 3, minDf = 2L)
    assert(frozen.length === 4, "exactly the 4 boilerplate 3-grams")
    val stream = Seq(
      (10L, s"u1 u2 $boiler u3"),
      (11L, "u4 u5 u6 u7 u8"),
      (12L, "ab")).toDF("doc_id", "text")
    val out = Dedup.exactSubstrFrozen(stream, "doc_id", "text", frozen,
        n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) === "u1 u2 u3", "boilerplate cut, fresh tokens kept")
    assert(out(11L) === "u4 u5 u6 u7 u8")
    assert(out(12L) === "ab", "short docs pass through")
  }

  test("exactSubstrFrozen == batch ExactSubstr over corpus ∪ docs (disjoint arrivals)") {
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val corpus = Seq(
      (1L, s"c1 c2 $shared c3"),
      (2L, "c4 c5 c6 c7 c8 c9")).toDF("doc_id", "text")
    // new docs: copy corpus material + unique filler, no repetition
    // within or between the arrivals (the declared frozen contract)
    val arrivals = Seq(
      (100L, s"u1 $shared u2 u3"),
      (101L, "c4 c5 c6 v1 v2 v3"),   // 1 corpus gram (c4 c5 c6)
      (102L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val frozen = Dedup.freezeDupGrams(corpus, "doc_id", "text",
      n = 3, minDf = 1L) // dedup-vs-corpus mode: every corpus gram
    val got = Dedup.exactSubstrFrozen(arrivals, "doc_id", "text",
        frozen, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch over the union at minTokens = n (gram granularity), new
    // ids above corpus ids so corpus occurrences are global firsts
    val want = Dedup.exactSubstrDedup(corpus.union(arrivals), "doc_id",
        "text", n = 3, minTokens = 3)
      .filter(col("doc_id") >= 100L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want, s"frozen/batch divergence:\n$got\n$want")
    assert(got(100L) === "u1 u2 u3")
    assert(got(101L) === "v1 v2 v3")
    assert(got(102L) === "w1 w2 w3 w4 w5")
  }

  test("exactSubstrFrozenBloom: zero false negatives vs exact frozen; tiny bitset only over-cuts") {
    // the artifact's declared source: the persisted gram store
    val corpus = (1L to 40L).map(i =>
      (i, s"boil1 boil2 boil3 boil4 c${i}a c${i}b c${i}c")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("bloom_frz").toString + "/ss"
    Dedup.buildSubstrStore(corpus, "doc_id", "text", root, n = 3)
    val exact = Dedup.freezeDupGramsFromStore(spark, root, minDf = 1L)
    val arrivals = Seq(
      (100L, "u1 u2 boil1 boil2 boil3 boil4 u3"),
      (101L, "c7a c7b c7c v1 v2 v3"),
      (102L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val want = Dedup.exactSubstrFrozen(arrivals, "doc_id", "text",
        exact, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // generous bitset: zero FPs on this corpus → exact equality
    val mBig = 1 << 18
    val big = Dedup.freezeDupGramsBloom(spark, root, mBig, kHashes = 2)
    val gotBig = Dedup.exactSubstrFrozenBloom(arrivals, "doc_id", "text",
        big, mBig, kHashes = 2, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotBig === want, s"generous-bitset divergence:\n$gotBig\n$want")
    // tiny bitset: FPs forced — the one-sided contract says every
    // token the exact artifact cuts is cut here too (kept tokens are
    // a subsequence of the exact strip's kept tokens), never the
    // reverse direction
    val mTiny = 256
    val tiny = Dedup.freezeDupGramsBloom(spark, root, mTiny, kHashes = 2)
    val gotTiny = Dedup.exactSubstrFrozenBloom(arrivals, "doc_id", "text",
        tiny, mTiny, kHashes = 2, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def toks(s: String) = s.split(" ").filter(_.nonEmpty).toList
    def isSubseq(sub: List[String], sup: List[String]): Boolean = {
      var rest = sup
      sub.forall { t =>
        val i = rest.indexOf(t)
        if (i < 0) false else { rest = rest.drop(i + 1); true }
      }
    }
    for ((id, wantText) <- want)
      assert(isSubseq(toks(gotTiny(id)), toks(wantText)),
        s"doc $id: bloom kept a token the exact artifact cut " +
          s"(false negative): '${gotTiny(id)}' vs '$wantText'")
  }

  test("exactSubstrFrozenBloom: measured FP over-cut rate within the Bloom bound") {
    val corpus = (1L to 150L).map(i =>
      (i, s"k${i}a k${i}b k${i}c k${i}d")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("bloom_fp").toString + "/ss"
    Dedup.buildSubstrStore(corpus, "doc_id", "text", root, n = 3)
    val nGrams = graft.offline.VersionedStore.read(spark, s"$root/grams")
      .count() // 2 grams per 4-token doc
    val mBits = 4096
    val k = 2
    val bloom = Dedup.freezeDupGramsBloom(spark, root, mBits, k)
    // 2000 single-gram probe docs, none in the freeze corpus: a doc
    // fully cut == its one gram false-positived
    val probes = (1L to 2000L).map(i =>
      (i + 10000L, s"z${i}x z${i}y z${i}z")).toDF("doc_id", "text")
    val cut = Dedup.exactSubstrFrozenBloom(probes, "doc_id", "text",
        bloom, mBits, k, n = 3)
      .filter(col("text_clean") === "").count()
    val rate = cut.toDouble / 2000
    val bound = math.pow(1 - math.exp(-k.toDouble * nGrams / mBits), k)
    assert(rate <= 3 * bound + 0.005,
      s"FP rate $rate exceeds 3x the Bloom bound $bound " +
        s"(nGrams=$nGrams, mBits=$mBits, k=$k)")
  }

  test("stripSpans: removes matched runs from the higher doc id, merges overlapping cuts") {
    val docs = Seq(
      (4L, "m n o p q GAP1 GAP2 r s t u v"),
      (5L, "m n o p q DIFF1 DIFF2 r s t u v"),
      (6L, "untouched doc stays whole")
    ).toDF("doc_id", "text")
    val spans = Dedup.overlapSpans(docs, "doc_id", "text",
      n = 3, minTokens = 5)
    val cleaned = Dedup.stripSpans(docs, "doc_id", "text", spans)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(4L) == "m n o p q GAP1 GAP2 r s t u v",
      "the lower doc id keeps its copy")
    assert(cleaned(5L) == "DIFF1 DIFF2",
      s"both shared runs must be stripped from doc 5: '${cleaned(5L)}'")
    assert(cleaned(6L) == "untouched doc stays whole")
    // overlapping cuts collapse: two partners covering overlapping
    // ranges of one doc must not double-remove or corrupt positions
    val docs2 = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),   // full overlap with 1
      (3L, "c d e f g h i j k l")    // overlaps 1 and 2 mid-span
    ).toDF("doc_id", "text")
    val spans2 = Dedup.overlapSpans(docs2, "doc_id", "text",
      n = 3, minTokens = 5)
    val cleaned2 = Dedup.stripSpans(docs2, "doc_id", "text", spans2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned2(1L) == "a b c d e f g h i j", "lowest id untouched")
    assert(cleaned2(2L) == "", "exact copy fully stripped")
    assert(cleaned2(3L) == "k l",
      s"merged overlapping cuts leave only the novel tail: '${cleaned2(3L)}'")
  }

  test("decontaminate: overlap counts against the eval set, threshold respected") {
    val evalDocs = Seq((100L, "a b c d e f g")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d e f g"),  // exact copy: all 5 shingles overlap
      (2L, "a b c d x y z"),  // 2 shared shingles (a b c, b c d)
      (3L, "p q r s t u v")   // disjoint
    ).toDF("doc_id", "text")
    def hits(minOverlap: Long) =
      Dedup.decontaminate(train, "doc_id", "text",
        evalDocs, "doc_id", "text", n = 3, minOverlap = minOverlap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(1L) == Map(1L -> 5L, 2L -> 2L))
    assert(hits(5L) == Map(1L -> 5L),
      "minOverlap must gate out incidental overlap")
    // the eval-side shingle set is broadcast: the corpus side must not
    // shuffle before the equi-join
    val plan = Dedup.decontaminate(train, "doc_id", "text",
      evalDocs, "doc_id", "text", n = 3, minOverlap = 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast:\n$plan")
  }

  test("decontaminateFrozen equals batch decontaminate on the corpus; plan is join-free") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    // any real slice works as an "eval set" — overlap is guaranteed
    // because eval docs are drawn from the corpus itself
    val evalDocs = docs.filter(col("doc_id") % 17 === 0)
      .select("doc_id", "text")
    val frozen = Dedup.freezeEvalShingles(evalDocs, "text", n = 3)
    val batch = Dedup.decontaminate(docs, "doc_id", "text",
        evalDocs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaFrozen = Dedup.decontaminateFrozen(docs, "doc_id", "text",
        frozen, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty && viaFrozen == batch,
      s"frozen/batch divergence: ${viaFrozen.size} vs ${batch.size} rows")
    // the frozen path is one projection: no join, no agg, no exchange
    // beyond the loader's scan-split repartition (REPARTITION_BY_NUM
    // — the PlanSpec countShuffles convention, round 16)
    val plan = Dedup.decontaminateFrozen(docs, "doc_id", "text",
      frozen, n = 3).queryExecution.executedPlan.toString
    val operatorExchanges =
      "Exchange".r.findAllIn(plan).length -
        ", REPARTITION_BY_NUM".r.findAllIn(plan).length
    assert(!plan.contains("Join") && operatorExchanges == 0 &&
      !plan.contains("Aggregate"),
      s"frozen decontamination must be a pure projection:\n$plan")
  }

  test("embeddingCosineLsh: candidates+verify equals exact at high threshold") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val background = (0 until 100).map(i => (i.toLong, vec()))
    val dups = (0 until 10).flatMap { i =>
      val v = vec()
      val w = v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      Seq((1000L + i, v), (2000L + i, w)) // cosine ≈ 0.999
    }
    val emb = (background ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingCosine(emb, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingCosineLsh(emb, "vec_id", "embedding", 0.9, dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 10)
    assert(lsh == exact, s"missed=${(exact -- lsh).take(5)}")
  }

  test("embeddingCosine: block count is an execution detail, not a semantic") {
    val rnd = new scala.util.Random(3)
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def pairs(nb: Int) = Dedup.embeddingCosine(emb, "vec_id", "embedding",
      0.3, nBlocks = nb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p1 = pairs(1)
    assert(pairs(4) == p1 && pairs(16) == p1)
    // a threshold above every pair yields an empty (not failing) result
    assert(Dedup.embeddingCosine(emb, "vec_id", "embedding", 1.01).count() == 0)
  }

  test("clusters: transitive chains collapse to the min id") {
    // chain 1~2~3 plus isolated pair 10~11: components {1,2,3} {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("cleanFilter: gates drop short and digit-heavy docs") {
    val docs = Seq(
      (1L, "this is a reasonable document with enough words to pass the gate easily today"),
      (2L, "too short"),
      (3L, "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9 0")
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.cleanFilter(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("bruteTopK: self excluded, ranks deterministic, k respected") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val out = Ann.bruteTopK(emb, emb.filter($"vec_id" === 1), "vec_id",
      "embedding", 2).collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).toSet == Set(4L, 2L)) // nearest two
    assert(out.forall(_.getLong(1) != 1L))
  }

  test("ivfTopK: sane shape and useful recall vs brute force") {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", 16, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val brute = Ann.bruteTopK(emb, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // probing 4/16 cells of near-uniform random data ⇒ ~25% expected
    assert(recall > 0.1, s"IVF recall@5 vs brute force = $recall")
    assert(ivf.forall { case (q, n) => q != n })
  }

  test("ivfSearch: query batch vs corpus matches brute force for its probed cells") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val queries = emb.filter($"vec_id" < 10)
    val out = Ann.ivfSearch(emb, queries, "vec_id", "embedding",
      nCentroids = 8, nProbe = 8, k = 5) // probing ALL cells == exact
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val brute = Ann.bruteTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.sorted.sameElements(brute.sorted),
      "nProbe = nCentroids must reduce IVF to exact search")
    assert(out.map(_._1).distinct.length == 10)
  }

  test("PQ: encode and ADC dot bit-equal a naive reference; compressed scan keeps recall") {
    import graft.functions.VectorExpressions
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val (m, kk, dim) = (8, 16, 64)
    val p = Ann.pqTrain(emb, "vec_id", "embedding", dim, m, kk)
    val dsub = dim / m
    assert(p.codebook.length == m * kk * dsub)

    // naive reference, same loop order as the expressions → exact
    def encNaive(v: Array[Float]): Array[Byte] = {
      val out = new Array[Byte](m)
      for (j <- 0 until m) {
        var best = 0; var bestD = Double.MaxValue
        for (c <- 0 until kk) {
          val base = (j * kk + c) * dsub
          var d = 0.0
          for (t <- 0 until dsub) {
            val diff = v(j * dsub + t).toDouble - p.codebook(base + t)
            d += diff * diff
          }
          if (d < bestD) { bestD = d; best = c }
        }
        out(j) = best.toByte
      }
      out
    }
    def adcNaive(q: Array[Float], code: Array[Byte]): Double = {
      var acc = 0.0
      for (j <- 0 until m) {
        val base = (j * kk + (code(j) & 0xFF)) * dsub
        for (t <- 0 until dsub)
          acc += q(j * dsub + t).toDouble * p.codebook(base + t)
      }
      acc
    }

    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = emb.select(col("vec_id"),
        VectorExpressions.pqEncode(col("embedding"), p.codebook, m, kk,
          dsub).as("code"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    got.foreach { case (id, code) =>
      assert(code.length == m, "one byte per subspace")
      assert(code.sameElements(encNaive(vecs(id))),
        s"encode diverges from naive reference on vec $id")
    }
    // ADC scores bit-equal on a query × corpus sample
    val q0 = vecs(1L)
    val adcGot = emb.filter($"vec_id" < 30)
      .select(col("vec_id"),
        VectorExpressions.pqAdcDot(
          typedLit(q0.toSeq), // float query column
          VectorExpressions.pqEncode(col("embedding"), p.codebook, m, kk,
            dsub), p.codebook, m, kk, dsub).as("adc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    adcGot.foreach { case (id, s) =>
      assert(s == adcNaive(q0, encNaive(vecs(id))),
        s"ADC diverges from naive reference on vec $id")
    }

    // recall of the 32×-compressed scan vs the exact gold
    val queries = emb.filter($"vec_id" < 20)
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = topSets(Ann.bruteTopKPq(emb, queries, "vec_id",
      "embedding", k = 10, p))
    val exact = topSets(Ann.bruteTopK(emb, queries, "vec_id",
      "embedding", 10))
    val recall = exact.map { case (q, gold) =>
      (pq.getOrElse(q, Set.empty) & gold).size.toDouble / gold.size
    }.sum / exact.size
    assert(recall >= 0.15, f"PQ recall@10 vs exact = $recall%.3f")
    info(f"PQ m=$m k=$kk recall@10 vs exact = $recall%.3f")
  }

  test("IVF-PQ persisted index: full-probe serve equals the PQ brute scan; delete retracts") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val root = java.nio.file.Files
      .createTempDirectory("ivfpq").toString + "/idx"
    Ann.ivfBuildIndexPq(emb, "vec_id", "embedding", nCentroids = 8,
      dim = 64, m = 8, k = 16, indexRoot = root)
    val queries = emb.filter($"vec_id" < 10)
    // the stored codebook round-trips, and pqTrain is deterministic —
    // so the brute scan under the SAME params is the exact oracle
    val p = Ann.pqParamsFromIndex(spark, root)
    assert(p.m == 8 && p.k == 16 && p.dsub == 8)
    val served = Ann.ivfServePq(spark, root, queries, "vec_id",
        "embedding", nProbe = 8, k = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val brute = Ann.bruteTopKPq(emb, queries, "vec_id", "embedding",
        k = 5, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(served.sorted.sameElements(brute.sorted),
      "full-probe IVF-PQ must reduce to the PQ brute scan")
    // retraction: delete a served neighbor, it must stop serving
    val victim = served.head._2
    Ann.ivfIndexDelete(Seq(victim).toDF("vec_id"), root, "vec_id")
    val after = Ann.ivfServePq(spark, root, queries, "vec_id",
        "embedding", nProbe = 8, k = 5, excludeSelf = true)
      .collect().map(_.getLong(1)).toSet
    assert(!after.contains(victim), "deleted vector still serves")
  }

  test("ivfSearchSeeded: full probe equals brute force; fewer probes restrict to cells") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val queries = emb.filter($"vec_id" < 10)
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("c_cell"), $"embedding".as("cv"))
    // probing every seeded cell reduces to the exact scan — no
    // k-means anywhere, so this also holds in a fresh session
    val out = Ann.ivfSearchSeeded(emb, queries, "vec_id", "embedding",
        centroids, nProbe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val brute = Ann.bruteTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.sorted.sameElements(brute.sorted),
      "nProbe = nCells seeded IVF must reduce to exact search")
    // a partial probe: well-formed ranks (1..n contiguous per query),
    // never self, and never MORE results than the full probe
    val part = Ann.ivfSearchSeeded(emb, queries, "vec_id", "embedding",
        centroids, nProbe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(part.nonEmpty && part.forall { case (q, n, _) => q != n })
    part.groupBy(_._1).foreach { case (q, rows) =>
      val ranks = rows.map(_._3).sorted.toSeq
      assert(ranks == (1L to rows.length).toSeq,
        s"ranks not contiguous for query $q: $ranks")
      assert(rows.length <= out.count(_._1 == q))
    }
  }

  test("IVF cache: LRU evict unpersists the evicted assignment; rebuild retrains") {
    // round-5 behavior, previously untested: evicted entries must
    // release their persisted blocks (CacheManager holds them strongly
    // until explicit unpersist), live entries must stay persisted, and
    // a re-request of an evicted key must retrain (counter moves).
    import org.apache.spark.storage.StorageLevel
    Ann.clearQuantizerCache()
    val oldCap = Ann.maxCacheEntries
    Ann.maxCacheEntries = 2
    try {
      val emb = (1 to 40).map(i =>
        (i.toLong, Array(i.toFloat, (i % 7).toFloat, (i % 3).toFloat)))
        .toDF("vec_id", "embedding")
      def search(trainSample: Int): Unit =
        Ann.ivfSearch(emb, emb, "vec_id", "embedding",
          nCentroids = 2, nProbe = 1, k = 2,
          trainSample = trainSample).count()
      val t0 = Ann.quantizerTrainings.get()
      search(1001) // entry A
      val aAssigned = Ann.cachedAssignments.head
      assert(aAssigned.storageLevel != StorageLevel.NONE,
        "live entry must be persisted")
      search(1002) // entry B
      search(1003) // entry C — evicts A (capacity 2)
      assert(Ann.cachedAssignments.size == 2)
      assert(aAssigned.storageLevel == StorageLevel.NONE,
        "evicted entry's cached blocks must be released")
      assert(Ann.cachedAssignments.forall(_.storageLevel != StorageLevel.NONE),
        "surviving entries must remain persisted")
      assert(Ann.quantizerTrainings.get() == t0 + 3)
      search(1002) // hit — no retrain
      assert(Ann.quantizerTrainings.get() == t0 + 3,
        "cache hit must not retrain")
      search(1001) // A was evicted — must retrain
      assert(Ann.quantizerTrainings.get() == t0 + 4,
        "re-request of an evicted key must retrain")
    } finally {
      Ann.maxCacheEntries = oldCap
      Ann.clearQuantizerCache()
    }
  }

  test("IVF persisted index: serve matches in-memory search, no retraining; refresh is a merge") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val indexRoot =
      java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    Ann.ivfBuildIndex(emb, "vec_id", "embedding", nCentroids = 8, indexRoot)
    val queries = emb.filter($"vec_id" < 10)
    val t0 = Ann.quantizerTrainings.get()
    // a "fresh session" shape: serving touches only the on-disk tables
    // (no quantizer cache involvement — the trainings counter is flat)
    val served = Ann.ivfServe(spark, indexRoot, queries,
      "vec_id", "embedding", nProbe = 8, k = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(Ann.quantizerTrainings.get() == t0, "serving must not retrain")
    val inMem = Ann.ivfSearch(emb, queries, "vec_id", "embedding",
      nCentroids = 8, nProbe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(served == inMem,
      "persisted-index serving must equal the in-memory search")
    // refresh = merge, not rebuild: upsert a vector identical to
    // vec_id 0's — it must surface as that query's nearest neighbor
    val t1 = Ann.quantizerTrainings.get() // ivfSearch above may train
    val v0 = emb.filter($"vec_id" === 0)
    val newId = 10000000L
    Ann.ivfIndexUpsert(v0.select(lit(newId).as("vec_id"), $"embedding"),
      indexRoot, "vec_id", "embedding")
    assert(Ann.quantizerTrainings.get() == t1, "upsert must not retrain")
    val after = Ann.ivfServe(spark, indexRoot, v0,
      "vec_id", "embedding", nProbe = 8, k = 1, excludeSelf = true)
      .collect()
    assert(after.length == 1)
    assert(after.head.getLong(1) == newId,
      "the upserted duplicate must be the top neighbor")
    assert(after.head.getDouble(2) == 1.0)
  }

  test("ivfIndexDelete: retracted vectors vanish from serving, no retrain, no rebuild") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivfdel").toString + "/idx"
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val seed = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.95, 0.05, 0, 0)),
      (3L, v(0.9, 0.1, 0, 0)), (4L, v(0, 0, 1, 0))
    ).toDF("vec_id", "embedding")
    Ann.ivfBuildIndex(seed, "vec_id", "embedding", nCentroids = 2, tmp)
    val q = seed.filter($"vec_id" === 1L)
    val before = Ann.ivfServe(spark, tmp, q, "vec_id", "embedding",
      nProbe = 2, k = 1, excludeSelf = true).collect()
    assert(before.head.getLong(1) == 2L, "vec 2 is the nearest pre-delete")
    val t0 = Ann.quantizerTrainings.get()
    Ann.ivfIndexDelete(Seq(2L).toDF("vec_id"), tmp, "vec_id")
    assert(Ann.quantizerTrainings.get() == t0, "delete must not retrain")
    val after = Ann.ivfServe(spark, tmp, q, "vec_id", "embedding",
      nProbe = 2, k = 2, excludeSelf = true).collect()
    assert(!after.exists(_.getLong(1) == 2L),
      s"deleted vector must not serve: ${after.mkString(",")}")
    assert(after.head.getLong(1) == 3L, "the next neighbor takes over")
  }

  test("ivfIndexStats: per-cell counts and the centroid-drift signal") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivfstats").toString + "/idx"
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val seed = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.95, 0.05, 0, 0)),
      (3L, v(0, 0, 1, 0)), (4L, v(0, 0, 0.95, 0.05))
    ).toDF("vec_id", "embedding")
    Ann.ivfBuildIndex(seed, "vec_id", "embedding", nCentroids = 2, tmp)
    val s0 = Ann.ivfIndexStats(spark, tmp).collect()
    assert(s0.length == 2)
    assert(s0.map(_.getLong(1)).sum == 4L)
    assert(s0.forall(_.getDouble(2) > 0.9),
      s"cells must be tight after a fresh build: ${s0.mkString(",")}")
    // upsert a vector far from every centroid: its cell's min_cos
    // must expose the drift the rebuild caveat warns about
    Ann.ivfIndexUpsert(Seq((99L, v(0.5, 0, 0.5, 0.7)))
      .toDF("vec_id", "embedding"), tmp, "vec_id", "embedding")
    val s1 = Ann.ivfIndexStats(spark, tmp).collect()
    assert(s1.map(_.getLong(1)).sum == 5L)
    assert(s1.exists(_.getDouble(3) < 0.9),
      s"the drifted member must surface in min_cos: ${s1.mkString(",")}")
  }

  test("IVF persisted index: serve opens only the probed cells' files") {
    import graft.offline.VersionedStore
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val indexRoot =
      java.nio.file.Files.createTempDirectory("ivfprune").toString + "/idx"
    Ann.ivfBuildIndex(emb, "vec_id", "embedding", nCentroids = 8, indexRoot)
    val allFiles = VersionedStore.read(spark, s"$indexRoot/assignment")
      .inputFiles.toSet
    assert(allFiles.size >= 4,
      s"cell-sorted build should spread 8 cells over several files, " +
        s"got ${allFiles.size}")
    val queries = emb.filter($"vec_id" < 3)
    val served = Ann.ivfServe(spark, indexRoot, queries,
      "vec_id", "embedding", nProbe = 2, k = 5, excludeSelf = true)
    // the probe stage is localCheckpoint'ed, so the serve plan's only
    // file scan is the inverted file — its list IS the pruning proof
    val centroidFiles = VersionedStore.read(spark, s"$indexRoot/centroids")
      .inputFiles.toSet
    val opened = served.inputFiles.toSet -- centroidFiles
    assert(opened.nonEmpty && opened.subsetOf(allFiles))
    assert(opened.size < allFiles.size,
      s"serve probing 2/8 cells must open a strict subset of the " +
        s"inverted file: opened ${opened.size} of ${allFiles.size}")
    // and pruning must not change results: same probes, same top-k
    val inMem = Ann.ivfSearch(emb, queries, "vec_id", "embedding",
      nCentroids = 8, nProbe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet == inMem,
      "file-pruned serve must equal the in-memory search")
  }

  test("IVF persisted index: upsert degrades file pruning, compact restores it") {
    import graft.offline.VersionedStore
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val indexRoot =
      java.nio.file.Files.createTempDirectory("ivfcomp").toString + "/idx"
    Ann.ivfBuildIndex(emb, "vec_id", "embedding", nCentroids = 8, indexRoot)
    val queries = emb.filter($"vec_id" < 3)
    def servedFiles(): Set[String] = {
      val centroidFiles = VersionedStore
        .read(spark, s"$indexRoot/centroids").inputFiles.toSet
      Ann.ivfServe(spark, indexRoot, queries, "vec_id", "embedding",
        nProbe = 2, k = 5, excludeSelf = true).inputFiles.toSet -- centroidFiles
    }
    def result(): Set[(Long, Long, Long)] =
      Ann.ivfServe(spark, indexRoot, queries, "vec_id", "embedding",
        nProbe = 2, k = 5, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val prunedBefore = servedFiles().size
    // a wide upsert: vectors landing in MANY cells -> one merge commit
    // whose new files span the cell range and are never pruned
    Graft.annIvfUpsert(
      emb.filter($"vec_id" >= 100 && $"vec_id" < 200)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"),
      indexRoot)
    val prunedAfterUpsert = servedFiles().size
    assert(prunedAfterUpsert > prunedBefore,
      s"merge-written files should defeat pruning until compaction " +
        s"($prunedBefore -> $prunedAfterUpsert)")
    val afterUpsert = result()
    Graft.annIvfCompact(spark, indexRoot, nFiles = 8)
    assert(servedFiles().size <= prunedBefore + 1,
      "cell-sorted compaction must restore ~per-cell file pruning")
    assert(result() == afterUpsert,
      "compaction must not change serve results")
  }

  test("IVF-SQ8 persisted index: full-probe serve equals the quantized brute scan; code is 1 byte/dim") {
    import org.apache.spark.sql.types.BinaryType
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val indexRoot =
      java.nio.file.Files.createTempDirectory("ivfsq8").toString + "/idx"
    Ann.ivfBuildIndexSq8(emb, "vec_id", "embedding", nCentroids = 8,
      indexRoot)
    val queries = emb.filter($"vec_id" < 10)
    val served = Ann.ivfServeSq8(spark, indexRoot, queries,
      "vec_id", "embedding", nProbe = 8, k = 5, excludeSelf = true)
    // probing every cell reduces IVF-SQ8 to the exact quantized scan —
    // same grid (deterministic per-dimension min/max), same asymmetric
    // dot, same tie-breaks, so results are bit-equal
    val brute = Ann.bruteTopKSq8(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(served.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getLong(3))).toSet == brute)
    // the 4x compression claim is structural: 1 byte per dimension
    val assigned = graft.offline.VersionedStore
      .read(spark, s"$indexRoot/assignment_sq8")
    assert(assigned.schema("code").dataType == BinaryType)
    val dim = emb.select($"embedding").head().getSeq[Float](0).length
    assert(assigned.select($"code").head().getAs[Array[Byte]](0).length
      == dim)
    // refresh: an upserted duplicate of vec_id 0, encoded with the
    // STORED grid, must surface as its top neighbor at the same
    // rounded cosine a self-match scores under quantization
    val v0 = emb.filter($"vec_id" === 0)
    val newId = 20000000L
    Ann.ivfIndexUpsertSq8(v0.select(lit(newId).as("vec_id"), $"embedding"),
      indexRoot, "vec_id", "embedding")
    val after = Ann.ivfServeSq8(spark, indexRoot, v0,
      "vec_id", "embedding", nProbe = 8, k = 1, excludeSelf = true)
      .collect()
    assert(after.length == 1 && after.head.getLong(1) == newId,
      s"upserted duplicate must be the top neighbor: ${after.toSeq}")
  }

  test("lsh buckets are deterministic across invocations") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val a = SparkEntry.qAnnLsh(spark, TestSpark.sfDir)
      .orderBy("query_id", "rank").collect().toSeq
    val b = SparkEntry.qAnnLsh(spark, TestSpark.sfDir)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("multimodal: mapPartitions decode path equals codegen path") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val viaPartitions = MultiModal
      .decodeMeta(MultiModal.withPayload(docs, "doc_id", "text"))
      .toDF().orderBy("doc_id").collect().toSeq
    val viaColumns = MultiModal.metaColumns(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(viaPartitions == viaColumns)
  }

  test("extractEmbeddings: batched partition-wise, fixed dim, deterministic") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val payloads = MultiModal.withPayload(docs, "doc_id", "text")
    val a = MultiModal.extractEmbeddings(payloads, dim = 16, batchSize = 8)
      .collect().map(e => e.doc_id -> e.embedding.toSeq).toMap
    val b = MultiModal.extractEmbeddings(payloads, dim = 16, batchSize = 64)
      .collect().map(e => e.doc_id -> e.embedding.toSeq).toMap
    assert(a.size == docs.count())
    assert(a.values.forall(_.length == 16))
    // batch size is an execution detail — results must not depend on it
    assert(a == b)
  }

  test("sampleFrames: stride sampling within stub frame counts") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val frames = MultiModal.sampleFrames(docs, "doc_id", "text", stride = 5)
    val byDoc = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("n_frames").as("nf"),
        max("frame_idx").as("maxIdx"))
      .collect()
    byDoc.foreach { r =>
      val expected = (r.getAs[Long]("nf") + 4) / 5 // ceil(n_frames/stride)
      assert(r.getAs[Long]("n") == expected)
      assert(r.getAs[Long]("maxIdx") < r.getAs[Long]("nf"))
    }
  }

  test("graft_dot usable from pure SQL via function registration") {
    graft.functions.VectorExpressions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT))," +
      "                 array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(r == 4.0)
  }

  test("graft SQL surface: shingles/simhash64 parity with the DataFrame API") {
    import graft.functions.{GraftSqlFunctions, ShingleHash, SimHash64}
    GraftSqlFunctions.register(spark)
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("graft_sql_docs")
    val viaSql = spark.sql(
      """SELECT graft_simhash64(text)     AS sig,
        |       graft_simhash64(text, 1)  AS sig1,
        |       sort_array(graft_shingles(text, 3)) AS sh
        |FROM graft_sql_docs""".stripMargin).head()
    val viaApi = df.select(
      SimHash64.simhash64(col("text")).as("sig"),
      SimHash64.simhash64(col("text"), 1).as("sig1"),
      sort_array(ShingleHash.shingles(col("text"), 3)).as("sh")).head()
    assert(viaSql == viaApi)
    assert(viaSql.getLong(0) != viaSql.getLong(1),
      "family 1 must be an independent signature")
    // constructor-parameter args must be literals — a column there is
    // a planning error, not a silent misplan
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingles(text, CAST(doc_id AS INT)) " +
        "FROM graft_sql_docs").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("GraftExtensions injects the SQL surface at session build") {
    import org.apache.spark.sql.SparkSession
    val base = spark
    // getOrCreate returns the active session unless cleared; clearing
    // lets the builder construct a sibling session (same SparkContext)
    // with the extensions applied — the cluster-config path.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extended = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions())
        .getOrCreate()
      assert(extended ne base, "builder must have created a new session")
      val sig = extended.sql(
        "SELECT graft_simhash64('hello world') AS s").head().getLong(0)
      val expected = Seq("hello world").toDF("t")
        .select(graft.functions.SimHash64.simhash64(col("t"))).head().getLong(0)
      assert(sig == expected)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("SQ8 quantized ANN: high recall vs float brute force, reconstruction within half a grid step") {
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def topSets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = topSets(Ann.bruteTopK(emb, queries, "vec_id", "embedding", 10))
    val quant = topSets(Ann.bruteTopKSq8(emb, queries, "vec_id", "embedding", 10))
    val recalls = exact.map { case (q, s) =>
      (s intersect quant.getOrElse(q, Set.empty)).size.toDouble / s.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9")
    // reconstruction: every dequantized component within half a grid
    // step of the original (the SQ8 contract the recall rests on)
    val p = Ann.sq8Train(emb, "embedding")
    val v = emb.head().getAs[scala.collection.Seq[Float]]("embedding").toArray
    val enc = graft.functions.Sq8Encode(
      org.apache.spark.sql.catalyst.expressions.Literal(null), p.mins, p.scales)
    val code = enc.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v))
    v.indices.foreach { i =>
      val d = p.mins(i) + (code(i) & 0xff) * p.scales(i)
      assert(math.abs(d - v(i)) <= p.scales(i) / 2 + 1e-4f,
        s"dim $i: decoded $d vs ${v(i)} exceeds half-step ${p.scales(i) / 2}")
    }
  }

  test("chunk: windows cover every token, overlap by window-stride, short docs get one chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunk(docs, "doc_id", "text",
        window = 4, stride = 2)
      .collect().groupBy(_.getLong(0))
    assert(!out.contains(3L), "null text produces no chunks")
    assert(out(2L).map(_.getString(2)).toSeq == Seq("only three tokens"),
      "doc shorter than the window is one whole chunk")
    val c1 = out(1L).sortBy(_.getLong(1))
    // 10 tokens, window 4, stride 2 → starts 0,2,4,6 → 4 chunks
    assert(c1.map(_.getString(2)).toSeq == Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(c1.map(_.getLong(3)).toSeq == Seq(4L, 4L, 4L, 4L))
    // stride-spaced union reconstructs the document exactly
    val rebuilt = c1.map(_.getString(2).split(" ").take(2)).flatten ++
      c1.last.getString(2).split(" ").drop(2)
    assert(rebuilt.toSeq == (1 to 10).map(i => s"w$i"))
  }

  test("tfidf: hand-computed scores, rarest terms rank first, ties break on term") {
    val docs = Seq(
      (1L, "cat sat mat"), (2L, "cat ran"), (3L, "dog barks loud"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text", topK = 2)
      .collect().groupBy(_.getLong(0))
    // doc 1: mat/sat are unique (df=1): (1/3)·(ln(4/2)+1) = 0.564382;
    // cat (df=2) scores (1/3)·(ln(4/3)+1) = 0.429227 and is cut by
    // topK=2. Tie between mat/sat breaks alphabetically.
    val d1 = out(1L).map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(d1 == Seq(("mat", 0.564382), ("sat", 0.564382)))
    val d2 = out(2L).map(_.getString(1)).toSet
    assert(d2 == Set("cat", "ran"), "doc 2 has only two terms")
  }

  test("tokenCount consistent with quality word counts") {
    val docs = Seq((1L, "the cat sat on a mat")).toDF("doc_id", "text")
    val tc = TextAnalysis.tokenCount(docs, "doc_id", "text").head()
    assert(tc.getAs[Long]("ws_tokens") == 6L)
    assert(tc.getAs[Long]("re_tokens") == 6L)
    val q = TextAnalysis.quality(docs, "doc_id", "text").head()
    assert(q.getAs[Long]("n_words") == 6L)
    assert(q.getAs[Double]("stopword_ratio") == math.round(2.0 / 6 * 1e6) / 1e6)
  }

  test("fingerprint normalizes case and whitespace") {
    val docs = Seq((1L, "Hello  World"), (2L, " hello world "))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(docs, "doc_id", "text")
      .select("fingerprint").distinct().count()
    assert(fps == 1L)
  }

  test("redactPii: staged rules, counts match replacements, idempotent") {
    val docs = Seq(
      (1L, "mail a.b+c@x-corp.io or admin@a.b.co ip 10.2.30.4 " +
        "call 555-123-4567 acct 123456789012"),
      (2L, "nothing sensitive here"),
      (3L, "10.0.0.1 10.0.0.2")  // two IPs, nothing else
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[String]("text_redacted") ==
      "mail <EMAIL> or <EMAIL> ip <IP> call <PHONE> acct <ID>")
    assert(r1.getAs[Long]("n_email") == 2L &&
      r1.getAs[Long]("n_ip") == 1L && r1.getAs[Long]("n_phone") == 1L &&
      r1.getAs[Long]("n_id") == 1L)
    assert(out(2L).getAs[String]("text_redacted") ==
      "nothing sensitive here")
    assert(out(3L).getAs[Long]("n_ip") == 2L)
    // the 12-digit account number was counted by the id rule only —
    // staged counting: the ip rule saw it, but 12 digits with no dots
    // don't match, and the id count runs on phone-redacted text
    assert(r1.getAs[Long]("n_ip") == 1L)
    // idempotent: a second pass over redacted text finds nothing
    val again = TextAnalysis.redactPii(
      TextAnalysis.redactPii(docs, "doc_id", "text")
        .select(col("doc_id"), col("text_redacted").as("text")),
      "doc_id", "text")
      .agg(sum(col("n_email") + col("n_ip") + col("n_phone") +
        col("n_id"))).head().getLong(0)
    assert(again == 0L)
  }

  test("lineDedup: cuts corpus-frequent lines, keeps short and unique ones, order preserved") {
    val boiler = "subscribe to our newsletter"
    val docs = (1L to 12L).map { i =>
      (i, s"unique opening $i\n$boiler\n-\nclosing line $i")
    } :+ (13L, s"$boiler")  // doc that is ONLY boilerplate
    val out = Dedup.lineDedup(docs.toDF("doc_id", "text"),
        "doc_id", "text", maxDf = 10, minChars = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 13, "every input doc comes back")
    val r1 = out(1L)
    // boilerplate (df=13 >= 10) cut; "-" is frequent but < minChars →
    // kept; unique lines kept in original order
    assert(r1.getAs[String]("text_clean") ==
      "unique opening 1\n-\nclosing line 1")
    assert(r1.getAs[Long]("n_lines") == 4L &&
      r1.getAs[Long]("n_dropped") == 1L)
    val r13 = out(13L)
    assert(r13.getAs[String]("text_clean") == "" &&
      r13.getAs[Long]("n_lines") == 1L &&
      r13.getAs[Long]("n_dropped") == 1L)
  }

  test("decontaminationScores: graded overlap fraction, zero-overlap docs keep a row") {
    val train = Seq(
      (1L, "a b c d e f"),    // shares shingles with eval doc
      (2L, "q r s t u v"),    // disjoint from eval
      (3L, "x y")             // too short for 3-grams → no row
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val out = Dedup.decontaminationScores(train, "doc_id", "text",
        eval_, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: 4 distinct 3-grams, shares "a b c" and "b c d" → 2/4
    assert(out(1L) == ((4L, 2L, 0.5)))
    assert(out(2L) == ((4L, 0L, 0.0)))
    assert(!out.contains(3L), "shingle-less docs have no score row")
  }

  test("winnow: shared-run guarantee, short-doc edges, 1/w density") {
    val sharedRun = "alpha beta gamma delta epsilon zeta eta theta" // 8 words = k+w-1
    val docs = Seq(
      (1L, s"one two three four five six seven $sharedRun"),
      (2L, s"$sharedRun nine ten eleven twelve thirteen fourteen"),
      (3L, "completely different words with no common runs at all today"),
      (4L, "tiny doc"),                    // < k words: no fingerprints
      (5L, "exactly five words here now"), // 5 words = 1 gram: 1 fp
      (6L, "")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnow(docs, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: >= k+w-1 shared words -> shared fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "docs sharing an 8-word run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "no shared runs, no overlap")
    assert(!byDoc.contains(4L) && !byDoc.contains(6L),
      "docs shorter than k words emit nothing")
    assert(byDoc(5L).size == 1, "k..k+w-2 grams emit the single minimum")
    // density: far fewer fingerprints than grams for a long doc
    val longDoc = Seq((9L, (1 to 400).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val nFps = TextAnalysis.winnow(longDoc, "doc_id", "text", 5, 4).count()
    assert(nFps < 396 / 2, s"winnowing must thin fingerprints, got $nFps")
    // determinism
    val again = TextAnalysis.winnow(docs, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(fps.sorted.toSeq == again.sorted.toSeq)
  }

  test("winnowPairs: finds contiguous-copy pairs, df cap silences boilerplate") {
    val copied = (1 to 30).map(i => s"c$i").mkString(" ")
    val boiler = "all rights reserved contact us for more information today ok"
    val base = Seq(
      (1L, s"intro words here $copied trailing text one"),
      (2L, s"$copied completely other tail for doc two"),
      (3L, "unrelated document content with nothing shared at all here"))
    // 12 docs sharing ONLY the boilerplate line (plus unique filler
    // long enough to fingerprint)
    val noise = (10L to 21L).map(i =>
      (i, s"$boiler unique$i filler$i words$i extra$i more$i tail$i"))
    val docs = (base ++ noise).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 2L, maxDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "a 30-word contiguous copy must be detected")
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L),
      s"boilerplate-only overlap above maxDf must produce no pairs: $pairs")
    // uncapped, the boilerplate fps come back and link the noise docs
    val uncapped = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 2L, maxDf = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.exists(p => p._1 >= 10L && p._2 >= 10L))
  }

  test("topNgrams: df-ranked with deterministic tie-break, short docs contribute nothing") {
    val docs = Seq(
      (1L, "a b c a b c x"),
      (2L, "a b c z z"),
      (3L, "a b"), // shorter than n → no grams
      (4L, "")     // empty → no grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topNgrams(docs, "doc_id", "text", n = 3, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "a b c": df 2 (docs 1, 2), 3 occurrences; every other gram df 1
    // and the df-1 tie breaks (cnt desc, ngram asc) → "b c a" (cnt 1
    // ties with the rest, lexicographically first)
    assert(out.head == ("a b c", 2L, 3L))
    // df-1 cnt-1 tie breaks lexicographically: "b c a" beats
    // "b c x"/"b c z"/"c a b"/"c z z"
    assert(out.length == 2 && out(1) == ("b c a", 1L, 1L))
  }

  test("lineDedup below maxDf leaves documents untouched") {
    val docs = Seq((1L, "shared line here\nown 1"),
      (2L, "shared line here\nown 2")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text",
        maxDf = 3, minChars = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "shared line here\nown 1")
    assert(out(2L) == "shared line here\nown 2")
  }

  test("lineDedupFrozen equals the batch pass given the same corpus's frozen set") {
    val boiler = "repeated across the corpus"
    val docs = (1L to 12L)
      .map(i => (i, s"own line $i\n$boiler\ntail $i"))
      .toDF("doc_id", "text")
    val frozen = Dedup.freezeFrequentLines(docs, "doc_id", "text",
      maxDf = 10, minChars = 5)
    assert(frozen.length == 1, "exactly the boilerplate line freezes")
    val batch = Dedup.lineDedup(docs, "doc_id", "text", 10, 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val viaFrozen = Dedup.lineDedupFrozen(docs, "doc_id", "text", frozen)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(viaFrozen == batch)
    assert(batch.head._2.nonEmpty) // sanity: something survived
  }

  test("corpusReport: per-dimension volumes and mean length") {
    val docs = Seq(("a", "en", "xx yy"), ("a", "en", "zz"),
      ("b", "fr", "q")).toDF("source", "lang", "text")
    val r = TextAnalysis.corpusReport(docs, "text", Seq("source", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(r == Set(("a", "en", 2L, 3L, 7L, 3.5),
      ("b", "fr", 1L, 1L, 1L, 1.0)), s"got $r")
  }

  // Axis-aligned unit vectors make cosine exact: e0·e0=1, e0·e1=0,
  // and a 45° mix scores 0.7071 against both axes.
  private def labeledVecs = Seq(
    (0L, Array(1f, 0f, 0f), 0),
    (1L, Array(0.9f, 0.1f, 0f), 0),    // near doc 0, same label
    (2L, Array(0.8f, 0.2f, 0f), 1),    // near doc 0, DIFFERENT label
    (3L, Array(0f, 1f, 0f), 1),
    (4L, Array(0f, 0f, 1f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("hardNegatives: only different-label neighbors, similarity-ranked") {
    val out = Ann.hardNegatives(labeledVecs,
        labeledVecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
        "label", k = 2)
      .collect().map(r => (r.getLong(2), r.getInt(3), r.getLong(5)))
    // anchor 0 (label 0): candidates are 2 (closest), 3, 4 — top-2
    // by cosine are 2 then 3; same-label doc 1 must never appear
    assert(out.map(_._1).toSeq == Seq(2L, 3L), s"got ${out.toSeq}")
    assert(out.forall(_._2 != 0))
  }

  test("hardNegativesIvf: full-probe over-fetch equals the brute miner") {
    val root = java.nio.file.Files.createTempDirectory("hnivf")
      .toString + "/index"
    Ann.ivfBuildIndex(labeledVecs, "vec_id", "embedding",
      nCentroids = 2, indexRoot = root)
    val queries = labeledVecs.filter(col("vec_id") === 0L)
    val viaIvf = Ann.hardNegativesIvf(spark, root, queries, "vec_id",
        "embedding", "label", labeledVecs, nProbe = 2, k = 2, kCand = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(5)))
      .toSet
    val brute = Ann.hardNegatives(labeledVecs, queries, "vec_id",
        "embedding", "label", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(5)))
      .toSet
    assert(viaIvf == brute, s"ivf $viaIvf vs brute $brute")
  }

  test("knnLabelAgreement: fraction of same-label neighbors, self excluded") {
    val out = Ann.knnLabelAgreement(labeledVecs,
        labeledVecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
        "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // anchor 0's 3 nearest are 1 (label 0), 2 (label 1), 3 (label 1)
    // → agreement 1/3
    assert(out == Seq((0L, 0, 3L, 0.333333)), s"got $out")
  }

  test("keepBest: per-cluster argmax by score, ties to min id, unclustered survive") {
    val docs = Seq(
      (1L, "aa"), (2L, "aaaa"), (3L, "aaa"), // transitive cluster {1,2,3}
      (4L, "bb"), (5L, "bb"),                // tie cluster {4,5}
      (6L, "solo")                           // unclustered
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepBest(docs, "doc_id", pairs, length(col("text")))
      .collect().map(_.getLong(0)).toSet
    // 2 is the longest of {1,2,3}; the {4,5} tie breaks to min id 4
    assert(kept == Set(2L, 4L, 6L), s"got $kept")
  }

  test("clusterSplit: whole clusters land on one side; unclustered follow their own hash") {
    val docs = (1L to 40L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusterSplit(docs, "doc_id", pairs, 80).collect()
    assert(out.length == 40)
    val byDoc = out.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // transitive chain 1~2~3 shares cluster id 1 AND side
    assert(byDoc(1L) == byDoc(2L) && byDoc(2L) == byDoc(3L))
    assert(byDoc(1L)._1 == 1L && byDoc(10L) == byDoc(11L))
    // unclustered docs: own id as cluster, so the side equals the
    // plain per-doc trainTestSplit decision (the two splits agree
    // wherever there is no dup structure)
    val solos = graft.operators.FeatureEng.trainTestSplit(
        docs.filter(col("doc_id") >= 20), "doc_id", 80)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    solos.foreach { case (id, side) =>
      assert(byDoc(id) == ((id, side)), s"solo $id drifted from trainTestSplit")
    }
    // degenerate percentages
    assert(Dedup.clusterSplit(docs, "doc_id", pairs, 100)
      .filter(col("split") =!= "train").isEmpty)
    assert(Dedup.clusterSplit(docs, "doc_id", pairs, 0)
      .filter(col("split") =!= "test").isEmpty)
  }

  test("clusterSplit on the gate corpus: no declared near-dup pair straddles the split") {
    // the end-to-end leakage property on real data: every q-declared
    // near-dup pair must land on ONE side of the 80/20 split
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8, 100)
      .select("doc_a", "doc_b").cache()
    assert(!pairs.isEmpty, "gate corpus must contain near-dup pairs")
    val split = Dedup.clusterSplit(docs, "doc_id", pairs, 80)
    val straddle = pairs
      .join(split.select(col("doc_id").as("doc_a"),
        col("split").as("side_a")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"),
        col("split").as("side_b")), Seq("doc_b"))
      .filter(col("side_a") =!= col("side_b"))
    assert(straddle.isEmpty,
      s"leaking pairs: ${straddle.collect().mkString(",")}")
    pairs.unpersist()
  }

  test("corpusDrift: identical slices are calm, disjoint vocabularies alarm, other-bucket bounded") {
    // identical word distributions on both sides → psi ~ 0
    val same = (1L to 20L).map(i => (i, "a b c d", if (i % 2 == 0) "A" else "B"))
      .toDF("doc_id", "text", "side")
    val calm = TextAnalysis.corpusDrift(same, "text",
      col("side") === "A", topK = 10).head()
    assert(math.abs(calm.getAs[Double]("psi")) < 0.01,
      s"identical slices must be calm: $calm")
    assert(calm.getAs[Long]("n_bins") == 4L, "vocab <= topK: no <other> bucket")
    // disjoint vocabularies → large psi; vocab 8 > topK 4 → <other> appears
    val moved = ((1L to 10L).map(i => (i, "a b c d", "A")) ++
      (11L to 20L).map(i => (i, "w x y z", "B"))).toDF("doc_id", "text", "side")
    val alarm = TextAnalysis.corpusDrift(moved, "text",
      col("side") === "A", topK = 4).head()
    assert(alarm.getAs[Double]("psi") > 1.0,
      s"disjoint vocabularies must alarm: $alarm")
    assert(alarm.getAs[Long]("n_bins") == 5L,
      "top-4 + <other> when vocab exceeds topK")
    assert(alarm.getAs[Long]("tokens_a") == 40L &&
      alarm.getAs[Long]("tokens_b") == 40L)
  }

  test("Curate.corpus: quality → line dedup → near-dup → decontam, order-dependent catch proven") {
    import graft.operators.Curate
    val c1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val c2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val b1 = "subscribe now for updates"
    val b2 = "follow us on social media"
    val docs = Seq(
      (1L, s"$c1\n$b1"), // survives; boiler b1 cut
      // near-dup of 1 ONLY after its different boiler (b2) is cut:
      // pre-cleaning the boiler shingles dilute Jaccard below 0.8
      (2L, s"$c2\n$b2"),
      (3L, s"one two three four five six seven eight nine ten eleven twelve\n$b1"),
      (4L, s"uno dos tres quattro cinque sei sette otto nove dieci undici dodici\n$b2"),
      (5L, "the quick brown fox jumps over lazy dogs today quietly"), // eval overlap
      (6L, "x y") // quality drop: below minWords
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val permissive = TextAnalysis.QualityThresholds(minWords = 4L,
      maxWords = 1000L, minAvgWordLen = 1.0, maxAvgWordLen = 30.0,
      minAlphaRatio = 0.0, minStopwordRatio = 0.0, maxTopWordRatio = 1.0,
      maxTopBigramRatio = 1.0, minDistinctRatio = 0.0)
    // pre-cleaning control: with line dedup OFF, doc 2 is NOT caught
    val noLine = Curate.corpus(docs, "doc_id", "text", Some(eval),
        Curate.CurateConfig(quality = Some(permissive), lineDedup = false,
          lineMaxDf = 2))
      .collect().map(_.getLong(0)).toSet
    assert(noLine.contains(2L),
      "without line cleanup the boiler shingles must mask the near-dup")
    val out = Curate.corpus(docs, "doc_id", "text", Some(eval),
      Curate.CurateConfig(quality = Some(permissive), lineMaxDf = 2))
    val byId = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 2 near-dups away post-cleaning, 5 is contaminated, 6 fails quality
    assert(byId.keySet == Set(1L, 3L, 4L), s"got ${byId.keySet}")
    assert(byId(1L) == c1, "survivor text must be the line-cleaned text")
  }

  test("Curate.corpus: exact copies that line dedup empties do not survive") {
    import graft.operators.Curate
    val boiler = "subscribe now for updates\nfollow us on social media"
    val docs = Seq(
      // every line of 1-3 is in >= lineMaxDf docs: line dedup empties
      // all three copies
      (1L, boiler), (2L, boiler), (3L, boiler),
      (4L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5L, "one two three four five six seven eight\nfollow us on social media")
    ).toDF("doc_id", "text")
    val out = Curate.corpus(docs, "doc_id", "text", None,
        Curate.CurateConfig(quality = None, lineMaxDf = 3))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(4L, 5L), s"got ${out.keySet}")
    assert(out(5L) == "one two three four five six seven eight")
  }

  test("clusterSizeProfile: size histogram over membership") {
    val cl = Seq((1L, 1L), (2L, 1L), (3L, 1L), // size 3
      (4L, 4L), (5L, 4L),                      // size 2
      (6L, 6L), (7L, 6L)                       // size 2
    ).toDF("doc_id", "cluster_id")
    val out = graft.operators.Dedup.clusterSizeProfile(cl)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(3L -> 1L, 2L -> 2L))
  }

  test("dedupReportFromClusters: per-slice drop counts, canonical survives, clean slices report 0") {
    val docs = Seq(
      (1L, "sA"), (2L, "sA"), (3L, "sA"), // 2,3 drop (cluster canon 1)
      (4L, "sB"), (5L, "sB"),             // 5 drops
      (6L, "sC")                           // clean slice
    ).toDF("doc_id", "source")
    val cl = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val out = graft.operators.Dedup
      .dedupReportFromClusters(docs, "doc_id", cl, Seq("source"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("sA") == ((3L, 2L, 0.666667)))
    assert(out("sB") == ((2L, 1L, 0.5)))
    assert(out("sC") == ((1L, 0L, 0.0)), "clean slice must report 0, not vanish")
  }

  test("cluster index: star refresh equals batch clusters, bridges merge, history travels") {
    val root = java.nio.file.Files
      .createTempDirectory("clidx").toString + "/idx"
    // shard 1: components {1,2} and {4,5}
    val p1 = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    Dedup.buildClusterIndex(p1, root)
    // shard 2: 3 joins {1,2}; {6,7} is new; 2~4 BRIDGES the two old
    // components (the case star edges must carry)
    val p2 = Seq((2L, 3L), (6L, 7L), (2L, 4L)).toDF("doc_a", "doc_b")
    val refreshed = Dedup.refreshClusterIndex(spark, p2, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Dedup.clusters(p1.unionByName(p2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(refreshed == batch, s"refresh=$refreshed batch=$batch")
    assert(refreshed(5L) == 1L, "old component {4,5} must merge into 1")
    // the persisted artifact is what the read returns, and v0 still
    // serves the pre-merge assignment (time-travelable cuts)
    val served = graft.offline.VersionedStore.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == refreshed)
    val v0 = graft.offline.VersionedStore.read(spark, root, versionAsOf = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v0 == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L))
    // an empty refresh is a fixpoint (singletons preserved through
    // the id spine)
    val again = Dedup.refreshClusterIndex(spark,
      p1.limit(0), root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == refreshed)
  }

  test("novelty: duplicated docs score 0, unique docs 1, short docs no row") {
    val docs = Seq(
      (1L, "w x y z"), (2L, "w x y z"), // every shingle df=2
      (3L, "p q r s"),                  // every shingle df=1
      (4L, "a b")                       // < 3 words: no shingles, no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.novelty(docs, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!out.contains(4L), "short doc must have no novelty row")
    assert(out(1L) == ((2L, 0L, 0.0)) && out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((2L, 2L, 1.0)))
  }

  test("Html.extract: strips blocks/comments/tags, decodes entities once, counts links") {
    val page = "<html><head><title> My &amp; Title </title>" +
      "<style>p { color: red; }</style>" +
      "<script>if (a < b) { s = \"</p>\"; }</script></head>" +
      "<body class=\"x\"><h1>Head</h1><p>one two</p>" +
      "<a href=\"/x\">link text</a><!-- <p>ghost</p> -->" +
      "<p>three &amp;lt; four</p></body></html>"
    val out = graft.operators.Html.extract(
      Seq((1L, page)).toDF("doc_id", "html"), "doc_id", "html")
      .collect().head
    assert(out.getString(1) == "My & Title")
    // script body (incl. its embedded "</p>" string and the a<b
    // comparison), style rules, and the comment's ghost paragraph all
    // gone. "&amp;lt;" must decode exactly ONE level: the &lt; pass
    // finds no "&lt;" substring in it, then the LAST pass rewrites
    // &amp; → &, leaving the literal text "&lt;".
    assert(out.getString(2) == "Head one two link text three &lt; four")
    assert(out.getLong(3) == 1L) // n_links
    val nChars = out.getLong(4)
    assert(nChars == "Head one two link text three &lt; four".length.toLong)
    assert(out.getDouble(5) ==
      BigDecimal("link text".length.toDouble / nChars)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("HtmlMainContent expression == array-lambda reference chain, adversarial pages included") {
    // the codegen expression replaced the interpreted lambda chain
    // for speed; this differential pins them byte-equal on the
    // corners where a rewrite could drift: mismatched block pairs,
    // script closed by </style>, UNCLOSED script tag (survives the
    // pre-strip, killed by the per-block tag strip), escaped
    // entities (&amp;lt; must decode ONE level), nested anchors,
    // supplementary chars (length() counts code points, not UTF-16
    // units), minWords=0 (empty kept blocks still join with spaces),
    // and a blockless / empty / tabs-and-newlines page.
    val pages = Seq(
      "<p>one two three</p><li>four five six</li>",
      "<p>open para</li><h2>closed by li</p>", // mismatched pairs are legal blocks
      "<script>var a = \"<p>ghost</p>\";</style><p>after mixed close one two</p>",
      "<script>no close <p>swallowed one two three</p>",
      "<p>&amp;lt;escaped&amp;gt; stays seven words here</p>",
      "<p><a href=\"/x\"><b>bold</b> link</a> plus plain words here</p>",
      "<p>emoji 😀😀 pair counting four words</p>",
      "<p>a <a>b</a></p><p></p><p>   </p>", // short + empty + whitespace blocks
      "<h3>tab\tand\nnewline   collapse test</h3>",
      "<div>blockless page, free text only</div>",
      "",
      "<p><!-- comment inside block --> visible words here</p>")
    for (minWords <- Seq(0, 3)) {
      val df = pages.zipWithIndex
        .map { case (p, i) => (i.toLong, p) }.toDF("doc_id", "html")
      val fast = df.select($"doc_id",
        graft.functions.HtmlMainContent.mainContent($"html", minWords).as("mc"))
      val ref = df.select($"doc_id",
        graft.operators.Html.mainContentColReference($"html", minWords).as("mc"))
      val got = fast.select($"doc_id", $"mc.*").collect().map(_.toSeq).toSeq
      val want = ref.select($"doc_id", $"mc.*").collect().map(_.toSeq).toSeq
      assert(got == want, s"minWords=$minWords diverged")
    }
    // and over the real sf0.001 corpus text wrapped in markup, so the
    // differential also sees natural text (punctuation, quotes, real
    // entity-free prose) at volume
    val corpus = graft.Tables.documents(spark, TestSpark.sfDir)
      .select($"doc_id", concat(lit("<p>"), coalesce($"text", lit("")),
        lit("</p><li><a href=\"/x\">"), coalesce($"text", lit("")),
        lit("</a></li>")).as("html"))
    val gotC = corpus.select($"doc_id",
        graft.functions.HtmlMainContent.mainContent($"html", 3).as("mc"))
      .select($"doc_id", $"mc.*").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val wantC = corpus.select($"doc_id",
        graft.operators.Html.mainContentColReference($"html", 3).as("mc"))
      .select($"doc_id", $"mc.*").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(gotC.nonEmpty && gotC == wantC, "corpus differential diverged")
  }

  test("Html.mainContent: keeps content blocks, drops link farms, short blocks, ghost blocks") {
    val page = "<script>var x = \"<p>\";</script>" + // unclosed <p> in script
      "<h1>short head</h1>" +                        // 2 words → dropped
      "<p>one two three four</p>" +                  // content
      "<p><a href=\"/a\">buy</a> <a href=\"/b\">now</a> <a href=\"/c\">cheap</a></p>" +
      "<!-- <p>ghost block here</p> -->" +           // comment → never a block
      "<pre>not a p block</pre>" +                   // <pre> must not match p
      "<p>five six seven</p>"
    val r = graft.operators.Html.mainContent(
      Seq((1L, page)).toDF("doc_id", "html"), "doc_id", "html")
      .collect().head
    assert(r.getLong(1) == 4L, s"n_blocks: $r")   // h1, p, farm, p
    assert(r.getLong(2) == 2L)                     // two content paragraphs
    assert(r.getString(3) == "one two three four five six seven")
    assert(r.getDouble(4) > 0.0 && r.getDouble(4) < 1.0)
    // blockless page: zero ratio, empty text
    val none = graft.operators.Html.mainContent(
      Seq((2L, "<div>free text only</div>")).toDF("doc_id", "html"),
      "doc_id", "html").collect().head
    assert(none.getLong(1) == 0L && none.getString(3) == "" &&
      none.getDouble(4) == 0.0)
  }

  test("q_crawl_pipeline: status gate wins over content gates; chain produces keeps") {
    val out = SparkEntry.queries("q_crawl_pipeline")(spark, TestSpark.sfDir)
      .collect()
    assert(out.nonEmpty)
    val allowed = Set("http_error", "too_short", "boilerplate", "kept")
    out.foreach { r =>
      val id = r.getLong(0)
      assert(allowed(r.getString(4)))
      if (id % 7 == 0) // constructed 404s: first reason, no matter the content
        assert(r.getString(4) == "http_error", s"doc $id: $r")
      else assert(r.getInt(1) == 200, s"doc $id parsed wrong status: $r")
    }
    assert(out.exists(_.getString(4) == "kept"), "no doc survived the chain")
  }

  test("Html.extract: no <body> tag falls back to whole doc; empty page is zero-density") {
    val docs = Seq(
      (1L, "plain <b>fragment</b> text"),
      (2L, "<body></body>")
    ).toDF("doc_id", "html")
    val out = graft.operators.Html.extract(docs, "doc_id", "html")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(2) == "plain fragment text")
    assert(out(2L).getString(2) == "" && out(2L).getLong(4) == 0L)
    assert(out(2L).getDouble(5) == 0.0)
  }

  test("semanticDecontam: identical vector flags 1.0, orthogonal passes, boundary rounds first") {
    val eval = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), // cos 1.0
      (2L, Array(0.0f, 1.0f)), // cos 0.0 → clean
      (3L, Array(1.0f, 1.0f))  // cos → 0.707107 after round(6)
    ).toDF("vec_id", "embedding")
    val out = Ann.semanticDecontam(corpus, eval, "vec_id", "embedding", 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(1L, 3L), s"got $out")
    assert(out(1L) == ((1L, 1.0)))
    assert(out(3L) == ((1L, 0.707107)))
    // threshold compares the ROUNDED cosine: 0.707107 >= 0.707107
    val atBoundary = Ann.semanticDecontam(corpus, eval, "vec_id",
      "embedding", 0.707107).collect().map(_.getLong(0)).toSet
    assert(atBoundary == Set(1L, 3L))
    // zero-norm vectors are skipped, not NaN-flagged against all evals
    val withDead = corpus.unionByName(
      Seq((9L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val dead = Ann.semanticDecontam(withDead, eval, "vec_id",
      "embedding", 0.5).collect().map(_.getLong(0)).toSet
    assert(dead == Set(1L, 3L), s"zero-norm must not flag: $dead")
  }

  test("minkScore: trimmed mean isolates the hard-token tail") {
    // doc 1: all common words; doc 2: same common prefix + rare tail.
    // Mean-over-all (lmScore) moves less than the top-20% trim.
    val docs = Seq(
      (1L, "a a a a a a a a a b"),
      (2L, "a a a a a a a a a zzz")).toDF("doc_id", "text")
    val out = TextAnalysis.minkScore(docs, "doc_id", "text", topFrac = 0.2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_topk"),
          r.getAs[Double]("mink_score")))).toMap
    // 10 tokens -> ceil(0.2*10) = 2 hardest per doc
    assert(out(1L)._1 === 10L && out(1L)._2 === 2L)
    // doc 2's top-2 = {zzz (cnt 1), a}; doc 1's = {b (cnt 1), a}:
    // same counts -> same surprises -> equal scores; both dominated
    // by their rare token
    assert(out(1L)._3 === out(2L)._3)
    val freqTot = 20.0
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = r4((-math.log(1 / freqTot) + -math.log(18 / freqTot)) / 2)
    assert(out(1L)._3 === expected)
  }

  test("minkScore over the corpus: every doc scored, top-k sized ceil(0.2 n)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TextAnalysis.minkScore(docs, "doc_id", "text").collect()
    assert(out.length === docs.count())
    out.foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val k = r.getAs[Long]("n_topk")
      assert(k === math.ceil(0.2 * n).toLong, s"doc ${r.get(0)}")
      assert(r.getAs[Double]("mink_score") > 0)
    }
  }

  test("corpusReportKAnon: small cells keep dims + flag, NULL measures; sums honest") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val rep = TextAnalysis.corpusReportKAnon(docs, "text",
      Seq("source", "lang"), k = 3L)
    val full = TextAnalysis.corpusReport(docs, "text", Seq("source", "lang"))
    assert(rep.count() === full.count(), "suppression must not drop rows")
    val sup = rep.filter(org.apache.spark.sql.functions.col("suppressed"))
    assert(sup.count() > 0, "k=3 must suppress something on the gate corpus")
    assert(sup.filter(org.apache.spark.sql.functions.col("n_docs").isNotNull)
      .count() === 0, "suppressed cells must NULL their measures")
    val pub = rep.filter(!org.apache.spark.sql.functions.col("suppressed"))
    assert(pub.filter(org.apache.spark.sql.functions.col("n_docs") < 3)
      .count() === 0, "published cells must all clear k")
  }

  test("zipfFit: a power-law corpus fits slope ~ -1 with high R2; flat and degenerate corpora are flagged") {
    import graft.operators.TextAnalysis
    // true Zipf corpus: word_r appears floor(1000/r) times
    val zipf = (1 to 50).flatMap(r => Seq.fill(1000 / r)(s"w$r"))
    val zdoc = Seq((1L, zipf.mkString(" "))).toDF("doc_id", "text")
    val zfit = TextAnalysis.zipfFit(zdoc, "doc_id", "text").head()
    assert(zfit.getAs[Long]("vocab") === 50L)
    val slope = zfit.getAs[Double]("slope")
    val r2 = zfit.getAs[Double]("r2")
    assert(slope < -0.9 && slope > -1.1, s"Zipf corpus slope: $slope")
    assert(r2 > 0.99, s"Zipf corpus R2: $r2")
    // flat corpus: every word equally frequent → zero y-variance →
    // R2 NULL (guarded, never NaN), slope exactly 0
    val flat = Seq((1L, (1 to 40).map(i => s"u$i u$i u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ffit = TextAnalysis.zipfFit(flat, "doc_id", "text").head()
    // per-row micro rounding leaves ≤1e-6-scale residue in the sums
    assert(math.abs(ffit.getAs[Double]("slope")) <= 1e-5,
      s"flat corpus slope: ${ffit.getAs[Double]("slope")}")
    assert(ffit.isNullAt(ffit.fieldIndex("r2")),
      "zero variance must surface as NULL, not NaN")
    // single word: no rank variance → all NULL
    val one = Seq((1L, "solo solo solo")).toDF("doc_id", "text")
    val ofit = TextAnalysis.zipfFit(one, "doc_id", "text").head()
    assert(ofit.isNullAt(ofit.fieldIndex("slope")))
  }

  test("perplexityBucketsByLang: terciles per language; a minority-lang doc is ranked within its own lang") {
    import graft.operators.TextAnalysis
    // lang B's vocabulary is rarer corpus-wide (higher surprise), so a
    // GLOBAL split would push all of B into the tail; the per-lang
    // split must bucket each language against itself
    val docs = ((1L to 30L).map(i => (i, "the the the common words here", "aa")) ++
      Seq((101L, "rare1 rare2", "bb"), (102L, "rare1 rare3", "bb"),
        (103L, "rare2 rare3", "bb"), (104L, "rare4 rare5", "bb"),
        (105L, "rare4 rare6", "bb"), (106L, "rare5 rare6", "bb")))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.perplexityBucketsByLang(docs, "doc_id",
      "text", "lang").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(4))).toMap
    val bBuckets = out.filter(_._2._1 == "bb").values.map(_._2).toSet
    assert(bBuckets.contains("head"),
      s"minority lang must have its own head: $out")
    // global split for contrast: all bb docs are global tail
    val global = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert((101L to 106L).forall(i => global(i) == "tail"),
      s"fixture precondition: bb is the global tail: $global")
    // identical scores within a lang share a bucket (ties share pr)
    val aa = out.filter(_._2._1 == "aa").values.map(_._2).toSet
    assert(aa === Set("head"), "all-tied lang collapses to pr 0 = head")
  }

  test("doremi weightsFromExcess: distributed MW trajectory == sequential integer reference") {
    import graft.operators.Doremi
    val M = 1000000L
    val ex = Seq(("a", 2000000L), ("b", 500000L), ("c", 0L), ("d", 3500000L))
    val eta = 500000L; val steps = 4; val smooth = 10000L
    // sequential reference: the identical integer update, plain Scala
    val k = ex.size.toLong
    val factor = ex.map { case (_, e) => M + (eta * e + 500000L) / M }
    var w = Array.fill(ex.size)(M / k)
    val traj = Array.fill(ex.size)(0L)
    (1 to steps).foreach { _ =>
      val u = w.zip(factor).map { case (wi, fi) => (wi * fi + 500000L) / M }
      val tu = u.sum
      w = u.map(ui => (ui * M) / tu)
      w.zipWithIndex.foreach { case (wi, i) => traj(i) += wi }
    }
    val expect = ex.zipWithIndex.map { case ((s, _), i) =>
      val alpha = traj(i) / steps
      s -> ((s, alpha, ((M - smooth) * alpha) / M + smooth / k))
    }.toMap
    val got = Doremi.weightsFromExcess(
        ex.toDF("source", "excess_micro"), eta, steps, smooth)
      .select("source", "alpha_micro", "share_micro").collect()
      .map(r => r.getString(0) -> (r.getString(0), r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === expect)
    // monotone: more excess, more share; smoothing keeps a floor
    val byShare = got.values.toSeq.sortBy(-_._3).map(_._1)
    assert(byShare === Seq("d", "a", "b", "c"))
    assert(got("c")._3 >= smooth / k, "smoothing must floor the coldest domain")
  }

  test("doremi on the corpus: shares sum to ~1e6, rank-aligned with excess; learned mix realizes them") {
    import graft.operators.Doremi
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val w = Doremi.domainWeights(docs, "doc_id", "text", "source").collect()
    assert(w.length > 1)
    val shareSum = w.map(_.getAs[Long]("share_micro")).sum
    // each domain floors at three points (trajectory avg, smoothing
    // product, uniform floor) → worst-case deficit 3 micros/domain
    assert(math.abs(shareSum - 1000000L) <= 3L * w.length,
      s"shares must sum to 1e6 within flooring: $shareSum")
    val byExcess = w.sortBy(-_.getAs[Long]("excess_micro")).map(_.getString(0)).toSeq
    val byShare = w.sortBy(-_.getAs[Long]("share_micro")).map(_.getString(0)).toSeq
    assert(byExcess === byShare, "share order must follow excess order")
    // application: every kept row passed its own source's md5 gate,
    // and the binding (highest-rate) source keeps ~everything
    val mix = Doremi.domainMixLearned(docs, "doc_id", "text", "source")
      .collect()
    assert(mix.nonEmpty)
    assert(mix.forall(r => r.getAs[Long]("sample_bucket") <
      r.getAs[Long]("rate_bp")))
    // deterministic: a rerun is row-identical
    val again = Doremi.domainMixLearned(docs, "doc_id", "text", "source")
      .collect()
    assert(mix.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
  }

  test("kmeans: Lloyd objective non-increasing, deterministic, every vector assigned") {
    import graft.operators.Kmeans
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val n = emb.count()
    def totalDist(iters: Int): Long =
      Kmeans.fitAssign(emb, "vec_id", "embedding", k = 4, dim = 64,
          iters = iters)
        .agg(sum("dist_micro2")).head().getLong(0)
    val d0 = totalDist(0)
    val d3 = totalDist(3)
    assert(d3 <= d0, s"Lloyd must not worsen the objective: $d0 -> $d3")
    val a = Kmeans.fitAssign(emb, "vec_id", "embedding", 4, 64, 3)
    assert(a.count() === n, "every vector must be assigned")
    assert(a.select("cluster").distinct().count() >= 2,
      "the fit must actually separate the corpus")
    val b = Kmeans.fitAssign(emb, "vec_id", "embedding", 4, 64, 3)
    assert(a.collect().map(_.toString).sorted.toSeq ===
      b.collect().map(_.toString).sorted.toSeq, "fit must be deterministic")
  }

  test("kmeans assignTiered: full probe == exact assign bit for bit; partial probe never beats exact and stays self-consistent") {
    import graft.operators.Kmeans
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val model = Kmeans.fit(emb, "vec_id", "embedding", k = 8, dim = 64,
      iters = 2)
    val exact = Kmeans.assign(emb, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // full probe: every centroid scanned — bit-equal to the exact path
    val full = Kmeans.assignTiered(emb, "vec_id", "embedding", model,
        nCoarse = 4, nProbe = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(full == exact)
    // partial probe: same row set; the exact distance to the RETURNED
    // cluster (verified against the model driver-side), and never
    // closer than the true nearest
    val part = Kmeans.assignTiered(emb, "vec_id", "embedding", model,
        nCoarse = 4, nProbe = 1)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(part.keySet == exact.keySet)
    val vm = emb.select(col("vec_id"),
        graft.functions.VectorExpressions.microVec(col("embedding"))
          .as("vm"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    part.foreach { case (id, (c, d)) =>
      val v = vm(id)
      var acc = 0L
      (0 until model.dim).foreach { i =>
        val diff = v(i) - model.centroids(c * model.dim + i)
        acc += diff * diff
      }
      assert(acc == d, s"tiered dist for $id is not the exact distance")
      assert(d >= exact(id)._2, s"tiered beat exact for $id")
    }
    val agree = part.count { case (id, (c, _)) => exact(id)._1 == c }
    assert(agree.toDouble / part.size >= 0.5,
      s"nProbe=1 agreement ${agree}/${part.size} collapsed")
  }

  test("semdedupPairsTiered: full probe == exact pair set; partial probe keeps precision 1.0") {
    import graft.operators.{Dedup, Kmeans}
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val t = 0.985
    val exact = Kmeans.semdedupPairs(emb, "vec_id", "embedding",
        k = 8, dim = 64, iters = 2, threshold = t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val full = Kmeans.semdedupPairsTiered(emb, "vec_id", "embedding",
        k = 8, dim = 64, iters = 2, threshold = t, nCoarse = 4,
        nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(full == exact)
    // partial probe: every emitted pair is a true >= t pair (exact
    // cosine — precision 1.0 whatever the blocking did)
    val gold = Dedup.embeddingCosine(emb, "vec_id", "embedding", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val part = Kmeans.semdedupPairsTiered(emb, "vec_id", "embedding",
        8, 64, 2, t, nCoarse = 4, nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(part.subsetOf(gold), s"tiered emitted a non-pair: ${part -- gold}")
  }

  test("semdedupPairsTiered partial-probe pair recall: >= 0.9 floor at the documented dials on the gate corpus") {
    // the quality number behind the speed dial (ScaleProbe tierrecall
    // measured 0.95-1.00 across the (k, nProbe) grid at x10 scale;
    // this pins a deterministic floor in-gate so a regression in the
    // coarse quantizer or the probe order cannot land silently)
    import graft.operators.Kmeans
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val t = 0.4
    val exact = Kmeans.semdedupPairs(emb, "vec_id", "embedding",
        k = 32, dim = 64, iters = 2, threshold = t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tiered = Kmeans.semdedupPairsTiered(emb, "vec_id", "embedding",
        k = 32, dim = 64, iters = 2, threshold = t, nCoarse = 8,
        nProbe = 4)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must produce pairs")
    val recall = (tiered intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9,
      f"partial-probe pair recall $recall%.4f under the 0.9 floor " +
        f"(${(tiered intersect exact).size}/${exact.size})")
  }

  test("kmeans refreshCentroids: exactly-once shard stats, drift gate both ways, retrain == one exact Lloyd step from the store, retraction restores") {
    import graft.operators.Kmeans
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val model = Kmeans.fit(emb, "vec_id", "embedding", k = 4, dim = 64,
      iters = 1)
    val root = java.nio.file.Files
      .createTempDirectory("km_refresh").toString + "/km"
    Kmeans.initRefreshStore(spark, model, root)
    // empty store: no evidence → drift 0, refresh keeps
    assert(Kmeans.centroidDrift(spark, root) == 0.0)
    // ingest the corpus as a shard — exactly once (replay is a no-op)
    assert(Kmeans.upsertAssignStats(emb, "vec_id", "embedding", root,
      "shard-1"))
    assert(!Kmeans.upsertAssignStats(emb, "vec_id", "embedding", root,
      "shard-1"))
    val drift = Kmeans.centroidDrift(spark, root)
    assert(drift > 0.0, "one more Lloyd step over a 1-iter fit must move")
    // gate both ways on the same store state
    val keep = Kmeans.refreshCentroids(spark, root, maxDrift = 1e9)
    assert(!keep.retrained && keep.drift == drift)
    assert(keep.model.centroids.toSeq == model.centroids.toSeq)
    val ref = Kmeans.refreshCentroids(spark, root, maxDrift = 0.0)
    assert(ref.retrained && ref.drift == drift)
    // the retrained centroids ARE one exact Lloyd step: fit with one
    // more iteration reproduces them bit for bit (same init, same
    // assignment, same exact sums and truncating division)
    val want = Kmeans.fit(emb, "vec_id", "embedding", k = 4, dim = 64,
      iters = 2)
    assert(ref.model.centroids.toSeq == want.centroids.toSeq)
    // after the retrain the evidence equals the model: drift 0
    assert(Kmeans.centroidDrift(spark, root) == 0.0)
    // retraction AFTER the refresh moved the model: the subtraction
    // replays the RECORDED ingest-time stats (re-assigning under the
    // refreshed model would subtract different masses and corrupt
    // the store) — the evidence empties exactly, drift stays 0, and
    // the shard becomes ingestable again
    assert(Kmeans.retractAssignStats(spark, root, "shard-1"))
    assert(Kmeans.centroidDrift(spark, root) == 0.0)
    assert(Kmeans.upsertAssignStats(emb, "vec_id", "embedding", root,
      "shard-1"), "a retracted shard must be ingestable again")
  }

  test("inContextPackRekeyed: == direct path on compliant ids (strict-order fixture); arbitrary ids round-trip where direct raises") {
    import graft.operators.Kmeans
    // two clusters; within-cluster offsets spaced so the quantized
    // distances are strictly ordered (gaps >> 2^26 micro²) — the id
    // term never tie-breaks, so both key orders pack identically
    val offs = Seq(0.0, 0.02, 0.08, 0.2, 0.5, 1.0)
    val vecs = (0 until 12).map { i =>
      val cl = i / 6
      (i.toLong, Array.tabulate(64)(j =>
        if (j == cl) (1.0 + offs(i % 6)).toFloat else 0f))
    }
    val emb = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val docs = (0 until 12).map(i => (i.toLong, ("tok " * (i + 3)).trim))
      .toDF("doc_id", "text")
    val (k, dim, iters, seqLen) = (2, 64, 2, 16L)
    // precondition the equality claim rests on: strict (cluster,
    // dist_q) order across the fixture
    val a = Kmeans.fitAssign(emb, "vec_id", "embedding", k, dim, iters)
      .select(col("cluster"), expr("dist_micro2 DIV 67108864")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(a.distinct.length == a.length, s"fixture must have strict order: ${a.toSeq}")
    val direct = Kmeans.inContextPack(docs, "doc_id", "text",
        emb, "vec_id", "embedding", k, dim, iters, seqLen)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val rekeyed = Kmeans.inContextPackRekeyed(docs, "doc_id", "text",
        emb, "vec_id", "embedding", k, dim, iters, seqLen)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(rekeyed == direct)
    // arbitrary keys: negative and way past 2^28 — the direct path
    // raises its contract error, the rekeyed path round-trips every
    // id exactly once
    val shift = (c: org.apache.spark.sql.Column) => (c - 3L) * (1L << 36)
    val docsBig = docs.withColumn("doc_id", shift(col("doc_id")))
    val embBig = emb.withColumn("vec_id", shift(col("vec_id")))
    val out = Kmeans.inContextPackRekeyed(docsBig, "doc_id", "text",
        embBig, "vec_id", "embedding", k, dim, iters, seqLen).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq ==
      (0 until 12).map(i => (i.toLong - 3L) * (1L << 36)).sorted)
    intercept[Exception] {
      Kmeans.inContextPack(docsBig, "doc_id", "text", embBig, "vec_id",
        "embedding", k, dim, iters, seqLen).collect()
    }
  }

  test("kmeans semdedupPairs: k=1 == exact all-pairs; k>1 is a subset with identical cosines") {
    import graft.operators.{Dedup, Kmeans}
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val gold = Dedup.embeddingCosine(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => key(r) -> r.getDouble(2)).toMap
    // one cell = no blocking loss: the whole pipeline equals the
    // exact all-pairs scan, cosine for cosine
    val one = Kmeans.semdedupPairs(emb, "vec_id", "embedding",
        k = 1, dim = 64, iters = 1, threshold = 0.4)
      .collect().map(r => key(r) -> r.getDouble(3)).toMap
    assert(one === gold, "k=1 must equal embeddingCosine exactly")
    // k>1: precision 1.0 (subset of gold, same cosine); recall = the
    // co-located fraction (must be nonzero on the gate corpus)
    val blocked = Kmeans.semdedupPairs(emb, "vec_id", "embedding",
        k = 4, dim = 64, iters = 2, threshold = 0.4)
      .collect().map(r => key(r) -> r.getDouble(3)).toMap
    assert(blocked.nonEmpty)
    blocked.foreach { case (p, c) =>
      assert(gold.get(p).contains(c), s"pair $p must be in gold with cosine $c")
    }
  }

  test("inContextPack: cluster-contiguous order, exact bin arithmetic, deterministic") {
    import graft.operators.Kmeans
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val out = Kmeans.inContextPack(docs, "doc_id", "text",
        emb, "vec_id", "embedding", k = 4, dim = 64, iters = 2,
        seqLen = 256L)
      .collect()
      .sortBy(r => (r.getLong(3), r.getLong(4))) // (bin, bin_offset)
    assert(out.nonEmpty)
    // the concatenation order is cluster-major: walking the packed
    // stream, the cluster id never decreases
    val clusters = out.map(_.getInt(1))
    assert(clusters.zip(clusters.tail).forall { case (a, b) => a <= b },
      "related (same-cluster) docs must be adjacent in the stream")
    // exact tiling: each doc starts where the previous ended (mod 256)
    var pos = 0L
    out.foreach { r =>
      assert(r.getLong(3) === pos / 256 && r.getLong(4) === pos % 256,
        s"doc ${r.getLong(0)} must start at stream position $pos")
      pos += r.getLong(2)
    }
    val again = Kmeans.inContextPack(docs, "doc_id", "text",
      emb, "vec_id", "embedding", 4, 64, 2, 256L).collect()
    assert(out.map(_.toString).sorted.toSeq ===
      again.map(_.toString).sorted.toSeq)
  }

  test("kmeans semdedupKeepList: survivors = ids minus pair-losers; every drop has a smaller kept partner") {
    import graft.operators.Kmeans
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val pairs = Kmeans.semdedupPairs(emb, "vec_id", "embedding",
        k = 4, dim = 64, iters = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val kept = Kmeans.semdedupKeepList(emb, "vec_id", "embedding",
        k = 4, dim = 64, iters = 2, threshold = 0.4)
      .collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val losers = pairs.map(_._2).toSet
    assert(kept === all -- losers, "keep list must be ids minus doc_b losers")
    // every dropped id pairs with a SMALLER id (keep-min justification)
    (all -- kept).foreach { d =>
      assert(pairs.exists { case (a, b) => b == d && a < d },
        s"dropped $d must have a smaller-id partner")
    }
  }

  test("kmeans clusterBalance: every kept row passed its cluster gate; binding cell keeps ~all") {
    import graft.operators.Kmeans
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val out = Kmeans.clusterBalance(docs, "doc_id", "text",
      emb, "vec_id", "embedding", k = 4, dim = 64, iters = 2).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("sample_bucket") <
      r.getAs[Long]("rate_bp")))
    assert(out.map(_.getAs[Long]("rate_bp")).max === 10000L,
      "the binding cluster must keep everything (largest achievable corpus)")
  }
}
