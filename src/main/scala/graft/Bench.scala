package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one warm-up execution per query (parquet
  * decode + codegen JIT), then the measured run — steady-state
  * throughput, which is what a long-lived cluster job sees.
  *
  * Emits THREE measured passes in one JVM ("queries" = pass 1, same
  * methodology as every prior round; passes 2-3 = immediate
  * re-measures of the already-warm query). Round 6 saw seven
  * untouched queries jump 3-5x simultaneously across rounds; a
  * same-session A/B is the only way to separate box noise from
  * regression (cross-round wall-clock on this infra varies 2-4x on
  * unchanged code), and the round-13 verdict showed two passes still
  * leave 17-33 noisy rows per take — the third pass (round 14)
  * tightens the per-query min the headline is built from.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // parsed once: the value reaches the master URL, the shuffle
    // partitions and the headline JSON, where a raw string would break
    // the line
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // noop sink, NOT count(): count() lets Catalyst prune every column
    // and eliminate aggregated-right-side outer joins, so narrow
    // transform queries (text scoring, strip_spans, repetition) would
    // measure little more than parquet row counting. The noop write
    // materializes every output column through the whole plan — the
    // honest cost — at zero sink I/O. (Methodology change in round 7;
    // totals are not comparable to rounds 1-6.)
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_ONLY=q_a,q_b — targeted solo re-measure of a few
    // queries (band re-pinning) without paying the full sweep
    val queries = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(list) =>
        val keep = list.split(",").map(_.trim).toSet
        SparkEntry.queries.filter { case (n, _) => keep(n) }
      case None => SparkEntry.queries
    }
    val pass1 = queries.map { case (name, fn) =>
      val t = try { once(fn); once(fn) } catch { case _: Throwable => -1.0 }
      name -> t
    }
    // Round 16: passes 2-3 run in REVERSED / seed-shuffled order.
    // This box degrades monotonically within a session (round-15 pass
    // sums were 203 -> 312 -> 382 s on identical plans), so running
    // every pass in the same order penalizes the same late queries in
    // all three passes and biases the per-query minima the headline
    // is built from. Order-only change: same warm-up, same number of
    // executions per query, fixed shuffle seed.
    def rePass(order: Seq[String]): Map[String, Double] = order.map {
      name =>
        val t = try once(queries(name)) catch { case _: Throwable => -1.0 }
        name -> t
    }.toMap
    val qNames = queries.keys.toSeq
    val pass2 = rePass(qNames.reverse)
    val pass3 = rePass(new scala.util.Random(16L).shuffle(qNames))
    val passes = Seq(pass1, pass2, pass3)
    def js(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = if (pass1.nonEmpty) pass1.values.sum else 0.0
    val total2 = if (pass2.nonEmpty) pass2.values.sum else 0.0
    val total3 = if (pass3.nonEmpty) pass3.values.sum else 0.0
    // Full-precision line first; the driver's tail capture truncated
    // this in round 7 (97 queries x 2 passes at full double precision
    // overflowed the captured tail), losing the totals and ~30 queries.
    println(s"""{"metric":"total","value":$total,"unit":"sec","action":"noop_write","queries":${js(pass1)},"value_pass2":$total2,"queries_pass2":${js(pass2)},"value_pass3":$total3,"queries_pass3":${js(pass3)},"sf":"$sfDir"}""")
    // Compact summary LAST (ms precision, ~25 bytes/query) so a
    // tail-truncated capture still parses the headline numbers.
    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    def jsMs(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    // Round 9: even the compact line (~5 KB at 99 queries) overflows
    // the driver's tail capture, so the cut landed MID-LINE two
    // rounds running and nothing parsed. Emit per-query data in
    // sub-KB chunks (a truncated tail loses whole EARLY chunks, never
    // a partial line), then a totals-only FINAL line under 150 bytes
    // that survives any tail budget.
    // the MEASURED names, not SparkEntry.queries' — indexing pass
    // maps with unmeasured names crashed SPARK_GRAFT_ONLY runs here
    val names = qNames
    names.grouped(15).zipWithIndex.foreach { case (chunk, i) =>
      val p1 = chunk.map(n => n -> pass1(n))
      val p2 = chunk.map(n => n -> pass2(n))
      val p3 = chunk.map(n => n -> pass3(n))
      println(s"""{"metric":"chunk","part":${i + 1},"queries":${jsMs(p1)},"queries_pass2":${jsMs(p2)},"queries_pass3":${jsMs(p3)}}""")
    }
    // Round 11: the driver keeps only the LAST 2000 bytes of stdout
    // (measured from BENCH_r10.json), so named per-query maps can
    // never all survive — three rounds of partial artifacts. Two
    // fixes:
    //  (1) the COMPLETE artifact goes to a file the round commit
    //      picks up (full precision, named, all passes);
    //  (2) the tail gets per-query values as compact vectors ordered
    //      by ALPHABETICAL query name (names carried once by
    //      convention, not per value: ~6 bytes/query/pass at 2 dp).
    //      The per-query MIN vector — the headline's basis — is
    //      emitted LAST among the vectors so the tail budget keeps
    //      it even when the earlier pass vectors are cut.
    val sorted = names.sorted
    def ms2(v: Double): Double = math.rint(v * 100) / 100
    def vec(m: Map[String, Double]): String =
      sorted.map(n => ms2(m.getOrElse(n, -1.0))).mkString("[", ",", "]")
    // Round 12: the artifact carries its own NOISE VERDICT. Three
    // rounds running the recorded take misstated the engine by 40%+
    // because box-state noise (unchanged plans disagreeing >2x
    // between two same-session passes) is invisible to a reader of
    // one total. A query's plan is identical across the passes of
    // one JVM, so any >2x disagreement between them is noise by
    // construction — count them, list the worst, and say "quiet"
    // when there are none. Floor at 0.5 s: sub-second rows flip on
    // scheduling jitter without meaning anything.
    def ratio(n: String): Double = {
      val ok = passes.map(_(n)).filter(_ > 0)
      if (ok.size < 2) 1.0 else ok.max / ok.min
    }
    val noisy = sorted.filter { n =>
      val ok = passes.map(_(n)).filter(_ > 0)
      ok.size >= 2 && ok.max >= 0.5 && ratio(n) > 2.0
    }
    val worst = noisy.sortBy(n => -ratio(n))
      .take(8)
      .map(n => "\"" + n + "\":" + ms2(ratio(n)))
      .mkString("{", ",", "}")
    val noiseVerdict =
      if (noisy.isEmpty) "quiet"
      else s"noisy: ${noisy.size} unchanged plans disagree >2x " +
        "across same-session passes; per-query minima are the " +
        "engine, totals overstate it"
    val noiseLine = s"""{"metric":"noise","verdict":"$noiseVerdict","n_noisy":${noisy.size},"n_queries":${sorted.size},"worst_ratios":$worst}"""
    // Round 13: the HEADLINE total is the per-query min over the
    // same-session passes — the engine, not the box. A query's plan
    // is identical in every pass of one JVM, so the min is the
    // tightest noise-free estimate any pass can give; the plain
    // pass sums (kept alongside for continuity) have overstated the
    // engine by 40%+ whenever the box was noisy. Round 14: min over
    // THREE passes (first-JIT tails that survived two).
    // all-failed queries are OMITTED (not a -1.0 sentinel) so
    // consumers summing queries_min directly match total_min
    val minPass: Map[String, Double] = sorted.flatMap { n =>
      val ok = passes.map(_(n)).filter(_ > 0)
      if (ok.nonEmpty) Some(n -> ok.min) else None
    }.toMap
    val totalMin = minPass.values.filter(_ > 0).sum
    // A query that throws in any pass is FAILED: its -1.0 sentinel
    // lowers the pass total, so the headline names the failures
    // instead of only reading faster.
    val failed = sorted.filter(n => passes.exists(_(n) < 0))
    val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    try {
      val full = new StringBuilder()
      full ++= s"""{"metric":"total","value":$total,"value_pass2":$total2,"value_pass3":$total3,"total_min":$totalMin,"unit":"sec","action":"noop_write","sf":"$sfDir","queries":${js(pass1)},"queries_pass2":${js(pass2)},"queries_pass3":${js(pass3)},"queries_min":${js(minPass)},"n_failed":${failed.size},"failed":$failedJs}\n"""
      full ++= noiseLine + "\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get("docs/BENCH_full_latest.json"),
        full.toString.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // cwd may not be the repo root
    println(s"""{"metric":"qv","order":"alphabetical query names","unit":"sec 2dp","pass":1,"n":${sorted.size},"v":${vec(pass1)}}""")
    println(s"""{"metric":"qv","order":"alphabetical query names","unit":"sec 2dp","pass":2,"n":${sorted.size},"v":${vec(pass2)}}""")
    println(s"""{"metric":"qv","order":"alphabetical query names","unit":"sec 2dp","pass":3,"n":${sorted.size},"v":${vec(pass3)}}""")
    println(s"""{"metric":"qv","order":"alphabetical query names","unit":"sec 2dp","pass":"min","n":${sorted.size},"v":${vec(minPass)}}""")
    println(noiseLine)
    // Round 16 (additions-only): the driver's tail parser could never
    // align per-query history (positional qv vectors only) nor see
    // the core count (PERF_r15 n_common=0, suspect_cpus_ignored) —
    // emit the top-20 per-query minima BY NAME (~600 bytes, inside
    // the 2 KB tail budget) and carry cpus on the headline line.
    val top20 = minPass.toSeq.sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + ms2(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"top","pass":"min","unit":"sec 2dp","n":${math.min(20, minPass.size)},"queries":$top20}""")
    println(s"""{"metric":"total","value":${ms(total)},"value_pass2":${ms(total2)},"value_pass3":${ms(total3)},"total_min":${ms(totalMin)},"headline":"total_min","unit":"sec","n":${pass1.size},"cpus":$cpus,"sf":"$sfDir","n_failed":${failed.size},"failed":$failedJs}""")
    spark.stop()
  }
}
