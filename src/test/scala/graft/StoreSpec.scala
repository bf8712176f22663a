package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.offline.{TrainingExport, VersionedStore}
import graft.registry.{AuditLog, FeatureDef, LifecycleEvent, Registry}

class StoreSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("VersionedStore: append creates versions, versionAsOf reads old snapshots unchanged") {
    val root = tmp("vstore")
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = Seq((3L, "c")).toDF("id", "v")
    assert(VersionedStore.create(a, root) == 0L)
    assert(VersionedStore.append(b, root) == 1L)
    val v0 = VersionedStore.read(spark, root, versionAsOf = 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v0 == Set((1L, "a"), (2L, "b")), "v0 must be unchanged by the append")
    val latest = VersionedStore.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latest == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val infos = VersionedStore.versions(spark, root)
    assert(infos.map(i => (i.version, i.op, i.rows)) ==
      Seq((0L, "create", 2L), (1L, "append", 3L)))
  }

  test("VersionedStore: merge upserts by key, copy-on-write keeps history readable") {
    val root = tmp("vmerge")
    VersionedStore.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), root)
    val ver = VersionedStore.merge(
      Seq((2L, 99.0), (3L, 30.0)).toDF("id", "v"), root, Seq("id"))
    assert(ver == 1L)
    val merged = VersionedStore.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(merged == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
    val v0 = VersionedStore.read(spark, root, versionAsOf = 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(v0 == Map(1L -> 10.0, 2L -> 20.0))
  }

  test("VersionedStore: deleteKeys removes rows copy-on-write with file pruning") {
    val root = tmp("vpdel")
    VersionedStore.create(
      (1L to 600L).map(i => (i, i * 1.0)).toDF("id", "v").repartition(4), root)
    val cv = VersionedStore.compact(spark, root, numFiles = 6,
      sortBy = Seq("id"))
    val before = VersionedStore.read(spark, root, cv).inputFiles.toSet
    assert(before.size == 6)
    // delete a narrow id range: only intersecting files rewritten
    val dv = VersionedStore.deleteKeys(
      (40L to 60L).toDF("id"), root, Seq("id"))
    val after = VersionedStore.read(spark, root, dv).inputFiles.toSet
    assert((before intersect after).size >= 4,
      s"untouched files must carry: ${(before intersect after).size}/6")
    val got = VersionedStore.read(spark, root, dv)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 579)
    assert((40L to 60L).forall(i => !got.contains(i)))
    assert(got(39L) == 39.0 && got(61L) == 61.0)
    val head = VersionedStore.versions(spark, root).last
    assert(head.rows == 579L && head.op == "delete")
    // history intact: the pre-delete snapshot still shows every row
    assert(VersionedStore.read(spark, root, cv).count() == 600)
    // keys provably absent everywhere → NO-OP, no version burned
    val nv = VersionedStore.deleteKeys(
      Seq(5000L).toDF("id"), root, Seq("id"))
    assert(nv == dv, "a fully-pruned delete must not commit")
    // deleting every remaining row would empty the table → refused
    val err = intercept[IllegalArgumentException](
      VersionedStore.deleteKeys((1L to 600L).toDF("id"), root, Seq("id")))
    assert(err.getMessage.contains("every row"))
    assert(VersionedStore.read(spark, root).count() == 579,
      "refused delete must leave the table untouched")
    // string-keyed table (no numeric stats → full COW) stays correct
    val sroot = tmp("vpdel_s")
    VersionedStore.create(
      Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "v"), sroot)
    VersionedStore.deleteKeys(Seq("b", "zz").toDF("k"), sroot, Seq("k"))
    assert(VersionedStore.read(spark, sroot)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap ==
      Map("a" -> 1.0, "c" -> 3.0))
  }

  test("VersionedStore: merge rewrites ONLY files intersecting the update key range") {
    val root = tmp("vpmerge")
    VersionedStore.create(
      (1L to 600L).map(i => (i, i * 1.0)).toDF("id", "v").repartition(4), root)
    // sorted compaction → 6 files with disjoint id ranges and stats
    val cv = VersionedStore.compact(spark, root, numFiles = 6,
      sortBy = Seq("id"))
    val before = VersionedStore.read(spark, root, cv).inputFiles.toSet
    assert(before.size == 6)
    // updates confined to ids [40, 60]: at most 1-2 of 6 files overlap
    val mv = VersionedStore.merge(
      (40L to 60L).map(i => (i, -1.0)).toDF("id", "v"), root, Seq("id"))
    val after = VersionedStore.read(spark, root, mv).inputFiles.toSet
    val carried = before intersect after
    assert(carried.size >= 4,
      s"untouched files must be carried by reference: only ${carried.size}/6 survived")
    // correctness: updated range replaced, rest untouched, rows metadata right
    val got = VersionedStore.read(spark, root, mv)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 600)
    assert((40L to 60L).forall(i => got(i) == -1.0))
    assert(got(39L) == 39.0 && got(61L) == 61.0)
    assert(VersionedStore.versions(spark, root).last.rows == 600L)
    // history intact
    assert(VersionedStore.read(spark, root, cv).count() == 600)
    // an out-of-range merge (pure insert) carries EVERY current file
    val iv = VersionedStore.merge(
      Seq((1000L, 0.5)).toDF("id", "v"), root, Seq("id"))
    val afterInsert = VersionedStore.read(spark, root, iv).inputFiles.toSet
    assert((after -- afterInsert).isEmpty,
      "pure insert must not rewrite any existing file")
    assert(VersionedStore.read(spark, root, iv).count() == 601)
    // a string-keyed table has no footer ranges → full COW, still correct
    val sroot = tmp("vpmerge_s")
    VersionedStore.create(
      Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"), sroot)
    VersionedStore.merge(Seq(("b", 9.0), ("c", 3.0)).toDF("k", "v"),
      sroot, Seq("k"))
    assert(VersionedStore.read(spark, sroot)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap ==
      Map("a" -> 1.0, "b" -> 9.0, "c" -> 3.0))
  }

  test("VersionedStore: read opens ONLY the requested snapshot's files") {
    val root = tmp("vprune")
    VersionedStore.create(Seq((1L, "a")).toDF("id", "v"), root)
    VersionedStore.append(Seq((2L, "b")).toDF("id", "v"), root)
    VersionedStore.append(Seq((3L, "c")).toDF("id", "v"), root)
    // v0 has one data dir; the plan's file listing must not include
    // later versions' files (no full-history scan).
    val scanned = VersionedStore.read(spark, root, versionAsOf = 0)
      .inputFiles
    assert(scanned.length == VersionedStore.versions(spark, root).head.nFiles)
    val all = VersionedStore.read(spark, root).inputFiles
    assert(all.length > scanned.length)
  }

  test("VersionedStore: readRange prunes files by footer stats after sorted compaction") {
    val root = tmp("vskip")
    // Three appends with interleaved id ranges: every file overlaps
    // every range, so readRange on the raw table can prune nothing.
    VersionedStore.create(
      (1L to 300L by 3).map(i => (i, i * 1.5)).toDF("id", "v")
        .repartition(2), root)
    VersionedStore.append(
      (2L to 300L by 3).map(i => (i, i * 1.5)).toDF("id", "v")
        .repartition(2), root)
    VersionedStore.append(
      (3L to 300L by 3).map(i => (i, i * 1.5)).toDF("id", "v")
        .repartition(2), root)
    val full = VersionedStore.read(spark, root)
    val expected = full.where(col("id").between(40, 60))
      .collect().map(_.getLong(0)).sorted.toSeq
    val preCompact = VersionedStore.readRange(spark, root, "id", 40, 60)
    assert(preCompact.collect().map(_.getLong(0)).sorted.toSeq == expected,
      "row-exact before compaction (even with zero skipping)")
    // Sorted compaction: 6 files with disjoint id ranges...
    val cv = VersionedStore.compact(spark, root, numFiles = 6,
      sortBy = Seq("id"))
    assert(VersionedStore.versions(spark, root).last.op == "compact")
    val post = VersionedStore.readRange(spark, root, "id", 40, 60,
      versionAsOf = cv)
    assert(post.collect().map(_.getLong(0)).sorted.toSeq == expected)
    // ...so the [40, 60] probe must OPEN a strict subset of the table
    val allFiles = VersionedStore.read(spark, root, cv).inputFiles.length
    assert(allFiles == 6, s"compaction should yield 6 files, got $allFiles")
    val opened = post.inputFiles.length
    assert(opened <= 2,
      s"range covers ~1/7 of sorted ids; expected <= 2 of 6 files, got $opened")
    // history untouched: the pre-compaction snapshot still reads whole
    assert(VersionedStore.read(spark, root, cv - 1).count() == full.count())
  }

  test("VersionedStore: readValues prunes to the files containing the value set") {
    val root = tmp("vvals")
    // 8 "cells" of 20 rows; sorted compaction to 8 files → ~1 cell/file
    VersionedStore.create(
      (0L until 160L).map(i => (i, (i / 20).toInt)).toDF("id", "cell"),
      root)
    VersionedStore.compact(spark, root, numFiles = 8, sortBy = Seq("cell"))
    val full = VersionedStore.read(spark, root)
    assert(full.inputFiles.length == 8)
    val expected = full.where(col("cell").isin(1, 6))
      .collect().map(_.getLong(0)).sorted.toSeq
    val got = VersionedStore.readValues(spark, root, "cell", Seq(1.0, 6.0))
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == expected,
      "readValues must equal read().where(isin)")
    assert(got.inputFiles.length <= 3,
      s"2 of 8 cells must open a strict file subset, got " +
        s"${got.inputFiles.length}")
    // values outside every file's range: empty frame, schema kept
    val none = VersionedStore.readValues(spark, root, "cell", Seq(99.0))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "cell"))
    // empty IN-set == no rows, not a crash (empty serve batches)
    val empty = VersionedStore.readValues(spark, root, "cell", Nil)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "cell"))
  }

  test("VersionedStore: merge prunes by exact key-value set, not just the range") {
    val root = tmp("vmset")
    VersionedStore.create(
      (0L until 160L).map(i => (i, s"v$i")).toDF("id", "v"), root)
    VersionedStore.compact(spark, root, numFiles = 8, sortBy = Seq("id"))
    val before = VersionedStore.read(spark, root).inputFiles.toSet
    assert(before.size == 8)
    // the update batch's RANGE [0, 159] spans every file, but its
    // value SET {0, 159} touches only the first and last — the six
    // middle files must carry untouched
    VersionedStore.merge(
      Seq((0L, "x"), (159L, "y")).toDF("id", "v"), root, Seq("id"))
    val after = VersionedStore.read(spark, root).inputFiles.toSet
    assert((before & after).size >= 6,
      s"scattered-key merge must carry the files between: kept " +
        s"${(before & after).size} of ${before.size}")
    val got = VersionedStore.read(spark, root)
      .filter(col("id").isin(0L, 159L, 80L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "x", 159L -> "y", 80L -> "v80"))
  }

  /** Merges `updates`, keyed on cell and holding only cells 0 and 15,
    * into a 16-file table compacted by cell, and checks the merged rows
    * and that exactly the files holding neither cell are carried. Cells
    * {0, 15} span every file's range, but the value set misses the 14
    * between. */
  private def assertValueSetPruned(updates: org.apache.spark.sql.DataFrame,
                                   prefix: String): Unit = {
    val root = tmp(prefix)
    VersionedStore.create(
      (0L until 1600L).map(i => (i, (i / 100).toInt)).toDF("id", "cell"), root)
    VersionedStore.compact(spark, root, numFiles = 16, sortBy = Seq("cell"))
    val head = VersionedStore.read(spark, root)
    val before = head.inputFiles.toSet
    assert(before.size == 16)
    val want = head.join(updates.select("cell").distinct(), Seq("cell"),
        "left_anti").select("id", "cell").unionByName(updates)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    VersionedStore.merge(updates, root, Seq("cell"))
    val merged = VersionedStore.read(spark, root)
    val after = merged.inputFiles.toSet
    // the files holding no row of cell 0 or 15 (each file's range is
    // contiguous, so those hold no update value)
    def name(path: String) = path.substring(path.lastIndexOf('/') + 1)
    val hit = head.where(col("cell").isin(0, 15))
      .select(input_file_name()).as[String].collect().map(name).toSet
    val untouched = before.filterNot(f => hit(name(f)))
    assert(untouched.size >= 12 && (before & after) == untouched,
      s"kept ${(before & after).size} of ${before.size}, " +
        s"expected ${untouched.size}")
    assert(merged.collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      == want)
  }

  test("VersionedStore: a 1,025-row merge takes the aggregate path and still prunes by value set") {
    // one row past the batch size resolved on the driver
    assertValueSetPruned((0L until 1025L)
      .map(i => (100000L + i, if (i % 2 == 0) 0 else 15)).toDF("id", "cell"),
      "vmbig")
  }

  test("VersionedStore: a small batch from a distributed plan takes the aggregate path") {
    // six rows, but computed by a distributed plan: never collected
    // before the merge, bounds and value sets come from aggregates
    val updates = spark.range(0, 6, 1, 2).select((col("id") + 100000L).as("id"),
      when(col("id") % 2 === 0, 0).otherwise(15).as("cell"))
    assert(!updates.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assertValueSetPruned(updates, "vmdist")
  }

  test("VersionedStore: a small merge drops the rows its key tuples match, across key types and NULLs") {
    val root = tmp("vmkeys")
    val table = Seq((Some(1L), "a", 1.0), (Some(2L), "b", 2.0),
      (None, "c", 3.0), (Some(3L), null, 4.0)).toDF("id", "tag", "v")
    VersionedStore.create(table, root)
    // int ids over a long column; NULL ids and tags never match, on
    // either side
    val updates = Seq((Some(2), "b", 20.0), (Some(3), null, 40.0),
      (None, "c", 30.0), (Some(5), "e", 50.0)).toDF("id", "tag", "v")
    VersionedStore.merge(updates, root, Seq("id", "tag"))
    val want = table.join(updates, Seq("id", "tag"), "left_anti")
      .unionByName(updates)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id").cast("long"), col("tag"), col("v"))
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(VersionedStore.read(spark, root)) == rows(want))
    assert(VersionedStore.read(spark, root).count() == 7)
  }

  test("VersionedStore: a manifest without sizes, rows or schema reads, merges, compacts") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = tmp("vnosize")
    val rows = (0L until 200L).map(i => (i, s"v$i"))
    VersionedStore.create(rows.toDF("id", "v"), root)
    VersionedStore.compact(spark, root, numFiles = 4, sortBy = Seq("id"))
    val manifest = new java.io.File(s"$root/_graft_log/v00000001.json")
    val mapper = new ObjectMapper()
    val m = mapper.readValue(manifest,
      classOf[java.util.LinkedHashMap[String, Object]])
    // the recorded sizes are the files' exact byte lengths
    val sizes = m.get("fileSizes")
      .asInstanceOf[java.util.Map[String, java.util.List[Number]]]
    assert(sizes.size == 4)
    sizes.forEach { (f, lm) =>
      assert(lm.get(0).longValue == new java.io.File(s"$root/$f").length, f)
    }
    // a manifest written before sizes, row counts and the schema were
    // recorded; its stats stay, so the merge still prunes and carries
    val written = VersionedStore.schemaOf(spark, root)
    m.remove("fileSizes")
    m.remove("fileRows")
    m.remove("schema")
    mapper.writeValue(manifest, m)
    assert(VersionedStore.schemaOf(spark, root) == written)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rowsOf(VersionedStore.read(spark, root)) == rows)
    assert(rowsOf(VersionedStore.readRange(spark, root, "id", 10, 19)) ==
      rows.slice(10, 20))
    val before = VersionedStore.read(spark, root).inputFiles.toSet
    VersionedStore.merge(Seq((5L, "x"), (500L, "y")).toDF("id", "v"), root,
      Seq("id"))
    val want = rows.map { case (i, v) => (i, if (i == 5L) "x" else v) } :+
      ((500L, "y"))
    assert(rowsOf(VersionedStore.read(spark, root)) == want)
    // three files carried, their rows counted from the footers
    assert((before & VersionedStore.read(spark, root).inputFiles.toSet).size == 3)
    assert(VersionedStore.rowCount(spark, root) == 201)
    assert(VersionedStore.schemaOf(spark, root) == written)
    VersionedStore.compact(spark, root, numFiles = 2, sortBy = Seq("id"))
    assert(rowsOf(VersionedStore.read(spark, root)) == want)
    // a file such a manifest lists but storage lacks fails the read
    val head = new java.io.File(s"$root/_graft_log/v00000003.json")
    val h = mapper.readValue(head,
      classOf[java.util.LinkedHashMap[String, Object]])
    h.remove("fileSizes")
    mapper.writeValue(head, h)
    val lost = h.get("files").asInstanceOf[java.util.List[String]].get(0)
    assert(new java.io.File(s"$root/$lost").delete())
    intercept[IllegalStateException](VersionedStore.read(spark, root))
  }

  test("VersionedStore: string-keyed merge prunes by footer ranges and value set") {
    val root = tmp("vstr")
    VersionedStore.create(
      (0 until 160).map(i => (f"id-$i%03d", s"v$i")).toDF("id", "v"), root)
    VersionedStore.compact(spark, root, numFiles = 8, sortBy = Seq("id"))
    val before = VersionedStore.read(spark, root).inputFiles.toSet
    assert(before.size == 8)
    // zero-padded ids sort lexicographically == numerically, so the
    // update range [id-000, id-159] spans every file but the value
    // SET hits only the first and last
    VersionedStore.merge(
      Seq(("id-000", "x"), ("id-159", "y")).toDF("id", "v"),
      root, Seq("id"))
    val after = VersionedStore.read(spark, root).inputFiles.toSet
    assert((before & after).size >= 6,
      s"string-keyed scattered merge must carry the files between: " +
        s"kept ${(before & after).size} of ${before.size}")
    val got = VersionedStore.read(spark, root)
      .filter(col("id").isin("id-000", "id-159", "id-080"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("id-000" -> "x", "id-159" -> "y", "id-080" -> "v80"))
  }

  test("VersionedStore: string merge pruning is unicode-safe; narrow-range merge carries the rest") {
    val root = tmp("vstru")
    // multi-byte keys: unsigned UTF-8 byte order puts "é" and "😀"
    // above every ASCII key — pruning must use byte order, not
    // anything locale- or UTF-16-shaped
    VersionedStore.create(
      Seq(("alpha", 1), ("beta", 2), ("é-accent", 3), ("😀-emoji", 4))
        .toDF("k", "n"), root)
    VersionedStore.compact(spark, root, numFiles = 4, sortBy = Seq("k"))
    val before = VersionedStore.read(spark, root).inputFiles.toSet
    VersionedStore.merge(Seq(("😀-emoji", 40)).toDF("k", "n"),
      root, Seq("k"))
    val after = VersionedStore.read(spark, root).inputFiles.toSet
    assert((before & after).size >= before.size - 1,
      "a single-key merge must rewrite at most one file")
    val got = VersionedStore.read(spark, root)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("alpha" -> 1, "beta" -> 2, "é-accent" -> 3,
      "😀-emoji" -> 40))
  }

  test("VersionedStore: readValuesStr opens only matching files, equals the isin filter") {
    val root = tmp("vrvs")
    VersionedStore.create(
      (0 until 120).map(i => (f"key-$i%03d", i)).toDF("k", "n"), root)
    VersionedStore.compact(spark, root, numFiles = 6, sortBy = Seq("k"))
    val hit = VersionedStore.readValuesStr(spark, root, "k",
      Seq("key-000", "key-001"))
    assert(hit.inputFiles.length == 1,
      s"adjacent keys live in one sorted file, opened " +
        s"${hit.inputFiles.length}")
    val got = hit.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == Set(("key-000", 0), ("key-001", 1)))
    val empty = VersionedStore.readValuesStr(spark, root, "k",
      Seq("zzz-not-there"))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "n"))
  }

  test("VersionedStore: readRange keeps files without stats and skips all-pruned cleanly") {
    val root = tmp("vskip2")
    VersionedStore.create(
      Seq((1L, "x"), (2L, "y")).toDF("id", "s"), root)
    // range far outside the data: every file pruned by stats → empty
    // frame, schema preserved
    val none = VersionedStore.readRange(spark, root, "id", 1e6, 2e6)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("id", "s"))
    // a column with no recorded stats (string) must not prune anything
    val all = VersionedStore.readRange(spark, root, "id", 1, 2)
    assert(all.count() == 2)
    // timestamps: stats are epoch seconds, matching cast-to-double
    val troot = tmp("vskipts")
    VersionedStore.create(
      Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
          (java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), 2L))
        .toDF("ts", "id"), troot)
    val lo = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
      .getTime / 1000.0
    val ts = VersionedStore.readRange(spark, troot, "ts", lo, 2e9)
    assert(ts.collect().map(_.getLong(1)).toSeq == Seq(2L))
  }

  test("VersionedStore: z-order compaction prunes on EVERY clustered dimension") {
    val rnd = new scala.util.Random(31)
    val rows = (1L to 8000L).map(i =>
      (i, rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
    val root = tmp("vz")
    VersionedStore.create(rows.toDF("id", "x", "y").repartition(4), root)
    // single-column layout first: perfect on x, blind on y
    VersionedStore.compact(spark, root, numFiles = 16, sortBy = Seq("x"))
    val xOnlyY = VersionedStore.readRange(spark, root, "y", 100, 160)
    assert(xOnlyY.inputFiles.length == 16,
      "x-sorted layout cannot prune a y predicate")
    // z-order on (x, y): tiles — BOTH dimensions prune
    val zv = VersionedStore.compactZOrder(spark, root, numFiles = 16,
      zorderBy = Seq("x", "y"))
    assert(VersionedStore.versions(spark, root).last.op == "zorder")
    val expectX = rows.count { case (_, x, _) => x >= 100 && x <= 160 }
    val expectY = rows.count { case (_, _, y) => y >= 100 && y <= 160 }
    val zx = VersionedStore.readRange(spark, root, "x", 100, 160, zv)
    val zy = VersionedStore.readRange(spark, root, "y", 100, 160, zv)
    assert(zx.count() == expectX && zy.count() == expectY, "row-exact")
    assert(zx.inputFiles.length < 16,
      s"x band should skip tiles, opened ${zx.inputFiles.length}/16")
    assert(zy.inputFiles.length < 16,
      s"y band should skip tiles, opened ${zy.inputFiles.length}/16")
  }

  test("VersionedStore: timestampAsOf maps wall-clock to versions; append rejects schema drift") {
    val root = tmp("vts")
    VersionedStore.create(Seq((1L, "a")).toDF("id", "v"), root)
    val t0 = System.currentTimeMillis()
    Thread.sleep(15)
    VersionedStore.append(Seq((2L, "b")).toDF("id", "v"), root)
    // as-of between the commits resolves to v0; as-of now resolves to v1
    assert(VersionedStore.versionAt(spark, root, t0) == 0L)
    assert(VersionedStore.readAt(spark, root, t0).count() == 1)
    assert(VersionedStore.versionAt(spark, root,
      System.currentTimeMillis()) == 1L)
    intercept[IllegalArgumentException](
      VersionedStore.versionAt(spark, root, 1L)) // before the table
    // appending a different shape must fail loudly, not corrupt reads
    val e = intercept[IllegalArgumentException](
      VersionedStore.append(
        Seq((3L, 1.5)).toDF("id", "score"), root))
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
    assert(VersionedStore.read(spark, root).count() == 2,
      "failed append must leave the table untouched")
    // nested nullability is NOT drift: array(lit) builds
    // containsNull=false, the Seq encoder builds containsNull=true —
    // same logical shape, both directions must append
    val root2 = tmp("vnest")
    VersionedStore.create(
      Seq(1L).toDF("id").withColumn("tags", array(lit("a"))), root2)
    VersionedStore.append(Seq((2L, Seq("b"))).toDF("id", "tags"), root2)
    assert(VersionedStore.read(spark, root2).count() == 2)
  }

  test("VersionedStore: add-column schema evolution — appends may grow the schema, old files null-backfill") {
    val root = tmp("vevo")
    VersionedStore.create(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)          // v0: (id, v)
    // evolved append: a column the table has never seen
    VersionedStore.append(
      Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("id", "v", "score"), root)
    val head = VersionedStore.read(spark, root)
    assert(head.columns.toSeq == Seq("id", "v", "score"))
    // the evolved column must be nullable in the snapshot schema (old
    // files produce nulls for it)
    assert(head.schema("score").nullable)
    val rows = head.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set(
      (1L, "a", None), (2L, "b", None),
      (3L, "c", Some(0.5)), (4L, "d", Some(0.7))),
      "pre-evolution files must null-backfill the added column")
    // time travel: the pre-evolution snapshot keeps its old schema
    val v0 = VersionedStore.read(spark, root, versionAsOf = 0)
    assert(v0.columns.toSeq == Seq("id", "v"))
    assert(v0.count() == 2)
    // a second same-shape append after evolution still works, the
    // schema stays evolved, and — critically — the evolved column
    // STAYS nullable even though this batch carries it non-null
    // (v0's null-bearing files don't go away)
    VersionedStore.append(
      Seq((5L, "e", 0.9)).toDF("id", "v", "score"), root)
    val afterSecond = VersionedStore.read(spark, root)
    assert(afterSecond.count() == 5)
    // assert on the MANIFEST's schema, not a file read (Spark relaxes
    // file-read schemas to nullable, which would mask a manifest
    // regression): schemaOf returns the manifest schema verbatim
    val manifestSchema = VersionedStore.schemaOf(spark, root)
    assert(manifestSchema("score").nullable,
      "a later non-null batch must not flip the evolved column back " +
        "to non-nullable in the manifest")
    // dropping a column is still rejected (superset-only evolution)
    val eDrop = intercept[IllegalArgumentException](
      VersionedStore.append(Seq((6L, 1.0)).toDF("id", "score"), root))
    assert(eDrop.getMessage.contains("drops table columns"), eDrop.getMessage)
    // retyping a shared column is still rejected
    val eType = intercept[IllegalArgumentException](
      VersionedStore.append(
        Seq((7, "f", 0.1)).toDF("id", "v", "score"), root)) // id: int
    assert(eType.getMessage.contains("retypes"), eType.getMessage)
    assert(VersionedStore.read(spark, root).count() == 5,
      "failed appends must leave the table untouched")
  }

  test("VersionedStore: merge and range reads stay correct across an evolved schema") {
    val root = tmp("vevo2")
    VersionedStore.create(
      (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"), root)
    VersionedStore.append(
      (101L to 120L).map(i => (i, i * 1.0, s"s$i")).toDF("id", "v", "tag"),
      root)
    // merge over the mixed-schema snapshot: updates in the evolved shape
    val mv = VersionedStore.merge(
      Seq((50L, -1.0, "hit"), (200L, -2.0, "new")).toDF("id", "v", "tag"),
      root, Seq("id"))
    val merged = VersionedStore.read(spark, root, mv)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), Option(r.getString(2)))))
      .toMap
    assert(merged(50L) == (-1.0, Some("hit")))
    assert(merged(200L) == (-2.0, Some("new")))
    assert(merged(1L) == (1.0, None), "old rows null-backfill through merge")
    assert(merged.size == 121)
    // readRange across old and new files: pruning + backfill together
    val band = VersionedStore.readRange(spark, root, "id", 95.0, 105.0, mv)
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    assert(band.keySet == (95L to 105L).toSet)
    assert(band(95L).isEmpty && band(105L).contains("s105"))
    // compaction collapses the evolution back to one physical schema
    val cv = VersionedStore.compact(spark, root, numFiles = 2)
    val compacted = VersionedStore.read(spark, root, cv)
    assert(compacted.count() == 121)
    assert(compacted.columns.toSeq == Seq("id", "v", "tag"))
  }

  test("schema evolution end-to-end: a feature view gains a feature, the training table grows") {
    // the reference's motivating flow (FeatureRegistryService
    // definitions mutate): a wide training table materialized from a
    // 2-feature view keeps appending after the view gains a third
    // feature — no rewrite of history, old rows null-backfill
    import graft.operators.AsofJoin
    val root = tmp("vview")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val features = Seq(
      ("u1", ts("2024-01-01 00:00:00"), "f1", 1.0),
      ("u1", ts("2024-01-02 00:00:00"), "f2", 2.0),
      ("u1", ts("2024-01-03 00:00:00"), "f3", 3.0)
    ).toDF("entity_id", "ts", "feature_name", "value_float")
    val labels = Seq(("u1", ts("2024-01-05 00:00:00"), 100L, 1.0))
      .toDF("entity_id", "ts", "event_id", "value")
    def train(featureList: Seq[String]) =
      AsofJoin.pointInTime(features, labels, "entity_id", "ts",
        "feature_name", "value_float", "event_id", "value",
        featureList, 0.0)
    VersionedStore.create(train(Seq("f1", "f2")), root)        // v0: 2 features
    VersionedStore.append(train(Seq("f1", "f2", "f3")), root)  // v1: +f3
    val head = VersionedStore.read(spark, root)
    assert(head.columns.contains("f_f3"))
    assert(head.count() == 2)
    val f3Vals = head.select("f_f3").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSet
    assert(f3Vals == Set(None, Some(3.0)),
      "pre-evolution training rows must null-backfill the new feature")
    assert(!VersionedStore.read(spark, root, versionAsOf = 0)
      .columns.contains("f_f3"))
  }

  test("VersionedStore: z-order compaction tolerates nulls in an evolved column") {
    val root = tmp("vzevo")
    VersionedStore.create(
      (1L to 200L).map(i => (i, i * 1.0)).toDF("id", "x"), root)
    VersionedStore.append(
      (201L to 400L).map(i => (i, i * 1.0, (i % 50) * 1.0))
        .toDF("id", "x", "y"), root)
    // z-order on (x, y) where half the rows have y = null
    val zv = VersionedStore.compactZOrder(spark, root, numFiles = 4,
      zorderBy = Seq("x", "y"))
    val z = VersionedStore.read(spark, root, zv)
    assert(z.count() == 400)
    assert(z.filter(col("y").isNull).count() == 200,
      "null rows must survive the Morton rewrite")
    // range reads on both dimensions still correct over the mix
    val band = VersionedStore.readRange(spark, root, "x", 100.0, 120.0, zv)
    assert(band.count() == 21)
  }

  test("schema evolution property: random add-column append sequences read back exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val root = tmp(s"vprop$trial")
      var cols = Vector[(String, DataType)]("id" -> LongType, "c0" -> DoubleType)
      val pool = Vector[(String, DataType)](
        "c1" -> DoubleType, "c2" -> StringType, "c3" -> LongType)
      var poolIdx = 0
      var nextId = 0L
      val expected = scala.collection.mutable.Map[Long, Map[String, Any]]()
      var colsAt = Vector.empty[Seq[String]]
      for (step <- 0 until 5) {
        if (step > 0 && poolIdx < pool.size && rnd.nextBoolean()) {
          cols = cols :+ pool(poolIdx); poolIdx += 1
        }
        val schema = StructType(cols.map { case (n, t) =>
          StructField(n, t, nullable = true) })
        val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
          val id = nextId; nextId += 1
          val vals: Seq[Any] = cols.map {
            case ("id", _) => id
            case (_, DoubleType) => rnd.nextInt(100) / 10.0
            case (_, StringType) => s"s${rnd.nextInt(100)}"
            case (_, _) => rnd.nextInt(1000).toLong
          }
          expected(id) = cols.map(_._1).zip(vals).toMap
          Row(vals: _*)
        }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows), schema)
        if (step == 0) VersionedStore.create(df, root)
        else VersionedStore.append(df, root)
        colsAt = colsAt :+ cols.map(_._1)
      }
      val headCols = colsAt.last
      val head = VersionedStore.read(spark, root)
      assert(head.columns.toSeq == headCols, s"trial $trial head schema")
      val got = head.collect().map { r =>
        r.getLong(r.fieldIndex("id")) -> headCols.map(c =>
          c -> (if (r.isNullAt(r.fieldIndex(c))) null
                else r.get(r.fieldIndex(c)))).toMap
      }.toMap
      assert(got.keySet == expected.keySet)
      expected.foreach { case (id, vals) =>
        val full = headCols.map(c => c -> vals.getOrElse(c, null)).toMap
        assert(got(id) == full, s"trial $trial row $id: ${got(id)} != $full")
      }
      // any earlier version keeps exactly the column set it was
      // committed with
      val v = rnd.nextInt(colsAt.size)
      assert(VersionedStore.read(spark, root, v).columns.toSeq == colsAt(v),
        s"trial $trial version $v schema")
    }
  }

  test("VersionedStore: vacuum drops old versions, keeps shared files, sweeps aged orphans") {
    val root = tmp("vvac")
    VersionedStore.create(Seq((1L, "a")).toDF("id", "v"), root)    // v0: A
    VersionedStore.append(Seq((2L, "b")).toDF("id", "v"), root)    // v1: A+B
    VersionedStore.overwrite(Seq((3L, "c")).toDF("id", "v"), root) // v2: C
    VersionedStore.append(Seq((4L, "d")).toDF("id", "v"), root)    // v3: C+D
    val dropped = VersionedStore.vacuum(spark, root, keepVersions = 2,
      orphanAgeMs = Long.MaxValue)
    assert(dropped == Seq(0L, 1L))
    // survivors fully readable (v3 carries v2's files)
    assert(VersionedStore.read(spark, root, versionAsOf = 2).count() == 1)
    assert(VersionedStore.read(spark, root, versionAsOf = 3).count() == 2)
    intercept[IllegalArgumentException](
      VersionedStore.read(spark, root, versionAsOf = 0))
    assert(VersionedStore.versions(spark, root).map(_.version) ==
      Seq(2L, 3L))
    // every parquet file on disk is referenced by the surviving head
    val v3Files = VersionedStore.versions(spark, root).last.nFiles
    val onDisk = new java.io.File(s"$root/data").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles)
      .count(_.getName.endsWith(".parquet"))
    assert(onDisk == v3Files,
      s"unreferenced files must be gone: $onDisk on disk vs $v3Files referenced")
    // orphan debris (failed commit): swept only past the age guard
    val orphan = new java.io.File(s"$root/data/orphan_debris")
    orphan.mkdirs()
    new java.io.File(orphan, "part-junk.parquet").createNewFile()
    VersionedStore.vacuum(spark, root, 2, orphanAgeMs = Long.MaxValue)
    assert(orphan.exists, "fresh directory must survive (in-flight commit)")
    VersionedStore.vacuum(spark, root, 2, orphanAgeMs = -1L)
    assert(!orphan.exists, "aged orphan must be reclaimed")
  }

  test("VersionedStore: decimal(38) columns commit fine, stats fall back conservatively") {
    val root = tmp("vdec")
    // precision > 18 → FIXED_LEN_BYTE_ARRAY physical: no numeric
    // footer stats exist; the commit must still succeed and readRange
    // must keep the file (no stats = may match) with the row filter
    // doing the exact work.
    val df = Seq((1L, "12345678901234567890.1234"))
      .toDF("id", "d")
      .withColumn("d", col("d").cast("decimal(38,4)"))
    VersionedStore.create(df, root)
    assert(VersionedStore.read(spark, root).count() == 1)
    assert(VersionedStore.readRange(spark, root, "d", 0, 1).count() == 0,
      "kept conservatively but row-filtered out")
    assert(VersionedStore.readRange(spark, root, "d", 1e18, 1e20).count() == 1)
    // int64-backed decimal(18,2) DOES get stats and prunes
    val root2 = tmp("vdec2")
    VersionedStore.create(
      Seq((1L, "10.50"), (2L, "99.25")).toDF("id", "m")
        .withColumn("m", col("m").cast("decimal(18,2)")), root2)
    assert(VersionedStore.readRange(spark, root2, "m", 10, 11)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("VersionedStore: infinite column ranges round-trip through the manifest") {
    // Double.MaxValue widens to an Infinity bound, which the manifest
    // JSON stores as the string "Infinity"
    val root = tmp("vinf")
    VersionedStore.create(Seq((1L, Double.MaxValue), (2L, 0.0),
      (3L, Double.NegativeInfinity)).toDF("id", "x"), root)
    assert(VersionedStore.read(spark, root).count() == 3)
    assert(VersionedStore.readRange(spark, root, "x", 1e308,
      Double.PositiveInfinity).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("VersionedStore: concurrent appends never lose a commit (atomic claim)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = tmp("vrace")
    VersionedStore.create(Seq((0L, 0.0)).toDF("id", "v"), root)
    // six writers race the version counter; a TOCTOU claim would let
    // two of them publish the same version and silently drop rows
    val futures = (1 to 6).map(i => Future {
      VersionedStore.append(Seq((i.toLong, i.toDouble)).toDF("id", "v"), root)
    })
    Await.result(Future.sequence(futures), 180.seconds)
    assert(VersionedStore.latestVersion(spark, root) == 6L)
    assert(VersionedStore.read(spark, root).count() == 7L,
      "every racing append must survive in the final snapshot")
  }

  test("diffVersions: added/removed/changed keys, multiset rows, evolution-neutral") {
    val root = tmp("vdiff")
    VersionedStore.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (4L, "dd"))
        .toDF("id", "v"), root) // v0
    // v1: 2 changed, 3 removed, 5 added, 4's multiset reordered
    // (same set → NOT changed), 1 untouched
    VersionedStore.overwrite(
      Seq((1L, "a"), (2L, "B"), (5L, "e"), (4L, "dd"), (4L, "d"))
        .toDF("id", "v"), root) // v1
    val d01 = VersionedStore.diffVersions(spark, root, "id", 0, 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d01 == Map(2L -> "changed", 3L -> "removed", 5L -> "added"),
      s"got $d01")
    // duplicating a row changes the multiset even though the set of
    // distinct rows is identical (count guard)
    VersionedStore.overwrite(
      Seq((1L, "a"), (1L, "a"), (2L, "B"), (5L, "e"), (4L, "dd"),
        (4L, "d")).toDF("id", "v"), root) // v2
    val d12 = VersionedStore.diffVersions(spark, root, "id", 1, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d12 == Map(1L -> "changed"), s"got $d12")
    // add-column evolution alone must not mark old rows changed: the
    // older side null-pads the new column, matching the store's own
    // null-backfill of pre-evolution files
    VersionedStore.append(Seq((6L, "f", 1.5)).toDF("id", "v", "w"), root) // v3
    val d23 = VersionedStore.diffVersions(spark, root, "id", 2, 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d23 == Map(6L -> "added"), s"evolution must be neutral: $d23")
    // NULL keys pair with themselves (null-safe join), and the
    // null-flag encoding distinguishes (null, "x") from ("x", null)
    val root2 = tmp("vdiffnull")
    VersionedStore.create(
      Seq((Some(1L), Some("a"), None: Option[String]),
        (None, Some("n"), None)).toDF("id", "x", "y"), root2)
    VersionedStore.overwrite(
      Seq((Some(1L), None: Option[String], Some("a")),
        (None, Some("n"), None: Option[String])).toDF("id", "x", "y"), root2)
    val dn = VersionedStore.diffVersions(spark, root2, "id", 0, 1)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0))
        -> r.getString(1)).toMap
    assert(dn == Map(1L -> "changed"),
      s"null key must not diff; null swap must: $dn")
    // key-only table: diff degenerates to presence/multiplicity
    val root3 = tmp("vdiffkey")
    VersionedStore.create(Seq(Tuple1(1L), Tuple1(2L)).toDF("id"), root3)
    VersionedStore.overwrite(
      Seq(Tuple1(2L), Tuple1(2L), Tuple1(3L)).toDF("id"), root3)
    val dk = VersionedStore.diffVersions(spark, root3, "id", 0, 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dk == Map(1L -> "removed", 2L -> "changed", 3L -> "added"),
      s"got $dk")
  }

  test("VersionedStore: overwrite replaces the snapshot, history intact") {
    val root = tmp("vover")
    VersionedStore.create(Seq((1L, "a")).toDF("id", "v"), root)
    VersionedStore.overwrite(Seq((9L, "z")).toDF("id", "v"), root)
    val latest = VersionedStore.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latest == Set((9L, "z")))
    val v0 = VersionedStore.read(spark, root, versionAsOf = 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v0 == Set((1L, "a")))
    assert(VersionedStore.versions(spark, root).map(_.op) ==
      Seq("create", "overwrite"))
  }

  test("psiDrift: identical windows score ~0, shifted windows score high") {
    import java.sql.Timestamp
    val a = (0 until 200).map(i => ("f", (i % 10).toDouble,
      Timestamp.valueOf("2024-01-05 00:00:00")))
    val bSame = (0 until 200).map(i => ("f", (i % 10).toDouble,
      Timestamp.valueOf("2024-01-20 00:00:00")))
    val same = graft.stats.Profiler.psiDrift(
      (a ++ bSame).toDF("feature_name", "value_float", "event_time"),
      "feature_name", "value_float", "event_time",
      "2024-01-01 00:00:00", "2024-01-16 00:00:00", "2024-02-01 00:00:00")
      .head().getAs[Double]("psi")
    assert(math.abs(same) < 0.01, s"identical distributions must be calm: $same")
    val bShift = (0 until 200).map(_ => ("f", 9.0,
      Timestamp.valueOf("2024-01-20 00:00:00")))
    val shifted = graft.stats.Profiler.psiDrift(
      (a ++ bShift).toDF("feature_name", "value_float", "event_time"),
      "feature_name", "value_float", "event_time",
      "2024-01-01 00:00:00", "2024-01-16 00:00:00", "2024-02-01 00:00:00")
      .head().getAs[Double]("psi")
    assert(shifted > 1.0, s"collapsed distribution must alarm: $shifted")
  }

  test("normalize: min-max column bounded in [0,1], extremes hit the bounds") {
    val recs = Seq(("f", 2.0), ("f", 5.0), ("f", 8.0))
      .toDF("feature_name", "value_float")
    val mm = graft.operators.FeatureEng
      .normalize(recs, "feature_name", "value_float")
      .collect().map(r => r.getDouble(1) -> r.getDouble(3)).toMap
    assert(mm(2.0) == 0.0 && mm(8.0) == 1.0)
    assert(mm(5.0) == 0.5)
  }

  test("VersionedStore: create refuses an existing table") {
    val root = tmp("vdup")
    VersionedStore.create(Seq((1L, "a")).toDF("id", "v"), root)
    intercept[IllegalArgumentException] {
      VersionedStore.create(Seq((2L, "b")).toDF("id", "v"), root)
    }
  }

  test("TrainingExport: one-pass artifact, manifest matches, split pruning works") {
    val root = tmp("texport")
    val df = Tables.customer(spark, TestSpark.sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    // "one-pass" is literal: split counts ride the write as observed
    // metrics, so the export runs exactly one Spark job
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val manifest =
      try {
        val m = TrainingExport.exportDataset(df, root, "c_custkey",
          trainPct = 80)
        // listener events are async, but every job the export ran was
        // POSTED to the bus before exportDataset returned — draining
        // the bus is therefore a deterministic barrier (no fixed
        // settle sleep, which flaked both ways on slow boxes)
        org.apache.spark.GraftSparkTestAccess
          .waitListenerBusEmpty(spark.sparkContext, 30000)
        m
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1,
      s"export must be one scan (one job), ran ${jobs.get()}")
    assert(manifest.trainRows + manifest.testRows == df.count())
    assert(manifest.schemaHash ==
      Registry.schemaHash(df.columns.toSeq.sorted))
    val back = TrainingExport.readManifest(spark, root)
    assert(back == manifest)
    // the split must agree with the declared deterministic hash split
    val train = TrainingExport.readSplit(spark, root, "train")
    assert(train.count() == manifest.trainRows)
    val expected = graft.operators.FeatureEng
      .trainTestSplit(df, "c_custkey", 80)
      .filter(col("split") === "train").count()
    assert(train.count() == expected)
    // partition pruning: the split predicate must land in the scan's
    // PartitionFilters (inputFiles ignores pruning, so inspect the plan)
    val plan = train.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      s"split filter not pushed to partition pruning:\n$plan")
  }

  test("TrainingExport.discover catalogs exported datasets by manifest only") {
    val root = tmp("discover").stripSuffix("/t")
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    TrainingExport.exportDataset(a, s"$root/ds_a", "id", 80)
    TrainingExport.exportDataset(b, s"$root/ds_b", "id", 50)
    // a non-dataset directory must be ignored
    new java.io.File(s"$root/not_a_dataset").mkdirs()
    val catalog = TrainingExport.discover(spark, root)
      .orderBy("path").collect()
    assert(catalog.length == 2)
    assert(catalog.map(r => r.getAs[Long]("train_rows") +
      r.getAs[Long]("test_rows")).sameElements(Array(2L, 1L)))
  }

  test("exportShuffled: one sorted file per shard, agrees with shuffleShard, epoch reroll") {
    val root = tmp("shuffled").stripSuffix("/t")
    val docs = (1L to 500L).map(i => (i, s"doc number $i")).toDF("id", "text")
    val rows = TrainingExport.exportShuffled(docs, root, "id", nShards = 5)
    assert(rows == 500L)
    // every shard directory holds exactly one data file
    (0L until 5L).foreach { s =>
      val dir = new java.io.File(s"$root/data/shard=$s")
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s must be one file, got ${files.length}")
    }
    // shards partition the corpus, assignments match the query operator
    val expected = graft.operators.FeatureEng.shuffleShard(docs, "id", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val back = spark.read.parquet(s"$root/data").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("shard")).toMap
    assert(back == expected)
    // within a shard, file row order IS the sort-key order (single
    // small file → single scan partition, so collect preserves it)
    val s0 = TrainingExport.readShard(spark, root, 0L)
      .select(md5(concat(lit("graft:"), col("id").cast("string"))))
      .collect().map(_.getString(0))
    assert(s0.length > 30 && s0.sameElements(s0.sorted),
      "shard file must be sorted by the shuffle key")
    // a new seed re-rolls the permutation
    TrainingExport.exportShuffled(docs, s"$root/e2", "id", 5, seed = "e2")
    val e2 = spark.read.parquet(s"$root/e2/data").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("shard")).toMap
    assert(e2 != back, "epoch seed must change shard assignments")
  }

  test("Registry lifecycle: mutations emit events, audit log is append-only history") {
    val root = tmp("audit")
    val f0 = Seq(FeatureDef("click", "user", "float", 0.0, 3600L)).toDS()
    val (f1, e1) = Registry.createFeature(f0,
      FeatureDef("view", "user", "float", 0.0, 3600L), atMs = 1000L)
    val (f2, e2) = Registry.deprecateFeatureLogged(f1, "view", atMs = 2000L)
    val (_, e3) = Registry.registerViewLogged("v1", "user", 1,
      Seq("click"), atMs = 3000L)
    AuditLog.append(Seq(e1, e2), spark, root)
    AuditLog.append(Seq(e3), spark, root) // second append must not clobber
    val events = AuditLog.read(spark, root).collect()
    assert(events.length == 3)
    val viewHistory = AuditLog.history(spark, root, "view").collect()
    assert(viewHistory.map(_.action).toSeq == Seq("CREATED", "DEPRECATED"))
    assert(f2.filter(_.name == "view").head().active == false)
    assert(Registry.activeFeatures(f2).count() == 1)
    // duplicate registration is rejected (one definition per name)
    intercept[IllegalArgumentException] {
      Registry.createFeature(f1,
        FeatureDef("view", "user", "float", 0.0, 3600L), atMs = 4000L)
    }
  }

  test("normalize: single-value feature yields z=0 on both engines (NaN/NULL trap)") {
    val recs = Seq(
      ("only", 5.0), ("multi", 1.0), ("multi", 3.0)
    ).toDF("feature_name", "value_float")
    val out = graft.operators.FeatureEng
      .normalize(recs, "feature_name", "value_float")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3)))
    val only = out.filter(_._1 == "only").head
    assert(only._3 == 0.0, "stddev of one value must normalize to z=0, not NaN")
    assert(out.filter(_._1 == "multi").forall(r => !r._3.isNaN))
  }

  test("clusters: 1k-node chain converges fast via pointer jumping") {
    // diameter-1000 path graph: plain min-label propagation needs 1000
    // rounds; the jump makes it O(log d) — must finish in default 20.
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = graft.operators.Dedup.clusters(pairs, maxIters = 20)
    val labels = out.select("cluster_id").distinct().collect()
    assert(labels.length == 1 && labels.head.getLong(0) == 1L,
      "every chain node must collapse to the minimum id")
    assert(out.count() == 1000L)
  }

  test("staleness: feature without an SLA is exempt (fresh), matching validateView") {
    import java.sql.Timestamp
    val recs = Seq(
      ("user", "u1", "click", 1.0, Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("user", "u1", "mystery", 2.0, Timestamp.valueOf("2020-01-01 00:00:00"), 2L)
    ).toDF("entity_type", "entity_id", "feature_name", "value_float",
           "event_time", "commit_id")
    val st = graft.offline.OfflineStore
      .staleness(recs, "2024-02-01 00:00:00", Map("click" -> 1L))
      .collect().map(r => r.getString(1) -> r.getInt(4)).toMap
    assert(st("click") == 0)    // SLA 1ms, month old → stale
    assert(st("mystery") == 1)  // no SLA → exempt → fresh
    val report = graft.validation.Validation.validateView(recs,
      Registry.makeView("v", "user", 1, Seq("click", "mystery")),
      "2024-02-01 00:00:00", Map("click" -> 1L)).head()
    // only click counts stale; mystery is exempt in BOTH paths
    assert(report.getAs[Double]("stale_rate") == 0.5)
  }

  test("asof pointInTime builds its plan lazily (no job at construction)") {
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val features = Seq(("u1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        "f", 1.0)).toDF("entity_id", "ts", "feature_name", "value_float")
      val labels = Seq(("u1", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        10L, 1.0)).toDF("entity_id", "ts", "event_id", "value")
      val df = graft.operators.AsofJoin.pointInTime(features, labels,
        "entity_id", "ts", "feature_name", "value_float", "event_id",
        "value", Seq("f"), 0.0)
      Thread.sleep(1000) // let listener-bus events drain
      assert(jobs == 0, "plan construction must not run a Spark job")
      assert(df.count() == 1) // and the lazy min-bound still prunes right
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
