package graft.offline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet table with storage-level time travel — the
  * Spark-native analogue of the reference's Iceberg snapshot store
  * (reference src/main/java/.../store/offline/IcebergOfflineStore
  * .java:42-59: every write commits a snapshot, historical reads open
  * a snapshot by id), built from public parts only: immutable parquet
  * data files plus an append-only JSON commit log of file manifests.
  *
  * Layout:
  * {{{
  *   <root>/_graft_log/v00000042.json      one manifest per version
  *   <root>/data/<uuid>/part-*.parquet     immutable data files
  * }}}
  *
  * Scale properties:
  *  - A manifest lists EVERY file in its snapshot, so reading version
  *    v opens exactly those files — O(|snapshot|), never O(|history|);
  *    no filter over a commit column, no tombstone reconciliation.
  *  - Commits are optimistic: the manifest is created with
  *    `create(overwrite = false)` (atomic on HDFS and local file
  *    systems), so concurrent writers race on the version number and
  *    the loser retries against the new head. Readers see a complete
  *    manifest or none — snapshot isolation by construction.
  *  - Data files are immutable; `merge` is copy-on-write over ONLY
  *    the files whose key ranges intersect the updates — driven by the
  *    per-file min/max footer stats in the manifest; provably
  *    unmatched files are carried into the new snapshot by reference.
  */
/** Shared manifest-file plumbing for the offline stores. */
private[offline] object StorageUtil {
  def readAllBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      out.toByteArray
    } finally in.close()
  }

  /** Atomically publish `bytes` at `path`, REPLACING any existing file
    * (last-writer-wins — for metadata like an export manifest that is
    * regenerated whole on every write). A direct `fs.create(p, true)`
    * truncates first, so a concurrent reader can observe an empty or
    * partial file; here the content is staged to a sibling temp file
    * and moved into place, so readers see the old manifest or the new
    * one, never a torn write.
    */
  def atomicOverwrite(fs: FileSystem, path: Path,
                      bytes: Array[Byte]): Unit =
    if (fs.getScheme == "file") {
      val target = java.nio.file.Paths.get(path.toUri.getPath)
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        target.getParent, s".${target.getFileName}_", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // HDFS-style: stage, then rename over the target. Plain
      // FileSystem.rename refuses an existing destination, so go
      // through FileContext with Rename.OVERWRITE (atomic on HDFS).
      val tmp = new Path(path.getParent,
        s".${path.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try { out.write(bytes) } finally out.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          path.toUri, fs.getConf)
        fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case e: Throwable => fs.delete(tmp, false); throw e
      }
    }
}

object VersionedStore {

  case class VersionInfo(version: Long, op: String, nFiles: Int, rows: Long)

  /** One snapshot's manifest: the exact file list, row count, schema,
    * per-file column ranges for data skipping, and per-file row counts
    * (fileRows — used by partial merge to carry untouched files without
    * recounting them; empty for manifests written before it existed). */
  private case class Snapshot(op: String, files: Seq[String], rows: Long,
                              schemaJson: String,
                              stats: Map[String, Map[String, (Double, Double)]],
                              commitTsMs: Long,
                              fileRows: Map[String, Long],
                              strStats: Map[String, Map[String, (String, String)]])

  private val mapper = new ObjectMapper()

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = new Path(root, "_graft_log")

  private def manifestPath(root: String, v: Long) =
    new Path(logDir(root), f"v$v%08d.json")

  /** Highest committed version, or -1 for a non-existent table. */
  def latestVersion(spark: SparkSession, root: String): Long = {
    val dir = logDir(root)
    val fs = fileSystem(spark, dir)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .foldLeft(-1L)(math.max)
  }

  private def readManifest(spark: SparkSession, root: String, v: Long)
  : Snapshot = {
    val p = manifestPath(root, v)
    val fs = fileSystem(spark, p)
    require(fs.exists(p), s"version $v does not exist under $root")
    val bytes = StorageUtil.readAllBytes(fs, p)
    val m = mapper.readValue(bytes, classOf[java.util.Map[String, Object]])
    val files = m.get("files").asInstanceOf[java.util.List[String]]
      .asScala.toSeq
    val stats: Map[String, Map[String, (Double, Double)]] =
      m.get("stats") match {
        case null => Map.empty // manifests written before data skipping
        case s: java.util.Map[_, _] =>
          s.asInstanceOf[java.util.Map[String, java.util.Map[String,
              java.util.List[Number]]]]
            .asScala.map { case (f, cols) =>
              f -> cols.asScala.map { case (c, mm) =>
                c -> (mm.get(0).doubleValue(), mm.get(1).doubleValue())
              }.toMap
            }.toMap
      }
    val fileRows: Map[String, Long] = m.get("fileRows") match {
      case null => Map.empty // manifests written before partial merge
      case fr: java.util.Map[_, _] =>
        fr.asInstanceOf[java.util.Map[String, Number]].asScala
          .map { case (f, n) => f -> n.longValue() }.toMap
    }
    val strStats: Map[String, Map[String, (String, String)]] =
      m.get("strStats") match {
        case null => Map.empty // manifests written before string stats
        case s: java.util.Map[_, _] =>
          s.asInstanceOf[java.util.Map[String, java.util.Map[String,
              java.util.List[String]]]]
            .asScala.map { case (f, cols) =>
              f -> cols.asScala.map { case (c, mm) =>
                c -> (mm.get(0), mm.get(1))
              }.toMap
            }.toMap
      }
    Snapshot(m.get("op").toString, files, m.get("rows").toString.toLong,
      Option(m.get("schema")).map(_.toString).getOrElse(""), stats,
      Option(m.get("ts")).map(_.toString.toLong).getOrElse(0L), fileRows,
      strStats)
  }

  /** Tolerant manifest read: None when the manifest has vanished —
    * a concurrent [[vacuum]] deletes old manifests, and callers that
    * enumerate history must skip those instead of crashing. */
  private def readManifestOpt(spark: SparkSession, root: String, v: Long)
  : Option[Snapshot] =
    try Some(readManifest(spark, root, v)) catch {
      case _: IllegalArgumentException => None
      case _: java.io.FileNotFoundException => None
    }

  /** The newest version committed at-or-before `tsMillis` — Delta's
    * `timestampAsOf` semantic (commit wall-clock, recorded in the
    * manifest). Manifests written before timestamps existed count as
    * ts 0, i.e. always eligible.
    *
    * One directory listing + O(log history) manifest reads: a binary
    * search over the surviving versions, valid because commit
    * timestamps are nondecreasing in version order for any
    * reasonably synchronized writer fleet (like Delta, severe clock
    * skew between concurrent writers can blur which of two
    * near-simultaneous commits a timestamp resolves to — never which
    * DATA is returned, since version order itself is authoritative).
    * A version vacuumed mid-search is treated as old-and-eligible,
    * matching vacuum's oldest-first deletion order.
    */
  def versionAt(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val dir = logDir(root)
    val fs = fileSystem(spark, dir)
    require(fs.exists(dir), s"no committed version under $root")
    val vs = fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
    require(vs.nonEmpty, s"no committed version under $root")
    var lo = 0
    var hi = vs.length - 1
    var ans = -1L
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      readManifestOpt(spark, root, vs(mid)).map(_.commitTsMs) match {
        case Some(ts) if ts <= tsMillis => ans = vs(mid); lo = mid + 1
        case Some(_) => hi = mid - 1
        case None => lo = mid + 1 // vacuumed: old, hence eligible
      }
    }
    require(ans >= 0, s"no version of $root existed at $tsMillis")
    ans
  }

  /** Snapshot read by wall-clock: the table as it was at `tsMillis`. */
  def readAt(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, versionAt(spark, root, tsMillis))

  // --- footer-driven file statistics ---------------------------------

  /** Per-file row counts and [min, max] ranges for top-level
    * int/long/float/double/decimal/timestamp columns, read from the
    * parquet FOOTERS of the freshly written files — pure metadata, no
    * data pages touched, no extra Spark job. Ranges are normalized to
    * the `cast(col AS double)` scale (decimals unscaled/10^scale,
    * timestamps epoch SECONDS) so a reader can compare them against
    * one double predicate, and widened one ulp each way so the
    * double conversion can never un-conservatively narrow a range.
    * A column missing usable stats in ANY row group of a file simply
    * has no entry for that file — readers must treat "no stats" as
    * "may match".
    */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          dataDir: Path, names: Seq[String])
  : (Map[String, Long], Map[String, Map[String, (Double, Double)]],
     Map[String, Map[String, (String, String)]]) = {
    // Footer opens are storage round-trips; serially they would make
    // the commit O(nFiles × RTT) on the driver. A bounded pool keeps
    // a 50k-file append's metadata pass in seconds, not minutes. (The
    // production refinement is collecting these during the WRITE, via
    // task-side commit messages — then this pass disappears.)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(32, names.size)))
    try {
      val futures = names.map(n => n -> pool.submit(
        new java.util.concurrent.Callable[
            (Long, Map[String, (Double, Double)],
             Map[String, (String, String)])] {
          def call() = fileFooterStats(conf, new Path(dataDir, n))
        }))
      val results = futures.map { case (n, f) =>
        // surface the worker's real failure, not the pool's wrapper
        n -> (try f.get() catch {
          case e: java.util.concurrent.ExecutionException
            if e.getCause != null => throw e.getCause
        })
      }
      (results.map { case (n, (rows, _, _)) => n -> rows }.toMap,
        results.collect { case (n, (_, s, _)) if s.nonEmpty => n -> s }.toMap,
        results.collect { case (n, (_, _, b)) if b.nonEmpty => n -> b }.toMap)
    } finally pool.shutdown()
  }

  private def fileFooterStats(conf: org.apache.hadoop.conf.Configuration,
                              file: Path)
  : (Long, Map[String, (Double, Double)], Map[String, (String, String)]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          file, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val totalRows = blocks.map(_.getRowCount).sum
        // col -> (min, max, usable-in-every-row-group-so-far)
        val acc = scala.collection.mutable.Map
          .empty[String, (Double, Double, Boolean)]
        // string col -> (min bytes, max bytes, usable) — parquet
        // orders STRING stats by UNSIGNED byte comparison (the same
        // total order Spark's UTF8String uses), and a truncating
        // writer keeps min a lower bound / max an upper bound, so
        // these are always safe conservative ranges
        val bacc = scala.collection.mutable.Map
          .empty[String, (Array[Byte], Array[Byte], Boolean)]
        def bCmp(a: Array[Byte], b: Array[Byte]): Int =
          java.util.Arrays.compareUnsigned(a, b)
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { cc =>
            if (cc.getPath.size == 1) {
              val name = cc.getPath.iterator.next()
              val pt = cc.getPrimitiveType
              val logical = pt.getLogicalTypeAnnotation
              // value -> double on the cast(AS double) scale
              val toD: Option[Any => Double] =
                (pt.getPrimitiveTypeName, logical) match {
                  // decimal ONLY on int32/int64 physicals: precision
                  // > 18 is FIXED_LEN_BYTE_ARRAY whose stats are
                  // Binary, not Number — those fall through to the
                  // conservative no-stats path instead of crashing
                  case (INT32 | INT64, d: LogicalTypeAnnotation
                      .DecimalLogicalTypeAnnotation) =>
                    val div = math.pow(10, d.getScale)
                    Some(v => v.asInstanceOf[Number].doubleValue() / div)
                  case (INT64, t: LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation) =>
                    import LogicalTypeAnnotation.TimeUnit._
                    val div = t.getUnit match {
                      case MILLIS => 1e3
                      case MICROS => 1e6
                      case NANOS  => 1e9
                    }
                    Some(v => v.asInstanceOf[Number].doubleValue() / div)
                  case (INT32 | INT64 | FLOAT | DOUBLE, null) =>
                    Some(v => v.asInstanceOf[Number].doubleValue())
                  case (INT32 | INT64,
                        _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) =>
                    Some(v => v.asInstanceOf[Number].doubleValue())
                  case _ => None // strings, dates, int96, nested...
                }
              val st: org.apache.parquet.column.statistics.Statistics[_] =
                cc.getStatistics
              val usable = toD.isDefined && st != null &&
                st.hasNonNullValue
              val isString = pt.getPrimitiveTypeName == BINARY &&
                logical.isInstanceOf[LogicalTypeAnnotation
                  .StringLogicalTypeAnnotation]
              if (isString) {
                val bUsable = st != null && st.hasNonNullValue
                val prev = bacc.get(name)
                bacc(name) =
                  if (!bUsable || prev.exists(!_._3))
                    (Array.emptyByteArray, Array.emptyByteArray, false)
                  else {
                    val lo = st.getMinBytes
                    val hi = st.getMaxBytes
                    prev match {
                      case None => (lo, hi, true)
                      case Some((plo, phi, _)) =>
                        (if (bCmp(lo, plo) < 0) lo else plo,
                          if (bCmp(hi, phi) > 0) hi else phi, true)
                    }
                  }
              }
              val prev = acc.getOrElse(name,
                (Double.PositiveInfinity, Double.NegativeInfinity, true))
              acc(name) =
                if (!usable || !prev._3) (0d, 0d, false)
                else {
                  val lo = toD.get(st.genericGetMin)
                  val hi = toD.get(st.genericGetMax)
                  if (lo.isNaN || hi.isNaN) (0d, 0d, false)
                  else (math.min(prev._1, lo), math.max(prev._2, hi), true)
                }
            }
          }
        }
        val b64 = java.util.Base64.getEncoder
        (totalRows, acc.collect { case (c, (lo, hi, true)) =>
          c -> (Math.nextDown(lo), Math.nextUp(hi))
        }.toMap, bacc.collect { case (c, (lo, hi, true)) =>
          c -> (b64.encodeToString(lo), b64.encodeToString(hi))
        }.toMap)
      } finally reader.close()
    }
  }

  /** The snapshot's recorded schema, if the manifest has one (empty
    * only for manifests written before schemas were recorded). */
  private def snapshotStruct(snap: Snapshot)
  : Option[org.apache.spark.sql.types.StructType] =
    if (snap.schemaJson.isEmpty) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Open a subset of a snapshot's files AS the snapshot's schema.
    * Pinning the read schema to the manifest (instead of inferring
    * from an arbitrary footer) is what makes add-column schema
    * evolution readable: files written before a column existed
    * null-backfill it, and no footer-sampling race can drop an
    * evolved column. Also skips the schema-inference footer read. */
  private def readFiles(spark: SparkSession, root: String, snap: Snapshot,
                        files: Seq[String]): DataFrame = {
    val reader = snapshotStruct(snap).fold(spark.read)(spark.read.schema)
    reader.parquet(files.map(f => new Path(root, f).toString): _*)
  }

  /** Read a snapshot: the latest version, or `versionAsOf` — opening
    * ONLY that manifest's files, as that manifest's schema (files
    * predating an added column null-backfill it; reading an OLD
    * version returns the old schema unchanged).
    */
  def read(spark: SparkSession, root: String, versionAsOf: Long = -1L)
  : DataFrame = {
    val v = if (versionAsOf >= 0) versionAsOf else latestVersion(spark, root)
    require(v >= 0, s"no committed version under $root")
    val snap = readManifest(spark, root, v)
    require(snap.files.nonEmpty, s"version $v of $root is an empty snapshot")
    readFiles(spark, root, snap, snap.files)
  }

  /** Range-predicate read with MANIFEST-level data skipping: only
    * files whose footer [min, max] range for `column` intersects
    * [lo, hi] are opened — files outside the range never reach the
    * scan's file list (no listing, no tasks), which is what predicate
    * pushdown alone cannot do. Surviving files are then row-filtered
    * exactly, so the result equals `read(...).where(col between)`.
    *
    * `lo`/`hi` are on the `cast(column AS double)` scale: plain
    * numerics as-is, decimals as their numeric value, timestamps as
    * epoch seconds. Files with no usable stats for `column` are
    * conservatively kept. Pair with [[compact]]`(sortBy = column)` to
    * make ranges disjoint and skipping near-perfect.
    */
  def readRange(spark: SparkSession, root: String, column: String,
                lo: Double, hi: Double, versionAsOf: Long = -1L)
  : DataFrame = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val v = if (versionAsOf >= 0) versionAsOf else latestVersion(spark, root)
    require(v >= 0, s"no committed version under $root")
    val snap = readManifest(spark, root, v)
    require(snap.files.nonEmpty, s"version $v of $root is an empty snapshot")
    val kept = snap.files.filter { f =>
      snap.stats.get(f).flatMap(_.get(column)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no stats recorded — may match
      }
    }
    val pred = org.apache.spark.sql.functions.col(column)
      .cast("double").between(lo, hi)
    if (kept.isEmpty) {
      // every file pruned: an empty frame with the snapshot's schema
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(snap.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    } else
      readFiles(spark, root, snap, kept).where(pred)
  }

  /** Point-set read with the same MANIFEST-level data skipping as
    * [[readRange]], for predicates of the form `column IN (values)`:
    * only files whose footer [min, max] contains at least one of the
    * `values` are opened, then rows are filtered exactly — the result
    * equals `read(...).where(col(column).isin(values))`. The serving
    * shape behind it: an IVF probe touches nProbe of nCentroids
    * cells, and after [[compact]]`(sortBy = cell)` lays the inverted
    * file into disjoint cell ranges, this read opens ~nProbe files of
    * the whole table instead of scanning it.
    *
    * `values` are on the `cast(column AS double)` scale, same as
    * [[readRange]]. Files with no usable stats are conservatively
    * kept.
    */
  def readValues(spark: SparkSession, root: String, column: String,
                 values: Seq[Double], versionAsOf: Long = -1L)
  : DataFrame = {
    // empty IN-set == IN () == no rows — callers like an empty serve
    // batch must get an empty frame, not a crash
    val v = if (versionAsOf >= 0) versionAsOf else latestVersion(spark, root)
    require(v >= 0, s"no committed version under $root")
    val snap = readManifest(spark, root, v)
    require(snap.files.nonEmpty, s"version $v of $root is an empty snapshot")
    val sorted = values.distinct.sorted
    val kept = snap.files.filter { f =>
      snap.stats.get(f).flatMap(_.get(column)) match {
        case Some((mn, mx)) => sorted.exists(x => x >= mn && x <= mx)
        case None => true // no stats recorded — may match
      }
    }
    val pred = org.apache.spark.sql.functions.col(column)
      .cast("double").isin(sorted: _*)
    if (kept.isEmpty) {
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(snap.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    } else
      readFiles(spark, root, snap, kept).where(pred)
  }

  /** [[readValues]] for a STRING column: file pruning against the
    * manifest's string footer ranges (unsigned UTF-8 byte order —
    * parquet's STRING stat order, which Spark's string comparisons
    * share), then exact row filtering. The result equals
    * `read(...).where(col(column).isin(values))`; files written
    * before string stats existed are conservatively kept. Lets
    * string-keyed serving tables point-read without a derived
    * numeric bucket column.
    */
  def readValuesStr(spark: SparkSession, root: String, column: String,
                    values: Seq[String], versionAsOf: Long = -1L)
  : DataFrame = {
    val v = if (versionAsOf >= 0) versionAsOf else latestVersion(spark, root)
    require(v >= 0, s"no committed version under $root")
    val snap = readManifest(spark, root, v)
    require(snap.files.nonEmpty, s"version $v of $root is an empty snapshot")
    val utf8 = values.distinct.map(
      _.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def cmp(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
    val dec64 = java.util.Base64.getDecoder
    val kept = snap.files.filter { f =>
      snap.strStats.get(f).flatMap(_.get(column)) match {
        case Some((mnB, mxB)) =>
          val mn = dec64.decode(mnB)
          val mx = dec64.decode(mxB)
          utf8.exists(x => cmp(x, mn) >= 0 && cmp(x, mx) <= 0)
        case None => true // no stats recorded — may match
      }
    }
    val pred = org.apache.spark.sql.functions.col(column)
      .isin(values.distinct: _*)
    if (kept.isEmpty) {
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(snap.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema)
    } else
      readFiles(spark, root, snap, kept).where(pred)
  }

  /** The snapshot's schema from the manifest alone — no file listing,
    * no scan DataFrame. The cheap path for callers that only need
    * column names/types (e.g. parsing serving config encoded in a
    * column name) before a pruned read. */
  def schemaOf(spark: SparkSession, root: String,
               versionAsOf: Long = -1L)
  : org.apache.spark.sql.types.StructType = {
    val v = if (versionAsOf >= 0) versionAsOf else latestVersion(spark, root)
    require(v >= 0, s"no committed version under $root")
    val json = readManifest(spark, root, v).schemaJson
    // manifests written before schemas were recorded carry "" — fall
    // back to the footer-inferred schema (the cost the fast path
    // avoids), not a Jackson parse error
    if (json.isEmpty) read(spark, root, v).schema
    else org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  def versions(spark: SparkSession, root: String): Seq[VersionInfo] =
    (0L to latestVersion(spark, root)).flatMap { v =>
      // versions below the vacuum retention horizon are gone (and can
      // vanish mid-listing under a concurrent vacuum) — a contiguous
      // log is not guaranteed; skip, don't crash
      readManifestOpt(spark, root, v)
        .map(snap => VersionInfo(v, snap.op, snap.files.size, snap.rows))
    }

  /** Race lost on an expected version number — the caller must re-read
    * the head and recompute before retrying. */
  class CommitConflict(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  // Only an existence conflict on the manifest means "lost the race";
  // anything else (permissions, disk) must surface as-is. Both claim
  // sites in atomicCreate throw a TYPED already-exists exception
  // (Files.createLink on file://, an explicit hadoop
  // FileAlreadyExistsException on the rename path), so no message
  // sniffing: an unrelated IOException must not be silently retried.
  private def isVersionConflict(e: Throwable): Boolean = e match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _: java.nio.file.FileAlreadyExistsException => true
    case _ => false
  }

  /** Atomically publish `bytes` at `path`, failing if it exists.
    * Hadoop's create(overwrite = false) is atomic on HDFS but an
    * exists-then-truncate TOCTOU on LocalFileSystem, so on file://
    * the claim is a hard link instead: content is staged to a temp
    * file and linked into place — link creation is O_EXCL-atomic on
    * POSIX, and the manifest is never visible partially written.
    */
  private def atomicCreate(fs: FileSystem, path: Path,
                           bytes: Array[Byte]): Unit =
    if (fs.getScheme == "file") {
      val target = java.nio.file.Paths.get(path.toUri.getPath)
      java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        target.getParent, ".manifest_", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.createLink(target, tmp) // throws FileAlreadyExists
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // A direct create() would be LISTABLE before its bytes land —
      // readers could parse a truncated manifest. Stage the full
      // content, then rename: atomic on HDFS, and rename FAILS when
      // the target exists, which doubles as the version-claim check.
      val tmp = new Path(path.getParent,
        s".${path.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, path)) {
        fs.delete(tmp, false)
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          path.toString)
      }
    }

  /** Name+type "shape" of a schema with nullability erased at EVERY
    * nesting level (array containsNull / map valueContainsNull / nested
    * struct fields differ freely between literal-built and parquet-read
    * frames of the same logical shape) — the compatibility unit for
    * mixing files in one snapshot. */
  private def schemaShape(json: String)
  : Set[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    def norm(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, norm(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(norm(a.elementType), containsNull = true)
      case m: MapType => MapType(norm(m.keyType),
        norm(m.valueType), valueContainsNull = true)
      case o => o
    }
    DataType.fromJson(json).asInstanceOf[StructType]
      .fields.map(f => (f.name, norm(f.dataType))).toSet
  }

  /** Files carried by reference from the head snapshot into a partial
    * (file-pruned) commit, with their stats and row counts. Only valid
    * with `expectedVersion` >= 0: the carry is bound to the head it was
    * computed from, and a racing commit invalidates it (CommitConflict
    * → caller recomputes). */
  private case class Carry(files: Seq[String], rows: Long,
                           stats: Map[String, Map[String, (Double, Double)]],
                           fileRows: Map[String, Long],
                           strStats: Map[String, Map[String, (String, String)]])

  /** Commit `df` as a new version. `carryPrev` keeps the previous
    * snapshot's files in the new manifest (append semantics). When
    * `expectedVersion` >= 0 the commit claims EXACTLY that version or
    * throws CommitConflict — required whenever the content was derived
    * from a snapshot read (create/merge), because blindly re-claiming
    * the next number would publish stale content over a racing
    * writer's commit. Append/overwrite content is head-independent
    * (append re-reads the head's file list on every attempt), so those
    * retry internally. Returns the committed version number.
    */
  private def commit(df: DataFrame, root: String, op: String,
                     carryPrev: Boolean, expectedVersion: Long = -1L,
                     carry: Option[Carry] = None): Long = {
    require(carry.isEmpty || expectedVersion >= 0,
      "a partial carry must be pinned to the head it was computed from")
    val spark = df.sparkSession
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/$uuid"
    val dataDir = new Path(root, dataRel)
    df.write.parquet(dataDir.toString)
    val fs = fileSystem(spark, dataDir)
    val newNames = fs.listStatus(dataDir).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted.toSeq
    val newFiles = newNames.map(n => s"$dataRel/$n")
    // Rows AND per-file column ranges straight from the parquet
    // footers — one metadata pass, no Spark job, no data pages.
    val (newRowsByName, newStatsByName, newStrStatsByName) = footerStats(
      spark.sparkContext.hadoopConfiguration, dataDir, newNames)
    val newRows = newRowsByName.values.sum
    val newStats = newStatsByName.map { case (n, s) => s"$dataRel/$n" -> s }
    val newStrStats =
      newStrStatsByName.map { case (n, s) => s"$dataRel/$n" -> s }
    val newFileRows = newRowsByName.map { case (n, r) => s"$dataRel/$n" -> r }
    fs.mkdirs(logDir(root))
    var attempt = 0
    var lastConflict: Throwable = null
    while (attempt < 10) {
      val prev = latestVersion(spark, root)
      var schemaOut = df.schema.json
      val (files, rows, stats, fileRows, strStats) =
        if (carry.isDefined) {
          val c = carry.get
          (c.files ++ newFiles, c.rows + newRows, c.stats ++ newStats,
            c.fileRows ++ newFileRows, c.strStats ++ newStrStats)
        } else if (carryPrev && prev >= 0) {
          val p = readManifest(spark, root, prev)
          // A carried snapshot mixes old and new files in ONE logical
          // table. Shared columns must agree on name+type (nullability
          // free); columns NEW to the table are accepted — add-column
          // schema evolution, the Delta `mergeSchema` semantic: the
          // snapshot schema grows and every pre-evolution file
          // null-backfills the added columns at read time (readFiles
          // pins the manifest schema, so no footer-sampling race can
          // drop them). Dropping or retyping a column still requires
          // overwrite/merge.
          if (p.schemaJson.nonEmpty) {
            val prevFields = schemaShape(p.schemaJson).toMap
            val newFields = schemaShape(df.schema.json).toMap
            val missing = prevFields.keySet -- newFields.keySet
            val retyped = (prevFields.keySet & newFields.keySet)
              .filter(n => prevFields(n) != newFields(n))
            if (missing.nonEmpty || retyped.nonEmpty) {
              fs.delete(dataDir, true) // staged files never referenced
              throw new IllegalArgumentException(
                s"append schema mismatch for $root: " +
                  (if (missing.nonEmpty) s"append drops table columns " +
                    s"${missing.toSeq.sorted.mkString(", ")}; " else "") +
                  (if (retyped.nonEmpty) s"append retypes " +
                    retyped.toSeq.sorted.map(n =>
                      s"$n (${prevFields(n).simpleString} -> " +
                        s"${newFields(n).simpleString})").mkString(", ") + "; "
                   else "") +
                  "appends may only ADD columns — use overwrite/merge " +
                  "for drops or type changes")
            }
            val added = newFields.keySet -- prevFields.keySet
            // Added columns are null in every pre-evolution file, so
            // the evolved snapshot schema must declare them nullable —
            // and once a column is nullable in the table it must STAY
            // nullable on every later append (the old null-bearing
            // files don't go away because a new batch happens to carry
            // the column non-null). Nullability is the OR of the
            // table's and the batch's, per column.
            val prevNullable = org.apache.spark.sql.types.DataType
              .fromJson(p.schemaJson)
              .asInstanceOf[org.apache.spark.sql.types.StructType]
              .fields.map(f => f.name -> f.nullable).toMap
            schemaOut = org.apache.spark.sql.types.StructType(
              df.schema.fields.map(f =>
                if (added(f.name)) f.copy(nullable = true)
                else f.copy(nullable =
                  f.nullable || prevNullable.getOrElse(f.name, false)))).json
          }
          (p.files ++ newFiles, p.rows + newRows, p.stats ++ newStats,
            p.fileRows ++ newFileRows, p.strStats ++ newStrStats)
        } else (newFiles, newRows, newStats, newFileRows, newStrStats)
      val next = if (expectedVersion >= 0) expectedVersion else prev + 1
      val manifest = new java.util.LinkedHashMap[String, Object]()
      manifest.put("version", java.lang.Long.valueOf(next))
      manifest.put("op", op)
      manifest.put("files", files.asJava)
      manifest.put("rows", java.lang.Long.valueOf(rows))
      manifest.put("schema", schemaOut)
      manifest.put("ts", java.lang.Long.valueOf(System.currentTimeMillis()))
      val statsM = new java.util.LinkedHashMap[String, Object]()
      files.foreach { f =>
        stats.get(f).filter(_.nonEmpty).foreach { cols =>
          val colsM = new java.util.LinkedHashMap[String, Object]()
          cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
            colsM.put(c, java.util.List.of(
              java.lang.Double.valueOf(mn), java.lang.Double.valueOf(mx)))
          }
          statsM.put(f, colsM)
        }
      }
      manifest.put("stats", statsM)
      val strStatsM = new java.util.LinkedHashMap[String, Object]()
      files.foreach { f =>
        strStats.get(f).filter(_.nonEmpty).foreach { cols =>
          val colsM = new java.util.LinkedHashMap[String, Object]()
          cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
            colsM.put(c, java.util.List.of(mn, mx))
          }
          strStatsM.put(f, colsM)
        }
      }
      manifest.put("strStats", strStatsM)
      val fileRowsM = new java.util.LinkedHashMap[String, Object]()
      files.foreach { f =>
        fileRows.get(f).foreach(r =>
          fileRowsM.put(f, java.lang.Long.valueOf(r)))
      }
      manifest.put("fileRows", fileRowsM)
      try {
        atomicCreate(fs, manifestPath(root, next),
          mapper.writeValueAsBytes(manifest))
        return next
      } catch {
        case e if isVersionConflict(e) =>
          if (expectedVersion >= 0) {
            // the staged snapshot will never be referenced — reclaim it
            fs.delete(dataDir, true)
            val c = new CommitConflict(
              s"version $expectedVersion of $root was claimed concurrently")
            c.initCause(e)
            throw c
          }
          lastConflict = e
          attempt += 1 // content is head-independent; re-read and retry
      }
    }
    fs.delete(dataDir, true) // unreferenced after exhausting retries
    throw new IllegalStateException(
      s"could not commit to $root after 10 attempts (concurrent writers)",
      lastConflict)
  }

  /** Create version 0 of a new table (atomic: a racing create loses
    * with CommitConflict rather than stacking a version on top). */
  def create(df: DataFrame, root: String): Long = {
    require(latestVersion(df.sparkSession, root) < 0,
      s"$root already exists — use append/overwrite/merge")
    commit(df, root, "create", carryPrev = false, expectedVersion = 0L)
  }

  /** Append-only commit: new files join the previous snapshot.
    * Accepts add-column schema evolution: `df` may carry columns the
    * table has never seen (they join the snapshot schema as nullable,
    * and every pre-evolution file null-backfills them on read — the
    * Delta `mergeSchema` semantic, motivated by the reference's
    * mutable feature definitions, FeatureRegistryService.java:261-273).
    * Dropping or retyping a column is still rejected. */
  def append(df: DataFrame, root: String): Long =
    commit(df, root, "append", carryPrev = true)

  /** Replace the snapshot (previous versions stay readable). */
  def overwrite(df: DataFrame, root: String): Long =
    commit(df, root, "overwrite", carryPrev = false)

  /** Total row count of the latest snapshot — pure manifest metadata
    * (the per-commit footer-stats sum), no Spark job, no data read. */
  def rowCount(spark: SparkSession, root: String): Long =
    readManifest(spark, root, latestVersion(spark, root)).rows

  /** MERGE (upsert) by key: rows in `updates` replace current rows
    * with the same key tuple; unmatched update rows are inserted.
    * Copy-on-write over the TOUCHED files only: the manifest's
    * per-file [min, max] footer stats on the merge keys split the
    * snapshot into files whose key ranges intersect the updates'
    * bounds (rewritten) and files that provably cannot hold a matched
    * key (carried by reference, byte-for-byte). On a compacted table a
    * narrow-key-range merge — the streaming upsert pattern — rewrites
    * O(|touched|), not O(|snapshot|); every earlier version remains
    * readable. Matches the Iceberg copy-on-write MERGE file-pruning
    * model (reference store/offline/IcebergOfflineStore.java:42-59
    * snapshot semantics).
    *
    * Prunes on numeric/timestamp keys (double-scale ranges) AND
    * string keys (unsigned-UTF-8-byte ranges from the parquet STRING
    * footer stats — the same total order Spark's string min/max
    * uses). Falls back to the full rewrite when pruning cannot be
    * proven safe: no key with stats on both sides, or union
    * type-widening drifting the merged schema away from the carried
    * files' shape.
    *
    * Optimistic concurrency done right: the merged content is bound to
    * the head it was computed from (commit claims exactly head+1); if
    * a racing writer lands first, the merge is RECOMPUTED against the
    * new head instead of publishing stale content over it.
    */
  def merge(updates: DataFrame, root: String, keys: Seq[String]): Long =
    copyOnWrite(updates, root, keys, insertUpdates = true)

  /** Row deletion by key — the storage-level right-to-be-forgotten
    * primitive. Copy-on-write exactly like [[merge]] with the SAME
    * file pruning (numeric range + capped value set, string UTF-8
    * footer ranges): only files that can hold a deleted key are
    * rewritten without the matching rows; provably unmatched files
    * carry by reference. Earlier versions remain readable — deletion
    * is a new snapshot, so compliance workflows pair this with
    * [[vacuum]] to retire the pre-deletion versions' files.
    * `delKeys` carries just the key columns (extra columns ignored);
    * keys that match nothing are harmless. Refuses to empty the
    * table (a store invariant — use overwrite for that).
    */
  def deleteKeys(delKeys: DataFrame, root: String, keys: Seq[String])
  : Long = {
    import org.apache.spark.sql.functions.col
    copyOnWrite(delKeys.select(keys.map(col): _*), root, keys,
      insertUpdates = false)
  }

  private def copyOnWrite(updates: DataFrame, root: String,
                          keys: Seq[String], insertUpdates: Boolean)
  : Long = {
    import org.apache.spark.sql.functions.{col, min, max}
    import org.apache.spark.sql.types.{NumericType, TimestampType, StructType, DataType}
    val spark = updates.sparkSession
    // [min, max] of each prunable merge key over the updates, on the
    // cast-to-double scale the manifest stats use (timestamps = epoch
    // seconds). Non-numeric keys yield no bounds (and under ANSI mode
    // a string→double cast would throw, so they are never cast).
    // O(|updates|) — one small agg, paid once, head-independent.
    val prunableKeys = updates.schema.fields
      .filter(f => keys.contains(f.name) && (f.dataType match {
        case _: NumericType | _: TimestampType => true
        case _ => false
      })).map(_.name).toSeq
    // String merge keys prune too, against the manifest's strStats:
    // parquet STRING footer stats and Spark's min/max on strings both
    // order by unsigned UTF-8 byte comparison, so file [min, max]
    // ranges and update bounds live in one total order. Bounds are
    // exact update values (no ulp widening needed — the comparison is
    // exact).
    val strKeys = updates.schema.fields
      .filter(f => keys.contains(f.name) &&
        f.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    // every key's bounds in ONE aggregate: numeric pairs first, then
    // string pairs
    val aggs = prunableKeys.flatMap(k =>
        Seq(min(col(k).cast("double")), max(col(k).cast("double")))) ++
      strKeys.flatMap(k => Seq(min(col(k)), max(col(k))))
    val bounds =
      if (aggs.isEmpty) None
      else Some(updates.agg(aggs.head, aggs.tail: _*).head())
    val updBounds: Map[String, (Double, Double)] = bounds.map { r =>
      prunableKeys.zipWithIndex.collect {
        case (k, i) if !r.isNullAt(2 * i) =>
          // widened one ulp each way, mirroring the footer stats
          k -> (Math.nextDown(r.getDouble(2 * i)),
                Math.nextUp(r.getDouble(2 * i + 1)))
      }.toMap
    }.getOrElse(Map.empty)
    def utf8(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val strBounds: Map[String, (Array[Byte], Array[Byte])] = bounds.map { r =>
      val at = 2 * prunableKeys.size
      strKeys.zipWithIndex.collect {
        case (k, i) if !r.isNullAt(at + 2 * i) =>
          k -> (utf8(r.getString(at + 2 * i)), utf8(r.getString(at + 2 * i + 1)))
      }.toMap
    }.getOrElse(Map.empty)
    // EXACT value sets for low-cardinality prunable keys: a batch
    // touching buckets {0, 31} has range [0, 31] — which intersects
    // every file — but its value SET misses every file strictly
    // between, so set pruning carries those files where range pruning
    // rewrites the world. Capped: a high-cardinality key falls back
    // to its range (the set would cost more than it prunes).
    val setCap = 1024
    val updValueSets: Map[String, Array[Double]] =
      updBounds.keys.flatMap { k =>
        val vs = updates.select(col(k).cast("double").as("v"))
          .filter(col("v").isNotNull).distinct().limit(setCap + 1)
          .collect().map(_.getDouble(0))
        if (vs.length > setCap) None else Some(k -> vs.sorted)
      }.toMap
    // the capped exact value set of a string key carries
    // scattered-key batches past files strictly between their values
    def bCmp(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
    val strValueSets: Map[String, Array[Array[Byte]]] =
      strBounds.keys.flatMap { k =>
        val vs = updates.select(col(k).as("v"))
          .filter(col("v").isNotNull).distinct().limit(setCap + 1)
          .collect().map(r => utf8(r.getString(0)))
        if (vs.length > setCap) None else Some(k -> vs)
      }.toMap
    var attempt = 0
    while (attempt < 10) {
      val head = latestVersion(spark, root)
      require(head >= 0, s"no committed version under $root")
      val snap = readManifest(spark, root, head)
      // a file is untouchable iff SOME key's file range provably
      // misses every update key — by range, or by the exact value set
      // when we have it (null keys never equality-match, and footer
      // ranges cover non-null values only, so null rows on either
      // side cannot defeat the proof)
      val dec64 = java.util.Base64.getDecoder
      val (untouched, touched) = snap.files.partition { f =>
        updBounds.exists { case (k, (uLo, uHi)) =>
          snap.stats.get(f).flatMap(_.get(k)) match {
            case Some((fLo, fHi)) =>
              fHi < uLo || fLo > uHi ||
                updValueSets.get(k)
                  .exists(vs => !vs.exists(v => v >= fLo && v <= fHi))
            case None => false
          }
        } || strBounds.exists { case (k, (uLo, uHi)) =>
          snap.strStats.get(f).flatMap(_.get(k)) match {
            case Some((fLoB, fHiB)) =>
              val fLo = dec64.decode(fLoB)
              val fHi = dec64.decode(fHiB)
              bCmp(fHi, uLo) < 0 || bCmp(fLo, uHi) > 0 ||
                strValueSets.get(k).exists(vs =>
                  !vs.exists(v => bCmp(v, fLo) >= 0 && bCmp(v, fHi) <= 0))
            case None => false
          }
        }
      }
      // pruning proved no file can hold a deleted key → the delete is
      // a NO-OP; don't burn a version on an empty rewrite
      if (!insertUpdates && touched.isEmpty) return head
      val updateKeys = updates.select(keys.map(col): _*).distinct()
      def fullMerged = {
        val kept = read(spark, root, head)
          .join(updateKeys, keys, "left_anti")
        if (insertUpdates) kept.unionByName(updates) else kept
      }
      val (merged, carry) =
        if (untouched.isEmpty) (fullMerged, None)
        else {
          val survivors =
            if (touched.isEmpty) {
              // nothing intersects: pure insert for merge; for delete
              // there is nothing to rewrite at all
              if (insertUpdates) updates
              else read(spark, root, head).limit(0)
            } else {
              val kept = readFiles(spark, root, snap, touched)
                .join(updateKeys, keys, "left_anti")
              if (insertUpdates) kept.unionByName(updates) else kept
            }
          // union type-widening (e.g. int updates over a long table)
          // would drift the snapshot schema away from the carried
          // files — only carry when the shape is provably unchanged
          if (snap.schemaJson.nonEmpty &&
              schemaShape(survivors.schema.json) == schemaShape(snap.schemaJson)) {
            // align column order to the table's (shape equality is
            // set-based; a pure-insert path takes the updates' order)
            val tableCols = DataType.fromJson(snap.schemaJson)
              .asInstanceOf[StructType].fieldNames.toSeq
            val aligned =
              if (survivors.columns.toSeq == tableCols) survivors
              else survivors.select(tableCols.map(col): _*)
            val untouchedSet = untouched.toSet
            // pre-fileRows manifests: count from the footers (pure
            // metadata, no Spark job) — through the bounded pool, not
            // serially: this sits inside the optimistic retry loop, and
            // O(untouched × storage RTT) per attempt would dominate
            // merges into old long-lived tables
            val uncounted = untouched.filterNot(snap.fileRows.contains)
            val footerRows: Map[String, Long] =
              if (uncounted.isEmpty) Map.empty
              else footerStats(spark.sparkContext.hadoopConfiguration,
                new Path(root), uncounted)._1
            val carriedRows = untouched.map(f =>
              snap.fileRows.getOrElse(f, footerRows(f))).sum
            (aligned, Some(Carry(untouched, carriedRows,
              snap.stats.filter { case (f, _) => untouchedSet(f) },
              snap.fileRows.filter { case (f, _) => untouchedSet(f) },
              snap.strStats.filter { case (f, _) => untouchedSet(f) })))
          } else (fullMerged, None)
        }
      // a delete that leaves no carried file and no surviving row
      // would commit an empty snapshot (unreadable by invariant) —
      // refuse loudly. Only reachable on the full-rewrite path, so
      // the extra count is paid when every file was touched anyway.
      if (!insertUpdates && carry.isEmpty &&
          merged.limit(1).count() == 0L)
        throw new IllegalArgumentException(
          s"deleteKeys would remove every row of $root — empty " +
            "snapshots are not representable; use overwrite instead")
      try {
        return commit(merged, root,
          if (insertUpdates) "merge" else "delete", carryPrev = false,
          expectedVersion = head + 1, carry = carry)
      } catch {
        case _: CommitConflict => attempt += 1 // recompute vs new head
      }
    }
    throw new IllegalStateException(
      s"could not merge into $root after 10 attempts (concurrent writers)")
  }

  /** Rewrite the current snapshot into `numFiles` files — the
    * small-file compaction every long-lived table needs (a year of
    * 15-minute appends is ~35k manifests' worth of part files; scans
    * pay per-file open cost and the driver pays per-file planning).
    * With `sortBy`, rows are range-partitioned and sorted on those
    * columns, so each output file covers a DISJOINT value range and
    * the footer stats become tight — [[readRange]] then opens
    * ~1/numFiles of the table instead of all of it (the Z-order-lite
    * layout step). Earlier versions remain readable (copy-on-write);
    * a racing writer wins the version race and the compaction
    * recomputes against the new head.
    */
  def compact(spark: SparkSession, root: String, numFiles: Int,
              sortBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(numFiles > 0, "numFiles must be positive")
    var attempt = 0
    while (attempt < 10) {
      val head = latestVersion(spark, root)
      require(head >= 0, s"no committed version under $root")
      val current = read(spark, root, head)
      val arranged =
        if (sortBy.isEmpty) current.repartition(numFiles)
        else current
          .repartitionByRange(numFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      try {
        return commit(arranged, root, "compact", carryPrev = false,
          expectedVersion = head + 1)
      } catch {
        case _: CommitConflict => attempt += 1 // recompute vs new head
      }
    }
    throw new IllegalStateException(
      s"could not compact $root after 10 attempts (concurrent writers)")
  }

  /** Z-order (Morton) compaction: rewrite the snapshot so every file
    * covers a small TILE of the multi-column value space instead of a
    * range of one column. A single-column sorted [[compact]] makes
    * [[readRange]] near-perfect on that column and useless on the
    * others; interleaving the bits of each column's normalized 16-bit
    * rank gives locality in ALL `zorderBy` dimensions at once —
    * ~n-th-root pruning per dimension, the Delta/Iceberg OPTIMIZE
    * ZORDER semantic. Column ranges for normalization come from the
    * head manifest's footer stats when present (metadata only) and an
    * aggregate otherwise. Up to 4 columns (16 bits each in a 64-bit
    * key).
    */
  def compactZOrder(spark: SparkSession, root: String, numFiles: Int,
                    zorderBy: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    require(numFiles > 0, "numFiles must be positive")
    require(zorderBy.nonEmpty && zorderBy.size <= 4,
      "zorderBy takes 1 to 4 columns")
    var attempt = 0
    while (attempt < 10) {
      val head = latestVersion(spark, root)
      require(head >= 0, s"no committed version under $root")
      val snap = readManifest(spark, root, head)
      val current = read(spark, root, head)
      // range per column: min-of-mins / max-of-maxes across the
      // snapshot's files — only usable when EVERY file carries stats
      val fromStats: Map[String, (Double, Double)] = zorderBy.flatMap { c =>
        val per = snap.files.map(f => snap.stats.get(f).flatMap(_.get(c)))
        if (per.nonEmpty && per.forall(_.isDefined)) {
          val vs = per.flatten
          Some(c -> (vs.map(_._1).min, vs.map(_._2).max))
        } else None
      }.toMap
      val missing = zorderBy.filterNot(fromStats.contains)
      val fromAgg: Map[String, (Double, Double)] =
        if (missing.isEmpty) Map.empty
        else {
          val aggs = missing.flatMap(c => Seq(
            min(col(c).cast("double")).as(s"mn_$c"),
            max(col(c).cast("double")).as(s"mx_$c")))
          val r = current.agg(aggs.head, aggs.tail: _*).head()
          missing.zipWithIndex.map { case (c, i) =>
            // an all-null column has no range: degenerate (0,0) maps
            // every row to rank 0 — clustering ignores the column
            c -> (if (r.isNullAt(2 * i)) (0.0, 0.0)
                  else (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
          }.toMap
        }
      val ranges = fromStats ++ fromAgg
      // 16-bit normalized rank per column, bits interleaved into one
      // 64-bit Morton key — pure codegen'd integer ops
      val n = zorderBy.size
      val normCols = zorderBy.map { c =>
        val (lo, hi) = ranges(c)
        if (hi <= lo) lit(0L)
        else least(lit(65535L), greatest(lit(0L),
          floor((col(c).cast("double") - lo) / (hi - lo) * 65535.0)
            .cast("long")))
      }
      val morton = (for {
        (nc, j) <- normCols.zipWithIndex
        i <- 0 until 16
      } yield shiftleft(shiftrightunsigned(nc, i).bitwiseAND(1L),
          i * n + j))
        .reduce(_ bitwiseOR _)
      val arranged = current.withColumn("__graft_z", morton)
        .repartitionByRange(numFiles, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")
      try {
        return commit(arranged, root, "zorder", carryPrev = false,
          expectedVersion = head + 1)
      } catch {
        case _: CommitConflict => attempt += 1 // recompute vs new head
      }
    }
    throw new IllegalStateException(
      s"could not zorder-compact $root after 10 attempts (concurrent writers)")
  }

  /** Retention cleanup — the copy-on-write store's VACUUM. Keeps the
    * newest `keepVersions` snapshots readable; versions below that
    * horizon lose first their manifest, then every data file no
    * SURVIVING snapshot references (append-carried files shared with
    * kept versions are untouched). Deletion order is crash-safe for
    * the retention contract: a manifest disappears before its files,
    * so a crash mid-vacuum never leaves a readable version with
    * missing data — only orphan files, which the next vacuum's sweep
    * reclaims.
    *
    * The sweep also removes data directories referenced by NO
    * manifest at all (debris from failed commits and interrupted
    * vacuums) — but only those older than `orphanAgeMs`, because a
    * concurrent writer stages its data directory BEFORE publishing
    * the manifest; age is the only safe discriminator (same design as
    * Delta's retention-guarded VACUUM).
    *
    * Returns the version numbers whose manifests were removed.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int,
             orphanAgeMs: Long = 7L * 24 * 3600 * 1000): Seq[Long] = {
    require(keepVersions >= 1, "must keep at least the head version")
    val head = latestVersion(spark, root)
    require(head >= 0, s"no committed version under $root")
    val fs = fileSystem(spark, new Path(root))
    val cutoff = head - keepVersions + 1
    // readManifestOpt throughout: a RACING vacuum can delete any of
    // these manifests between our exists() check and the read — skip
    // vanished ones instead of crashing (same hardening as versions())
    val survivors = (math.max(cutoff, 0L) to head)
      .filter(v => fs.exists(manifestPath(root, v)))
    val referenced = survivors
      .flatMap(v => readManifestOpt(spark, root, v)
        .map(_.files).getOrElse(Nil)).toSet
    val droppedCandidates = (0L until math.max(cutoff, 0L))
      .filter(v => fs.exists(manifestPath(root, v)))
    // 1. manifests go first — those versions are no longer readable
    val (dropped, droppedFileSeqs) = droppedCandidates.flatMap { v =>
      readManifestOpt(spark, root, v).map { snap =>
        fs.delete(manifestPath(root, v), false)
        (v, snap.files)
      }
    }.unzip
    val droppedFiles = droppedFileSeqs.flatten.toSet
    // 2. their now-unreferenced data files
    (droppedFiles -- referenced).foreach { f =>
      fs.delete(new Path(root, f), false)
    }
    // 3. age-guarded orphan sweep over data/: directories with no
    // referenced file and an old modification time
    val dataRoot = new Path(root, "data")
    if (fs.exists(dataRoot)) {
      val now = System.currentTimeMillis()
      fs.listStatus(dataRoot).foreach { d =>
        val rel = s"data/${d.getPath.getName}"
        val hasRef = referenced.exists(_.startsWith(s"$rel/"))
        if (!hasRef && now - d.getModificationTime > orphanAgeMs)
          fs.delete(d.getPath, true)
      }
    }
    dropped
  }

  /** Row-level DIFF between two versions keyed by `keyCol` — the
    * change-data-feed a versioned corpus consumer asks for ("what
    * moved between the v3 training cut and v7"): one row per changed
    * key, change ∈ added | removed | changed. Keys with multiple rows
    * compare as a SET: per-row xxhash64 over all columns summed per
    * key (order- and partitioning-independent; 64-bit collision odds
    * are the usual hash-join trade). Schema evolution is handled by
    * null-padding the missing columns on the older side, so an
    * add-column commit alone does not mark every row changed.
    *
    * Scale shape: each side is one snapshot scan into a per-key
    * map-side-combinable hash aggregate; the diff is a single
    * full-outer equi-join of the two key-hash tables — no row data
    * crosses the shuffle, only (key, hash64, count).
    */
  def diffVersions(spark: SparkSession, root: String, keyCol: String,
                   fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, root, versionAsOf = fromVersion)
    val b = read(spark, root, versionAsOf = toVersion)
    val allCols = (a.columns ++ b.columns).distinct.sorted
    require(allCols.contains(keyCol), s"key column $keyCol not in schema")
    val dataCols = allCols.filterNot(_ == keyCol)
    def keyed(df: DataFrame): DataFrame = {
      val padded = allCols.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
      // per column, TWO hash args: an always-non-null null flag plus
      // the cast-to-empty value. Spark's hash functions SKIP null args
      // (the running hash passes through unchanged), which would alias
      // (null, "x") with ("x", null); the explicit flag removes the
      // ambiguity without an in-band sentinel a real string could
      // collide with. A key-only table hashes a constant — its diff
      // degenerates to the multiplicity/count comparison, which is
      // all a key-only row can change.
      val rowHash =
        if (dataCols.isEmpty) lit(0L)
        else xxhash64(dataCols.flatMap(c => Seq(col(c).isNull,
          coalesce(col(c).cast("string"), lit("")))): _*)
      // decimal(38,0) accumulation: exact (no ANSI long overflow) and
      // add-order independent
      padded.groupBy(col(keyCol).as("k"))
        .agg(sum(rowHash.cast("decimal(38,0)")).as("h"),
          count(lit(1)).as("c"))
    }
    // null-safe key match: a NULL-key group must pair with itself
    // across versions, not diff as spurious added+removed; presence is
    // judged on the count column (a matched null key nulls both a.k
    // and b.k)
    keyed(a).as("a")
      .join(keyed(b).as("b"), col("a.k") <=> col("b.k"), "full_outer")
      .select(coalesce(col("a.k"), col("b.k")).as(keyCol),
        when(col("a.c").isNull, "added")
          .when(col("b.c").isNull, "removed")
          .when(col("a.h") =!= col("b.h") || col("a.c") =!= col("b.c"),
            "changed").as("change"))
      .filter(col("change").isNotNull)
  }
}
