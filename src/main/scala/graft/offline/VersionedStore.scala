package graft.offline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared manifest-file plumbing for the offline stores. */
private[graft] object StorageUtil {
  /** `read` of each parquet file's footer, in the order of `files`,
    * from a pool of at most `threads` threads: footer opens are storage
    * round-trips, and serially a many-file commit or catalog scan would
    * pay one per file on the driver. Every open shares one set of read
    * options built from `conf`; parquet's own defaults would build a
    * fresh Hadoop configuration, parsing its XML defaults, per file. */
  def footers[T](conf: org.apache.hadoop.conf.Configuration, files: Seq[Path],
                 threads: Int)
                (read: org.apache.parquet.hadoop.metadata.ParquetMetadata => T)
  : Seq[T] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    if (files.isEmpty) return Nil
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(threads, files.size)))
    try {
      val futures = files.map(f => pool.submit(
        new java.util.concurrent.Callable[T] {
          def call(): T = {
            val reader = ParquetFileReader.open(
              HadoopInputFile.fromPath(f, conf), options)
            try read(reader.getFooter) finally reader.close()
          }
        }))
      futures.map { f =>
        // surface the worker's real failure, not the pool's wrapper
        try f.get() catch {
          case e: java.util.concurrent.ExecutionException
            if e.getCause != null => throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

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

/** A scan's file list taken verbatim from a manifest: qualified paths
  * with their recorded byte lengths and modification times, one
  * unpartitioned directory. Planning a scan over it globs nothing,
  * probes no path and runs no listing job, however many files it
  * names. Like Delta's and Iceberg's file indexes it carries no block
  * locations. Lengths must be exact: split planning and the parquet
  * footer read both trust them.
  *
  * Equal by file set, as Spark's InMemoryFileIndex is by root paths, so
  * two reads of one snapshot still share cached data and reused
  * exchanges. */
private[offline] final class ManifestFileIndex(
    files: Seq[org.apache.hadoop.fs.FileStatus])
  extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, PartitionDirectory}

  override def rootPaths: Seq[Path] = files.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty,
      files.map(FileStatusWithMetadata(_))))
  override def inputFiles: Array[String] =
    files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => rootPaths.toSet == m.rootPaths.toSet
    case _ => false
  }
  override def hashCode(): Int = rootPaths.toSet.hashCode()
}

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
  * (Stores written before [[Slots]] layouts became one file per run
  * also hold `data/<uuid>/slot=7/part-*.parquet` files; a manifest
  * names each file by its path, so they read like any other.)
  *
  * Scale properties:
  *  - A manifest lists EVERY file in its snapshot, so reading version
  *    v opens exactly those files — O(|snapshot|), never
  *    O(|history|); no filter over a commit column, no tombstone
  *    reconciliation. It is decoded in one place into one entry per
  *    file (path, rows, byte length, mtime, footer column ranges); a
  *    manifest written before one of those fields existed is upgraded
  *    there, once, so nothing downstream has a fallback.
  *  - Every read takes one path: the snapshot's entries, pruned by one
  *    range/value-set proof, planned as a scan from the entries alone
  *    ([[ManifestFileIndex]]): no path globbing, no existence probes,
  *    no listing job and no block locations, at any file count.
  *  - Commits are optimistic: the manifest is created with
  *    `create(overwrite = false)` (atomic on HDFS and local file
  *    systems), so concurrent writers race on the version number and
  *    the loser retries against the new head. Readers see a complete
  *    manifest or none — snapshot isolation by construction.
  *  - Data files are immutable; `merge` is copy-on-write over ONLY
  *    the files whose key ranges intersect the updates — the same
  *    proof the reads prune with; provably unmatched files are
  *    carried into the new snapshot by reference, entries and all.
  */
object VersionedStore {

  case class VersionInfo(version: Long, op: String, nFiles: Int, rows: Long)

  /** A declared file layout over an integer bucket column: a row whose
    * `column` holds bucket b in [0, buckets) belongs to slot
    * floor(b · count / buckets), so every slot is a contiguous bucket
    * range and slot order is bucket order. `count` is the finest the
    * layout gets: it is written as one file per run of slots (see
    * [[Layout]]), and a run is one slot once the data outgrows a read
    * split per slot. [[overwrite]] and [[compact]] write it, and a
    * [[merge]] or [[deleteKeys]] keyed on `column` keeps it; reads
    * prune it by the files' `column` ranges like any other layout, so
    * nothing but the writers needs to know it. */
  case class Slots(column: String, buckets: Int, count: Int) {
    require(buckets > 0 && count > 0, "buckets and count must be positive")
  }

  /** [[Slots]] as written: `runs` contiguous runs of slots, the slots s
    * with (s · runs) div count = r making run r, each run one file
    * sorted by `column` (see [[commit]]). `runs` is
    * min(count, max(defaultParallelism, ⌈bytes / maxPartitionBytes⌉))
    * for the bytes written ([[layoutOf]]): one run per core while the
    * data is small, and no run much larger than a read split once it is
    * larger, until each run is one slot. Recorded in the manifest of every commit that writes or
    * keeps it, so merges, deletes and compactions read it from the
    * snapshot itself. */
  private case class Layout(slots: Slots, runs: Int) {
    /** The run of each row, in integer arithmetic. */
    def expr: Column = {
      import org.apache.spark.sql.functions.{call_function, col, lit}
      val slot = call_function("div", col(slots.column) * slots.count,
        lit(slots.buckets))
      call_function("div", slot * runs, lit(slots.count)).cast("int")
    }
    /** The run of a bucket given on the manifest's double scale, whose
      * ranges are widened one ulp each way. */
    def runOf(bucket: Double): Long = {
      val slot = math.rint(bucket).toLong * slots.count / slots.buckets
      slot * runs / slots.count
    }
  }

  /** The [[Layout]] `slots` is written in for `bytes` of data. */
  private def layoutOf(spark: SparkSession, slots: Slots, bytes: BigInt)
  : Layout = {
    val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    Layout(slots, ((bytes + split - 1) / split)
      .max(spark.sparkContext.defaultParallelism).min(slots.count).toInt)
  }

  /** One data file of a snapshot: its path under the table root, row
    * count, byte length and modification time (a scan is planned from
    * them), and its footer [min, max] column ranges — numeric ones on
    * the `cast(col AS double)` scale, string ones as UTF-8 bytes. A
    * column without a range has no usable stats: it may hold anything. */
  private case class FileEntry(path: String, rows: Long, length: Long,
                               mtime: Long,
                               ranges: Map[String, (Double, Double)],
                               strRanges: Map[String, (Array[Byte], Array[Byte])])

  /** One version's manifest, decoded. */
  private case class Snapshot(version: Long, op: String,
                              files: Seq[FileEntry], schema: StructType,
                              commitTsMs: Long, layout: Option[Layout]) {
    def rows: Long = files.map(_.rows).sum
    def bytes: Long = files.map(_.length).sum
  }

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

  /** Decode manifest `v` — the only reader of the manifest format
    * ([[commit]] is its only writer). A manifest written before a
    * per-file field existed is brought up to the current shape here:
    * byte lengths and mtimes from one listing per data directory, row
    * counts from the parquet footers, the schema from a footer. A file
    * such a manifest lists but storage lacks fails the decode with an
    * IllegalStateException, which [[readManifestOpt]] does not mistake
    * for a vacuumed version. Files without recorded ranges have none
    * (manifests from before data skipping): they may match anything. A
    * manifest without a `layout` records none. */
  private def readManifest(spark: SparkSession, root: String, v: Long)
  : Snapshot = {
    val p = manifestPath(root, v)
    val fs = fileSystem(spark, p)
    require(fs.exists(p), s"version $v does not exist under $root")
    val m = mapper.readTree(StorageUtil.readAllBytes(fs, p))
    val paths = m.get("files").asScala.map(_.asText).toSeq
    val (fileRows, fileSizes) = (m.path("fileRows"), m.path("fileSizes"))
    val stale = paths.filterNot(f => fileRows.has(f) && fileSizes.has(f))
    val listed = stale.map(f => new Path(f).getParent.toString).distinct
      .flatMap { dir =>
        val d = new Path(root, dir)
        if (!fs.exists(d)) Nil
        else fs.listStatus(d).map(st => s"$dir/${st.getPath.getName}" -> st)
      }.toMap
    stale.find(f => !listed.contains(f)).foreach { f =>
      throw new IllegalStateException(
        s"version $v of $root lists $f, which is missing from storage")
    }
    val uncounted = stale.filterNot(fileRows.has)
    val counted = uncounted.zip(footerStats(
      spark.sparkContext.hadoopConfiguration,
      uncounted.map(new Path(root, _))).map(_._1)).toMap
    val b64 = java.util.Base64.getDecoder
    def ranges[T](byCol: JsonNode, as: JsonNode => T): Map[String, (T, T)] =
      byCol.properties.asScala.map { e =>
        e.getKey -> (as(e.getValue.get(0)), as(e.getValue.get(1)))
      }.toMap
    val files = paths.map { f =>
      val (length, mtime) =
        if (fileSizes.has(f))
          (fileSizes.get(f).get(0).asLong, fileSizes.get(f).get(1).asLong)
        else (listed(f).getLen, listed(f).getModificationTime)
      FileEntry(f, if (fileRows.has(f)) fileRows.get(f).asLong else counted(f),
        length, mtime, ranges(m.path("stats").path(f), _.asDouble),
        ranges(m.path("strStats").path(f), n => b64.decode(n.asText)))
    }
    val schema = m.path("schema").asText("") match {
      case "" if paths.isEmpty => new StructType()
      case "" => spark.read.parquet(new Path(root, paths.head).toString).schema
      case json => DataType.fromJson(json).asInstanceOf[StructType]
    }
    val layout = Option(m.get("layout")).map(l => Layout(
      Slots(l.get("column").asText, l.get("buckets").asInt, l.get("count").asInt),
      l.get("runs").asInt))
    Snapshot(v, m.get("op").asText, files, schema, m.path("ts").asLong(0L),
      layout)
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

  /** A file's row count and its numeric and string column ranges. */
  private type FooterStats =
    (Long, Map[String, (Double, Double)], Map[String, (Array[Byte], Array[Byte])])

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
    * "may match". Results are in the order of `files`.
    */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          files: Seq[Path]): Seq[FooterStats] =
    // (The production refinement is collecting these during the WRITE,
    // via task-side commit messages — then this pass disappears.)
    StorageUtil.footers(conf, files, threads = 32)(fileFooterStats)

  private def fileFooterStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): FooterStats = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val blocks = footer.getBlocks.asScala
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
    (totalRows, acc.collect { case (c, (lo, hi, true)) =>
      c -> (Math.nextDown(lo), Math.nextUp(hi))
    }.toMap, bacc.collect { case (c, (lo, hi, true)) =>
      c -> (lo, hi)
    }.toMap)
  }

  // --- reads ----------------------------------------------------------

  /** What a read or a merge seeks in one column, on the scale of the
    * manifest's ranges for it: any value within [lo, hi] (Left), or
    * exactly the values of a set (Right). */
  private case class Sought[T](column: String, within: Either[(T, T), Seq[T]])

  private val utf8Order: Ordering[Array[Byte]] = new Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The pruning proof behind every read and merge: a file may hold a
    * sought value unless, for some sought column, its recorded range
    * lies outside [lo, hi] or contains no value of the set. A column
    * with no recorded range may hold anything. Numeric ranges compare
    * by IEEE order (NaN compares false, -0.0 equals 0.0), string
    * ranges by unsigned UTF-8 bytes — parquet's STRING stat order,
    * which Spark's string comparisons share. Ranges cover non-NULL
    * values only and NULL never equality-matches, so NULLs on either
    * side cannot defeat the proof. */
  private def mayHold(f: FileEntry, num: Seq[Sought[Double]],
                      str: Seq[Sought[Array[Byte]]]): Boolean = {
    def may[T](ranges: Map[String, (T, T)], ord: Ordering[T])(s: Sought[T]) =
      ranges.get(s.column).forall { case (fLo, fHi) =>
        s.within match {
          case Left((lo, hi)) => !ord.lt(fHi, lo) && !ord.lt(hi, fLo)
          case Right(vs) => vs.exists(x => ord.lteq(fLo, x) && ord.lteq(x, fHi))
        }
      }
    num.forall(may(f.ranges, Ordering.Double.IeeeOrdering)) &&
      str.forall(may(f.strRanges, utf8Order))
  }

  /** Open some of a snapshot's files AS the snapshot's schema: a
    * HadoopFsRelation over a [[ManifestFileIndex]] of exactly `files`
    * (possibly none: an empty frame of the snapshot's schema), with
    * the data schema nullable at every level as a path read makes it.
    * Pinning the read schema to the manifest (instead of inferring
    * from an arbitrary footer) is what makes add-column schema
    * evolution readable: files written before a column existed
    * null-backfill it, and no footer-sampling race can drop an
    * evolved column. */
  private def readFiles(spark: SparkSession, root: String, snap: Snapshot,
                        files: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val rootPath = new Path(root)
    val fs = fileSystem(spark, rootPath)
    val blockSize = fs.getDefaultBlockSize(rootPath)
    val statuses = files.map(f =>
      new org.apache.hadoop.fs.FileStatus(f.length, false, 0, blockSize,
        f.mtime, fs.makeQualified(new Path(root, f.path))))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(statuses), partitionSchema = new StructType(),
      dataSchema = nullableEverywhere(snap.schema).asInstanceOf[StructType],
      bucketSpec = None, fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark))
  }

  /** The snapshot at `versionAsOf`, or at the latest version. */
  private def snapshotAt(spark: SparkSession, root: String,
                         versionAsOf: Long): Snapshot = {
    val v = if (versionAsOf >= 0) versionAsOf else latestVersion(spark, root)
    require(v >= 0, s"no committed version under $root")
    readManifest(spark, root, v)
  }

  /** The files of a snapshot that may hold the sought values. */
  private def scan(spark: SparkSession, root: String, versionAsOf: Long,
                   num: Seq[Sought[Double]] = Nil,
                   str: Seq[Sought[Array[Byte]]] = Nil): DataFrame = {
    val snap = snapshotAt(spark, root, versionAsOf)
    require(snap.files.nonEmpty,
      s"version ${snap.version} of $root is an empty snapshot")
    readFiles(spark, root, snap, snap.files.filter(mayHold(_, num, str)))
  }

  /** Read a snapshot: the latest version, or `versionAsOf` — opening
    * ONLY that manifest's files, as that manifest's schema (files
    * predating an added column null-backfill it; reading an OLD
    * version returns the old schema unchanged).
    */
  def read(spark: SparkSession, root: String, versionAsOf: Long = -1L)
  : DataFrame = scan(spark, root, versionAsOf)

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
    scan(spark, root, versionAsOf, num = Seq(Sought(column, Left((lo, hi)))))
      .where(org.apache.spark.sql.functions.col(column)
        .cast("double").between(lo, hi))
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
    val sorted = values.distinct.sorted
    scan(spark, root, versionAsOf, num = Seq(Sought(column, Right(sorted))))
      .where(org.apache.spark.sql.functions.col(column)
        .cast("double").isin(sorted: _*))
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
  : DataFrame =
    scan(spark, root, versionAsOf,
      str = Seq(Sought(column, Right(values.distinct.map(utf8)))))
      .where(org.apache.spark.sql.functions.col(column)
        .isin(values.distinct: _*))

  /** The snapshot's schema from the manifest alone — no file listing,
    * no scan DataFrame. The cheap path for callers that only need
    * column names/types (e.g. parsing serving config encoded in a
    * column name) before a pruned read. */
  def schemaOf(spark: SparkSession, root: String,
               versionAsOf: Long = -1L): StructType =
    snapshotAt(spark, root, versionAsOf).schema

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

  /** `dt` with every nesting level nullable (struct fields, array
    * elements, map values), field metadata kept — what Spark's
    * DataSource makes of a file read's data schema. */
  private def nullableEverywhere(dt: DataType): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullableEverywhere(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(nullableEverywhere(a.elementType), containsNull = true)
      case m: MapType => MapType(nullableEverywhere(m.keyType),
        nullableEverywhere(m.valueType), valueContainsNull = true)
      case o => o
    }
  }

  /** Name+type "shape" of a schema with nullability erased at EVERY
    * nesting level (array containsNull / map valueContainsNull / nested
    * struct fields differ freely between literal-built and parquet-read
    * frames of the same logical shape) — the compatibility unit for
    * mixing files in one snapshot. */
  private def schemaShape(schema: StructType): Set[(String, DataType)] =
    schema.fields.map(f => (f.name, nullableEverywhere(f.dataType))).toSet

  /** Commit `df` as a new version. `carryPrev` keeps the previous
    * snapshot's files in the new manifest (append semantics);
    * `carried` keeps the given files of the head instead (a partial,
    * file-pruned merge), which binds the commit to the head they were
    * taken from. When `expectedVersion` >= 0 the commit claims EXACTLY
    * that version or throws CommitConflict — required whenever the
    * content was derived from a snapshot read (create/merge), because
    * blindly re-claiming the next number would publish stale content
    * over a racing writer's commit. Append/overwrite content is
    * head-independent (append re-reads the head's file list on every
    * attempt), so those retry internally. The only writer of the
    * manifest format. Returns the committed version number.
    *
    * Without `layout`, `df` is written as it is partitioned, one file
    * per Spark task. With it, `df` is shuffled once, straight to
    * partition ids (no range-sampling job), into one write task per
    * run, sorted by bucket within the task, and each task writes its
    * run as one file; a task whose run has no rows leaves no file in
    * the snapshot. Per-file cost is what dominates a small snapshot:
    * each write task first decodes the session's Hadoop configuration
    * (8.7 ms of CPU for 1,101 properties on a 4-vCPU machine), and each
    * file pays its writer's set-up and close and, on every later read
    * that keeps it, its open. The manifest records the layout.
    */
  private def commit(df: DataFrame, root: String, op: String,
                     carryPrev: Boolean, expectedVersion: Long = -1L,
                     carried: Seq[FileEntry] = Nil,
                     layout: Option[Layout] = None): Long = {
    require(carried.isEmpty || expectedVersion >= 0,
      "a partial carry must be pinned to the head it was computed from")
    val spark = df.sparkSession
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/$uuid"
    val dataDir = new Path(root, dataRel)
    layout match {
      case None => df.write.parquet(dataDir.toString)
      case Some(l) =>
        df.repartitionById(l.runs, l.expr)
          .sortWithinPartitions(l.slots.column)
          .write.parquet(dataDir.toString)
    }
    val fs = fileSystem(spark, dataDir)
    // one flat directory; listStatus, not listFiles: a located status
    // loads the file's permissions, which on the local file system
    // spawns a process per file
    val written = fs.listStatus(dataDir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet")
      }.sortBy(_.getPath.getName)
    // exact byte lengths and mtimes from the listing (the scan of this
    // snapshot is planned from them); rows AND per-file column ranges
    // straight from the parquet footers — one metadata pass, no Spark
    // job, no data pages
    val entries = written.zip(footerStats(
        spark.sparkContext.hadoopConfiguration, written.map(_.getPath)))
      .map { case (st, (rows, ranges, strRanges)) =>
        FileEntry(s"$dataRel/${st.getPath.getName}", rows, st.getLen,
          st.getModificationTime, ranges, strRanges)
      }
    // Spark writes a schema-only file for an empty first task. A laid-out
    // snapshot keeps no such file beside one with rows or a carried
    // one (it lies in no run and every read would open it); a snapshot
    // of no rows keeps it, as its only file.
    val newFiles =
      if (layout.isEmpty) entries
      else entries.filter(_.rows > 0) match {
        case Nil if carried.isEmpty => entries.take(1)
        case kept => kept
      }
    entries.diff(newFiles).foreach(f => fs.delete(new Path(root, f.path), false))
    fs.mkdirs(logDir(root))
    var attempt = 0
    var lastConflict: Throwable = null
    while (attempt < 10) {
      val prev = latestVersion(spark, root)
      val (kept, schemaOut) =
        if (carryPrev && prev >= 0) {
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
          val prevFields = schemaShape(p.schema).toMap
          val newFields = schemaShape(df.schema).toMap
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
          val prevNullable = p.schema.fields.map(f => f.name -> f.nullable).toMap
          (p.files, StructType(df.schema.fields.map(f =>
            if (added(f.name)) f.copy(nullable = true)
            else f.copy(nullable =
              f.nullable || prevNullable.getOrElse(f.name, false)))))
        } else (carried, df.schema)
      val files = kept ++ newFiles
      val next = if (expectedVersion >= 0) expectedVersion else prev + 1
      val manifest = new java.util.LinkedHashMap[String, Object]()
      manifest.put("version", java.lang.Long.valueOf(next))
      manifest.put("op", op)
      manifest.put("files", files.map(_.path).asJava)
      manifest.put("rows", java.lang.Long.valueOf(files.map(_.rows).sum))
      manifest.put("schema", schemaOut.json)
      manifest.put("ts", java.lang.Long.valueOf(System.currentTimeMillis()))
      // per-file fields, each a map keyed by path; a file without
      // column ranges has no key in stats / strStats
      def perFile(field: String)(value: FileEntry => Option[Object]): Unit = {
        val byFile = new java.util.LinkedHashMap[String, Object]()
        files.foreach(f => value(f).foreach(byFile.put(f.path, _)))
        manifest.put(field, byFile)
      }
      def byColumn[T](ranges: Map[String, (T, T)])(enc: T => Object)
      : Option[Object] =
        if (ranges.isEmpty) None
        else {
          val byCol = new java.util.LinkedHashMap[String, Object]()
          ranges.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
            byCol.put(c, java.util.List.of(enc(lo), enc(hi)))
          }
          Some(byCol)
        }
      val b64 = java.util.Base64.getEncoder
      perFile("stats")(f => byColumn(f.ranges)(java.lang.Double.valueOf(_)))
      perFile("strStats")(f => byColumn(f.strRanges)(b64.encodeToString(_)))
      perFile("fileRows")(f => Some(java.lang.Long.valueOf(f.rows)))
      perFile("fileSizes")(f => Some(java.util.List.of(
        java.lang.Long.valueOf(f.length), java.lang.Long.valueOf(f.mtime))))
      layout.foreach { l =>
        val byKey = new java.util.LinkedHashMap[String, Object]()
        byKey.put("column", l.slots.column)
        byKey.put("buckets", Integer.valueOf(l.slots.buckets))
        byKey.put("count", Integer.valueOf(l.slots.count))
        byKey.put("runs", Integer.valueOf(l.runs))
        manifest.put("layout", byKey)
      }
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

  /** Replace the snapshot (previous versions stay readable); with
    * `slots`, written in that layout, one file per non-empty run of
    * slots, the runs sized by the plan's size estimate of `df` (see
    * [[Layout]]; an overestimate only moves them toward one per slot). */
  def overwrite(df: DataFrame, root: String,
                slots: Option[Slots] = None): Long =
    commit(df, root, "overwrite", carryPrev = false,
      layout = slots.map(layoutOf(df.sparkSession, _,
        df.queryExecution.optimizedPlan.stats.sizeInBytes)))

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
    * Each key prunes by its exact set of distinct values when it has
    * at most 1,024, else by its [min, max]. A batch whose plan
    * optimizes to a local relation of at most 1,024 rows is collected
    * (no job) and resolved on the driver, its distinct key tuples an
    * IN-set the rewrite filters the matched rows out by (no broadcast
    * job); any other batch runs a capped distinct per key (and one
    * bounds aggregate over the keys past the cap) and an anti-join
    * against its distinct keys, and is never collected first. Both give
    * the same file split.
    *
    * A head laid out in [[Slots]] keeps its layout when the layout
    * column is a merge key: every file in a run an update's bucket
    * falls in is rewritten, with the run's new rows, as that run's one
    * file, and every other file is carried. The rewrite of a small
    * batch then costs two jobs, the shuffle's map stage and the write.
    * Without such a key, the merge writes as above and the new
    * snapshot records no layout.
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
    * file pruning (capped value set, else range, on numeric and
    * string keys): only files that can hold a deleted key are
    * rewritten without the matching rows; provably unmatched files
    * carry by reference. Earlier versions remain readable — deletion
    * is a new snapshot, so compliance workflows pair this with
    * [[vacuum]] to retire the pre-deletion versions' files.
    * `delKeys` carries just the key columns (extra columns ignored);
    * keys that match nothing are harmless. Refuses to empty the
    * table (a store invariant — use overwrite for that). A laid-out
    * head keeps its layout, as in [[merge]]: each rewritten file stays
    * its run's one file.
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
    import org.apache.spark.sql.functions.{col, min, max, struct}
    import org.apache.spark.sql.types.{NumericType, StringType, StructType, TimestampType}
    val spark = updates.sparkSession
    // The merge keys that prune, each as the column the manifest
    // ranges are on: numeric/timestamp keys cast to double (timestamps
    // = epoch seconds), string keys as they are (parquet STRING footer
    // stats and Spark's string min/max both order by unsigned UTF-8
    // bytes). Other keys never prune, and under ANSI mode a
    // string→double cast would throw, so they are never cast.
    // Head-independent: resolved once, before the retry loop.
    val numKeys = updates.schema.fields
      .filter(f => keys.contains(f.name) && (f.dataType match {
        case _: NumericType | _: TimestampType => true
        case _ => false
      })).map(_.name).toSeq
    val strKeys = updates.schema.fields
      .filter(f => keys.contains(f.name) && f.dataType == StringType)
      .map(_.name).toSeq
    val prunable = numKeys ++ strKeys
    def onScale(k: String) =
      if (numKeys.contains(k)) col(k).cast("double") else col(k)
    // EXACT value sets: a batch touching buckets {0, 31} has range
    // [0, 31] — which intersects every file — but its value SET misses
    // every file strictly between, so set pruning carries those files
    // where range pruning rewrites the world. Capped: a key with more
    // distinct values prunes by its range (the set would cost more
    // than it prunes).
    val setCap = 1024
    // A batch that optimizes to a local relation of at most setCap
    // rows is resolved here on the driver: Catalyst folds the key
    // projection (numeric keys also on the double scale) into the
    // relation, so collecting it runs no job, and its value sets and
    // anti-join keys all come from that one array. Any other batch
    // takes the aggregate path and is never collected.
    val keyCols = updates.select(keys.map(col): _*)
    val small = updates.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size <= setCap
      case _ => false
    }
    val batch =
      if (!small) Array.empty[org.apache.spark.sql.Row]
      else updates.select(keys.map(col) ++ prunable.map(onScale): _*)
        .collect()
    // each prunable key's distinct non-NULL values, at most setCap + 1
    val distinct = prunable.zipWithIndex.map { case (k, i) =>
      val at = keys.size + i
      if (small) batch.collect { case r if !r.isNullAt(at) => r.get(at) }.distinct
      else updates.select(onScale(k).as("v")).filter(col("v").isNotNull)
        .distinct().limit(setCap + 1).collect().map(_.get(0))
    }
    // the keys past the cap take their [min, max] from ONE aggregate
    val overCap = prunable.zip(distinct).collect {
      case (k, vs) if vs.length > setCap => k
    }
    val bounds: Map[String, (Any, Any)] =
      if (overCap.isEmpty) Map.empty
      else {
        val aggs = overCap.flatMap(k => Seq(min(onScale(k)), max(onScale(k))))
        val r = updates.agg(aggs.head, aggs.tail: _*).head()
        overCap.zipWithIndex.collect { case (k, i) if !r.isNullAt(2 * i) =>
          k -> (r.get(2 * i), r.get(2 * i + 1))
        }.toMap
      }
    // What one key seeks: its value set within the cap (the set's own
    // [min, max] would prune nothing more: a file range holding a set
    // value overlaps those bounds), else its bounds; nothing (no
    // pruning) when every value is NULL.
    def sought[T](k: String, vs: Array[Any], as: Any => T,
                  widen: ((T, T)) => (T, T)): Option[Sought[T]] =
      if (vs.isEmpty) None
      else if (vs.length <= setCap) Some(Sought(k, Right(vs.toSeq.map(as))))
      else bounds.get(k).map { case (lo, hi) =>
        Sought(k, Left(widen((as(lo), as(hi)))))
      }
    val num = numKeys.zip(distinct).flatMap { case (k, vs) =>
      // widened one ulp each way, mirroring the footer stats
      sought[Double](k, vs, _.asInstanceOf[Double],
        { case (lo, hi) => (Math.nextDown(lo), Math.nextUp(hi)) })
    }
    val str = strKeys.zip(distinct.drop(numKeys.size)).flatMap {
      case (k, vs) => sought[Array[Byte]](k, vs,
        v => utf8(v.asInstanceOf[String]), identity)
    }
    // The rewrite drops the rows whose key tuple the batch holds. A
    // small batch's distinct tuples are an IN-set of struct literals (a
    // NULL key never equality-matches, so tuples holding one are
    // dropped, and a stored row with a NULL key is never in the set); a
    // large batch's stay distributed, for an anti-join.
    val dropMatched: DataFrame => DataFrame =
      if (small) {
        val tupleType = StructType(keyCols.schema.fields.map(_.copy(nullable = true)))
        val tuples = batch.filterNot(r => keys.indices.exists(r.isNullAt))
          .map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.take(keys.size)))
          .distinct.map(t => org.apache.spark.sql.GraftColumnBridge.column(
            org.apache.spark.sql.catalyst.expressions.Literal.create(t, tupleType)))
        if (tuples.isEmpty) identity
        else _.where(!struct(keys.map(col): _*).isin(tuples.toSeq: _*))
      } else {
        val updateKeys = keyCols.distinct()
        _.join(updateKeys, keys, "left_anti")
      }
    // a small batch's rows are written as one file, not one per slice
    // of the local relation (a narrow coalesce: no job)
    val inserted = if (small) updates.coalesce(1) else updates
    var attempt = 0
    while (attempt < 10) {
      val head = latestVersion(spark, root)
      require(head >= 0, s"no committed version under $root")
      val snap = readManifest(spark, root, head)
      // The head's layout is kept when the layout column is a merge key:
      // a matched row then has its update's bucket, so it lies in that
      // bucket's run. A merge also rewrites every file in the runs its
      // rows go to, so no run ends up with two files, and keeps the
      // layout only when it knows those runs. Each kept layout comes
      // with the files it adds to the rewrite.
      val layoutKept: Option[(Layout, FileEntry => Boolean)] = snap.layout
        .filter(l => keys.contains(l.slots.column))
        .flatMap { l =>
          if (!insertUpdates) Some(l -> ((_: FileEntry) => false))
          else num.find(_.column == l.slots.column).map { s =>
            val runs: Long => Boolean = s.within match {
              case Right(bs) => bs.map(l.runOf).toSet
              case Left((lo, hi)) =>
                val (a, b) = (l.runOf(lo), l.runOf(hi)); r => r >= a && r <= b
            }
            l -> ((f: FileEntry) => f.ranges.get(l.slots.column)
              .forall(r => runs(l.runOf(r._1))))
          }
        }
      val (touched, untouched) = snap.files.partition(f =>
        mayHold(f, num, str) || layoutKept.exists(_._2(f)))
      // pruning proved no file can hold a deleted key → the delete is
      // a NO-OP; don't burn a version on an empty rewrite
      if (!insertUpdates && touched.isEmpty) return head
      def rewrite(files: Seq[FileEntry]) = {
        val kept = dropMatched(readFiles(spark, root, snap, files))
        if (insertUpdates) kept.unionByName(inserted) else kept
      }
      // nothing intersects a merge: a pure insert
      val survivors = if (touched.isEmpty) inserted else rewrite(touched)
      // union type-widening (e.g. int updates over a long table)
      // would drift the snapshot schema away from the carried
      // files — only carry when the shape is provably unchanged
      val (merged, carried) =
        if (untouched.isEmpty ||
            schemaShape(survivors.schema) != schemaShape(snap.schema))
          (rewrite(snap.files), Nil)
        else {
          // align column order to the table's (shape equality is
          // set-based; a pure-insert path takes the updates' order)
          val tableCols = snap.schema.fieldNames.toSeq
          (if (survivors.columns.toSeq == tableCols) survivors
           else survivors.select(tableCols.map(col): _*), untouched)
        }
      // a delete that leaves no carried file and no surviving row
      // would commit an empty snapshot (unreadable by invariant) —
      // refuse loudly. Only reachable on the full-rewrite path, so
      // the extra count is paid when every file was touched anyway.
      if (!insertUpdates && carried.isEmpty &&
          merged.limit(1).count() == 0L)
        throw new IllegalArgumentException(
          s"deleteKeys would remove every row of $root — empty " +
            "snapshots are not representable; use overwrite instead")
      try {
        return commit(merged, root,
          if (insertUpdates) "merge" else "delete", carryPrev = false,
          expectedVersion = head + 1, carried = carried,
          layout = layoutKept.map(_._1))
      } catch {
        case _: CommitConflict => attempt += 1 // recompute vs new head
      }
    }
    throw new IllegalStateException(
      s"could not merge into $root after 10 attempts (concurrent writers)")
  }

  /** Rewrite the head snapshot whole as `op`, committed as exactly
    * head+1 (in the [[Layout]] `layout` gives for the head, if any)
    * from the rows `arrange` lays out. Earlier versions remain readable
    * (copy-on-write); a racing writer wins the version race and the
    * rewrite recomputes against the new head. */
  private def rewriteHead(spark: SparkSession, root: String, op: String,
                          layout: Snapshot => Option[Layout] = _ => None)
                         (arrange: Snapshot => DataFrame): Long = {
    var attempt = 0
    while (attempt < 10) {
      val head = latestVersion(spark, root)
      require(head >= 0, s"no committed version under $root")
      val snap = readManifest(spark, root, head)
      val arranged = arrange(snap)
      try {
        return commit(arranged, root, op, carryPrev = false,
          expectedVersion = head + 1, layout = layout(snap))
      } catch {
        case _: CommitConflict => attempt += 1 // recompute vs new head
      }
    }
    throw new IllegalStateException(
      s"could not $op $root after 10 attempts (concurrent writers)")
  }

  /** Rewrite the current snapshot into `numFiles` files — the
    * small-file compaction every long-lived table needs (a year of
    * 15-minute appends is ~35k manifests' worth of part files; scans
    * pay per-file open cost and the driver pays per-file planning).
    * With `sortBy`, rows are range-partitioned and sorted on those
    * columns, so each output file covers a DISJOINT value range and
    * the footer stats become tight — [[readRange]] then opens
    * ~1/numFiles of the table instead of all of it (the Z-order-lite
    * layout step). The range partitioning samples the table in a job
    * of its own and writes from `numFiles` tasks, so it keeps the exact
    * file count. Earlier versions remain readable (copy-on-write); a
    * racing writer wins the version race and the compaction recomputes
    * against the new head.
    */
  def compact(spark: SparkSession, root: String, numFiles: Int,
              sortBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(numFiles > 0, "numFiles must be positive")
    rewriteHead(spark, root, "compact") { snap =>
      val current = readFiles(spark, root, snap, snap.files)
      if (sortBy.isEmpty) current.repartition(numFiles)
      else current
        .repartitionByRange(numFiles, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    }
  }

  /** Rewrite the current snapshot into the `slots` layout: one file per
    * non-empty run of slots, each covering its run's contiguous bucket
    * range sorted by bucket, in two Spark jobs (the shuffle's map stage
    * and a write of one task per run; see [[Layout]] for the run
    * count). A head that already is that layout commits nothing and is
    * returned as it is, decided from its manifest alone: it records the
    * layout `slots` takes at its size, and every file's bucket range
    * lies inside one run, no two files in one run. Upserts and deletes
    * keep a layout ([[merge]]), so this rewrites only when the snapshot
    * has outgrown or shrunk out of its run count, or was written
    * otherwise. */
  def compact(spark: SparkSession, root: String, slots: Slots): Long = {
    val head = latestVersion(spark, root)
    require(head >= 0, s"no committed version under $root")
    if (laidOut(spark, readManifest(spark, root, head), slots)) head
    else rewriteHead(spark, root, "compact",
        snap => Some(layoutOf(spark, slots, snap.bytes))) { snap =>
      readFiles(spark, root, snap, snap.files)
    }
  }

  /** Whether `snap` already is what compacting it into `slots` would
    * write (see [[compact]]). */
  private def laidOut(spark: SparkSession, snap: Snapshot,
                      slots: Slots): Boolean = {
    val l = layoutOf(spark, slots, snap.bytes)
    val runs = snap.files.map(_.ranges.get(slots.column)
      .map { case (lo, hi) => (l.runOf(lo), l.runOf(hi)) })
    snap.layout.contains(l) &&
      runs.forall(_.exists { case (a, b) => a == b }) &&
      runs.distinct.size == runs.size
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
    rewriteHead(spark, root, "zorder") { snap =>
      val current = readFiles(spark, root, snap, snap.files)
      // range per column: min-of-mins / max-of-maxes across the
      // snapshot's files — only usable when EVERY file carries stats
      val fromStats: Map[String, (Double, Double)] = zorderBy.flatMap { c =>
        val per = snap.files.map(_.ranges.get(c))
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
      current.withColumn("__graft_z", morton)
        .repartitionByRange(numFiles, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")
    }
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
        .map(_.files.map(_.path)).getOrElse(Nil)).toSet
    val droppedCandidates = (0L until math.max(cutoff, 0L))
      .filter(v => fs.exists(manifestPath(root, v)))
    // 1. manifests go first — those versions are no longer readable
    val (dropped, droppedFileSeqs) = droppedCandidates.flatMap { v =>
      readManifestOpt(spark, root, v).map { snap =>
        fs.delete(manifestPath(root, v), false)
        (v, snap.files.map(_.path))
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
