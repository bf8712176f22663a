package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.offline.VersionedStore

/** Dataset discovery over a corpus root: one descriptor row per
  * dataset found under it, classified by storage convention —
  *
  *  - `versioned`: a [[VersionedStore]] table (`_graft_log` present);
  *    latest version, exact committed row count, file count, and
  *    schema come from the MANIFEST — zero data files opened.
  *  - `parquet`: a plain parquet directory — including a HIVE-LAYOUT
  *    PARTITIONED one (`k=v` subdirectories, e.g. the offline
  *    store's `entity_type=X/event_date=Y` materializations): the
  *    whole tree is ONE dataset, its partition columns reported in
  *    path order in `partition_cols`, its schema (data + partition
  *    columns) from the reader, and its row estimate summed from
  *    parquet FOOTER metadata — no Spark count job.
  *  - `jsonl` / `csv`: raw text corpora — enumerated with file
  *    counts only; row counts and schemas deliberately stay null
  *    (reading them means a full parse, and the explicit-schema
  *    ingestion policy lives in [[Sources]], not here).
  *  - `empty` / `unknown` otherwise.
  *
  * A directory that is not itself a dataset but contains ones deeper
  * down (a namespace dir, e.g. `warehouse/team_a/events`) is
  * RECURSED into up to `maxDepth` levels; nested datasets get
  * path-qualified names (`team_a/events`). `k=v` levels are never
  * treated as namespaces — they belong to their partitioned parent.
  *
  * A dataset carrying a `dataset_manifest.json` additionally gets
  * its declared id/description and the raw manifest JSON in the
  * row — the registration convention of the reference's dataset
  * discovery (DatasetDiscoveryService.java:74-124: scan a root for
  * manifest files, parse descriptors, stable order, tolerate
  * malformed manifests). Malformed manifests follow the [[Sources]]
  * quarantine policy: the row is KEPT with `manifest_error` set,
  * never silently dropped. Rows come back sorted by dataset_id.
  *
  * Scale shape: discovery is a driver-side directory walk plus
  * manifest reads (both O(datasets + partitions), like any catalog
  * refresh) — the 100 TB of data below the directories is never
  * touched; row estimates are parquet footer reads (metadata pages
  * only) through a bounded pool, the same shape as the versioned
  * store's commit-time stats pass.
  */
object Catalog {

  final case class DatasetDescriptor(
      dataset_id: String, name: String, path: String, kind: String,
      latest_version: Long, n_files: Long, est_rows: Long,
      schema_json: Option[String], description: Option[String],
      manifest_json: Option[String], manifest_error: Option[String],
      partition_cols: Option[String])

  val ManifestName = "dataset_manifest.json"
  private val mapper = new ObjectMapper()

  /** Scan `basePath` into descriptor rows: direct children, plus
    * nested datasets up to `maxDepth` directory levels below the
    * base (partitioned trees count as ONE dataset at their root). */
  def discover(spark: SparkSession, basePath: String,
               countRows: Boolean = false, maxDepth: Int = 3): DataFrame = {
    import spark.implicits._
    val base = new Path(basePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(base), s"catalog base path does not exist: $basePath")
    val dirs = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
    val rows = dirs.toSeq
      .flatMap(describeTree(spark, fs, _, countRows, "", maxDepth - 1))
      .sortBy(_.dataset_id)
    rows.toDF()
  }

  private def kvKey(name: String): Option[String] = {
    val i = name.indexOf('=')
    if (i > 0) Some(name.substring(0, i)) else None
  }

  private def isDataFile(n: String): Boolean =
    !n.startsWith(".") && !n.startsWith("_") && n != ManifestName

  /** Parquet leaves + partition column names (path order) of a
    * Hive-layout tree. Levels that stop being `k=v` end the walk for
    * that branch — mixed layouts surface as fewer counted leaves,
    * never a crash. */
  private def partitionedLeaves(fs: FileSystem, dir: Path)
  : (Seq[Path], Seq[String]) = {
    val leaves = Seq.newBuilder[Path]
    val cols = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(d: Path): Unit = {
      val st = fs.listStatus(d)
      st.foreach { s =>
        if (s.isFile) {
          val n = s.getPath.getName
          if (n.endsWith(".parquet") && isDataFile(n)) leaves += s.getPath
        } else kvKey(s.getPath.getName).foreach { k =>
          cols += k
          walk(s.getPath)
        }
      }
    }
    walk(dir)
    (leaves.result(), cols.toSeq)
  }

  /** Sum committed row counts from parquet footers — metadata pages
    * only, no Spark job. Bounded pool: footer opens are storage
    * round-trips and a big partitioned table has thousands of leaves. */
  def parquetFooterRows(conf: org.apache.hadoop.conf.Configuration,
                        files: Seq[Path]): Long =
    graft.offline.StorageUtil.footers(conf, files, threads = 16)(
      _.getBlocks.asScala.map(_.getRowCount).sum).sum

  private def describeTree(spark: SparkSession, fs: FileSystem,
                           dir: Path, countRows: Boolean,
                           prefix: String, depthLeft: Int)
  : Seq[DatasetDescriptor] = {
    val name = prefix + dir.getName
    val children = fs.listStatus(dir)
    val fileNames = children.filter(_.isFile).map(_.getPath.getName)
    val subDirs = children.filter(_.isDirectory).map(_.getPath)
    def count(suffix: String) =
      fileNames.count(n => n.endsWith(suffix) && isDataFile(n))
    val conf = spark.sparkContext.hadoopConfiguration

    // optional registration manifest (id/description/params)
    val manifestPath = new Path(dir, ManifestName)
    val (mJson, mId, mDesc, mErr) =
      if (!fs.exists(manifestPath)) (None, None, None, None)
      else {
        val in = fs.open(manifestPath)
        val raw = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          new String(out.toByteArray, "UTF-8")
        } finally in.close()
        try {
          val node = mapper.readTree(raw)
          (Some(raw),
            Option(node.get("id")).map(_.asText()),
            Option(node.get("description")).map(_.asText()),
            None)
        } catch {
          case NonFatal(e) =>
            (Some(raw), None, None,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      }
    def withManifest(desc: DatasetDescriptor): Seq[DatasetDescriptor] =
      Seq(desc.copy(
        dataset_id = mId.getOrElse(desc.dataset_id),
        description = mDesc,
        manifest_json = mJson,
        manifest_error = mErr))

    val kvDirs = subDirs.filter(d => kvKey(d.getName).isDefined)

    if (VersionedStore.latestVersion(spark, dir.toString) >= 0L) {
      val infos = VersionedStore.versions(spark, dir.toString)
      val head = infos.last
      withManifest(DatasetDescriptor(name, name, dir.toString,
        "versioned", head.version, head.nFiles.toLong, head.rows,
        Some(VersionedStore.schemaOf(spark, dir.toString).json),
        None, None, None, None))
    } else if (count(".parquet") > 0) {
      val df = spark.read.parquet(dir.toString)
      val est = if (countRows) {
        val files = fileNames.filter(n =>
          n.endsWith(".parquet") && isDataFile(n))
          .map(new Path(dir, _)).toSeq
        parquetFooterRows(conf, files)
      } else -1L
      withManifest(DatasetDescriptor(name, name, dir.toString,
        "parquet", -1L, count(".parquet").toLong, est,
        Some(df.schema.json), None, None, None, None))
    } else if (count(".jsonl") + count(".json") > 0) {
      withManifest(DatasetDescriptor(name, name, dir.toString, "jsonl",
        -1L, (count(".jsonl") + count(".json")).toLong, -1L,
        None, None, None, None, None))
    } else if (count(".csv") > 0) {
      withManifest(DatasetDescriptor(name, name, dir.toString, "csv",
        -1L, count(".csv").toLong, -1L, None, None, None, None, None))
    } else if (kvDirs.nonEmpty) {
      // Hive-layout partitioned dataset: the tree is ONE dataset
      val (leaves, pCols) = partitionedLeaves(fs, dir)
      if (leaves.nonEmpty) {
        val df = spark.read.parquet(dir.toString)
        val est = if (countRows) parquetFooterRows(conf, leaves) else -1L
        withManifest(DatasetDescriptor(name, name, dir.toString,
          "parquet", -1L, leaves.size.toLong, est,
          Some(df.schema.json), None, None, None,
          Some(pCols.mkString(","))))
      } else
        withManifest(DatasetDescriptor(name, name, dir.toString,
          "unknown", -1L, fileNames.length.toLong, -1L, None, None,
          None, None, None))
    } else if (subDirs.nonEmpty && depthLeft > 0) {
      // namespace directory: recurse; nested datasets get
      // path-qualified names. Nothing found below → honest unknown.
      val nested = subDirs.toSeq.flatMap(
        describeTree(spark, fs, _, countRows, name + "/", depthLeft - 1))
      if (nested.nonEmpty) nested
      else withManifest(DatasetDescriptor(name, name, dir.toString,
        if (children.isEmpty) "empty" else "unknown",
        -1L, fileNames.length.toLong, -1L, None, None, None, None, None))
    } else if (children.isEmpty) {
      withManifest(DatasetDescriptor(name, name, dir.toString, "empty",
        -1L, 0L, -1L, None, None, None, None, None))
    } else {
      withManifest(DatasetDescriptor(name, name, dir.toString,
        "unknown", -1L, fileNames.length.toLong, -1L, None, None,
        None, None, None))
    }
  }
}
