package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Batch DataSource-v2 read path for [[SnapshotTable]] — the snapshot
  * table as a first-class `Table` in Spark's connector API instead of
  * a path-list `spark.read.parquet`.
  *
  *   spark.read.format("graft-snapshot").load(root)              // head
  *     .option("version", 3)                                     // time travel
  *     .option("changesFrom", 1).option("changesTo", 3)          // CDC delta
  *
  * Two internal options serve [[SnapshotTable]]'s composed reads:
  * `excludeDv` drops a version's vectored files (the clean half of the
  * merge-on-read composition), and `physicalNames` resolves a
  * column-mapped file set under its frozen physical schema (the caller
  * aliases back). `physicalNames` combines with `excludeDv` and with
  * `changesFrom`/`changesTo`.
  *
  * Division of labor: THIS provider owns the transactional semantics —
  * manifest resolution (which immutable files ARE snapshot v), the
  * manifest-pinned schema (evolution without the footer lottery), and
  * the append-only lineage check for CDC ranges. The returned `Table`
  * is Spark's own parquet `FileTable` over exactly that resolved file
  * set, so the whole DSv2 scan stack — `ScanBuilder` with filter
  * pushdown (`SupportsPushDownFilters`), column pruning
  * (`SupportsPushDownRequiredColumns`), row-group skipping via parquet
  * min/max — applies to snapshot reads and REPORTS through the scan
  * node (`PushedFilters:` / `ReadSchema:` in explain), which the
  * path-list read could not surface as a connector contract.
  * (Delta/Iceberg structure their readers the same way: the format
  * resolves files + schema, the engine's columnar scan does the IO.)
  *
  * Version pinning: every [[SnapshotTable]] entry point passes an
  * explicit resolved version, and the provider resolves the manifest
  * listing EAGERLY in `getTable` — so a DataFrame created before a
  * commit keeps reading its snapshot (isolation) no matter how lazily
  * it is evaluated. Scale: resolution is O(manifest lines) driver
  * work; the scan itself is the ordinary distributed parquet read.
  */
class SnapshotSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"
  override def supportsExternalMetadata(): Boolean = true

  private case class Resolved(label: String, files: Seq[String],
                              manifestSchema: Option[StructType], dataDir: String,
                              zoneMaps: Map[String, ZoneMaps.FileStats],
                              streamRoot: Option[String],
                              cdc: Boolean = false,
                              cdcStartFrom: Option[Long] = None,
                              cdcEndAt: Option[Long] = None,
                              dvInfo: Option[(String, Long)] = None,
                              bucketing: Option[(String, Int, Map[String, Int])] = None,
                              streamSchema: Option[StructType] = None,
                              cdcPinnedIds: Map[String, Int] = Map.empty,
                              maxFilesPerTrigger: Option[Int] = None,
                              maxBytesPerTrigger: Option[Long] = None)

  private def resolve(options: CaseInsensitiveStringMap): Resolved = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot requires the table root as the load path"))
    val t = SnapshotTable(root)
    if (options.getBoolean("readChangeFeed", false)) {
      // streaming change feed: a HEAD load whose scan is the CDC
      // micro-batch stream (table columns + change stamps); batch CDC
      // goes through SnapshotTable.readChangesCdc. `startingVersion`
      // makes version v the FIRST emitted micro-batch (Delta-CDF's
      // inclusive convention); default = follow forward from the head.
      val v = t.currentVersion()
      val sch = t.schemaOf(v).map(StructType.fromDDL).getOrElse(
        throw new IllegalArgumentException(
          s"readChangeFeed at $root needs a committed table schema"))
      val startFrom = Option(options.get("startingVersion")).map(_.toLong)
      startFrom.foreach(sv => require(sv >= 0 && sv <= v + 1,
        s"startingVersion $sv out of range (head is $v)"))
      // endingVersion (inclusive): BOUNDED replay — the stream never
      // advances its offset past this version, so a historical range
      // can be consumed through the same reader and then the query
      // simply has nothing further to emit (Delta-CDF's batch range
      // semantics lifted onto the stream)
      val endAt = Option(options.get("endingVersion")).map(_.toLong)
      endAt.foreach { ev =>
        require(ev >= 0, s"endingVersion $ev must be >= 0")
        // an ending before an EXPLICIT start can never emit — refuse
        // the inverted range at load. Without startingVersion the bound
        // is validated against nothing here: a forward-following stream
        // RESTARTED from its checkpoint after the table head passed the
        // bound would otherwise be refused even though its replay is
        // perfectly defined (the offset clamp in latestOffset renders a
        // passed bound as "nothing further to emit", finishing or
        // idling the query — the checkpointed offsets, not this head
        // read, are what define the restart position)
        startFrom.foreach(sv => require(ev >= sv,
          s"endingVersion $ev precedes startingVersion $sv"))
      }
      return Resolved(s"cdc_v$v", t.resolvedFiles(v), Some(sch),
        t.dataDirPath, Map.empty, Some(root), cdc = true,
        cdcStartFrom = startFrom, cdcEndAt = endAt,
        cdcPinnedIds = t.colMapOf(v).map(m => m._3 -> m._1).toMap,
        maxFilesPerTrigger = SnapshotSource.admissionFilesOpt(options),
        maxBytesPerTrigger = SnapshotSource.admissionBytesOpt(options))
    }
    val from = Option(options.get("changesFrom")).map(_.toLong)
    val to = Option(options.get("changesTo")).map(_.toLong)
    require(from.isDefined == to.isDefined,
      "changesFrom and changesTo must be set together")
    // the two file sets served here: the files a change range ADDED
    // (resolved at its end `v`), or snapshot v's listing — minus its
    // vectored files under `excludeDv` (the clean half of the
    // merge-on-read composition readAt / DvReadRule build)
    val range = from.zip(to)
    val pinned = Option(options.get("version")).map(_.toLong)
    val v = to.orElse(pinned).getOrElse(t.currentVersion())
    val dvRels = t.dvRelOf(v).keySet
    val exclude = options.getBoolean("excludeDv", false)
    val files = range match {
      case Some((a, b)) => t.addedFilesBetween(a, b)
      case None =>
        val all = t.resolvedFiles(v)
        if (!exclude || dvRels.isEmpty) all
        else {
          val rootPath = java.nio.file.Paths.get(root)
          all.filterNot(f => dvRels.contains(
            rootPath.relativize(java.nio.file.Paths.get(f)).toString))
        }
    }
    val label = range.fold(s"v$v") { case (a, b) => s"changes_${a}_$b" }
    // a range reads under its end's BARE manifest DDL (pre-evolution
    // files null-fill, as readChangesCdc documents)
    val schema =
      if (range.isDefined) t.schemaOf(v).map(StructType.fromDDL)
      else t.readSchemaOf(v)
    // identity mappings (post-normalize) read as unmapped
    val mapping = t.readMappingOf(v)
    if (options.getBoolean("physicalNames", false)) {
      // `physicalNames` (internal, set by SnapshotTable.cleanScan):
      // resolve under the frozen PHYSICAL schema the files store — the
      // `#zm=`/`#bfl=`/`#fb=` stats are keyed by physical name, so the
      // whole DSv2 scan stack applies; the caller aliases back. A
      // range's added files carry no vector (addedFilesBetween)
      require(mapping.nonEmpty,
        s"physicalNames load of $root v$v: snapshot is not column-mapped")
      require(range.isDefined || exclude || dvRels.isEmpty,
        s"physicalNames load of $root v$v: snapshot carries deletion " +
          "vectors — load its clean files with excludeDv")
      val physSch = SnapshotTable.physicalSchemaUnder(schema.getOrElse(
        throw new IllegalStateException(
          s"column-mapped snapshot v$v at $root has no recorded schema")),
        mapping)
      val byLogical = mapping.map(m => m._3 -> m._2).toMap
      val bucketing = t.bucketingOf(v)
        .map { case (k, n) => (byLogical.getOrElse(k, k), n) }
        .filter { case (pk, _) => physSch.fields.find(_.name == pk)
          .exists(f => GraftBucketFunction.supported(f.dataType)) }
        .map { case (pk, n) =>
          (pk, n, t.fileBucketsOf(v).map { case (abs, b) =>
            new org.apache.hadoop.fs.Path(abs).toUri.getPath -> b })
        }
      return Resolved(s"${label}_phys", files, Some(physSch), t.dataDirPath,
        t.fileStatsOf(v), None, bucketing = bucketing)
    }
    // a logical-schema scan of mapped files would silently null out
    // renamed columns, and a range has no composed rewrite to fall
    // back on — fail CLOSED
    require(range.isEmpty || mapping.isEmpty,
      s"changesFrom/changesTo on column-mapped $root needs physicalNames " +
        "— use SnapshotTable.readChanges, which aliases physical names")
    // only a HEAD load is streamable (a pinned version or a range is
    // frozen history). dvInfo marks relations the injected rewrite
    // must recompose — vectored snapshots AND column-mapped ones (the
    // delegate scan resolves logical names, which mapped files don't
    // store). A mapped head's STREAM reads appended files under the
    // frozen physical schema (positionally identical to the logical).
    val version = range.isEmpty
    Resolved(label, files, schema, t.dataDirPath, t.fileStatsOf(v),
      if (version && pinned.isEmpty) Some(root) else None,
      dvInfo = if (version && ((!exclude && dvRels.nonEmpty) || mapping.nonEmpty))
        Some((root, v)) else None,
      streamSchema = schema.filter(_ => mapping.nonEmpty)
        .map(SnapshotTable.physicalSchemaUnder(_, mapping)))
  }

  /** Factory for the delegate parquet table over an arbitrary subset
    * of the resolved files — the zone-map scan builder rebuilds
    * through this after pruning. basePath keeps partition discovery
    * rooted above the per-commit batch dirs (they are opaque, not
    * key=value partitions). */
  private def tableFactory(options: CaseInsensitiveStringMap, label: String,
                           dataDir: String, userSchema: Option[StructType])
      : Seq[String] => ParquetTable = {
    val mk = schemaTableFactory(options, label, dataDir)
    files => mk(files, userSchema.orNull)
  }

  /** Like [[tableFactory]] but schema-per-call — the CDC stream plans
    * each chunk's delegate batch under that chunk's era-physical
    * schema (column mapping), so one stream mixes several. */
  private def schemaTableFactory(options: CaseInsensitiveStringMap,
                                 label: String, dataDir: String)
      : (Seq[String], StructType) => ParquetTable = {
    // original-case keys: the scan builder merges these with the
    // relation's options, and a lower-cased copy would duplicate them
    val merged = new CaseInsensitiveStringMap(
      (options.asCaseSensitiveMap.asScala ++ Map("basePath" -> dataDir)).asJava)
    (files, schema) => ParquetTable(s"graft_snapshot_$label",
      SparkSession.active, merged, files, Option(schema),
      classOf[ParquetFileFormat])
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val r = resolve(options)
    if (r.cdc) SnapshotSource.cdcSchema(r.manifestSchema.get)
    else tableFactory(options, r.label, r.dataDir, r.manifestSchema)(r.files).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val r = resolve(options)
    if (r.cdc)
      new SnapshotSource.CdcSnapshotTable(r.streamRoot.get, r.manifestSchema.get,
        schemaTableFactory(options, r.label, r.dataDir),
        r.cdcStartFrom, r.cdcEndAt, r.cdcPinnedIds,
        r.maxFilesPerTrigger, r.maxBytesPerTrigger)
    else
      new SnapshotSource.ReadOnlySnapshotTable(r.files, r.zoneMaps,
        tableFactory(options, r.label, r.dataDir,
          Option(schema).orElse(r.manifestSchema)), r.streamRoot,
        bucketing = r.bucketing, dvInfo = r.dvInfo,
        mkStream = r.streamSchema.map(physSch =>
          tableFactory(options, r.label, r.dataDir, Some(physSch))))
  }
}

object SnapshotSource {
  /** maxFilesPerTrigger / maxBytesPerTrigger — the per-trigger
    * admission caps (Delta's option names): a bulk-loaded version or
    * a restart over a long backlog splits across micro-batches at
    * (version, fileIdx) offset granularity instead of arriving as one
    * giant batch. */
  private[sources] def admissionFilesOpt(
      options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive (got $v)")
      n
    }

  private[sources] def admissionBytesOpt(
      options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map { v =>
      val n = v.toLong
      require(n > 0, s"maxBytesPerTrigger must be positive (got $v)")
      n
    }

  /** Per-file deletion-vector cap for the SQL DML verbs — DELETE,
    * UPDATE and MERGE all run merge-on-read by default (matched rows
    * beyond the cap rewrite the file copy-on-write: carrying a vector
    * close to the file's own row count costs more at read time than
    * the rewrite it avoids). Inline-manifest sizing: ~1–2 bytes per
    * position at this bound. */
  val SqlDmlDvCap: Int = 100000
  /** `cat.db.`t$history`` — the commit audit trail as a SQL metadata
    * table (the Iceberg/Delta convention): one row per retained
    * snapshot with version, commit wall-clock, `#op=` kind, and file
    * accounting. Served through the connector `LocalScan` interface —
    * the rows are O(manifest) driver-side reads, so no distributed job
    * plans for what is by construction driver-resident metadata. */
  private[sources] final class HistoryTable(root: String, tname: String)
      extends Table with SupportsRead {
    import org.apache.spark.sql.types._
    private val sch = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("ts_millis", LongType, nullable = true),
      StructField("op", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("files_added", LongType, nullable = false),
      StructField("files_removed", LongType, nullable = false),
      StructField("tag", StringType, nullable = true)))
    override def name(): String = tname
    override def schema(): StructType = sch
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = sch
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          SnapshotTable(root).historyRows.map {
            case (v, ts, op, nf, fa, fr, tag) =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](v, ts.map(Long.box).orNull, utf8(op), nf, fa, fr,
                  tag.map(utf8).orNull))
                : org.apache.spark.sql.catalyst.InternalRow
          }.toArray
      }
    private def utf8(s: String) =
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
  }

  /** `cat.db.`t$files`` — the current snapshot's per-file inventory as
    * a SQL metadata table (the Iceberg `t.files` convention): relative
    * path, manifest row count (null when stats predate the `#zm=`
    * line), on-disk bytes, bucket id for bucketed layouts, per-file
    * bloom count. Same LocalScan contract as [[HistoryTable]]: the
    * rows are O(manifest) driver-side reads, no distributed job. */
  private[sources] final class FilesTable(root: String, tname: String)
      extends Table with SupportsRead {
    import org.apache.spark.sql.types._
    private val sch = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = true),
      // null when the file vanished between listing and stat (racing
      // vacuum) — never a sentinel that an aggregate would absorb
      StructField("size_bytes", LongType, nullable = true),
      StructField("bucket", IntegerType, nullable = true),
      StructField("n_blooms", LongType, nullable = false),
      // deletion-vector positions pending materialization (0 = none)
      StructField("dv_rows", LongType, nullable = false)))
    override def name(): String = tname
    override def schema(): StructType = sch
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = sch
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          SnapshotTable(root).filesRows.map {
            case (file, rows, bytes, bucket, blooms, dvRows) =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](
                  org.apache.spark.unsafe.types.UTF8String.fromString(file),
                  rows.map(Long.box).orNull, bytes.map(Long.box).orNull,
                  bucket.map(Int.box).orNull, blooms, dvRows))
                : org.apache.spark.sql.catalyst.InternalRow
          }.toArray
      }
  }

  /** The two metadata columns every change-feed row carries. */
  private[sources] def cdcSchema(data: StructType): StructType = data
    .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
    .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)

  /** Connector table for the streaming change feed
    * (`option("readChangeFeed", "true")`): schema = table columns +
    * change stamps, capability = micro-batch read only (batch CDC is
    * [[SnapshotTable.readChangesCdc]]). The delegate parquet factory
    * carries the manifest schema pinned at load, so a mid-stream
    * schema evolution keeps emitting the stream's declared shape. */
  private[sources] final class CdcSnapshotTable(
      root: String, dataSchema: StructType,
      mk: (Seq[String], StructType) => ParquetTable,
      startFrom: Option[Long] = None,
      endAt: Option[Long] = None,
      pinnedIds: Map[String, Int] = Map.empty,
      maxFilesPerTrigger: Option[Int] = None,
      maxBytesPerTrigger: Option[Long] = None)
      extends Table with SupportsRead {
    private val shape = cdcSchema(dataSchema)
    override def name(): String = s"graft_snapshot_cdc"
    override def schema(): StructType = shape
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new org.apache.spark.sql.connector.read.Scan {
        override def readSchema(): StructType = shape
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new SnapshotCdcMicroBatchStream(root, shape,
            (fs, sch) => mk(fs, sch)
              .newScanBuilder(CaseInsensitiveStringMap.empty)
              .build().toBatch, startFrom, endAt, pinnedIds,
            maxFilesPerTrigger, maxBytesPerTrigger)
      }
  }

  /** The resolved connector table for snapshot `v` of the table at
    * `root` — shared by the path provider above and [[SnapshotCatalog]].
    * `deletable` = true only for HEAD loads through the catalog: those
    * tables additionally accept SQL `DELETE FROM`, which routes into
    * the transactional [[SnapshotTable.deleteWhere]] (time-travel
    * loads are pinned history and stay non-deletable). */
  private[sources] def readOnlyTable(root: String, v: Long, name: String,
                                     deletable: Boolean = false): Table = {
    val t = SnapshotTable(root)
    val opts = new CaseInsensitiveStringMap(
      Map("basePath" -> t.dataDirPath).asJava)
    val schema = t.readSchemaOf(v)
    val mk = (files: Seq[String]) => ParquetTable(name, SparkSession.active,
      opts, files, schema, classOf[ParquetFileFormat])
    // head loads (deletable ones) are also the streamable ones: a
    // pinned VERSION/TIMESTAMP AS OF is frozen history, nothing to tail
    val streamRoot = if (deletable) Some(root) else None
    // bucketed layout → report KeyGroupedPartitioning through the scan
    // (keys supported by the v2 bucket function only; others read as
    // unbucketed). The file→bucket map is normalized to URI-style
    // paths, the form PartitionedFile paths come back in.
    val bucketing = t.bucketingOf(v).filter { case (key, _) =>
      schema.forall(s => s.fields.find(_.name == key)
        .exists(f => GraftBucketFunction.supported(f.dataType)))
    }.map { case (key, n) =>
      (key, n, t.fileBucketsOf(v).map { case (abs, b) =>
        new org.apache.hadoop.fs.Path(abs).toUri.getPath -> b })
    }
    val mapping = t.readMappingOf(v)
    val dvInfo =
      if (t.dvRelOf(v).nonEmpty || mapping.nonEmpty) Some((root, v))
      else None
    // a mapped head's stream reads appended files under the frozen
    // PHYSICAL schema (positionally identical to the logical shape)
    val mkStream =
      if (mapping.isEmpty) None
      else schema.map { logical =>
        val physSch = SnapshotTable.physicalSchemaUnder(logical, mapping)
        (files: Seq[String]) => ParquetTable(name, SparkSession.active,
          opts, files, Some(physSch), classOf[ParquetFileFormat])
      }
    if (deletable)
      new DeletableSnapshotTable(root, t.resolvedFiles(v), t.fileStatsOf(v), mk,
        streamRoot, bucketing, dvInfo, mkStream)
    else
      new ReadOnlySnapshotTable(t.resolvedFiles(v), t.fileStatsOf(v), mk,
        streamRoot, bucketing, dvInfo, mkStream)
  }

  /** The v1-filter shapes SQL `DELETE FROM ... WHERE` arrives in,
    * rendered back to a `Column` predicate for
    * [[SnapshotTable.deleteWhere]]. None → the filter is not
    * expressible (nested column, unknown shape) and `canDeleteWhere`
    * refuses the whole delete — Spark then raises a clean analysis
    * error instead of a silent partial delete. */
  private def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.{sources => v1}
    import org.apache.spark.sql.functions.{col, lit}
    // dots in a v1 filter reference mean a NESTED field; a flat col()
    // would silently resolve the wrong thing, so refuse those
    def flat(c: String): Option[org.apache.spark.sql.Column] =
      if (c.contains(".")) None else Some(col(s"`$c`"))
    f match {
      case v1.AlwaysTrue() => Some(lit(true))
      case v1.AlwaysFalse() => Some(lit(false))
      case v1.EqualTo(c, v) => flat(c).map(_ === lit(v))
      case v1.EqualNullSafe(c, v) => flat(c).map(_ <=> lit(v))
      case v1.GreaterThan(c, v) => flat(c).map(_ > lit(v))
      case v1.GreaterThanOrEqual(c, v) => flat(c).map(_ >= lit(v))
      case v1.LessThan(c, v) => flat(c).map(_ < lit(v))
      case v1.LessThanOrEqual(c, v) => flat(c).map(_ <= lit(v))
      case v1.In(c, vs) => flat(c).map(_.isin(vs.toIndexedSeq: _*))
      case v1.IsNull(c) => flat(c).map(_.isNull)
      case v1.IsNotNull(c) => flat(c).map(_.isNotNull)
      case v1.StringStartsWith(c, v) => flat(c).map(_.startsWith(v))
      case v1.StringEndsWith(c, v) => flat(c).map(_.endsWith(v))
      case v1.StringContains(c, v) => flat(c).map(_.contains(v))
      case v1.Not(x) => filterToColumn(x).map(!_)
      case v1.And(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
      case v1.Or(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
      case _ => None
    }
  }

  /** Head-of-table catalog load: everything [[ReadOnlySnapshotTable]]
    * is, plus the SQL DML verbs that map cleanly onto the
    * transactional commit protocol:
    *
    *  - `DELETE FROM` / `TRUNCATE TABLE` through the connector
    *    [[org.apache.spark.sql.connector.catalog.SupportsDelete]] hook
    *    → [[SnapshotTable.deleteWhere]]: a versioned commit with
    *    METADATA-ONLY drops of fully-covered files;
    *  - `INSERT INTO` / `INSERT OVERWRITE` / CTAS through
    *    [[org.apache.spark.sql.connector.catalog.SupportsWrite]] with
    *    the [[org.apache.spark.sql.connector.write.V1Write]] fallback
    *    → [[SnapshotTable.commit]] (replace = true for OVERWRITE via
    *    the builder's `truncate()`): the driver-side commit is exactly
    *    the Scala API's — staged files + atomic put-if-absent manifest
    *    publish, zone maps collected, schema recorded. The V1 fallback
    *    is deliberate: the alternative (executor-side DataWriters)
    *    re-implements parquet encoding for zero gain, while V1Write
    *    hands the planned DataFrame to the same code path every other
    *    writer in the repo uses.
    *
    * Neither verb is a "bare file write" exception to the read-only
    * contract: no file ever lands without a manifest that references
    * it, and old versions keep time traveling. Time-travel loads
    * (`VERSION/TIMESTAMP AS OF`) stay read-only pinned history. */
  private final class DeletableSnapshotTable(
      root: String,
      files: Seq[String],
      zoneMaps: Map[String, ZoneMaps.FileStats],
      mk: Seq[String] => ParquetTable,
      streamRoot: Option[String],
      bucketing: Option[(String, Int, Map[String, Int])] = None,
      dvInfo: Option[(String, Long)] = None,
      mkStream: Option[Seq[String] => ParquetTable] = None)
      extends ReadOnlySnapshotTable(files, zoneMaps, mk, streamRoot, bucketing,
        dvInfo, mkStream)
      with org.apache.spark.sql.connector.catalog.SupportsDelete
      with org.apache.spark.sql.connector.catalog.SupportsWrite
      with GraftMergeable {

    override def mergeRoot: String = root

    override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
      filters.forall(filterToColumn(_).isDefined)

    override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
      import org.apache.spark.sql.functions.lit
      val cond = filters.toSeq.flatMap(filterToColumn)
        .reduceOption(_ && _).getOrElse(lit(true))
      // SQL DELETE runs merge-on-read: straddling files take `#dv=`
      // position vectors instead of rewriting (Delta's DV default) —
      // a one-row DELETE commits O(deleted rows) bytes. Fully-covered
      // files still drop metadata-only, and a file with more matches
      // than the cap still rewrites copy-on-write.
      SnapshotTable(root).deleteWhere(SparkSession.active, cond,
        dvMaxRowsPerFile = SnapshotSource.SqlDmlDvCap)
    }

    override def capabilities(): java.util.Set[TableCapability] = {
      val caps = java.util.EnumSet.copyOf(super.capabilities())
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps
    }

    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
        private var replace = false
        override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
          replace = true; this
        }
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.V1Write {
            override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
              (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
                SnapshotTable(root).commit(data, replace = replace || overwrite)
                ()
              }
          }
      }
  }

  /** The read surface shared by every snapshot load. PATH loads and
    * pinned time-travel loads are READ-ONLY: a bare file write would
    * land data no manifest references (invisible by construction), and
    * pinned versions are frozen history — so the write capability is
    * stripped and SQL writes fail at analysis. HEAD loads through the
    * catalog extend this with transactional SQL DML
    * ([[DeletableSnapshotTable]]); the Scala write path is
    * [[SnapshotTable.commit]]/[[SnapshotTable.commitOnce]].
    *
    * Scans route through [[ZoneMaps.ZoneMapScanBuilder]] when the
    * manifest carries per-file stats: pushed filters drop provably-
    * irrelevant files BEFORE the parquet scan plans (manifest-level
    * data skipping); legacy manifests without stats use the delegate
    * builder directly.
    *
    * HEAD loads (`streamRoot` = Some) additionally surface
    * MICRO_BATCH_READ: `spark.readStream` on the same table tails
    * appended commits as version-offset micro-batches
    * ([[SnapshotMicroBatchStream]]). */
  private[graft] class ReadOnlySnapshotTable(
      files: Seq[String],
      zoneMaps: Map[String, ZoneMaps.FileStats],
      mk: Seq[String] => ParquetTable,
      streamRoot: Option[String] = None,
      bucketing: Option[(String, Int, Map[String, Int])] = None,
      val dvInfo: Option[(String, Long)] = None,
      mkStream: Option[Seq[String] => ParquetTable] = None)
      extends Table with SupportsRead {
    private lazy val inner = mk(files)
    override def name(): String = inner.name
    override def schema(): StructType = inner.schema
    override def capabilities(): java.util.Set[TableCapability] =
      if (streamRoot.isDefined)
        java.util.EnumSet.of(TableCapability.BATCH_READ,
          TableCapability.MICRO_BATCH_READ)
      else java.util.EnumSet.of(TableCapability.BATCH_READ)
    // `mkStream` overrides the stream's per-range batch factory — a
    // COLUMN-MAPPED head streams through the frozen PHYSICAL schema
    // (positionally identical to the logical shape, names only), so
    // appended files resolve their stored names without an alias step
    private def streamFactory(options: CaseInsensitiveStringMap)
        : Option[() => org.apache.spark.sql.connector.read.streaming.MicroBatchStream] =
      streamRoot.map { root => () =>
        val f = mkStream.getOrElse(mk)
        new SnapshotMicroBatchStream(root, fs => f(fs)
          .newScanBuilder(CaseInsensitiveStringMap.empty).build().toBatch,
          pinned = Some(schema()),
          // per-trigger admission caps ride the readStream options
          maxFilesPerTrigger = SnapshotSource.admissionFilesOpt(options),
          maxBytesPerTrigger = SnapshotSource.admissionBytesOpt(options))
      }
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      val delegate: ScanBuilder =
        if (zoneMaps.isEmpty && streamRoot.isEmpty && bucketing.isEmpty)
          inner.newScanBuilder(options)
        else new ZoneMaps.ZoneMapScanBuilder(files, zoneMaps,
          fs => (if (fs == files) inner else mk(fs)).newScanBuilder(options),
          streamFactory(options), bucketing)
      dvInfo match {
        case None => delegate
        case Some((root, v)) =>
          // deletion vectors are applied by plan REWRITE (graft.plans.
          // DvReadRule under GraftExtensions, or SnapshotTable.readAt's
          // own composition), never inside this scan. The guard fires
          // at EXECUTION (toBatch), not at scan build: the optimizer
          // builds scans for DML-command children too — relations the
          // rule deliberately exempts because the row-level strategies
          // replace them and they never run. A DV'd scan that actually
          // reaches execution (a session without the extension) fails
          // loudly instead of silently resurrecting deleted rows.
          // STREAMS delegate (round 14): the micro-batch path is safe
          // on a vectored or mapped HEAD — it emits only files APPENDED
          // after the stream's start offset (a range crossing a DV
          // change refuses inside addedFilesBetween, and mapped heads
          // stream through the physical-schema factory), so the
          // batch-read guard must not block it.
          () => new org.apache.spark.sql.connector.read.Scan {
            private lazy val built = delegate.build()
            override def readSchema(): StructType = built.readSchema()
            override def description(): String = built.description()
            private def refuse: Nothing = throw new IllegalStateException(
              s"snapshot v$v at $root carries deletion vectors or column " +
                "mapping; read it through a GraftSession " +
                "(spark.sql.extensions=graft.plans.GraftExtensions) or " +
                "SnapshotTable.readAt — or compact the table to " +
                "materialize/normalize them")
            override def toBatch: org.apache.spark.sql.connector.read.Batch =
              refuse
            override def toMicroBatchStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
              built.toMicroBatchStream(checkpointLocation)
          }
      }
    }
  }
}

/** Marker surfaced by writable HEAD catalog loads so the injected
  * MERGE INTO planner strategy ([[graft.plans.MergeIntoSnapshotStrategy]])
  * can recognize a mergeable snapshot table and recover its root path.
  * Pinned time-travel loads deliberately do NOT carry it — MERGE into
  * frozen history stays unsupported, like every other write. */
trait GraftMergeable { def mergeRoot: String }
