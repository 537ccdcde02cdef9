package graft.sources.arrow

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Arrow IPC file DataSource V2 — the reference's namesake capability
  * (an Arrow columnar storage engine,
  * `/root/reference/CMakeLists.txt:2,103`) re-expressed as a Spark
  * source/sink:
  *
  * {{{
  *   df.write.format("arrow").option("codec", "zstd").save(dir)
  *   spark.read.format("arrow").load(dir)
  * }}}
  *
  * Read path: one InputPartition per IPC file (parallelism = file
  * count, as with parquet), column pruning materializes only requested
  * vectors, pushed filters evaluate inside the reader, and unfiltered
  * scans hand Spark zero-copy columnar batches. Write path: one writer
  * per task, record batches of bounded size, optional lz4/zstd buffer
  * compression.
  */
class ArrowDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrow"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArrowTable.inferSchema(TableSnapshot.read(Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "arrow source requires a path"))), options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ArrowTable(schema, properties.asScala.toMap, partitioning)
}

object ArrowTable {
  /** The table at `path` for the catalog: one snapshot infers the
    * schema and resolves `TIMESTAMP AS OF` (`timestampMillis`) to the
    * epoch the table travels to; `version` travels to an epoch. */
  def load(path: String, version: Option[Long] = None,
      timestampMillis: Option[Long] = None): ArrowTable = {
    val snap = TableSnapshot.read(path)
    val epoch =
      version.orElse(timestampMillis.map(snap.stampLog.epochForTimestamp))
    val props = Map("path" -> path) ++
      epoch.map(e => "epochAsOf" -> e.toString)
    new ArrowTable(inferSchema(snap,
      new CaseInsensitiveStringMap(Map("path" -> path).asJava)), props)
  }

  /** The table schema of `snap`'s files (latest epoch, whatever
    * `VERSION`/`TIMESTAMP AS OF` a later scan travels to). */
  def inferSchema(snap: TableSnapshot,
      options: CaseInsensitiveStringMap): StructType = {
    val root = snap.path
    // change-feed reads surface the table schema plus the two change
    // metadata columns; everything below infers the table schema
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      require(snap.log.isDefined,
        s"arrow readChangeFeed: $root carries no commit log — only logged " +
          "tables (DML'd, or written by the arrow streaming sink) have " +
          "a change feed")
      // CaseInsensitiveStringMap stores keys lowercased
      val base = inferSchema(snap, new CaseInsensitiveStringMap(
        (options.asScala.toMap - "readchangefeed").asJava))
      return StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField(ArrowChanges.ChangeTypeCol,
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField(ArrowChanges.CommitEpochCol,
          org.apache.spark.sql.types.LongType, nullable = false)))
    }
    val declared = snap.declaration.schema
    var files = snap.footers.files
    if (files.isEmpty) {
      // A logged table DML emptied has zero VISIBLE files but must
      // stay addressable (read count 0, INSERT/RESTORE back to life).
      // Its replaced files are still on disk until vacuum and carry
      // the authoritative footer schema — infer from those.
      if (snap.isTableLog)
        files = ArrowDataSource.listIpcFiles(root).take(1)
      if (files.isEmpty) {
        // a freshly CREATE TABLE'd table has no file AT ALL, visible
        // or replaced — its declaration IS the schema (plus any
        // recorded partition spec), exactly the reading a first
        // INSERT plans against
        declared.foreach { ds =>
          val partCols = snap.partSchema
          return StructType(ds.fields.filterNot(f =>
            partCols.fieldNames.contains(f.name)) ++ partCols.fields)
        }
      }
    }
    require(files.nonEmpty, s"no .arrow files under $root")
    // Write-time footer-stats sidecar: schema inference AND the
    // consistency sweep below resolve from one metadata read for every
    // covered file; only uncovered files (foreign writers, maintenance
    // rewrites) open footers. Stored schemas are what readFooterSchema
    // surfaced at write commit, so a hit is bit-identical to a sweep.
    // Keys are relative to the SINK ROOT, so a read addressed at a
    // partition subdirectory still hits the index
    def idxSchema(f: Path): Option[StructType] =
      snap.sidecar.flatMap { ix =>
        scala.util.Try(
          snap.root.relativize(f.toAbsolutePath.normalize).toString)
          .toOption.flatMap(ix.schemaOf)
      }
    // A DECLARED schema (metadata-only ADD COLUMN) is authoritative:
    // files predating an added column serve it as nulls via the
    // by-name reader. Every footer must still be a name+type SUBSET of
    // the declaration — real type drift stays a loud error.
    declared.foreach { ds =>
      val (tolerated, dropped) = ArrowDataSource.toleratedFooterFields(
        snap.root, ds, snap.declaration)
      val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
      files.asJava.parallelStream().forEach { f =>
        if (bad.get() == null) {
          val got = idxSchema(f)
            .getOrElse(ArrowDataSource.readFooterSchema(f))
          got.fields.find(g =>
              !ArrowDataSource.footerFieldTolerated(tolerated, dropped, g)
              && !dropped(g.name)).foreach(
            g => bad.compareAndSet(null,
              s"arrow: $f carries ${g.name}:${g.dataType.simpleString} " +
                s"which the declared schema of $root does not — " +
                "declared-schema tables evolve via " +
                "CALL graft.system.add_column, not writer drift"))
        }
      }
      Option(bad.get()).foreach(m => throw new IllegalArgumentException(m))
      val partCols = snap.partSchema
      // partition evolution: an evolved column may sit in the declared
      // data schema (pre-evolution generations carry it in bytes) —
      // it must surface ONCE, through the partition machinery, whose
      // reader falls back to file bytes where the dir value is absent
      return StructType(ds.fields.filterNot(f =>
        partCols.fieldNames.contains(f.name)) ++ partCols.fields)
    }
    // Schema evolution, read side (`option("mergeSchema", true)` —
    // parquet's contract): the table schema is the UNION of every
    // footer schema, first-appearance field order, all fields
    // nullable; files missing a column serve it as nulls (the reader
    // maps requested fields by NAME and null-fills absentees). Shared
    // names must agree on type exactly — a true type conflict is a
    // write-side bug no read option should paper over.
    if (Option(options.get("mergeSchema")).exists(_.toBoolean)) {
      val footers = new Array[StructType](files.length)
      files.indices.toVector.asJava.parallelStream()
        .forEach(i => footers(i) = idxSchema(files(i))
          .getOrElse(ArrowDataSource.readFooterSchema(files(i))))
      val out = scala.collection.mutable.LinkedHashMap
        .empty[String, org.apache.spark.sql.types.StructField]
      // same-name STRUCT columns union field-wise (nested schema
      // evolution — parquet's mergeSchema contract): first-appearance
      // leaf order, everything nullable, leaf type conflicts refuse.
      // The reader's struct-leaf patch serves absent leaves as nulls.
      def unionType(name: String,
          a: org.apache.spark.sql.types.DataType,
          b: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType =
        (a, b) match {
          case (x, y) if x == y => x
          // mixed-width generations (type widening): the union reads
          // at the WIDER type; narrower files upcast in the reader
          case (x, y) if ArrowSchemas.widens(x, y) => y
          case (x, y) if ArrowSchemas.widens(y, x) => x
          case (x: StructType, y: StructType) =>
            val extra = y.fields.filterNot(yf =>
              x.fieldNames.contains(yf.name))
            StructType(x.fields.map(xf =>
              y.fields.find(_.name == xf.name) match {
                case Some(yf) => xf.copy(dataType = unionType(
                  s"$name.${xf.name}", xf.dataType, yf.dataType),
                  nullable = true)
                case None => xf.copy(nullable = true)
              }) ++ extra.map(_.copy(nullable = true)))
          case _ => throw new IllegalArgumentException(
            s"arrow mergeSchema: column $name is " +
              s"${a.simpleString} in one file under $root but " +
              s"${b.simpleString} in another — type conflicts " +
              "do not merge")
        }
      for (s <- footers; f <- s.fields) out.get(f.name) match {
        case None => out(f.name) = f.copy(nullable = true)
        case Some(g) => out(f.name) =
          g.copy(dataType = unionType(f.name, g.dataType, f.dataType))
      }
      val partCols = snap.partSchema
      return StructType(out.values.toArray.filterNot(f =>
        partCols.fieldNames.contains(f.name)) ++ partCols.fields)
    }
    // Partition evolution: generations written BEFORE a column joined
    // the partition spec carry it in file BYTES; later generations
    // carry it in their directory path. The data portion of the table
    // schema is footer-minus-partition-columns, and the consistency
    // sweep compares footers on that same projection — each file may
    // carry any subset of the partition union in bytes (XOR its path).
    val partColNames = ArrowDataSource.discoverPartitionCols(root, files)
    def dataPart(s: StructType): StructType =
      if (partColNames.isEmpty) s
      else StructType(s.fields.filterNot(f =>
        partColNames.contains(f.name)))
    val dataSchema = dataPart(idxSchema(files.head)
      .getOrElse(ArrowDataSource.readFooterSchema(files.head)))
    // Fail fast on a mixed-schema directory (two writers, schema
    // drift): every footer must agree with the first file on names and
    // types, else the constant-ordinal readers would silently misread.
    // Dictionary-encoded files compare by VALUE type (readFooterSchema
    // surfaces it), so an optimized file agrees with its plain twin.
    // Still O(files) footer reads, but PARALLEL across driver cores —
    // a 100k-file listing checks in O(files / cores) wall-clock, not a
    // sequential planning stall; disable with option verifySchema=false
    // on directories known-consistent (a single-writer 100 TB layout).
    val verify = Option(options.get("verifySchema"))
      .forall(_.toBoolean)
    def sig(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    if (verify) {
      val expected = sig(dataSchema)
      val mismatch =
        new java.util.concurrent.atomic.AtomicReference[String](null)
      files.tail.asJava.parallelStream().forEach { f =>
        if (mismatch.get() == null) {
          val got = sig(dataPart(idxSchema(f)
            .getOrElse(ArrowDataSource.readFooterSchema(f))))
          if (got != expected) mismatch.compareAndSet(null,
            s"arrow: inconsistent schema under $root — $f has " +
              s"${got.map { case (n, t) => s"$n:${t.simpleString}" }
                .mkString("[", ", ", "]")} but ${files.head} has " +
              s"${expected.map { case (n, t) => s"$n:${t.simpleString}" }
                .mkString("[", ", ", "]")}")
        }
      }
      Option(mismatch.get()).foreach(m => throw new IllegalArgumentException(m))
    }
    // Hive-style layout: partition columns live in the directory names,
    // appended after the file columns (parquet's convention)
    val partCols = ArrowDataSource.discoverPartitionSchema(root, files)
    StructType(dataSchema.fields ++ partCols.fields)
  }
}

class ArrowTable(schema: StructType, properties: Map[String, String],
    partitions: Array[Transform] = Array.empty)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog
      .SupportsRowLevelOperations {
  override def name(): String =
    s"arrow:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = schema
  override def partitioning(): Array[Transform] = partitions
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  /** Identity-transform column names (the only partitioning the source
    * supports — Hive-style value directories). */
  private def partitionCols: Seq[String] = partitions.toSeq.map { t =>
    t match {
      case id if id.name == "identity" && id.references.length == 1 &&
        id.references.head.fieldNames.length == 1 =>
        id.references.head.fieldNames.head
      case other => throw new UnsupportedOperationException(
        s"arrow source supports only identity partitioning, got $other")
    }
  }

  /** `_file` — the absolute path of the file a row came from
    * (parquet's `_metadata.file_path` shape). Constant per split, so it
    * reads as a per-batch constant vector; row-level copy-on-write
    * group filtering identifies replacement groups through it. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ArrowDataSource.FileMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "file path this row was read from"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ArrowDataSource.PosMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "stable row ordinal within its file (batch << 32 | offset)"
    })

  /** SQL UPDATE / MERGE INTO / residual DELETE — the group-based
    * copy-on-write contract ([[ArrowRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val path = properties.getOrElse("path",
      throw new IllegalArgumentException("arrow: path required"))
    new ArrowRowLevelOperationBuilder(
      TableSnapshot.forDml(path, s"row-level ${info.command}"), schema, info)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val path = Option(options.get("path"))
      .orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("arrow: path required"))
    val maxSplitBytes = Option(options.get("maxSplitBytes")).map(_.toLong)
      .getOrElse(128L * 1024 * 1024)
    // ONE snapshot plans the whole scan: files, deletion vectors,
    // footer stats, ledgers, partition discovery, timestamp travel and
    // change-feed bounds
    val snap = TableSnapshot.read(path)
    lazy val stampLog = snap.stampLog
    val epochAsOf = {
      val byEpoch = Option(options.get("epochAsOf"))
        .orElse(properties.get("epochAsOf")).map(_.toLong)
      // `TIMESTAMP AS OF`: resolve the commit wall-clock to an epoch at
      // planning time, then travel exactly like `VERSION AS OF`
      val byTime = Option(options.get("timestampAsOf"))
        .orElse(properties.get("timestampAsOf"))
        .map(ArrowDataSource.parseTravelTimestamp)
        .map(stampLog.epochForTimestamp)
      require(byEpoch.isEmpty || byTime.isEmpty,
        "arrow: specify either epochAsOf or timestampAsOf, not both")
      byEpoch.orElse(byTime)
    }
    // `files`: read EXACTLY these root-relative files, bypassing
    // visibility — the change-feed reader's door to files a later
    // epoch removed (still on disk until vacuum). Not for general use:
    // ArrowChanges names churned files from the commit log.
    val explicitFiles = Option(options.get("files")).map { csv =>
      val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
      csv.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { rel =>
        val f = root.resolve(rel).normalize
        require(f.startsWith(root),
          s"arrow files option: $rel escapes the table root")
        require(java.nio.file.Files.exists(f),
          s"arrow files option: $f does not exist (vacuumed away?)")
        f
      }.toSeq
    }
    new ArrowScanBuilder(snap, schema, maxSplitBytes, epochAsOf,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("ignoreChanges")).exists(_.toBoolean),
      explicitFiles,
      Option(options.get("readChangeFeed")).exists(_.toBoolean),
      resolveFeedBound(stampLog, options, "startingEpoch",
        "startingTimestamp", ceiling = true),
      resolveFeedBound(stampLog, options, "endingEpoch",
        "endingTimestamp", ceiling = false),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
  }

  /** Change-feed window bound: epoch option wins; the timestamp twin
    * (Delta CDF's startingTimestamp/endingTimestamp) resolves through
    * commit stamps — a STARTING bound takes the first epoch committed
    * AT OR AFTER the instant (ceiling), an ENDING bound the last epoch
    * AT OR BEFORE it (floor, `TIMESTAMP AS OF` semantics). */
  private def resolveFeedBound(log: => TableLog,
      options: CaseInsensitiveStringMap, epochKey: String,
      tsKey: String, ceiling: Boolean): Option[Long] = {
    val byEpoch = Option(options.get(epochKey)).map(_.toLong)
    val byTs = Option(options.get(tsKey))
      .map(ArrowDataSource.parseTravelTimestamp)
    require(byEpoch.isEmpty || byTs.isEmpty,
      s"arrow readChangeFeed: specify either $epochKey or $tsKey, " +
        "not both")
    byEpoch.orElse(byTs.map { ms =>
      if (!ceiling) log.epochForTimestamp(ms)
      else {
        val stamps = log.stamps.toSeq.sortBy(_._1)
        require(stamps.nonEmpty,
          s"arrow readChangeFeed: ${log.root} carries no commit log to " +
            "resolve a timestamp against")
        stamps.find(_._2 >= ms).map(_._1).getOrElse(
          // after the last commit: an empty window starting past the
          // log's head (Delta returns no changes, not an error)
          stamps.last._1 + 1)
      }
    })
  }

  /** DELETE, two-tier. A predicate over partition columns only selects
    * whole value directories EXACTLY (every row of a file shares its
    * directory's values), so `DELETE WHERE part = x` is a planning-time
    * file removal — no rewrite, no scan; the metadata-only shape a
    * 100 TB retention sweep needs. Predicates touching DATA columns go
    * copy-on-write ([[ArrowDelete]]): footer stats triage the file
    * list and only overlapping files rewrite, one task per file.
    * Predicates FilterEval cannot claim (NOT, unsupported types) are
    * refused (`canDeleteWhere` false) rather than evaluated wrong. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val path = properties.getOrElse("path", return false)
    deletable(TableSnapshot.read(path).partSchema, filters)
  }

  private def deletable(ps: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => f.references.nonEmpty &&
      ((f.references.forall(ps.fieldNames.contains(_)) &&
        FilterEval.supported(ps, f)) ||
        FilterEval.supported(schema, f)))

  /** `TRUNCATE TABLE graft.arrow.`/path`` — Spark's TruncateTableExec
    * IGNORES this method's boolean, so the inherited default (which
    * refuses AlwaysTrue through canDeleteWhere and returns false)
    * would be a SILENT NO-OP: the statement succeeds and every row
    * survives. Override with the real thing: one atomic table-log
    * epoch removing every visible file — zero data bytes touched, the
    * pre-truncate state addressable via VERSION AS OF until vacuum,
    * the change feed sees the removals. Streaming-sink dirs and
    * partition subdirectories refuse like every other DML. */
  override def truncateTable(): Boolean = {
    val path = properties.getOrElse("path",
      throw new IllegalArgumentException("arrow: path required"))
    val snap = TableSnapshot.forDml(path, "TRUNCATE")
    val victims = snap.files(None)
    if (victims.nonEmpty)
      ArrowDataSource.commitTableEpoch(path, snap.latest, Seq.empty,
        victims.map(_.toString))
    true
  }

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val path = properties.getOrElse("path",
      throw new IllegalArgumentException("arrow: path required"))
    // Every DELETE path is logged: the first one upgrades a flat
    // directory to a table (epoch 0 = current files), making the
    // delete atomic for readers and the pre-delete state addressable
    // via VERSION AS OF until vacuum.
    val snap = TableSnapshot.forDml(path, "DELETE")
    val ps = snap.partSchema
    require(deletable(ps, filters),
      s"arrow DELETE needs FilterEval-supported predicates, got " +
        filters.mkString("[", ",", "]"))
    val visible = snap.files(None)
    // metadata-only unlink is sound ONLY when every visible file
    // exposes every referenced column in its PATH — under partition
    // evolution, pre-evolution generations carry the column in bytes,
    // so their matching rows must go through the copy-on-write path
    // (which evaluates the real byte values)
    val refs = filters.flatMap(_.references).toSet
    val dirComplete = !snap.evolved ||
      visible.forall(f =>
        refs.subsetOf(
          ArrowDataSource.partitionValueMap(path, f).keySet))
    val partitionOnly = filters.forall(f =>
      f.references.forall(ps.fieldNames.contains(_)) &&
        FilterEval.supported(ps, f))
    if (!partitionOnly || !dirComplete) {
      ArrowDelete.deleteWhere(
        org.apache.spark.sql.SparkSession.active, snap, filters.toSeq)
      return
    }
    // partition-only predicate: a pure METADATA delete — one epoch
    // removing the pruned files, zero data bytes touched
    val victims = ArrowDataSource.pruneByPartitionFilters(
      visible, path, ps, filters.toSeq)
    if (victims.nonEmpty)
      ArrowDataSource.commitTableEpoch(path, snap.latest, Seq.empty,
        victims.map(_.toString))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = Option(info.options.get("path"))
      .orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException("arrow: path required"))
    val bucket = Option(info.options.get("bucketBy")).map { c =>
      val n = Option(info.options.get("numBuckets")).map(_.toInt)
        .getOrElse(throw new IllegalArgumentException(
          "arrow: bucketBy requires numBuckets"))
      (c, n)
    }
    if (bucket.nonEmpty && partitionCols.nonEmpty)
      throw new UnsupportedOperationException(
        "arrow: bucketBy cannot combine with partitionBy")
    val transform = Option(info.options.get("partitionTransform"))
      .map(PartitionTransform.parse)
    if (transform.nonEmpty && (bucket.nonEmpty || partitionCols.nonEmpty))
      throw new UnsupportedOperationException(
        "arrow: partitionTransform cannot combine with partitionBy " +
          "or bucketBy")
    transform.foreach { t =>
      require(info.schema().fieldNames.contains(t.srcCol),
        s"arrow partitionTransform: column ${t.srcCol} not in the " +
          s"write schema ${info.schema().fieldNames.mkString(",")}")
      require(!info.schema().fieldNames.contains(t.dirCol),
        s"arrow partitionTransform: derived column ${t.dirCol} " +
          "collides with a data column")
      // refuse at PLAN time, not per row inside a launched job
      val dt = info.schema()(t.srcCol).dataType
      require(dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType,
        s"arrow partitionTransform: ${t.kind}(${t.srcCol}) needs a " +
          s"DATE or TIMESTAMP column, got ${dt.simpleString}")
    }
    // Partition evolution: a writer that names NO layout of its own
    // routes by the table's recorded partition spec
    // (CALL graft.system.set_partitioning) — plain appends land in the
    // current col=value layout without every ingest job re-declaring
    // it. Explicit partitionBy/bucketBy/partitionTransform wins.
    val effectivePartCols =
      if (partitionCols.nonEmpty || bucket.nonEmpty || transform.nonEmpty)
        partitionCols
      else {
        // a recorded partition column the frame does not carry still
        // routes when it is a GENERATED column — the write factory
        // materializes it before the partitioned writer sees the row
        val gens = TableConstraints.generatedColumns(path).keySet
        ArrowDataSource.sinkRoot(path)
          .map(ArrowDataSource.recordedPartitionSpec).getOrElse(Seq.empty)
          .map(_._1)
          .filter(c => info.schema().fieldNames.contains(c) || gens(c))
      }
    new ArrowWriteBuilder(path, info.schema(),
      Option(info.options.get("codec")),
      Option(info.options.get("batchRows")).map(_.toInt).getOrElse(8192),
      effectivePartCols,
      Option(info.options.get("maxOpenWriters")).map(_.toInt).getOrElse(64),
      Option(info.options.get("manifestCompactInterval")).map(_.toInt)
        .getOrElse(ArrowDataSource.DefaultCompactInterval),
      bucket,
      Option(info.options.get("bloomFilterColumns")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      Option(info.options.get("sortBy")).map(_.trim).filter(_.nonEmpty),
      Option(info.options.get("optimizeWrite")).exists(_.toBoolean),
      Option(info.options.get("stageOnly")).exists(_.toBoolean),
      transform,
      Option(info.options.get("stageToken")),
      Option(info.options.get("mergeSchema")).exists(_.toBoolean))
  }
}

object ArrowDataSource {
  /** Process-wide allocator (Arrow vectors allocate off-heap; one root
    * per executor JVM, children per reader/writer). */
  lazy val allocator: RootAllocator = new RootAllocator(Long.MaxValue)

  /** `Files.list` with the stream CLOSED — the raw stream holds a
    * directory handle until GC, and [[visibleIpcFiles]] runs every
    * streaming trigger, so an unclosed stream per listing would leak
    * file descriptors for the lifetime of a long-lived driver. */
  private[arrow] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toVector finally s.close()
  }

  /** EVERY `.arrow` file on disk, committed or not — the writers'
    * truncate/compaction sweeps use this. Readers go through
    * [[visibleIpcFiles]], which additionally honors the streaming
    * sink's commit manifest. */
  def listIpcFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (Files.isRegularFile(p)) Seq(p)
    else if (!Files.exists(p)) Seq.empty
    else {
      // recursive: partitioned layouts nest files under col=value dirs;
      // the log and a log being staged beside it hold no data file
      val out = scala.collection.mutable.ArrayBuffer.empty[Path]
      def walk(d: Path): Unit = {
        listDir(d).foreach { c =>
          val name = c.getFileName.toString
          if (name.startsWith(MetadataDirName)) ()
          else if (Files.isDirectory(c)) walk(c)
          else if (name.endsWith(".arrow")) out += c
        }
      }
      walk(p)
      out.toSeq.sortBy(_.toString)
    }
  }

  /** The commit-log directory (Spark file sink's `_spark_metadata`
    * pattern): one manifest per committed epoch, listing that epoch's
    * files root-relative; periodically a `<epoch>.compact` snapshot
    * replaces the manifests it covers, so reading the log costs
    * O(snapshot + tail) instead of O(log lifetime). The line grammar
    * and the reader are in [[TableLog]]. */
  val MetadataDirName = "_graft_metadata"

  /** Every `DefaultCompactInterval` epochs the commit path folds all
    * per-epoch manifests into one snapshot — Spark file-sink's
    * `compactInterval` pattern. Writer option `manifestCompactInterval`
    * overrides. */
  val DefaultCompactInterval = 10

  private def manifestDir(dir: String): Path =
    Paths.get(dir, MetadataDirName)

  /** The commit-log root governing `dir`: `dir` itself when it carries
    * `_graft_metadata`, else the nearest ancestor reached by climbing
    * out of Hive-style `col=value` segments. Reading a partition
    * SUBDIRECTORY of a streaming sink (`load(dir + "/c=1")`) must still
    * honor the sink's commit log — without the climb, task-retry
    * orphans under that partition would resurface as duplicate rows. */
  def sinkRoot(dir: String): Option[Path] = {
    var p = Paths.get(dir).toAbsolutePath.normalize
    while (p != null) {
      if (Files.isDirectory(p.resolve(MetadataDirName))) return Some(p)
      val name = Option(p.getFileName).map(_.toString).getOrElse("")
      if (!name.contains('=')) return None
      p = p.getParent
    }
    None
  }

  /** Marker distinguishing a TABLE log (DML / logged batch commits,
    * epochs numbered by the log itself) from a STREAMING-SINK log
    * (epochs numbered by the query's checkpoint). The two must not
    * mix writers: a stream restarted from epoch 0 into a table log
    * would no-op against the idempotency check and silently drop
    * data. */
  val TableMarkerName = "_table"

  /** Lowest epoch `VERSION AS OF` may still resolve exactly; advanced
    * by vacuum's history prune when it reclaims removed files. */
  val HorizonMarkerName = "_horizon"

  /** Table property marker: DELETE uses merge-on-read deletion vectors
    * instead of copy-on-write rewrites (Delta's
    * `enableDeletionVectors`). Lives beside the table marker so it
    * travels with the log. */
  val DvMarkerName = "_dv_enabled"

  /** Directory holding deletion-vector sidecars, under the table root. */
  val DvDirName = "_graft_dv"

  def dvEnabled(dir: String): Boolean =
    sinkRoot(dir).exists(r => Files.exists(
      r.resolve(MetadataDirName).resolve(DvMarkerName)))

  /** Toggle merge-on-read DELETE for a LOGGED table. Turning it off
    * stops NEW deletes from writing vectors; existing vectors keep
    * applying until a rewrite (OPTIMIZE / CoW DML) purges them. */
  def setDeletionVectors(dir: String, on: Boolean): Unit = {
    require(isTableLog(dir),
      s"deletionVectors: $dir is not a logged table — run DML once " +
        "or ArrowDataSource.initTableLog first")
    val md = Paths.get(dir).toAbsolutePath.normalize
      .resolve(MetadataDirName)
    if (on) {
      try { Files.createFile(md.resolve(DvMarkerName)); () }
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    } else { Files.deleteIfExists(md.resolve(DvMarkerName)); () }
  }

  def isTableLog(dir: String): Boolean =
    sinkRoot(dir).exists(r => Files.exists(
      r.resolve(MetadataDirName).resolve(TableMarkerName)))

  /** Row-level DML must address the TABLE ROOT: addressed at a
    * partition subdirectory it would compute its base epoch against —
    * and commit its removes into — a nested log the root's readers
    * never consult, so the "deleted" rows would stay visible (batch
    * APPENDS at a subdirectory are supported — they resolve through
    * [[sinkRoot]] — but a partial-table REWRITE's scan/replace set is
    * only coherent at the root). Partition-scoped DML is first-class
    * via predicates: `WHERE part = 'v'` even deletes metadata-only. */
  def requireTableRootForDml(dir: String, op: String): Unit =
    sinkRoot(dir).foreach { r =>
      require(r == Paths.get(dir).toAbsolutePath.normalize,
        s"arrow: $op addressed at $dir, a partition subdirectory of " +
          s"the logged table at $r — address the table root and scope " +
          "with a partition predicate (WHERE col = value) instead")
    }

  /** Writer-transaction stamps pending per table root (`#txn` in the
    * [[TableLog]] grammar): a foreachBatch writer replayed after a
    * crash re-delivers its last micro-batch, which ADDITIVE appliers
    * (incremental view deltas) would double-apply. [[commitTableEpoch]]
    * writes the stamp inside the epoch manifest; the writer skips
    * versions at or below [[TableLog.lastTxnVersion]]. */
  private val pendingTxns =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Run `body` with commits to `dir` stamped `(appId, version)`.
    * Registry-based (not a commitTableEpoch parameter) because the
    * commit fires deep inside Spark's row-level-operation write path —
    * the caller holds the MERGE statement, not the commit call. */
  def withPendingTxn[T](dir: String, appId: String, version: Long)
      (body: => T): T = {
    val key = Paths.get(dir).toAbsolutePath.normalize.toString
    // putIfAbsent, NOT put-then-check: a losing second registration
    // must fail WITHOUT replacing the winner's stamp — otherwise the
    // winner's epoch commits carrying the loser's (appId, version) and
    // the replay gate later skips a batch that was never applied
    val prev = pendingTxns.putIfAbsent(key, (appId, version))
    require(prev == null,
      s"arrow: nested writer transactions on $dir " +
        s"(${prev} already pending)")
    try body finally { pendingTxns.remove(key); () }
  }

  /** COPY INTO's loaded-file ledger pending per table root (`#copy` in
    * the [[TableLog]] grammar): [[commitTableEpoch]] ledgers the keys
    * inside the ingest epoch's manifest, and a re-run skips the keys
    * in [[TableLog.copies]] — a retried ingest never double-loads. */
  private val pendingCopies =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]()

  /** Run `body` with commits to `dir` ledgering `keys` as loaded
    * source files (key = base64 of the absolute source path). */
  def withPendingCopies[T](dir: String, keys: Seq[(String, Long)])
      (body: => T): T = {
    val key = Paths.get(dir).toAbsolutePath.normalize.toString
    val prev = pendingCopies.putIfAbsent(key, keys)
    require(prev == null,
      s"arrow: nested COPY INTO ledger registrations on $dir")
    try body finally { pendingCopies.remove(key); () }
  }

  /** `timestampAsOf` option value → epoch millis: a bare long, an
    * ISO-8601 instant (`2026-08-13T20:00:00Z`), or a session-style
    * UTC datetime (`2026-08-13 20:00:00`, date-only allowed). UTC is
    * the fixed frame — the engine pins the session zone to UTC, so a
    * zoneless literal means the same instant everywhere. */
  def parseTravelTimestamp(s: String): Long = {
    val t = s.trim
    scala.util.Try(t.toLong).getOrElse {
      scala.util.Try(java.time.Instant.parse(t).toEpochMilli).getOrElse {
        val ldt = scala.util.Try(
          java.time.LocalDateTime.parse(t.replace(' ', 'T')))
          .getOrElse(java.time.LocalDate.parse(t).atStartOfDay())
        ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
    }
  }

  /** The live deletion vector per file as of `asOf` (None = now) —
    * see [[TableLog.dvs]]. */
  def liveDvs(root: Path, asOf: Option[Long])
      : Map[String, (String, Long)] = TableLog.read(root).dvs(asOf)

  /** Highest committed epoch under `root`'s commit log, -1 when none —
    * one listing, no file read and no cache: the commit CAS and the
    * streaming offsets need the head fresh. */
  def latestCommittedEpoch(root: Path): Long = {
    val md = root.resolve(MetadataDirName)
    if (!Files.isDirectory(md)) return -1L
    val epochs = listDir(md).map(_.getFileName.toString)
      .filter(n => n.endsWith(".manifest") || n.endsWith(".compact"))
      .map(TableLog.epochOf)
    if (epochs.isEmpty) -1L else epochs.max
  }

  /** The files a READER may see. When the directory (or, for a
    * partition subdirectory, its sink root — see [[sinkRoot]]) carries
    * a commit manifest, only manifest-listed files are visible: a task
    * retried after writing its file, or an epoch replayed after a
    * driver failure, leaves orphans on disk that never entered a
    * manifest — invisible here, which is what turns the sink's
    * at-least-once file writes into exactly-once reads. Flat
    * directories (no manifest) see every committed `.arrow` file. */
  def visibleIpcFiles(dir: String): Seq[Path] = visibleIpcFiles(dir, None)

  /** Time-travel listing: with `asOf = Some(e)` only files committed at
    * sink epochs `<= e` are visible — the commit log IS a version
    * history (epoch-attributed entries survive snapshot compaction), so
    * any past epoch of an append-only sink can be re-read exactly:
    * reproduce the training mixture as of last Tuesday's epoch. Flat
    * directories have no commit log and refuse the option. */
  def visibleIpcFiles(dir: String, asOf: Option[Long]): Seq[Path] =
    visibleIpcFiles(dir, TableLog.forDir(dir), asOf)

  /** [[visibleIpcFiles]] against an already-read log (None = flat). */
  def visibleIpcFiles(dir: String, log: Option[TableLog],
      asOf: Option[Long]): Seq[Path] = log match {
    case Some(l) => l.files(dir, asOf)
    case None =>
      require(asOf.isEmpty,
        s"epochAsOf: $dir carries no ${MetadataDirName} commit log " +
          "to time-travel over")
      listIpcFiles(dir)
  }

  /** Atomically record one epoch's committed files: the manifest,
    * stamp included, is claimed whole ([[AtomicFiles.claim]]).
    * Idempotent by epoch: a replayed epoch (driver recovered from a
    * checkpoint taken before the commit landed) finds the manifest
    * already present — or already folded into a compact snapshot, or
    * claimed by a racing replay — and leaves it untouched; the first
    * commit's file set stays the committed truth and the replay's
    * fresh files remain invisible. Every `compactInterval`
    * epochs the log is folded into a `<epoch>.compact` snapshot and the
    * covered manifests deleted (crash between the two steps is safe:
    * readers ignore manifests at or below the latest snapshot's epoch,
    * and the next compaction re-deletes them). */
  def commitEpochManifest(dir: String, epochId: Long,
      files: Seq[String],
      compactInterval: Int = DefaultCompactInterval): Unit = {
    val md = manifestDir(dir)
    Files.createDirectories(md)
    val root = Paths.get(dir).toAbsolutePath.normalize
    if (latestCommittedEpoch(root) >= epochId) return
    val rels = files.map(f =>
      root.relativize(Paths.get(f).toAbsolutePath.normalize).toString)
    val claimed = AtomicFiles.claim(md.resolve(s"$epochId.manifest"),
      TableLog.manifestLines(TableLog.nextStamp(md, epochId), Seq.empty,
        rels))
    if (claimed && compactInterval > 0 && (epochId + 1) % compactInterval == 0)
      compactLog(root, epochId)
  }

  /** Fold all metadata at or below `epochId` into one
    * `<epochId>.compact` snapshot and delete what it covers. The
    * snapshot preserves the EVENT history (adds and removes with their
    * epochs), not just the live set — time travel to any epoch keeps
    * working after compaction; only VACUUM (which physically reclaims
    * removed files) trims the travel horizon. Crash between snapshot
    * and deletes is safe: readers ignore metadata at or below the
    * latest snapshot's epoch, and the next compaction re-deletes.
    * Every header fact (commit stamps, neutral marks, `#txn`, `#copy`,
    * `#op`) at or below `epochId` is carried into the snapshot, so
    * the log reads the same after the covered files are gone. */
  def compactLog(root: Path, epochId: Long,
      onlyExisting: Boolean = false): Unit = {
    val md = root.resolve(MetadataDirName)
    val log = TableLog.read(root)
    // onlyExisting (vacuum's history prune): drop events about files
    // no longer on disk — a removed-then-reclaimed file loses both its
    // add and its remove, so the live fold is unchanged while the
    // time-travel horizon advances to the first epoch whose snapshot
    // is still byte-complete (recorded in `_horizon`; older versions
    // refuse instead of silently resolving short)
    val all = log.history.filter(_.epoch <= epochId)
    val entries =
      if (!onlyExisting) all
      else {
        val (kept, dropped) =
          all.partition(en => Files.exists(root.resolve(en.rel)))
        if (dropped.nonEmpty) {
          // a dropped (add e1, remove e2) pair falsifies versions in
          // [e1, e2): the first fully-intact version is max(e2)
          TableLog.writeHorizon(md, math.max(log.horizon,
            dropped.filter(_.remove).map(_.epoch).foldLeft(0L)(math.max)))
        }
        kept
      }
    // replaced, not claimed: vacuum's history prune re-folds the head
    // epoch's snapshot, and two folds of one epoch both hold its facts
    AtomicFiles.replace(md.resolve(s"$epochId.compact"),
      log.snapshotLines(epochId, entries))
    // covered metadata is now redundant: older snapshots and every
    // manifest (and legacy marker) at or below this snapshot's epoch
    val names = listDir(md).map(_.getFileName.toString)
    names.foreach { n =>
      val f = md.resolve(n)
      val covered =
        (n.endsWith(".manifest") && TableLog.epochOf(n) <= epochId) ||
          (n.endsWith(".ts") && TableLog.epochOf(n) <= epochId) ||
          (n.endsWith(".neutral") && TableLog.epochOf(n) <= epochId) ||
          (n.endsWith(".compact") && TableLog.epochOf(n) < epochId)
      if (covered) Files.deleteIfExists(f)
    }
    // fold per-epoch footer-stats fragments the same way: the covered
    // epochs' stats join the root sidecar, the tail stays per-epoch
    FooterIndexFile.foldFragments(root, names, epochId)
  }

  /** Atomic, conflict-checked TABLE epoch commit: `removes` leave the
    * visible set and `adds` enter it in one manifest claim.
    *
    * Protocol: re-read the latest epoch; if it moved past
    * `expectedBase`, another writer committed since this operation
    * planned — throw (optimistic concurrency, Delta's commit-conflict
    * check). Otherwise CLAIM epoch base+1: the whole manifest — its
    * `#ts` stamp and `#neutral` mark included — is hard-linked into
    * place from a temp ([[AtomicFiles.claim]]); of two racers at one
    * base exactly one link wins, the loser throws. The epoch appears
    * with its full content in one step, so no reader counts an epoch
    * whose facts are not yet written, and a crash before the link
    * leaves no epoch behind (at most a temp that vacuum sweeps). Old
    * files are NOT unlinked — they back `VERSION AS OF` time travel
    * until vacuum reclaims them. */
  def commitTableEpoch(dir: String, expectedBase: Long,
      adds: Seq[String], removes: Seq[String],
      compactInterval: Int = DefaultCompactInterval,
      neutral: Boolean = false,
      dvs: Seq[(String, String, Long)] = Seq.empty,
      opKind: Option[String] = None): Long = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    val md = root.resolve(MetadataDirName)
    Files.createDirectories(md)
    val latest = latestCommittedEpoch(root)
    if (latest != expectedBase)
      throw new java.util.ConcurrentModificationException(
        s"arrow: $dir advanced from epoch $expectedBase to $latest " +
          "since this operation planned its snapshot; retry against " +
          "the current table state")
    val epoch = latest + 1
    def rel(f: String): String =
      root.relativize(Paths.get(f).toAbsolutePath.normalize).toString
    // the stamp, the neutral mark, writer-transaction and COPY INTO
    // stamps travel INSIDE the manifest: atomic with the visibility
    // flip (see withPendingTxn). Line order IS fold order within the
    // epoch: removes, adds, then dv events (so a replace-and-remask in
    // one epoch lands masked)
    val stamp = TableLog.nextStamp(md, epoch)
    val lines = TableLog.manifestLines(stamp, removes.map(rel),
      adds.map(rel),
      dvs.map { case (f, dvf, count) => (rel(f), rel(dvf), count) },
      txn = Option(pendingTxns.get(root.toString)),
      copies = Option(pendingCopies.get(root.toString)).toSeq.flatten,
      op = opKind, neutral = neutral)
    if (!AtomicFiles.claim(md.resolve(s"$epoch.manifest"), lines) ||
        claimedUnderFold(root, epoch, stamp, adds.map(rel)))
      throw new java.util.ConcurrentModificationException(
        s"arrow: a concurrent writer committed epoch $epoch of $dir " +
          "first; retry against the current table state")
    if (compactInterval > 0 && (epoch + 1) % compactInterval == 0)
      compactLog(root, epoch)
    epoch
  }

  /** Whether a claim of `epoch` landed on a name a fold had deleted:
    * another writer committed `epoch` and a compaction at or past it
    * removed the manifest between this writer's base check and its
    * link. Readers ignore manifests at or below the latest snapshot,
    * so such a claim is invisible (the next fold deletes it). Only
    * when a snapshot at or past `epoch` exists is the log read, to
    * tell that case from a fold that came after this claim and holds
    * its stamp and adds. */
  private def claimedUnderFold(root: Path, epoch: Long, stamp: Long,
      adds: Seq[String]): Boolean =
    listDir(root.resolve(MetadataDirName)).exists { p =>
      val n = p.getFileName.toString
      n.endsWith(".compact") && TableLog.epochOf(n) >= epoch
    } && {
      val log = TableLog.read(root)
      val added = log.history.filter(en => en.epoch == epoch && !en.remove)
        .map(_.rel).toSet
      !log.stamps.get(epoch).contains(stamp) || !adds.forall(added)
    }

  /** Staged-write handoff: a `stageOnly` job tags itself with a
    * unique `stageToken` and its driver-side commit records EXACTLY
    * the files its tasks committed, keyed by the token. The
    * maintenance procedure that launched the job collects them here —
    * never by dir-diffing, which could claim a CONCURRENT appender's
    * renamed-but-uncommitted files into the maintenance epoch. */
  val stagedFiles =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Blind-append commit with conflict REBASE (Delta's concurrency
    * rule): a pure append — no removes, no dv events — conflicts with
    * nothing (it touches no file any concurrent commit could have
    * read or replaced), so losing the epoch race just means re-basing
    * on the new head and committing again. DML/overwrite commits must
    * NOT rebase: their read snapshot may be stale (lost update), so
    * they keep failing fast for the caller to re-plan. Bounded
    * retries guard against livelock under pathological contention. */
  def commitAppendWithRebase(dir: String, expectedBase: Long,
      adds: Seq[String],
      compactInterval: Int = DefaultCompactInterval,
      maxRetries: Int = 20): Long = {
    var base = expectedBase
    var attempt = 0
    while (true) {
      try {
        return commitTableEpoch(dir, base, adds, Seq.empty,
          compactInterval)
      } catch {
        case _: java.util.ConcurrentModificationException
            if attempt < maxRetries =>
          attempt += 1
          base = latestCommittedEpoch(
            Paths.get(dir).toAbsolutePath.normalize)
      }
    }
    -1L // unreachable
  }

  /** Write `w`'s rows into the logged table `dir` STAGED (on disk, in
    * no manifest) and publish them as ONE epoch on top of `base` that
    * also removes `removes`: [[commitTableEpoch]]'s conflict check,
    * no rebase. When another writer committed past `base` the staged
    * files are deleted and the ConcurrentModificationException
    * propagates. Adds come from the staged job's OWN commit messages
    * (token handoff), never a dir-diff — a concurrent appender's
    * renamed-but-uncommitted files must not be claimed into this
    * epoch. Staged files bypass the batch-write commit hook, so their
    * footer stats are recorded here as the epoch's sidecar fragment:
    * one footer read per written file, driver-side, page-cache hot.
    * Returns the files the epoch added. */
  def commitStaged(dir: String, base: Long,
      w: org.apache.spark.sql.DataFrameWriter[_],
      removes: Seq[String] = Seq.empty,
      neutral: Boolean = false): Seq[String] = {
    val token = java.util.UUID.randomUUID().toString
    w.option("stageOnly", "true").option("stageToken", token).save(dir)
    val adds = Option(stagedFiles.remove(token))
      .getOrElse(throw new IllegalStateException(
        s"staged write of $dir returned no file manifest"))
    val epoch =
      try commitTableEpoch(dir, base, adds, removes, neutral = neutral)
      catch {
        case e: java.util.ConcurrentModificationException =>
          adds.foreach(a => Files.deleteIfExists(Paths.get(a)))
          throw e
      }
    if (adds.nonEmpty)
      FooterIndexFile.appendEpochFragment(dir, epoch,
        readFooterSchema(Paths.get(adds.head)),
        adds.map(a => a -> FooterIndexFile.encodeInfo(
          footerInfo(Paths.get(a)))))
    adds
  }

  /** Upgrade a flat directory to a logged TABLE in one atomic step
    * ([[publishStagedLog]]) whose epoch 0 snapshots every current file.
    * No-op when a log already exists. */
  def initTableLog(dir: String): Unit = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    if (sinkRoot(dir).isDefined) return
    Files.createDirectories(root)
    val files = listIpcFiles(dir)
      .map(p => root.relativize(p.toAbsolutePath.normalize).toString)
    // a concurrent init that won the rename holds the truth: defer
    publishStagedLog(root, TableLog.manifestLines(
      System.currentTimeMillis(), Seq.empty, files))(_ => ())
    ()
  }

  /** Build a table log in a staged directory (marker, whatever `fill`
    * writes, the stamped epoch-0 manifest) and rename it into
    * place in one step, so readers see no log or a complete one. The
    * stage is named once per call ([[AtomicFiles.tempFor]]), so
    * concurrent callers never share it. False when a concurrent log
    * won the rename; the staged copy is removed either way. */
  private def publishStagedLog(root: Path, epoch0: Seq[String])(
      fill: Path => Unit): Boolean = {
    val md = root.resolve(MetadataDirName)
    val tmp = AtomicFiles.tempFor(md)
    Files.createDirectories(tmp)
    try {
      Files.createFile(tmp.resolve(TableMarkerName))
      fill(tmp)
      Files.write(tmp.resolve("0.manifest"), epoch0.asJava)
      try {
        Files.move(tmp, md, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        // EEXIST, ENOTEMPTY (a generic FileSystemException) or EACCES:
        // the log is there, so a racer's rename won
        case _: java.io.IOException if Files.isDirectory(md) => false
      }
    } finally if (Files.isDirectory(tmp)) {
      listDir(tmp).foreach(Files.deleteIfExists)
      Files.deleteIfExists(tmp)
    }
  }

  /** `_schema` metadata: the DECLARED data schema of an evolved table
    * (`CALL graft.system.add_column`). When present it is authoritative
    * for schema inference: files written before an added column simply
    * lack it and the by-name reader serves it as nulls — Delta's
    * metadata-only ADD COLUMN, no file rewritten. Stored as a single
    * DDL line; anchored at the sink root like the constraints file.
    *
    * CONCURRENCY: declarations are GENERATION-ADDRESSED —
    * `_schema.g<N>` files claimed by atomic hard-link creation
    * ([[casDeclaredSchema]]), with the highest N current and the bare
    * legacy `_schema` reading as generation 0. A racer claiming the
    * same generation gets EEXIST and retries against the fresh state,
    * so two concurrent mergeSchema writers can never interleave-lose
    * a column — the race is a retry, not a read-failure heal. */
  val SchemaFileName = "_schema"

  /** The CURRENT declaration file and its CAS generation: the highest
    * `_schema.g<N>` when any exist, else the legacy bare `_schema` at
    * generation 0. None when undeclared. */
  private[arrow] def currentSchemaFile(md: Path,
      listing: Option[Set[String]] = None): Option[(Path, Long)] = {
    val names = listing.getOrElse {
      if (!Files.isDirectory(md)) return None
      listDir(md).map(_.getFileName.toString).toSet
    }
    val prefix = SchemaFileName + ".g"
    val gens = names.toSeq
      .filter(n => n.startsWith(prefix) && !n.endsWith(".inprogress"))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong)
        .toOption.map(g => (md.resolve(n), g)))
    if (gens.nonEmpty) Some(gens.maxBy(_._2))
    else if (names(SchemaFileName)) Some((md.resolve(SchemaFileName), 0L))
    else None
  }

  /** Current declaration generation; -1 when undeclared. Read this
    * BEFORE computing an evolved schema and pass it to
    * [[casDeclaredSchema]] — a false return means a racer advanced
    * the declaration in between: re-read and recompute. */
  def declaredSchemaGen(root: Path): Long =
    currentSchemaFile(root.resolve(MetadataDirName)).map(_._2)
      .getOrElse(-1L)

  /** Raw declaration + ledger lines (for clone/publish comparisons
    * and the DdlSpec ALTER-vs-CALL equivalence pin); empty when
    * undeclared. */
  private[graft] def declarationLines(root: Path): Seq[String] =
    currentSchemaFile(root.resolve(MetadataDirName))
      .map(f => Files.readAllLines(f._1).asScala.toSeq)
      .getOrElse(Seq.empty)

  /** A table's DECLARED data schema (None = undeclared) with its
    * ledgers, parsed from one `_schema` generation:
    *  - `dropped`: column names DROPPED from the declaration — files
    *    still carrying them pass the drift sweep, and `add_column`
    *    refuses to re-use them (without per-column ids, re-adding a
    *    dropped name would RESURRECT the old files' values);
    *  - `aliases`: the RENAME ledger, logical name → the physical names
    *    files written before (each of) its renames carry. The reader
    *    resolves a requested logical column by its own name first,
    *    then each ledgered physical — Delta column mapping's effect
    *    without per-column ids, for the rename-only case;
    *  - `defaults`: INITIAL DEFAULTS (Iceberg's initial-default),
    *    column name → SQL literal text served in place of NULL for
    *    files whose footer LACKS the column (a post-declaration file
    *    that stores an explicit NULL serves NULL). Declared by
    *    `add_column(..., default => ...)`. */
  final case class Declaration(
      schema: Option[org.apache.spark.sql.types.StructType],
      dropped: Set[String],
      aliases: Map[String, Seq[String]],
      defaults: Map[String, String])

  /** The current [[Declaration]] under `root`, its generation picked
    * from `listing` (a [[TableLog.listing]]) when given. */
  def declaration(root: Path, listing: Option[Set[String]] = None)
      : Declaration =
    currentSchemaFile(root.resolve(MetadataDirName), listing) match {
      case None => Declaration(None, Set.empty, Map.empty, Map.empty)
      case Some((f, _)) =>
        val lines = Files.readAllLines(f).asScala.toSeq
        val dropped = Set.newBuilder[String]
        val aliases = Map.newBuilder[String, Seq[String]]
        val defaults = Map.newBuilder[String, String]
        lines.drop(1).foreach { line =>
          line.split("\t").toList match {
            case "drop" :: name :: Nil => dropped += name; ()
            case "alias" :: logical :: physicals if physicals.nonEmpty =>
              aliases += (logical -> physicals); ()
            // initial defaults: the literal is the line's remainder (a
            // string literal may itself contain a tab; add_column
            // refuses newlines, the only structural byte here)
            case "default" :: name :: rest if rest.nonEmpty =>
              defaults += (name -> rest.mkString("\t")); ()
            case _ => ()
          }
        }
        Declaration(
          lines.headOption.map(org.apache.spark.sql.types.StructType.fromDDL),
          dropped.result(), aliases.result(), defaults.result())
    }

  def declaredSchema(root: Path): Option[org.apache.spark.sql.types.StructType] =
    declaration(root).schema

  def droppedColumns(root: Path): Set[String] = declaration(root).dropped

  def aliasColumns(root: Path): Map[String, Seq[String]] =
    declaration(root).aliases

  def defaultColumns(root: Path): Map[String, String] =
    declaration(root).defaults

  /** Parse, fold and ANSI-cast a default literal to the column type's
    * INTERNAL value (UTF8String / Long / Int / ...). Loud on
    * unparsable, non-foldable or uncastable input — add_column runs
    * this at declaration time so a reader can never hit a broken
    * default. */
  def evalDefault(lit: String,
      dt: org.apache.spark.sql.types.DataType): Any = {
    val expr = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(lit)
    require(expr.foldable,
      s"arrow: default $lit is not a foldable literal")
    org.apache.spark.sql.catalyst.expressions.Cast(expr, dt,
      Some("UTC"), org.apache.spark.sql.catalyst.expressions
        .EvalMode.ANSI)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
  }

  /** What a footer may legitimately carry on a declared-schema table:
    * the (name, type) pairs of the declaration plus each pre-rename
    * physical AT ITS LOGICAL'S TYPE (it is served under the new name,
    * so a type mismatch would misread), and the dropped-name set (any
    * type — dropped columns are never served). ONE definition shared
    * by schema inference's drift sweep and fsck, so the two can never
    * diverge on what counts as drift. */
  def toleratedFooterFields(root: Path,
      ds: org.apache.spark.sql.types.StructType, decl: Declaration)
      : (Set[(String, org.apache.spark.sql.types.DataType)], Set[String]) = {
    val aliases = decl.aliases
    val aliasTyped = aliases.flatMap { case (logical, physicals) =>
      ds.fields.find(_.name == logical).toSeq
        .flatMap(f => physicals.map(p => (p, f.dataType)))
    }.toSet
    // partition evolution: the declared DATA schema excludes partition
    // columns, but pre-evolution generations legitimately carry them
    // in BYTES (the path-XOR-bytes invariant) — tolerate every
    // partition-union column at its ledgered type, under its current
    // name or any pre-rename physical name
    val partTypes = recordedPartitionTypes(root)
    val partTyped = partTypes.toSet ++ partTypes.flatMap { case (l, t) =>
      aliases.getOrElse(l, Seq.empty).map(p => (p, t))
    }
    (ds.fields.map(f => (f.name, f.dataType)).toSet ++ aliasTyped ++
      partTyped, decl.dropped)
  }

  /** Whether a footer field is legitimate under the tolerated set:
    * exact (name, type) membership, or — nested schema evolution — a
    * same-name STRUCT whose leaves are a recursive subset of the
    * declared struct's (files written before a leaf joined simply
    * lack it; the reader null-fills absent leaves), where a footer
    * leaf ABSENT from the declaration is tolerated iff its dotted
    * path sits in the drop ledger (leaf-level DROP COLUMN: old files
    * keep the bytes, readers stop seeing them). Arrays and maps do
    * not evolve element-wise (mergeWriteSchema refuses those deltas),
    * so only struct types recurse. */
  def footerFieldTolerated(
      tolerated: Set[(String, org.apache.spark.sql.types.DataType)],
      dropped: Set[String],
      g: org.apache.spark.sql.types.StructField): Boolean =
    tolerated.exists { case (n, t) =>
      n == g.name && structSubsumes(t, g.dataType, dropped, g.name)
    }

  /** `declared` can serve every value a `footer`-typed file holds:
    * equal types, or struct-wise — every footer leaf exists in the
    * declared struct under the same name with a subsuming type, OR is
    * ledgered as dropped at its dotted path (never served).
    * Nullability inside structs is ignored (a non-nullable-written
    * leaf reads safely as nullable). */
  def structSubsumes(declared: org.apache.spark.sql.types.DataType,
      footer: org.apache.spark.sql.types.DataType,
      dropped: Set[String] = Set.empty,
      path: String = ""): Boolean = {
    import org.apache.spark.sql.types.StructType
    (declared, footer) match {
      case (d, f) if d == f => true
      // type widening (metadata-only): a narrower-written file serves
      // under the wider declaration via the reader's UpcastVector —
      // at top level and at struct leaves alike
      case (d, f) if ArrowSchemas.widens(f, d) => true
      case (d: StructType, f: StructType) =>
        f.fields.forall { ff =>
          d.fields.find(_.name == ff.name) match {
            case Some(df) => structSubsumes(df.dataType, ff.dataType,
              dropped, s"$path.${ff.name}")
            case None => dropped.contains(s"$path.${ff.name}")
          }
        }
      case _ => false
    }
  }

  /** CAS evolve loop for the schema procedures: `compute` re-runs
    * against the FRESH declaration on every attempt (it must re-read
    * the current schema/ledgers itself — the procedures do, via
    * currentDataSchema/droppedColumns/aliasColumns), so a concurrent
    * mergeSchema writer landing mid-procedure is re-read and kept,
    * never last-writer-wins'd out of the declaration (its committed
    * footers would otherwise brick every read on the drift sweep). */
  def evolveDeclaration(root: Path)(
      compute: () => (org.apache.spark.sql.types.StructType,
        Set[String], Map[String, Seq[String]], Map[String, String]))
      : Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 20,
        s"evolveDeclaration: CAS retry budget exhausted under $root")
      val gen = declaredSchemaGen(root)
      val (s, d, a, dv) = compute()
      done = casDeclaredSchema(root, s, d, a, gen, dv)
    }
  }

  /** Unconditional declaration replace — TEST seams and recovery
    * tooling only (it re-claims generations with the GIVEN content,
    * i.e. deliberate last-writer-wins). Product paths evolve through
    * [[evolveDeclaration]] or [[casDeclaredSchema]], which recompute
    * on a lost claim. */
  def setDeclaredSchema(root: Path,
      schema: org.apache.spark.sql.types.StructType,
      dropped: Set[String] = Set.empty,
      aliases: Map[String, Seq[String]] = Map.empty): Unit = {
    var attempts = 0
    while (!casDeclaredSchema(root, schema, dropped, aliases,
        declaredSchemaGen(root))) {
      attempts += 1
      require(attempts < 1000,
        s"setDeclaredSchema: could not claim a generation under $root")
    }
  }

  /** Atomic COMPARE-AND-SWAP declaration replace: publishes iff the
    * current generation still equals `expectedGen` (from
    * [[declaredSchemaGen]]; -1 = undeclared). The claim is
    * [[AtomicFiles.claim]] of `_schema.g<expected+1>` — it fails when
    * a racer claimed the generation first, in which case this returns
    * false and the CALLER re-reads the fresh declaration and
    * recomputes (the mergeSchema retry loop). Readers always see
    * complete content. Generations more than
    * 8 behind prune on each successful claim; the legacy bare file is
    * left in place (it reads as generation 0 only while no `.g` file
    * exists). */
  def casDeclaredSchema(root: Path,
      schema: org.apache.spark.sql.types.StructType,
      dropped: Set[String],
      aliases: Map[String, Seq[String]],
      expectedGen: Long,
      // product paths that EVOLVE a declaration must read and pass
      // the current defaults through (the procedures do) — the empty
      // default is for fresh-state constructions (tests, first write)
      defaults: Map[String, String] = Map.empty): Boolean = {
    val md = root.resolve(MetadataDirName)
    Files.createDirectories(md)
    if (declaredSchemaGen(root) != expectedGen) return false
    val gen = expectedGen + 1
    val lines = schema.toDDL +:
      (dropped.toSeq.sorted.map(n => s"drop\t$n") ++
        aliases.toSeq.sortBy(_._1).map { case (l, ps) =>
          (Seq("alias", l) ++ ps).mkString("\t")
        } ++
        defaults.toSeq.sortBy(_._1).map { case (n, lit) =>
          s"default\t$n\t$lit"
        })
    if (!AtomicFiles.claim(md.resolve(s"$SchemaFileName.g$gen"), lines))
      return false
    // prune far-past generations: readers re-resolve per call, so
    // only a reader mid-list/read could see a pruned file — the
    // 8-generation window is ample for that microsecond race
    val prefix = SchemaFileName + ".g"
    listDir(md).map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && !n.endsWith(".inprogress"))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong)
        .toOption.map(g => (n, g)))
      .filter(_._2 < gen - 8)
      .foreach(n => Files.deleteIfExists(md.resolve(n._1)))
    true
  }

  /** `_clone_src` metadata: where (and at which epoch) this table was
    * cloned from — the branch lineage [[GraftProcedures]]' `publish`
    * needs to validate a write-audit-publish merge-back. */
  val CloneSrcFileName = "_clone_src"

  /** The recorded clone lineage, if this table was created by clone:
    * (source root, source epoch at clone; -1 for a flat source). */
  def cloneSource(root: Path): Option[(Path, Long)] = {
    val f = root.resolve(MetadataDirName).resolve(CloneSrcFileName)
    if (!Files.isRegularFile(f)) None
    else Files.readAllLines(f).asScala.toList match {
      case p :: e :: _ => Some((Paths.get(p), e.toLong))
      case _ => None
    }
  }

  /** Zero-copy CLONE bootstrap: create `dstRoot`'s table log with an
    * epoch-0 manifest REFERENCING `rels` (dst-relative `../` paths into
    * the source table), atomically like [[initTableLog]]. A concurrent
    * log at the destination is a conflict, not a silent defer. */
  def initCloneLog(dstRoot: Path, rels: Seq[String],
      dvs: Seq[(String, String, Long)] = Seq.empty,
      partCols: Seq[String] = Seq.empty,
      src: Option[(Path, Long)] = None): Unit = {
    Files.createDirectories(dstRoot)
    // borrowed deletion vectors ride the epoch-0 manifest like any
    // dv event — a clone of a merge-on-read table must not resurrect
    // the source's masked rows
    val landed = publishStagedLog(dstRoot,
        TableLog.manifestLines(System.currentTimeMillis(), Seq.empty,
          rels, dvs)) { tmp =>
      // The clone's partition columns are RECORDED, not re-derived: the
      // borrowed rels walk `..`* down through the source's own path, and
      // no trailing col=value heuristic can tell a source-root segment
      // named `day=5` (or a whole nested `a=1/b=2` source path) from a
      // real partition dir. The file is authoritative even when EMPTY —
      // an unpartitioned clone of a col=value-named source discovers
      // zero columns. (`[[discoverPartitionCols]]` consults it first.)
      Files.write(tmp.resolve(PartColsFileName), partCols.asJava)
      src.foreach { case (srcRoot, srcEpoch) =>
        Files.write(tmp.resolve(CloneSrcFileName), java.util.List.of(
          srcRoot.toAbsolutePath.normalize.toString, srcEpoch.toString))
        // an EVOLVED source's declared schema + ledgers must travel with
        // the clone: without them, inference over the borrowed
        // mixed-generation files fails the consistency sweep, and
        // renamed physicals would not resolve for branch-local files
        currentSchemaFile(srcRoot.toAbsolutePath.normalize
            .resolve(MetadataDirName)).foreach { case (srcSchema, _) =>
          // the clone starts at CAS generation 0 under the legacy name
          Files.copy(srcSchema, tmp.resolve(SchemaFileName))
          ()
        }
        // ... and so must the PARTITION EVOLUTION record: without the
        // source's write spec + type ledger, the clone looks
        // pre-evolution to maybeEvolved() — pushFilters would claim
        // partition filters EXACT over borrowed byte-carried
        // generations (silently dropping rows), pushAggregation would
        // skip the evolution guard, and dir-value inference could
        // re-type a string partition column as Long against its
        // byte-carried generation (ADVICE r12, high)
        Seq(PartSpecFileName, PartTypesFileName).foreach { fn =>
          val f = srcRoot.toAbsolutePath.normalize
            .resolve(MetadataDirName).resolve(fn)
          if (Files.isRegularFile(f)) {
            Files.copy(f, tmp.resolve(fn))
            ()
          }
        }
        // ... and so must CHECK constraints: a write-audit-publish
        // branch that did not inherit the source's constraints would be
        // an unguarded side door — staged rows would bypass the gates
        // the source enforces on every direct writer
        val srcConstraints = srcRoot.toAbsolutePath.normalize
          .resolve(MetadataDirName).resolve(TableConstraints.FileName)
        if (Files.isRegularFile(srcConstraints)) {
          Files.copy(srcConstraints, tmp.resolve(TableConstraints.FileName))
          ()
        }
      }
    }
    if (!landed) throw new IllegalStateException(
      s"clone: $dstRoot became a logged table concurrently — " +
        "clone requires an empty destination")
  }

  /** Drop the commit manifest (truncate-on-overwrite: a batch rewrite
    * of a former sink directory starts from a clean, manifest-less
    * state where every committed file is visible again). */
  def deleteManifests(dir: String): Unit = {
    val md = manifestDir(dir)
    if (Files.isDirectory(md)) {
      listDir(md).foreach(Files.deleteIfExists)
      Files.deleteIfExists(md)
    }
  }

  /** Hive-style escaping for partition values in directory names:
    * per UTF-8 BYTE (%XX), not per code point — a char above U+00FF
    * needs more than two hex digits, which the fixed-width decoder
    * could not reparse; byte-wise escaping round-trips any string. */
  def escapePartValue(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new StringBuilder
    bytes.foreach { b =>
      val c = (b & 0xFF).toChar
      if (b >= 0 && (c.isLetterOrDigit || c == '-' || c == '_' || c == '.'))
        sb += c
      else sb ++= f"%%${b & 0xFF}%02X"
    }
    // a REAL string equal to the NULL sentinel would otherwise escape
    // to itself and read back as SQL NULL (partitionValuesOf maps the
    // bare sentinel to None) — force one escaped byte so the encodings
    // stay disjoint; unescape is byte-wise, so the round trip holds
    val out = sb.toString
    if (out == NullPartValue) "%5F" + out.substring(1) else out
  }

  def unescapePartValue(s: String): String = {
    val out = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < s.length) {
      if (s(i) == '%' && i + 3 <= s.length) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(s(i).toByte); i += 1 }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  val NullPartValue = "__HIVE_DEFAULT_PARTITION__"

  /** Metadata file recording a table's partition column names in
    * layout order (one per line, possibly none) — written by clone
    * bootstrap, authoritative over path-shape discovery. */
  val PartColsFileName = "_partcols"

  /** Partition column names in layout order, read off the first file's
    * relative path (`c1=v1/c2=v2/part-....arrow`); empty for flat
    * layouts. */
  def discoverPartitionCols(root: String, files: Seq[Path]): Seq[String] = {
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return Seq.empty
    // recorded metadata wins (clone bootstrap writes it — see
    // initCloneLog): path-shape discovery cannot classify borrowed
    // `../` rels whose source path itself contains col=value segments.
    // Only at the table ROOT — a read addressed at a partition
    // subdirectory deliberately drops the partition columns above it
    // (its rel paths carry no col=value segments to align against).
    sinkRoot(root).filter(_ == rootP.toAbsolutePath.normalize)
      .foreach { r =>
        val f = r.resolve(MetadataDirName).resolve(PartColsFileName)
        if (Files.exists(f)) {
          import scala.jdk.CollectionConverters._
          return Files.readAllLines(f).asScala.toSeq
            .map(_.trim).filter(_.nonEmpty)
        }
      }
    // the TRAILING run of col=value segments just above the file name:
    // identical to the leading run for in-root layouts (every interior
    // segment is col=value), and the only correct read for CLONED
    // entries whose rel path starts with `../<src table>/` prefix
    // segments before the partition dirs
    files.headOption.toSeq.flatMap { f =>
      val rel = rootP.relativize(f)
      val segs = (0 until rel.getNameCount - 1)
        .map(rel.getName(_).toString)
      // borrowed (clone) entries walk `..`* up and then DOWN through
      // the source table's own path — the segment right after the last
      // `..` is the source-table root, never a partition dir, even
      // when the source root itself is named `col=value` (e.g. a table
      // living at /data/day=5). Partition segments can only start
      // strictly below it.
      val lastUp = segs.lastIndexWhere(_ == "..")
      val minStart = if (lastUp >= 0) lastUp + 2 else 0
      segs.zipWithIndex.reverse
        .takeWhile { case (s, i) => i >= minStart && s.contains('=') }
        .reverse.map(_._1.split("=", 2)(0))
    }
  }

  /** The file's OWN trailing run of `col=value` segments as a map
    * (clone-aware: segments can only start strictly below the last
    * `..`-walk of a borrowed path). Inner None = explicit NULL
    * partition value (`__HIVE_DEFAULT_PARTITION__`-style marker);
    * an ABSENT key means this file predates the column's partition
    * spec (partition evolution) — its values then live in the file's
    * BYTES, never in the path. */
  def partitionValueMap(root: String, file: Path)
      : Map[String, Option[String]] = {
    val rel = Paths.get(root).relativize(file)
    val segs = (0 until rel.getNameCount - 1)
      .map(rel.getName(_).toString)
    val lastUp = segs.lastIndexWhere(_ == "..")
    val minStart = if (lastUp >= 0) lastUp + 2 else 0
    segs.zipWithIndex.reverse
      .takeWhile { case (s, i) => i >= minStart && s.contains('=') }
      .map { case (s, _) =>
        val eq = s.indexOf('=')
        val v = s.substring(eq + 1)
        s.substring(0, eq) ->
          (if (v == NullPartValue) None else Some(unescapePartValue(v)))
      }.toMap
  }

  /** Partition values of one file for the requested columns, by NAME;
    * None = SQL NULL *or* column absent from this file's path (the
    * reader falls back to the file's bytes for absentees —
    * generation-exact under partition evolution). */
  def partitionValuesOf(root: String, file: Path,
      cols: Seq[String]): Seq[Option[String]] = {
    val m = partitionValueMap(root, file)
    cols.map(c => m.get(c).flatten)
  }

  /** The single place partition filters prune files — used by the
    * batch builder, the batch scan (static + runtime filters), and
    * the micro-batch stream, so the semantics cannot drift.
    *
    * Evolution-conservative: a predicate referencing a column this
    * file does NOT carry in its path cannot prune the file — the
    * column's values live in the file's bytes (pre-evolution
    * generation), so the file stays planned and Catalyst's residual
    * filter evaluates the real values exactly. Pruning is an
    * optimization for the generations that have the layout; never a
    * correctness dependency. */
  def pruneByPartitionFilters(files: Seq[Path], root: String,
      partSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[Path] =
    if (filters.isEmpty || partSchema.isEmpty) files
    else {
      val preds = filters.map(f =>
        (f.references.toSeq, FilterEval.compile(partSchema, f)))
      files.filter { f =>
        val m = partitionValueMap(root, f)
        lazy val row = partitionRowFromMap(m, partSchema)
        preds.forall { case (refs, p) =>
          !refs.forall(m.contains) || p(row)
        }
      }
    }

  private def partitionRowFromMap(m: Map[String, Option[String]],
      partSchema: StructType): org.apache.spark.sql.catalyst.InternalRow = {
    val cells: Array[Any] = partSchema.fields.map { f =>
      m.get(f.name).flatten match {
        case None => null
        case Some(v) => partValueToInternal(f.dataType, v)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(cells)
  }

  /** One file's partition values as a typed InternalRow matching
    * `partSchema` — the row partition-filter predicates evaluate
    * against (exact file-level pruning at planning time). */
  def partitionRow(root: String, file: Path,
      partSchema: StructType): org.apache.spark.sql.catalyst.InternalRow =
    partitionRowFromMap(partitionValueMap(root, file), partSchema)

  /** One escaped-and-decoded partition value as its Catalyst-internal
    * representation for `dt` — the single conversion the planner's
    * filter rows, the readers' constant vectors, and the
    * storage-partitioned-join keys all share (the writer's supported
    * partition types, `ArrowPartitionedWriter.partValue`). */
  def partValueToInternal(dt: org.apache.spark.sql.types.DataType,
      v: String): Any = dt match {
    case org.apache.spark.sql.types.LongType => v.toLong
    case org.apache.spark.sql.types.IntegerType => v.toInt
    case org.apache.spark.sql.types.ShortType => v.toShort
    case org.apache.spark.sql.types.ByteType => v.toByte
    case org.apache.spark.sql.types.BooleanType => v.toBoolean
    case _ => org.apache.spark.unsafe.types.UTF8String.fromString(v)
  }

  /** `_graft_metadata/_partition_spec`: the CURRENT write-time
    * partition spec (`CALL graft.system.set_partitioning`). One
    * `name<TAB>ddl-type` line per column; future writers that name no
    * partitioning route by it, and the recorded type is authoritative
    * for the partition column's read schema (the pre-evolution
    * generation serves the column from file BYTES, so dir-value
    * inference alone could disagree with the byte type). */
  val PartSpecFileName = "_partition_spec"

  def recordedPartitionSpec(root: Path)
      : Seq[(String, org.apache.spark.sql.types.DataType)] = {
    val f = root.resolve(MetadataDirName).resolve(PartSpecFileName)
    if (!Files.isRegularFile(f)) return Seq.empty
    Files.readAllLines(f).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val Array(n, t) = l.split('\t')
        n -> org.apache.spark.sql.types.DataType.fromDDL(t)
      }
  }

  /** `_graft_metadata/_partition_types`: the authoritative type LEDGER
    * for every column that has EVER been in a partition spec — unlike
    * `_partition_spec` (the current write spec, replaced on each
    * evolution), the ledger only accumulates: a second evolution must
    * not drop the first column's recorded type, or dir-value inference
    * could re-type it against its byte-carried generations (e.g.
    * numeric-looking strings inferring LongType). */
  val PartTypesFileName = "_partition_types"

  def recordedPartitionTypes(root: Path)
      : Map[String, org.apache.spark.sql.types.DataType] = {
    val f = root.resolve(MetadataDirName).resolve(PartTypesFileName)
    val ledger =
      if (!Files.isRegularFile(f)) Map.empty[String,
        org.apache.spark.sql.types.DataType]
      else Files.readAllLines(f).asScala.toSeq.map(_.trim)
        .filter(_.nonEmpty).map { l =>
          val Array(n, t) = l.split('\t')
          n -> org.apache.spark.sql.types.DataType.fromDDL(t)
        }.toMap
    // older tables recorded types only in the write spec
    recordedPartitionSpec(root).toMap ++ ledger
  }

  /** `_graft_metadata/_tags`: named epoch refs (Iceberg's TAGS) —
    * `VERSION AS OF 'name'` resolves through them, so releases,
    * audits, and reproducibility pins address a version by MEANING
    * ("v1-training-snapshot") instead of a raw epoch number. A tag is
    * one TSV line; retargeting/removing rewrites the file atomically.
    * Tags do not pin data against VACUUM (matching our VERSION AS OF
    * contract: pre-horizon versions refuse loudly) — they are names,
    * not retention policy. */
  val TagsFileName = "_tags"

  def tags(root: Path): Map[String, Long] = {
    val f = root.resolve(MetadataDirName).resolve(TagsFileName)
    if (!Files.isRegularFile(f)) return Map.empty
    Files.readAllLines(f).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val Array(n, e) = l.split('\t')
        n -> e.toLong
      }.toMap
  }

  private def writeTags(root: Path, t: Map[String, Long]): Unit = {
    AtomicFiles.replace(root.resolve(MetadataDirName).resolve(TagsFileName),
      t.toSeq.sortBy(_._1).map { case (n, e) => s"$n\t$e" })
  }

  /** Create or retarget a tag; `epoch` None = current latest. */
  def setTag(path: String, name: String,
      epoch: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"arrow tag names are [A-Za-z0-9._-]+, got '$name'")
    initTableLog(path)
    val root = Paths.get(path).toAbsolutePath.normalize
    val latest = latestCommittedEpoch(root)
    val e = epoch.getOrElse(latest)
    require(e >= 0 && e <= latest,
      s"arrow tag $name: epoch $e does not exist (latest is $latest)")
    writeTags(root, tags(root) + (name -> e))
    e
  }

  def dropTag(path: String, name: String): Boolean = {
    val root = Paths.get(path).toAbsolutePath.normalize
    val t = tags(root)
    if (!t.contains(name)) return false
    writeTags(root, t - name)
    true
  }

  /** `_graft_metadata/_branches`: WRITABLE named refs (Iceberg's
    * BRANCHES) — where a tag pins one frozen epoch, a branch is a
    * NAMED HEAD that advances as the branch commits. Backed by the
    * zero-copy clone: `CALL branch(path, name)` clones the table into
    * a registered SIBLING directory (same parent, so the clone's
    * `../` borrowed rels and a later publish's renames stay
    * path-stable), DML on the branch commits epochs to the branch's
    * OWN log, `VERSION AS OF 'name'` on the MAIN table resolves
    * through the registry to the branch's current head, and
    * `CALL publish_branch` fast-forwards main to the branch state
    * (base epoch must still be main's head — divergent histories
    * refuse with re-branch guidance) and retires the branch. One TSV
    * line per branch: name and the sibling directory name. */
  val BranchesFileName = "_branches"

  def branches(root: Path): Map[String, String] = {
    val f = root.resolve(MetadataDirName).resolve(BranchesFileName)
    if (!Files.isRegularFile(f)) return Map.empty
    Files.readAllLines(f).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val Array(n, d) = l.split('\t')
        n -> d
      }.toMap
  }

  private[arrow] def writeBranches(root: Path,
      b: Map[String, String]): Unit = {
    AtomicFiles.replace(
      root.resolve(MetadataDirName).resolve(BranchesFileName),
      b.toSeq.sortBy(_._1).map { case (n, d) => s"$n\t$d" })
  }

  /** Absolute directory of a registered branch (a sibling of the
    * table root). */
  def branchDir(root: Path, name: String): Option[Path] =
    branches(root).get(name).map(d => root.getParent.resolve(d))

  /** Record a new write-time partition spec — Iceberg's PARTITION
    * EVOLUTION: future writers that name no layout route `cols` into
    * `col=value` directories, while every existing file keeps its
    * layout and stays exactly readable. The invariant that makes
    * mixed generations sound: each visible file carries every
    * partition-union column either in its PATH (written under a spec
    * naming it) or in its BYTES (written before the column joined the
    * spec) — the reader serves path values as constants and falls
    * back to bytes for absentees, and partition filters prune only
    * the files that expose the column in their path (older
    * generations stay planned; the residual filter evaluates their
    * real byte values). OPTIMIZE naturally migrates old files into
    * the current layout (its rewrite routes by the union), so pruning
    * coverage improves with ordinary maintenance. At 100 TB,
    * re-partitioning a petabyte table is ONE metadata write, not a
    * rewrite. */
  def setPartitioning(spark: org.apache.spark.sql.SparkSession,
      path: String, cols: Seq[String])
      : Seq[(String, org.apache.spark.sql.types.DataType)] = {
    require(cols.nonEmpty, "set_partitioning: no columns given")
    if (sinkRoot(path).isDefined && !isTableLog(path))
      throw new UnsupportedOperationException(
        s"arrow: $path is a streaming sink; its layout is owned by " +
          "the running stream's writer options")
    val root = Paths.get(path).toAbsolutePath.normalize
    initTableLog(path)
    val snap = TableSnapshot.read(path)
    // bucketed layouts refuse: partitionBy cannot combine with
    // bucketBy on the write path either
    val idx = snap.footers
    require(!idx.files.exists(f => idx.info(f).bucket.isDefined),
      s"arrow: $path carries a bucketed layout; bucketing and " +
        "partition evolution do not compose")
    val schema = scala.util.Try(
      spark.read.format("arrow").load(path).schema)
      .getOrElse(throw new IllegalArgumentException(
        s"set_partitioning: $path has no readable schema yet — load " +
          "data first (an empty table takes its layout from its " +
          "first writer's partitionBy)"))
    import org.apache.spark.sql.types._
    val supported: Set[DataType] = Set(LongType, IntegerType,
      ShortType, ByteType, BooleanType, StringType)
    val spec = cols.map { c =>
      require(schema.fieldNames.contains(c),
        s"set_partitioning: column $c is not in the table schema " +
          schema.fieldNames.mkString("[", ",", "]"))
      val dt = schema(c).dataType
      require(supported(dt),
        s"set_partitioning: $c has unsupported partition type " +
          dt.simpleString)
      c -> dt
    }
    val union = (snap.partCols ++ cols).distinct
    // the ledger ACCUMULATES: every union column's type, resolvable
    // from the current read schema (prior entries win nothing — they
    // were recorded from the same authority), so repeated evolutions
    // never orphan an earlier column's type
    val ledger = recordedPartitionTypes(root) ++
      union.flatMap(c => schema.fields.find(_.name == c)
        .map(f => c -> f.dataType))
    writePartitionSpecFiles(root, union, ledger, spec)
    spec
  }

  /** Durably record a partition spec (the tail of [[setPartitioning]],
    * shared with `CREATE TABLE ... PARTITIONED BY`). Write ORDER is
    * the crash contract: type LEDGER first (harmless standalone —
    * extra typed entries are consulted only per discovered column),
    * then the read-union, then the write spec LAST. A column thus
    * becomes discoverable only after its authoritative type is durable
    * (partcols-first left a window where dir-value inference could
    * re-type a string column as Long against its byte-carried
    * generation — ADVICE r12), and writers start routing by the new
    * spec only after reads fully reconstruct it (spec-first would
    * strip the column to the path while readers don't yet serve path
    * values). */
  private[arrow] def writePartitionSpecFiles(root: Path,
      union: Seq[String],
      ledger: Map[String, org.apache.spark.sql.types.DataType],
      spec: Seq[(String, org.apache.spark.sql.types.DataType)]): Unit = {
    val md = root.resolve(MetadataDirName)
    AtomicFiles.replace(md.resolve(PartTypesFileName), ledger.toSeq
      .sortBy(_._1).map { case (c, t) => s"$c\t${t.sql}" })
    AtomicFiles.replace(md.resolve(PartColsFileName), union)
    AtomicFiles.replace(md.resolve(PartSpecFileName),
      spec.map { case (c, t) => s"$c\t${t.sql}" })
  }

  /** Partition columns as a schema: the recorded spec's type wins
    * (partition evolution), else LongType when every dir value parses
    * as a long, else StringType (the minimal useful inference). */
  def discoverPartitionSchema(root: String, files: Seq[Path]): StructType = {
    val cols = discoverPartitionCols(root, files)
    if (cols.isEmpty) return StructType(Seq.empty)
    val recorded = sinkRoot(root)
      .map(recordedPartitionTypes).getOrElse(Map.empty)
    // one path parse per file, not per (file, column)
    val perFile = files
      .map(f => partitionValuesOf(root, f, cols))
    val types = cols.zipWithIndex.map { case (c, i) =>
      recorded.getOrElse(c, {
        val vals = perFile.map(_(i)).collect { case Some(v) => v }
        if (vals.nonEmpty && vals.forall(v => v.nonEmpty &&
            scala.util.Try(v.toLong).isSuccess))
          org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.StringType
      })
    }
    StructType(cols.zip(types).map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t, nullable = true)
    })
  }

  /** Open an IPC data file for reading. Files of a logged table come
    * from its commit log, so a missing one is damage (deleted outside
    * the table's own operations), not a race: fail naming the file and
    * the repair verbs instead of letting the read drop its rows. */
  private[arrow] def openIpc(file: Path): FileChannel =
    try FileChannel.open(file, StandardOpenOption.READ)
    catch {
      case e: java.nio.file.NoSuchFileException =>
        val logged = Option(file.getParent)
          .flatMap(p => sinkRoot(p.toString))
          .filter(r => isTableLog(r.toString))
        throw logged.map(r => new IllegalStateException(
          s"arrow: data file $file is missing, but the commit log of " +
            s"$r lists it as live — it was deleted outside the " +
            "table's own operations. Run CALL graft.system.fsck(path " +
            s"=> '$r') to list the damage, then CALL " +
            "graft.system.restore to an epoch whose files are intact " +
            "(or re-ingest the lost rows)", e)).getOrElse(e)
    }

  def readFooterSchema(file: Path): StructType = {
    footerOpens.incrementAndGet()
    val ch = openIpc(file)
    val reader = new ArrowFileReader(ch, allocator,
      CommonsCompressionFactory.INSTANCE)
    try {
      val fields = reader.getVectorSchemaRoot.getSchema.getFields.asScala
        .map { f =>
          // dictionary-encoded columns surface their VALUE type: the
          // schema message stores the index type, the logical type
          // lives on the dictionary's own vector
          Option(f.getDictionary) match {
            case Some(enc) =>
              org.apache.spark.sql.types.StructField(f.getName,
                ArrowSchemas.fromArrowType(
                  reader.lookup(enc.getId).getVectorType),
                f.isNullable)
            case None => ArrowSchemas.fromArrowField(f)
          }
        }
      StructType(fields.toArray)
    } finally { reader.close(); ch.close() }
  }

  /** Per-record-batch on-disk sizes (metadata+body) from the IPC footer
    * — the split planner's input; reads only the footer, no batch data. */
  def recordBlockSizes(file: Path): Seq[Long] = {
    footerOpens.incrementAndGet()
    val ch = openIpc(file)
    val reader = new ArrowFileReader(ch, allocator,
      CommonsCompressionFactory.INSTANCE)
    try {
      reader.getVectorSchemaRoot // forces footer read
      reader.getRecordBlocks.asScala
        .map(b => b.getMetadataLength.toLong + b.getBodyLength).toSeq
    } finally { reader.close(); ch.close() }
  }

  /** The file's zone map from the IPC footer custom metadata, if our
    * writer recorded one (see [[ZoneMaps]]). Footer-only read. */
  def zoneMap(file: Path): Option[ZoneMaps.ZoneMap] = footerInfo(file).zoneMap

  /** Everything the planner wants from one IPC footer: per-batch block
    * sizes, the min/max zone map, the row/null-count stats, and the
    * bucketed-layout stamp `(col, numBuckets, bucketId)` when
    * [[ArrowBucketedWriter]] wrote the file. One footer read — each
    * open re-parses the footer. */
  final case class FooterInfo(sizes: Seq[Long],
      zoneMap: Option[ZoneMaps.ZoneMap],
      rowStats: Option[ZoneMaps.RowStats.Stats],
      bucket: Option[(String, Int, Int)] = None,
      blooms: Map[String, Array[Long]] = Map.empty,
      sort: Option[String] = None,
      codec: Option[String] = None) {
    /** Rows the file holds, from its footer row stats alone; None when
      * the stats do not cover every record batch. */
    def rows: Option[Long] =
      if (sizes.isEmpty) Some(0L)
      else rowStats.filter(_.batches.length == sizes.length)
        .map(_.batches.map(_._1).sum)
  }

  /** Footer stamp recording the buffer codec the file was written
    * with — IPC headers carry compression per batch, not per file, so
    * in-place rewrites (copy-on-write DELETE) read this to preserve
    * the directory's compression choice. */
  val CodecMetaKey = "graft.codec"

  /** The Arrow buffer codec an `option("codec", ...)` names; None
    * writes uncompressed buffers. */
  def codecType(codec: Option[String])
      : Option[org.apache.arrow.vector.compression.CompressionUtil.CodecType] =
    codec.map(_.toLowerCase).map {
      case "lz4" =>
        org.apache.arrow.vector.compression.CompressionUtil.CodecType.LZ4_FRAME
      case "zstd" =>
        org.apache.arrow.vector.compression.CompressionUtil.CodecType.ZSTD
      case other => throw new IllegalArgumentException(
        s"arrow codec must be lz4 or zstd, got $other")
    }

  /** Name of the per-row file-path metadata column. */
  val FileMetaCol = "_file"

  /** Name of the per-row position metadata column: a row's stable
    * ordinal within its file, encoded `(recordBatchIndex << 32) |
    * offsetInBatch`. Generated BEFORE deletion-vector masking, so
    * `(_file, _pos)` is a stable row id across merge-on-read deletes —
    * the rowId the delta-based row-level operations key on. */
  val PosMetaCol = "_pos"

  /** Process-wide count of IPC footer parses ([[footerInfo]] /
    * [[readFooterSchema]] / [[recordBlockSizes]]) — a test hook:
    * FooterIndexSpec asserts planning over an indexed directory opens
    * ZERO data-file footers (the [[FooterIndexFile]] sidecar serves
    * them all). */
  val footerOpens = new java.util.concurrent.atomic.AtomicLong(0)

  def footerInfo(file: Path): FooterInfo = {
    footerOpens.incrementAndGet()
    val ch = openIpc(file)
    val reader = new ArrowFileReader(ch, allocator,
      CommonsCompressionFactory.INSTANCE)
    try {
      reader.getVectorSchemaRoot // forces footer read
      parseFooter(reader.getMetaData, reader.getRecordBlocks.asScala.toSeq)
    } finally { reader.close(); ch.close() }
  }

  /** [[FooterInfo]] from a footer's custom metadata and record blocks —
    * the parse [[footerInfo]] runs over a file, and the writer runs over
    * the footer it has just written. */
  def parseFooter(meta: JMap[String, String],
      blocks: Seq[org.apache.arrow.vector.ipc.message.ArrowBlock])
      : FooterInfo = {
    val sizes = blocks.map(b => b.getMetadataLength.toLong + b.getBodyLength)
    val zm = Option(meta.get(ZoneMaps.MetaKey)).flatMap(ZoneMaps.decode)
    val rs = Option(meta.get(ZoneMaps.RowStats.MetaKey))
      .flatMap(ZoneMaps.RowStats.decode)
    val bk = for {
      c <- Option(meta.get(GraftBucket.MetaCol))
      n <- Option(meta.get(GraftBucket.MetaN))
      i <- Option(meta.get(GraftBucket.MetaId))
    } yield (c, n.toInt, i.toInt)
    val blooms = meta.asScala.iterator.collect {
      case (k, v) if k.startsWith(ArrowBloom.MetaPrefix) =>
        ArrowBloom.decode(v)
          .map(bits => k.stripPrefix(ArrowBloom.MetaPrefix) -> bits)
    }.flatten.toMap
    FooterInfo(sizes, zm, rs, bk, blooms,
      Option(meta.get(GraftSort.MetaCol)), Option(meta.get(CodecMetaKey)))
  }

  /** Process-wide count of record batches actually loaded from disk —
    * a test hook: metadata-only paths (aggregate pushdown, zone-map
    * pruning specs) assert this does not move. */
  val recordBatchesLoaded = new java.util.concurrent.atomic.AtomicLong(0)

  /** Process-wide count of dictionary value-array materializations —
    * a test hook: ArrowDictionarySpec asserts one per (file,
    * dictionary column) however many batches the file holds (the lazy
    * index-vector read path never decodes per batch). */
  val dictMaterializations = new java.util.concurrent.atomic.AtomicLong(0)
}
