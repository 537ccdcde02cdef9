package graft.sources.arrow

import java.nio.file.{Files, Paths}


import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based copy-on-write row-level operations for the Arrow source
  * — the DSv2 contract behind SQL `UPDATE`, `MERGE INTO`, and the
  * `DELETE` predicates [[FilterEval]] cannot claim (Spark rewrites all
  * three into a [[org.apache.spark.sql.catalyst.plans.logical
  * .ReplaceData]] plan; Delta and Iceberg ship the same shape on their
  * own layouts).
  *
  * The group is a FILE. The anatomy at 100 TB:
  *
  *   1. Spark pushes the command's condition into [[ArrowCoWScan]] —
  *      used for whole-file triage only (partition values exactly,
  *      then zone maps / blooms via [[ArrowDelete.mayHoldMatches]]):
  *      a file that provably holds no matching row keeps its bytes and
  *      is neither read nor replaced.
  *   2. Runtime group filtering (Spark's
  *      RowLevelOperationRuntimeGroupFiltering) refines that to the
  *      files that ACTUALLY hold matches: it plans
  *      `SELECT DISTINCT _file WHERE cond` against the ordinary scan
  *      (condition pushdown and zone maps apply there in full) and
  *      feeds the result back through [[SupportsRuntimeFiltering]] on
  *      the `_file` metadata column.
  *   3. The scan reads the surviving files WHOLE — every row, no batch
  *      skipping: rows not matching the condition must come back out
  *      in the replacement files. (This is why the CoW scan shares no
  *      code with the normal scan's zone-map batch pruning: dropping a
  *      non-matching batch here would silently delete it.)
  *   4. Spark's rewritten query computes the replacement rows (updated
  *      + carried-over + MERGE inserts) and [[ArrowCoWWrite]] lands
  *      them as fresh files through the standard writers (partition
  *      routing, zone maps, blooms recomputed); job commit swaps the
  *      scanned group for the replacements in ONE table-log epoch.
  *
  * Durability: the first DML upgrades a flat directory to a logged
  * table ([[ArrowDataSource.initTableLog]]); from then on replacement
  * files stay invisible until the epoch manifest is claimed (readers
  * resolve old or new, never both), a crash before the claim commits
  * nothing (orphans are vacuum fodder), a concurrent commit since the
  * scan planned fails the DML (optimistic concurrency), and the
  * removed files back `VERSION AS OF` until vacuum reclaims them.
  * Streaming-SINK logs still refuse row-level writes: their epochs
  * are numbered by the query checkpoint, not the log.
  *
  * Bucketed layouts refuse CoW UPDATE/MERGE: replacement files would
  * need per-bucket routing to keep the storage-partitioned-join
  * contract, and silently dropping the bucket stamp would corrupt it.
  */
class ArrowRowLevelOperationBuilder(snapshot: TableSnapshot,
    tableSchema: StructType, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  // `set_dv` tables take the DELTA (merge-on-read) path: deletes
  // become deletion-vector bits, updates delete+insert — no touched
  // file rewrites. Everything else keeps group-based copy-on-write.
  override def build(): RowLevelOperation =
    if (snapshot.dvEnabled)
      new ArrowDeltaOperation(snapshot, tableSchema, info.command)
    else new ArrowRowLevelOperation(snapshot, tableSchema, info.command)
}

/** `snapshot` is the one metadata read of the operation
  * ([[TableSnapshot.forDml]]): its scan plans the snapshot's files,
  * its write builder reads their footer stats, and its commit is
  * based on `snapshot.latest` — the epoch those files came from, so a
  * writer that committed in between fails this DML instead of
  * silently losing its rows. */
class ArrowRowLevelOperation(private[arrow] val snapshot: TableSnapshot,
    tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  protected val path: String = snapshot.path

  /** Files the CoW scan finally planned (post triage + runtime group
    * filter) — the exact group set the write replaces at job commit.
    * Written on the driver by [[ArrowCoWScan.planInputPartitions]],
    * read on the driver by [[ArrowCoWWrite.commit]]; the scan always
    * plans before the write job that consumes it commits. */
  @volatile private[arrow] var scannedFiles: Seq[String] = Seq.empty

  private[arrow] def partSchema: StructType = snapshot.partSchema

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-arrow-cow-${cmd.toString.toLowerCase} $path"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(ArrowDataSource.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new ArrowCoWScanBuilder(this, path, tableSchema, partSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // footer-stats sidecar first: DML planning on a 100k-file table
    // must not pay an O(files) footer sweep for a bucket/codec check
    val memo = snapshot.footers
    val infos = memo.files.map(memo.info)
    if (infos.exists(_.bucket.isDefined))
      throw new UnsupportedOperationException(
        s"arrow: $path is a bucketed layout; a copy-on-write rewrite " +
          "would drop the bucket stamps joins rely on. Rewrite the " +
          "table via bucketBy overwrite instead.")
    // DELETE deletes rows but never reorders them: each replacement
    // file is a subsequence of one scanned file (one split per file,
    // narrow pipeline), so a uniformly sorted layout KEEPS its stamp —
    // the zero-sort join property survives the retention sweep. UPDATE
    // may rewrite the sort column and MERGE shuffles through a join,
    // so both drop it (re-run the sorted rewrite to restore).
    val sortCol =
      if (cmd == RowLevelOperation.Command.DELETE && infos.nonEmpty &&
          infos.forall(_.sort.isDefined))
        infos.flatMap(_.sort).distinct match {
          case Seq(one) => Some(one)
          case _ => None
        }
      else None
    new ArrowCoWWriteBuilder(this, path, info.schema(), partSchema,
      infos.headOption.flatMap(_.codec),
      infos.flatMap(_.blooms.keys).distinct.sorted, sortCol)
  }
}

class ArrowCoWScanBuilder(op: ArrowRowLevelOperation, path: String,
    tableSchema: StructType, partSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = tableSchema
  private var triage: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The command condition arrives here
    * (GroupBasedRowLevelOperationScanPlanning). Everything is kept as
    * a residual — the scan must return every row of a matching file —
    * and the conjuncts serve ONLY to rule whole files out. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    triage = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = triage

  override def build(): Scan =
    new ArrowCoWScan(op, path, required, partSchema, triage)
}

class ArrowCoWScan(op: ArrowRowLevelOperation, path: String,
    schema: StructType, partSchema: StructType, triage: Array[Filter])
    extends Scan with Batch with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // the operation's footer index: one cached footer read per file
  // across triage, planning and the write builder
  private val footerIdx = op.snapshot.footers

  /** Footer-derived size of the triaged candidate set — without it a
    * MERGE join would plan the target side blind and might broadcast
    * a 100 TB table; with it the source dim broadcasts instead. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val files = candidates
    val bytes = files.map(f => footerIdx.info(f).sizes.sum).sum
    val rows: Seq[Long] = files.map(f =>
      footerIdx.info(f).rowStats
        .map(s => s.batches.map(_._1).sum).getOrElse(-1L))
    val rowsKnown = rows.forall(_ >= 0L)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        if (rowsKnown) java.util.OptionalLong.of(rows.sum)
        else java.util.OptionalLong.empty()
    }
  }

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-arrow-cow-scan $path triage=[${triage.mkString(",")}]"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(ArrowDataSource.FileMetaCol))

  // runtime group filter: keep only files the matching-files subquery
  // returned (In/EqualTo over `_file` path strings)
  @volatile private var runtimeKeep: Option[Set[String]] = None
  override def filter(filters: Array[Filter]): Unit =
    filters.foreach {
      case In(c, vs) if c == ArrowDataSource.FileMetaCol =>
        runtimeKeep = Some(vs.map(String.valueOf(_)).toSet)
      case EqualTo(c, v) if c == ArrowDataSource.FileMetaCol =>
        runtimeKeep = Some(Set(String.valueOf(v)))
      case _ => () // unexpected runtime filter: ignore, stay a superset
    }

  private def candidates: Seq[java.nio.file.Path] = {
    val partCols = partSchema.fieldNames.toSet
    val partF = scala.collection.immutable.ArraySeq.unsafeWrapArray(
      triage.filter(f => f.references.nonEmpty &&
        f.references.forall(partCols) &&
        FilterEval.supported(partSchema, f)))
    val dataF = scala.collection.immutable.ArraySeq.unsafeWrapArray(
      triage.filter(f => f.references.nonEmpty &&
        !f.references.exists(partCols)))
    val pruned = ArrowDataSource.pruneByPartitionFilters(
      footerIdx.files, path, partSchema, partF)
    pruned.filter { f =>
      val dataSchema = ArrowDataSource.readFooterSchema(f)
      ArrowDelete.mayHoldMatches(
        footerIdx.info(f), dataSchema,
        dataF.filter(FilterEval.supported(dataSchema, _)))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val files = candidates.filter(f =>
      runtimeKeep.forall(_.contains(f.toString)))
    op.scannedFiles = files.map(_.toString)
    files.map { f =>
      val nBlocks = footerIdx.info(f).sizes.length
      val partVals = ArrowDataSource
        .partitionValuesOf(path, f, partSchema.fieldNames.toSeq).map(_.orNull).toArray
      // a DV'd file's masked rows must not resurrect through the CoW
      // rewrite: the replacement materializes only live rows, and the
      // replaced file's vector dies with it at the epoch commit
      val dvFile = footerIdx.dvs
        .get(f.toAbsolutePath.normalize.toString).map(_._1).orNull
      ArrowFilePartition(f.toString, (0 until nBlocks).toArray, partVals,
        dvFile = dvFile)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(schema, Array.empty, partSchema,
      op.snapshot.declaration)
}

class ArrowCoWWriteBuilder(op: ArrowRowLevelOperation, path: String,
    writeSchema: StructType, partSchema: StructType,
    codec: Option[String], bloomCols: Seq[String],
    sortCol: Option[String] = None) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new ArrowCoWWrite(op, path, writeSchema, partSchema, codec,
        bloomCols, sortCol)
    override def description(): String = s"graft-arrow-cow-write $path"
  }
}

/** Replacement write: lands the rewritten rows as fresh files via the
  * standard writers, then at job commit unlinks the scanned group and
  * sweeps emptied partition directories. Sort stamps are dropped (an
  * UPDATE may break the order) — re-run the sorted-layout rewrite to
  * restore them; zone maps and blooms are recomputed per new file. */
class ArrowCoWWrite(op: ArrowRowLevelOperation, path: String,
    writeSchema: StructType, partSchema: StructType,
    codec: Option[String], bloomCols: Seq[String],
    sortCol: Option[String] = None) extends BatchWrite {

  // the incoming rows may carry `_file` (requiredMetadataAttributes);
  // project it away so only real table columns hit the writers
  private val dataIdx: Array[Int] = writeSchema.fields.zipWithIndex
    .filter(_._1.name != ArrowDataSource.FileMetaCol).map(_._2)
  private val rowSchema =
    StructType(dataIdx.map(writeSchema.fields(_)))

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new ArrowCoWWriterFactory(path, writeSchema, rowSchema,
      dataIdx, partSchema.fieldNames.toSeq, codec, bloomCols, sortCol,
      // an UPDATE/MERGE SET could write a violating value: replacement
      // rows pass the same CHECK gate as any ingest
      TableConstraints.bound(
        org.apache.spark.sql.SparkSession.active, path, rowSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // One atomic swap: the epoch manifest removes every scanned group
    // and adds every replacement file in a single rename, so a reader
    // resolves either the old generation or the new one, never both.
    // The removed files stay on disk backing VERSION AS OF until
    // vacuum; a concurrent commit since the scan planned fails here
    // (ConcurrentModificationException) with the new files left as
    // invisible orphans for vacuum to reclaim.
    val msgs = messages.collect { case m: ArrowCommitMessage => m }.toSeq
    val adds = msgs.flatMap(_.files)
    // UPDATE epochs stamp their kind into the manifest so the change
    // feed tags their churn update_preimage/update_postimage. CoW
    // MERGE stays untagged: one merge epoch mixes matched updates with
    // not-matched inserts (and possibly deletes), which file-grain
    // churn cannot split — Delta separates them by writing explicit
    // change files at DML time, a heavier contract than the log diff.
    // (On the delta/DV path an update-only MERGE IS row-exact and
    // stamps — ArrowDeltaBatchWrite.commit.)
    val kind =
      if (op.command() == RowLevelOperation.Command.UPDATE)
        Some(ArrowChanges.OpUpdate)
      else None
    val epoch = ArrowDataSource.commitTableEpoch(path,
      op.snapshot.latest, adds, op.scannedFiles, opKind = kind)
    // CoW replacement files are brand new names: record their stats as
    // the epoch's sidecar fragment (folded by log compaction) so
    // DML-heavy tables keep one-metadata-read planning without a full
    // sidecar rewrite per commit.
    val pairs = adds.zip(msgs.flatMap(_.footers))
    if (pairs.nonEmpty)
      FooterIndexFile.appendEpochFragment(path, epoch,
        ArrowDataSource.readFooterSchema(Paths.get(pairs.head._1)),
        pairs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ArrowCommitMessage =>
      m.files.foreach(f => Files.deleteIfExists(Paths.get(f)))
    }
}

class ArrowCoWWriterFactory(path: String, writeSchema: StructType,
    rowSchema: StructType, dataIdx: Array[Int],
    partitionCols: Seq[String], codec: Option[String],
    bloomCols: Seq[String], sortCol: Option[String] = None,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = {
    val inner: DataWriter[InternalRow] = TableConstraints.enforcing(
      if (partitionCols.isEmpty)
        new ArrowDataWriter(path, rowSchema, codec, 8192, partitionId,
          taskId, Map.empty, bloomCols, sortCol)
      else
        new ArrowPartitionedWriter(path, rowSchema, codec, 8192,
          partitionId, taskId, partitionCols, 64, bloomCols, sortCol),
      checks)
    if (dataIdx.length == writeSchema.length) inner
    else new DataWriter[InternalRow] { // strip the `_file` passenger
      private val proj = UnsafeProjection.create(dataIdx.map(i =>
        BoundReference(i, writeSchema.fields(i).dataType,
          writeSchema.fields(i).nullable)).toSeq)
      override def write(row: InternalRow): Unit = inner.write(proj(row))
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
