package graft.sources.arrow

import java.nio.file.Paths

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** DELTA-based (merge-on-read) row-level operations — the
  * Iceberg-position-delete shape, chosen for `set_dv` tables: instead
  * of rewriting every file that holds a matched row (the group-based
  * CoW in [[ArrowRowLevelOperation]]), Spark streams per-row
  * operations keyed by the stable row id `(_file, _pos)` and the
  * writer materializes
  *
  *   - deletes as DELETION-VECTOR bits (no data byte moves; sort and
  *     bucket stamps survive because the file's bytes are untouched),
  *   - updates as delete + insert (`representUpdateAsDeleteAndInsert`),
  *   - inserts as ordinary appended files through the standard writers
  *     (partition routing, zone maps, blooms, CHECK constraints).
  *
  * One atomic epoch commits the vectors, the removals (files whose
  * every row ended masked), and the new files together. At 100 TB an
  * UPDATE touching 0.1% of rows costs the matched rows' scan, kilobyte
  * vectors, and the new rows' bytes — not a rewrite of every touched
  * file. */
class ArrowDeltaOperation(snap: TableSnapshot, tableSchema: StructType,
    cmd: RowLevelOperation.Command)
    extends ArrowRowLevelOperation(snap, tableSchema, cmd)
    with SupportsDelta {

  override def description(): String =
    s"graft-arrow-delta-${cmd.toString.toLowerCase} $path"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(ArrowDataSource.FileMetaCol),
    Expressions.column(ArrowDataSource.PosMetaCol))

  // Updates arrive through DeltaWriter.update (NOT pre-split into
  // delete+insert): the writer routes updated rows' masks and
  // replacement files through SEPARATE bookkeeping from the plain
  // delete/insert arms, so a MERGE commit can tell row-exactly whether
  // its churn is purely matched-arm updates — the case the change feed
  // may stamp `#op update` on (update_preimage/postimage tagging),
  // closing the CoW path's documented MERGE exception where it is
  // closable. A merge that also inserts or deletes stays untagged: its
  // appended files mix postimages with brand-new rows and one
  // epoch-grain header cannot split them.
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo)
      : DeltaWriteBuilder = {
    // footer-stats sidecar first (one metadata read), per-file footer
    // opens only for uncovered files — never an O(files) sweep per DML
    val memo = snapshot.footers
    val infos = memo.files.map(memo.info)
    // DELETE only masks (bucket routing untouched); UPDATE/MERGE
    // append rows that would bypass bucket routing — refuse those on
    // bucketed layouts, like the CoW path
    if (cmd != RowLevelOperation.Command.DELETE &&
        infos.exists(_.bucket.isDefined))
      throw new UnsupportedOperationException(
        s"arrow: $path is a bucketed layout; UPDATE/MERGE inserts " +
          "would bypass bucket routing. Rewrite via bucketBy " +
          "overwrite instead.")
    val op = this
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new ArrowDeltaBatchWrite(op, path, info.schema(), partSchema,
            infos.headOption.flatMap(_.codec),
            infos.flatMap(_.blooms.keys).distinct.sorted)
        override def description(): String =
          s"graft-arrow-delta-write $path"
      }
    }
  }
}

/** Task payload: per-file, per-record-batch deleted-ordinal bitmaps
  * plus the files (and footer stats) the task's inserts landed.
  * UPDATE churn (masks of updated rows, files of their rewritten
  * values) travels separately from the plain delete/insert arms so the
  * commit can decide `#op update` eligibility row-exactly. */
case class ArrowDeltaCommitMessage(
    deletes: Map[String, Map[Int, Array[Byte]]],
    insertFiles: Seq[String],
    insertFooters: Seq[String],
    updateDeletes: Map[String, Map[Int, Array[Byte]]] = Map.empty,
    updateFiles: Seq[String] = Seq.empty,
    updateFooters: Seq[String] = Seq.empty) extends WriterCommitMessage

class ArrowDeltaBatchWrite(op: ArrowRowLevelOperation, path: String,
    writeSchema: StructType, partSchema: StructType,
    codec: Option[String], bloomCols: Seq[String])
    extends DeltaBatchWrite {

  // the incoming rows may carry row-id / metadata passengers; writers
  // get only real table columns
  private val dataIdx: Array[Int] = writeSchema.fields.zipWithIndex
    .filter { case (f, _) => f.name != ArrowDataSource.FileMetaCol &&
      f.name != ArrowDataSource.PosMetaCol }.map(_._2)
  private val rowSchema = StructType(dataIdx.map(writeSchema.fields(_)))

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new ArrowDeltaWriterFactory(path, writeSchema, rowSchema, dataIdx,
      partSchema.fieldNames.toSeq, codec, bloomCols,
      TableConstraints.bound(
        org.apache.spark.sql.SparkSession.active, path, rowSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = Paths.get(path).toAbsolutePath.normalize
    val msgs = messages.collect { case m: ArrowDeltaCommitMessage => m }
    val adds =
      msgs.flatMap(m => m.insertFiles ++ m.updateFiles).toSeq
    // union the tasks' per-file bitmaps — plain-delete and update
    // masks build ONE deletion vector per file (a row is masked either
    // way); their separation only informs the `#op` stamp below
    val merged = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[Int, java.util.BitSet]]
    def fold(byFile: Map[String, Map[Int, Array[Byte]]]): Unit =
      byFile.foreach { case (file, byBatch) =>
        val acc = merged.getOrElseUpdate(file,
          scala.collection.mutable.Map.empty)
        byBatch.foreach { case (b, bytes) =>
          val bs = java.util.BitSet.valueOf(bytes)
          acc.get(b) match {
            case Some(cur) => cur.or(bs)
            case None => acc(b) = bs
          }
        }
      }
    msgs.foreach(m => { fold(m.deletes); fold(m.updateDeletes) })
    // the vectors live at the commit base (the commit below fails if
    // the head moved past it)
    val existingDvs = op.snapshot.log.get.dvs(None)
    val removes = scala.collection.mutable.ArrayBuffer.empty[String]
    val dvs = scala.collection.mutable
      .ArrayBuffer.empty[(String, String, Long)]
    merged.toSeq.sortBy(_._1).foreach { case (file, byBatch) =>
      val f = Paths.get(file)
      val info = ArrowDataSource.footerInfo(f)
      val nBatches = info.sizes.length
      val mask = Array.fill(nBatches)(new java.util.BitSet())
      val rel = scala.util.Try(
        root.relativize(f.toAbsolutePath.normalize).toString).getOrElse(
        throw new IllegalStateException(
          s"arrow delta write: $file outside table root $root"))
      existingDvs.get(rel).foreach { case (dvRel, _) =>
        val old = DeletionVectors.read(root.resolve(dvRel).normalize)
        require(old.length == nBatches,
          s"arrow delta write: stale vector for $file")
        old.zipWithIndex.foreach { case (bs, i) => mask(i).or(bs) }
      }
      byBatch.foreach { case (b, bs) =>
        require(b >= 0 && b < nBatches,
          s"arrow delta write: batch $b out of range for $file")
        mask(b).or(bs)
      }
      val masked = DeletionVectors.cardinality(mask)
      if (info.rows.contains(masked)) removes += file
      else {
        val dvPath = DeletionVectors.write(root, mask)
        dvs += ((file, dvPath.toString, masked))
      }
    }
    // a no-op DML (condition matched nothing) must not burn an epoch
    if (adds.isEmpty && removes.isEmpty && dvs.isEmpty) return
    // UPDATE epochs stamp their kind (see the CoW commit's note): on
    // the delta path the tagging is ROW-exact — the dv-diff split
    // delivers exactly the masked rows (preimages) and the appended
    // files hold exactly the rewritten rows (postimages). A MERGE
    // qualifies exactly when its churn is PURE matched-arm update
    // (no plain delete masks, no not-matched insert files): then
    // masked rows ≡ preimages and appended files ≡ postimages, the
    // same row-exact invariant the UPDATE command has by construction.
    val hasUpdateChurn = msgs.exists(m =>
      m.updateDeletes.nonEmpty || m.updateFiles.nonEmpty)
    val hasPlainChurn = msgs.exists(m =>
      m.deletes.nonEmpty || m.insertFiles.nonEmpty)
    val kind =
      if (hasUpdateChurn && !hasPlainChurn) Some(ArrowChanges.OpUpdate)
      else None
    val epoch = ArrowDataSource.commitTableEpoch(path,
      op.snapshot.latest, adds, removes.toSeq, dvs = dvs.toSeq,
      opKind = kind)
    val pairs = msgs.flatMap(m =>
      m.insertFiles.zip(m.insertFooters) ++
        m.updateFiles.zip(m.updateFooters)).toSeq
    if (pairs.nonEmpty)
      FooterIndexFile.appendEpochFragment(path, epoch,
        ArrowDataSource.readFooterSchema(Paths.get(pairs.head._1)),
        pairs)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ArrowDeltaCommitMessage =>
      // both appended-file classes: plain-insert files AND the
      // update-arm's rewritten-row files — neither is referenced by
      // any manifest yet, and a leaked one would be invisible to
      // readers and to vacuum forever
      (m.insertFiles ++ m.updateFiles).foreach(f =>
        java.nio.file.Files.deleteIfExists(Paths.get(f)))
    }
}

class ArrowDeltaWriterFactory(path: String, writeSchema: StructType,
    rowSchema: StructType, dataIdx: Array[Int],
    partitionCols: Seq[String], codec: Option[String],
    bloomCols: Seq[String],
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)])
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new ArrowDeltaWriter(path, writeSchema, rowSchema, dataIdx,
      partitionCols, codec, bloomCols, checks, partitionId, taskId)
}

/** Executor-side delta writer: deletes accumulate as in-memory bitmaps
  * keyed by `(file, recordBatch)` (bounded by the task's matched rows),
  * inserts stream through the standard arrow writers. */
class ArrowDeltaWriter(path: String, writeSchema: StructType,
    rowSchema: StructType, dataIdx: Array[Int],
    partitionCols: Seq[String], codec: Option[String],
    bloomCols: Seq[String],
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)],
    partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val deletes = scala.collection.mutable
    .Map.empty[String, scala.collection.mutable.Map[Int, java.util.BitSet]]
  // matched-arm UPDATE churn, kept apart from the plain arms (files
  // are UUID-named, so two live writers in one task cannot collide)
  private val updateDeletes = scala.collection.mutable
    .Map.empty[String, scala.collection.mutable.Map[Int, java.util.BitSet]]

  private var inserter: org.apache.spark.sql.connector.write
    .DataWriter[InternalRow] = _
  private var updInserter: org.apache.spark.sql.connector.write
    .DataWriter[InternalRow] = _
  private lazy val proj = org.apache.spark.sql.catalyst.expressions
    .UnsafeProjection.create(dataIdx.map(i =>
      org.apache.spark.sql.catalyst.expressions.BoundReference(i,
        writeSchema.fields(i).dataType,
        writeSchema.fields(i).nullable)).toSeq)

  private def newRowWriter()
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    TableConstraints.enforcing(
      if (partitionCols.isEmpty)
        new ArrowDataWriter(path, rowSchema, codec, 8192, partitionId,
          taskId, Map.empty, bloomCols)
      else
        new ArrowPartitionedWriter(path, rowSchema, codec, 8192,
          partitionId, taskId, partitionCols, 64, bloomCols),
      checks)

  private def insertWriter()
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    if (inserter == null) inserter = newRowWriter()
    inserter
  }

  private def updateWriter()
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    if (updInserter == null) updInserter = newRowWriter()
    updInserter
  }

  // rowId layout follows ArrowDeltaOperation.rowId: (_file, _pos)
  private def mask(acc: scala.collection.mutable.Map[String,
      scala.collection.mutable.Map[Int, java.util.BitSet]],
      id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    val batch = (pos >>> 32).toInt
    val off = (pos & 0xFFFFFFFFL).toInt
    acc.getOrElseUpdate(file,
      scala.collection.mutable.Map.empty)
      .getOrElseUpdate(batch, new java.util.BitSet()).set(off)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    mask(deletes, id)

  /** Matched-arm update: the old row's ordinal masks like a delete,
    * the new values append like an insert — but through the UPDATE
    * bookkeeping, so the commit can stamp `#op update` when the whole
    * epoch is update churn (row-exact CDF images). */
  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    mask(updateDeletes, id)
    updateWriter().write(proj(row))
  }

  override def insert(row: InternalRow): Unit =
    insertWriter().write(proj(row))

  private def drain(w: org.apache.spark.sql.connector.write
      .DataWriter[InternalRow]): (Seq[String], Seq[String]) =
    Option(w).map(_.commit()) match {
      case Some(m: ArrowCommitMessage) => (m.files, m.footers)
      case Some(other) => throw new IllegalStateException(
        s"unexpected insert commit $other")
      case None => (Seq.empty[String], Seq.empty[String])
    }

  override def commit(): WriterCommitMessage = {
    val (files, footers) = drain(inserter)
    val (uFiles, uFooters) = drain(updInserter)
    def bytes(m: scala.collection.mutable.Map[String,
        scala.collection.mutable.Map[Int, java.util.BitSet]])
        : Map[String, Map[Int, Array[Byte]]] =
      m.view.mapValues(_.view.mapValues(_.toByteArray).toMap).toMap
    ArrowDeltaCommitMessage(bytes(deletes), files, footers,
      bytes(updateDeletes), uFiles, uFooters)
  }

  override def abort(): Unit = {
    Option(inserter).foreach(_.abort())
    Option(updInserter).foreach(_.abort())
  }

  override def close(): Unit = ()
}
