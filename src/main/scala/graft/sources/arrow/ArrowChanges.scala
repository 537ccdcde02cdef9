package graft.sources.arrow

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** Change feed over the table log (Delta CDF's batch shape): row-level
  * changes between two committed epochs, computed from CHURNED FILES
  * ONLY — never a full-table diff.
  *
  * The log makes the file algebra exact: with `C` the files live at
  * both epochs, `A` the files added in the window, and `R` the files
  * removed, the row multisets satisfy `V_to = V_C + V_A` and
  * `V_from = V_C + V_R`, so
  *
  *   inserts = V_A \ V_R   and   deletes = V_R \ V_A   (multiset \)
  *
  * — the shared-file term cancels WITHOUT being read. Copy-on-write
  * rewrites carry unchanged rows into both `A` and `R`, where the
  * `exceptAll` annihilates them, leaving exactly the rows DML touched.
  * At 100 TB the cost is O(churned bytes) to scan and one exchange
  * over churned rows for the anti-diff: a day of DML against a
  * petabyte table reads the day's files, not the petabyte.
  *
  * An UPDATE therefore surfaces as (delete old-values, insert
  * new-values) — CDC's upsert pair; downstream keys them however the
  * table is keyed. Removed files are still on disk until vacuum (the
  * same invariant `VERSION AS OF` rests on), so `from` must be at or
  * past the vacuum horizon. */
object ArrowChanges {

  val ChangeTypeCol = "_change_type"
  val CommitEpochCol = "_commit_epoch"

  /** Manifest `#op` kind a row-level UPDATE stamps on its epoch. */
  val OpUpdate = "update"

  /** Streaming-feed tags for UPDATE-stamped epochs (Delta CDF's
    * update_preimage/update_postimage): removed/masked rows are the
    * updated rows' OLD values, added rows their NEW values, so an
    * external consumer can tell an UPDATE from an unrelated
    * delete+insert pair. Granularity follows the feed's documented
    * file-grain contract: on the merge-on-read (deletion-vector) path
    * the tagging is ROW-exact; on a copy-on-write rewrite the carried
    * (untouched) rows of a rewritten file surface as equal-valued
    * preimage/postimage pairs that cancel under replay, exactly like
    * the insert/delete carry-over pairs before them. Consumers that
    * net (ChangeReplication, IncrementalView, Scd2Maintain) treat
    * postimage as insert-equivalent and preimage as
    * delete-equivalent. */
  val UpdatePreimage = "update_preimage"
  val UpdatePostimage = "update_postimage"

  /** insert/delete (or the update-tagged equivalents) for the epoch. */
  private[arrow] def tagsFor(isUpdate: Boolean): (String, String) =
    if (isUpdate) (UpdatePostimage, UpdatePreimage)
    else ("insert", "delete")

  /** Rows changed in epoch window `(from, to]` of the logged table at
    * `path`, tagged insert/delete in [[ChangeTypeCol]]. `from == to`
    * yields an empty frame with the right schema. */
  def between(spark: SparkSession, path: String, from: Long,
      to: Long): DataFrame = {
    require(ArrowDataSource.sinkRoot(path).isDefined,
      s"table_changes: $path carries no commit log to diff over")
    val log = TableLog.read(Paths.get(path).toAbsolutePath.normalize)
    val latest = log.latest
    require(from >= 0 && to <= latest && from <= to,
      s"table_changes: window ($from, $to] out of range — $path has " +
        s"committed epochs 0..$latest")
    val horizon = log.horizon
    require(from >= horizon,
      s"table_changes: epoch $from of $path predates the vacuum " +
        s"horizon $horizon — removed files of that window were " +
        s"reclaimed; earliest diffable epoch is $horizon")
    val schema = spark.read.format("arrow").load(path).schema
    // OPTIMIZE-only window: every entry in (from, to] belongs to a
    // data-neutral maintenance epoch, so the row diff is empty BY
    // CONSTRUCTION — short-circuit before the general path scans the
    // rewritten generation AND its originals (O(2× table) for a full
    // compaction) only to cancel them in the exceptAll.
    val onlyNeutral = !log.history.exists(en =>
      en.epoch > from && en.epoch <= to && !log.neutral(en.epoch))
    if (onlyNeutral)
      return spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        .withColumn(ChangeTypeCol, lit("insert"))
    val fromSet = log.live(Some(from)).map(_._2).toSet
    val toSet = log.live(Some(to)).map(_._2).toSet
    val added = (toSet -- fromSet).toSeq.sorted
    val removed = (fromSet -- toSet).toSeq.sorted
    // Merge-on-read deletes churn ROWS without churning files: a
    // shared file whose deletion vector differs across the window
    // joins BOTH sides, each read pinned (epochAsOf) to its side's
    // vector — the anti-diff then emits exactly the newly masked rows
    // as deletes. Cost stays O(churned + dv-changed bytes).
    val dvFrom = log.dvs(Some(from))
    val dvTo = log.dvs(Some(to))
    val dvChanged = (fromSet intersect toSet)
      .filter(rel => dvFrom.get(rel) != dvTo.get(rel)).toSeq.sorted
    def readFiles(rels: Seq[String], asOf: Long): DataFrame =
      if (rels.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      else spark.read.format("arrow").schema(schema)
        .option("files", rels.mkString(","))
        .option("epochAsOf", asOf).load(path)
    val a = readFiles(added ++ dvChanged, to)
    val r = readFiles(removed ++ dvChanged, from)
    a.exceptAll(r).withColumn(ChangeTypeCol, lit("insert"))
      .unionAll(r.exceptAll(a).withColumn(ChangeTypeCol, lit("delete")))
  }

  /** FILE-grain change partitions for epochs in `(after, upTo]` —
    * shared by the streaming micro-batch planner (one epoch window per
    * trigger) and the batch `readChangeFeed` scan (the whole window at
    * once): each churned file of a non-neutral epoch becomes one
    * tagged split. Removed files are still on disk (the vacuum-horizon
    * invariant the CALLER checks), so the reader opens them directly,
    * bypassing visibility. */
  private[arrow] def changePartitions(path: String, log: TableLog,
      partSchema: org.apache.spark.sql.types.StructType,
      footerMemo: FooterIndex, after: Long, upTo: Long,
      partFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val root = log.root
    // UPDATE-stamped epochs tag pre/postimages instead of plain
    // delete/insert (see the tag constants' contract note)
    val updates = log.ops.filter(_._2 == OpUpdate).keySet
    // a remove/add split must apply the vector LIVE at its boundary,
    // or the feed re-delivers rows an earlier dv epoch already deleted
    // (and drops a restore's resurrection of masked rows)
    def dvOf(epoch: Long, rel: String): Option[String] =
      log.dvAt(rel, epoch)
        .map { case (dvRel, _) => root.resolve(dvRel).normalize.toString }
    val entries = windowEntries(path, log, after, upTo)
    // partition-column predicates prune churned files EXACTLY (the
    // value is constant per directory), same as the ordinary scan —
    // without this a pushed-then-consumed partition filter would
    // silently return every partition's churn
    val pruned =
      if (partFilters.isEmpty || partSchema.isEmpty) entries
      else {
        val keep = ArrowDataSource.pruneByPartitionFilters(
          entries.map(en => root.resolve(en.rel).normalize).distinct,
          path, partSchema, partFilters)
          .map(_.toString).toSet
        entries.filter(en =>
          keep(root.resolve(en.rel).normalize.toString))
      }
    // an ADD and a dv event for the same file in ONE epoch (restore's
    // vector reinstatement): the add split already applies the epoch's
    // vector, so a separate dv-diff split would fabricate deletes
    val addsInEpoch: Set[(Long, String)] = pruned.collect {
      case en if !en.remove && en.dv.isEmpty => (en.epoch, en.rel)
    }.toSet
    pruned
      .sortBy(en => (en.epoch, en.remove, en.rel))
      .flatMap { en =>
        val (insTag, delTag) = tagsFor(updates(en.epoch))
        val f = root.resolve(en.rel).normalize
        val partVals: Array[String] =
          if (partSchema.isEmpty) Array.empty
          else ArrowDataSource.partitionValuesOf(path, f, partSchema.fieldNames.toSeq)
            .map(_.orNull).toArray
        val nBlocks = footerMemo.info(f).sizes.length
        en.dv match {
          case Some(_) if addsInEpoch((en.epoch, en.rel)) => None
          case None if en.remove =>
            // removed file: deliver the rows VISIBLE just before the
            // removal — its vector at epoch-1 still masks
            Some(ArrowFilePartition(f.toString, (0 until nBlocks).toArray,
              partVals, -1, delTag, en.epoch,
              dvFile = dvOf(en.epoch - 1, en.rel).orNull)
              : org.apache.spark.sql.connector.read.InputPartition)
          case None =>
            // added file: deliver the rows visible AT this epoch (a
            // restore may re-add a file together with its vector)
            Some(ArrowFilePartition(f.toString, (0 until nBlocks).toArray,
              partVals, -1, insTag, en.epoch,
              dvFile = dvOf(en.epoch, en.rel).orNull)
              : org.apache.spark.sql.connector.read.InputPartition)
          case Some((dvRel, _)) =>
            // merge-on-read delete epoch: ROW-exact by construction —
            // the split keeps exactly the ordinals THIS epoch masked
            // (new vector minus the previous one, dvInvert selection),
            // so the feed delivers the deleted rows themselves, no
            // carry-over pairs to cancel
            val dvAbs = diffSidecar(log, en.epoch, en.rel, dvRel)
            Some(ArrowFilePartition(f.toString, (0 until nBlocks).toArray,
              partVals, -1, delTag, en.epoch,
              dvFile = dvAbs, dvInvert = true)
              : org.apache.spark.sql.connector.read.InputPartition)
        }
      }.toArray
  }

  /** Log entries in `(after, upTo]` under `path` (the table root or a
    * partition subdirectory of it). Epochs marked data-neutral
    * (compaction / z-order — same row multiset, new files) are SKIPPED
    * entirely: their churn is invisible to CDC consumers, Delta CDF's
    * OPTIMIZE contract. Replay stays value-exact — the rewritten rows
    * were already delivered by the epochs that first inserted them. */
  private[arrow] def windowEntries(path: String, log: TableLog,
      after: Long, upTo: Long): Seq[TableLog.LogEntry] = {
    val prefix = Paths.get(path).toAbsolutePath.normalize
    log.history
      .filter(en => en.epoch > after && en.epoch <= upTo)
      .filterNot(en => log.neutral(en.epoch))
      .filter(en => log.root.resolve(en.rel).normalize.startsWith(prefix))
  }

  /** The bitmap of rows epoch `epoch` newly masked on `rel`: its
    * committed vector minus the previous live one. First-delete epochs
    * reuse the committed sidecar unchanged; re-deletes materialize a
    * derived `cdf_<epoch>_<hash>.dv` sidecar once (deterministic name,
    * exists-check idempotent — vectors are immutable once committed). */
  private def diffSidecar(log: TableLog, epoch: Long,
      rel: String, dvRel: String): String = {
    val root = log.root
    val committed = root.resolve(dvRel).normalize
    val prev = log.dvAt(rel, epoch - 1)
    prev match {
      case None => committed.toString
      case Some((prevRel, _)) =>
        val digest = java.security.MessageDigest.getInstance("SHA-1")
          .digest(rel.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val out = root.resolve(ArrowDataSource.DvDirName)
          .resolve(s"cdf_${epoch}_$digest.dv")
        if (!java.nio.file.Files.exists(out)) {
          val now = DeletionVectors.read(committed)
          val before = DeletionVectors.read(root.resolve(prevRel).normalize)
          val diff = now.zipWithIndex.map { case (bs, i) =>
            val d = bs.clone().asInstanceOf[java.util.BitSet]
            if (i < before.length) d.andNot(before(i))
            d
          }
          AtomicFiles.replace(out, DeletionVectors.serialize(diff))
        }
        out.toString
    }
  }
}

/** STREAMING change feed over the table log (Delta CDF's streaming
  * shape): `spark.readStream.format("arrow")
  * .option("readChangeFeed", true).load(dir)` tails committed epochs
  * and delivers each epoch's churned files as rows tagged
  * [[ArrowChanges.ChangeTypeCol]] (insert/delete) and
  * [[ArrowChanges.CommitEpochCol]].
  *
  * Offsets are COMMIT EPOCHS — one long in the checkpoint however long
  * the stream lives, replay-exact because the log is immutable below
  * the vacuum horizon. Each trigger reads only the files epochs in
  * `(start, end]` added or removed: O(churned bytes), never a table
  * scan, and no exchange — every file is one tagged split.
  *
  * Granularity contract (the documented difference from the row-exact
  * batch diff [[ArrowChanges.between]]): changes are FILE-grain. A
  * copy-on-write rewrite surfaces carried-over rows as a
  * delete+insert pair of equal values; replaying the stream in epoch
  * order (deletes of an epoch applied before its inserts) still
  * converges to exactly the table state — the pairs cancel — but
  * per-epoch row counts overstate the logical change. Consumers
  * needing minimal per-epoch diffs run `between(e-1, e)` inside
  * `foreachBatch` keyed by [[ArrowChanges.CommitEpochCol]]; the
  * streaming source exists so the EPOCH CURSOR (discovery, recovery,
  * admission control, AvailableNow draining) rides Spark's
  * checkpointing instead of hand-rolled driver loops.
  *
  * `startingEpoch` (default: the latest committed epoch at stream
  * start, Delta's "changes from now on") rewinds the cursor; epoch 0
  * then replays the initial snapshot as inserts. Vacuum bounds rewind:
  * a start below the vacuum horizon ([[TableLog.horizon]]) fails fast rather
  * than silently skipping reclaimed epochs. */
class ArrowChangesMicroBatchStream(path: String, schema: org.apache.spark.sql.types.StructType,
    partSchema: org.apache.spark.sql.types.StructType,
    footerMemo: FooterIndex, // the starting scan's: footer parses only
    startingEpoch: Option[Long], maxFilesPerTrigger: Option[Int],
    partFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private val root: java.nio.file.Path =
    ArrowDataSource.sinkRoot(path).getOrElse(throw new IllegalArgumentException(
      s"arrow readChangeFeed: $path carries no commit log — only logged " +
        "tables (DML'd, or written by the arrow streaming sink) have a " +
        "change feed"))

  case class CdfOffset(epoch: Long) extends Offset {
    override def json(): String = s"""{"epoch":$epoch}"""
  }

  override def initialOffset(): Offset = {
    val e = startingEpoch.map(_ - 1L)
      .getOrElse(ArrowDataSource.latestCommittedEpoch(root))
    // The horizon epoch itself is NOT streamable: compactLog's history
    // prune drops remove events up to AND INCLUDING the horizon, so
    // delivering epoch == horizon would silently omit its deletes.
    // Earliest deliverable epoch is horizon + 1, i.e. cursor
    // e >= horizon — the bound ArrowChanges.between enforces on
    // `from`. Horizon 0 means "never pruned" (remove events cannot
    // exist at epoch 0), so the full log including the epoch-0
    // snapshot (cursor -1) stays streamable there.
    val horizon = TableLog.read(root).horizon
    require(horizon == 0L || e >= horizon,
      s"arrow readChangeFeed: startingEpoch ${e + 1} of $path predates " +
        s"the vacuum horizon $horizon — removed files of those epochs " +
        s"were reclaimed; earliest streamable epoch is ${horizon + 1}")
    CdfOffset(e)
  }

  /** File count of the window — admission control's budget input. */
  private def windowCounts(after: Long, upTo: Long): Seq[(Long, Int)] =
    ArrowChanges.windowEntries(path, TableLog.read(root), after, upTo)
      .groupBy(_.epoch).view.mapValues(_.size).toSeq.sortBy(_._1)

  // ---- Trigger.AvailableNow: drain exactly what exists at start ----
  private var availableNowTarget: Option[Offset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget =
      Some(CdfOffset(ArrowDataSource.latestCommittedEpoch(root)))

  // ---- Admission control: cap each trigger's file reads, at EPOCH
  // granularity (an epoch's change set is the atomic unit) ----------
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdfOffset].epoch
    val target = availableNowTarget.getOrElse(
      CdfOffset(ArrowDataSource.latestCommittedEpoch(root)))
        .asInstanceOf[CdfOffset]
    limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles
          if target.epoch > s =>
        val byEpoch = windowCounts(s, target.epoch)
        var end = s
        var budget = mf.maxFiles()
        var any = false
        val it = byEpoch.iterator
        var stop = false
        while (it.hasNext && !stop) {
          val (ep, cnt) = it.next()
          if (!any || cnt <= budget) { end = ep; budget -= cnt; any = true }
          else stop = true
        }
        CdfOffset(if (any) end else target.epoch)
      case _ => target
    }
  }

  override def reportLatestOffset(): Offset =
    CdfOffset(ArrowDataSource.latestCommittedEpoch(root))

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def deserializeOffset(json: String): Offset = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    CdfOffset(mapper.readTree(json).get("epoch").asLong())
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[CdfOffset].epoch
    val e = end.asInstanceOf[CdfOffset].epoch
    // replan after a restart re-checks the horizon: vacuum may have
    // advanced past a checkpointed-but-undelivered window
    val log = TableLog.read(root)
    val horizon = log.horizon
    require(horizon == 0L || s >= horizon,
      s"arrow readChangeFeed: checkpointed epoch window ($s, $e] of " +
        s"$path predates the vacuum horizon $horizon — the feed cannot " +
        "be replayed exactly; restart from a fresh checkpoint")
    ArrowChanges.changePartitions(path, log, partSchema, footerMemo,
      s, e, partFilters).map(p => p: InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(schema, Array.empty, partSchema,
      footerMemo.snap.declaration)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
