package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.arrow.{ArrowChanges, ArrowDataSource, TableLog, TableSnapshot}
import MaintainCore.{Target, assign, src}

/** CDC replication on the engine's own primitives: tail a logged
  * table's STREAMING change feed (`readChangeFeed`) and apply each
  * committed epoch to a replica table with keyed MERGE — the
  * materialized-replica pattern every CDC consumer builds.
  *
  * Apply algebra per epoch (ascending): with `I` the epoch's
  * insert-tagged rows and `D` its delete-tagged rows,
  *
  *   upserts  = I \ D   (multiset)  — copy-on-write carry-over rows
  *                                    appear in BOTH and cancel, so
  *                                    unchanged rows are never written;
  *   removals = keys(D \ I) minus keys(upserts) — an UPDATE's old
  *                                    version shares its key with the
  *                                    new one and is superseded, not
  *                                    deleted.
  *
  * Each step is a keyed MERGE into the replica, so re-applying a
  * replayed micro-batch (foreachBatch is at-least-once) converges to
  * the same state — idempotence comes from the keys, not the
  * transport. Epoch order matters (a key deleted then re-inserted in
  * consecutive epochs must end present), row order within an epoch
  * does not.
  *
  * Scale: each trigger moves O(churned bytes) through one MERGE per
  * epoch; the replica's copy-on-write rewrite touches only files
  * holding matched keys (runtime group filtering), so a day of DML
  * against a petabyte source replicates a day of changes. A fresh
  * replica starts from the source's snapshot, not by replaying every
  * epoch since 0 (see [[ChangeReplication.replicate]]). */
object ChangeReplication {

  /** Every replicate writer's appId starts with this; the checkpoint's
    * UUID follows. */
  private val AppPrefix = "graft_repl_"

  /** Suffix of the stamp a snapshot bootstrap commits: its version is
    * the source epoch the replica was seeded from. */
  private val SnapshotSuffix = ":snapshot"

  /** Start replicating `srcDir`'s change feed into `dstDir` (an
    * existing arrow table, possibly empty) keyed by `keyCols`.
    * Drains everything committed at start when `availableNow`
    * (batch-style catch-up), else runs continuously.
    *
    * `startingEpoch = 0` (the default) means "replicate the whole
    * table". A fresh stream (no committed batch in `checkpoint`) then
    * starts from a snapshot instead of replaying every epoch since 0,
    * as Delta's change-feed consumers do:
    *  - a replica carrying a `graft_repl_<uuid>:snapshot` stamp (from
    *    this checkpoint or an earlier one) resumes at stamp + 1;
    *  - a replica with no live row (log and footer stats, no data
    *    read) and no stamp of this writer is BOOTSTRAPPED: the
    *    source's latest epoch `e` is read as a snapshot and, when its
    *    keys are unique, appended in one replica epoch stamped
    *    `<appId>:snapshot = e`, committed only if the replica is still
    *    at the epoch it was checked empty at; the stream starts at
    *    `e + 1`.
    * On an empty replica with unique keys the replay would leave
    * exactly the rows live at `e` (carry-over pairs cancel, a key last
    * deleted is absent), so the bootstrap is exact; it also seeds a
    * replica of a vacuumed source, whose epoch 0 no longer streams.
    * Every other case replays as given: an explicit `startingEpoch`,
    * an existing checkpoint, a non-empty or already-stamped replica, a
    * repeated key in the snapshot, or a commit racing the bootstrap.
    *
    * `keyCols` are checked against the source's columns before
    * anything starts. */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      keyCols: Seq[String], checkpoint: String,
      startingEpoch: Long = 0L,
      availableNow: Boolean = true): StreamingQuery = {
    require(keyCols.nonEmpty, "replicate needs at least one key column")
    val srcCols = spark.read.format("arrow").load(srcDir).columns
    val missing = keyCols.filterNot(srcCols.contains)
    require(missing.isEmpty,
      s"replicate: key column(s) ${missing.mkString(", ")} not in " +
        s"$srcDir (columns: ${srcCols.mkString(", ")})")
    val appId = MaintainCore.appId(AppPrefix, checkpoint)
    val from =
      if (startingEpoch != 0L || hasCommittedBatch(spark, checkpoint))
        startingEpoch
      else fromSnapshot(spark, srcDir, dstDir, keyCols, appId)
    MaintainCore.start(spark, srcDir, checkpoint, from, availableNow) {
      (batch, batchId) =>
        applyBatch(batch, dstDir, keyCols, Some((appId, batchId)))
    }
  }

  /** Whether Spark's offsets log under `checkpoint` holds a batch: the
    * stream then resumes from it and ignores `startingEpoch`. */
  private def hasCommittedBatch(spark: SparkSession,
      checkpoint: String): Boolean = {
    val offsets = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
    val fs = offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(offsets) &&
      fs.listStatus(offsets).exists(_.getPath.getName.forall(_.isDigit))
  }

  /** The newest snapshot stamp any replicate writer committed to the
    * replica: the source epoch it was seeded from. */
  private def snapshotStamp(log: TableLog): Option[Long] =
    log.txns.collect {
      case (app, (epoch, v))
          if app.startsWith(AppPrefix) && app.endsWith(SnapshotSuffix) =>
        (epoch, v)
    }.maxByOption(_._1).map(_._2)

  /** Where a fresh whole-table stream starts (see [[replicate]]):
    * stamp + 1, `e + 1` after a bootstrap from source epoch `e`, or 0
    * to replay. */
  private def fromSnapshot(spark: SparkSession, srcDir: String,
      dstDir: String, keyCols: Seq[String], appId: String): Long = {
    val srcRoot = ArrowDataSource.sinkRoot(srcDir) match {
      case Some(r) => r
      case None => return 0L // no log, no feed: the stream reports it
    }
    def bootstrappable(snap: TableSnapshot): Boolean =
      !snap.log.exists(_.lastTxnVersion(appId).isDefined) &&
        snap.footers.liveRows().contains(0L)
    val snap0 = TableSnapshot.read(dstDir)
    snap0.log.flatMap(snapshotStamp) match {
      case Some(stamp) => return stamp + 1L
      case None => if (!bootstrappable(snap0)) return 0L
    }
    val e = ArrowDataSource.latestCommittedEpoch(srcRoot)
    val snap = spark.read.format("arrow").option("epochAsOf", e)
      .load(srcDir)
    def layout(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    // a replica of another layout takes the rows through the MERGE's
    // by-name assignment and casts, not a file append
    if (layout(spark.read.format("arrow").load(dstDir)) != layout(snap))
      return 0L
    // one aggregation over the keys: a repeated key would make the
    // snapshot hold rows the replay's one-row-per-key MERGE drops
    val repeated = snap.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
    if (!repeated.isEmpty) return 0L
    ArrowDataSource.initTableLog(dstDir)
    if (!ArrowDataSource.isTableLog(dstDir)) return 0L // streaming sink
    // the epoch the replica is checked empty at is the commit's base
    val dst = TableSnapshot.read(dstDir)
    if (dst.log.flatMap(snapshotStamp).isDefined || !bootstrappable(dst))
      return 0L
    // the codec a MERGE into the replica would write with
    val codec = dst.files(None).headOption
      .flatMap(f => ArrowDataSource.footerInfo(f).codec)
    val w = snap.write.format("arrow").mode("append")
    try {
      MaintainCore.commit(dstDir, Some((appId + SnapshotSuffix, e))) {
        ArrowDataSource.commitStaged(dstDir, dst.latest,
          codec.fold(w)(c => w.option("codec", c)))
      }
      e + 1L
    } catch {
      case _: java.util.ConcurrentModificationException => 0L
    }
  }

  /** Apply one micro-batch of tagged change rows (possibly spanning
    * many epochs) to the replica in ONE keyed MERGE total, however
    * long the epoch backlog:
    *
    *  1. Net per-(epoch, row) effect — one aggregation over the batch.
    *     Copy-on-write carry-over rows surface as insert+delete of
    *     equal values within one epoch and cancel here (the per-epoch
    *     `exceptAll` of the sequential formulation, computed
    *     set-at-once).
    *  2. Last-touch-wins per key — the replica MERGE is keyed, so the
    *     final state of a key is decided solely by the GREATEST epoch
    *     in the batch touching it; within that epoch an upsert
    *     supersedes a delete of the same key (an UPDATE's old version
    *     is superseded, not deleted). One window, `row_number = 1`.
    *  3. ONE MERGE of the winners: matched deletes DELETE, matched
    *     upserts UPDATE, unmatched upserts INSERT (winners are unique
    *     per key, so upsert and removal key sets never overlap).
    *
    * This coalescing is exactly equivalent to applying epochs
    * ascending one MERGE at a time (each later epoch's MERGE
    * overwrites what the earlier left for a key), while a
    * thousand-epoch catch-up backlog costs 1 job instead of 2000 —
    * the fix for serial per-epoch driver loops at scale. The single
    * MERGE is also ONE replica epoch: a crash can no longer land
    * upserts without their removals. Replay safety is belt and
    * braces: the keyed MERGE converges under re-application, and
    * when `txn` is given the batch's `(appId, version)` stamp commits
    * atomically with the epoch, so a replayed batch is skipped before
    * any job runs ([[graft.sources.arrow.ArrowDataSource.withPendingTxn]]).
    * A batch with no rows (an empty epoch window, such as the first
    * one after a snapshot bootstrap) returns right after the gate:
    * it runs no netting or MERGE job and commits no replica epoch. */
  def applyBatch(batch: DataFrame, dstDir: String,
      keyCols: Seq[String],
      txn: Option[(String, Long)] = None): Unit = {
    MaintainCore.applyOnce(batch, dstDir, txn) {
      val (dataCols, net) = MaintainCore.netRows(batch, keyCols)
      val ec = col(ArrowChanges.CommitEpochCol)
      val winners = net
        .withColumn("__rn", row_number().over(Window
          .partitionBy(keyCols.map(col): _*)
          // greatest epoch wins; within it, upsert beats delete
          .orderBy(ec.desc, col("__op").desc)))
        .filter(col("__rn") === 1)
        .select((dataCols.map(c => col(s"`$c`")) :+ col("__op")): _*)
      // The keyed MERGE evaluates its source several times (runtime-filter
      // triage, CoW rewrite, not-matched append are separate jobs), and
      // `winners` carries the whole net+window pipeline over the change
      // feed — pin the O(churned keys) result so the feed is scanned once
      // per batch, not once per MERGE-internal job (guide §5).
      val cached = winners.persist()
      try {
        val t = Target(dstDir)
        // null-safe: a NULL key matches its own replica row
        MaintainCore.mergeInto(cached, t,
            keyCols.map(k => t(k) <=> src(k)).reduce(_ && _))
          .whenMatched(src("__op") === "delete").delete()
          .whenMatched().update(assign(dataCols)(src))
          .whenNotMatched(src("__op") === "upsert")
          .insert(assign(dataCols)(src))
          .merge()
      } finally { cached.unpersist(); () }
    }
    ()
  }
}
