package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.arrow.ArrowChanges
import MaintainCore.{Target, assign, src}

/** Incremental SCD TYPE-2 dimension maintenance from a logged table's
  * change feed — the third CDC consumer next to the keyed replica
  * ([[ChangeReplication]]) and the additive rollup
  * ([[IncrementalView]]): instead of the source's CURRENT state, the
  * dimension keeps every key's full VERSION HISTORY as half-open
  * epoch intervals
  *
  *   (data..., valid_from, valid_to, is_current)
  *
  * where `valid_from` is the commit epoch that produced the version,
  * `valid_to` the epoch that superseded (or deleted) it — NULL while
  * open — and `is_current` marks the one open version of a live key.
  *
  * Apply algebra per micro-batch (which may span many epochs):
  *  1. net per-(epoch, row) — copy-on-write carry-over rows surface as
  *     insert+delete of equal values within one epoch and cancel;
  *  2. one EVENT per (key, epoch) — an UPDATE's old version shares the
  *     epoch with its replacement and is superseded (upsert beats
  *     delete), leaving either `upsert(values)` or `delete`;
  *  3. version intervals by a per-key `lead(epoch)`: every upsert event
  *     opens a version at its epoch, closed by the key's next event in
  *     the batch (still open if none — that version is current unless a
  *     trailing delete closed it);
  *  4. ONE MERGE: each key's first batch event CLOSES the dimension's
  *     existing open version (valid_to = first event epoch), and the
  *     precomputed version rows INSERT. The close arm is guarded by
  *     `t.valid_from < s.close_epoch`, so replaying the whole batch
  *     matches nothing and the MERGE is idempotent even before the
  *     transaction stamp skips it ([[graft.sources.arrow.ArrowDataSource
  *     .withPendingTxn]] replay gate, belt and braces like the other
  *     CDC consumers).
  *
  * Scale: a petabyte dimension absorbs a day of churn as O(churned
  * keys) MERGE work — runtime group filtering rewrites only files
  * holding touched keys' open versions, closed history is never read
  * or written again (time-partition it by `valid_to` and the MERGE's
  * `is_current` arm prunes to the open partition at planning time). */
object Scd2Maintain {
  val ValidFromCol = "valid_from"
  val ValidToCol = "valid_to"
  val IsCurrentCol = "is_current"

  /** Start maintaining `dimDir` (an existing arrow table with the
    * source's data columns plus the three SCD2 columns, possibly
    * empty) from `srcDir`'s change feed, keyed by `keyCols` (which
    * must be unique in the source). */
  def maintain(spark: SparkSession, srcDir: String, dimDir: String,
      keyCols: Seq[String], checkpoint: String,
      startingEpoch: Long = 0L,
      availableNow: Boolean = true): StreamingQuery = {
    require(keyCols.nonEmpty, "scd2 needs at least one key column")
    val appId = MaintainCore.appId("graft_scd2_", checkpoint)
    MaintainCore.start(spark, srcDir, checkpoint, startingEpoch,
        availableNow) { (batch, batchId) =>
      applyBatch(batch, dimDir, keyCols, Some((appId, batchId)))
    }
  }

  /** Apply one micro-batch of tagged change rows to the dimension in
    * one MERGE (see the object doc for the algebra). A batch with no
    * rows runs no netting or MERGE job and commits no dimension epoch. */
  def applyBatch(batch: DataFrame, dimDir: String,
      keyCols: Seq[String],
      txn: Option[(String, Long)] = None): Unit = {
    MaintainCore.applyOnce(batch, dimDir, txn) {
      val (dataCols, net) = MaintainCore.netRows(batch, keyCols)
      val ec = col(ArrowChanges.CommitEpochCol)
      // 2. one event per (key, epoch): upsert supersedes delete
      val perKeyEpoch = Window
        .partitionBy((keyCols.map(col) :+ ec): _*)
        .orderBy(col("__op").desc)
      val wk = Window.partitionBy(keyCols.map(col): _*)
      // `events` feeds both union branches (inserts + closes) and the
      // MERGE's internal jobs; a persist was tried here (round-18,
      // guide §5) and measured SLOWER back-to-back (2.89/3.27 s
      // unpinned vs 3.19/3.68 pinned at sf0.1): unlike
      // ChangeReplication's winners pipeline (two stacked windows, 6
      // internal re-evaluations, 5.26 → 1.94 s from the same fix), this
      // source is one CDF scan + netting agg, and the dimension MERGE's
      // triage short-circuits — the materialization barrier costs more
      // than the saved recompute. Left unpinned deliberately.
      val events = net // 1. net
        .withColumn("__rn", row_number().over(perKeyEpoch))
        .filter(col("__rn") === 1)
        // 3. per-key interval endpoints
        .withColumn("__next", lead(ec, 1).over(wk.orderBy(ec.asc)))
        .withColumn("__first", min(ec).over(wk))
      val dcols = dataCols.map(c => col(s"`$c`"))
      val inserts = events.filter(col("__op") === "upsert")
        .select(dcols ++ Seq(
          ec.cast("long").as(ValidFromCol),
          col("__next").cast("long").as(ValidToCol),
          col("__next").isNull.as(IsCurrentCol),
          lit("insert").as("__action"),
          lit(-1L).as("__close_epoch")): _*)
      val closes = events.filter(ec === col("__first"))
        .select(dcols ++ Seq(
          lit(-1L).as(ValidFromCol),
          lit(null).cast("long").as(ValidToCol),
          lit(false).as(IsCurrentCol),
          lit("close").as("__action"),
          ec.cast("long").as("__close_epoch")): _*)
      // 4. close each key's open version, insert the version rows
      // (keys match null-safely: a NULL key closes its own version)
      val t = Target(dimDir)
      val action = src("__action")
      MaintainCore.mergeInto(inserts.unionAll(closes), t,
          keyCols.map(k => t(k) <=> src(k)).reduce(_ && _) && (
            (action === "close" && t(IsCurrentCol) &&
              t(ValidFromCol) < src("__close_epoch")) ||
            (action === "insert" && t(ValidFromCol) === src(ValidFromCol))))
        .whenMatched(action === "close").update(Map(
          s"`$ValidToCol`" -> src("__close_epoch"),
          s"`$IsCurrentCol`" -> lit(false)))
        .whenNotMatched(action === "insert")
        .insert(assign(dataCols ++
          Seq(ValidFromCol, ValidToCol, IsCurrentCol))(src))
        .merge()
    }
    ()
  }
}
