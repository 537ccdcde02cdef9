package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, MergeIntoWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.arrow.{ArrowChanges, ArrowDataSource, GraftCatalog, TableLog}

/** The skeleton every change-feed maintainer ([[ChangeReplication]],
  * [[IncrementalView]], [[Scd2Maintain]]) runs, Delta Lake's
  * idempotent-writer `txn` loop:
  *
  *  1. a writer identity (appId) derived from the checkpoint;
  *  2. a `readChangeFeed` stream whose micro-batches go to
  *     `foreachBatch`;
  *  3. per batch, the replay gate (`(appId, batchId)` already in the
  *     target's log: skip) and the empty-batch skip;
  *  4. one MERGE through `Dataset.mergeInto`, committed under the
  *     batch's txn stamp.
  *
  * A maintainer supplies only its algebra (what the batch nets to) and
  * its MERGE clauses. The MERGE source is the netted DataFrame itself,
  * aliased `s`; there is no session-global temp view, so streams
  * sharing one session cannot read each other's batches. */
private[streaming] object MaintainCore {

  /** A stable writer identity scoped to the checkpoint: Spark's batchId
    * sequence is scoped to it, so a fresh checkpoint restarts batch
    * numbering AND the replay gate together. */
  def appId(prefix: String, checkpoint: String): String =
    prefix + java.util.UUID.nameUUIDFromBytes(checkpoint.getBytes("UTF-8"))

  /** Stream `srcDir`'s change feed from `startingEpoch`, mapped by
    * `feed`, into `apply(batch, batchId)`. `availableNow` drains what
    * is committed at start and stops; otherwise the stream follows the
    * source. */
  def start(spark: SparkSession, srcDir: String, checkpoint: String,
      startingEpoch: Long, availableNow: Boolean,
      feed: DataFrame => DataFrame = identity)
      (apply: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = feed(spark.readStream.format("arrow")
      .option("readChangeFeed", "true")
      .option("startingEpoch", startingEpoch)
      .load(srcDir))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
    else writer).start()
  }

  /** The greatest version `app` has committed to the table at `dir`. */
  def lastVersion(dir: String, app: String): Option[Long] =
    TableLog.read(Paths.get(dir).toAbsolutePath.normalize)
      .lastTxnVersion(app)

  /** Run `body` with every commit to `dir` stamped `txn`, so the stamp
    * lands in the same epoch as the MERGE
    * ([[ArrowDataSource.withPendingTxn]]). */
  def commit[T](dir: String, txn: Option[(String, Long)])(body: => T): T =
    txn match {
      case Some((app, v)) => ArrowDataSource.withPendingTxn(dir, app, v)(body)
      case None => body
    }

  /** Apply one micro-batch to `dir` exactly once. Returns false when the
    * replay gate skips it (its `txn` stamp is already committed). A
    * batch with no rows passes the gate but runs no job and commits no
    * epoch. */
  def applyOnce(batch: DataFrame, dir: String,
      txn: Option[(String, Long)])(body: => Unit): Boolean =
    if (txn.exists { case (app, v) => lastVersion(dir, app).exists(_ >= v) })
      false
    else {
      if (!batch.isEmpty) commit(dir, txn)(body)
      true
    }

  /** The batch's data columns (the change-feed tags dropped, each of
    * `keyCols` required among them) and the batch netted per (epoch,
    * row): one aggregation leaving each changed row once, next to the
    * commit-epoch column, with `__op` = `upsert` or `delete`.
    * Copy-on-write carry-over rows surface as an insert and a delete of
    * equal values within one epoch and cancel. */
  def netRows(batch: DataFrame, keyCols: Seq[String])
      : (Seq[String], DataFrame) = {
    val dataCols = batch.columns.toSeq.filterNot(c =>
      c == ArrowChanges.ChangeTypeCol || c == ArrowChanges.CommitEpochCol)
    require(keyCols.forall(dataCols.contains),
      s"key columns ${keyCols.mkString(",")} not all present in " +
        s"${dataCols.mkString(",")}")
    val tc = col(ArrowChanges.ChangeTypeCol)
    (dataCols, batch
      .groupBy(col(ArrowChanges.CommitEpochCol) +: dataCols.map(col): _*)
      .agg(
        // update_postimage/update_preimage are an UPDATE epoch's
        // new/old values — insert/delete-equivalent under netting
        sum(when(tc.isin("insert", ArrowChanges.UpdatePostimage), 1L)
          .otherwise(0L)).as("__ins"),
        sum(when(tc.isin("delete", ArrowChanges.UpdatePreimage), 1L)
          .otherwise(0L)).as("__del"))
      .withColumn("__op",
        when(col("__ins") > col("__del"), lit("upsert"))
          .when(col("__del") > col("__ins"), lit("delete")))
      .filter(col("__op").isNotNull)) // carry-over rows cancel to null
  }

  /** Column `c` of a MERGE source (aliased `s`). */
  def src(c: String): Column = col(s"s.`$c`")

  /** The arrow table at `dir` as a MERGE target, named through the
    * graft catalog. `mergeInto` takes no target alias, so its columns
    * are qualified by that full name. */
  final case class Target(dir: String) {
    val name: String = s"graft.arrow.`$dir`"
    def apply(c: String): Column = col(s"$name.`$c`")
  }

  /** `c -> value(c)` for every target column `c` in `cols`: an UPDATE
    * or INSERT assignment map. */
  def assign(cols: Seq[String])(value: String => Column)
      : Map[String, Column] = cols.map(c => s"`$c`" -> value(c)).toMap

  /** MERGE `source` (aliased `s`) into `t` on `on`; the caller adds the
    * clauses and runs `.merge()`. The catalog `t` is named through is
    * registered on the session that runs the MERGE: inside
    * `foreachBatch` that is the stream's own session, not the caller's. */
  def mergeInto(source: DataFrame, t: Target, on: Column)
      : MergeIntoWriter[Row] = {
    GraftCatalog.register(source.sparkSession)
    source.as("s").mergeInto(t.name, on)
  }
}
