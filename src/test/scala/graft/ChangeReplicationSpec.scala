package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog, TableLog}
import graft.streaming.ChangeReplication

/** CDC replication built on the streaming change feed + keyed MERGE:
  * a replica drained via [[ChangeReplication.replicate]] must equal
  * the source snapshot at every drained offset — across the initial
  * snapshot, CoW DELETEs, UPDATEs (delete+insert pairs superseding by
  * key), and catch-up runs resuming from the checkpoint. */
class ChangeReplicationSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def bagEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def snapshot(dir: String): DataFrame =
    spark.read.format("arrow").load(dir).select(col("id"), col("tag"))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def latestEpoch(dir: String): Long =
    ArrowDataSource.latestCommittedEpoch(Paths.get(dir).toAbsolutePath.normalize)

  /** A replica table at a fresh directory holding `rows`. */
  private def replica(prefix: String, rows: Seq[(Long, String)] = Nil)
      : String = {
    import spark.implicits._
    val dst = tmp(prefix)
    rows.toDF("id", "tag")
      .coalesce(1).write.format("arrow").mode("overwrite").save(dst)
    dst
  }

  /** 100 rows, then a DELETE epoch and an UPDATE epoch. */
  private def sourceWithHistory(prefix: String): String = {
    import spark.implicits._
    val src = tmp(prefix)
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(src)
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id <= 20")
    spark.sql(s"UPDATE graft.arrow.`$src` SET tag = 'patched' " +
      "WHERE id BETWEEN 30 AND 40")
    src
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Unit = try q.processAllAvailable() finally q.stop()

  private def replicate(src: String, dst: String, ckpt: String): Unit =
    drain(ChangeReplication.replicate(spark, src, dst,
      keyCols = Seq("id"), checkpoint = ckpt))

  /** Source epochs the replica was bootstrapped from (its
    * `:snapshot` stamps). */
  private def snapshotStamps(dst: String): Seq[Long] =
    TableLog.forDir(dst).toSeq.flatMap(_.txns.collect {
      case (app, (_, v)) if app.endsWith(":snapshot") => v
    })

  /** The replay a fresh replica ran before the snapshot bootstrap:
    * the whole feed since epoch 0 applied to `dst` as one batch. */
  private def replayInto(src: String, dst: String, name: String): Unit = {
    val q = spark.readStream.format("arrow")
      .option("readChangeFeed", "true").option("startingEpoch", 0L)
      .load(src).writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    drain(q)
    val sunk = spark.table(name)
    ChangeReplication.applyBatch(spark.createDataFrame(
      java.util.Arrays.asList(sunk.collect(): _*), sunk.schema),
      dst, Seq("id"))
  }

  test("replica converges to the source across DML epochs and " +
      "checkpointed catch-up runs") {
    import spark.implicits._
    val src = Files.createTempDirectory("repl_src").toString
    val dst = Files.createTempDirectory("repl_dst").toString
    val ckpt = Files.createTempDirectory("repl_ckpt").toString
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(src)
    // bootstrap an EMPTY replica carrying the schema
    (1 to 1).map(i => (i.toLong, "x")).toDF("id", "tag").limit(0)
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(dst)
    assert(spark.read.format("arrow").load(dst).count() == 0)

    // epoch history on the source: snapshot + delete + update
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id <= 20")
    spark.range(30, 41).selectExpr("id AS k", "'patched' AS p")
      .createOrReplaceTempView("repl_patch")
    spark.sql(
      s"""MERGE INTO graft.arrow.`$src` t USING repl_patch s
         |ON t.id = s.k
         |WHEN MATCHED THEN UPDATE SET tag = s.p""".stripMargin)

    val q = ChangeReplication.replicate(spark, src, dst,
      keyCols = Seq("id"), checkpoint = ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "replica diverged after initial catch-up")
    assert(snapshot(dst).filter(col("tag") === "patched").count() == 11)

    // more DML while replication is down; resume from the checkpoint
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id % 7 = 0")
    spark.range(200, 206).selectExpr("id AS k", "'late' AS p")
      .createOrReplaceTempView("repl_late")
    spark.sql(
      s"""MERGE INTO graft.arrow.`$src` t USING repl_late s
         |ON t.id = s.k
         |WHEN MATCHED THEN UPDATE SET tag = s.p
         |WHEN NOT MATCHED THEN INSERT (id, tag) VALUES (s.k, s.p)""".stripMargin)
    val q2 = ChangeReplication.replicate(spark, src, dst,
      keyCols = Seq("id"), checkpoint = ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "replica diverged after resume")
    assert(snapshot(dst).filter(col("tag") === "late").count() == 6)

    // re-applying an already-applied batch is a no-op (idempotent by
    // key): force-apply the full feed once more against the replica
    val feed = spark.readStream.format("arrow")
      .option("readChangeFeed", "true").option("startingEpoch", 0L)
      .load(src)
    val replay = feed.writeStream
      .format("memory").queryName("repl_replay").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try replay.processAllAvailable() finally replay.stop()
    val sunk = spark.table("repl_replay")
    val materialized = spark.createDataFrame(
      java.util.Arrays.asList(sunk.collect(): _*), sunk.schema)
    ChangeReplication.applyBatch(materialized, dst, Seq("id"))
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "replay of applied changes changed the replica")
  }

  test("a 50-epoch backlog coalesces to a bounded job count — not " +
      "2 MERGE jobs per epoch — with exact last-touch-wins state") {
    import spark.implicits._
    val src = Files.createTempDirectory("repl_coal_src").toString
    val dst = Files.createTempDirectory("repl_coal_dst").toString
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(src)
    // upgrade to a logged table up front so every INSERT below
    // commits its own epoch (a flat dir would absorb them silently)
    graft.sources.arrow.ArrowDataSource.initTableLog(src)
    (1 to 1).map(i => (i.toLong, "x")).toDF("id", "tag").limit(0)
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(dst)
    // 50 DML epochs, with epoch-order-sensitive key histories the
    // coalescing must preserve: id=3 deleted then re-inserted (must
    // end PRESENT), id=4 updated then deleted (must end ABSENT)
    for (i <- 1 to 44)
      spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES (${100L + i}, 'e$i')")
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id = 3")
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id = 103")
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES (3, 'reborn')")
    spark.sql(s"UPDATE graft.arrow.`$src` SET tag = 'doomed' WHERE id = 4")
    spark.sql(s"UPDATE graft.arrow.`$src` SET tag = 'kept' WHERE id = 5")
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id = 4")
    // drain the whole feed into one static batch (the catch-up shape)
    val feed = spark.readStream.format("arrow")
      .option("readChangeFeed", "true").option("startingEpoch", 0L)
      .load(src)
    val drain = feed.writeStream
      .format("memory").queryName("repl_coal").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try drain.processAllAvailable() finally drain.stop()
    val sunk = spark.table("repl_coal")
    assert(sunk.select(col("_commit_epoch")).distinct().count() >= 50,
      "fixture did not produce a 50-epoch backlog")
    val materialized = spark.createDataFrame(
      java.util.Arrays.asList(sunk.collect(): _*), sunk.schema)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try ChangeReplication.applyBatch(materialized, dst, Seq("id"))
    finally {
      Thread.sleep(2000) // listener bus is async; let events drain
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() <= 30,
      s"50-epoch apply ran ${jobs.get()} jobs — per-epoch serial " +
        "MERGEs are back; coalescing should keep this O(1) in epochs")
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "coalesced replica diverged from the source")
    assert(snapshot(dst).filter(col("id") === 3)
      .select(col("tag")).as[String].collect().toSeq == Seq("reborn"),
      "delete-then-reinsert key must end present with the final value")
    assert(snapshot(dst).filter(col("id") === 4).count() == 0,
      "update-then-delete key must end absent")
    assert(snapshot(dst).filter(col("id") === 5)
      .select(col("tag")).as[String].collect().toSeq == Seq("kept"))
  }

  test("a fresh empty replica bootstraps from the source snapshot: " +
      "stamped at the source epoch, equal to the replay, not repeated") {
    val src = sourceWithHistory("boot_src")
    val dst = replica("boot_dst")
    val ckpt = tmp("boot_ckpt")
    replicate(src, dst, ckpt)
    assert(snapshotStamps(dst) == Seq(latestEpoch(src)),
      "the bootstrap must stamp the source epoch it read")
    val replayed = replica("boot_replay")
    replayInto(src, replayed, "boot_feed")
    assert(bagEqual(snapshot(dst), snapshot(replayed)),
      "bootstrapped replica differs from the replayed one")
    assert(bagEqual(snapshot(dst), snapshot(src)))

    // the source is unchanged: neither the same checkpoint nor a fresh
    // one bootstraps again or commits an epoch
    val synced = latestEpoch(dst)
    val ckpt2 = tmp("boot_ckpt2")
    replicate(src, dst, ckpt2)
    replicate(src, dst, ckpt)
    assert(latestEpoch(dst) == synced,
      "a replica in sync with an unchanged source gained an epoch")
    assert(snapshotStamps(dst).size == 1)

    // the fresh checkpoint resumed past the stamp: later DML streams in
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id % 3 = 0")
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES (500, 'late')")
    replicate(src, dst, ckpt2)
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "replica diverged after resuming past the snapshot stamp")
  }

  test("a source with a repeated key falls back to the replay") {
    import spark.implicits._
    val src = tmp("dup_src")
    Seq((1L, "a"), (2L, "c")).toDF("id", "tag").coalesce(1)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES (1, 'b')")
    val dst = replica("dup_dst")
    replicate(src, dst, tmp("dup_ckpt"))
    assert(snapshotStamps(dst).isEmpty, "a repeated key must not bootstrap")
    val replayed = replica("dup_replay")
    replayInto(src, replayed, "dup_feed")
    assert(bagEqual(snapshot(dst), snapshot(replayed)))
    assert(snapshot(dst).count() == 2, "the replay keeps one row per key")
  }

  test("a non-empty replica falls back to the replay") {
    val src = sourceWithHistory("full_src")
    val stale = Seq((999L, "stale"), (50L, "old"))
    val dst = replica("full_dst", stale)
    replicate(src, dst, tmp("full_ckpt"))
    assert(snapshotStamps(dst).isEmpty,
      "a replica holding rows must not bootstrap")
    val replayed = replica("full_replay", stale)
    replayInto(src, replayed, "full_feed")
    assert(bagEqual(snapshot(dst), snapshot(replayed)))
    assert(snapshot(dst).filter(col("id") === 999L).count() == 1)
  }

  test("a fresh replica of a vacuumed source seeds and then resumes") {
    val src = sourceWithHistory("vac_src")
    spark.sql(s"CALL graft.system.compact(path => '$src', " +
      "target_rows => 1000)").collect()
    spark.sql(s"CALL graft.system.vacuum(path => '$src', grace_ms => 0)")
      .collect()
    assert(TableLog.read(Paths.get(src).toAbsolutePath.normalize)
      .horizon > 0, "vacuum did not advance the horizon")
    val dst = replica("vac_dst")
    val ckpt = tmp("vac_ckpt")
    replicate(src, dst, ckpt)
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "replica of a vacuumed source diverged")
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id > 90")
    spark.sql(s"UPDATE graft.arrow.`$src` SET tag = 'after' WHERE id = 50")
    replicate(src, dst, ckpt)
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "replica diverged after resuming with the same checkpoint")
  }

  test("a key column the source lacks fails before the stream starts") {
    val src = sourceWithHistory("key_src")
    val err = intercept[IllegalArgumentException] {
      ChangeReplication.replicate(spark, src, replica("key_dst"),
        keyCols = Seq("idd"), checkpoint = tmp("key_ckpt"))
    }
    assert(err.getMessage.contains("idd"), err.getMessage)
  }

  test("an empty micro-batch commits no replica epoch") {
    val src = sourceWithHistory("empty_src")
    val dst = replica("empty_dst")
    replicate(src, dst, tmp("empty_ckpt"))
    val synced = latestEpoch(dst)
    drain(ChangeReplication.replicate(spark, src, dst, keyCols = Seq("id"),
      checkpoint = tmp("empty_ckpt2"), startingEpoch = latestEpoch(src) + 1))
    assert(latestEpoch(dst) == synced)
    assert(bagEqual(snapshot(dst), snapshot(src)))
  }

  test("two replicate streams sharing one session each converge to " +
      "their own source") {
    val srcA = sourceWithHistory("par_a_src")
    val srcB = sourceWithHistory("par_b_src")
    // B's rows differ from A's in every column, so a MERGE reading the
    // other stream's batch would show in either replica
    spark.sql(s"UPDATE graft.arrow.`$srcB` SET id = id + 1000, " +
      "tag = concat('b_', tag)")
    spark.sql(s"INSERT INTO graft.arrow.`$srcB` VALUES (5000, 'b_only')")
    // a replica holding a row replays the feed instead of bootstrapping
    // from a snapshot, so every batch of both streams runs a MERGE
    val dstA = replica("par_a_dst", Seq((50L, "old")))
    val dstB = replica("par_b_dst", Seq((1050L, "old")))
    val qa = ChangeReplication.replicate(spark, srcA, dstA,
      keyCols = Seq("id"), checkpoint = tmp("par_a_ckpt"))
    val qb = ChangeReplication.replicate(spark, srcB, dstB,
      keyCols = Seq("id"), checkpoint = tmp("par_b_ckpt"))
    try { qa.processAllAvailable(); qb.processAllAvailable() }
    finally { qa.stop(); qb.stop() }
    assert(bagEqual(snapshot(dstA), snapshot(srcA)),
      "replica A diverged from its source")
    assert(bagEqual(snapshot(dstB), snapshot(srcB)),
      "replica B diverged from its source")
    assert(snapshot(dstB).filter(col("id") === 5000L).count() == 1)
  }

  test("a NULL key matches its own replica row: updates of a NULL-key " +
      "source row replace it instead of adding copies") {
    import spark.implicits._
    val src = tmp("nullkey_src")
    Seq[(Option[Long], String)]((Some(1L), "a"), (None, "n0"),
      (Some(2L), "b")).toDF("id", "tag")
      .coalesce(1).write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    // a replica holding a row replays the feed through the keyed MERGE
    val dst = tmp("nullkey_dst")
    Seq[(Option[Long], String)]((Some(1L), "a")).toDF("id", "tag")
      .coalesce(1).write.format("arrow").mode("overwrite").save(dst)
    val ckpt = tmp("nullkey_ckpt")
    replicate(src, dst, ckpt)
    spark.sql(s"UPDATE graft.arrow.`$src` SET tag = 'n1' WHERE id IS NULL")
    replicate(src, dst, ckpt)
    spark.sql(s"UPDATE graft.arrow.`$src` SET tag = 'n2' WHERE id IS NULL")
    replicate(src, dst, ckpt)
    assert(bagEqual(snapshot(dst), snapshot(src)),
      "replica diverged from a source with a NULL key")
    assert(snapshot(dst).filter(col("id").isNull).count() == 1,
      "the replica must hold the one NULL-key row")
  }
}
