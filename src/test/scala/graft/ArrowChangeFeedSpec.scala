package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowChanges, ArrowDataSource, ArrowOptimize, GraftCatalog, TableLog}

/** Streaming change feed (`readChangeFeed`): epoch-offset micro-batches
  * over the table log, each delivering an epoch's churned files as rows
  * tagged `_change_type` / `_commit_epoch`. The pinned contract:
  *
  *  - REPLAY CONVERGENCE — for every epoch e, the feed's inserts minus
  *    deletes up to e (multiset) reconstructs `VERSION AS OF e`;
  *  - per-epoch NET change equals the row-exact batch diff
  *    [[ArrowChanges.between]] (file-grain CoW pairs cancel);
  *  - the epoch cursor checkpoints: a restarted stream resumes at the
  *    committed epoch, delivering only newer commits;
  *  - default start is the latest epoch (changes from now on);
  *  - vacuum bounds rewind with a fast failure, never a silent skip. */
class ArrowChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  /** A logged table with 3 committed epochs of history:
    * 0 = initial snapshot (2 files, ids 1..100),
    * 1 = CoW DELETE of ids <= 30,
    * 2 = CoW DELETE of ids > 90. */
  private def tableWithHistory(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("arrow_cdf").toString
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(dir)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 30")
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id > 90")
    dir
  }

  private def drainFeed(dir: String, sinkName: String,
      startingEpoch: Option[Long] = None,
      checkpoint: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    var r = spark.readStream.format("arrow")
      .option("readChangeFeed", "true")
    startingEpoch.foreach(e => r = r.option("startingEpoch", e))
    maxFilesPerTrigger.foreach(n =>
      r = r.option("maxFilesPerTrigger", n))
    var w = r.load(dir).writeStream.outputMode("append")
      .format("memory").queryName(sinkName)
      .trigger(Trigger.AvailableNow())
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
    // re-materialize: MemoryPlan attribute ids don't dedup under
    // self-referencing set ops (exceptAll of two branches)
    val sunk = spark.table(sinkName)
    spark.createDataFrame(
      java.util.Arrays.asList(sunk.collect(): _*), sunk.schema)
  }

  private def bagEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("replay from epoch 0 reconstructs every committed version") {
    val dir = tableWithHistory()
    val feed = drainFeed(dir, "cdf_replay", startingEpoch = Some(0L))
    val latest = ArrowDataSource.latestCommittedEpoch(
      java.nio.file.Paths.get(dir))
    assert(latest == 2L)
    for (e <- 0L to latest) {
      val upTo = feed.filter(col(ArrowChanges.CommitEpochCol) <= e)
      val state = upTo
        .filter(col(ArrowChanges.ChangeTypeCol) === "insert")
        .select(col("id"), col("tag"))
        .exceptAll(upTo
          .filter(col(ArrowChanges.ChangeTypeCol) === "delete")
          .select(col("id"), col("tag")))
      val versioned = spark.read.format("arrow")
        .option("epochAsOf", e).load(dir).select(col("id"), col("tag"))
      assert(bagEqual(state, versioned), s"replay diverges at epoch $e")
    }
  }

  test("per-epoch net change equals the row-exact batch diff") {
    val dir = tableWithHistory()
    val feed = drainFeed(dir, "cdf_replay_2", startingEpoch = Some(0L))
    for (e <- 1L to 2L) {
      val ofEpoch = feed.filter(col(ArrowChanges.CommitEpochCol) === e)
      val ins = ofEpoch
        .filter(col(ArrowChanges.ChangeTypeCol) === "insert")
        .select(col("id"), col("tag"))
      val del = ofEpoch
        .filter(col(ArrowChanges.ChangeTypeCol) === "delete")
        .select(col("id"), col("tag"))
      val exact = ArrowChanges.between(spark, dir, e - 1, e)
      val exactIns = exact
        .filter(col(ArrowChanges.ChangeTypeCol) === "insert")
        .select(col("id"), col("tag"))
      val exactDel = exact
        .filter(col(ArrowChanges.ChangeTypeCol) === "delete")
        .select(col("id"), col("tag"))
      assert(bagEqual(ins.exceptAll(del), exactIns),
        s"epoch $e net inserts != between()")
      assert(bagEqual(del.exceptAll(ins), exactDel),
        s"epoch $e net deletes != between()")
    }
  }

  test("default start is the latest epoch: an AvailableNow drain of " +
      "existing history delivers nothing") {
    val dir = tableWithHistory()
    val feed = drainFeed(dir, "cdf_latest")
    assert(feed.count() == 0,
      "default-start feed replayed history it should skip")
  }

  test("the epoch cursor checkpoints: a restarted stream delivers only " +
      "commits newer than the drained offset") {
    val dir = tableWithHistory()
    val ckpt = Files.createTempDirectory("cdf_ckpt").toString
    val out = Files.createTempDirectory("cdf_out").toString
    def run(): Unit = {
      val q = spark.readStream.format("arrow")
        .option("readChangeFeed", "true").option("startingEpoch", 0L)
        .load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val firstCount = spark.read.parquet(out).count()
    assert(firstCount > 0)
    // new commit while the stream is down
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id = 50")
    run()
    val all = spark.read.parquet(out)
    // older epochs were NOT re-delivered...
    assert(all.filter(col(ArrowChanges.CommitEpochCol) <= 2L).count()
      == firstCount, "restart re-delivered drained epochs")
    // ...and the new epoch's net effect is exactly the one deleted row
    val resumed = all.filter(col(ArrowChanges.CommitEpochCol) === 3L)
    val net = resumed
      .filter(col(ArrowChanges.ChangeTypeCol) === "delete")
      .select(col("id"), col("tag"))
      .exceptAll(resumed
        .filter(col(ArrowChanges.ChangeTypeCol) === "insert")
        .select(col("id"), col("tag")))
    assert(net.collect().map(_.getLong(0)).toSeq == Seq(50L))
  }

  test("admission control drains the backlog in epoch-granular steps") {
    val dir = tableWithHistory()
    val capped = drainFeed(dir, "cdf_capped", startingEpoch = Some(0L),
      maxFilesPerTrigger = Some(1))
    val full = drainFeed(dir, "cdf_full", startingEpoch = Some(0L))
    assert(bagEqual(full, capped),
      "capped drain lost or duplicated changes")
  }

  test("partitioned tables: a metadata-only partition DELETE streams " +
      "as deletes with partition values resolved from the paths") {
    import spark.implicits._
    val dir = Files.createTempDirectory("arrow_cdf_part").toString
    (1 to 90).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "grp")
      .write.format("arrow").partitionBy("grp").mode("overwrite").save(dir)
    // epoch 1: pure-removal epoch (no rewrites — planning-time DELETE)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE grp = 'a'")
    val feed = drainFeed(dir, "cdf_part", startingEpoch = Some(0L))
    // epoch 0 snapshot: all 90 rows as inserts, grp populated from dirs
    val inserts = feed
      .filter(col(ArrowChanges.ChangeTypeCol) === "insert")
    assert(inserts.count() == 90)
    assert(inserts.filter(col("grp") === "a").count() == 30)
    // epoch 1: exactly the dropped partition's rows, delete-tagged
    val deletes = feed
      .filter(col(ArrowChanges.ChangeTypeCol) === "delete")
    assert(deletes.select(col(ArrowChanges.CommitEpochCol)).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(deletes.count() == 30)
    assert(deletes.filter(col("grp") =!= "a").count() == 0,
      "delete rows carry wrong partition values")
    // replay convergence holds for the partitioned shape too
    val state = inserts.select(col("id"), col("grp"))
      .exceptAll(deletes.select(col("id"), col("grp")))
    val now = spark.read.format("arrow").load(dir)
      .select(col("id"), col("grp"))
    assert(bagEqual(state, now))
  }

  test("maintenance epochs are invisible: compaction churn never " +
      "reaches the feed, replay still converges") {
    val dir = tableWithHistory() // epochs 0..2
    // epoch 3: data-neutral compaction rewrite (full-table churn)
    spark.sql(s"CALL graft.system.compact(path => '$dir', " +
      "target_rows => 1000)")
    // epoch 4: real DML on the compacted layout
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id = 60")
    val feed = drainFeed(dir, "cdf_neutral", startingEpoch = Some(0L))
    // the compaction epoch contributed NOTHING
    assert(feed.filter(col(ArrowChanges.CommitEpochCol) === 3L).count()
      == 0, "neutral epoch leaked into the change feed")
    // epoch 4's delete of a post-compaction file still delivers, and
    // full replay reconstructs the current table
    val state = feed
      .filter(col(ArrowChanges.ChangeTypeCol) === "insert")
      .select(col("id"), col("tag"))
      .exceptAll(feed
        .filter(col(ArrowChanges.ChangeTypeCol) === "delete")
        .select(col("id"), col("tag")))
    val now = spark.read.format("arrow").load(dir)
      .select(col("id"), col("tag"))
    assert(bagEqual(state, now), "replay diverged across maintenance")
    assert(now.filter(col("id") === 60L).count() == 0)
    // the batch diff short-circuits an OPTIMIZE-only window: empty
    // result, and NO data batch is read to produce it
    val loaded = ArrowDataSource.recordBatchesLoaded.get()
    assert(ArrowChanges.between(spark, dir, 2L, 3L).count() == 0)
    assert(ArrowDataSource.recordBatchesLoaded.get() == loaded,
      "neutral-only between() scanned data batches")
  }

  test("a CoW UPDATE epoch tags its churn update_preimage/" +
      "update_postimage; DELETE epochs stay plain; replay converges " +
      "with the tags mapped to their insert/delete equivalents") {
    val dir = tableWithHistory() // epochs 0..2 (snapshot + 2 deletes)
    // epoch 3: CoW UPDATE — the `#op update` stamp must retag it
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'upd' " +
      "WHERE id >= 40 AND id <= 50")
    val feed = drainFeed(dir, "cdf_upd", startingEpoch = Some(0L))
    val up = feed.filter(col(ArrowChanges.CommitEpochCol) === 3L)
    val tags = up.select(col(ArrowChanges.ChangeTypeCol)).distinct()
      .collect().map(_.getString(0)).toSet
    assert(tags == Set(ArrowChanges.UpdatePreimage,
      ArrowChanges.UpdatePostimage),
      s"update epoch carries wrong tags: $tags")
    // DELETE epochs keep the plain tag — only UPDATE retags
    assert(feed.filter(col(ArrowChanges.CommitEpochCol) === 1L)
      .select(col(ArrowChanges.ChangeTypeCol)).distinct()
      .collect().map(_.getString(0)).toSet == Set("insert", "delete"))
    // the epoch NETS to the row-exact diff: postimage minus preimage
    // = updated new values; preimage minus postimage = old values
    val post = up.filter(col(ArrowChanges.ChangeTypeCol) ===
      ArrowChanges.UpdatePostimage).select(col("id"), col("tag"))
    val pre = up.filter(col(ArrowChanges.ChangeTypeCol) ===
      ArrowChanges.UpdatePreimage).select(col("id"), col("tag"))
    val newRows = post.exceptAll(pre)
    assert(newRows.count() == 11 &&
      newRows.filter(col("tag") === "upd").count() == 11)
    val oldRows = pre.exceptAll(post)
    assert(oldRows.count() == 11 &&
      oldRows.filter(col("tag") === "upd").count() == 0)
    // replay: postimage ≡ insert, preimage ≡ delete reconstructs now
    val ins = feed.filter(col(ArrowChanges.ChangeTypeCol)
      .isin("insert", ArrowChanges.UpdatePostimage))
      .select(col("id"), col("tag"))
    val del = feed.filter(col(ArrowChanges.ChangeTypeCol)
      .isin("delete", ArrowChanges.UpdatePreimage))
      .select(col("id"), col("tag"))
    val now = spark.read.format("arrow").load(dir)
      .select(col("id"), col("tag"))
    assert(bagEqual(ins.exceptAll(del), now),
      "replay with update tags diverged from the table")
    // the stamp survives log compaction (folded `#op` headers)
    graft.sources.arrow.ArrowDataSource.compactLog(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize, 3L)
    val after = drainFeed(dir, "cdf_upd_folded", startingEpoch = Some(0L))
    assert(after.filter(col(ArrowChanges.CommitEpochCol) === 3L)
      .select(col(ArrowChanges.ChangeTypeCol)).distinct()
      .collect().map(_.getString(0)).toSet ==
      Set(ArrowChanges.UpdatePreimage, ArrowChanges.UpdatePostimage),
      "update stamp lost in log compaction")
  }

  test("a deletion-vector UPDATE epoch tags ROW-exact pre/postimages " +
      "(the dv-diff split carries exactly the old rows)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("arrow_cdf_dvu").toString
    (1 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(dir)
    graft.sources.arrow.ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.set_dv(path => '$dir')").collect()
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'dvu' " +
      "WHERE id % 10 = 0") // epoch 1, delta path: dv mask + append
    val feed = drainFeed(dir, "cdf_dvu", startingEpoch = Some(1L))
    // row-exact: preimages are EXACTLY the 6 old rows, postimages
    // EXACTLY the 6 new ones — no carried-over pairs at all
    val pre = feed.filter(col(ArrowChanges.ChangeTypeCol) ===
      ArrowChanges.UpdatePreimage)
    val post = feed.filter(col(ArrowChanges.ChangeTypeCol) ===
      ArrowChanges.UpdatePostimage)
    assert(pre.count() == 6 && post.count() == 6,
      s"dv update not row-exact: pre=${pre.count()} post=${post.count()}")
    assert(pre.select(col("id")).as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L, 40L, 50L, 60L))
    assert(pre.filter(col("tag") === "dvu").count() == 0)
    assert(post.filter(col("tag") === "dvu").count() == 6)
    // a dv DELETE on the same table stays plain-tagged
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id = 7")
    val feed2 = drainFeed(dir, "cdf_dvu2", startingEpoch = Some(2L))
    assert(feed2.select(col(ArrowChanges.ChangeTypeCol)).distinct()
      .collect().map(_.getString(0)).toSet == Set("delete"))
  }

  test("an update-only MERGE on a deletion-vector table tags ROW-exact " +
      "pre/postimages; a mixed MERGE stays plain-tagged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("arrow_cdf_mdv").toString
    (1 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(dir)
    graft.sources.arrow.ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.set_dv(path => '$dir')").collect()
    (1 to 8).map(i => (i * 5L, s"m$i")).toDF("id", "tag")
      .createOrReplaceTempView("mdv_src")
    // epoch 1: matched-arm-only MERGE — the delta writer's update
    // bookkeeping is the ONLY churn, so the epoch stamps `#op update`
    spark.sql(s"""MERGE INTO graft.arrow.`$dir` t USING mdv_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.tag = s.tag""")
    val feed = drainFeed(dir, "cdf_mdv", startingEpoch = Some(1L))
    val pre = feed.filter(col(ArrowChanges.ChangeTypeCol) ===
      ArrowChanges.UpdatePreimage)
    val post = feed.filter(col(ArrowChanges.ChangeTypeCol) ===
      ArrowChanges.UpdatePostimage)
    assert(pre.count() == 8 && post.count() == 8,
      s"dv merge-update not row-exact: pre=${pre.count()} " +
        s"post=${post.count()}")
    assert(pre.select(col("id")).as[Long].collect().sorted.toSeq ==
      (1 to 8).map(_ * 5L))
    assert(pre.filter(col("tag").startsWith("m")).count() == 0)
    assert(post.filter(col("tag").startsWith("m")).count() == 8)
    // the merged values actually landed
    assert(spark.read.format("arrow").load(dir)
      .filter(col("tag").startsWith("m")).count() == 8)
    // epoch 2: MIXED merge (matched update + not-matched insert) — the
    // appended files mix postimages with new rows; one epoch header
    // cannot split them, so the epoch stays honestly untagged
    (Seq((10L, "mix"), (1000L, "new")))
      .toDF("id", "tag").createOrReplaceTempView("mdv_src2")
    spark.sql(s"""MERGE INTO graft.arrow.`$dir` t USING mdv_src2 s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.tag = s.tag
      WHEN NOT MATCHED THEN INSERT (id, tag) VALUES (s.id, s.tag)""")
    val feed2 = drainFeed(dir, "cdf_mdv2", startingEpoch = Some(2L))
    assert(feed2.select(col(ArrowChanges.ChangeTypeCol)).distinct()
      .collect().map(_.getString(0)).toSet == Set("insert", "delete"),
      "a mixed merge epoch must not claim update images")
    // and the mixed epoch's net content is still exact
    assert(feed2.filter(col(ArrowChanges.ChangeTypeCol) === "insert")
      .count() == 2 &&
      feed2.filter(col(ArrowChanges.ChangeTypeCol) === "delete")
        .count() == 1)
  }

  test("a start below the vacuum horizon fails fast") {
    val dir = tableWithHistory()
    ArrowOptimize.vacuum(dir, graceMs = 0L)
    val horizon = TableLog.read(
      java.nio.file.Paths.get(dir)).horizon
    assert(horizon > 0, "vacuum did not advance the horizon")
    val err = intercept[Exception] {
      drainFeed(dir, "cdf_vacuumed", startingEpoch = Some(0L))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("vacuum horizon")),
      s"unexpected failure: $err")
  }

  test("batch read with readChangeFeed but no startingEpoch is " +
      "refused with guidance") {
    val dir = tableWithHistory()
    val err = intercept[Exception] {
      spark.read.format("arrow").option("readChangeFeed", "true")
        .load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("startingEpoch")),
      s"unexpected failure: $err")
  }

  test("batch readChangeFeed equals the streaming drain of the same " +
      "window, endingEpoch bounds it, and the netted diff is exact") {
    import spark.implicits._
    val dir = tableWithHistory()
    def batchFeed(from: Long, to: Option[Long] = None): DataFrame = {
      var r = spark.read.format("arrow")
        .option("readChangeFeed", "true").option("startingEpoch", from)
      to.foreach(e => r = r.option("endingEpoch", e))
      r.load(dir)
    }
    // full history: identical multiset to the streaming drain
    val streamed = drainFeed(dir, "cdf_batch_eq", startingEpoch = Some(0L))
    val batch = batchFeed(0L)
    assert(batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty,
      "batch window diverges from the streaming drain")
    // endingEpoch: epoch 1 only (the first CoW DELETE's churn)
    val window = batchFeed(1L, Some(1L))
    assert(window.select(col(ArrowChanges.CommitEpochCol)).distinct()
      .as[Long].collect().toSeq == Seq(1L))
    // the file-grain window NETS to the row-exact diff of epoch 1
    val netted = window
      .groupBy(col("id"), col("tag"))
      .agg(sum(when(col(ArrowChanges.ChangeTypeCol) === "insert", 1L)
        .otherwise(-1L)).as("net"))
      .filter(col("net") =!= 0)
    val exact = ArrowChanges.between(spark, dir, 0L, 1L)
    assert(netted.count() == exact.count() &&
      netted.filter(col("net") > 0).count() ==
        exact.filter(col(ArrowChanges.ChangeTypeCol) === "insert").count(),
      "netted batch window diverges from the row-exact diff")
    // deleted ids 1..30 all surface with net -1
    assert(netted.filter(col("net") < 0).count() == 30)
    // out-of-range window refuses
    val bad = intercept[Exception] {
      batchFeed(1L, Some(99L)).collect()
    }
    assert(bad.getMessage == null ||
      Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("out of range"))),
      s"unexpected failure: $bad")
  }

  test("timestamp window bounds: startingTimestamp takes the first " +
      "epoch at-or-after, endingTimestamp the last at-or-before; a " +
      "start past the log head yields an empty feed") {
    import spark.implicits._
    val dir = tableWithHistory()
    val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val stamps = graft.sources.arrow.TableLog.read(root).stamps
    val latest = graft.sources.arrow.ArrowDataSource
      .latestCommittedEpoch(root)
    def batchFeedTs(fromTs: Long, toTs: Option[Long] = None): DataFrame = {
      var r = spark.read.format("arrow")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", fromTs)
      toTs.foreach(t => r = r.option("endingTimestamp", t))
      r.load(dir)
    }
    // the whole history by timestamps equals the whole history by epochs
    val byEpoch = spark.read.format("arrow")
      .option("readChangeFeed", "true").option("startingEpoch", 0L)
      .load(dir)
    val byTs = batchFeedTs(stamps(0L))
    assert(byTs.exceptAll(byEpoch).isEmpty &&
      byEpoch.exceptAll(byTs).isEmpty,
      "timestamp-bounded window diverges from epoch-bounded")
    // a window pinned to epoch 1's commit instant selects exactly it
    val one = batchFeedTs(stamps(1L), Some(stamps(1L)))
    assert(one.select(col(graft.sources.arrow.ArrowChanges.CommitEpochCol))
      .distinct().as[Long].collect().toSeq == Seq(1L))
    // a start past the last commit = empty feed, not an error
    assert(batchFeedTs(stamps(latest) + 60000L).count() == 0)
    // epoch + timestamp for the same bound refuse
    val both = intercept[Exception] {
      spark.read.format("arrow")
        .option("readChangeFeed", "true")
        .option("startingEpoch", 0L)
        .option("startingTimestamp", stamps(0L))
        .load(dir).collect()
    }
    assert(Iterator.iterate(both: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("not both"))))

    // the STREAMING feed accepts the same startingTimestamp: a stream
    // started at epoch 2's commit instant delivers epoch 2 only
    val streamed = {
      val q = spark.readStream.format("arrow")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", stamps(2L))
        .load(dir)
        .writeStream.outputMode("append")
        .format("memory").queryName("cdf_ts_stream")
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("cdf_ts_stream")
    }
    assert(streamed
      .select(col(graft.sources.arrow.ArrowChanges.CommitEpochCol))
      .distinct().as[Long].collect().toSeq == Seq(2L),
      "streaming startingTimestamp did not resolve to epoch 2")
  }
}
