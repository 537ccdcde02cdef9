package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog, TableLog}
import graft.streaming.IncrementalView

/** Incremental materialized-view maintenance off the change feed:
  * the view must equal a full recompute after every refresh, refresh
  * must cost one MERGE per micro-batch however many epochs it spans,
  * and a REPLAYED micro-batch must be skipped by the writer-txn gate
  * (additive deltas are not idempotent — convergence is not enough). */
class IncrementalViewSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def bagEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def recompute(src: String): DataFrame =
    spark.read.format("arrow").load(src)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).as("sum_amt"))

  private def viewDf(dir: String): DataFrame =
    spark.read.format("arrow").load(dir)
      .select(col("grp"), col("n"), col("sum_amt"))

  test("view equals full recompute across snapshot, DML, emptied and " +
      "new groups — one view epoch per refresh batch") {
    import spark.implicits._
    val src = Files.createTempDirectory("ivm_src").toString
    val dst = Files.createTempDirectory("ivm_dst").toString
    val ckpt = Files.createTempDirectory("ivm_ckpt").toString
    // groups a(30) b(30) c(30) and a NULL-keyed group (10): the MERGE
    // key must be null-safe or the null group never matches itself
    (1 to 100).map { i =>
      val g = i % 10 match {
        case 0 => null
        case d if d <= 3 => "a"
        case d if d <= 6 => "b"
        case _ => "c"
      }
      (i.toLong, g, (i * 7).toLong)
    }.toDF("id", "grp", "amt")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src) // the feed tails a commit log

    val q = IncrementalView.maintain(spark, src, dst,
      groupCols = Seq("grp"), sums = Seq(("amt", "sum_amt")),
      checkpoint = ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(bagEqual(viewDf(dst), recompute(src)),
      "view diverged from full recompute after initial snapshot")
    assert(viewDf(dst).filter(col("grp").isNull).count() == 1,
      "NULL group key must maintain as one group")
    val epochsAfterInit = ArrowDataSource.latestCommittedEpoch(
      Paths.get(dst).toAbsolutePath.normalize)

    // DML while maintenance is down: empty group 'a' entirely, shrink
    // 'b', grow 'c', and insert a brand-new group 'z'
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE grp = 'a'")
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE grp = 'b' AND id <= 50")
    spark.sql(s"UPDATE graft.arrow.`$src` SET amt = amt + 1000 " +
      "WHERE grp = 'c'")
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES " +
      "(201, 'z', 11), (202, 'z', 13)")

    val q2 = IncrementalView.maintain(spark, src, dst,
      groupCols = Seq("grp"), sums = Seq(("amt", "sum_amt")),
      checkpoint = ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(bagEqual(viewDf(dst), recompute(src)),
      "view diverged from full recompute after DML catch-up")
    assert(viewDf(dst).filter(col("grp") === "a").count() == 0,
      "a group netting to zero rows must LEAVE the view")
    assert(viewDf(dst).filter(col("grp") === "z")
      .select(col("n"), col("sum_amt")).as[(Long, Long)]
      .collect().toSeq == Seq((2L, 24L)),
      "a brand-new group must INSERT")
    val epochsAfterDml = ArrowDataSource.latestCommittedEpoch(
      Paths.get(dst).toAbsolutePath.normalize)
    // the 4-epoch DML backlog must fold into ONE view commit (one
    // MERGE), not one per source epoch
    assert(epochsAfterDml - epochsAfterInit <= 1,
      s"4-epoch catch-up advanced the view log by " +
        s"${epochsAfterDml - epochsAfterInit} epochs — per-epoch " +
        "serial application is back")
  }

  test("a JOIN view over an immutable dim maintains from the fact " +
      "feed alone and equals the joined recompute across DML") {
    import spark.implicits._
    val src = Files.createTempDirectory("ivmj_src").toString
    val dst = Files.createTempDirectory("ivmj_dst").toString
    val ckpt = Files.createTempDirectory("ivmj_ckpt").toString
    // fact rows carry a dim KEY; the view groups by a dim ATTRIBUTE
    (1 to 100).map(i => (i.toLong, (i % 7).toLong, (i * 3).toLong))
      .toDF("id", "k", "amt")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    val dim = (0L to 6L).map(k => (k, if (k < 4) "east" else "west"))
      .toDF("k", "region")
    val enrich: DataFrame => DataFrame = df =>
      df.join(broadcast(dim), "k")
    def joined(): DataFrame =
      spark.read.format("arrow").load(src).join(dim, "k")
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("sum_amt"))
    def view(): DataFrame = spark.read.format("arrow").load(dst)
      .select(col("region"), col("n"), col("sum_amt"))

    val q = IncrementalView.maintain(spark, src, dst,
      groupCols = Seq("region"), sums = Seq(("amt", "sum_amt")),
      checkpoint = ckpt, enrich = enrich)
    try q.processAllAvailable() finally q.stop()
    assert(bagEqual(view(), joined()),
      "join view diverged from joined recompute after snapshot")

    // DML backlog: deletes and updates churn both regions; the delta
    // enrichment must attribute every signed change to the right
    // dim attribute
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE k = 1")
    spark.sql(s"UPDATE graft.arrow.`$src` SET amt = amt + 500 " +
      "WHERE k >= 5")
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES " +
      "(201, 2, 11), (202, 6, 13)")
    val q2 = IncrementalView.maintain(spark, src, dst,
      groupCols = Seq("region"), sums = Seq(("amt", "sum_amt")),
      checkpoint = ckpt, enrich = enrich)
    try q2.processAllAvailable() finally q2.stop()
    assert(bagEqual(view(), joined()),
      "join view diverged from joined recompute after DML catch-up")
    // the view never read the fact table outside the feed: group set
    // is the dim attribute domain actually populated
    assert(view().select(col("region")).distinct().count() == 2)
  }

  test("a JOIN view over a MUTABLE dim tracks dim UPDATE/DELETE/INSERT " +
      "epochs via the delta-join terms and equals the joined recompute") {
    import spark.implicits._
    val fact = Files.createTempDirectory("ivmm_fact").toString
    val dimd = Files.createTempDirectory("ivmm_dim").toString
    val dst = Files.createTempDirectory("ivmm_dst").toString
    (1 to 120).map(i => (i.toLong, (i % 10).toLong, (i * 3).toLong))
      .toDF("id", "k", "amt")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(fact)
    ArrowDataSource.initTableLog(fact)
    (0L to 9L).map(k => (k, if (k < 5) "east" else "west"))
      .toDF("k", "region")
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(dimd)
    ArrowDataSource.initTableLog(dimd)
    def joined(): DataFrame =
      spark.read.format("arrow").load(fact)
        .join(spark.read.format("arrow").load(dimd)
          .select(col("k").as("dk"), col("region")),
          col("k") === col("dk"))
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("sum_amt"))
    def view(): DataFrame = spark.read.format("arrow").load(dst)
      .select(col("region"), col("n"), col("sum_amt"))
    def refresh(): Boolean =
      IncrementalView.refreshJoined(spark, fact, dimd, dst,
        factKey = "k", dimKey = "k", dimCols = Seq("region"),
        groupCols = Seq("region"), sums = Seq(("amt", "sum_amt")),
        appId = "ivmm_spec")

    assert(refresh(), "initial build must apply")
    assert(bagEqual(view(), joined()),
      "mutable-dim join view diverged after the initial build")

    // fact-only window (ΔD empty)
    spark.sql(s"DELETE FROM graft.arrow.`$fact` WHERE k = 1")
    spark.sql(s"INSERT INTO graft.arrow.`$fact` VALUES " +
      "(301, 2, 11), (302, 6, 13)")
    assert(refresh())
    assert(bagEqual(view(), joined()),
      "diverged after a fact-only window")

    // dim-only window (ΔF empty): an UPDATE moves every k=2 fact row
    // to a NEW group, a DELETE retracts every k=3 fact row from the
    // view, an INSERT adds a key no fact references (must contribute
    // nothing)
    spark.sql(s"UPDATE graft.arrow.`$dimd` SET region = 'north' " +
      "WHERE k = 2")
    spark.sql(s"DELETE FROM graft.arrow.`$dimd` WHERE k = 3")
    spark.sql(s"INSERT INTO graft.arrow.`$dimd` VALUES (100, 'south')")
    assert(refresh())
    assert(bagEqual(view(), joined()),
      "diverged after a dim-only window (update + delete + insert)")
    assert(view().filter(col("region") === "south").count() == 0,
      "a dim key with no facts must not materialize a group")
    assert(view().filter(col("region") === "north").count() == 1,
      "the moved dim key must materialize its new group")

    // mixed window: BOTH sides churn so every delta term (ΔF⋈D_old,
    // F_old⋈ΔD, ΔF⋈ΔD) contributes — including a fact row whose dim
    // key moves groups in the SAME window it is updated in
    spark.sql(s"UPDATE graft.arrow.`$dimd` SET region = 'west' " +
      "WHERE k = 4")
    spark.sql(s"UPDATE graft.arrow.`$fact` SET amt = amt + 1000 " +
      "WHERE k IN (4, 5)")
    spark.sql(s"INSERT INTO graft.arrow.`$fact` VALUES (401, 100, 17)")
    assert(refresh())
    assert(bagEqual(view(), joined()),
      "diverged after a mixed fact+dim window")
    assert(view().filter(col("region") === "south").count() == 1,
      "the previously empty dim key gained a fact — its group must appear")

    // cursor idempotence: no new epochs on either side → the packed
    // (factEpoch, dimEpoch) stamp gates the refresh to a no-op
    assert(!refresh(), "refresh with no new epochs must skip")
    assert(bagEqual(view(), joined()),
      "a gated refresh must leave the view untouched")
  }

  test("refreshJoined refuses a target that advances one cursor " +
      "component and regresses the other") {
    import spark.implicits._
    val fact = Files.createTempDirectory("ivmc_fact").toString
    val dimd = Files.createTempDirectory("ivmc_dim").toString
    val dst = Files.createTempDirectory("ivmc_dst").toString
    (1 to 20).map(i => (i.toLong, (i % 4).toLong, i.toLong))
      .toDF("id", "k", "amt")
      .coalesce(1).write.format("arrow").mode("overwrite").save(fact)
    ArrowDataSource.initTableLog(fact)
    (0L to 3L).map(k => (k, s"r$k")).toDF("k", "region")
      .coalesce(1).write.format("arrow").mode("overwrite").save(dimd)
    ArrowDataSource.initTableLog(dimd)
    for (i <- 1 to 2)
      spark.sql(s"INSERT INTO graft.arrow.`$fact` VALUES (${100 + i}, 1, 5)")
    for (i <- 1 to 3)
      spark.sql(s"INSERT INTO graft.arrow.`$dimd` VALUES (${10 + i}, 'x')")
    def latest(dir: String): Long =
      ArrowDataSource.latestCommittedEpoch(Paths.get(dir).toAbsolutePath.normalize)
    val (fLatest, dLatest) = (latest(fact), latest(dimd))
    def refresh(f: Long, d: Long): Boolean =
      IncrementalView.refreshJoined(spark, fact, dimd, dst,
        factKey = "k", dimKey = "k", dimCols = Seq("region"),
        groupCols = Seq("region"), sums = Seq(("amt", "sum_amt")),
        appId = "ivmc_spec", factUpTo = Some(f), dimUpTo = Some(d))
    // cursor (fact - 1, dim), then a target that advances the fact
    // cursor and moves the dim cursor back by two epochs
    val (f0, d0) = (fLatest - 1, dLatest)
    val (f1, d1) = (fLatest, dLatest - 2)
    assert(refresh(f0, d0))
    val viewEpoch = latest(dst)
    val err = intercept[IllegalArgumentException](refresh(f1, d1))
    assert(err.getMessage.contains(s"($f1, $d1)") &&
      err.getMessage.contains(s"($f0, $d0)"), err.getMessage)
    assert(latest(dst) == viewEpoch, "a refused refresh committed an epoch")
  }

  test("a source RESTORE flows through the feed as churn the additive " +
      "deltas absorb — the view converges to the restored aggregate") {
    import spark.implicits._
    val src = Files.createTempDirectory("ivm_restore_src").toString
    val dst = Files.createTempDirectory("ivm_restore_dst").toString
    val ckpt = Files.createTempDirectory("ivm_restore_ckpt").toString
    (1 to 60).map(i => (i.toLong, if (i % 2 == 0) "x" else "y",
      i.toLong)).toDF("id", "grp", "amt")
      .coalesce(1).write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    def refresh(): Unit = {
      val q = IncrementalView.maintain(spark, src, dst,
        groupCols = Seq("grp"), sums = Seq(("amt", "sum_amt")),
        checkpoint = ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    refresh()
    val root = Paths.get(src).toAbsolutePath.normalize
    val preDml = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id <= 40")
    refresh()
    assert(bagEqual(viewDf(dst), recompute(src)))
    // roll the SOURCE back; the restore epoch's churn must net the
    // view back to the pre-DML aggregate
    spark.sql(s"CALL graft.system.restore(path => '$src', " +
      s"epoch => $preDml)").collect()
    refresh()
    assert(bagEqual(viewDf(dst), recompute(src)),
      "view diverged after the source was restored")
    assert(viewDf(dst).agg(sum(col("n"))).collect()(0).getLong(0) == 60L)
  }

  test("replayed micro-batch is gated exactly-once by the writer-txn " +
      "stamp — skipped before any job, not merely converged") {
    import spark.implicits._
    val src = Files.createTempDirectory("ivm_replay_src").toString
    val dst = Files.createTempDirectory("ivm_replay_dst").toString
    (1 to 40).map(i => (i.toLong, if (i % 2 == 0) "x" else "y",
      i.toLong)).toDF("id", "grp", "amt")
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    IncrementalView.ensureView(spark, src, dst,
      Seq("grp"), Seq(("amt", "sum_amt")))
    // materialize the full feed as one static batch
    val feed = spark.readStream.format("arrow")
      .option("readChangeFeed", "true").option("startingEpoch", 0L)
      .load(src)
    val drain = feed.writeStream
      .format("memory").queryName("ivm_replay").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try drain.processAllAvailable() finally drain.stop()
    val sunk = spark.table("ivm_replay")
    val batch = spark.createDataFrame(
      java.util.Arrays.asList(sunk.collect(): _*), sunk.schema)

    val applied = IncrementalView.applyDelta(batch, dst,
      Seq("grp"), Seq(("amt", "sum_amt")), appId = "spec_app", version = 7L)
    assert(applied, "first delivery must apply")
    assert(bagEqual(viewDf(dst), recompute(src)))

    // the failure mode under test: re-delivery of the SAME batch.
    // Without the gate these additive deltas would double every count.
    val replayed = IncrementalView.applyDelta(batch, dst,
      Seq("grp"), Seq(("amt", "sum_amt")), appId = "spec_app", version = 7L)
    assert(!replayed, "replayed (appId, version) must be skipped")
    assert(bagEqual(viewDf(dst), recompute(src)),
      "replayed batch mutated the view — deltas double-applied")

    // an OLDER version is also a replay; a NEWER one applies
    assert(!IncrementalView.applyDelta(batch, dst,
      Seq("grp"), Seq(("amt", "sum_amt")), appId = "spec_app", version = 3L))
    assert(IncrementalView.applyDelta(batch.limit(0), dst,
      Seq("grp"), Seq(("amt", "sum_amt")), appId = "spec_app", version = 8L),
      "a fresh version must pass the gate")
  }

  test("writer-txn stamps commit atomically inside the epoch manifest " +
      "and survive log compaction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("txn_fold").toString
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    assert(TableLog.read(root).lastTxnVersion("app_a").isEmpty)
    // enough stamped commits to cross the default compaction interval
    for (v <- 1L to 12L) {
      ArrowDataSource.withPendingTxn(dir, "app_a", v) {
        spark.sql(
          s"INSERT INTO graft.arrow.`$dir` VALUES (${100 + v}, 'e$v')")
      }
    }
    // compaction has folded part of the log; the gate must still see
    // the newest stamp (manifest headers + folded #txn headers)
    assert(TableLog.read(root).lastTxnVersion("app_a").contains(12L))
    assert(TableLog.read(root).lastTxnVersion("app_b").isEmpty,
      "stamps are per-appId")
    // a second writer's stamps interleave independently
    ArrowDataSource.withPendingTxn(dir, "app_b", 5L) {
      spark.sql(s"INSERT INTO graft.arrow.`$dir` VALUES (990, 'b')")
    }
    assert(TableLog.read(root).lastTxnVersion("app_a").contains(12L))
    assert(TableLog.read(root).lastTxnVersion("app_b").contains(5L))
    // force a fold past everything and re-check
    ArrowDataSource.compactLog(root,
      ArrowDataSource.latestCommittedEpoch(root))
    assert(TableLog.read(root).lastTxnVersion("app_a").contains(12L),
      "compaction dropped the folded txn stamp")
    assert(TableLog.read(root).lastTxnVersion("app_b").contains(5L))
    // unrelated commits carry no stamp
    spark.sql(s"INSERT INTO graft.arrow.`$dir` VALUES (991, 'c')")
    assert(TableLog.read(root).lastTxnVersion("app_a").contains(12L))
  }

  test("a batch whose change rows all carry NULL measures for a group " +
      "contributes 0, not NULL — the accumulated sum is never poisoned") {
    import spark.implicits._
    val src = Files.createTempDirectory("ivm_null_src").toString
    val dst = Files.createTempDirectory("ivm_null_dst").toString
    val ckpt = Files.createTempDirectory("ivm_null_ckpt").toString
    (1 to 20).map(i => (i.toLong, if (i % 2 == 0) "x" else "y",
      Some(i.toLong))).toDF("id", "grp", "amt")
      .coalesce(1).write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    def refresh(): Unit = {
      val q = IncrementalView.maintain(spark, src, dst,
        groupCols = Seq("grp"), sums = Seq(("amt", "sum_amt")),
        checkpoint = ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    refresh()
    val sumX = viewDf(dst).filter(col("grp") === "x")
      .select(col("sum_amt")).as[Long].collect()(0)
    // every change row of this epoch carries a NULL measure for 'x':
    // the per-group delta SUM is NULL and, unguarded, `t.sum + NULL`
    // nulls the state while the one-shot SUM (ignores NULLs) does not
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES " +
      "(101, 'x', NULL), (102, 'x', NULL)")
    // and a brand-new group arriving with only NULL measures must
    // INSERT with sum 0, not NULL
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES (103, 'w', NULL)")
    refresh()
    val rowX = viewDf(dst).filter(col("grp") === "x")
      .select(col("n"), col("sum_amt")).as[(Long, Long)].collect()
    assert(rowX.toSeq == Seq((12L, sumX)),
      s"NULL-measure batch corrupted the accumulated sum: ${rowX.toSeq}")
    val rowW = viewDf(dst).filter(col("grp") === "w")
      .select(col("n"), col("sum_amt")).collect()(0)
    assert(rowW.getLong(0) == 1L && !rowW.isNullAt(1) &&
      rowW.getLong(1) == 0L,
      s"all-NULL new group must insert sum 0, got $rowW")
  }

  test("a losing concurrent txn registration fails WITHOUT replacing " +
      "the winner's pending stamp") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivm_race").toString
    (1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1).write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    ArrowDataSource.withPendingTxn(dir, "winner", 7L) {
      // second registration for the same table must throw AND leave
      // the winner's (appId, version) in place — put-then-require
      // would commit the epoch below under THE LOSER'S stamp
      intercept[IllegalArgumentException] {
        ArrowDataSource.withPendingTxn(dir, "loser", 99L) { () }
      }
      spark.sql(s"INSERT INTO graft.arrow.`$dir` VALUES (10, 'w')")
    }
    assert(TableLog.read(root).lastTxnVersion("winner").contains(7L),
      "winner's epoch lost its stamp after a losing registration")
    assert(TableLog.read(root).lastTxnVersion("loser").isEmpty,
      "loser's stamp leaked onto the winner's epoch — the replay " +
        "gate would skip a batch that was never applied")
    // the registry must be clean again: a fresh registration succeeds
    ArrowDataSource.withPendingTxn(dir, "winner", 8L) {
      spark.sql(s"INSERT INTO graft.arrow.`$dir` VALUES (11, 'w')")
    }
    assert(TableLog.read(root).lastTxnVersion("winner").contains(8L))
  }

  test("an empty micro-batch commits no view epoch") {
    import spark.implicits._
    val src = Files.createTempDirectory("ivm_empty_src").toString
    val dst = Files.createTempDirectory("ivm_empty_dst").toString
    (1 to 20).map(i => (i.toLong, s"g${i % 3}", i.toLong))
      .toDF("id", "grp", "amt").coalesce(1)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    def refresh(ckpt: String, from: Long): Unit = {
      val q = IncrementalView.maintain(spark, src, dst,
        groupCols = Seq("grp"), sums = Seq(("amt", "sum_amt")),
        checkpoint = ckpt, startingEpoch = from)
      try q.processAllAvailable() finally q.stop()
    }
    def latest(dir: String): Long = ArrowDataSource.latestCommittedEpoch(
      Paths.get(dir).toAbsolutePath.normalize)
    refresh(Files.createTempDirectory("ivm_empty_ck1").toString, 0L)
    val synced = latest(dst)
    // a fresh checkpoint past the source's head: its window is empty
    refresh(Files.createTempDirectory("ivm_empty_ck2").toString,
      latest(src) + 1)
    assert(latest(dst) == synced, "an empty batch committed a view epoch")
    assert(bagEqual(viewDf(dst), recompute(src)))
  }
}
