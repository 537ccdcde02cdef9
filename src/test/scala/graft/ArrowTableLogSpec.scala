package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, ArrowOptimize, GraftCatalog, TableLog}

/** The TABLE log: `_graft_metadata` extended with REMOVE events, so
  * DML, logged overwrite/append, and maintenance rewrites each commit
  * one atomic epoch — readers resolve the set before or after a
  * commit, never a mix; old files back `VERSION AS OF` until vacuum;
  * concurrent writers are detected optimistically (Delta's commit
  * protocol, re-expressed over the streaming sink's manifest
  * machinery — reference intent per
  * /root/reference/CMakeLists.txt:2 "Arrow storage engine"). */
class ArrowTableLogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def freshTable(n: Int = 100): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("arrow_tlog").toString
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(dir)
    dir
  }

  test("first DML upgrades a flat dir to a logged table; epoch 0 is " +
      "the pre-DML snapshot, readable via VERSION AS OF") {
    val dir = freshTable()
    assert(!ArrowDataSource.isTableLog(dir))
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 40")
    assert(ArrowDataSource.isTableLog(dir))
    assert(spark.read.format("arrow").load(dir).count() == 60)
    // time travel to the pre-delete snapshot
    assert(spark.read.format("arrow").option("epochAsOf", 0)
      .load(dir).count() == 100)
    assert(spark.sql(s"SELECT count(*) FROM graft.arrow.`$dir` " +
      "VERSION AS OF 0").collect()(0).getLong(0) == 100)
  }

  test("SQL INSERT INTO appends through the catalog; on a logged " +
      "table it commits one epoch") {
    val flat = freshTable(10)
    spark.sql(s"INSERT INTO graft.arrow.`$flat` VALUES (100, 'x'), (101, 'y')")
    assert(spark.read.format("arrow").load(flat).count() == 12)
    val logged = freshTable(10)
    spark.sql(s"DELETE FROM graft.arrow.`$logged` WHERE id > 100") // no-op DML → upgrades to log
    val root = Paths.get(logged).toAbsolutePath.normalize
    val before = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"INSERT INTO graft.arrow.`$logged` VALUES (200, 'z')")
    assert(spark.read.format("arrow").load(logged).count() == 11)
    assert(ArrowDataSource.latestCommittedEpoch(root) == before + 1,
      "INSERT INTO a logged table must commit exactly one epoch")
    // and the appended rows stream through the change feed as inserts
    val changes = graft.sources.arrow.ArrowChanges
      .between(spark, logged, before, before + 1)
    assert(changes.filter(
      org.apache.spark.sql.functions.col("id") === 200L).count() == 1)
  }

  test("a staged (uncommitted) file is invisible: the epoch rename is " +
      "the only visibility flip") {
    import spark.implicits._
    val dir = freshTable(10)
    ArrowDataSource.initTableLog(dir)
    // land a file exactly as a crashed DML/maintenance job would:
    // bytes on disk, no manifest entry
    val stage = Files.createTempDirectory("arrow_tlog_stage").toString
    (100L to 105L).toDF("id").withColumn("tag", lit("x"))
      .coalesce(1).write.format("arrow").mode("overwrite").save(stage)
    val orphan = ArrowDataSource.listIpcFiles(stage).head
    val dst = Paths.get(dir, "part-staged.arrow")
    Files.copy(orphan, dst)
    assert(spark.read.format("arrow").load(dir).count() == 10,
      "uncommitted file must stay invisible")
    // the commit makes it visible atomically
    ArrowDataSource.commitTableEpoch(dir,
      ArrowDataSource.latestCommittedEpoch(
        Paths.get(dir).toAbsolutePath.normalize),
      Seq(dst.toString), Seq.empty)
    assert(spark.read.format("arrow").load(dir).count() == 16)
  }

  test("concurrent blind appends REBASE past the epoch race — every " +
      "append lands; stale-snapshot removes still fail fast") {
    import spark.implicits._
    val dir = Files.createTempDirectory("log_rebase").toString
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1).write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize

    // deterministic stale-base rebase at the API level: the log moves
    // on while an appender holds an old base — the append re-bases
    val staleBase = ArrowDataSource.latestCommittedEpoch(root)
    val f1 = Paths.get(dir, "part-rebase-a.arrow")
    val f2 = Paths.get(dir, "part-rebase-b.arrow")
    Files.copy(ArrowDataSource.listIpcFiles(dir).head, f1)
    Files.copy(ArrowDataSource.listIpcFiles(dir).head, f2)
    ArrowDataSource.commitTableEpoch(dir, staleBase,
      Seq(f1.toString), Seq.empty) // someone else wins the race
    val e = ArrowDataSource.commitAppendWithRebase(dir, staleBase,
      Seq(f2.toString)) // stale base: must rebase, not throw
    assert(e == staleBase + 2)
    val live = TableLog.read(root).live(None).map(_._2).toSet
    assert(live.exists(_.contains("part-rebase-a")) &&
      live.exists(_.contains("part-rebase-b")),
      "a rebased append lost a file")

    // stale-snapshot removes (overwrite/DML shape) still refuse
    intercept[java.util.ConcurrentModificationException] {
      ArrowDataSource.commitTableEpoch(dir, staleBase, Seq.empty,
        Seq(f1.toString))
    }

    // end-to-end: genuinely concurrent SQL INSERTs all land
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val inserts = (1 to 8).map { i =>
      Future {
        spark.sql(
          s"INSERT INTO graft.arrow.`$dir` VALUES (${100L + i}, 'c$i')")
        ()
      }
    }
    Await.result(Future.sequence(inserts), 120.seconds)
    assert(spark.read.format("arrow").load(dir)
      .filter(col("id") >= 100).count() == 8,
      "a concurrent INSERT lost its rows to the epoch race")
  }

  test("optimistic concurrency: a commit against a stale base epoch " +
      "throws instead of clobbering") {
    val dir = freshTable(10)
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val base = ArrowDataSource.latestCommittedEpoch(root)
    ArrowDataSource.commitTableEpoch(dir, base, Seq.empty, Seq.empty)
    intercept[java.util.ConcurrentModificationException] {
      ArrowDataSource.commitTableEpoch(dir, base, Seq.empty, Seq.empty)
    }
  }

  test("batch overwrite of a logged table is one epoch: history is " +
      "kept and the pre-overwrite version stays addressable") {
    import spark.implicits._
    val dir = freshTable(50)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 10") // logs
    (1L to 5L).map(i => (i, "new")).toDF("id", "tag")
      .write.format("arrow").mode("overwrite").save(dir)
    assert(ArrowDataSource.isTableLog(dir), "overwrite keeps the log")
    assert(spark.read.format("arrow").load(dir).count() == 5)
    // pre-overwrite epochs still resolve (epoch 1 = post-DELETE)
    assert(spark.read.format("arrow").option("epochAsOf", 1)
      .load(dir).count() == 40)
    assert(spark.read.format("arrow").option("epochAsOf", 0)
      .load(dir).count() == 50)
  }

  test("batch append into a logged table commits an adds-only epoch " +
      "(no silent invisibility)") {
    import spark.implicits._
    val dir = freshTable(20)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 5")
    (200L to 204L).map(i => (i, "late")).toDF("id", "tag")
      .write.format("arrow").mode("append").save(dir)
    assert(spark.read.format("arrow").load(dir).count() == 20)
    // the append is its own epoch: as-of the DML epoch excludes it
    assert(spark.read.format("arrow").option("epochAsOf", 1)
      .load(dir).count() == 15)
  }

  test("UPDATE is atomic at the log: VERSION AS OF reads the " +
      "pre-update values, the live read the post-update ones") {
    val dir = freshTable(30)
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'hit' " +
      "WHERE id <= 7")
    val live = spark.read.format("arrow").load(dir)
    assert(live.filter(col("tag") === "hit").count() == 7)
    val asOf0 = spark.read.format("arrow").option("epochAsOf", 0)
      .load(dir)
    assert(asOf0.filter(col("tag") === "hit").count() == 0)
    assert(asOf0.count() == 30)
  }

  test("vacuum reclaims DML-removed files and prunes the history so " +
      "time travel never resolves to missing bytes") {
    val dir = freshTable(60)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 30")
    assert(spark.read.format("arrow").option("epochAsOf", 0)
      .load(dir).count() == 60)
    val onDiskBefore = ArrowDataSource.listIpcFiles(dir).size
    val reclaimed = ArrowOptimize.vacuum(dir, graceMs = 0)
    assert(reclaimed.nonEmpty, "vacuum must reclaim the removed files")
    assert(ArrowDataSource.listIpcFiles(dir).size < onDiskBefore)
    // live read unchanged; versions older than the vacuum horizon
    // REFUSE instead of silently resolving to a partial snapshot
    assert(spark.read.format("arrow").load(dir).count() == 30)
    val e = intercept[Exception] {
      spark.read.format("arrow").option("epochAsOf", 0)
        .load(dir).count()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("; ")
    assert(messages.contains("horizon"),
      s"pre-horizon version must refuse, got: $messages")
    // the first intact version still reads exactly
    assert(spark.read.format("arrow").option("epochAsOf", 1)
      .load(dir).count() == 30)
  }

  test("CALL restore rolls back to a prior epoch as a new metadata " +
      "commit; the rolled-back mutations stay addressable in history") {
    val dir = freshTable(100)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 40") // ep 1
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'x' " +
      "WHERE id > 90") // ep 2
    val res = spark.sql(s"CALL graft.system.restore(" +
      s"path => '$dir', epoch => 0)").collect()(0)
    assert(res.getLong(0) == 0L) // restored_to
    assert(res.getLong(1) == 3L) // committed_epoch: restore is ep 3
    val live = spark.read.format("arrow").load(dir)
    assert(live.count() == 100, "restore must resurrect all rows")
    assert(live.filter(col("tag") === "x").count() == 0,
      "restore must undo the UPDATE's rewrite")
    // the rolled-back state is still addressable — and re-restorable
    assert(spark.read.format("arrow").option("epochAsOf", 2)
      .load(dir).count() == 60)
    spark.sql(s"CALL graft.system.restore(path => '$dir', epoch => 2)")
    assert(spark.read.format("arrow").load(dir).count() == 60)
    // out-of-range target refuses
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.restore(path => '$dir', " +
        "epoch => 99)").collect()
    }
    assert(String.valueOf(e.getMessage).contains("out of range"))
  }

  test("restore by TIMESTAMP resolves through the commit-stamp index " +
      "(greatest epoch at or before the instant) and refuses " +
      "ambiguous or pre-horizon targets") {
    val dir = freshTable(100)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 40") // ep 1
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'x' " +
      "WHERE id > 90") // ep 2
    val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val stamps = graft.sources.arrow.TableLog.read(root).stamps
    // an instant BETWEEN epoch 1's and epoch 2's stamps resolves to 1
    // (stamps are strictly monotone by the in-commit adjustment)
    val between = stamps(1L).toString
    val res = spark.sql(s"CALL graft.system.restore(" +
      s"path => '$dir', timestamp => '$between')").collect()(0)
    assert(res.getLong(0) == 1L, s"expected epoch 1, got $res")
    assert(spark.read.format("arrow").load(dir).count() == 60)
    assert(spark.read.format("arrow").load(dir)
      .filter(col("tag") === "x").count() == 0,
      "timestamp restore must roll back the epoch-2 UPDATE")
    // both addressings at once refuse
    val both = intercept[Exception] {
      spark.sql(s"CALL graft.system.restore(path => '$dir', " +
        s"epoch => 1, timestamp => '$between')").collect()
    }
    assert(String.valueOf(both.getMessage).contains("not both"))
    // neither refuses
    val neither = intercept[Exception] {
      spark.sql(s"CALL graft.system.restore(path => '$dir')").collect()
    }
    assert(String.valueOf(neither.getMessage)
      .contains("target epoch or timestamp"))
    // an instant before the first known commit refuses loudly
    val early = intercept[Exception] {
      spark.sql(s"CALL graft.system.restore(path => '$dir', " +
        "timestamp => '12345')").collect()
    }
    assert(String.valueOf(early.getMessage).contains("predates"))
  }

  test("restore refuses an epoch behind the vacuum horizon (its " +
      "files were reclaimed) and refuses non-logged directories") {
    val dir = freshTable(60)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 30")
    ArrowOptimize.vacuum(dir, graceMs = 0) // reclaims, advances horizon
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.system.restore(path => '$dir', " +
        "epoch => 0)").collect()
    }
    assert(String.valueOf(e.getMessage).contains("horizon"))
    val flat = freshTable(5)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.restore(path => '$flat', " +
        "epoch => 0)").collect()
    }
    assert(String.valueOf(e2.getMessage).contains("not a logged table"))
  }

  test("change feed: ArrowChanges.between reads only churned files " +
      "and nets copy-on-write carry-over to exactly the DML rows") {
    import graft.sources.arrow.ArrowChanges
    val dir = freshTable(100)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 40") // ep 1
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'x' " +
      "WHERE id > 90") // ep 2
    val ch = ArrowChanges.between(spark, dir, 0, 2).cache()
    val dels = ch.filter(col(ArrowChanges.ChangeTypeCol) === "delete")
    val ins = ch.filter(col(ArrowChanges.ChangeTypeCol) === "insert")
    // deletes: ids 1..40 (deleted) + original 91..100 (pre-update)
    assert(dels.count() == 50)
    assert(dels.agg(sum(col("id"))).collect()(0).getLong(0) ==
      (1L to 40L).sum + (91L to 100L).sum)
    assert(dels.filter(col("tag") === "x").count() == 0)
    // inserts: the 10 rewritten rows, new values only
    assert(ins.count() == 10)
    assert(ins.filter(col("tag") === "x").count() == 10)
    ch.unpersist()
    // sub-window (1, 2]: just the UPDATE's upsert pair
    val ch2 = ArrowChanges.between(spark, dir, 1, 2)
    assert(ch2.filter(col(ArrowChanges.ChangeTypeCol) === "delete")
      .count() == 10)
    assert(ch2.filter(col(ArrowChanges.ChangeTypeCol) === "insert")
      .count() == 10)
    // empty window: right schema, zero rows
    assert(ArrowChanges.between(spark, dir, 2, 2).count() == 0)
    // out-of-range refuses
    val e = intercept[IllegalArgumentException] {
      ArrowChanges.between(spark, dir, 0, 99)
    }
    assert(e.getMessage.contains("out of range"))
  }

  test("CALL compact on a logged table is one atomic epoch and keeps " +
      "the pre-compaction version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("arrow_tlog_compact").toString
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(8)
      .write.format("arrow").mode("overwrite").save(dir)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 100") // logs
    val visBefore = ArrowDataSource.visibleIpcFiles(dir).size
    spark.sql(s"CALL graft.system.compact(path => '$dir', " +
      "target_rows => 1000000)")
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 900)
    assert(ArrowDataSource.visibleIpcFiles(dir).size < visBefore)
    assert(back.agg(sum(col("id"))).collect()(0).getLong(0) ==
      (101L to 1000L).sum)
    // the pre-compact epoch still reads exactly
    assert(spark.read.format("arrow").option("epochAsOf", 1)
      .load(dir).count() == 900)
  }

  test("streaming into a logged table refuses (epoch numbering would " +
      "collide); DML on a streaming sink still refuses") {
    import spark.implicits._
    val dir = freshTable(10)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id = 1")
    val src = Files.createTempDirectory("arrow_tlog_src").toString
    (1L to 3L).toDF("id").write.format("arrow")
      .mode("overwrite").save(src)
    val e = intercept[Exception] {
      val q = spark.readStream.schema("id LONG").format("arrow")
        .load(src)
        .writeStream.format("arrow")
        .option("checkpointLocation",
          Files.createTempDirectory("arrow_tlog_ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dir)
      q.awaitTermination()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("; ")
    assert(messages.contains("logged table"))
  }

  test("a DML epoch refuses to stream as a source delta unless " +
      "ignoreChanges opts in") {
    import spark.implicits._
    val dir = freshTable(10)
    // stream the flat dir once? no — make it a logged table with a
    // DML epoch FIRST, then stream from epoch -1: the delta crosses
    // the removal epoch and must refuse
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 2")
    def run(ignore: Boolean): Long = {
      val out = Files.createTempDirectory("arrow_tlog_outp").toString
      val reader = spark.readStream.schema("id LONG, tag STRING")
        .format("arrow")
      val q = (if (ignore) reader.option("ignoreChanges", "true")
        else reader)
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation",
          Files.createTempDirectory("arrow_tlog_ckpt2").toString)
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    val e = intercept[Exception] { run(ignore = false) }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("; ")
    assert(messages.contains("ignoreChanges"))
    // opting in delivers the current snapshot (rewrites included)
    assert(run(ignore = true) == 8)
  }

  test("a 1000-epoch log stays O(snapshot + tail): metadata file count " +
      "is bounded after compaction and VERSION AS OF stays exact " +
      "across every compaction boundary") {
    val dir = Files.createTempDirectory("tlog_1k").toString
    val root = Paths.get(dir).toAbsolutePath.normalize
    val epochs = 1000
    for (e <- 0 until epochs) {
      // raw placeholder files: this pin is about METADATA scaling
      val f = Paths.get(dir, f"part-$e%05d.arrow")
      Files.write(f, Array[Byte](e.toByte))
      ArrowDataSource.commitEpochManifest(dir, e.toLong, Seq(f.toString))
    }
    // default interval 10 folds as it goes: epoch 999 commit snapshots
    // everything — the metadata dir must hold ONE compact snapshot and
    // a sub-interval tail, NOT a thousand manifests/stamps
    val md = root.resolve("_graft_metadata")
    val names = Files.list(md).iterator()
    val listed = scala.collection.mutable.ArrayBuffer.empty[String]
    while (names.hasNext) listed += names.next().getFileName.toString
    assert(listed.count(_.endsWith(".compact")) == 1,
      s"expected one folded snapshot, got ${listed.filter(_.endsWith(".compact"))}")
    assert(listed.size <= 25,
      s"metadata dir grew O(epochs): ${listed.size} files after " +
        s"$epochs epochs — compaction is not bounding the log")
    // exactness across EVERY boundary class: inside the deepest folds,
    // at fold edges, and at the head
    for (e <- Seq(0L, 9L, 10L, 499L, 989L, 990L, 999L)) {
      val n = ArrowDataSource.visibleIpcFiles(dir, Some(e)).length
      assert(n == e + 1, s"VERSION AS OF $e resolved $n files")
    }
    assert(ArrowDataSource.visibleIpcFiles(dir).length == epochs)
    // epoch attribution survives the snapshot-of-snapshot folds: the
    // exact file set of a mid-history version, not just its size
    assert(ArrowDataSource.visibleIpcFiles(dir, Some(499L))
      .map(_.getFileName.toString).sorted ==
      (0 to 499).map(e => f"part-$e%05d.arrow"))
    // commit stamps survive folding end-to-end: the FIRST epoch's
    // stamp is only reachable through 100 chained snapshot folds
    val stamps = TableLog.read(root).stamps
    assert(stamps.size == epochs,
      s"lost commit stamps in the folds: ${stamps.size}/$epochs")
    assert(stamps.keySet.min == 0L && stamps.keySet.max == 999L)
  }

  test("compaction does not change the log: TableLog reads equal " +
      "facts before and after the fold, and vacuum's fold keeps the " +
      "facts of surviving files while the horizon advances") {
    val dir = Files.createTempDirectory("tlog_fold").toString
    val root = Paths.get(dir).toAbsolutePath.normalize
    // raw placeholder files: this pin is about the log, not the bytes
    def file(name: String): String = {
      val f = root.resolve(name)
      Files.createDirectories(f.getParent)
      Files.write(f, Array[Byte](1))
      f.toString
    }
    ArrowDataSource.initTableLog(dir) // epoch 0: empty snapshot
    ArrowDataSource.withPendingTxn(dir, "app", 1L) {
      ArrowDataSource.withPendingCopies(dir, Seq(("k1", 10L))) {
        ArrowDataSource.commitTableEpoch(dir, 0L,
          Seq(file("a.arrow"), file("b.arrow")), Seq.empty)
      }
    }
    ArrowDataSource.commitTableEpoch(dir, 1L, Seq.empty, Seq.empty,
      dvs = Seq((root.resolve("a.arrow").toString,
        file("_graft_dv/a1.dv"), 3L)))
    ArrowDataSource.commitTableEpoch(dir, 2L, Seq(file("c.arrow")),
      Seq(root.resolve("b.arrow").toString), opKind = Some("update"))
    ArrowDataSource.commitTableEpoch(dir, 3L, Seq(file("d.arrow")),
      Seq(root.resolve("c.arrow").toString), neutral = true)
    ArrowDataSource.withPendingTxn(dir, "app", 2L) {
      ArrowDataSource.commitTableEpoch(dir, 4L, Seq(file("e.arrow")),
        Seq.empty)
    }
    val before = TableLog.read(root)
    assert(before.latest == 5L && before.history.exists(_.remove) &&
      before.history.exists(_.dv.isDefined) && before.stamps.size == 6 &&
      before.neutral == Set(4L) && before.ops == Map(3L -> "update") &&
      before.txns == Map("app" -> ((5L, 2L))) &&
      before.copies == Map("k1" -> ((1L, 10L))),
      s"fixture lacks a fact kind: $before")

    ArrowDataSource.compactLog(root, before.latest)
    assert(Files.exists(root.resolve("_graft_metadata/5.compact")))
    assert(TableLog.read(root) == before,
      "the compact snapshot reads differently from the manifests")

    // vacuum reclaims the removed b and c, then folds with onlyExisting
    val reclaimed = ArrowOptimize.vacuum(dir, graceMs = 0L)
      .map(_.getFileName.toString).toSet
    assert(reclaimed == Set("b.arrow", "c.arrow"))
    val after = TableLog.read(root)
    val surviving = Set("a.arrow", "d.arrow", "e.arrow")
    assert(after.history ==
      before.history.filter(en => surviving(en.rel)))
    assert(after.live(None) == before.live(None))
    assert(after.dvs(None) == before.dvs(None))
    assert(after.copy(history = before.history, horizon = 0L) == before,
      "vacuum's fold changed a header fact")
    assert(after.horizon == 4L && before.horizon == 0L,
      "the horizon did not advance past the reclaimed versions")
  }

  test("a live data file missing from disk fails the read with the " +
      "file's path and the repair verbs, instead of dropping its rows") {
    val dir = freshTable()
    ArrowDataSource.initTableLog(dir)
    val victim = ArrowDataSource.visibleIpcFiles(dir).head
    Files.delete(victim)
    // a row read opens every live file (COUNT(*) alone may be answered
    // from the footer-stats sidecar without opening one)
    val e = intercept[Exception] {
      spark.read.format("arrow").load(dir).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("; ")
    assert(messages.contains(victim.toString) &&
      messages.contains("graft.system.fsck") &&
      messages.contains("graft.system.restore"), messages)
  }

  test("a log laid out with per-epoch marker files still reads: " +
      "markers give the stamps and neutral marks, a crashed empty " +
      "reservation folds as an empty epoch, compaction does not wait " +
      "on it, and the next commit stamps above the markers") {
    val root = Files.createTempDirectory("tlog_legacy").toAbsolutePath
      .normalize
    val md = Files.createDirectories(root.resolve("_graft_metadata"))
    Files.write(root.resolve("a.arrow"), Array[Byte](1))
    val (t0, t1) = (System.currentTimeMillis() - 2000L,
      System.currentTimeMillis() - 1000L)
    Files.createFile(md.resolve(ArrowDataSource.TableMarkerName))
    Files.createFile(md.resolve("0.manifest"))
    Files.write(md.resolve("0.ts"), java.util.List.of(t0.toString))
    Files.write(md.resolve("1.manifest"), java.util.List.of("a.arrow"))
    Files.write(md.resolve("1.ts"), java.util.List.of(t1.toString))
    Files.write(md.resolve("1.neutral"), java.util.List.of("1"))
    Files.createFile(md.resolve("2.manifest")) // crashed reservation

    val before = TableLog.read(root)
    assert(before.latest == 2L && before.neutral == Set(1L))
    assert(before.stamps(0L) == t0 && before.stamps(1L) == t1 &&
      before.stamps(2L) ==
        Files.getLastModifiedTime(md.resolve("2.manifest")).toMillis,
      s"stamps: ${before.stamps}")
    assert(!before.history.exists(_.epoch == 2L) &&
      before.live(Some(2L)) == Seq((1L, "a.arrow")) &&
      before.live(None) == before.live(Some(1L)))

    val started = System.nanoTime()
    ArrowDataSource.compactLog(root, 2L)
    val ms = (System.nanoTime() - started) / 1000000L
    assert(ms < 1000L, s"compactLog took $ms ms over an empty epoch")
    assert(TableLog.read(root) == before,
      "the fold of the marker layout reads differently")
    assert(Seq("0.ts", "1.ts", "1.neutral", "2.manifest")
      .forall(n => !Files.exists(md.resolve(n))))

    Files.write(root.resolve("b.arrow"), Array[Byte](2))
    val epoch = ArrowDataSource.commitTableEpoch(root.toString, 2L,
      Seq(root.resolve("b.arrow").toString), Seq.empty)
    val stamp = TableLog.read(root).stamps(epoch)
    assert(epoch == 3L && stamp > t1)
    assert(Files.readAllLines(md.resolve("3.manifest")).contains(
      s"#ts\t$stamp"), "the stamp is not the manifest's #ts line")
    assert(!Files.exists(md.resolve("3.ts")))
  }

  test("two concurrent folds of one epoch, one of them vacuum's " +
      "history prune, neither throw nor change the log") {
    val dir = Files.createTempDirectory("tlog_fold_race").toString
    val root = Paths.get(dir).toAbsolutePath.normalize
    ArrowDataSource.initTableLog(dir)
    (1 to 5).foreach { i =>
      val f = root.resolve(s"f$i.arrow")
      Files.write(f, Array[Byte](1))
      ArrowDataSource.commitTableEpoch(dir, i - 1L, Seq(f.toString),
        Seq.empty, compactInterval = 0)
    }
    val before = TableLog.read(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = Seq(false, true).map { onlyExisting =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (1 to 200).foreach(_ =>
            ArrowDataSource.compactLog(root, 5L, onlyExisting))
        })
      }
      runs.foreach(_.get()) // rethrows a fold's failure
    } finally pool.shutdown()
    assert(TableLog.read(root) == before)
  }

  test("two threads upgrading one flat directory both succeed and " +
      "leave epoch 0 listing its file") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (1 to 200).foreach { trial =>
        val dir = Files.createTempDirectory("tlog_init_race").toString
        val root = Paths.get(dir).toAbsolutePath.normalize
        Files.write(root.resolve("a.arrow"), Array[Byte](1))
        val gate = new java.util.concurrent.CyclicBarrier(2)
        val runs = (1 to 2).map(_ =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              gate.await()
              ArrowDataSource.initTableLog(dir)
            }
          }))
        runs.foreach(_.get()) // rethrows an init's failure
        val log = TableLog.read(root)
        assert(log.latest == 0L &&
          log.live(None) == Seq((0L, "a.arrow")),
          s"trial $trial: epoch ${log.latest}, files ${log.live(None)}")
        assert(new java.io.File(dir).list().toSet ==
          Set("a.arrow", ArrowDataSource.MetadataDirName),
          s"trial $trial left a staged log behind")
      }
    } finally pool.shutdown()
  }
}
