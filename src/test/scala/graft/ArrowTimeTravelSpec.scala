package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog, TableLog}

/** Epoch time travel over the Arrow streaming sink's commit log: the
  * per-epoch manifests (and the epoch-ATTRIBUTED snapshot lines that
  * replace them on compaction) are a version history of an append-only
  * directory, so `option("epochAsOf", e)` — or SQL
  * `VERSION AS OF e` through the graft catalog — re-reads exactly the
  * files epochs 0..e committed. The 100 TB use: reproduce last week's
  * training mixture byte-for-byte while the sink keeps appending. */
class ArrowTimeTravelSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  /** Land `df`'s rows in `dir` as one committed sink epoch. */
  private def addEpoch(dir: String, epoch: Long,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val stage = Files.createTempDirectory("tt_stage").toString
    df.write.format("arrow").mode("overwrite").save(stage)
    val moved = ArrowDataSource.listIpcFiles(stage).zipWithIndex.map {
      case (f, i) =>
        val dest = Paths.get(dir, s"part-e$epoch-$i.arrow")
        Files.move(f, dest); dest.toString
    }
    ArrowDataSource.commitEpochManifest(dir, epoch, moved)
  }

  private def threeEpochDir(): (String, Seq[Long]) = {
    val dir = Files.createTempDirectory("tt_sink").toString
    val r = spark.range(30).toDF("id")
    addEpoch(dir, 0L, r.filter(col("id") < 10))
    addEpoch(dir, 1L, r.filter(col("id") >= 10 && col("id") < 20))
    addEpoch(dir, 2L, r.filter(col("id") >= 20))
    (dir, Seq(10L, 20L, 30L))
  }

  test("epochAsOf reads exactly the prefix of committed epochs") {
    val (dir, cum) = threeEpochDir()
    for (e <- 0 to 2) {
      val df = spark.read.format("arrow")
        .option("epochAsOf", e.toString).load(dir)
      assert(df.count() == cum(e), s"epoch $e")
      // the prefix is the EXACT row set, not just the right cardinality
      assert(df.agg(max(col("id"))).collect()(0).getLong(0) ==
        cum(e) - 1)
    }
    // no option = latest
    assert(spark.read.format("arrow").load(dir).count() == 30L)
  }

  test("SQL VERSION AS OF resolves through the graft catalog") {
    val (dir, cum) = threeEpochDir()
    val n = spark.sql(
      s"SELECT count(*) AS n FROM graft.arrow.`$dir` VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(n == cum(1))
    val bad = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF 'tuesday'")
        .collect()
    }
    assert(bad.getMessage != null)
  }

  test("time travel survives manifest compaction (epoch attribution)") {
    val dir = Files.createTempDirectory("tt_compact").toString
    // 25 epochs at the default interval 10 => snapshot at 19 + tail;
    // raw placeholder files suffice for a LISTING-level check
    val files = (0 until 25).map { e =>
      val f = Paths.get(dir, f"part-$e%05d.arrow")
      Files.write(f, Array[Byte](e.toByte))
      ArrowDataSource.commitEpochManifest(dir, e.toLong, Seq(f.toString))
      f
    }
    // epoch 13 sits INSIDE the snapshot: attribution must survive
    assert(ArrowDataSource.visibleIpcFiles(dir, Some(13L))
      .map(_.toString).sorted == files.take(14).map(_.toString).sorted)
    // tail epoch
    assert(ArrowDataSource.visibleIpcFiles(dir, Some(22L)).length == 23)
    // future epoch = everything
    assert(ArrowDataSource.visibleIpcFiles(dir, Some(99L)).length == 25)
  }

  test("a flat directory refuses epochAsOf") {
    val dir = Files.createTempDirectory("tt_flat").toString
    spark.range(5).toDF("id")
      .write.format("arrow").mode("overwrite").save(dir)
    val e = intercept[Exception] {
      spark.read.format("arrow").option("epochAsOf", "0").load(dir)
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("commit log")),
      s"unexpected error: $e")
  }

  test("pruning and pushdown still apply under time travel") {
    val (dir, _) = threeEpochDir()
    val df = spark.read.format("arrow")
      .option("epochAsOf", "1").load(dir)
      .filter(col("id") >= 5)
    assert(df.count() == 15L)
    assert(df.agg(sum(col("id"))).collect()(0).getLong(0) ==
      (5L until 20L).sum)
  }

  /** Three sink epochs with wall-clock marks captured between commits:
    * marks(0) precedes epoch 0; marks(i+1) follows epoch i. */
  private def threeEpochDirWithMarks(): (String, Seq[Long]) = {
    val dir = Files.createTempDirectory("tt_ts").toString
    val r = spark.range(30).toDF("id")
    val marks = scala.collection.mutable.ArrayBuffer.empty[Long]
    def mark(): Unit = { // stamps are millis: separate them strictly
      Thread.sleep(3L); marks += System.currentTimeMillis()
      Thread.sleep(3L)
    }
    mark()
    addEpoch(dir, 0L, r.filter(col("id") < 10)); mark()
    addEpoch(dir, 1L, r.filter(col("id") >= 10 && col("id") < 20)); mark()
    addEpoch(dir, 2L, r.filter(col("id") >= 20)); mark()
    (dir, marks.toSeq)
  }

  test("timestampAsOf resolves commit stamps to the greatest covered " +
      "epoch; pre-history timestamps refuse") {
    val (dir, marks) = threeEpochDirWithMarks()
    for ((cut, want) <- Seq(marks(1) -> 10L, marks(2) -> 20L,
        marks(3) -> 30L)) {
      assert(spark.read.format("arrow")
        .option("timestampAsOf", cut.toString).load(dir).count() == want,
        s"cut=$cut")
    }
    val early = intercept[Exception] {
      spark.read.format("arrow")
        .option("timestampAsOf", marks(0).toString).load(dir).count()
    }
    assert(early.getMessage.contains("predates"), early.getMessage)
    val both = intercept[Exception] {
      spark.read.format("arrow").option("timestampAsOf", marks(1).toString)
        .option("epochAsOf", "1").load(dir).count()
    }
    assert(both.getMessage.contains("not both"), both.getMessage)
  }

  test("SQL TIMESTAMP AS OF resolves through the graft catalog") {
    val (dir, marks) = threeEpochDirWithMarks()
    // a UTC datetime literal at the mark after epoch 1 (session TZ is
    // pinned UTC, so the literal parses to the same instant)
    val lit = java.time.Instant.ofEpochMilli(marks(2))
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace('T', ' ')
    val n = spark.sql(s"SELECT count(*) FROM graft.arrow.`$dir` " +
      s"TIMESTAMP AS OF '$lit'").collect()(0).getLong(0)
    assert(n == 20L, s"literal '$lit' resolved to $n rows")
  }

  test("commit stamps are monotone under clock skew: a commit after a " +
      "wall-clock step backwards stamps prev+1 (in-commit-timestamp " +
      "adjustment), keeping TIMESTAMP AS OF aligned with epoch order") {
    val dir = Files.createTempDirectory("tt_mono").toString
    val f0 = Paths.get(dir, "part-0.arrow")
    Files.write(f0, Array[Byte](0))
    ArrowDataSource.commitEpochManifest(dir, 0L, Seq(f0.toString))
    // simulate the clock having been AHEAD at epoch 0's commit: its
    // stamp sits in the future relative to epoch 1's wall clock
    val md = Paths.get(dir, "_graft_metadata")
    val future = System.currentTimeMillis() + 60_000L
    Files.write(md.resolve("0.ts"),
      java.util.List.of(future.toString))
    val f1 = Paths.get(dir, "part-1.arrow")
    Files.write(f1, Array[Byte](1))
    ArrowDataSource.commitEpochManifest(dir, 1L, Seq(f1.toString))
    val stamps = TableLog.read(
      Paths.get(dir).toAbsolutePath.normalize).stamps
    assert(stamps(1L) == future + 1L,
      s"expected epoch 1 stamped ${future + 1}, got ${stamps(1L)}")
    // resolution at the skewed instant lands on the later epoch
    assert(TableLog.read(
      Paths.get(dir).toAbsolutePath.normalize)
      .epochForTimestamp(future + 1L) == 1L)
  }

  test("timestamp travel survives compaction: stamps fold into the " +
      "snapshot before manifests are reclaimed") {
    val (dir, marks) = threeEpochDirWithMarks()
    val root = Paths.get(dir).toAbsolutePath.normalize
    ArrowDataSource.compactLog(root, 2L)
    // per-epoch manifests (and their stamp markers) are gone...
    val md = root.resolve("_graft_metadata")
    assert(!Files.exists(md.resolve("1.manifest")))
    assert(!Files.exists(md.resolve("1.ts")))
    // ...yet the commit stamps still resolve from the snapshot header
    assert(spark.read.format("arrow")
      .option("timestampAsOf", marks(2).toString).load(dir).count() == 20L)
    assert(spark.read.format("arrow")
      .option("timestampAsOf", marks(3).toString).load(dir).count() == 30L)
  }

  test("named tags resolve VERSION AS OF by meaning; retarget, drop, " +
      "and unknown-tag refusal behave") {
    val dir = Files.createTempDirectory("tt_tags").toString
    spark.range(10).toDF("id")
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.tag(path => '$dir', " +
      "name => 'v1')").collect()
    val taggedEpoch = ArrowDataSource.latestCommittedEpoch(
      Paths.get(dir).toAbsolutePath.normalize)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id < 5").collect()
    // tag == the epoch it named, current state differs
    assert(spark.sql(
      s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF 'v1'")
      .count() == 10L)
    assert(spark.sql(
      s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF $taggedEpoch")
      .count() == 10L)
    assert(spark.read.format("arrow").load(dir).count() == 5L)
    // retarget to latest: the tag now sees the post-delete state
    spark.sql(s"CALL graft.system.tag(path => '$dir', " +
      "name => 'v1')").collect()
    assert(spark.sql(
      s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF 'v1'")
      .count() == 5L)
    // unknown tag refuses with the available names in the message
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF 'nope'")
        .count()
    }
    assert(e.getMessage.contains("neither an epoch number, a tag, nor a branch"),
      e.getMessage)
    // drop: the name stops resolving, the data is untouched
    spark.sql(s"CALL graft.system.drop_tag(path => '$dir', " +
      "name => 'v1')").collect()
    intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF 'v1'").count()
    }
    assert(spark.read.format("arrow").load(dir).count() == 5L)
    // a tag on a nonexistent epoch refuses at definition time
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.tag(path => '$dir', " +
        "name => 'future', epoch => 999)").collect()
    }
    assert(e2.getMessage.contains("does not exist"), e2.getMessage)
  }
}
