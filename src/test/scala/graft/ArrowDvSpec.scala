package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowChanges, ArrowDataSource, GraftCatalog}

/** Merge-on-read DELETE via deletion vectors (`set_dv` tables): a
  * delete writes per-file masked-ordinal sidecars and one atomic epoch
  * of `dv` events — data bytes never move. Readers mask, rewrites
  * purge, time travel and the change feed stay exact. */
class ArrowDvSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def bagEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** A 100-row logged DV-enabled table: (id, tag), 2 files. */
  private def fixture(prefix: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(prefix).toString
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.set_dv(path => '$dir')").collect()
    dir
  }

  private def dataFiles(dir: String): Map[String, Long] =
    ArrowDataSource.listIpcFiles(dir)
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  test("MoR DELETE masks rows without moving a data byte; deletes " +
      "accumulate into ONE cumulative vector per file") {
    val dir = fixture("dv_basic")
    val root = Paths.get(dir).toAbsolutePath.normalize
    val before = dataFiles(dir)
    // predicates must be source-Filter-expressible to route through
    // SupportsDelete (arithmetic like `id % 10` falls back to the
    // row-level CoW path by Spark's own planning)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id > 90")
    assert(dataFiles(dir) == before,
      "merge-on-read DELETE must not write or touch any data file")
    val t = spark.read.format("arrow").load(dir)
    assert(t.count() == 90)
    assert(t.filter(col("id") > 90).count() == 0)
    val dv1 = ArrowDataSource.liveDvs(root, None)
    assert(dv1.nonEmpty, "no dv events committed")
    assert(dv1.values.map(_._2).sum == 10L)

    // second delete: vectors are cumulative, one entry per file
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 15 OR tag = 'v42'")
    val t2 = spark.read.format("arrow").load(dir)
    assert(t2.count() == 74) // 90 - 15 - 1
    assert(dataFiles(dir) == before)
    val dv2 = ArrowDataSource.liveDvs(root, None)
    assert(dv2.values.map(_._2).sum == 26L,
      s"cumulative masked count wrong: ${dv2.values.map(_._2).sum}")
    assert(dv2.size <= 2, "one live vector per file, replaced not stacked")
  }

  test("a file whose every row ends masked commits a REMOVE, not a " +
      "vector; partition-only deletes stay metadata-only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dv_allmask").toString
    (1 to 60).map(i => (i.toLong, s"p${i % 2}", s"v$i"))
      .toDF("id", "part", "tag")
      .write.format("arrow").partitionBy("part")
      .option("optimizeWrite", "true").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.set_dv(path => '$dir')").collect()
    val visBefore = ArrowDataSource.visibleIpcFiles(dir).size
    // every row of partition p1 matches a DATA predicate → the p1
    // file is fully masked → plain remove event
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id % 2 = 1")
    assert(spark.read.format("arrow").load(dir).count() == 30)
    assert(ArrowDataSource.visibleIpcFiles(dir).size < visBefore,
      "fully-masked file must leave the visible set")
    val root = Paths.get(dir).toAbsolutePath.normalize
    assert(ArrowDataSource.liveDvs(root, None).isEmpty,
      "a removed file must not keep a vector")
    // partition-only predicate: metadata delete path, no vectors
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE part = 'p0'")
    assert(spark.read.format("arrow").load(dir).count() == 0)
    assert(ArrowDataSource.liveDvs(root, None).isEmpty)
  }

  test("VERSION AS OF applies the vector live at that epoch") {
    val dir = fixture("dv_travel")
    val root = Paths.get(dir).toAbsolutePath.normalize
    val e0 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 20")
    val e1 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 40")
    assert(spark.read.format("arrow").load(dir).count() == 60)
    assert(spark.read.format("arrow")
      .option("epochAsOf", e0).load(dir).count() == 100,
      "pre-delete version must read unmasked")
    assert(spark.read.format("arrow")
      .option("epochAsOf", e1).load(dir).count() == 80,
      "mid-history version must apply that epoch's vector, not the " +
        "latest")
  }

  test("UPDATE on a vectored table goes MERGE-ON-READ: the old row " +
      "masks, the new row appends, NO data file rewrites") {
    val dir = fixture("dv_cow")
    val root = Paths.get(dir).toAbsolutePath.normalize
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 30")
    val before = dataFiles(dir)
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'u' WHERE id = 40")
    val t = spark.read.format("arrow").load(dir)
    assert(t.count() == 70, "UPDATE resurrected masked rows")
    assert(t.filter(col("id") <= 30).count() == 0)
    assert(t.filter(col("tag") === "u").count() == 1)
    assert(t.filter(col("id") === 40).count() == 1,
      "the updated row's old version must be masked")
    // delta semantics: every pre-existing data file is byte-untouched;
    // exactly the new row's file appended
    val after = dataFiles(dir)
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "merge-on-read UPDATE rewrote a data file")
    assert(after.size == before.size + 1,
      s"expected ONE appended file, got ${after.size - before.size}")
    val dvs = ArrowDataSource.liveDvs(root, None)
    val live = ArrowDataSource.visibleIpcFiles(dir)
      .map(p => root.relativize(p.toAbsolutePath.normalize).toString)
      .toSet
    assert(dvs.keySet.subsetOf(live))
  }

  test("footer-stat pushdowns refuse on vectored tables: COUNT comes " +
      "back exact from a real (masked) scan") {
    val dir = fixture("dv_pushdown")
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 10")
    val before = ArrowDataSource.recordBatchesLoaded.get()
    val n = spark.read.format("arrow").load(dir)
      .agg(count(lit(1))).collect()(0).getLong(0)
    assert(n == 90, s"COUNT over a vectored table returned $n")
    assert(ArrowDataSource.recordBatchesLoaded.get() > before,
      "COUNT answered from footer stats — masked rows overcounted")
    // LIMIT still exact (pushdown refused, plain scan + Spark limit)
    assert(spark.read.format("arrow").load(dir).limit(95).count() == 90)
  }

  test("batch change feed and between() are ROW-exact across vector " +
      "epochs") {
    val dir = fixture("dv_cdf")
    val root = Paths.get(dir).toAbsolutePath.normalize
    val e0 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 20")
    val e1 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 30")
    val e2 = ArrowDataSource.latestCommittedEpoch(root)
    // between: first window deletes ids 1..20, second 21..30
    val d1 = ArrowChanges.between(spark, dir, e0, e1)
    assert(d1.filter(col(ArrowChanges.ChangeTypeCol) === "delete")
      .count() == 20)
    assert(d1.filter(col(ArrowChanges.ChangeTypeCol) === "insert")
      .count() == 0)
    val d2 = ArrowChanges.between(spark, dir, e1, e2)
    assert(d2.filter(col(ArrowChanges.ChangeTypeCol) === "delete")
      .agg(min(col("id")), max(col("id"))).collect()(0) match {
      case r => r.getLong(0) == 21L && r.getLong(1) == 30L
    })
    // batch readChangeFeed: the dv epochs deliver exactly the newly
    // masked rows as deletes (dvInvert selection), no carry-over noise
    val feed = spark.read.format("arrow")
      .option("readChangeFeed", "true")
      .option("startingEpoch", e0 + 1).load(dir)
    assert(feed.filter(col(ArrowChanges.ChangeTypeCol) === "delete")
      .count() == 30)
    assert(feed.filter(col(ArrowChanges.ChangeTypeCol) === "insert")
      .count() == 0)
    assert(feed.filter(col(ArrowChanges.CommitEpochCol) === e2)
      .select(col("id")).distinct().count() == 10)

    // ONE file carrying both vector epochs: each epoch's split is the
    // diff against the vector live on that file just before it
    import spark.implicits._
    val one = Files.createTempDirectory("dv_cdf_one").toString
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1).write.format("arrow").mode("overwrite").save(one)
    ArrowDataSource.initTableLog(one)
    spark.sql(s"CALL graft.system.set_dv(path => '$one')").collect()
    val oneRoot = Paths.get(one).toAbsolutePath.normalize
    val f0 = ArrowDataSource.latestCommittedEpoch(oneRoot)
    spark.sql(s"DELETE FROM graft.arrow.`$one` WHERE id <= 10")
    spark.sql(s"DELETE FROM graft.arrow.`$one` WHERE id <= 25")
    val f2 = ArrowDataSource.latestCommittedEpoch(oneRoot)
    assert(f2 == f0 + 2)
    val oneFeed = spark.read.format("arrow")
      .option("readChangeFeed", "true")
      .option("startingEpoch", f0 + 1).load(one)
      .filter(col(ArrowChanges.ChangeTypeCol) === "delete")
    assert(oneFeed.count() == 25 &&
      oneFeed.select(col("id")).distinct().count() == 25,
      "a vector epoch re-delivered rows an earlier one masked")
    assert(oneFeed.filter(col(ArrowChanges.CommitEpochCol) === f2)
      .agg(min(col("id")), max(col("id"))).collect()(0) match {
      case r => r.getLong(0) == 11L && r.getLong(1) == 25L
    })
    val oneDiff = ArrowChanges.between(spark, one, f0, f2)
    assert(oneDiff.filter(col(ArrowChanges.ChangeTypeCol) === "delete")
      .count() == 25 &&
      oneDiff.filter(col(ArrowChanges.ChangeTypeCol) === "insert")
        .count() == 0)
  }

  test("OPTIMIZE purges vectors (reads through them, removes the " +
      "vectored generation); vacuum reclaims orphaned sidecars") {
    val dir = fixture("dv_optimize")
    val root = Paths.get(dir).toAbsolutePath.normalize
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 25")
    assert(ArrowDataSource.liveDvs(root, None).nonEmpty)
    spark.sql(s"CALL graft.system.compact(path => '$dir', " +
      "target_rows => 1000)").collect()
    assert(ArrowDataSource.liveDvs(root, None).isEmpty,
      "compaction must purge deletion vectors")
    assert(spark.read.format("arrow").load(dir).count() == 75)
    // zorder shares the maintenance rewrite path: it must purge too
    val zdir = fixture("dv_zorder")
    spark.sql(s"DELETE FROM graft.arrow.`$zdir` WHERE id <= 10")
    spark.sql(s"CALL graft.system.zorder(path => '$zdir', " +
      "cols => 'id,id')").collect()
    assert(ArrowDataSource.liveDvs(
      Paths.get(zdir).toAbsolutePath.normalize, None).isEmpty,
      "zorder left deletion vectors behind")
    assert(spark.read.format("arrow").load(zdir).count() == 90)
    spark.sql(s"CALL graft.system.vacuum(path => '$dir', " +
      "grace_ms => 0)").collect()
    val dvDir = root.resolve(ArrowDataSource.DvDirName)
    val left =
      if (!Files.isDirectory(dvDir)) Seq.empty
      else { val s = Files.list(dvDir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toVector
        } finally s.close() }
    assert(left.isEmpty,
      s"vacuum left orphaned dv sidecars: $left")
    assert(spark.read.format("arrow").load(dir).count() == 75)
  }

  test("restore across vector epochs reinstates the TARGET's masked " +
      "state — including clearing later vectors") {
    val dir = fixture("dv_restore")
    val root = Paths.get(dir).toAbsolutePath.normalize
    val e0 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 20")
    val e1 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 50")
    assert(spark.read.format("arrow").load(dir).count() == 50)
    // back to the mid-history masked state
    spark.sql(s"CALL graft.system.restore(path => '$dir', " +
      s"epoch => $e1)").collect()
    assert(spark.read.format("arrow").load(dir).count() == 80,
      "restore must reinstate epoch e1's vector")
    assert(spark.read.format("arrow").load(dir)
      .filter(col("id") <= 20).count() == 0)
    // back to the pristine state: vectors must CLEAR
    spark.sql(s"CALL graft.system.restore(path => '$dir', " +
      s"epoch => $e0)").collect()
    assert(spark.read.format("arrow").load(dir).count() == 100,
      "restore to pre-delete must clear every vector")
  }

  test("a shallow clone of a vectored table borrows the vectors — " +
      "masked rows stay gone in the clone") {
    val dir = fixture("dv_clone")
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 35")
    val dst = Files.createTempDirectory("dv_clone_dst").toString
    Files.delete(Paths.get(dst))
    spark.sql(s"CALL graft.system.clone(src_path => '$dir', " +
      s"dst_path => '$dst')").collect()
    assert(spark.read.format("arrow").load(dst).count() == 65,
      "clone resurrected the source's masked rows")
    assert(bagEqual(spark.read.format("arrow").load(dst),
      spark.read.format("arrow").load(dir)))
  }

  test("change-feed remove/add splits apply the vector at their epoch " +
      "boundary: no double-delivered deletes, restore resurrections " +
      "reach the feed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dv_cdf_exact").toString
    (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1) // ONE file: full-mask then remove is reachable
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.set_dv(path => '$dir')").collect()
    val root = Paths.get(dir).toAbsolutePath.normalize
    val e0 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 15") // dv epoch
    val e1 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id >= 1") // full mask -> REMOVE
    val e2 = ArrowDataSource.latestCommittedEpoch(root)
    val feed = spark.read.format("arrow")
      .option("readChangeFeed", "true")
      .option("startingEpoch", e0 + 1).load(dir)
    // epoch e1 deletes 1..15 (dv diff); epoch e2's REMOVE split must
    // deliver ONLY the rows still visible before it (16..40) — not
    // re-deliver 1..15
    assert(feed.filter(col(ArrowChanges.CommitEpochCol) === e1)
      .count() == 15)
    val removeRows = feed.filter(col(ArrowChanges.CommitEpochCol) === e2)
    assert(removeRows.count() == 25,
      s"remove split re-delivered masked rows: ${removeRows.count()}")
    assert(removeRows.agg(min(col("id"))).collect()(0).getLong(0) == 16L)

    // restore to the mid-history dv state: the resurrection of rows
    // 16..40 (and nothing else) must reach the feed as net inserts
    spark.sql(s"CALL graft.system.restore(path => '$dir', " +
      s"epoch => $e1)").collect()
    val e3 = ArrowDataSource.latestCommittedEpoch(root)
    val rfeed = spark.read.format("arrow")
      .option("readChangeFeed", "true")
      .option("startingEpoch", e3).option("endingEpoch", e3).load(dir)
    val net = rfeed.groupBy(col("id"))
      .agg(sum(when(col(ArrowChanges.ChangeTypeCol) === "insert", 1L)
        .otherwise(-1L)).as("net"))
      .filter(col("net") =!= 0)
    assert(net.filter(col("net") > 0).count() == 25,
      "restore's resurrection of masked rows missing from the feed")
    assert(net.filter(col("net") < 0).count() == 0)
    assert(net.agg(min(col("id"))).collect()(0).getLong(0) == 16L)
  }

  test("batch change feed honors partition-column filters exactly " +
      "(pushed filters must not silently widen to every partition)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dv_cdf_part").toString
    (1 to 60).map(i => (i.toLong, s"p${i % 3}", s"v$i"))
      .toDF("id", "part", "tag")
      .write.format("arrow").partitionBy("part")
      .option("optimizeWrite", "true").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val e0 = ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 30")
    val feed = spark.read.format("arrow")
      .option("readChangeFeed", "true")
      .option("startingEpoch", e0 + 1).load(dir)
    val p1 = feed.filter(col("part") === "p1")
    assert(p1.select(col("part")).distinct()
      .as[String].collect().toSeq == Seq("p1"),
      "partition filter leaked other partitions' churn")
    // and the filtered window is complete for its partition: p1's
    // churned files' delete+insert rows all belong to p1
    assert(p1.count() > 0)
    val full = feed.filter(col("part").isNotNull)
    assert(full.filter(col("part") === "p1").count() == p1.count())
  }

  test("CDC replication and incremental views ride vector epochs " +
      "exactly (the feed's dv deletes are row-exact)") {
    import spark.implicits._
    val src = fixture("dv_repl_src")
    val dst = Files.createTempDirectory("dv_repl_dst").toString
    val view = Files.createTempDirectory("dv_repl_view").toString
    val ckptR = Files.createTempDirectory("dv_repl_ck1").toString
    val ckptV = Files.createTempDirectory("dv_repl_ck2").toString
    (1 to 1).map(i => (i.toLong, "x")).toDF("id", "tag").limit(0)
      .coalesce(1).write.format("arrow").mode("overwrite").save(dst)
    // snapshot + a MoR delete epoch + a CoW update epoch
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id <= 20")
    spark.sql(s"UPDATE graft.arrow.`$src` SET tag = 'u' WHERE id = 50")
    val q = graft.streaming.ChangeReplication.replicate(spark, src, dst,
      keyCols = Seq("id"), checkpoint = ckptR)
    try q.processAllAvailable() finally q.stop()
    assert(bagEqual(spark.read.format("arrow").load(dst)
      .select(col("id"), col("tag")),
      spark.read.format("arrow").load(src).select(col("id"), col("tag"))),
      "replica diverged across a deletion-vector epoch")

    val q2 = graft.streaming.IncrementalView.maintain(spark, src, view,
      groupCols = Seq("tag"), sums = Seq(("id", "sum_id")),
      checkpoint = ckptV)
    try q2.processAllAvailable() finally q2.stop()
    assert(bagEqual(
      spark.read.format("arrow").load(view)
        .select(col("tag"), col("n"), col("sum_id")),
      spark.read.format("arrow").load(src).groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))),
      "incremental view diverged across a deletion-vector epoch")
  }

  test("plain streaming source refuses vector epochs (a file-delta " +
      "stream cannot express row removal)") {
    val dir = fixture("dv_stream")
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id <= 10")
    val q = spark.readStream.format("arrow").load(dir)
      .writeStream.format("memory").queryName("dv_stream_sink")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val err = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    val msgs = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("deletion vector"),
      s"expected the deletion-vector refusal, got: $msgs")
  }
}
