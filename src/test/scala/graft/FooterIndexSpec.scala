package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, FooterIndexFile, TableSnapshot}

/** Write-time footer-stats sidecar ([[FooterIndexFile]]): planning an
  * Arrow directory must cost ONE metadata read, not O(files) footer
  * opens — the flat-100k-file-directory fix. The sidecar is captured
  * by the writing tasks (no re-reads), exact (equal to a footer
  * sweep), merged across appends, and strictly optional (deleting it
  * falls back to the sweep with identical results). */
class FooterIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  /** A directory exercising every stat kind the index carries: zone
    * maps + row stats (numeric cols), a Bloom column, sort stamp,
    * explicit codec. */
  private def writeFixture(dir: String): Unit =
    spark.range(4000).selectExpr(
      "id AS k", "CAST(id % 97 AS DOUBLE) AS v",
      "CONCAT('u', CAST(id % 50 AS STRING)) AS tag")
      .repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
      .write.format("arrow")
      .option("codec", "zstd")
      .option("bloomFilterColumns", "tag")
      .option("sortBy", "k")
      .mode("overwrite").save(dir)

  /** Every live file has a sidecar entry whose stats and schema equal
    * a sweep of the file's own footer — in the index loaded directly
    * and in a table snapshot's (its fragments named by the log's own
    * listing). */
  private def assertSidecarMatchesFooters(dir: String): Unit = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    val files = ArrowDataSource.visibleIpcFiles(dir)
    assert(files.nonEmpty)
    val loaded = FooterIndexFile.load(root)
      .getOrElse(fail("no sidecar written"))
    val snapped = TableSnapshot.read(dir).sidecar
      .getOrElse(fail("no sidecar in the table snapshot"))
    for (idx <- Seq(loaded, snapped); f <- files) {
      val rel = root.relativize(f.toAbsolutePath.normalize).toString
      val got = idx.infoOf(rel)
        .getOrElse(fail(s"file $rel missing from sidecar"))
      val swept = ArrowDataSource.footerInfo(f)
      // canonical comparison: both render through the same encoder
      assert(FooterIndexFile.encodeInfo(got) ==
        FooterIndexFile.encodeInfo(swept), s"stats diverge for $rel")
      assert(idx.schemaOf(rel).map(_.fields.toSeq.map(x =>
        (x.name, x.dataType))) ==
        Some(ArrowDataSource.readFooterSchema(f).fields.toSeq.map(x =>
          (x.name, x.dataType))), s"schema diverges for $rel")
    }
  }

  test("the sidecar exists after a write, covers every file, and its " +
      "stats equal a footer sweep exactly") {
    val dir = Files.createTempDirectory("fidx_eq").toString
    writeFixture(dir)
    assertSidecarMatchesFooters(dir)
  }

  test("partitioned writes that evict sub-writers and bucketed writes " +
      "ship the same stats a footer sweep reads") {
    def rows = spark.range(3000).selectExpr(
      "id AS k", "CAST(id % 97 AS DOUBLE) AS v",
      "CONCAT('u', CAST(id % 50 AS STRING)) AS tag",
      "(id DIV 200) % 5 AS p")
      .coalesce(1)
    // runs of 200 rows per partition value, two open writers: every
    // third run evicts (seals) the least-recently-written file
    val part = Files.createTempDirectory("fidx_evict").toString
    rows.write.format("arrow").partitionBy("p")
      .option("maxOpenWriters", "2").option("batchRows", "64")
      .option("codec", "zstd").option("bloomFilterColumns", "tag")
      .option("sortBy", "k").mode("overwrite").save(part)
    assert(ArrowDataSource.visibleIpcFiles(part).size > 5,
      "no sub-writer was evicted")
    assertSidecarMatchesFooters(part)
    val bucketed = Files.createTempDirectory("fidx_bucket").toString
    rows.write.format("arrow").option("bucketBy", "k")
      .option("numBuckets", "4").option("batchRows", "64")
      .option("bloomFilterColumns", "tag").option("sortBy", "k")
      .mode("overwrite").save(bucketed)
    assert(ArrowDataSource.visibleIpcFiles(bucketed).size == 4)
    assertSidecarMatchesFooters(bucketed)
  }

  test("planning an indexed directory opens ZERO data-file footers — " +
      "inference, stats, split planning and zone-map pruning all " +
      "resolve from one metadata file") {
    val dir = Files.createTempDirectory("fidx_plan").toString
    writeFixture(dir)
    val before = ArrowDataSource.footerOpens.get
    val df = spark.read.format("arrow").load(dir)
      .filter(col("k") >= 100 && col("k") < 200)
    val scan = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))
    val parts = scan.inputPartitions // forces split planning + pruning
    assert(ArrowDataSource.footerOpens.get == before,
      "planning opened data-file footers despite the sidecar")
    // the sidecar's zone maps PRUNE: a 100-key range over 4 range-
    // partitioned files must not plan every batch of every file
    assert(parts.nonEmpty)
    // and the full read stays exact
    assert(df.count() == 100)
    assert(ArrowDataSource.footerOpens.get == before,
      "execution re-opened footers for planning metadata")
  }

  test("appends merge into the sidecar; a second generation with a " +
      "new column still resolves (mergeSchema) without footer opens") {
    val dir = Files.createTempDirectory("fidx_merge").toString
    writeFixture(dir)
    spark.range(100, 150).selectExpr(
      "id AS k", "CAST(id AS DOUBLE) AS v",
      "CONCAT('x', CAST(id AS STRING)) AS tag", "id * 2 AS extra")
      .coalesce(1)
      .write.format("arrow").mode("append").save(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val idx = FooterIndexFile.load(root).getOrElse(fail("sidecar gone"))
    val files = ArrowDataSource.visibleIpcFiles(dir)
    assert(files.forall(f => idx.infoOf(
      root.relativize(f.toAbsolutePath.normalize).toString).isDefined),
      "append's files missing from the merged sidecar")
    assert(idx.schemas.length == 2, "schema evolution needs a second " +
      s"generation, got ${idx.schemas.length}")
    val before = ArrowDataSource.footerOpens.get
    val df = spark.read.format("arrow")
      .option("mergeSchema", "true").load(dir)
    assert(df.columns.contains("extra"))
    assert(df.count() == 4050)
    assert(ArrowDataSource.footerOpens.get == before,
      "mergeSchema inference swept footers despite full coverage")
  }

  test("overwrite REPLACES the sidecar (no entries outlive their " +
      "files) and deleting it falls back to the sweep, same results") {
    val dir = Files.createTempDirectory("fidx_fall").toString
    writeFixture(dir)
    writeFixture(dir) // second overwrite: fresh uuids, fresh sidecar
    val root = Paths.get(dir).toAbsolutePath.normalize
    val idx = FooterIndexFile.load(root).getOrElse(fail("sidecar gone"))
    val live = ArrowDataSource.visibleIpcFiles(dir)
      .map(f => root.relativize(f.toAbsolutePath.normalize).toString)
      .toSet
    assert(idx.entries.keySet == live,
      s"sidecar carries stale entries: ${idx.entries.keySet -- live}")
    val withIdx = spark.read.format("arrow").load(dir)
      .agg(sum(col("k")), count(lit(1))).collect()(0)
    Files.delete(root.resolve(FooterIndexFile.FileName))
    val before = ArrowDataSource.footerOpens.get
    val swept = spark.read.format("arrow").load(dir)
      .agg(sum(col("k")), count(lit(1))).collect()(0)
    assert(ArrowDataSource.footerOpens.get > before,
      "sweep fallback did not engage after sidecar removal")
    assert(withIdx == swept)
  }

  test("copy-on-write DML and CALL compact keep the sidecar complete: " +
      "a mutated, maintained logged table still plans with zero " +
      "footer opens") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.arrow.GraftCatalog].getName)
    val dir = Files.createTempDirectory("fidx_dml").toString
    writeFixture(dir)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE k < 500")
    spark.sql(s"UPDATE graft.arrow.`$dir` SET v = 0.0 " +
      "WHERE k >= 3000 AND k < 3200")
    spark.sql(s"CALL graft.system.compact(path => '$dir', " +
      "target_rows => 1000000)")
    val root = Paths.get(dir).toAbsolutePath.normalize
    val idx = FooterIndexFile.load(root).getOrElse(fail("sidecar gone"))
    val visible = ArrowDataSource.visibleIpcFiles(dir)
    assert(visible.nonEmpty)
    assert(visible.forall(f => idx.infoOf(
      root.relativize(f.toAbsolutePath.normalize).toString).isDefined),
      "DML/compaction left visible files uncovered by the sidecar")
    val before = ArrowDataSource.footerOpens.get
    val agg = spark.read.format("arrow").load(dir)
      .agg(count(lit(1)), sum(col("v"))).collect()(0)
    assert(agg.getLong(0) == 3500)
    assert(ArrowDataSource.footerOpens.get == before,
      "post-DML planning swept footers despite the commit hooks")
  }

  test("logged commits append per-epoch stats fragments — the root " +
      "sidecar is NOT rewritten per epoch — and log compaction folds " +
      "them, keeping planning at zero footer opens") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.arrow.GraftCatalog].getName)
    val dir = Files.createTempDirectory("fidx_frag").toString
    writeFixture(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val rootSidecar = root.resolve(FooterIndexFile.FileName)
    val beforeBytes = Files.readAllBytes(rootSidecar)
    // two DML epochs: each must cost one small fragment, not an
    // O(entries) root rewrite (the O(n²)-over-log-lifetime trap)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE k < 200")
    spark.sql(s"UPDATE graft.arrow.`$dir` SET v = 1.0 " +
      "WHERE k >= 2000 AND k < 2100")
    val md = root.resolve("_graft_metadata")
    val frags = Files.list(md).iterator()
    val fragNames = scala.collection.mutable.ArrayBuffer.empty[String]
    while (frags.hasNext) {
      val n = frags.next().getFileName.toString
      if (n.endsWith(".fstats")) fragNames += n
    }
    assert(fragNames.nonEmpty, "DML epochs wrote no stats fragments")
    assert(java.util.Arrays.equals(beforeBytes,
      Files.readAllBytes(rootSidecar)),
      "a logged commit rewrote the root sidecar — per-epoch cost is " +
        "O(entries) again")
    // fragments serve planning before any fold
    val before = ArrowDataSource.footerOpens.get
    assert(spark.read.format("arrow").load(dir).count() == 3800)
    assert(ArrowDataSource.footerOpens.get == before,
      "planning swept footers despite epoch fragments")
    assertSidecarMatchesFooters(dir)
    // log compaction folds the fragments into the root sidecar
    ArrowDataSource.compactLog(root,
      ArrowDataSource.latestCommittedEpoch(root))
    assertSidecarMatchesFooters(dir)
    val after = Files.list(md).iterator()
    var remaining = 0
    while (after.hasNext) {
      if (after.next().getFileName.toString.endsWith(".fstats"))
        remaining += 1
    }
    assert(remaining == 0, "compaction left unfolded fragments")
    val idx = FooterIndexFile.load(root).getOrElse(fail("sidecar gone"))
    assert(ArrowDataSource.visibleIpcFiles(dir).forall(f =>
      idx.infoOf(root.relativize(f.toAbsolutePath.normalize).toString)
        .isDefined), "fold lost coverage of visible files")
    val before2 = ArrowDataSource.footerOpens.get
    assert(spark.read.format("arrow").load(dir).count() == 3800)
    assert(ArrowDataSource.footerOpens.get == before2)
  }

  test("the streaming sink writes per-epoch stats fragments and a " +
      "sink directory plans with zero footer opens") {
    import org.apache.spark.sql.streaming.Trigger
    val out = Files.createTempDirectory("fidx_sink").toString
    val ckpt = Files.createTempDirectory("fidx_sink_ckpt").toString
    val src = Files.createTempDirectory("fidx_sink_src").toString
    spark.range(2000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(2)
      .write.format("arrow").mode("overwrite").save(src)
    val q = spark.readStream.format("arrow").load(src)
      .writeStream.format("arrow")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start(out)
    try q.processAllAvailable() finally q.stop()
    val root = Paths.get(out).toAbsolutePath.normalize
    val md = root.resolve("_graft_metadata")
    val entries = Files.list(md).iterator()
    var sawStats = false
    while (entries.hasNext) {
      val n = entries.next().getFileName.toString
      if (n.endsWith(".fstats")) sawStats = true
    }
    // the epoch's stats live either as a tail fragment or already
    // folded into the root sidecar by manifest compaction
    assert(sawStats ||
      Files.isRegularFile(root.resolve(FooterIndexFile.FileName)),
      "streaming sink committed no footer stats at all")
    val idx = FooterIndexFile.load(root)
      .getOrElse(fail("sink sidecar unreadable"))
    assert(ArrowDataSource.visibleIpcFiles(out).forall(f =>
      idx.infoOf(root.relativize(f.toAbsolutePath.normalize).toString)
        .isDefined), "sink epoch files missing from the index")
    val before = ArrowDataSource.footerOpens.get
    assert(spark.read.format("arrow").load(out).count() == 2000)
    assert(ArrowDataSource.footerOpens.get == before,
      "planning a sink dir swept footers despite epoch fragments")
  }

  test("a partitioned write indexes files under their col=value " +
      "relpaths and partition-pruned planning opens no footers") {
    val dir = Files.createTempDirectory("fidx_part").toString
    spark.range(1000).selectExpr("id AS k", "id % 4 AS p")
      .repartition(2, col("p"))
      .write.format("arrow").partitionBy("p")
      .mode("overwrite").save(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val idx = FooterIndexFile.load(root).getOrElse(fail("no sidecar"))
    assert(idx.entries.keySet.forall(_.startsWith("p=")),
      s"expected partition-dir relpaths, got ${idx.entries.keySet}")
    val before = ArrowDataSource.footerOpens.get
    val n = spark.read.format("arrow").load(dir)
      .filter(col("p") === 2).count()
    assert(n == 250)
    assert(ArrowDataSource.footerOpens.get == before)
  }

  test("a read addressed at a partition SUBDIRECTORY of a logged " +
      "table still resolves from the root sidecar — zero footer opens") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fidx_subdir").toString
    (1L to 1000L).map(i => (i, s"p${i % 4}")).toDF("k", "p")
      .repartition(2)
      .write.format("arrow").partitionBy("p")
      .option("optimizeWrite", "true")
      .mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    // sidecar keys are table-root-relative; the subdirectory read must
    // anchor at the sink root, or every lookup misses silently
    val before = ArrowDataSource.footerOpens.get
    val n = spark.read.format("arrow").load(s"$dir/p=p2").count()
    assert(n == 250)
    assert(ArrowDataSource.footerOpens.get == before,
      "subdirectory read swept data-file footers despite the root " +
        "sidecar")
  }
}
