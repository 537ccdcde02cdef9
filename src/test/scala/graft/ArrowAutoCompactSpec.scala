package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, AutoCompact, GraftCatalog, TableLog}

/** Post-commit auto-compaction (`set_auto_compact`): splinter-heavy
  * ingest self-heals without OPTIMIZE calls, the rewrite touches only
  * splinters, rides one data-neutral epoch (CDC-invisible), and stays
  * off below the threshold. */
class ArrowAutoCompactSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  test("small-batch ingest self-heals at the threshold; healthy files " +
      "never rewrite; the maintenance epoch is data-neutral") {
    import spark.implicits._
    val dir = Files.createTempDirectory("autocompact").toString
    // one healthy file well above target/2
    (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.set_auto_compact(path => '$dir', " +
      "min_files => 4, target_rows => 1000)").collect()
    val root = Paths.get(dir).toAbsolutePath.normalize
    val healthy = ArrowDataSource.visibleIpcFiles(dir).map(_.toString)
    assert(healthy.length == 1)

    // three splinter appends: below min_files, nothing compacts
    for (i <- 1 to 3)
      Seq((10000L + i, s"s$i")).toDF("id", "tag").coalesce(1)
        .write.format("arrow").mode("append").save(dir)
    assert(ArrowDataSource.visibleIpcFiles(dir).length == 4,
      "compaction fired below the min_files threshold")

    // the fourth splinter crosses the threshold: splinters fold, the
    // healthy file is untouched
    Seq((10004L, "s4")).toDF("id", "tag").coalesce(1)
      .write.format("arrow").mode("append").save(dir)
    val after = ArrowDataSource.visibleIpcFiles(dir).map(_.toString)
    assert(after.length == 2,
      s"expected healthy + one folded file, got ${after.length}")
    assert(after.contains(healthy.head),
      "auto-compact rewrote a healthy file")
    assert(spark.read.format("arrow").load(dir).count() == 2004)
    assert(spark.read.format("arrow").load(dir)
      .filter(col("id") >= 10000).count() == 4)

    // the fold rode a data-neutral epoch: a change feed over the whole
    // history delivers the appends but none of the compaction churn
    val feed = spark.read.format("arrow")
      .option("readChangeFeed", "true").option("startingEpoch", 1L)
      .load(dir)
    assert(feed.filter(col("id") >= 10000)
      .filter(col(graft.sources.arrow.ArrowChanges.ChangeTypeCol) ===
        "insert").count() == 4,
      "appends missing from the feed")
    assert(TableLog.read(root).neutral.nonEmpty,
      "auto-compaction epoch not marked data-neutral")

    // disable: splinters accumulate again
    spark.sql(s"CALL graft.system.set_auto_compact(path => '$dir', " +
      "enabled => false)").collect()
    for (i <- 5 to 9)
      Seq((10000L + i, s"s$i")).toDF("id", "tag").coalesce(1)
        .write.format("arrow").mode("append").save(dir)
    assert(ArrowDataSource.visibleIpcFiles(dir).length == 7,
      "disable did not stop auto-compaction")
  }

  test("concurrent configure calls never collide: no call throws and " +
      "every read returns a pair some call wrote") {
    val dir = Files.createTempDirectory("autocompact_race").toString
    ArrowDataSource.initTableLog(dir)
    AutoCompact.configure(dir, 2, 2L)
    // thread t writes (t + 2, i + 2): unique to the thread and call
    val written = Set((2, 2L)) ++
      (for (t <- 0 until 4; i <- 1 to 200) yield (t + 2, i + 2L))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      val reader = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          var reads = 0
          while (!stop.get()) {
            val c = AutoCompact.config(dir)
            assert(c.exists(written), s"read $c, which no call wrote")
            reads += 1
          }
          reads
        }
      })
      val writers = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (1 to 200).foreach(i =>
            AutoCompact.configure(dir, t + 2, i + 2L))
        })
      }
      try writers.foreach(_.get()) // rethrows a writer's failure
      finally stop.set(true)
      assert(reader.get() > 0)
    } finally pool.shutdown()
    assert(AutoCompact.config(dir).exists(c => written(c) && c._2 == 202L))
  }
}
