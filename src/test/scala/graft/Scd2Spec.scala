package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog}
import graft.streaming.Scd2Maintain

/** Incremental SCD Type-2 maintenance off the change feed
  * ([[graft.streaming.Scd2Maintain]]); exact-history parity at the
  * declared surface is the DuckDB oracle's job (`cdc_scd2`). Here:
  * the dimension invariants under MULTI-refresh histories (each epoch
  * in its own micro-batch — the cross-batch close path the one-shot
  * oracle fixture cannot separate), delete→re-insert lifecycles, and
  * MERGE idempotence under batch replay without the txn gate. */
class Scd2Spec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def dimDf(dim: String): DataFrame =
    spark.read.format("arrow").load(dim)

  /** The SCD2 core invariants + the strong one: current versions must
    * equal the source's live rows exactly. */
  private def checkInvariants(src: String, dim: String): Unit = {
    val d = dimDf(dim)
    // ≤1 current version per key, and current ⟺ open interval
    val multiCurrent = d.filter(col("is_current"))
      .groupBy(col("id")).count().filter(col("count") > 1).count()
    assert(multiCurrent == 0, "a key has two current versions")
    assert(d.filter(col("is_current") =!= col("valid_to").isNull)
      .count() == 0, "is_current must equal valid_to IS NULL")
    // versions of one key never overlap: next valid_from >= valid_to
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("valid_from"))
    val overlaps = d
      .withColumn("nxt", lead(col("valid_from"), 1).over(w))
      .filter(col("nxt").isNotNull &&
        (col("valid_to").isNull || col("nxt") < col("valid_to")))
      .count()
    assert(overlaps == 0, "overlapping version intervals")
    // strong: current slice == live source rows
    val current = d.filter(col("is_current"))
      .select(col("id"), col("grp"), col("amt"))
    val live = spark.read.format("arrow").load(src)
      .select(col("id"), col("grp"), col("amt"))
    assert(current.exceptAll(live).isEmpty &&
      live.exceptAll(current).isEmpty,
      "current versions diverged from the live source")
  }

  test("multi-refresh history: per-epoch batches, delete→re-insert, " +
      "and invariants after every refresh") {
    import spark.implicits._
    val src = Files.createTempDirectory("scd2_src").toString
    val dim = Files.createTempDirectory("scd2_dim").toString
    val ckpt = Files.createTempDirectory("scd2_ckpt").toString
    val base = (1L to 40L).map(i => (i, "g" + (i % 4), i * 7L))
      .toDF("id", "grp", "amt")
    base.repartition(2)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    base.limit(0)
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .coalesce(1).write.format("arrow").mode("overwrite").save(dim)
    def refresh(): Unit = {
      val q = Scd2Maintain.maintain(spark, src, dim,
        keyCols = Seq("id"), checkpoint = ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    refresh() // snapshot
    checkInvariants(src, dim)
    // epoch-per-refresh path: every close crosses a batch boundary
    spark.sql(s"UPDATE graft.arrow.`$src` SET amt = amt + 100 " +
      "WHERE id <= 10")
    refresh()
    checkInvariants(src, dim)
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id BETWEEN 5 AND 15")
    refresh()
    checkInvariants(src, dim)
    // re-insert a previously deleted key: new open version, old history
    // intact with a coverage gap
    spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES (7, 'g3', 777)")
    refresh()
    checkInvariants(src, dim)
    val k7 = dimDf(dim).filter(col("id") === 7)
      .orderBy(col("valid_from")).collect()
    assert(k7.length == 3, s"key 7 should carry 3 versions: ${k7.mkString}")
    assert(k7.forall(r => !r.isNullAt(r.fieldIndex("valid_to")) ||
      r.getBoolean(r.fieldIndex("is_current"))))
    assert(k7.last.getLong(k7.last.fieldIndex("amt")) == 777L)
    // updated-then-deleted key: two closed versions, none current
    val k5 = dimDf(dim).filter(col("id") === 5).collect()
    assert(k5.length == 2 &&
      k5.forall(!_.getBoolean(k5.head.fieldIndex("is_current"))))
  }

  test("applyBatch is idempotent under replay even without the txn gate") {
    import spark.implicits._
    val src = Files.createTempDirectory("scd2r_src").toString
    val dim = Files.createTempDirectory("scd2r_dim").toString
    val base = (1L to 20L).map(i => (i, "g", i))
      .toDF("id", "grp", "amt")
    base.repartition(2)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    base.limit(0)
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .coalesce(1).write.format("arrow").mode("overwrite").save(dim)
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE id < 5")
    spark.sql(s"UPDATE graft.arrow.`$src` SET amt = 0 WHERE id >= 15")
    val batch = spark.read.format("arrow")
      .option("readChangeFeed", "true").option("startingEpoch", 0)
      .load(src)
    Scd2Maintain.applyBatch(batch, dim, Seq("id"), txn = None)
    val once = dimDf(dim).orderBy(col("id"), col("valid_from"))
      .collect().toSeq
    Scd2Maintain.applyBatch(batch, dim, Seq("id"), txn = None)
    val twice = dimDf(dim).orderBy(col("id"), col("valid_from"))
      .collect().toSeq
    assert(twice == once, "replayed batch changed the dimension")
    checkInvariants(src, dim)
  }

  test("an empty micro-batch commits no dimension epoch") {
    import spark.implicits._
    val src = Files.createTempDirectory("scd2e_src").toString
    val dim = Files.createTempDirectory("scd2e_dim").toString
    val base = (1L to 20L).map(i => (i, "g", i)).toDF("id", "grp", "amt")
    base.coalesce(1).write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    base.limit(0)
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .coalesce(1).write.format("arrow").mode("overwrite").save(dim)
    def refresh(from: Long): Unit = {
      val q = Scd2Maintain.maintain(spark, src, dim, keyCols = Seq("id"),
        checkpoint = Files.createTempDirectory("scd2e_ckpt").toString,
        startingEpoch = from)
      try q.processAllAvailable() finally q.stop()
    }
    def latest(dir: String): Long = ArrowDataSource.latestCommittedEpoch(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize)
    refresh(0L)
    val synced = latest(dim)
    // a fresh checkpoint past the source's head: its window is empty
    refresh(latest(src) + 1)
    assert(latest(dim) == synced,
      "an empty batch committed a dimension epoch")
    checkInvariants(src, dim)
  }

  test("a NULL key closes its own open version: one current row per " +
      "NULL key after its updates") {
    import spark.implicits._
    val src = Files.createTempDirectory("scd2n_src").toString
    val dim = Files.createTempDirectory("scd2n_dim").toString
    val ckpt = Files.createTempDirectory("scd2n_ckpt").toString
    val base = Seq[(Option[Long], String, Long)]((Some(1L), "g", 10L),
      (None, "g", 0L), (Some(2L), "g", 20L)).toDF("id", "grp", "amt")
    base.coalesce(1).write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    base.limit(0)
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .coalesce(1).write.format("arrow").mode("overwrite").save(dim)
    def refresh(): Unit = {
      val q = Scd2Maintain.maintain(spark, src, dim,
        keyCols = Seq("id"), checkpoint = ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    refresh()
    spark.sql(s"UPDATE graft.arrow.`$src` SET amt = 1 WHERE id IS NULL")
    refresh()
    spark.sql(s"UPDATE graft.arrow.`$src` SET amt = 2 WHERE id IS NULL")
    refresh()
    val nullKey = dimDf(dim).filter(col("id").isNull)
    assert(nullKey.filter(col("is_current")).count() == 1,
      "the NULL key must carry exactly one current version")
    assert(nullKey.count() == 3, "the NULL key keeps its two closed versions")
    checkInvariants(src, dim)
  }
}
