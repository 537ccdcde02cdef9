package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog}

/** Delta-based (merge-on-read) row-level operations on `set_dv`
  * tables: UPDATE / MERGE / complex-predicate DELETE stream per-row
  * ops keyed by the stable `(_file, _pos)` row id — deletes become
  * deletion-vector bits, updates delete+insert, inserts append — and
  * one atomic epoch commits vectors + removals + new files. No touched
  * data file ever rewrites. */
class ArrowDeltaSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  private def bagEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def fixture(prefix: String, n: Int = 100): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(prefix).toString
    (1 to n).map(i => (i.toLong, (i % 7).toLong, s"v$i"))
      .toDF("id", "grp", "tag")
      .repartition(3)
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    spark.sql(s"CALL graft.system.set_dv(path => '$dir')").collect()
    dir
  }

  private def dataFiles(dir: String): Map[String, Long] =
    ArrowDataSource.listIpcFiles(dir)
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  test("complex-predicate DELETE (not source-filter-expressible) " +
      "routes delta and masks without moving a byte") {
    val dir = fixture("delta_del")
    val before = dataFiles(dir)
    // `id % 10 = 0` cannot push as a source filter — this used to be
    // the CoW fallback; with delta ops it masks
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id % 10 = 0")
    assert(dataFiles(dir) == before,
      "delta DELETE must not write or touch any data file")
    val t = spark.read.format("arrow").load(dir)
    assert(t.count() == 90)
    assert(t.filter(col("id") % 10 === 0).count() == 0)
    val root = Paths.get(dir).toAbsolutePath.normalize
    assert(ArrowDataSource.liveDvs(root, None).values.map(_._2).sum == 10L)
  }

  test("MERGE INTO on a vectored table: matched updates mask+append, " +
      "unmatched rows insert, one atomic epoch, row-exact result") {
    import spark.implicits._
    val dir = fixture("delta_merge")
    val root = Paths.get(dir).toAbsolutePath.normalize
    val before = dataFiles(dir)
    val epochBefore = ArrowDataSource.latestCommittedEpoch(root)
    Seq((40L, "patched"), (41L, "patched"), (200L, "fresh"))
      .toDF("k", "p").createOrReplaceTempView("delta_src")
    spark.sql(
      s"""MERGE INTO graft.arrow.`$dir` t USING delta_src s
         |ON t.id = s.k
         |WHEN MATCHED THEN UPDATE SET tag = s.p
         |WHEN NOT MATCHED THEN
         |  INSERT (id, grp, tag) VALUES (s.k, 0, s.p)""".stripMargin)
    val t = spark.read.format("arrow").load(dir)
    assert(t.count() == 101)
    assert(t.filter(col("tag") === "patched").count() == 2)
    assert(t.filter(col("id") === 200).count() == 1)
    assert(t.filter(col("id") === 40 && col("tag") =!= "patched")
      .count() == 0, "old version of an updated row resurfaced")
    assert(before.forall { case (f, m) => dataFiles(dir).get(f).contains(m) },
      "MERGE rewrote a pre-existing data file")
    assert(ArrowDataSource.latestCommittedEpoch(root) == epochBefore + 1,
      "MERGE must commit exactly one epoch")
    // time travel: pre-merge version still exact
    assert(spark.read.format("arrow")
      .option("epochAsOf", epochBefore).load(dir).count() == 100)
  }

  test("delta UPDATE equals the CoW UPDATE's result exactly (same SQL, " +
      "different physical strategy)") {
    import spark.implicits._
    val cow = Files.createTempDirectory("delta_vs_cow").toString
    val dv = fixture("delta_upd")
    (1 to 100).map(i => (i.toLong, (i % 7).toLong, s"v$i"))
      .toDF("id", "grp", "tag")
      .repartition(3)
      .write.format("arrow").mode("overwrite").save(cow)
    ArrowDataSource.initTableLog(cow)
    for (d <- Seq(cow, dv)) {
      spark.sql(s"UPDATE graft.arrow.`$d` SET tag = concat(tag, '!') " +
        "WHERE grp = 3")
      spark.sql(s"DELETE FROM graft.arrow.`$d` WHERE id % 9 = 0")
    }
    assert(bagEqual(spark.read.format("arrow").load(cow),
      spark.read.format("arrow").load(dv)),
      "delta and CoW row-level ops diverged on identical SQL")
  }

  test("CHECK constraints gate delta inserts: a violating UPDATE " +
      "aborts with no epoch and no mask") {
    val dir = fixture("delta_con")
    spark.sql(s"CALL graft.system.add_constraint(path => '$dir', " +
      "name => 'grp_range', expr => 'grp BETWEEN 0 AND 6')").collect()
    val root = Paths.get(dir).toAbsolutePath.normalize
    val epochBefore = ArrowDataSource.latestCommittedEpoch(root)
    val err = intercept[Exception] {
      spark.sql(s"UPDATE graft.arrow.`$dir` SET grp = 99 WHERE id <= 5")
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf).mkString
      .contains("grp_range"))
    assert(ArrowDataSource.latestCommittedEpoch(root) == epochBefore,
      "failed delta UPDATE must commit nothing")
    assert(ArrowDataSource.liveDvs(root, None).isEmpty,
      "failed delta UPDATE must not mask the old versions")
    assert(spark.read.format("arrow").load(dir).count() == 100)
  }

  test("delta batch abort unlinks BOTH appended-file classes — " +
      "plain-insert files and the update-arm's rewritten-row files") {
    import graft.sources.arrow.{ArrowDeltaBatchWrite, ArrowDeltaCommitMessage, ArrowDeltaOperation, TableSnapshot}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("delta_abort").toString
    val ins = Files.createFile(Paths.get(dir, "orphan_insert.arrow"))
    val upd = Files.createFile(Paths.get(dir, "orphan_update.arrow"))
    val schema = StructType(Seq(StructField("id", LongType)))
    val op = new ArrowDeltaOperation(TableSnapshot.read(dir), schema,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.MERGE)
    val write = new ArrowDeltaBatchWrite(op, dir, schema,
      StructType(Seq.empty), None, Seq.empty)
    write.abort(Array(ArrowDeltaCommitMessage(
      Map.empty, Seq(ins.toString), Seq(""),
      Map.empty, Seq(upd.toString), Seq(""))))
    assert(!Files.exists(ins),
      "aborted insert-arm file must be unlinked")
    assert(!Files.exists(upd),
      "aborted update-arm file must be unlinked — a leaked one is " +
        "invisible to readers AND to vacuum forever")
  }

  test("repeated delta ops accumulate correctly and OPTIMIZE purges " +
      "into a clean table with identical content") {
    val dir = fixture("delta_accum")
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id % 10 = 0")
    spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = 'x' WHERE id % 7 = 1")
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id % 10 = 1")
    val snapshot = spark.read.format("arrow").load(dir)
      .collect().toSeq
    spark.sql(s"CALL graft.system.compact(path => '$dir', " +
      "target_rows => 10000)").collect()
    val root = Paths.get(dir).toAbsolutePath.normalize
    assert(ArrowDataSource.liveDvs(root, None).isEmpty,
      "OPTIMIZE must purge vectors")
    val after = spark.read.format("arrow").load(dir).collect().toSeq
    assert(after.toSet == snapshot.toSet &&
      after.length == snapshot.length,
      "OPTIMIZE changed the table's content")
  }
}
