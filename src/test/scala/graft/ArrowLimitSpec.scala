package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowScan, ArrowScanBuilder, TableSnapshot}

/** Limit pushdown on the Arrow DSv2: planning stops emitting splits
  * once the footers' per-batch row counts PROVE the limit is covered,
  * so `LIMIT k` over a many-file directory schedules O(k/batchRows)
  * batches instead of one task per file. The push is PARTIAL (Spark
  * keeps its Limit above, so over-planning is safe) and is refused
  * whenever a pushed data filter could drop rows between the scan and
  * the Limit.
  */
class ArrowLimitSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  // 8 files x 1250 rows, 250-row batches => 5 batches per file
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("arrowlimit").toString
    spark.range(10000).toDF("id")
      .withColumn("payload", concat(lit("row-"), col("id")))
      .repartition(8)
      .write.format("arrow").option("batchRows", 250)
      .mode("overwrite").save(d)
    d
  }

  private def schemaOf(d: String) =
    spark.read.format("arrow").load(d).schema

  test("planning truncates to the proven-row prefix of one file") {
    val sb = new ArrowScanBuilder(TableSnapshot.read(dir), schemaOf(dir))
    assert(sb.pushLimit(300), "limit push refused on an unfiltered scan")
    val parts = sb.build().asInstanceOf[ArrowScan]
      .toBatch.planInputPartitions()
    // 300 rows are proven by two 250-row batches of the first file:
    // one split, not 8 files x 5 batches
    assert(parts.length == 1,
      s"expected one truncated split, planned ${parts.length}")
  }

  test("a limit above the directory's row count plans everything") {
    val sb = new ArrowScanBuilder(TableSnapshot.read(dir), schemaOf(dir))
    assert(sb.pushLimit(1000000))
    val parts = sb.build().asInstanceOf[ArrowScan]
      .toBatch.planInputPartitions()
    assert(parts.length == 8, s"expected all 8 files, got ${parts.length}")
  }

  test("pushed data filters refuse the limit (residual may drop rows)") {
    val sb = new ArrowScanBuilder(TableSnapshot.read(dir), schemaOf(dir))
    val accepted = sb.pushFilters(Array(
      org.apache.spark.sql.sources.LessThan("id", 100L)))
    assert(sb.pushedFilters().nonEmpty)
    assert(!sb.pushLimit(10),
      "limit must not push when a data filter is pushed")
    assert(accepted != null)
  }

  test("end-to-end: LIMIT plans through the scan and stays exact") {
    val df = spark.read.format("arrow").load(dir).limit(300)
    assert(df.queryExecution.executedPlan.toString.contains("limit=[300]"),
      s"limit not pushed:\n${df.queryExecution.executedPlan}")
    assert(df.count() == 300L)
    // limit larger than the data returns every row exactly once
    val all = spark.read.format("arrow").load(dir).limit(20000)
    assert(all.count() == 10000L)
    assert(all.select(sum(col("id"))).collect()(0).getLong(0) ==
      (0L until 10000L).sum)
  }

  test("limit composes with partition pruning") {
    val d = java.nio.file.Files.createTempDirectory("arrowlimitp").toString
    spark.range(1000).toDF("id")
      .withColumn("p", col("id") % 4)
      .write.format("arrow").partitionBy("p")
      .option("batchRows", 50).mode("overwrite").save(d)
    val df = spark.read.format("arrow").load(d)
      .filter(col("p") === 2L).limit(60)
    assert(df.count() == 60L)
    assert(df.collect().forall(_.getLong(1) == 2L))
  }
}
