package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowCopyInto, ArrowDataSource, TableLog}

/** COPY INTO — idempotent landing-zone ingestion: per-file ledger
  * carried in epoch manifests, retry skips, mutation detection,
  * ledger survival across log compaction, schema gating. */
class ArrowCopyIntoSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def tmpDir(): String =
    Files.createTempDirectory("copyinto").toString

  private def land(df: org.apache.spark.sql.DataFrame, landing: String,
      name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val stage = s"$landing/_stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val f = {
      val s = Files.list(Paths.get(stage))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .toSeq.head
      finally s.close()
    }
    Files.move(f, Paths.get(landing, s"$name.parquet"))
  }

  test("retry skips ledgered files; catch-up loads only new ones") {
    val landing = tmpDir()
    val table = tmpDir()
    val df = spark.range(100).toDF("id")
      .withColumn("v", col("id") * 2)
    land(df.filter(col("id") < 50), landing, "a")
    val r1 = ArrowCopyInto.run(spark, table, landing)
    assert(r1 == ((1L, 1L, 0L, 50L)), s"first load: $r1")
    // identical retry: ledgered, nothing loads
    val r2 = ArrowCopyInto.run(spark, table, landing)
    assert(r2 == ((1L, 0L, 1L, 0L)), s"retry: $r2")
    // late file arrives; the sweep re-lists everything
    land(df.filter(col("id") >= 50), landing, "b")
    val r3 = ArrowCopyInto.run(spark, table, landing)
    assert(r3 == ((2L, 1L, 1L, 50L)), s"catch-up: $r3")
    val got = spark.read.format("arrow").load(table)
      .agg(count(lit(1)), sum(col("v"))).collect()(0)
    assert((got.getLong(0), got.getLong(1)) == ((100L, 9900L)))
  }

  test("a mutated ledgered file fails loudly, not silently") {
    val landing = tmpDir()
    val table = tmpDir()
    land(spark.range(10).toDF("id"), landing, "a")
    ArrowCopyInto.run(spark, table, landing)
    // overwrite the landed file with different content (size changes)
    Files.delete(Paths.get(landing, "a.parquet"))
    land(spark.range(5000).toDF("id"), landing, "a")
    val e = intercept[IllegalStateException] {
      ArrowCopyInto.run(spark, table, landing)
    }
    assert(e.getMessage.contains("mutated"), e.getMessage)
  }

  test("ledger survives log compaction") {
    val landing = tmpDir()
    val table = tmpDir()
    val df = spark.range(60).toDF("id")
    land(df.filter(col("id") < 20), landing, "a")
    ArrowCopyInto.run(spark, table, landing)
    land(df.filter(col("id") >= 20 && col("id") < 40), landing, "b")
    ArrowCopyInto.run(spark, table, landing)
    val root = Paths.get(table).toAbsolutePath.normalize
    val epoch = ArrowDataSource.latestCommittedEpoch(root)
    ArrowDataSource.compactLog(root, epoch)
    assert(TableLog.read(root).copies.size == 2,
      "folded ledger lost keys")
    // post-compaction retry still skips both, new file still loads
    land(df.filter(col("id") >= 40), landing, "c")
    val r = ArrowCopyInto.run(spark, table, landing)
    assert(r == ((3L, 1L, 2L, 20L)), s"post-compaction sweep: $r")
    assert(spark.read.format("arrow").load(table).count() == 60)
  }

  test("schema drift between landing file and table refuses") {
    val landing = tmpDir()
    val table = tmpDir()
    land(spark.range(10).toDF("id"), landing, "a")
    ArrowCopyInto.run(spark, table, landing)
    land(spark.range(10).toDF("id")
      .withColumn("extra", lit("x")), landing, "b")
    val e = intercept[IllegalStateException] {
      ArrowCopyInto.run(spark, table, landing)
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
  }

  test("csv landing files load with header+inference") {
    val landing = tmpDir()
    val table = tmpDir()
    Files.writeString(Paths.get(landing, "a.csv"),
      "id,name\n1,alpha\n2,beta\n")
    val r = ArrowCopyInto.run(spark, table, landing, format = "csv")
    assert(r == ((1L, 1L, 0L, 2L)), s"csv load: $r")
    val got = spark.read.format("arrow").load(table)
      .orderBy(col("id")).collect().map(_.getString(1)).toSeq
    assert(got == Seq("alpha", "beta"))
  }
}
