package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog}

/** Maintenance rewrites (`compact`, `zorder`, `purge`) list, read and
  * commit at ONE epoch: a commit landing while a rewrite runs fails
  * the rewrite's base check instead of being folded into, or undone
  * by, the rewritten generation. */
class RewriteSnapshotSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  /** A logged table of ids `0 until n` spread over `files` files. */
  private def table(prefix: String, n: Long, files: Int,
      partitioned: Boolean = false): String = {
    val dir = Files.createTempDirectory(prefix).toString
    val df = spark.range(0, n).selectExpr("id", "id % 4 AS p")
      .repartition(files)
    val w = df.write.format("arrow").mode("overwrite")
    (if (partitioned) w.partitionBy("p") else w).save(dir)
    ArrowDataSource.initTableLog(dir)
    dir
  }

  private def ids(dir: String): Seq[Long] = {
    import spark.implicits._
    spark.read.format("arrow").load(dir).select("id").as[Long]
      .collect().toSeq
  }

  private def isConflict(t: Throwable): Boolean =
    TestErrors.errChain(t).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException])

  /** `CALL compact` in a loop for at most `seconds` or `max` calls while
    * `racer` runs on another thread; returns (succeeded, conflicted).
    * Any failure other than a commit conflict, on either side, fails
    * the test. */
  private def compactWhile(dir: String, seconds: Int, max: Int)(
      racer: AtomicBoolean => Unit): (Int, Int) = {
    val stop = new AtomicBoolean(false)
    val failure = new AtomicReference[Throwable](null)
    val t = new Thread(() =>
      try racer(stop) catch { case e: Throwable => failure.set(e) })
    t.start()
    var (ok, lost) = (0, 0)
    val deadline = System.nanoTime() + seconds * 1000000000L
    try {
      while (ok + lost < max && System.nanoTime() < deadline &&
          failure.get == null) {
        try {
          spark.sql(s"CALL graft.system.compact(path => '$dir', " +
            "target_rows => 100)").collect()
          ok += 1
        } catch { case e: Exception if isConflict(e) => lost += 1 }
      }
    } finally { stop.set(true); t.join() }
    Option(failure.get).foreach(e => throw e)
    info(s"compact: $ok of ${ok + lost} succeeded, $lost conflicted")
    (ok, lost)
  }

  test("a rewrite addressed at a partition subdirectory refuses, " +
      "pointing at partition =>, and commits nothing") {
    val dir = table("rw_subdir", 400, 8, partitioned = true)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val sub = s"$dir/p=1"
    val compactErr = intercept[Exception] {
      spark.sql(s"CALL graft.system.compact(path => '$sub')").collect()
    }
    TestErrors.assertRefused(compactErr, "partition => 'p=1'")
    val zorderErr = intercept[Exception] {
      spark.sql(s"CALL graft.system.zorder(path => '$sub', " +
        "cols => 'id,p')").collect()
    }
    TestErrors.assertRefused(zorderErr, "partition subdirectory")
    val purgeErr = intercept[Exception] {
      spark.sql(s"CALL graft.system.purge(path => '$sub', " +
        "predicate => 'id = 1')").collect()
    }
    TestErrors.assertRefused(purgeErr, "partition subdirectory")
    assert(!Files.exists(root.resolve("p=1")
      .resolve(ArrowDataSource.MetadataDirName)),
      "a refused rewrite created a nested log under the partition")
    assert(ArrowDataSource.latestCommittedEpoch(root) == 0L)
    assert(ids(dir).sorted == (0L until 400L))
    // the root with partition => is the supported way
    val res = spark.sql(s"CALL graft.system.compact(path => '$dir', " +
      "partition => 'p=1')").collect()(0)
    assert(res.getLong(2) == 100L, s"compact of p=1 wrong: $res")
    assert(ids(dir).sorted == (0L until 400L))
  }

  test("compact racing a throttled appender never duplicates or " +
      "drops an id") {
    val dir = table("rw_append", 400, 8)
    val next = new AtomicLong(400L)
    // gaps both shorter and longer than one compaction, so some
    // compactions overlap an append and some win their commit
    val gaps = new scala.util.Random(11)
    compactWhile(dir, seconds = 20, max = 40) { stop =>
      while (!stop.get) {
        val id = next.get
        spark.range(id, id + 1).selectExpr("id", "id % 4 AS p")
          .write.format("arrow").mode("append").save(dir)
        next.incrementAndGet()
        Thread.sleep(100 + gaps.nextInt(700))
      }
    }
    val got = ids(dir)
    val dups = got.diff(got.distinct).distinct
    assert(dups.size == 0, s"ids duplicated by compaction: ${dups.sorted}")
    assert(got.toSet == (0L until next.get).toSet,
      s"${got.size} rows for ${next.get} appended ids")
  }

  test("compact racing a DELETE loop never resurrects or duplicates " +
      "an id") {
    val dir = table("rw_delete", 400, 8)
    val deleted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    compactWhile(dir, seconds = 20, max = 40) { stop =>
      var d = 0L
      while (!stop.get && d < 400L) {
        // a DELETE that loses its commit to a compaction re-plans
        try {
          spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id = $d")
          deleted.add(d)
          d += 7
        } catch { case e: Exception if isConflict(e) => () }
        Thread.sleep(50)
      }
    }
    val got = ids(dir)
    val dups = got.diff(got.distinct).distinct
    assert(dups.size == 0, s"ids duplicated by compaction (${got.size} rows)")
    val resurrected = got.filter(i => deleted.contains(i)).distinct
    assert(resurrected.size == 0,
      s"deleted ids resurrected by compaction: ${resurrected.sorted}")
    assert(got.toSet.size == 400 - deleted.size)
  }
}
