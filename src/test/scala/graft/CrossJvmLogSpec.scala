package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, TableLog}

/** Child-process entry for [[CrossJvmLogSpec]]: commits `n` one-file
  * append epochs to the table at `dir` under the optimistic-concurrency
  * protocol (hard-link manifest claim + blind-append rebase),
  * racing whatever other PROCESS is doing the same. No SparkSession —
  * the contract under test is the commit-log layer itself, and keeping
  * the child lean makes the race window tight instead of being
  * dominated by JVM+Spark startup skew. */
object CrossJvmLogRacer {
  def main(args: Array[String]): Unit = {
    val (dir, tag, n) = (args(0), args(1), args(2).toInt)
    commitMany(dir, tag, n)
    println(s"RACER_DONE $tag")
  }

  def commitMany(dir: String, tag: String, n: Int): Unit = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    (1 to n).foreach { i =>
      val f = root.resolve(s"${tag}_$i.arrow")
      Files.write(f, Array[Byte](65, 82, 82, 79, 87, 49))
      val base = ArrowDataSource.latestCommittedEpoch(root)
      ArrowDataSource.commitAppendWithRebase(dir, base,
        Seq(f.toString), maxRetries = 500)
    }
  }
}

/** Child-process entry for [[CrossJvmLogSpec]]'s replay-gate race:
  * commits `n` one-file appends to `dir`, each stamped `#txn` by
  * writer `app` at version i, with a compaction every 2 epochs so
  * covered manifests keep vanishing under a concurrent reader. */
object CrossJvmTxnRacer {
  def main(args: Array[String]): Unit = {
    val (dir, app, n) = (args(0), args(1), args(2).toInt)
    val root = Paths.get(dir).toAbsolutePath.normalize
    (1 to n).foreach { i =>
      val f = root.resolve(s"${app}_$i.arrow")
      Files.write(f, Array[Byte](65, 82, 82, 79, 87, 49))
      ArrowDataSource.withPendingTxn(dir, app, i.toLong) {
        ArrowDataSource.commitAppendWithRebase(dir,
          ArrowDataSource.latestCommittedEpoch(root), Seq(f.toString),
          compactInterval = 2)
      }
    }
    println(s"RACER_DONE $app")
  }
}

/** The optimistic-concurrency claim held only as far as it was tested:
  * ArrowTableLogSpec races 8 writers in ONE JVM, where the filesystem
  * calls share a process. This spec races PROCESSES on one table — the
  * manifest claim (a hard link that fails when the epoch's manifest
  * exists, [[graft.sources.arrow.AtomicFiles.claim]]) and blind-append
  * rebase must serialize commits across JVMs with no lost epoch and no
  * lost add, and a reader in another process must only ever see whole
  * epochs — exactly the multi-writer story a shared table on a real
  * cluster depends on. */
class CrossJvmLogSpec extends AnyFunSuite {

  test("three JVMs racing blind appends on one table: every commit " +
      "lands, no epoch or add is lost, mid-read compaction sweeps " +
      "are survived, the log folds cleanly") {
    val dir = Files.createTempDirectory("xjvm_log").toString
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val n = 50 // crosses many compaction intervals: each process's
    // fold SWEEPS covered manifests/.ts markers while the others are
    // mid-read — the window that crashed log reads before
    // TableLog.read retried the read (NoSuchFileException on a .ts marker,
    // reproduced 6/6 under this load pre-fix)

    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val cp = System.getProperty("java.class.path")
    val kids = Seq("c1", "c2").map { tag =>
      new ProcessBuilder(
        java, "-cp", cp, "graft.CrossJvmLogRacer", dir, tag, n.toString)
        .redirectErrorStream(true).start()
    }
    // parent races in-thread while both children run
    CrossJvmLogRacer.commitMany(dir, "parent", n)
    kids.foreach { child =>
      val out = new String(child.getInputStream.readAllBytes, "UTF-8")
      assert(child.waitFor() == 0, s"child JVM failed:\n$out")
      assert(out.contains("RACER_DONE"), s"child never finished:\n$out")
    }

    // every commit landed as its own epoch: 3n epochs after the init
    // snapshot, none skipped, none double-numbered (claiming the
    // manifest name is the cross-process mutex)
    assert(ArrowDataSource.latestCommittedEpoch(root) == 3L * n,
      "a racing commit overwrote or skipped an epoch")
    // every add from all three processes is visible exactly once
    val visible = ArrowDataSource.visibleIpcFiles(dir)
      .map(_.getFileName.toString).sorted
    val expected = ((1 to n).map(i => s"parent_$i.arrow") ++
      (1 to n).map(i => s"c1_$i.arrow") ++
      (1 to n).map(i => s"c2_$i.arrow")).sorted
    assert(visible == expected,
      s"lost/duplicated adds across JVMs: got ${visible.size}, " +
        s"missing ${expected.toSet -- visible.toSet}, " +
        s"extra ${visible.toSet -- expected.toSet}")
    // and the log compacts without losing any of it (2n epochs crossed
    // several compaction intervals during the race)
    ArrowDataSource.compactLog(root,
      ArrowDataSource.latestCommittedEpoch(root))
    val afterCompact = ArrowDataSource.visibleIpcFiles(dir)
      .map(_.getFileName.toString).sorted
    assert(afterCompact == expected,
      "compaction after the cross-JVM race changed the visible set")
  }

  test("a stale-base REMOVE epoch planned before another PROCESS " +
      "committed fails fast instead of landing on the moved table") {
    val dir = Files.createTempDirectory("xjvm_stale").toString
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    CrossJvmLogRacer.commitMany(dir, "seed", 2)
    val plannedBase = ArrowDataSource.latestCommittedEpoch(root)
    val victim = root.resolve("seed_1.arrow").toString

    // another JVM commits while our remove epoch is 'in flight'
    val javaBin = Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(
      javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.CrossJvmLogRacer", dir, "interloper", "1")
      .redirectErrorStream(true).start()
    assert(child.waitFor() == 0)

    // removes are NOT blind appends: the snapshot this delete planned
    // against is gone, so the commit must refuse (cross-process
    // optimistic concurrency), never silently drop the interloper
    intercept[java.util.ConcurrentModificationException] {
      ArrowDataSource.commitTableEpoch(dir, plannedBase,
        Seq.empty, Seq(victim))
    }
    // re-planned against the CURRENT state it lands
    val nowBase = ArrowDataSource.latestCommittedEpoch(root)
    ArrowDataSource.commitTableEpoch(dir, nowBase, Seq.empty, Seq(victim))
    val visible = ArrowDataSource.visibleIpcFiles(dir)
      .map(_.getFileName.toString).toSet
    assert(!visible.contains("seed_1.arrow"))
    assert(visible.contains("interloper_1.arrow"),
      "the other process's commit was lost")
  }

  test("the replay gate never reads low while another JVM's " +
      "compactions fold the stamped manifests away") {
    val dir = Files.createTempDirectory("xjvm_txn").toString
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val n = 60
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val child = new ProcessBuilder(java, "-cp",
      System.getProperty("java.class.path"), "graft.CrossJvmTxnRacer",
      dir, "xjvm", n.toString).redirectErrorStream(true).start()
    // a vanished manifest must be re-read, never skipped: a skipped
    // #txn stamp reads the gate LOW, and a replayed batch re-applies
    var seen = 0L
    var polls = 0
    while (child.isAlive) {
      val v = TableLog.read(root).lastTxnVersion("xjvm").getOrElse(0L)
      assert(v >= seen,
        s"lastTxnVersion went back from $seen to $v after $polls polls")
      seen = v
      polls += 1
    }
    val out = new String(child.getInputStream.readAllBytes, "UTF-8")
    assert(child.waitFor() == 0 && out.contains("RACER_DONE"),
      s"child JVM failed:\n$out")
    assert(TableLog.read(root).lastTxnVersion("xjvm").contains(n.toLong))
  }

  test("a reader never sees an epoch whose manifest is not yet whole " +
      "while another JVM commits") {
    val dir = Files.createTempDirectory("xjvm_reader").toString
    ArrowDataSource.initTableLog(dir) // epoch 0 lists no file
    val root = Paths.get(dir).toAbsolutePath.normalize
    val n = 200
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val child = new ProcessBuilder(java, "-cp",
      System.getProperty("java.class.path"), "graft.CrossJvmLogRacer",
      dir, "w", n.toString).redirectErrorStream(true).start()
    // each epoch after 0 adds one file, so a whole log at `latest`
    // lists `latest` files and its head epoch carries an add
    var reads = 0
    def check(): Long = {
      val log = TableLog.read(root)
      assert(log.live(None).size == log.latest,
        s"read $reads counts epoch ${log.latest} but lists " +
          s"${log.live(None).size} files")
      assert(log.latest == 0L || log.history.exists(en =>
        en.epoch == log.latest && !en.remove),
        s"read $reads: head epoch ${log.latest} carries no add")
      reads += 1
      log.latest
    }
    while (child.isAlive) check()
    val out = new String(child.getInputStream.readAllBytes, "UTF-8")
    assert(child.waitFor() == 0 && out.contains("RACER_DONE"),
      s"child JVM failed:\n$out")
    assert(check() == n.toLong)
  }
}
