package graft.tools

import java.nio.file.{Files, Paths}

import graft.sources.arrow.{ArrowDataSource, TableLog}

/** Reader-vs-compaction soak (run on demand:
  * `sbt "Test/runMain graft.tools.ReadRace"`). A child process loops
  * raw log reads — visibleIpcFiles and TableLog.read — while the
  * parent commits 120 epochs whose interval-triggered compactions keep
  * sweeping covered metadata out from under the reader. Every read
  * must succeed (TableLog.read's retry contract) and every visible set
  * must be a consistent snapshot (size equals some prefix count of
  * commits). */
object ReadRaceChild {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val deadline = System.currentTimeMillis() + 30000
    var reads = 0
    Files.createFile(root.resolve("_reader_up"))
    while (System.currentTimeMillis() < deadline &&
        !Files.exists(root.resolve("_done"))) {
      val n = ArrowDataSource.visibleIpcFiles(dir).size
      val e = ArrowDataSource.latestCommittedEpoch(root)
      require(n <= e,
        s"inconsistent read: $n visible files at epoch $e")
      val log = TableLog.read(root)
      require(log.live(None).size <= log.latest,
        s"inconsistent log: ${log.live(None).size} live files at " +
          s"epoch ${log.latest}")
      reads += 1
    }
    println(s"READRACE_CHILD reads=$reads")
  }
}

object ReadRace {
  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("readrace").toString
    ArrowDataSource.initTableLog(dir)
    val root = Paths.get(dir).toAbsolutePath.normalize
    val javaBin = Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"),
      "graft.tools.ReadRaceChild", dir)
      .redirectErrorStream(true).start()
    val t0 = System.currentTimeMillis()
    while (!Files.exists(root.resolve("_reader_up")) &&
      System.currentTimeMillis() - t0 < 60000) Thread.sleep(20)
    require(Files.exists(root.resolve("_reader_up")),
      "reader never came up")
    for (i <- 1 to 120) {
      val f = root.resolve(s"w_$i.arrow")
      Files.write(f, Array[Byte](65))
      ArrowDataSource.commitAppendWithRebase(dir, i - 1L, Seq(f.toString))
      Thread.sleep(10) // pace: keep the commit+compaction stream alive
      // across the reader's whole warm-up, guaranteeing overlap
    }
    Files.createFile(root.resolve("_done"))
    val out = new String(child.getInputStream.readAllBytes, "UTF-8")
    require(child.waitFor() == 0, s"reader crashed mid-race:\n$out")
    require(out.contains("READRACE_CHILD reads="), out)
    println(s"READRACE_OK ${out.linesIterator.toSeq.last}")
  }
}
