package graft.sources.arrow

/** Child-JVM metadata probe for [[graft.tools.BenchFocus]]: time one
  * COLD full planning metadata pass over an Arrow directory —
  * construct the footer index and resolve every file's stats info —
  * and print the seconds. Runs with or without the
  * `_graft_footer_index` sidecar (the caller toggles it): with it this
  * is one file read; without it the index falls back to opening every
  * data file's footer. No SparkSession — the planning metadata path is
  * plain JVM code, and a fresh process defeats the in-process footer
  * memo that would otherwise hide the per-file cost. Lives in the
  * arrow package because [[FooterIndex]] is package-private. */
object FooterProbe {
  private def pass(dir: String): Int = {
    val idx = TableSnapshot.read(dir).footers
    idx.files.map(f => idx.info(f).sizes.length).sum
  }

  def main(args: Array[String]): Unit = {
    val (warmDir, dir) = (args(0), args(1))
    // warm CLASS LOADING on a different tiny directory (its memo
    // entries don't overlap the measured one), so the timed region
    // below is metadata IO, not scala-runtime classloading
    pass(warmDir)
    val t0 = System.nanoTime()
    val n = pass(dir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"FOOTER_PROBE_BATCHES=$n")
    println(f"FOOTER_PROBE_SEC=$sec%.4f")
  }
}
