package graft.sources.arrow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** ANALYZE-style table-level column statistics the footers cannot
  * carry: nulls and min/max fold from per-file footer stats, but
  * DISTINCT-VALUE counts (NDV) do not — merging per-file NDVs
  * over-counts shared values. `CALL graft.system.analyze(path)` runs
  * one approx_count_distinct pass over the table and persists the
  * results here; [[ArrowScan.estimateStatistics]] serves them to
  * Catalyst as `ColumnStatistics.distinctCount`, which is what the
  * CBO's join-cardinality and aggregate-output estimates key on. At
  * 100 TB that estimate is the difference between planning a
  * fact-fact join as an explosion or a reduction.
  *
  * Estimates, never correctness: stale NDVs (the table grew since
  * ANALYZE) still inform the optimizer; re-run analyze to refresh.
  * Format: `rows<TAB>n` header then `col<TAB>ndv` lines, then optional
  * `h<TAB>col<TAB>height<TAB>lo:hi:ndv;…` EQUI-HEIGHT HISTOGRAM lines
  * (`analyze(histogram => true)`) — the selectivity input for skewed
  * predicates, where a flat NDV assumes uniformity and misestimates a
  * hot key by orders of magnitude. Atomically replaced. */
object ColumnStatsFile {
  val FileName = "_graft_column_stats"

  /** One equi-height histogram: ~rows/bins rows per bin, each bin
    * `(lo, hi, ndv)` in the column's double-coerced domain (Catalyst's
    * `HistogramBin` shape). */
  final case class Hist(height: Double, bins: Seq[(Double, Double, Long)])

  private def file(root: Path): Path = root.resolve(FileName)

  /** `analyzedEpoch` and `sketches` are the INCREMENTAL-ANALYZE state:
    * the table epoch the statistics cover (-1 = flat/unknown) and the
    * per-column HLL sketch blobs (DataSketches binary, via Spark's
    * `hll_sketch_agg`) a later `analyze(incremental => true)` merges
    * delta-file sketches into. Older readers skip both line classes
    * (the `epoch` tag fails base64, the 3-field `s` lines match no
    * arm), so the format stays forward/backward tolerant. */
  def write(root: Path, rows: Long, ndv: Seq[(String, Long)],
      hists: Seq[(String, Hist)] = Seq.empty,
      analyzedEpoch: Long = -1L,
      sketches: Seq[(String, Array[Byte])] = Seq.empty): Unit = {
    def b64(c: String): String = java.util.Base64.getEncoder
      .encodeToString(c.getBytes(StandardCharsets.UTF_8))
    val body = ((s"rows\t$rows" +:
      (if (analyzedEpoch >= 0) Seq(s"epoch\t$analyzedEpoch")
       else Seq.empty) ++:
      ndv.map { case (c, n) => s"${b64(c)}\t$n" }) ++
      hists.map { case (c, h) =>
        val bins = h.bins.map { case (lo, hi, n) => s"$lo:$hi:$n" }
          .mkString(";")
        s"h\t${b64(c)}\t${h.height}\t$bins"
      } ++
      sketches.map { case (c, bytes) =>
        s"s\t${b64(c)}\t${java.util.Base64.getEncoder
          .encodeToString(bytes)}"
      }).mkString("\n")
    // two concurrent ANALYZE calls: last replace wins, both are valid
    AtomicFiles.replace(file(root), body.getBytes(StandardCharsets.UTF_8))
  }

  /** ONE read + parse serving both statistic classes:
    * (rowsAtAnalyze, col → ndv, col → histogram); None when never
    * analyzed. NDV lines and histogram lines parse independently, so a
    * stats file from before histograms existed (or one whose histogram
    * line is malformed) still serves its NDVs. Planning calls this
    * once per scan — the sidecar must not be read twice per plan. */
  def loadAll(root: Path)
      : Option[(Long, Map[String, Long], Map[String, Hist])] =
    try {
      if (!Files.exists(file(root))) None
      else {
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(file(root)).asScala
        val rows = lines.headOption.collect {
          case l if l.startsWith("rows\t") => l.substring(5).toLong
        }.getOrElse(return None)
        def unb(c64: String): String = new String(
          java.util.Base64.getDecoder.decode(c64),
          StandardCharsets.UTF_8)
        val ndv = lines.drop(1).flatMap(_.split('\t') match {
          // per-line guard like the histogram arm below: one malformed
          // NDV line (bad base64, non-numeric count) skips that line,
          // never throws into the outer catch and nukes the whole
          // sidecar — the two statistic classes parse independently
          case Array(c64, n) =>
            try Some(unb(c64) -> n.toLong)
            catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }).toMap
        val hists = lines.drop(1).flatMap(_.split('\t') match {
          case Array("h", c64, height, bins) =>
            try {
              val bs = bins.split(';').toSeq.filter(_.nonEmpty)
                .map { b =>
                  val p = b.split(':')
                  (p(0).toDouble, p(1).toDouble, p(2).toLong)
                }
              if (bs.isEmpty) None
              else Some(unb(c64) -> Hist(height.toDouble, bs))
            } catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }).toMap
        Some((rows, ndv, hists))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (rowsAtAnalyze, col → ndv), None when never analyzed. */
  def load(root: Path): Option[(Long, Map[String, Long])] =
    loadAll(root).map { case (r, n, _) => (r, n) }

  /** Incremental-analyze state: (rowsAtAnalyze, analyzedEpoch,
    * col → HLL sketch blob); None when the sidecar is absent or holds
    * no epoch/sketches (written before incremental analyze existed —
    * the caller falls back to a full recompute). Per-line guarded
    * like the other classes. */
  def loadSketches(root: Path)
      : Option[(Long, Long, Map[String, Array[Byte]])] =
    try {
      if (!Files.exists(file(root))) None
      else {
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(file(root)).asScala
        val rows = lines.headOption.collect {
          case l if l.startsWith("rows\t") => l.substring(5).toLong
        }.getOrElse(return None)
        val epoch = lines.collectFirst {
          case l if l.startsWith("epoch\t") =>
            try Some(l.substring(6).toLong)
            catch { case scala.util.control.NonFatal(_) => None }
        }.flatten.getOrElse(return None)
        def unb(c64: String): String = new String(
          java.util.Base64.getDecoder.decode(c64),
          StandardCharsets.UTF_8)
        val sketches = lines.flatMap(_.split('\t') match {
          case Array("s", c64, blob) =>
            try Some(unb(c64) ->
              java.util.Base64.getDecoder.decode(blob))
            catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }).toMap
        if (sketches.isEmpty) None else Some((rows, epoch, sketches))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** col → equi-height histogram, empty when never computed. */
  def loadHistograms(root: Path): Map[String, Hist] =
    loadAll(root).map(_._3).getOrElse(Map.empty)
}
