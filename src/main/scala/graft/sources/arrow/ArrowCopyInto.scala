package graft.sources.arrow

import java.nio.charset.StandardCharsets
import java.nio.file.{FileSystems, Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Idempotent external-file ingestion — Delta's `COPY INTO` shape.
  *
  * `CALL graft.system.copy_into(path => t, source => dir)` loads the
  * data files under `source` into the logged arrow table at `path`,
  * ledgering each loaded file's identity (absolute path + size)
  * INSIDE the ingest epoch's manifest (`#copy` headers —
  * [[ArrowDataSource.withPendingCopies]]): the ledger commits
  * atomically with the rows' visibility flip, so a crashed load
  * ledgers nothing and a landed one can never lose its ledger. A
  * re-run (ingest retry, an orchestrator's catch-up sweep re-listing
  * the whole landing zone) skips every already-ledgered file — at
  * 100 TB, retrying ingestion is a metadata pass over the listing,
  * never a double-load. Log compaction folds every key forward
  * ([[TableLog]]'s `#copy`), so the skip check keeps
  * answering after the ingest manifests are reclaimed.
  *
  * A ledgered file whose on-disk SIZE has since changed fails the
  * call loudly: the landing zone mutated a file after it was loaded,
  * and silently skipping (or re-loading) it would make the table's
  * content depend on retry timing. Delete-and-rewrite under a new
  * name is the supported landing-zone protocol (as for Delta).
  */
object ArrowCopyInto {

  /** Ledger key: base64 of the absolute normalized source path (the
    * manifest is TAB-separated; paths may contain anything). */
  def keyOf(p: Path): String =
    java.util.Base64.getEncoder.encodeToString(
      p.toAbsolutePath.normalize.toString.getBytes(StandardCharsets.UTF_8))

  private def defaultGlob(format: String): String = format match {
    case "parquet" => "*.parquet"
    case "orc" => "*.orc"
    case "json" => "*.json"
    case "csv" => "*.csv"
    case "arrow" => "*.arrow"
    case other => throw new IllegalArgumentException(
      s"copy_into: unsupported source format '$other' " +
        "(parquet, orc, json, csv, arrow)")
  }

  /** Returns (files_total, files_loaded, files_skipped, rows_loaded). */
  def run(spark: SparkSession, table: String, source: String,
      format: String = "parquet", pattern: String = ""): (Long, Long, Long, Long) = {
    if (ArrowDataSource.sinkRoot(table).isDefined &&
        !ArrowDataSource.isTableLog(table))
      throw new UnsupportedOperationException(
        s"arrow: $table is a streaming sink; COPY INTO would collide " +
          "with the stream's epoch numbering. Load into a fresh table.")
    val fmt = format.toLowerCase
    val glob = if (pattern.nonEmpty) pattern else defaultGlob(fmt)
    val matcher = FileSystems.getDefault.getPathMatcher(s"glob:$glob")
    val srcDir = Paths.get(source).toAbsolutePath.normalize
    require(Files.isDirectory(srcDir),
      s"copy_into: source $source is not a directory")
    val candidates = {
      val s = Files.list(srcDir)
      try s.iterator().asScala.toSeq finally s.close()
    }.filter(p => Files.isRegularFile(p) && matcher.matches(p.getFileName))
      .sortBy(_.toString)
    // the ledger needs a log to live in: first load upgrades a flat
    // dir (epoch 0 = current snapshot), exactly like the first DML;
    // a brand-new target starts as an empty logged table
    Files.createDirectories(Paths.get(table))
    ArrowDataSource.initTableLog(table)
    val root = Paths.get(table).toAbsolutePath.normalize
    val ledger: Map[String, Long] = TableLog.read(root).copies
      .map { case (k, (_, sz)) => k -> sz }
    val (skipped, fresh) =
      candidates.partition(p => ledger.contains(keyOf(p)))
    skipped.foreach { p =>
      val sz = Files.size(p)
      val ledgered = ledger(keyOf(p))
      if (sz != ledgered) throw new IllegalStateException(
        s"copy_into: $p was loaded at $ledgered bytes but is now " +
          s"$sz bytes — the landing zone mutated a loaded file. " +
          "Land changed data under a NEW file name.")
    }
    if (fresh.isEmpty)
      return (candidates.size.toLong, 0L, skipped.size.toLong, 0L)
    val reader = fmt match {
      // header+inferSchema: the classic landing-zone CSV contract
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true").format(fmt)
      case _ => spark.read.format(fmt)
    }
    val df0 = reader.load(fresh.map(_.toString): _*)
    // schema gate: a landing file whose shape drifted from the table
    // must fail the LOAD, not a later read (empty tables have no
    // schema yet — the first load defines it). Compare by NAME→TYPE —
    // column order and nullability are landing-zone noise (partition
    // evolution legitimately reorders the table schema) — then
    // reorder to the table's order, because the path-based V2 append
    // resolves BY POSITION.
    val existing = scala.util.Try(
      spark.read.format("arrow").load(table).schema)
      .getOrElse(org.apache.spark.sql.types.StructType(Seq.empty))
    val df =
      if (existing.isEmpty) df0
      else {
        def sig(s: org.apache.spark.sql.types.StructType) =
          s.fields.map(f => f.name -> f.dataType).toMap
        if (sig(existing) != sig(df0.schema))
          throw new IllegalStateException(
            s"copy_into: source schema ${df0.schema.simpleString} " +
              s"does not match table schema ${existing.simpleString}")
        df0.select(existing.fieldNames.toIndexedSeq
          .map(org.apache.spark.sql.functions.col): _*)
      }
    // row count via an observation on the write itself — no extra
    // scan job for reporting
    val obs = Observation()
    val keys = fresh.map(p => (keyOf(p), Files.size(p)))
    ArrowDataSource.withPendingCopies(table, keys) {
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("arrow").mode("append").save(table)
    }
    val rows = obs.get.get("rows") match {
      case Some(l: java.lang.Long) => l.longValue()
      case Some(other) => other.toString.toLong
      case None => -1L
    }
    (candidates.size.toLong, fresh.size.toLong, skipped.size.toLong, rows)
  }
}
