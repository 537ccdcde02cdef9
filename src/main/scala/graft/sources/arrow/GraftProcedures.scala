package graft.sources.arrow

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance surface as SQL procedures (`CALL graft.system.<proc>`)
  * — the operational verbs every table format grows (Delta/Iceberg
  * ship the same trio), bound through Spark's `ProcedureCatalog` so a
  * scheduler can run them as plain SQL with named args:
  *
  *   - `vacuum(path, grace_ms)` — reclaim files readers already cannot
  *     see (crashed-writer temps, sink orphans). Metadata-only.
  *   - `compact(path, target_rows)` — fold splinter files into
  *     row-count-targeted ones (OPTIMIZE). The sizing count is
  *     answered from footer stats; the rewrite is one distributed job.
  *   - `dictionary_encode(in_path, out_path, codec, max_cardinality)`
  *     — re-encode string columns as indices+dictionary
  *     ([[ArrowOptimize.dictionaryEncode]]), one task per file.
  *
  * Each returns a result table (paths deleted / file counts) so the
  * caller sees what happened without grepping logs. */
object GraftProcedures {

  private class ResultScan(schema: StructType, data: Array[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data
  }

  private def result(schema: StructType, data: Array[InternalRow])
      : java.util.Iterator[Scan] =
    java.util.List.of[Scan](new ResultScan(schema, data)).iterator()

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** The snapshot a maintenance rewrite of `path` lists, reads and
    * commits at. Refuses a streaming sink's log (its epochs belong to
    * the query checkpoint) and a partition subdirectory of a logged
    * table: a rewrite addressed there would commit into a nested log
    * the table's readers never consult. `scope` turns the
    * subdirectory's root-relative path into the way to narrow `op`. */
  private def rewriteSnapshot(path: String, op: String,
      scope: String => String): TableSnapshot = {
    val snap = TableSnapshot.read(path)
    require(snap.log.isEmpty || snap.isTableLog,
      s"$op: $path is a streaming sink, whose epochs belong to its " +
        "query checkpoint; a file rewrite would desync them — stop the " +
        "stream and upgrade it to a logged table first")
    val dir = Paths.get(path).toAbsolutePath.normalize
    require(snap.log.isEmpty || snap.root == dir,
      s"$op: $path is a partition subdirectory of the logged table at " +
        s"${snap.root} — ${scope(snap.root.relativize(dir).toString)}")
    snap
  }

  /** `snap`'s rows at its head epoch (only `files` of them when given)
    * under the snapshot's schema. The read is pinned by `epochAsOf`, so
    * a commit landing after the snapshot changes neither what a
    * rewrite reads nor the base it commits on; a directory with no
    * committed epoch has nothing to pin. */
  private[arrow] def readAt(snap: TableSnapshot,
      files: Seq[Path] = Seq.empty): DataFrame = {
    val dir = Paths.get(snap.path).toAbsolutePath.normalize
    val r = SparkSession.active.read.format("arrow")
      .schema(ArrowTable.inferSchema(snap,
        new CaseInsensitiveStringMap(java.util.Map.of("path", snap.path))))
    val pinned =
      if (snap.latest >= 0) r.option("epochAsOf", snap.latest) else r
    val picked =
      if (files.isEmpty) pinned
      else pinned.option("files", files.map(f =>
        dir.relativize(f.toAbsolutePath.normalize).toString).mkString(","))
    picked.load(snap.path)
  }

  /** Rewrite `replaced`, files of `snap`'s head, with `df`'s rows;
    * returns the number of files visible after. On a LOGGED table the
    * new files are STAGED (land on disk, enter no manifest) and one
    * epoch on `snap.latest` then swaps the generations atomically — a
    * reader mid-rewrite resolves the old layout, never a mix, and the
    * old files back `VERSION AS OF` until vacuum. Any commit since the
    * snapshot fails that epoch's base check: the staged files are
    * deleted and the ConcurrentModificationException propagates, so a
    * row appended or deleted meanwhile is never duplicated or
    * resurrected. On a flat directory the files land visibly and the
    * old generation is unlinked after, the pre-log behavior (brief
    * both-generations window, documented). */
  private[arrow] def loggedRewrite(snap: TableSnapshot,
      replaced: Seq[Path], sortCol: Option[String] = None)(
      df: Dataset[Row]): Long = {
    // Preserve the Hive partition LAYOUT through maintenance: a
    // rewrite that drops partitionBy would flatten col=value dirs into
    // plain columns — reads stay correct (partition values ride in the
    // files) but planning-time partition pruning is silently destroyed,
    // exactly the property a 100 TB layout was partitioned FOR.
    val w0 = df.write.format("arrow").mode("append")
    val w1 = sortCol.fold(w0)(c => w0.option("sortBy", c))
    val w =
      if (snap.partCols.isEmpty) w1
      else w1.partitionBy(snap.partCols: _*).option("optimizeWrite", "true")
    val dir = snap.root.toString
    if (snap.isTableLog) {
      // maintenance rewrites carry the SAME row multiset — the
      // neutral flag puts `#neutral` in the epoch's claimed manifest,
      // so change-feed consumers can never observe the churn as data
      // change
      val adds = ArrowDataSource.commitStaged(dir, snap.latest, w,
        replaced.map(_.toString), neutral = true)
      snap.footers.files.length - replaced.length + adds.length
    } else {
      w.save(dir)
      replaced.foreach(Files.deleteIfExists)
      // the replaced generation is gone on a flat dir: forget it
      FooterIndexFile.prune(snap.root, replaced)
      ArrowDataSource.listIpcFiles(dir).length
    }
  }

  /** One-method binding: the procedures take scalar IN params only, so
    * bind() ignores the input type and returns the single overload. */
  private abstract class SimpleProcedure(procName: String,
      procDescription: String) extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  val Vacuum: UnboundProcedure = new SimpleProcedure("vacuum",
    "delete files invisible to readers: crashed-writer .inprogress " +
      "temps and, under a streaming sink, .arrow files no committed " +
      "manifest lists; files younger than grace_ms are never touched") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("grace_ms", LongType)
        .defaultValue("3600000").build(),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false")
        .comment("report what WOULD be reclaimed, delete nothing")
        .build())
    private val out = StructType(Seq(
      StructField("deleted_path", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val deleted = ArrowOptimize.vacuum(
        input.getUTF8String(0).toString, input.getLong(1),
        input.getBoolean(2))
      result(out, deleted.map(p =>
        new GenericInternalRow(Array[Any](utf8(p.toString)))
          : InternalRow).toArray)
    }
  }

  val Compact: UnboundProcedure = new SimpleProcedure("compact",
    "fold splinter files into target_rows-sized ones (OPTIMIZE): " +
      "sizing reads footer stats only, the rewrite is one distributed " +
      "job, and the old files are unlinked after the new ones land. " +
      "target_bytes > 0 sizes by on-disk block BYTES instead " +
      "(Delta OPTIMIZE's contract — wide/compressed rows make row " +
      "counts a poor proxy for scan-unit size), bin-packed from the " +
      "footer sidecar's per-file block sizes") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("target_rows", LongType)
        .defaultValue("1048576").build(),
      ProcedureParameter.in("partition", StringType)
        .defaultValue("''")
        .comment("optional col=value[/col2=value2] subtree: compact " +
          "ONLY that partition's files (Delta's OPTIMIZE WHERE) — at " +
          "100 TB the hot ingest partition compacts without touching " +
          "the other petabytes").build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue("0")
        .comment("when > 0, size output files by BYTES (takes " +
          "precedence over target_rows)").build())
    private val out = StructType(Seq(
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false),
      StructField("rows", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val target = math.max(1L, input.getLong(1))
      val selector = Option(input.getUTF8String(2)).map(_.toString)
        .map(_.stripPrefix("/").stripSuffix("/")).filter(_.nonEmpty)
      // ONE snapshot: the files, their footers and sort stamps, the
      // partition columns, the rows read and the commit base
      val snap = rewriteSnapshot(path, "compact", rel =>
        s"compact the table root with partition => '$rel'")
      val root = snap.root
      val partCols = snap.partCols
      selector.foreach(sel => require(partCols.nonEmpty,
        s"compact: partition => '$sel' but $path carries no " +
          "col=value partition layout"))
      val memo = snap.footers
      val before = selector match {
        case None => memo.files
        case Some(sel) =>
          val picked = memo.files.filter(f => root.relativize(
            f.toAbsolutePath.normalize).toString.startsWith(sel + "/"))
          require(picked.nonEmpty,
            s"compact: no visible files under partition '$sel' of $path")
          picked
      }
      // the untouched partitions' files are neither read nor rewritten
      // — cost scales with the SELECTED subtree
      val df = readAt(snap, if (selector.isEmpty) Seq.empty else before)
      // sizing from footer row stats: metadata-only
      val n = memo.liveRows(before).getOrElse(df.count())
      val targetBytes = input.getLong(3)
      // bytes-targeted sizing: the sidecar's per-file block sizes are
      // already in hand (one metadata read), so the byte budget costs
      // nothing extra; output count = ceil(selected bytes / target) —
      // the rewrite repartitions evenly, approximating the bin packing
      // at file grain
      val nFiles =
        if (targetBytes > 0) {
          val bytes = before.map(f => memo.info(f).sizes.sum).sum
          math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        } else math.max(1L, (n + target - 1) / target).toInt
      // SORT-PRESERVING compaction: when every input file carries the
      // same verified sort stamp (and the layout is neither bucketed
      // nor partitioned), the rewrite range-partitions + re-sorts on
      // that column and writes with sortBy — the folded files come out
      // stamped again, so the zero-sort join property survives
      // OPTIMIZE instead of silently degrading to plain files
      val sortCol: Option[String] =
        if (partCols.nonEmpty || selector.nonEmpty) None
        else {
          val stamps = before.map(f => memo.info(f))
          if (stamps.nonEmpty && stamps.forall(i =>
              i.sort.isDefined && i.bucket.isEmpty))
            stamps.flatMap(_.sort).distinct match {
              case Seq(one) => Some(one)
              case _ => None
            }
          else None
        }
      val after = sortCol match {
        case Some(c) =>
          import org.apache.spark.sql.functions.col
          loggedRewrite(snap, before, sortCol)(
            df.repartitionByRange(nFiles, col(c))
              .sortWithinPartitions(col(c)))
        case None => loggedRewrite(snap, before)(df.repartition(nFiles))
      }
      result(out, Array(new GenericInternalRow(Array[Any](
        before.length.toLong, after, n))))
    }
  }

  val Purge: UnboundProcedure = new SimpleProcedure("purge",
    "right-to-be-forgotten HARD delete (Delta's DELETE + REORG APPLY " +
      "(PURGE) + zero-retention VACUUM in one audited pass): DELETE " +
      "the matching rows, MATERIALIZE any deletion-vector masks by " +
      "rewriting only the vectored files (masked bytes must not " +
      "outlive the purge), then vacuum with zero grace — every " +
      "replaced file is reclaimed and the travel horizon advances, so " +
      "no VERSION AS OF, change-feed rewind, or raw on-disk byte can " +
      "resurrect the purged rows. The ONLY operation allowed to " +
      "sacrifice history: compliance beats time travel. Scope is THIS " +
      "table: on a shallow clone the purge materializes/unlinks its " +
      "borrowed references, but the SOURCE table's own files are the " +
      "source's to purge") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("predicate", StringType)
        .comment("SQL boolean over the table's columns; matching " +
          "rows are irrecoverably removed").build())
    private val out = StructType(Seq(
      StructField("dv_files_materialized", LongType, nullable = false),
      StructField("files_reclaimed", LongType, nullable = false),
      StructField("travel_horizon", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val pred = input.getUTF8String(1).toString
      rewriteSnapshot(path, "purge", _ =>
        "purge the table root with a predicate on the partition column")
      SparkSession.active.sql(
        s"DELETE FROM graft.arrow.`$path` WHERE $pred")
      // merge-on-read masks keep the purged BYTES in the data files —
      // materialize them: one logged rewrite of ONLY the vectored
      // files at the epoch after the DELETE (the scan reads through
      // the vectors, so the replacement files carry surviving rows
      // only; the epoch drops the vectors).
      // Selection is by the `_file` metadata column, NOT the in-root
      // `files` scan option: a shallow CLONE's vectors can sit on
      // BORROWED `../` files, which the option's root guard rejects —
      // the metadata-column path is exactly how CoW DML selects its
      // victim files on clones, so purge composes the same way
      val snap = TableSnapshot.read(path)
      val dvs = snap.log.fold(Map.empty[String, (String, Long)])(_.dvs(None))
      if (dvs.nonEmpty) {
        import org.apache.spark.sql.functions.col
        val files = dvs.keys.toSeq.sorted
          .map(rel => snap.root.resolve(rel).normalize)
        val full = readAt(snap)
        val df = full
          .select((full.columns.map(col).toIndexedSeq :+
            col(ArrowDataSource.FileMetaCol)): _*)
          .where(col(ArrowDataSource.FileMetaCol)
            .isin(files.map(_.toString): _*))
          .drop(ArrowDataSource.FileMetaCol)
        loggedRewrite(snap, files)(df.repartition(files.length))
      }
      // zero-grace vacuum: reclaim every replaced file NOW and
      // advance the horizon past the purged rows' last version
      val reclaimed = ArrowOptimize.vacuum(path, graceMs = 0L)
      result(out, Array(new GenericInternalRow(Array[Any](
        dvs.size.toLong, reclaimed.length.toLong,
        TableLog.read(snap.root).horizon))))
    }
  }

  val DictionaryEncode: UnboundProcedure = new SimpleProcedure(
    "dictionary_encode",
    "rewrite in_path into out_path with string columns " +
      "dictionary-encoded (indices + per-file dictionary), one task " +
      "per file; codec '' means uncompressed") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("in_path", StringType).build(),
      ProcedureParameter.in("out_path", StringType).build(),
      ProcedureParameter.in("codec", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("max_cardinality", LongType)
        .defaultValue("65536").build())
    private val out = StructType(Seq(
      StructField("files_written", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val inPath = input.getUTF8String(0).toString
      val outPath = input.getUTF8String(1).toString
      val codec = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.nonEmpty)
      ArrowOptimize.dictionaryEncode(SparkSession.active, inPath,
        outPath, codec, input.getLong(3).toInt)
      result(out, Array(new GenericInternalRow(Array[Any](
        ArrowDataSource.visibleIpcFiles(outPath).length.toLong))))
    }
  }

  val Zorder: UnboundProcedure = new SimpleProcedure("zorder",
    "rewrite path clustered by the morton (bit-interleaved) key of " +
      "the named integer columns: each output file covers a tight box " +
      "in EVERY named dimension, so zone maps prune multi-column " +
      "point and range predicates — Delta's OPTIMIZE ZORDER BY") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("cols", StringType)
        .comment("comma-separated integer columns, 2..4").build(),
      ProcedureParameter.in("target_rows", LongType)
        .defaultValue("1048576").build())
    private val out = StructType(Seq(
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      import org.apache.spark.sql.functions._
      val path = input.getUTF8String(0).toString
      val cols = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty)
      val target = math.max(1L, input.getLong(2))
      require(cols.length >= 2 && cols.length <= 4,
        s"zorder interleaves 2..4 columns, got ${cols.toSeq}")
      val snap = rewriteSnapshot(path, "zorder", _ =>
        "zorder the table root")
      val before = snap.footers.files
      val df = readAt(snap)
      // Morton key: bit i of column j lands at position i*k + j — the
      // low 16 bits of each column interleave into one ≤64-bit key.
      // 16 bits per dimension bounds the curve's resolution, not the
      // data: higher bits only matter once two rows already share the
      // full 16-bit prefix of every dimension.
      val k = cols.length
      val zkey = (0 until 16).flatMap { i =>
        cols.zipWithIndex.map { case (c, j) =>
          shiftleft(shiftright(col(c).bitwiseAND(65535L), i)
            .bitwiseAND(1L), i * k + j)
        }
      }.reduce(_ + _)
      // sizing from footer row stats: metadata-only
      val n = snap.footers.liveRows(before).getOrElse(df.count())
      val nFiles = math.max(1L, (n + target - 1) / target).toInt
      val after = loggedRewrite(snap, before)(
        df.withColumn("__zkey", zkey)
          .repartitionByRange(nFiles, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey"))
      result(out, Array(new GenericInternalRow(Array[Any](
        before.length.toLong, after))))
    }
  }

  val History: UnboundProcedure = new SimpleProcedure("history",
    "list a commit log's epochs (files added / bytes added / files " +
      "removed per epoch) — streaming-sink appends and logged-table " +
      "DML/overwrite commits alike; the versions `VERSION AS OF` can " +
      "travel to") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build())
    private val out = StructType(Seq(
      StructField("epoch", LongType, nullable = false),
      StructField("commit_ts", TimestampType, nullable = true),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("removed", LongType, nullable = false),
      StructField("masked_rows", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val root = ArrowDataSource.sinkRoot(path).getOrElse(
        throw new IllegalArgumentException(
          s"history: $path carries no commit log — only streaming " +
            "sinks and logged tables have epoch history"))
      // commit wall-clock per epoch (micros, TimestampType internal);
      // null for epochs predating stamping whose manifest is gone
      val log = TableLog.read(root)
      val rows = log.history
        .groupBy(_.epoch).toSeq.sortBy(_._1)
        .map { case (epoch, entries) =>
          val (removes, rest) = entries.partition(_.remove)
          val (dvEvents, adds) = rest.partition(_.dv.isDefined)
          val bytes = adds.map { en =>
            val f = root.resolve(en.rel)
            if (Files.exists(f)) Files.size(f) else 0L
          }.sum
          // merge-on-read epochs: report the CUMULATIVE masked-row
          // count of the epoch's vectors (what the manifest carries),
          // not data bytes — no data file moved
          val masked = dvEvents.flatMap(_.dv.map(_._2)).sum
          new GenericInternalRow(Array[Any](
            epoch,
            log.stamps.get(epoch).map(m => java.lang.Long.valueOf(m * 1000L))
              .orNull,
            adds.length.toLong, bytes,
            removes.length.toLong, masked)): InternalRow
        }
      result(out, rows.toArray)
    }
  }

  val Restore: UnboundProcedure = new SimpleProcedure("restore",
    "roll a logged table back to a committed epoch as one NEW " +
      "metadata-only commit: re-add the files live at that version, " +
      "remove the current ones, move no data bytes. History is kept — " +
      "the pre-restore state stays addressable via VERSION AS OF and " +
      "a restore can itself be restored away — Delta's RESTORE. " +
      "Epochs behind the vacuum horizon (files reclaimed) refuse. " +
      "Address the version either by epoch or by timestamp " +
      "(timestamp => '2026-08-13 20:00:00' resolves through the " +
      "same commit-stamp index as TIMESTAMP AS OF reads: the " +
      "greatest epoch committed at or before the instant)") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("epoch", LongType)
        .defaultValue("-1")
        .comment("target version; -1 when addressing by timestamp")
        .build(),
      ProcedureParameter.in("timestamp", StringType)
        .defaultValue("''")
        .comment("target instant (ISO-8601 / UTC datetime / epoch " +
          "millis); empty when addressing by epoch").build())
    private val out = StructType(Seq(
      StructField("restored_to", LongType, nullable = false),
      StructField("committed_epoch", LongType, nullable = false),
      StructField("files_added", LongType, nullable = false),
      StructField("files_removed", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val epochArg = input.getLong(1)
      val tsArg = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.nonEmpty)
      require(ArrowDataSource.isTableLog(path),
        s"restore: $path is not a logged table — streaming-sink " +
          "epochs are numbered by the query checkpoint and rolling " +
          "them back would desync the stream; only DML/logged-batch " +
          "commit logs restore")
      val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
      val log = TableLog.read(root)
      val latest = log.latest
      require(tsArg.isEmpty || epochArg == -1L,
        "restore: specify either epoch or timestamp, not both")
      require(tsArg.nonEmpty || epochArg != -1L,
        "restore: specify a target epoch or timestamp")
      // timestamp resolution rides the exact same `#ts` stamp index as
      // TIMESTAMP AS OF reads; epochForTimestamp refuses pre-first-
      // commit instants, the horizon check below refuses reclaimed ones
      val target = tsArg match {
        case Some(t) =>
          log.epochForTimestamp(ArrowDataSource.parseTravelTimestamp(t))
        case None => epochArg
      }
      require(target >= 0 && target <= latest,
        s"restore: epoch $target out of range — $path has committed " +
          s"epochs 0..$latest")
      val horizon = log.horizon
      require(target >= horizon,
        s"restore: epoch $target of $path predates the vacuum " +
          s"horizon $horizon — its files were reclaimed; earliest " +
          s"restorable epoch is $horizon")
      val want = log.live(Some(target)).map(_._2).toSet
      val have = log.live(None).map(_._2).toSet
      val addSet = want -- have
      val adds = addSet.toSeq.sorted.map(r => root.resolve(r).toString)
      val removes = (have -- want).toSeq.sorted
        .map(r => root.resolve(r).toString)
      // Deletion-vector state is part of the version: each kept file
      // must end with the TARGET's vector. Re-added files start clean
      // (an add clears the vector), so a target vector re-commits; a
      // kept file whose vector must CLEAR cycles remove+add in the
      // same epoch (fold order: removes, adds, dv events).
      val wantDv = log.dvs(Some(target))
      val haveDv = log.dvs(None)
      val dvRestores = scala.collection.mutable
        .ArrayBuffer.empty[(String, String, Long)]
      val dvClears = scala.collection.mutable.ArrayBuffer.empty[String]
      want.toSeq.sorted.foreach { rel =>
        val desired = wantDv.get(rel)
        val current = if (addSet(rel)) None else haveDv.get(rel)
        (desired, current) match {
          case (Some((dvRel, n)), cur) if cur != desired =>
            dvRestores += ((root.resolve(rel).toString,
              root.resolve(dvRel).toString, n))
          case (None, Some(_)) => dvClears += root.resolve(rel).toString
          case _ => ()
        }
      }
      // an empty epoch still commits: the audit trail records that a
      // restore happened even when it was a no-op
      val committed = ArrowDataSource.commitTableEpoch(path, latest,
        adds ++ dvClears, removes ++ dvClears,
        dvs = dvRestores.toSeq)
      result(out, Array(new GenericInternalRow(Array[Any](
        target, committed, adds.length.toLong, removes.length.toLong))))
    }
  }

  val Clone: UnboundProcedure = new SimpleProcedure("clone",
    "zero-copy SHALLOW CLONE (Delta's): create dst_path as a logged " +
      "table whose epoch-0 manifest REFERENCES src_path's data files " +
      "at the given epoch (default latest) — no data bytes move, and " +
      "the source's footer-stats sidecar is copied so the clone plans " +
      "metadata-only. DML on the clone copy-on-writes into its OWN " +
      "files; the source is never touched; vacuum on the clone never " +
      "reclaims borrowed files (they live outside its root). A " +
      "borrowed file the SOURCE later vacuums fails the clone's reads " +
      "fast — re-clone to recover") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("src_path", StringType).build(),
      ProcedureParameter.in("dst_path", StringType).build(),
      ProcedureParameter.in("epoch", LongType)
        .defaultValue("-1")
        .comment("source version to clone; -1 = latest").build())
    private val out = StructType(Seq(
      StructField("files_referenced", LongType, nullable = false),
      StructField("bytes_referenced", LongType, nullable = false),
      StructField("bytes_copied", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = input.getUTF8String(0).toString
      val dst = input.getUTF8String(1).toString
      val asOf = input.getLong(2) match {
        case -1L => None
        case e => Some(e)
      }
      val srcRoot = java.nio.file.Paths.get(src).toAbsolutePath.normalize
      val dstRoot = java.nio.file.Paths.get(dst).toAbsolutePath.normalize
      require(srcRoot != dstRoot && !dstRoot.startsWith(srcRoot) &&
        !srcRoot.startsWith(dstRoot),
        s"clone: src_path and dst_path must be disjoint directories")
      require(ArrowDataSource.listIpcFiles(dst).isEmpty &&
        !Files.isDirectory(dstRoot.resolve(
          ArrowDataSource.MetadataDirName)),
        s"clone: dst_path $dst must be empty (no data files, no " +
          "commit log) — clone bootstraps a fresh table")
      // honors the source's vacuum horizon (pre-horizon versions
      // refuse) and manifest visibility; flat sources clone their
      // current listing (asOf refuses without a log, as on any read)
      val log = TableLog.forDir(src)
      val files = ArrowDataSource.visibleIpcFiles(src, log, asOf)
      require(files.nonEmpty, s"clone: no visible files under $src" +
        asOf.map(e => s" at epoch $e").getOrElse(""))
      val rels = files.map(f =>
        dstRoot.relativize(f.toAbsolutePath.normalize).toString)
      // borrowed deletion vectors: keys AND sidecar paths rewritten
      // dst-relative, restricted to the cloned file set
      val fileRels = files.map(f =>
        f.toAbsolutePath.normalize).toSet
      val dvs = log.map(_.dvs(asOf)).getOrElse(Map.empty).toSeq.collect {
        case (rel, (dvRel, n))
            if fileRels(srcRoot.resolve(rel).normalize) =>
          (dstRoot.relativize(srcRoot.resolve(rel).normalize).toString,
            dstRoot.relativize(srcRoot.resolve(dvRel).normalize).toString,
            n)
      }
      ArrowDataSource.initCloneLog(dstRoot, rels, dvs,
        // recorded at bootstrap: discovery at the SOURCE root is
        // reliable (in-root layouts; a cloned source consults its own
        // recorded list), while the dst's `../` rels are not
        TableSnapshot.read(src).partCols,
        // lineage for write-audit-publish: which table, at which epoch
        src = Some((srcRoot,
          if (ArrowDataSource.isTableLog(src))
            asOf.getOrElse(log.map(_.latest).getOrElse(-1L))
          else -1L)))
      FooterIndexFile.cloneTo(srcRoot, dstRoot, files)
      val bytes = files.map(f => Files.size(f)).sum
      result(out, Array(new GenericInternalRow(Array[Any](
        files.length.toLong, bytes, 0L))))
    }
  }

  val Publish: UnboundProcedure = new SimpleProcedure("publish",
    "WRITE-AUDIT-PUBLISH merge-back: atomically land a clone branch's " +
      "current state as ONE new epoch on the table it was cloned from. " +
      "Stage writes on a zero-copy branch (CALL clone), AUDIT them " +
      "there (queries, CHECK constraints), then publish: borrowed " +
      "files stay in place, branch-written files MOVE under the main " +
      "root (a rename, no data copy), deletion-vector masks carry " +
      "over, and the epoch commits against the RECORDED clone base — " +
      "if main advanced since the clone, publish fails with a " +
      "concurrent-modification error and nothing becomes visible " +
      "(moved-but-uncommitted files are invisible and vacuumable). " +
      "After a publish the branch is spent: re-clone to stage again") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("branch_path", StringType).build(),
      ProcedureParameter.in("main_path", StringType).build())
    private val out = StructType(Seq(
      StructField("published_epoch", LongType, nullable = false),
      StructField("files_added", LongType, nullable = false),
      StructField("files_removed", LongType, nullable = false),
      StructField("bytes_moved", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val branch = input.getUTF8String(0).toString
      val main = input.getUTF8String(1).toString
      result(out, Array(new GenericInternalRow(publishImpl(branch, main))))
    }
  }

  /** The publish engine shared by `publish` (explicit clone paths) and
    * `publish_branch` (registered named branches). Returns
    * `Array(published_epoch, files_added, files_removed, bytes_moved)`
    * — the caller wraps it in its own result row. */
  private[arrow] def publishImpl(branch: String, main: String)
      : Array[Any] = {
      val branchRoot = Paths.get(branch).toAbsolutePath.normalize
      val mainRoot = Paths.get(main).toAbsolutePath.normalize
      val (srcRoot, baseEpoch) = ArrowDataSource.cloneSource(branchRoot)
        .getOrElse(throw new IllegalArgumentException(
          s"publish: $branch records no clone lineage — only a table " +
            "created by CALL graft.system.clone can publish"))
      require(srcRoot.toAbsolutePath.normalize == mainRoot,
        s"publish: $branch was cloned from $srcRoot, not $main")
      require(baseEpoch >= 0L,
        s"publish: $branch was cloned from a flat (un-logged) " +
          "directory — publish needs a logged main to commit into")
      // publish moves DATA state only: a branch that evolved its
      // DECLARED schema past the clone point cannot land (main's
      // inference would break on the new-generation files) — schema
      // changes re-apply on main through the procedures
      def ledger(r: Path): Seq[String] =
        ArrowDataSource.declarationLines(r)
      require(ledger(branchRoot) == ledger(mainRoot),
        s"publish: $branch evolved its declared schema after the " +
          "clone — schema changes do not publish; re-apply them on " +
          s"$main (add_column/rename_column/drop_column) and re-clone")
      // the branch staged under the constraints it inherited at clone
      // time; if main's constraints changed since (or the branch
      // altered its own), the staged rows were never checked against
      // the current gates — refuse rather than land unaudited data
      require(TableConstraints.list(branch).toSet ==
        TableConstraints.list(main).toSet,
        s"publish: constraints on $branch and $main diverged since " +
          "the clone — staged rows were not checked against the " +
          "current gates; align the constraints and re-clone")
      // branch state to land
      val branchLog = TableLog.read(branchRoot)
      val files = branchLog.files(branch, None)
        .map(_.toAbsolutePath.normalize)
      val masks = branchLog.dvs(None)
      // fail fast before moving anything (the commit re-checks
      // atomically via the exclusive manifest create)
      val latest = ArrowDataSource.latestCommittedEpoch(mainRoot)
      if (latest != baseEpoch)
        throw new java.util.ConcurrentModificationException(
          s"publish: $main advanced from epoch $baseEpoch to $latest " +
            "since the branch was cloned; re-clone and re-apply " +
            "(publish never merges divergent histories)")
      var bytesMoved = 0L
      // every move is journaled so a lost commit race can UNDO it —
      // a refused publish must leave the BRANCH intact too (its log
      // still references these files), not strand the staged state as
      // vacuumable orphans under main
      val moved = scala.collection.mutable.ArrayBuffer
        .empty[(Path, Path)]
      def intoMain(abs: Path): Path =
        if (abs.startsWith(mainRoot)) abs
        else {
          val dst = mainRoot.resolve(branchRoot.relativize(abs))
          Files.createDirectories(dst.getParent)
          bytesMoved += Files.size(abs)
          Files.move(abs, dst)
          moved += ((abs, dst))
          dst
        }
      val landed = files.map(f => f -> intoMain(f)).toMap
      val dvLanded = masks.toSeq.map { case (rel, (dvRel, n)) =>
        val fAbs = branchRoot.resolve(rel).normalize
        val dvAbs = branchRoot.resolve(dvRel).normalize
        (landed.getOrElse(fAbs, fAbs).toString,
          intoMain(dvAbs).toString, n)
      }
      // adds = branch-written files; removes = main files the branch
      // replaced or deleted; borrowed survivors stay visible untouched
      val mainVisible = ArrowDataSource
        .visibleIpcFiles(main, Some(baseEpoch))
        .map(_.toAbsolutePath.normalize).toSet
      val adds = landed.values.toSeq.map(_.toString)
        .filterNot(p => mainVisible(Paths.get(p)))
      val removes = (mainVisible -- landed.values.toSet)
        .toSeq.map(_.toString)
      val epoch =
        try ArrowDataSource.commitTableEpoch(main, baseEpoch,
          adds.sorted, removes.sorted, dvs = dvLanded.sortBy(_._1))
        catch {
          case t: Throwable =>
            // lost the epoch race in the move-to-commit window: move
            // everything back so the branch stays readable and main
            // holds no orphans — a refused publish costs NOTHING
            moved.reverseIterator.foreach { case (src, dst) =>
              try { Files.move(dst, src); () }
              catch { case scala.util.control.NonFatal(_) => () }
            }
            throw t
        }
      // moved files' footer stats ride the epoch's sidecar fragment so
      // main keeps one-metadata-read planning
      if (adds.nonEmpty)
        FooterIndexFile.appendEpochFragment(main, epoch,
          ArrowDataSource.readFooterSchema(Paths.get(adds.head)),
          adds.map(a => a -> FooterIndexFile.encodeInfo(
            ArrowDataSource.footerInfo(Paths.get(a)))))
      Array[Any](epoch, adds.length.toLong, removes.length.toLong,
        bytesMoved)
  }

  val Branch: UnboundProcedure = new SimpleProcedure("branch",
    "create a WRITABLE named branch (Iceberg's branch refs): a " +
      "zero-copy clone in a registered sibling directory whose head " +
      "ADVANCES as the branch commits — where a tag freezes one " +
      "epoch, VERSION AS OF '<name>' on the main table follows the " +
      "branch's current state. Stage any number of DML epochs on the " +
      "branch, audit them there, then CALL publish_branch to " +
      "fast-forward main, or drop_branch to abandon the staged work") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("branch_path", StringType, nullable = false),
      StructField("base_epoch", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      require(name.matches("[A-Za-z0-9._-]+"),
        s"branch: names are [A-Za-z0-9._-]+, got '$name'")
      ArrowDataSource.initTableLog(path)
      val root = Paths.get(path).toAbsolutePath.normalize
      // one namespace for both ref kinds: VERSION AS OF '<name>'
      // could not disambiguate a tag from a same-named branch
      require(!ArrowDataSource.tags(root).contains(name),
        s"branch: '$name' is already a TAG of $path — refs share one " +
          "namespace")
      require(!ArrowDataSource.branches(root).contains(name),
        s"branch: '$name' already exists on $path — drop_branch it " +
          "first, or pick a fresh name")
      // a SIBLING directory keeps clone rels and publish renames
      // path-stable (same parent, same depth)
      val dirName = s"${root.getFileName}.branch.$name"
      val branchRoot = root.getParent.resolve(dirName)
      require(!Files.exists(branchRoot),
        s"branch: $branchRoot already exists on disk — remove it first")
      Clone.bind(new StructType()).call(new GenericInternalRow(
        Array[Any](utf8(path), utf8(branchRoot.toString), -1L)))
      ArrowDataSource.writeBranches(root,
        ArrowDataSource.branches(root) + (name -> dirName))
      val base = ArrowDataSource.latestCommittedEpoch(root)
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(name), utf8(branchRoot.toString), base))))
    }
  }

  val PublishBranch: UnboundProcedure = new SimpleProcedure(
    "publish_branch",
    "fast-forward the main table to a named branch's staged state as " +
      "ONE new epoch (the branch twin of publish): the branch's clone " +
      "base must still be main's head — if main advanced since the " +
      "branch was cut, the publish refuses with re-branch guidance " +
      "and nothing moves. A published branch is SPENT: its " +
      "registration and directory are retired (staged files moved " +
      "under main)") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    private val out = StructType(Seq(
      StructField("published_epoch", LongType, nullable = false),
      StructField("files_added", LongType, nullable = false),
      StructField("files_removed", LongType, nullable = false),
      StructField("bytes_moved", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val root = Paths.get(path).toAbsolutePath.normalize
      val branchRoot = ArrowDataSource.branchDir(root, name)
        .getOrElse(throw new IllegalArgumentException(
          s"publish_branch: no branch '$name' on $path (have: " +
            s"${ArrowDataSource.branches(root).keys.toSeq.sorted
              .mkString(", ")})"))
      val row =
        try publishImpl(branchRoot.toString, path)
        catch {
          case e: java.util.ConcurrentModificationException =>
            throw new java.util.ConcurrentModificationException(
              s"publish_branch: ${e.getMessage} — main advanced " +
                s"since '$name' was branched; re-branch from the " +
                "current head and re-apply the staged changes " +
                "(publish never merges divergent histories)")
        }
      // the branch is spent: staged files moved under main, so its
      // own log no longer resolves — retire registration AND directory
      ArrowDataSource.writeBranches(root,
        ArrowDataSource.branches(root) - name)
      val walk = Files.walk(branchRoot)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
      result(out, Array(new GenericInternalRow(row)))
    }
  }

  val DropBranch: UnboundProcedure = new SimpleProcedure("drop_branch",
    "abandon a named branch: its registration and directory (with " +
      "every staged, unpublished epoch) are removed; the main table " +
      "is untouched") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    private val out = StructType(Seq(
      StructField("dropped", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val root = Paths.get(path).toAbsolutePath.normalize
      val dropped = ArrowDataSource.branchDir(root, name) match {
        case None => false
        case Some(branchRoot) =>
          ArrowDataSource.writeBranches(root,
            ArrowDataSource.branches(root) - name)
          if (Files.isDirectory(branchRoot)) {
            val walk = Files.walk(branchRoot)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => { Files.deleteIfExists(f); () })
            finally walk.close()
          }
          true
      }
      result(out, Array(new GenericInternalRow(Array[Any](dropped))))
    }
  }

  val AddColumn: UnboundProcedure = new SimpleProcedure("add_column",
    "metadata-only ADD COLUMN (Delta's schema evolution): append a " +
      "nullable column to the table's DECLARED schema without " +
      "rewriting a single file — existing files simply lack the " +
      "column and the by-name reader serves it as nulls; new writes " +
      "carry it; aggregate pushdown over it refuses conservatively " +
      "until footers hold its stats. Type is a DDL string " +
      "(e.g. 'bigint', 'string', 'array<double>'). An optional " +
      "DEFAULT (a SQL literal, e.g. \"'legacy'\" or '0') is the " +
      "INITIAL default — Iceberg's: files whose footer lacks the " +
      "column serve the default instead of NULL, so a backfill-free " +
      "evolution can still declare a value for history; files that " +
      "STORE the column (even as NULL) serve their bytes") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("type", StringType).build(),
      ProcedureParameter.in("default", StringType)
        .defaultValue("NULL").build(),
      ProcedureParameter.in("generated", StringType)
        .defaultValue("NULL")
        .comment("generation expression (GENERATED ALWAYS AS): " +
          "materialized on every ingest path, writer-supplied " +
          "non-null disagreements refuse").build())
    private val out = StructType(Seq(
      StructField("n_columns", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val colName = input.getUTF8String(1).toString
      val ddl = input.getUTF8String(2).toString
      val defaultLit: Option[String] =
        if (input.isNullAt(3)) None
        else Some(input.getUTF8String(3).toString)
      val genLit: Option[String] =
        if (input.isNullAt(4)) None
        else Some(input.getUTF8String(4).toString)
      val root = ArrowDataSource.sinkRoot(path)
        .getOrElse(Paths.get(path).toAbsolutePath.normalize)
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(ddl)
      genLit.foreach { g =>
        require(defaultLit.forall(_.trim.equalsIgnoreCase("null")),
          "add_column: generated and default are exclusive — a " +
            "generated column's value IS its expression")
        require(!colName.contains('.'),
          s"add_column: a struct LEAF cannot be generated ($colName) " +
            "— only flat columns")
        ArrowDataSource.initTableLog(path)
        // fail fast BEFORE declaring: the expression must resolve
        // against the current schema (it cannot reference the new
        // column), be deterministic, and produce exactly the declared
        // type — a reader/writer hitting a broken definition later is
        // the wrong place to find out
        val e = TableConstraints.resolveExpr(SparkSession.active, g,
          currentDataSchema(path, root, "add_column"))
        require(e.dataType == dt,
          s"add_column: generated expression ($g) is " +
            s"${e.dataType.simpleString}, not the declared " +
            s"${dt.simpleString} — wrap it in an explicit CAST")
      }
      defaultLit.foreach { lit =>
        require(!colName.contains('.'),
          s"add_column: a struct LEAF cannot carry an initial " +
            s"default ($colName) — only flat columns")
        require(!lit.exists(c => c == '\n' || c == '\r'),
          "add_column: a default literal cannot contain line breaks")
        require(ArrowSchemas.defaultServable(dt),
          "add_column: initial defaults support primitive types only " +
            "(integrals, float/double, boolean, string, date, " +
            s"timestamp) — not ${dt.simpleString}")
        // the literal must parse, fold, and cast to the column's type
        // NOW — a reader hitting a broken default years later is the
        // wrong place to find out
        val v = ArrowDataSource.evalDefault(lit, dt)
        require(v != null || lit.trim.equalsIgnoreCase("null"),
          s"add_column: default $lit evaluates to NULL for " +
            s"${dt.simpleString} — omit the default instead")
        // non-finite floats refuse up front: their decimal renderings
        // ("NaN"/"Infinity") do not re-parse as SQL literals, so a
        // later widen_column re-literalization would poison the ledger
        val finite = v match {
          case f: java.lang.Float => java.lang.Float.isFinite(f)
          case d: java.lang.Double => java.lang.Double.isFinite(d)
          case _ => true
        }
        require(finite,
          s"add_column: default $lit is not a finite number — " +
            "NaN/Infinity defaults are not supported")
      }
      // names resolve with the session resolver everywhere here (the
      // same rule as mergeWriteSchema): a case variant of an existing
      // name is the SAME name — allowing it would declare a
      // duplicate-modulo-case twin no case-insensitive read could
      // disambiguate
      val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
      var nCols = 0L
      // CAS evolve loop: recompute against the FRESH declaration on a
      // lost generation claim, so a concurrent mergeSchema writer's
      // column survives this procedure
      ArrowDataSource.evolveDeclaration(root) { () =>
        val current = currentDataSchema(path, root, "add_column")
        val partCols =
          TableSnapshot.read(root.toString).partCols.toSet
        val dropped = ArrowDataSource.droppedColumns(root)
        val aliases = ArrowDataSource.aliasColumns(root)
        require(!dropped.exists(resolver(_, colName)) &&
          !aliases.values.flatten.exists(resolver(_, colName)),
          s"add_column: $colName was previously DROPPED from or " +
            s"RENAMED on $path — re-adding the name would resurrect " +
            "old files' values (no per-column ids); pick a fresh name")
        // A DOTTED name adds a nullable LEAF to an existing struct
        // column (nested schema evolution — Delta's
        // `ADD COLUMNS (meta.c bigint)`): metadata-only like the flat
        // case, files written before the leaf serve it as nulls via
        // the reader's struct-leaf patch, and the drift sweep
        // tolerates their narrower struct footers (structSubsumes).
        val evolved =
          if (colName.contains('.')) {
            def addLeaf(st: StructType, prefix: String,
                ps: List[String]): StructType = ps match {
              case leaf :: Nil =>
                require(!st.fieldNames.exists(resolver(_, leaf)),
                  s"add_column: column $colName already exists on $path")
                StructType(
                  st.fields :+ StructField(leaf, dt, nullable = true))
              case p :: rest =>
                val idx = st.fieldNames.indexWhere(resolver(_, p))
                require(idx >= 0,
                  s"add_column: no struct column $prefix$p on $path")
                st.fields(idx).dataType match {
                  case inner: StructType => StructType(st.fields.updated(
                    idx, st.fields(idx).copy(
                      dataType = addLeaf(inner, s"$prefix$p.", rest))))
                  case other => throw new IllegalArgumentException(
                    s"add_column: $prefix$p is ${other.simpleString} " +
                      s"on $path, not a struct — only struct columns " +
                      "take nested leaves")
                }
              case Nil => st
            }
            addLeaf(current, "", colName.split("\\.").toList)
          } else {
            require(!current.fieldNames.exists(resolver(_, colName)) &&
              !partCols.exists(resolver(_, colName)),
              s"add_column: column $colName already exists on $path")
            StructType(
              current.fields :+ StructField(colName, dt, nullable = true))
          }
        nCols = evolved.fields.length.toLong
        val defaults = ArrowDataSource.defaultColumns(root) ++
          defaultLit.filterNot(_.trim.equalsIgnoreCase("null"))
            .map(colName -> _)
        (evolved, dropped, aliases, defaults)
      }
      // generation definition ledgered AFTER the column declares: a
      // write landing in between sees a plain nullable column (benign)
      genLit.foreach(g =>
        TableConstraints.addGenerated(path, colName, g))
      result(out, Array(new GenericInternalRow(Array[Any](nCols))))
    }
  }

  /** Write-side schema merge (`option("mergeSchema", true)` on the
    * arrow WRITER — Delta's ergonomic append path): additively evolve
    * the declared schema to the union of (current data schema ∪ the
    * incoming frame's data columns) under the SAME invariants as
    * `CALL add_column` — new columns land nullable, resurrections of
    * DROPPED or RENAMED names refuse (no per-column ids, so re-adding
    * a ledgered name would revive old files' bytes), and a same-name
    * type conflict never merges. Runs on the driver at job start so
    * the declaration is in place before any drifted footer can land;
    * if the job then aborts, the widened schema is harmless metadata
    * (the column reads as nulls until data arrives). A first write
    * into an empty directory declares nothing — the footers are the
    * schema until evolution actually happens.
    *
    * Struct columns merge FIELD-WISE (nested schema evolution): new
    * leaves land nullable at the end of the struct, same-name leaves
    * must agree on type recursively, dotted leaf names consult the
    * drop/rename ledgers, and arrays/maps never evolve element-wise.
    *
    * CAVEAT (documented race): evolving an UNLOGGED directory
    * implicitly promotes it to a logged table (initTableLog snapshots
    * the current file list into manifest 0). A concurrent PLAIN
    * append that planned against the bare directory and renames its
    * file after that snapshot lands a file no epoch lists — invisible
    * to readers. Same hazard class as an explicit concurrent
    * initTableLog; `CALL fsck` now surfaces such files as
    * `file-listed` findings, so the race degrades loudly post-hoc.
    * Initialize the table log before admitting concurrent writers to
    * avoid it entirely. */
  private[arrow] def mergeWriteSchema(path: String,
      incoming: StructType, writePartCols: Set[String]): Unit = {
    // Root resolution must survive subdirectory addressing even on an
    // UNLOGGED table (where sinkRoot finds no metadata dir and would
    // fall back to the subdir itself — promoting THAT would plant a
    // nested log inside a partition directory): climb `name=value`
    // parents the same way sinkRoot does.
    val root = ArrowDataSource.sinkRoot(path).getOrElse {
      var p = Paths.get(path).toAbsolutePath.normalize
      while (p.getParent != null && Option(p.getFileName)
          .map(_.toString).exists(_.contains('=')))
        p = p.getParent
      p
    }
    // CAS retry loop: the generation is read BEFORE the declaration
    // and ledgers, so a concurrent writer landing between our read
    // and our publish fails the compare-and-swap and we recompute
    // against the fresh state — two racing mergeSchema writers both
    // keep their columns, deterministically, with no read-failure
    // window to heal.
    var attempts = 0
    var settled = false
    while (!settled) {
      attempts += 1
      require(attempts <= 20,
        s"arrow mergeSchema write: CAS retry budget exhausted on $path")
      settled = mergeWriteSchemaOnce(path, root, incoming, writePartCols)
    }
  }

  /** One read-compute-publish attempt; false = CAS lost to a racer. */
  private def mergeWriteSchemaOnce(path: String, root: Path,
      incoming: StructType, writePartCols: Set[String]): Boolean = {
    val baseGen = ArrowDataSource.declaredSchemaGen(root)
    val declared = ArrowDataSource.declaredSchema(root)
    // Visibility and the current schema resolve at the TABLE ROOT, not
    // the addressed path: a subdirectory-addressed append
    // (`save(dir + "/c=1")`) on a table whose other partitions hold
    // files is NOT a first write, and inferring from the subdir alone
    // would declare a partial union that bricks the rest of the table
    // on the drift sweep.
    if (declared.isEmpty &&
        ArrowDataSource.visibleIpcFiles(root.toString).isEmpty)
      return true // first write — the incoming schema IS the table schema
    val current = currentDataSchema(root.toString, root,
      "mergeSchema write")
    val partCols = writePartCols ++
      TableSnapshot.read(root.toString).partCols
    // A partition-named incoming column must CARRY the partition's
    // type — routing would otherwise stringify mismatched values into
    // the layout and fail only at read time (add_column refuses the
    // name collision loudly; the write path owes the same loudness).
    val partSchema =
      TableSnapshot.read(root.toString).partSchema
    // Names resolve with the SESSION's resolver (case-insensitive by
    // default, like every Spark column lookup): an incoming `AMT`
    // against a declared `amt` is the SAME column — declaring it fresh
    // would produce a duplicate-modulo-case schema no case-insensitive
    // read could disambiguate, and would sidestep the dropped/renamed
    // resurrection guard for case variants.
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    // A resolver match under a DIFFERENT spelling refuses outright:
    // the writer lands footers under the INCOMING name, and footers
    // match the declaration case-sensitively — declaring the variant
    // fresh would produce a duplicate-modulo-case schema, and landing
    // it unmerged would brick the drift sweep. Either way, loud.
    def requireExactCase(declaredName: String, incomingName: String): Unit =
      require(declaredName == incomingName,
        s"arrow mergeSchema write: incoming column $incomingName " +
          s"resolves to declared column $declaredName on $path — " +
          "align the column's case (footers match case-sensitively)")
    incoming.fields.foreach(f =>
      partSchema.fields.find(g => resolver(g.name, f.name)).foreach { g =>
        requireExactCase(g.name, f.name)
        require(g.dataType == f.dataType,
          s"arrow mergeSchema write: partition column ${f.name} is " +
            s"${g.dataType.simpleString} on $path but the incoming " +
            s"frame carries ${f.dataType.simpleString} — partition " +
            "types do not merge")
      })
    val dropped = ArrowDataSource.droppedColumns(root)
    val aliases = ArrowDataSource.aliasColumns(root)
    def requireNotLedgered(name: String): Unit =
      require(!dropped.exists(resolver(_, name)) &&
        !aliases.values.flatten.exists(resolver(_, name)),
        s"arrow mergeSchema write: $name was previously DROPPED " +
          s"from or RENAMED on $path — auto-evolving would resurrect " +
          "old files' values; pick a fresh name")
    // An incoming column NARROWER than its declared/current type is
    // served by the existing width with no evolution — but on an
    // UNDECLARED directory the mixed-width footers need a declaration
    // for plain (non-mergeSchema) reads to resolve, so the vacuous
    // exit below is gated on one existing.
    var narrowerIncoming = false
    // Same-name columns must carry the same type — except STRUCTS,
    // which merge FIELD-WISE (nested schema evolution, Delta's struct
    // merge): same-name leaves must agree recursively, new leaves land
    // nullable at the end of the struct, and dropped/renamed leaf
    // names (ledgered as dotted paths) refuse resurrection. Arrays and
    // maps never evolve element-wise — without per-element ids a
    // repositioned element would silently remap old files' values.
    def mergeType(colPath: String, cur: DataType,
        inc: DataType): DataType = (cur, inc) match {
      case (c, i) if c == i => c
      // type widening (Delta's): an incoming WIDER frame widens the
      // declaration metadata-only (old narrow files upcast in the
      // reader); an incoming NARROWER frame is already served by the
      // wider declaration, so the write proceeds with no evolution —
      // its footers land narrow and the drift sweep tolerates them
      // (ArrowDataSource.structSubsumes)
      case (c, i) if ArrowSchemas.widens(c, i) => i
      case (c, i) if ArrowSchemas.widens(i, c) =>
        narrowerIncoming = true; c
      case (c: StructType, i: StructType) =>
        val kept = c.fields.map { cf =>
          i.fields.find(f => resolver(f.name, cf.name)) match {
            case Some(f) =>
              requireExactCase(cf.name, f.name)
              cf.copy(dataType = mergeType(
                s"$colPath.${cf.name}", cf.dataType, f.dataType))
            case None => cf
          }
        }
        val freshLeaves = i.fields.filterNot(f =>
          c.fields.exists(cf => resolver(cf.name, f.name)))
        freshLeaves.foreach(f => requireNotLedgered(s"$colPath.${f.name}"))
        StructType(kept ++ freshLeaves.map(_.copy(nullable = true)))
      case (c, i) => throw new IllegalArgumentException(
        s"arrow mergeSchema write: column $colPath is " +
          s"${c.simpleString} on $path but the incoming frame " +
          s"carries ${i.simpleString} — type conflicts do not merge")
    }
    val merged = current.fields.map { cf =>
      incoming.fields.find(f => resolver(f.name, cf.name)) match {
        case Some(f) =>
          requireExactCase(cf.name, f.name)
          cf.copy(dataType = mergeType(cf.name, cf.dataType, f.dataType))
        case None => cf
      }
    }
    val fresh = incoming.fields.filterNot(f =>
      partCols.exists(resolver(_, f.name)) ||
        current.fields.exists(cf => resolver(cf.name, f.name)))
    if (fresh.isEmpty && merged.toSeq == current.fields.toSeq &&
        (declared.nonEmpty || !narrowerIncoming))
      return true // nothing to evolve — vacuous CAS success
    // Evolving a bare (unlogged) directory first promotes it to a
    // logged table: the declaration sidecar lives in _graft_metadata,
    // and a metadata dir WITHOUT a table marker reads as a streaming
    // sink whose guard refuses every later batch append. Promotion
    // also buys the evolution atomic epoch semantics for free.
    if (!ArrowDataSource.isTableLog(path))
      ArrowDataSource.initTableLog(root.toString)
    fresh.foreach(f => requireNotLedgered(f.name))
    // existing initial defaults ride through unchanged (fresh merge
    // columns never carry one — only CALL add_column declares them)
    ArrowDataSource.casDeclaredSchema(root, StructType(
      merged ++ fresh.map(_.copy(nullable = true))),
      dropped, aliases, baseGen,
      ArrowDataSource.defaultColumns(root))
  }

  val DropColumn: UnboundProcedure = new SimpleProcedure("drop_column",
    "metadata-only DROP COLUMN: remove a column from the declared " +
      "schema without rewriting a file — old files keep the bytes " +
      "(reclaimed as rewrites happen), readers stop seeing it, and " +
      "the name is LEDGERED so add_column refuses to resurrect it") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    private val out = StructType(Seq(
      StructField("n_columns", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val colName = input.getUTF8String(1).toString
      val root = ArrowDataSource.sinkRoot(path)
        .getOrElse(Paths.get(path).toAbsolutePath.normalize)
      var nCols = 0L
      // CAS evolve loop — see add_column: a concurrent mergeSchema
      // writer's column survives this procedure
      ArrowDataSource.evolveDeclaration(root) { () =>
        val current = currentDataSchema(path, root, "drop_column")
        val aliases = ArrowDataSource.aliasColumns(root)
        val dropped = ArrowDataSource.droppedColumns(root)
        if (colName.contains('.')) {
          // A DOTTED name drops a struct LEAF (the complement of the
          // dotted add_column): metadata-only — old files keep the
          // leaf's bytes, the drift sweep tolerates them through the
          // dotted drop ledger (structSubsumes), readers stop seeing
          // the leaf, and add_column/mergeSchema refuse to resurrect
          // the dotted name. Conservative with constraints: any CHECK
          // referencing the parent column blocks the leaf drop.
          val parts = colName.split("\\.").toList
          requireNoConstraintOn(path, parts.head, "drop_column")
          def dropLeaf(st: StructType, prefix: String,
              ps: List[String]): StructType = ps match {
            case leaf :: Nil =>
              require(st.fieldNames.contains(leaf),
                s"drop_column: no struct leaf $colName on $path")
              require(st.fields.length > 1,
                s"drop_column: cannot drop the last leaf of " +
                  s"${prefix.dropRight(1)} — drop the column itself")
              StructType(st.fields.filterNot(_.name == leaf))
            case p :: rest =>
              val idx = st.fieldNames.indexOf(p)
              require(idx >= 0,
                s"drop_column: no struct column $prefix$p on $path")
              st.fields(idx).dataType match {
                case inner: StructType => StructType(st.fields.updated(
                  idx, st.fields(idx).copy(
                    dataType = dropLeaf(inner, s"$prefix$p.", rest))))
                case other => throw new IllegalArgumentException(
                  s"drop_column: $prefix$p is ${other.simpleString} " +
                    s"on $path, not a struct")
              }
            case Nil => st
          }
          val evolved = dropLeaf(current, "", parts)
          nCols = evolved.fields.length.toLong
          // a RENAMED parent's pre-rename files carry the leaf under
          // the physical name — ledger those dotted paths too, so the
          // drift sweep keeps tolerating them
          val physPaths = aliases.getOrElse(parts.head, Seq.empty)
            .map(phys => (phys +: parts.tail).mkString("."))
          (evolved, dropped + colName ++ physPaths, aliases,
            ArrowDataSource.defaultColumns(root))
        } else {
          require(current.fieldNames.contains(colName),
            s"drop_column: no column $colName on $path")
          require(current.fields.length > 1,
            s"drop_column: cannot drop the last column of $path")
          requireNoConstraintOn(path, colName, "drop_column")
          // dropping a renamed column also retires its physical
          // history: the alias physicals join the drop ledger so
          // neither name can resurrect
          nCols = current.fields.length - 1L
          // the column's initial default dies with it (the dropped
          // name can never resurrect, so neither can the default)
          (StructType(current.fields.filterNot(_.name == colName)),
            dropped + colName ++ aliases.getOrElse(colName, Seq.empty),
            aliases - colName,
            ArrowDataSource.defaultColumns(root) - colName)
        }
      }
      // a dropped GENERATED column takes its definition with it (the
      // name can never resurrect, so neither can the expression)
      if (!colName.contains('.'))
        TableConstraints.drop(path,
          TableConstraints.generatedName(colName))
      result(out, Array(new GenericInternalRow(Array[Any](nCols))))
    }
  }

  val WidenColumn: UnboundProcedure = new SimpleProcedure("widen_column",
    "metadata-only TYPE WIDENING (Delta's type widening): widen a " +
      "column (or dotted struct leaf) to a larger lossless type — " +
      "tinyint/smallint/int -> bigint, float -> double, " +
      "decimal(p,s) -> decimal(p+k,s) (same scale) — without " +
      "rewriting a file. Old files keep their narrow bytes and the " +
      "reader upcasts per file; zone maps, bloom filters and sort " +
      "stamps stay valid (integral stats are exact longs, integral " +
      "bloom hashing is width-agnostic). Narrowing and lossy casts " +
      "refuse") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("type", StringType).build())
    private val out = StructType(Seq(
      StructField("n_columns", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val colName = input.getUTF8String(1).toString
      val ddl = input.getUTF8String(2).toString
      val root = ArrowDataSource.sinkRoot(path)
        .getOrElse(Paths.get(path).toAbsolutePath.normalize)
      val target = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(ddl)
      def widen(cur: DataType, at: String): DataType = {
        require(cur != target,
          s"widen_column: $at is already ${target.simpleString} on $path")
        require(ArrowSchemas.widens(cur, target),
          s"widen_column: ${cur.simpleString} does not widen to " +
            s"${target.simpleString} on $at — only lossless " +
            "widenings (tinyint/smallint/int -> bigint, float -> " +
            "double, decimal(p,s) -> decimal(p+k,s) at the same " +
            "scale) are metadata-only")
        target
      }
      var nCols = 0L
      ArrowDataSource.evolveDeclaration(root) { () =>
        val current = currentDataSchema(path, root, "widen_column")
        val partCols =
          TableSnapshot.read(root.toString).partCols.toSet
        val dropped = ArrowDataSource.droppedColumns(root)
        val aliases = ArrowDataSource.aliasColumns(root)
        val evolved =
          if (colName.contains('.')) {
            def widenLeaf(st: StructType, prefix: String,
                ps: List[String]): StructType = ps match {
              case leaf :: Nil =>
                val idx = st.fieldNames.indexOf(leaf)
                require(idx >= 0,
                  s"widen_column: no struct leaf $colName on $path")
                StructType(st.fields.updated(idx, st.fields(idx).copy(
                  dataType = widen(st.fields(idx).dataType, colName))))
              case p :: rest =>
                val idx = st.fieldNames.indexOf(p)
                require(idx >= 0,
                  s"widen_column: no struct column $prefix$p on $path")
                st.fields(idx).dataType match {
                  case inner: StructType => StructType(st.fields.updated(
                    idx, st.fields(idx).copy(
                      dataType = widenLeaf(inner, s"$prefix$p.", rest))))
                  case other => throw new IllegalArgumentException(
                    s"widen_column: $prefix$p is ${other.simpleString} " +
                      s"on $path, not a struct")
                }
              case Nil => st
            }
            widenLeaf(current, "", colName.split("\\.").toList)
          } else {
            // partition columns do not widen: their values parse from
            // DIRECTORY STRINGS at the declared type, and the layout's
            // recorded partition types are a separate ledger the
            // reader trusts — keep the refusal aligned with
            // mergeWriteSchema's "partition types do not merge"
            require(!partCols.contains(colName),
              s"widen_column: $colName is a partition column of " +
                s"$path — partition types do not widen")
            requireNotGenerated(path, colName, "widen_column")
            val idx = current.fieldNames.indexOf(colName)
            require(idx >= 0,
              s"widen_column: no column $colName on $path")
            StructType(current.fields.updated(idx, current.fields(idx)
              .copy(dataType = widen(current.fields(idx).dataType,
                colName))))
          }
        nCols = evolved.fields.length.toLong
        // An initial default must serve the SAME value after the widen
        // as before it. Re-casting the original TEXT at the wider type
        // is NOT value-preserving for float -> double ('0.1' evaluates
        // to 0.1f ≈ 0.10000000149 as a float but exactly 0.1 as a
        // double), so re-literalize: evaluate at the NARROW type, widen
        // that value, store its exact decimal rendering (shortest
        // round-trip for doubles, plain digits for integrals).
        val defaults = ArrowDataSource.defaultColumns(root)
        val rekeyed =
          if (colName.contains('.')) defaults // leaves carry no default
          else defaults.get(colName) match {
            case None => defaults
            case Some(lit) =>
              val cur = current.fields(
                current.fieldIndex(colName)).dataType
              val narrow = ArrowDataSource.evalDefault(lit, cur)
              val widenedText = narrow match {
                case f: java.lang.Float =>
                  java.lang.Double.toString(f.doubleValue())
                case n: java.lang.Number => n.toString
                case other => throw new IllegalStateException(
                  s"widen_column: unexpected default value $other")
              }
              defaults + (colName -> widenedText)
          }
        (evolved, dropped, aliases, rekeyed)
      }
      result(out, Array(new GenericInternalRow(Array[Any](nCols))))
    }
  }

  /** The data schema a schema-evolution procedure evolves FROM: the
    * declared schema when present, else the mergeSchema UNION of every
    * footer — never a single file's footer, which on a mixed-generation
    * (mergeSchema-read) directory would declare a PARTIAL schema and
    * brick every subsequent read on the drift sweep. */
  private def currentDataSchema(path: String, root: Path,
      proc: String): StructType =
    ArrowDataSource.declaredSchema(root).getOrElse {
      require(ArrowDataSource.visibleIpcFiles(path).nonEmpty,
        s"$proc: no visible files under $path to infer the current " +
          "schema from")
      val full = org.apache.spark.sql.SparkSession.active
        .read.format("arrow").option("mergeSchema", "true")
        .load(path).schema
      val partCols =
        TableSnapshot.read(root.toString).partCols.toSet
      StructType(full.fields.filterNot(f => partCols(f.name)))
    }

  /** A GENERATED column's identity is its ledgered definition (keyed
    * by name, typed by its expression): renaming or widening it would
    * orphan or type-break the definition — refuse with guidance. */
  private def requireNotGenerated(path: String, colName: String,
      proc: String): Unit =
    require(!TableConstraints.generatedColumns(path).contains(colName),
      s"$proc: `$colName` is a GENERATED column — drop_column it and " +
        "re-add with the definition you want")

  /** A CHECK constraint referencing a column pins its name: renaming
    * or dropping the column would make every later write fail at
    * constraint-bind time — refuse up front with guidance instead.
    * Generation expressions ledger in the same file, so a generated
    * column's SOURCE columns are protected by this same guard. */
  private def requireNoConstraintOn(path: String, colName: String,
      proc: String): Unit =
    TableConstraints.list(path).foreach { case (cname, expr) =>
      val refs = scala.util.Try(
        org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(expr).collect {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.nameParts.head
          }.toSet).getOrElse(Set.empty[String])
      require(!refs(colName),
        s"$proc: CHECK constraint $cname ($expr) references " +
          s"$colName — drop the constraint first " +
          "(CALL graft.system.drop_constraint), then evolve and " +
          "re-add it under the new name")
    }

  val RenameColumn: UnboundProcedure = new SimpleProcedure("rename_column",
    "metadata-only RENAME COLUMN (the rename case of Delta column " +
      "mapping): the declared schema renames the field and LEDGERS " +
      "the old physical name — readers resolve the new name per file, " +
      "falling back to each ledgered physical, so no file is " +
      "rewritten and old data serves under the new name. Neither the " +
      "old nor the new name can later be re-added (resurrection " +
      "guard); stats-based pushdowns refuse conservatively over " +
      "pre-rename files") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("old_name", StringType).build(),
      ProcedureParameter.in("new_name", StringType).build())
    private val out = StructType(Seq(
      StructField("n_physical_names", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val oldName = input.getUTF8String(1).toString
      val newName = input.getUTF8String(2).toString
      val root = ArrowDataSource.sinkRoot(path)
        .getOrElse(Paths.get(path).toAbsolutePath.normalize)
      var chainLen = 0L
      // CAS evolve loop — see add_column: a concurrent mergeSchema
      // writer's column survives this procedure
      ArrowDataSource.evolveDeclaration(root) { () =>
        val current = currentDataSchema(path, root, "rename_column")
        require(current.fieldNames.contains(oldName),
          s"rename_column: no column $oldName on $path")
        val partCols =
          TableSnapshot.read(root.toString).partCols.toSet
        val dropped = ArrowDataSource.droppedColumns(root)
        val aliases = ArrowDataSource.aliasColumns(root)
        require(!current.fieldNames.contains(newName) &&
          !partCols(newName) && !dropped(newName) &&
          !aliases.values.exists(_.contains(newName)),
          s"rename_column: $newName is already used (or was used) on " +
            s"$path — renaming onto a historical name would resurrect " +
            "old files' values; pick a fresh name")
        requireNotGenerated(path, oldName, "rename_column")
        requireNoConstraintOn(path, oldName, "rename_column")
        // the new logical inherits the old name's physical chain plus
        // the old name itself (files written between renames carry the
        // then-current logical)
        val chain = oldName +: aliases.getOrElse(oldName, Seq.empty)
        chainLen = chain.length.toLong
        // an initial default follows its column through the rename
        val defaults = ArrowDataSource.defaultColumns(root)
        val rekeyed = defaults.get(oldName) match {
          case Some(lit) => (defaults - oldName) + (newName -> lit)
          case None => defaults
        }
        (StructType(current.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f)),
          dropped, (aliases - oldName) + (newName -> chain), rekeyed)
      }
      result(out, Array(new GenericInternalRow(Array[Any](chainLen))))
    }
  }

  val SetDv: UnboundProcedure = new SimpleProcedure("set_dv",
    "enable/disable merge-on-read DELETE (deletion vectors, Delta's " +
      "enableDeletionVectors) on a logged table: enabled, DELETE " +
      "writes per-file masked-row vectors instead of rewriting files; " +
      "disabled, new deletes go copy-on-write while existing vectors " +
      "keep applying until a rewrite purges them") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("enabled", BooleanType)
        .defaultValue("true").build())
    private val out = StructType(Seq(
      StructField("dv_enabled", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val on = input.getBoolean(1)
      ArrowDataSource.initTableLog(path)
      ArrowDataSource.setDeletionVectors(path, on)
      result(out, Array(new GenericInternalRow(Array[Any](
        java.lang.Boolean.valueOf(on)))))
    }
  }

  val Partitions: UnboundProcedure = new SimpleProcedure("partitions",
    "per-partition rollup (SHOW PARTITIONS with sizes): files, bytes, " +
      "and footer-stat rows for every live col=value combination — a " +
      "metadata pass, no data reads; flat tables report one '' row") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build())
    private val out = StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType, nullable = true)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
      val memo = TableSnapshot.read(path).footers
      def partOf(f: java.nio.file.Path): String = {
        val rel = root.relativize(f.toAbsolutePath.normalize)
        (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
          .reverse.takeWhile(_.contains('=')).reverse.mkString("/")
      }
      // live deletion vectors shrink the row answer per file — via
      // the FooterIndex, which resolves the table's SINK ROOT (a
      // partition-subdirectory path must still honor the log)
      val rows = memo.files.groupBy(partOf).toSeq.sortBy(_._1)
        .map { case (part, fs) =>
          val bytes = fs.map(f => Files.size(f)).sum
          new GenericInternalRow(Array[Any](utf8(part), fs.length.toLong,
            bytes, memo.liveRows(fs).map(Long.box).orNull)): InternalRow
        }
      result(out, rows.toArray)
    }
  }

  /** Test seam: files the last `analyze` call actually scanned —
    * GraftProcedureSpec pins the incremental path's cost to the
    * CHURNED files, not the table. */
  @volatile private[graft] var lastAnalyzeFiles: Long = -1L

  val Analyze: UnboundProcedure = new SimpleProcedure("analyze",
    "ANALYZE: one approx-distinct pass computes per-column NDV and " +
      "persists it; scans then serve distinctCount to the CBO (join " +
      "cardinality / aggregate output estimates). cols '' = every " +
      "atomic column. histogram => true additionally computes " +
      "EQUI-HEIGHT histograms for the numeric/temporal columns " +
      "(approx-percentile endpoints + per-bin approx NDV), the " +
      "selectivity input for skewed predicates where a flat NDV " +
      "assumes uniformity. A full run also persists per-column HLL " +
      "sketches and the covered epoch; incremental => true then " +
      "scans ONLY the files of epochs committed since the last " +
      "analyze, merges their sketches into the stored ones, and " +
      "refreshes the NDVs — O(churn), the 100 TB stats-freshness " +
      "path. Incremental windows must be append-only (DML removals " +
      "and deletion vectors cannot subtract from a sketch — run a " +
      "full analyze after those); histograms refresh on full runs " +
      "only") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("cols", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("histogram", BooleanType)
        .defaultValue("false").build(),
      ProcedureParameter.in("buckets", LongType)
        .defaultValue("64").build(),
      ProcedureParameter.in("incremental", BooleanType)
        .defaultValue("false").build())
    private val out = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false)))

    private def sketchAgg(c: String): org.apache.spark.sql.Column =
      // CAST AS STRING maps every atomic type into the sketch's
      // input domain injectively (hll_sketch_agg takes int/long/
      // string/binary only); the SAME mapping on full and delta
      // passes keeps the union coherent
      org.apache.spark.sql.functions.expr(
        s"hll_sketch_agg(CAST(`$c` AS STRING), 12)")

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
      val path = input.getUTF8String(0).toString
      val spark = SparkSession.active
      val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
      // ONE snapshot: the rows, the file count and the epoch the
      // stored stats describe
      val snap = TableSnapshot.read(path)
      if (input.getBoolean(4))
        return incrementalCall(spark, snap, root)
      val df = readAt(snap)
      val wanted = Option(input.getUTF8String(1)).map(_.toString)
        .filter(_.nonEmpty)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(df.schema.fields.toSeq.collect {
          // atomic = non-nested (approx_count_distinct's domain here)
          case f if !f.dataType.isInstanceOf[
              org.apache.spark.sql.types.ArrayType] &&
            !f.dataType.isInstanceOf[
              org.apache.spark.sql.types.MapType] &&
            !f.dataType.isInstanceOf[
              org.apache.spark.sql.types.StructType] => f.name
        })
      require(wanted.nonEmpty, s"analyze: no atomic columns in $path")
      wanted.foreach(c => require(df.schema.fieldNames.contains(c),
        s"analyze: column $c not in ${df.schema.fieldNames.mkString(",")}"))
      // the scan is pinned to the snapshot's epoch, so the stored row
      // count, NDVs and sketches all describe `analyzedEpoch`: the
      // next incremental pass adds exactly the epochs after it
      val analyzedEpoch = if (snap.isTableLog) snap.latest else -1L
      lastAnalyzeFiles = snap.footers.files.size.toLong
      // ONE pass: every NDV estimate, HLL sketch, and the row count
      // share a scan
      val aggs = count(lit(1)).as("__rows") +:
        (wanted.map(c => approx_count_distinct(col(c)).as(c)) ++
          wanted.map(c => sketchAgg(c).as(s"__sk_$c")))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val rows = row.getLong(0)
      val ndv = wanted.zipWithIndex.map { case (c, i) =>
        c -> row.getLong(i + 1)
      }
      val sketches = wanted.zipWithIndex.flatMap { case (c, i) =>
        Option(row.get(1 + wanted.length + i))
          .map(b => c -> b.asInstanceOf[Array[Byte]])
      }
      val hists =
        if (!input.getBoolean(2)) Seq.empty
        else {
          val buckets = math.max(2, math.min(254, input.getLong(3))).toInt
          histogramCols(df.schema, wanted).flatMap { case (c, dom) =>
            equiHeightHistogram(df, c, dom, buckets, rows).map(c -> _)
          }
        }
      ColumnStatsFile.write(root, rows, ndv, hists, analyzedEpoch,
        sketches)
      result(out, ndv.map { case (c, n) =>
        new GenericInternalRow(Array[Any](utf8(c), n)): InternalRow
      }.toArray)
    }

    /** The incremental arm: merge delta-file sketches into the stored
      * state, costing O(churned files). */
    private def incrementalCall(spark: SparkSession, snap: TableSnapshot,
        root: java.nio.file.Path): java.util.Iterator[Scan] = {
      import org.apache.spark.sql.functions.{count, expr, lit}
      val path = snap.path
      require(snap.isTableLog,
        s"analyze incremental: $path is not a logged table — epochs " +
          "are the increment unit; run a full analyze")
      val (priorRows, priorEpoch, stored) =
        ColumnStatsFile.loadSketches(root).getOrElse(
          throw new IllegalStateException(
            s"analyze incremental: $path carries no sketch state — " +
              "run a full CALL analyze once first"))
      val latest = snap.latest
      val (_, curNdv, curHists) = ColumnStatsFile.loadAll(root)
        .getOrElse((priorRows, Map.empty[String, Long],
          Map.empty[String, ColumnStatsFile.Hist]))
      def emit(ndv: Map[String, Long]): java.util.Iterator[Scan] =
        result(out, ndv.toSeq.sortBy(_._1).map { case (c, n) =>
          new GenericInternalRow(Array[Any](utf8(c), n)): InternalRow
        }.toArray)
      if (latest <= priorEpoch) { // nothing new — serve current stats
        lastAnalyzeFiles = 0L
        return emit(curNdv)
      }
      // the window must be APPEND-ONLY: a sketch cannot subtract the
      // values a removal or deletion vector took away
      val window = snap.log.get.history.filter(_.epoch > priorEpoch)
      window.foreach { en =>
        if (en.remove || en.dv.isDefined)
          throw new UnsupportedOperationException(
            s"analyze incremental: epoch ${en.epoch} of $path " +
              "removed or masked rows since the last analyze — NDV " +
              "sketches only grow; run a full CALL analyze to " +
              "recompute over the current snapshot")
      }
      val deltaRels = window.map(_.rel).distinct
      lastAnalyzeFiles = deltaRels.size.toLong
      if (deltaRels.isEmpty) { // empty epochs: advance the cursor only
        ColumnStatsFile.write(root, priorRows, curNdv.toSeq.sortBy(_._1),
          curHists.toSeq.sortBy(_._1), latest,
          stored.toSeq.sortBy(_._1))
        return emit(curNdv)
      }
      val cols = stored.keys.toSeq.sorted
      val delta = readAt(snap, deltaRels.map(snap.root.resolve))
      val aggs = count(lit(1)).as("__rows") +:
        cols.map(c => sketchAgg(c).as(s"__sk_$c"))
      val row = delta.agg(aggs.head, aggs.tail: _*).collect()(0)
      val deltaRows = row.getLong(0)
      val deltaSk = cols.zipWithIndex.flatMap { case (c, i) =>
        Option(row.get(i + 1)).map(b => c -> b.asInstanceOf[Array[Byte]])
      }.toMap
      // union stored + delta per column in ONE local 2-row job, and
      // estimate the merged NDVs in the same pass
      val toMerge = cols.filter(deltaSk.contains)
      val (mergedSk, mergedNdv) =
        if (toMerge.isEmpty) (stored, Map.empty[String, Long])
        else {
          val schema2 = StructType(toMerge.map(c =>
            StructField(c, org.apache.spark.sql.types.BinaryType)))
          val data = java.util.Arrays.asList(
            org.apache.spark.sql.Row(toMerge.map(stored): _*),
            org.apache.spark.sql.Row(toMerge.map(deltaSk): _*))
          val merged = spark.createDataFrame(data, schema2)
            .agg(expr(s"hll_union_agg(`${toMerge.head}`, true)")
              .as(toMerge.head),
              toMerge.tail.map(c =>
                expr(s"hll_union_agg(`$c`, true)").as(c)): _*)
            .select(toMerge.flatMap(c => Seq(
              org.apache.spark.sql.functions.col(s"`$c`"),
              expr(s"hll_sketch_estimate(`$c`)").as(s"__e_$c"))): _*)
            .collect()(0)
          val sk = toMerge.zipWithIndex.map { case (c, i) =>
            c -> merged.get(2 * i).asInstanceOf[Array[Byte]]
          }.toMap
          val nd = toMerge.zipWithIndex.map { case (c, i) =>
            c -> merged.getLong(2 * i + 1)
          }.toMap
          (stored ++ sk, nd)
        }
      val newNdv = curNdv ++ mergedNdv
      // histograms do not merge — the stored ones ride along, refreshed
      // by the next full analyze (stale-but-useful, like Spark's own)
      ColumnStatsFile.write(root, priorRows + deltaRows,
        newNdv.toSeq.sortBy(_._1), curHists.toSeq.sortBy(_._1), latest,
        mergedSk.toSeq.sortBy(_._1))
      emit(newNdv)
    }
  }

  /** The column's value mapped into the CBO's double histogram space —
    * which is the INTERNAL-value domain Catalyst's estimator uses
    * (`EstimationUtils.toDouble` stringifies the internal value):
    * numerics as themselves, dates as DAYS since epoch, timestamps as
    * MICROS. Strings/binaries have no histogram form there; NDV still
    * serves them. None = no histogram for this type. */
  private def histDomainExpr(dt: org.apache.spark.sql.types.DataType,
      c: String): Option[String] = dt match {
    case _: org.apache.spark.sql.types.NumericType =>
      Some(s"CAST(`$c` AS DOUBLE)")
    case org.apache.spark.sql.types.DateType =>
      Some(s"CAST(unix_date(`$c`) AS DOUBLE)")
    case org.apache.spark.sql.types.TimestampType =>
      Some(s"CAST(unix_micros(`$c`) AS DOUBLE)")
    case _ => None
  }

  private def histogramCols(schema: StructType,
      wanted: Seq[String]): Seq[(String, String)] =
    wanted.flatMap { c =>
      schema.fields.find(_.name == c).map(_.dataType)
        .flatMap(histDomainExpr(_, c)).map(c -> _)
    }

  /** Equi-height histogram of one column, Spark-ANALYZE style: bin
    * ENDPOINTS from one approx-percentile pass (so each bin holds
    * ~rows/buckets rows however skewed the distribution — a hot value
    * widens no bin, it occupies its own), then ONE grouped
    * approx-distinct pass for the per-bin NDVs. Values equal to an
    * endpoint land in the lower bin (the `(lo, hi]` convention
    * Catalyst's FilterEstimation assumes). Cost: 2 jobs per column,
    * each a single scan — run it on the columns skewed predicates
    * actually filter, not the whole table. */
  private def equiHeightHistogram(df: org.apache.spark.sql.DataFrame,
      c: String, domainExpr: String, buckets: Int, rows: Long)
      : Option[ColumnStatsFile.Hist] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, expr, least, lit}
    if (rows == 0) return None
    val qs = (0 to buckets).map(_.toDouble / buckets)
    val eps = df.select(org.apache.spark.sql.functions
        .percentile_approx(expr(domainExpr),
          lit(qs.toArray), lit(10000)).as("p"))
      .collect()(0).getSeq[Double](0)
    if (eps == null || eps.length != buckets + 1) return None
    // inner endpoints as a literal array: bin(v) = #{e_inner : e < v},
    // capped — a 63-element codegen'd filter per row, no UDF
    val inner = eps.slice(1, buckets).map(_.toString).mkString(",")
    val binExpr =
      if (inner.isEmpty) lit(0)
      else least(lit(buckets - 1), expr(
        s"size(filter(array($inner), e -> ($domainExpr) > e))"))
    val perBin = df.filter(col(c).isNotNull)
      .groupBy(binExpr.as("__bin"))
      .agg(approx_count_distinct(col(c)).as("__ndv"),
        org.apache.spark.sql.functions.count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val ndvByBin = perBin.map(t => t._1 -> t._2).toMap
    // height from the NON-NULL row count (the rows the bins actually
    // hold — percentiles and the bin grouping both ignore NULLs; a
    // total-row height would inflate every selectivity estimate on a
    // nullable column, Spark's own ANALYZE divides rowCount-nullCount)
    val nonNull = perBin.map(_._3).sum
    if (nonNull == 0) return None
    val bins = (0 until buckets).map(i =>
      (eps(i), eps(i + 1), math.max(1L, ndvByBin.getOrElse(i, 0L))))
    Some(ColumnStatsFile.Hist(nonNull.toDouble / buckets, bins))
  }

  val Fsck: UnboundProcedure = new SimpleProcedure("fsck",
    "table integrity verification (Delta FSCK's shape): re-derive the " +
      "visible state from the commit log and check it against disk — " +
      "every referenced data file exists and parses a footer, every " +
      "live deletion vector parses and masks no more batches than the " +
      "file has, every footer schema is consistent with the declared " +
      "schema (or the first file when none is declared), and every " +
      "partition directory value decodes. Emits one row per finding " +
      "plus an 'ok' summary row; a healthy table returns exactly the " +
      "summary. READ-ONLY: fsck never repairs (restore/vacuum/re-clone " +
      "are the repair verbs)") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build())
    private val out = StructType(Seq(
      StructField("check", StringType, nullable = false),
      StructField("status", StringType, nullable = false),
      StructField("detail", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val root = ArrowDataSource.sinkRoot(path)
        .getOrElse(Paths.get(path).toAbsolutePath.normalize)
      val findings = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, String)]
      def bad(check: String, detail: String): Unit = {
        findings += ((check, "FAIL", detail)); ()
      }
      // re-derive the referenced set from the LOG, not the disk
      // listing: a dangling manifest entry is exactly the corruption
      // fsck exists to surface (a read of it fails naming this verb)
      val log =
        if (ArrowDataSource.isTableLog(root.toString))
          Some(TableLog.read(root))
        else None
      val files: Seq[Path] = log match {
        case Some(l) => l.live(None)
          .map { case (_, rel) => root.resolve(rel).normalize }
        case None => ArrowDataSource.listIpcFiles(root.toString)
          .map(_.toAbsolutePath.normalize)
      }
      // 1. referenced data files exist and carry a parsable footer
      val schemas = files.flatMap { f =>
        if (!Files.isRegularFile(f)) { bad("file-exists", f.toString); None }
        else scala.util.Try(ArrowDataSource.readFooterSchema(f))
          .toOption.orElse { bad("footer-parses", f.toString); None }
          .map(f -> _)
      }
      // 2. schema consistency vs the declared schema (alias/drop
      // ledgers applied) or the first footer
      ArrowDataSource.declaredSchema(root) match {
        case Some(ds) =>
          // same tolerance set the reader's drift sweep uses — fsck
          // and inference can never diverge on what counts as drift
          val (declared, dropped) =
            ArrowDataSource.toleratedFooterFields(root, ds,
              ArrowDataSource.declaration(root))
          schemas.foreach { case (f, s) =>
            s.fields.filterNot(g =>
              ArrowDataSource.footerFieldTolerated(declared, dropped, g)
              || dropped(g.name)).foreach(g =>
              bad("schema-vs-declared", s"$f carries ${g.name}:" +
                s"${g.dataType.simpleString}"))
          }
        case None =>
          schemas.headOption.foreach { case (_, first) =>
            val sig = first.fields.map(f => (f.name, f.dataType)).toSet
            schemas.foreach { case (f, s) =>
              if (s.fields.map(x => (x.name, x.dataType)).toSet != sig)
                bad("schema-consistent", f.toString)
            }
          }
      }
      // 3. live deletion vectors parse and fit their files
      log.foreach(_.dvs(None).foreach {
          case (rel, (dvRel, _)) =>
            val dvAbs = root.resolve(dvRel).normalize
            if (!Files.isRegularFile(dvAbs))
              bad("dv-exists", s"$rel -> $dvRel")
            else scala.util.Try(DeletionVectors.read(dvAbs)) match {
              case scala.util.Failure(e) =>
                bad("dv-parses", s"$dvRel: ${e.getMessage}")
              case scala.util.Success(mask) =>
                val fAbs = root.resolve(rel).normalize
                scala.util.Try(ArrowDataSource.footerInfo(fAbs))
                  .foreach { info =>
                    if (mask.length > info.sizes.length)
                      bad("dv-fits-file", s"$dvRel masks ${mask.length} " +
                        s"batches but $rel has ${info.sizes.length}")
                  }
            }
        })
      // 4. every physical IPC file is listed by SOME epoch manifest:
      // a file NO epoch ever adopted is invisible to every reader —
      // silent data loss. The reachable producer is the
      // unlogged-table promotion race (a plain append planned against
      // the bare directory renames its file AFTER a concurrent
      // initTableLog/mergeSchema-promotion snapshots the file list);
      // fsck turns that silence into a finding.
      log.foreach { l =>
        // ONE history pass: any file an epoch ever adopted appears as
        // an add (or remove) entry — O(history), not O(epochs²) of
        // per-epoch live-set folds. Files whose whole lifecycle
        // predates the latest log compaction read as unlisted too:
        // they are equally invisible to every reader and are exactly
        // the vacuum-pending debris the message points at.
        val listed = l.history.filter(_.dv.isEmpty).map(_.rel).toSet
        ArrowDataSource.listIpcFiles(root.toString).foreach { f =>
          val rel = root.relativize(f.toAbsolutePath.normalize).toString
          if (!listed.contains(rel)) bad("file-listed",
            s"$rel exists on disk but no epoch manifest lists it — " +
              "invisible to every reader (promotion race or foreign " +
              "writer); re-ingest it or vacuum it away")
        }
      }
      // 5. partition directory values decode
      // decode AND type-check: the name-keyed parser tolerates any
      // layout (partition evolution), so the integrity signal is a
      // dir VALUE the recorded/discovered column type cannot decode —
      // a corrupt `o_custkey=abc` under a BIGINT column would
      // otherwise pass fsck and crash every scan's constant vector
      val partSchema = TableSnapshot.read(root.toString).partSchema
      if (partSchema.nonEmpty) files.foreach { f =>
        val decodes = scala.util.Try {
          val m = ArrowDataSource.partitionValueMap(root.toString, f)
          partSchema.fields.foreach(fd =>
            m.get(fd.name).flatten.foreach(v =>
              ArrowDataSource.partValueToInternal(fd.dataType, v)))
        }
        if (decodes.isFailure)
          bad("partition-values-decode", f.toString)
      }
      val rows = (findings.toSeq :+
        (("ok", if (findings.isEmpty) "PASS" else "FAIL",
          s"${files.length} files checked, ${findings.length} findings")))
        .map { case (c, s, d) => new GenericInternalRow(Array[Any](
          UTF8String.fromString(c), UTF8String.fromString(s),
          UTF8String.fromString(d))): InternalRow }
      result(out, rows.toArray)
    }
  }

  val Detail: UnboundProcedure = new SimpleProcedure("detail",
    "one-row operational summary of a table: visible files/bytes/" +
      "rows, committed epochs, travel horizon, deletion-vector count " +
      "and masked rows, constraints, and the dv/auto-compact " +
      "properties — DESCRIBE DETAIL for the arrow format") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build())
    private val out = StructType(Seq(
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("epochs", LongType, nullable = false),
      StructField("horizon", LongType, nullable = false),
      StructField("dv_files", LongType, nullable = false),
      StructField("dv_masked_rows", LongType, nullable = false),
      StructField("constraints", LongType, nullable = false),
      StructField("dv_enabled", BooleanType, nullable = false),
      StructField("auto_compact", BooleanType, nullable = false),
      StructField("partition_columns", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      // the SINK ROOT owns the log — a subdirectory path reports its
      // table's epochs, vectors and properties, not an empty log
      val snap = TableSnapshot.read(path)
      val memo = snap.footers
      val files = memo.files
      val dvs = memo.dvs
      result(out, Array(new GenericInternalRow(Array[Any](
        files.length.toLong, files.map(f => Files.size(f)).sum,
        memo.liveRows().map(Long.box).orNull, // unreadable footer: null
        math.max(0L, snap.latest), snap.log.fold(0L)(_.horizon),
        dvs.size.toLong, dvs.values.map(_._2).sum,
        TableConstraints.list(path).length.toLong,
        java.lang.Boolean.valueOf(snap.dvEnabled),
        java.lang.Boolean.valueOf(AutoCompact.config(path).isDefined),
        utf8(snap.partCols.mkString(","))))))
    }
  }

  val SetAutoCompact: UnboundProcedure = new SimpleProcedure(
    "set_auto_compact",
    "post-commit auto-compaction (Delta's Auto Compaction): after " +
      "every batch epoch commit, if at least min_files visible files " +
      "hold fewer than target_rows/2 rows (footer stats only), fold " +
      "JUST those splinters into target-sized files as one " +
      "data-neutral maintenance epoch; enabled => false turns it off") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("min_files", LongType)
        .defaultValue("8").build(),
      ProcedureParameter.in("target_rows", LongType)
        .defaultValue("1048576").build(),
      ProcedureParameter.in("enabled", BooleanType)
        .defaultValue("true").build())
    private val out = StructType(Seq(
      StructField("enabled", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val on = input.getBoolean(3)
      if (on) {
        ArrowDataSource.initTableLog(path)
        AutoCompact.configure(path, input.getLong(1).toInt,
          input.getLong(2))
      } else AutoCompact.disable(path)
      result(out, Array(new GenericInternalRow(Array[Any](
        java.lang.Boolean.valueOf(on)))))
    }
  }

  val AddConstraint: UnboundProcedure = new SimpleProcedure(
    "add_constraint",
    "add a named CHECK constraint (boolean SQL over table columns) to " +
      "a logged table: every future write — batch, streaming epoch, " +
      "UPDATE/MERGE replacement — evaluates it per row and a " +
      "violation aborts the job before its epoch commits. By default " +
      "existing rows are validated first (Delta's contract); " +
      "validate => false skips the scan") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("expr", StringType).build(),
      ProcedureParameter.in("validate", BooleanType)
        .defaultValue("true").build())
    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("expr", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val sql = input.getUTF8String(2).toString
      ArrowDataSource.initTableLog(path)
      TableConstraints.add(SparkSession.active, path, name, sql,
        input.getBoolean(3))
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(name), utf8(sql)))))
    }
  }

  val DropConstraint: UnboundProcedure = new SimpleProcedure(
    "drop_constraint",
    "remove a named CHECK constraint; future writes stop checking it") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    private val out = StructType(Seq(
      StructField("dropped", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dropped = TableConstraints.drop(
        input.getUTF8String(0).toString, input.getUTF8String(1).toString)
      result(out, Array(new GenericInternalRow(Array[Any](
        java.lang.Boolean.valueOf(dropped)))))
    }
  }

  val SetNotNull: UnboundProcedure = new SimpleProcedure(
    "set_not_null",
    "declare a column NOT NULL on a logged table: existing rows are " +
      "validated first (a metadata pass over footer null counts when " +
      "stats cover every live file, one pushed-IsNull scan otherwise) " +
      "and every future writer path enforces it per row — a write " +
      "omitting the column fails at constraint-bind time") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("col", StringType).build())
    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("expr", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = input.getUTF8String(0).toString
      val colName = input.getUTF8String(1).toString
      ArrowDataSource.initTableLog(path)
      TableConstraints.setNotNull(SparkSession.active, path, colName)
      result(out, Array(new GenericInternalRow(Array[Any](
        utf8(TableConstraints.notNullName(colName)),
        utf8(s"`$colName` IS NOT NULL")))))
    }
  }

  val DropNotNull: UnboundProcedure = new SimpleProcedure(
    "drop_not_null",
    "remove a column's NOT NULL declaration; future writes stop " +
      "checking it") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("col", StringType).build())
    private val out = StructType(Seq(
      StructField("dropped", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dropped = TableConstraints.dropNotNull(
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString)
      result(out, Array(new GenericInternalRow(Array[Any](
        java.lang.Boolean.valueOf(dropped)))))
    }
  }

  val ShowConstraints: UnboundProcedure = new SimpleProcedure(
    "show_constraints",
    "list a table's CHECK constraints (name, boolean SQL expression)") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build())
    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("expr", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rows = TableConstraints
        .list(input.getUTF8String(0).toString)
        .map { case (n, e) => new GenericInternalRow(
          Array[Any](utf8(n), utf8(e))): InternalRow }
      result(out, rows.toArray)
    }
  }

  val CopyInto: UnboundProcedure = new SimpleProcedure("copy_into",
    "idempotently load external data files into a logged arrow table " +
      "(Delta's COPY INTO): each loaded file's path+size is ledgered " +
      "atomically inside the ingest epoch's manifest, so re-running " +
      "the call skips already-loaded files — ingest retries and " +
      "landing-zone catch-up sweeps never double-load") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("format", StringType)
        .defaultValue("'parquet'").build(),
      ProcedureParameter.in("pattern", StringType)
        .defaultValue("''")
        .comment("optional glob over file names (default *.<format>)")
        .build())
    private val out = StructType(Seq(
      StructField("files_total", LongType, nullable = false),
      StructField("files_loaded", LongType, nullable = false),
      StructField("files_skipped", LongType, nullable = false),
      StructField("rows_loaded", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (t, l, s, r) = ArrowCopyInto.run(SparkSession.active,
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString,
        input.getUTF8String(2).toString,
        input.getUTF8String(3).toString)
      result(out, Array[InternalRow](
        new GenericInternalRow(Array[Any](t, l, s, r))))
    }
  }

  val SetPartitioning: UnboundProcedure = new SimpleProcedure(
    "set_partitioning",
    "record a new write-time partition spec (Iceberg's partition " +
      "evolution): future writes route the named columns to " +
      "col=value directories; existing files keep their layout and " +
      "stay exactly readable (path XOR bytes per column); filters " +
      "prune the generations that expose the layout") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("cols", StringType)
        .comment("comma-separated partition column names, in layout " +
          "order").build())
    private val out = StructType(Seq(
      StructField("col", StringType, nullable = false),
      StructField("type", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spec = ArrowDataSource.setPartitioning(SparkSession.active,
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty))
      result(out, spec.map { case (c, t) =>
        new GenericInternalRow(
          Array[Any](utf8(c), utf8(t.simpleString))): InternalRow
      }.toArray)
    }
  }

  val Tag: UnboundProcedure = new SimpleProcedure("tag",
    "create or retarget a NAMED epoch ref (Iceberg's tags): " +
      "VERSION AS OF 'name' then resolves through it — releases and " +
      "reproducibility pins address versions by meaning, not number; " +
      "epoch -1 tags the current latest") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("epoch", LongType)
        .defaultValue("-1").build())
    private val out = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("epoch", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val name = input.getUTF8String(1).toString
      val rawEpoch = input.getLong(2)
      // ONLY -1 means "latest": any other negative is a caller bug
      // (a typo'd epoch must refuse, never silently pin the wrong
      // snapshot)
      require(rawEpoch >= -1,
        s"tag: epoch $rawEpoch is not a valid epoch (-1 = latest)")
      val e = ArrowDataSource.setTag(
        input.getUTF8String(0).toString, name,
        Some(rawEpoch).filter(_ >= 0))
      result(out, Array[InternalRow](
        new GenericInternalRow(Array[Any](utf8(name), e))))
    }
  }

  val DropTag: UnboundProcedure = new SimpleProcedure("drop_tag",
    "remove a named epoch ref; the data it pointed at is untouched") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("path", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    private val out = StructType(Seq(
      StructField("dropped", BooleanType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dropped = ArrowDataSource.dropTag(
        input.getUTF8String(0).toString,
        input.getUTF8String(1).toString)
      result(out, Array[InternalRow](
        new GenericInternalRow(Array[Any](dropped))))
    }
  }

  val all: Map[String, UnboundProcedure] = Map(
    "copy_into" -> CopyInto,
    "set_partitioning" -> SetPartitioning,
    "tag" -> Tag,
    "drop_tag" -> DropTag,
    "branch" -> Branch,
    "publish_branch" -> PublishBranch,
    "drop_branch" -> DropBranch,
    "vacuum" -> Vacuum,
    "compact" -> Compact,
    "purge" -> Purge,
    "dictionary_encode" -> DictionaryEncode,
    "zorder" -> Zorder,
    "history" -> History,
    "restore" -> Restore,
    "clone" -> Clone,
    "publish" -> Publish,
    "add_column" -> AddColumn,
    "drop_column" -> DropColumn,
    "rename_column" -> RenameColumn,
    "widen_column" -> WidenColumn,
    "set_dv" -> SetDv,
    "analyze" -> Analyze,
    "fsck" -> Fsck,
    "partitions" -> Partitions,
    "detail" -> Detail,
    "set_auto_compact" -> SetAutoCompact,
    "add_constraint" -> AddConstraint,
    "drop_constraint" -> DropConstraint,
    "set_not_null" -> SetNotNull,
    "drop_not_null" -> DropNotNull,
    "show_constraints" -> ShowConstraints)
}
