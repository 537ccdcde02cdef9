package graft.sources.arrow

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.vector.{FieldVector, ValueVector, VarCharVector, VectorLoader, VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder, DictionaryProvider}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.SparkSession

/** The deferred two-pass dictionary-encoding "optimize" rewrite the
  * single-pass writer documents (`ArrowWrite.scala`): Arrow Java's
  * `ArrowFileWriter` serializes its dictionaries once up front, so a
  * streaming writer cannot dictionary-encode without buffering its
  * whole output — but a REWRITE of an already-written directory knows
  * every value up front. Pass 1 scans a file's batches collecting the
  * distinct values of each eligible string column; pass 2 rewrites the
  * file with those columns stored as int32 indices into a per-file
  * dictionary (the IPC dictionary-batch mechanism), preserving footer
  * metadata (zone maps + row stats), batch boundaries, and order.
  *
  * This is the compaction shape (`layout_compaction`): one independent
  * task per file, no shuffle — `dictionaryEncode` fans the file list
  * out over the cluster, so a 100 TB directory rewrites with
  * file-granular parallelism. Low-cardinality string columns (lang,
  * category, host, ...) shrink to ~4 bytes/row + one dictionary;
  * high-cardinality columns are left plain (the cut-off is
  * `maxCardinality`, above which indices stop paying for the extra
  * dictionary bytes and the encode hash table).
  *
  * The read path decodes transparently ([[ArrowReaderBase]]): a
  * dictionary-encoded file round-trips bit-identically through
  * `spark.read.format("arrow")` (ArrowDictionarySpec), so the rewrite
  * is invisible to every consumer — the reference's storage-engine
  * stance (dictionary-encoded Arrow strings, SURVEY §1.1) with the
  * encoding as a pure layout property.
  */
object ArrowOptimize {

  /** VACUUM: physically delete files invisible to every reader.
    *
    * Two classes of garbage accumulate under a long-lived layout:
    * `.inprogress` temps from crashed writers (flat and sink dirs
    * alike), and — in streaming-sink directories — `.arrow` files no
    * committed manifest lists (task retries whose epoch never
    * committed, or a replayed epoch's second copy). Readers already
    * ignore both ([[ArrowDataSource.visibleIpcFiles]] honors the
    * commit log), so this is purely a space reclaim — Delta's VACUUM.
    *
    * `graceMs` guards the race with an in-flight commit: a streaming
    * epoch renames its files visible BEFORE the epoch manifest lands,
    * so a file younger than the grace window is never touched (Delta's
    * retention check). The default keeps one hour; tests pass 0.
    *
    * Returns the deleted paths. Metadata-only driver work: one
    * listing, no data reads — at 100k files this is the same O(files)
    * walk the planner already does. */
  def vacuum(dir: String, graceMs: Long = 3600L * 1000,
      dryRun: Boolean = false): Seq[Path] = {
    val cutoff = System.currentTimeMillis() - graceMs
    // inclusive: age >= grace is eligible — with grace_ms = 0 a file
    // written in the same millisecond as the sweep must still go
    // (strict `<` made zero-grace vacuums silently skip same-ms files)
    def oldEnough(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis <= cutoff
    val deleted = scala.collection.mutable.ArrayBuffer.empty[Path]
    // ONE plan drives both modes (dry run = Delta's DRY RUN: report,
    // touch nothing): the victim computation below never depends on
    // its own deletions, so report and action cannot diverge.
    // crashed-writer temps, any directory shape
    def sweepTmp(d: java.io.File): Unit =
      Option(d.listFiles()).foreach(_.foreach { f =>
        if (f.isDirectory) sweepTmp(f)
        else if (f.getName.endsWith(".inprogress") &&
            oldEnough(f.toPath)) {
          if (!dryRun) Files.deleteIfExists(f.toPath)
          deleted += f.toPath
        }
      })
    sweepTmp(new java.io.File(dir))
    // sink dirs additionally: committed manifests are the truth;
    // every unlisted .arrow file is an invisible orphan. For a LOGGED
    // TABLE the invisible set also holds every file a DML/overwrite
    // epoch removed — reclaiming those is what bounds copy-on-write
    // storage growth, and the history prune below then drops their
    // log events so `VERSION AS OF` never resolves to missing bytes
    // (vacuum trims the travel horizon, Delta's retention semantics).
    ArrowDataSource.sinkRoot(dir).foreach { root =>
      val visible = ArrowDataSource.visibleIpcFiles(dir)
        .map(_.toAbsolutePath.normalize).toSet
      val victims = ArrowDataSource.listIpcFiles(dir)
        .filterNot(f => visible(f.toAbsolutePath.normalize))
        .filter(oldEnough)
      if (!dryRun) victims.foreach(Files.deleteIfExists)
      deleted ++= victims
      if (!dryRun) {
        if (victims.nonEmpty && ArrowDataSource.isTableLog(dir))
          ArrowDataSource.compactLog(root,
            ArrowDataSource.latestCommittedEpoch(root),
            onlyExisting = true)
        // AFTER the log fold (which also folds per-epoch stats
        // fragments into the root sidecar): forget reclaimed files so
        // the sidecar stays bounded by LIVE files
        if (victims.nonEmpty) FooterIndexFile.prune(root, victims)
        if (ArrowDataSource.isTableLog(dir))
          ArrowDelete.sweepEmptyDirs(dir)
      }
      // deletion-vector sidecars: reclaim vectors no surviving dv
      // event references (superseded by a newer cumulative vector, or
      // their data file was just reclaimed — the real run's history
      // prune drops those events, so the plan here must ALSO discount
      // dv events of victim/missing files or the dry run under-reports
      // what the real run deletes). Grace-guarded like data files.
      val dvDir = root.resolve(ArrowDataSource.DvDirName)
      if (Files.isDirectory(dvDir)) {
        val victimSet = victims.map(_.toAbsolutePath.normalize).toSet
        val referenced = TableLog.read(root).history
          .filter { en =>
            val f = root.resolve(en.rel).normalize
            Files.exists(f) && !victimSet(f)
          }
          .flatMap(_.dv.map { case (dvRel, _) =>
            root.resolve(dvRel).normalize.toString
          }).toSet
        val s = Files.list(dvDir)
        val dvVictims =
          try s.iterator().asScala.toVector finally s.close()
        dvVictims
          .filter(p => p.getFileName.toString.endsWith(".dv"))
          .filterNot(p => referenced(p.toAbsolutePath.normalize.toString))
          .filter(oldEnough)
          .foreach { p =>
            if (!dryRun) Files.deleteIfExists(p)
            deleted += p
          }
      }
    }
    deleted.toSeq
  }

  /** Rewrite every `.arrow` file under `inDir` into `outDir`,
    * dictionary-encoding string columns with at most `maxCardinality`
    * distinct values. One Spark task per file — the distributed
    * compaction shape. */
  def dictionaryEncode(spark: SparkSession, inDir: String, outDir: String,
      codec: Option[String] = None,
      maxCardinality: Int = 1 << 16): Unit = {
    // visible (manifest-honoring) listing: rewriting a streaming-sink
    // directory must not resurrect uncommitted orphan files
    val files = ArrowDataSource.visibleIpcFiles(inDir).map(_.toString)
    require(files.nonEmpty, s"no .arrow files under $inDir")
    require(Paths.get(inDir).toAbsolutePath.normalize !=
      Paths.get(outDir).toAbsolutePath.normalize,
      "dictionary_encode rewrites in_path INTO out_path; in-place " +
        "(in_path == out_path) would clear the inputs before reading " +
        "them — write to a fresh directory")
    Files.createDirectories(Paths.get(outDir))
    // overwrite semantics: stale files from a previous rewrite would
    // otherwise survive (part names carry fresh uuids) and duplicate
    // every row on read; stale temps from crashed rewrites go too, and
    // so does a stale streaming commit log — left in place it would
    // stay the read-side source of truth and hide every rewritten file
    // (the batch-truncate path clears it for the same reason)
    ArrowDataSource.listIpcFiles(outDir).foreach(Files.deleteIfExists)
    ArrowDataSource.deleteManifests(outDir)
    // the rewrite REUSES inDir's relative file names: a stale sidecar
    // from a previous life of outDir could otherwise alias them
    FooterIndexFile.drop(outDir)
    def sweepTmp(d: java.io.File): Unit =
      Option(d.listFiles()).foreach(_.foreach { f =>
        if (f.isDirectory) sweepTmp(f)
        else if (f.getName.endsWith(".inprogress")) f.delete()
      })
    sweepTmp(new java.io.File(outDir))
    val out = outDir
    val in = inDir
    spark.sparkContext
      .parallelize(files, files.length)
      .foreach { f =>
        // preserve the relative layout (Hive partition dirs included)
        val rel = Paths.get(in).relativize(Paths.get(f)).toString
        val dst = Paths.get(out, rel)
        Files.createDirectories(dst.getParent)
        rewriteFile(Paths.get(f), dst, codec, maxCardinality)
      }
  }

  /** Rewrite one file (runs inside a task; pure Arrow Java). */
  private[arrow] def rewriteFile(src: Path, dst: Path,
      codec: Option[String], maxCardinality: Int): Unit = {
    val allocator = ArrowDataSource.allocator
      .newChildAllocator(s"arrow-optimize-${src.getFileName}", 0,
        Long.MaxValue)
    val inCh = FileChannel.open(src, StandardOpenOption.READ)
    val reader = new ArrowFileReader(inCh, allocator,
      CommonsCompressionFactory.INSTANCE)
    try {
      val root = reader.getVectorSchemaRoot
      val fields = root.getSchema.getFields.asScala.toSeq
      val blocks = reader.getRecordBlocks.asScala.toSeq

      // ---- pass 1: distinct values per eligible (plain utf8) column
      val candidates = fields.zipWithIndex.collect {
        case (f, i) if f.getType.isInstanceOf[ArrowType.Utf8] &&
          f.getDictionary == null => i
      }
      val distinct: Map[Int, scala.collection.mutable.LinkedHashSet[String]] =
        candidates.map(_ ->
          scala.collection.mutable.LinkedHashSet.empty[String]).toMap
      var live = candidates.toSet
      for (b <- blocks if live.nonEmpty) {
        reader.loadRecordBatch(b)
        for (i <- live) {
          val v = root.getVector(i).asInstanceOf[VarCharVector]
          val set = distinct(i)
          var r = 0
          while (r < root.getRowCount) {
            if (!v.isNull(r)) set += new String(v.get(r),
              java.nio.charset.StandardCharsets.UTF_8)
            r += 1
          }
          if (set.size > maxCardinality) live -= i
        }
      }
      val dictCols = live.toSeq.sorted

      // ---- build per-column dictionaries (sorted for determinism)
      val indexType = new ArrowType.Int(32, true)
      val dicts: Map[Int, Dictionary] = dictCols.map { i =>
        val values = distinct(i).toSeq.sorted
        val vec = new VarCharVector(s"dict_${fields(i).getName}", allocator)
        vec.allocateNew()
        values.zipWithIndex.foreach { case (s, j) =>
          vec.setSafe(j, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        vec.setValueCount(values.size)
        i -> new Dictionary(vec,
          new DictionaryEncoding(i.toLong, false, indexType))
      }.toMap

      // ---- pass 2: rewrite with encoded columns
      val outFields = fields.zipWithIndex.map { case (f, i) =>
        dicts.get(i) match {
          case Some(d) => new Field(f.getName,
            new FieldType(f.isNullable, indexType, d.getEncoding),
            java.util.Collections.emptyList[Field]())
          case None => f
        }
      }
      val provider = new DictionaryProvider.MapDictionaryProvider(
        dicts.values.toSeq: _*)
      val writerRoot = VectorSchemaRoot.create(
        new ArrowSchema(outFields.asJava), allocator)
      val codecType = ArrowDataSource.codecType(codec)
      val metaData = new java.util.HashMap[String, String](
        reader.getMetaData) // zone maps + row stats survive verbatim
      // ...except the codec stamp, which must reflect THIS rewrite's
      // codec, not the source file's
      metaData.remove(ArrowDataSource.CodecMetaKey)
      codec.foreach(c =>
        metaData.put(ArrowDataSource.CodecMetaKey, c.toLowerCase))
      // same atomic-commit protocol as the writers: stream into a temp
      // invisible to readers, rename once the footer is on disk
      val tmpDst = AtomicFiles.tempFor(dst)
      val outCh = FileChannel.open(tmpDst, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      val writer = codecType match {
        case None => new ArrowFileWriter(writerRoot, provider, outCh,
          metaData)
        case Some(ct) => new ArrowFileWriter(writerRoot, provider, outCh,
          metaData, new IpcOption(), CommonsCompressionFactory.INSTANCE, ct)
      }
      try {
        writer.start()
        for (b <- blocks) {
          reader.loadRecordBatch(b)
          val encoded = scala.collection.mutable.ListBuffer.empty[ValueVector]
          try {
            val vectors: Seq[FieldVector] = fields.indices.map { i =>
              dicts.get(i) match {
                case Some(d) =>
                  val enc = DictionaryEncoder.encode(root.getVector(i), d)
                  encoded += enc
                  enc.asInstanceOf[FieldVector]
                case None => root.getVector(i)
              }
            }
            val batchRoot = new VectorSchemaRoot(outFields.asJava,
              vectors.asJava, root.getRowCount)
            val rb = new VectorUnloader(batchRoot).getRecordBatch
            try new VectorLoader(writerRoot).load(rb)
            finally rb.close()
            writer.writeBatch()
          } finally encoded.foreach(_.close())
        }
        writer.end()
      } finally {
        writer.close(); outCh.close()
        writerRoot.close()
        dicts.values.foreach(_.getVector.close())
      }
      AtomicFiles.publish(tmpDst, dst)
    } finally {
      reader.close(); inCh.close(); allocator.close()
    }
  }
}

/** Post-commit auto-compaction (Delta's Auto Compaction): once opted
  * in (`CALL graft.system.set_auto_compact(path, min_files,
  * target_rows)`), every BATCH epoch commit on the logged table checks
  * — from footer statistics only — whether at least `min_files`
  * visible files hold fewer than `target_rows / 2` rows, and if so
  * folds JUST those splinters into target-sized files as one
  * data-neutral maintenance epoch. Streaming-style small-batch ingest
  * then self-heals: the table converges to target-sized files without
  * a scheduler ever calling OPTIMIZE, and the rewrite reads only the
  * splinters (never the healthy files). The maintenance epoch is
  * marked data-neutral, so change-feed consumers see none of its
  * churn. Cost guard: the trigger decision is a metadata pass; the
  * rewrite is bounded by the splinter bytes. */
object AutoCompact {
  val MarkerName = "_auto_compact"

  private def marker(dir: String): java.nio.file.Path =
    Paths.get(dir).toAbsolutePath.normalize
      .resolve(ArrowDataSource.MetadataDirName).resolve(MarkerName)

  def configure(dir: String, minFiles: Int, targetRows: Long): Unit = {
    require(ArrowDataSource.isTableLog(dir),
      s"auto_compact: $dir is not a logged table")
    require(minFiles >= 2 && targetRows >= 2,
      s"auto_compact needs min_files >= 2 and target_rows >= 2")
    AtomicFiles.replace(marker(dir), Seq(s"$minFiles\t$targetRows"))
  }

  def disable(dir: String): Unit = {
    Files.deleteIfExists(marker(dir)); ()
  }

  def config(dir: String): Option[(Int, Long)] =
    if (!Files.exists(marker(dir))) None
    else Files.readAllLines(marker(dir)).asScala.headOption
      .flatMap(_.split('\t') match {
        case Array(m, t) => Some((m.toInt, t.toLong))
        case _ => None
      })

  /** Post-commit hook: compact the splinter set if the threshold is
    * met. Never throws into the caller's commit — compaction failure
    * must not fail the write that triggered it (the data is already
    * durably committed; the next commit retries). */
  def maybe(path: String): Unit =
    try {
      config(path).foreach { case (minFiles, targetRows) =>
        // ONE snapshot picks the splinters, reads them and is the base
        // the maintenance epoch commits on
        val snap = TableSnapshot.read(path)
        val ix = snap.footers
        // deletion-vectored files are skipped: their live row count is
        // smaller than the footer's and a rewrite here would need the
        // mask — OPTIMIZE handles those explicitly
        val small = ix.files
          .filterNot(f =>
            ix.dvs.contains(f.toAbsolutePath.normalize.toString))
          .flatMap(f => ix.info(f).rows.filter(_ < targetRows / 2)
            .map(n => (f, n)))
        if (small.length >= minFiles) {
          val files = small.map(_._1)
          val nOut = math.max(1L,
            (small.map(_._2).sum + targetRows - 1) / targetRows).toInt
          GraftProcedures.loggedRewrite(snap, files)(
            GraftProcedures.readAt(snap, files).repartition(nOut))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}
