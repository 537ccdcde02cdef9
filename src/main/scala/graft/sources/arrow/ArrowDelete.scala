package graft.sources.arrow

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Row-level DELETE for the Arrow source, copy-on-write — the shape
  * every table format at scale uses (Delta/Iceberg CoW): footer
  * statistics triage the file list, and only files that MAY hold
  * matching rows are rewritten without them; everything else is never
  * opened.
  *
  * The 100 TB anatomy of `DELETE FROM t WHERE p`:
  *   1. partition conjuncts prune candidate files at planning time
  *      (exact — the value is constant per directory);
  *   2. per file, ON THE EXECUTOR, zone maps and blooms decide whether
  *      any batch can match the remaining conjuncts — a delete keyed
  *      near the layout's sort/cluster column touches only the
  *      overlapping files, and the decision costs one footer read;
  *   3. an overlapping file is rewritten keeping the rows the
  *      predicate does NOT match (SQL semantics: a row deletes only
  *      when `p` is TRUE, so NULL/unknown rows survive — FilterEval's
  *      three-valued collapse to false is exactly the keep test
  *      negated); fresh zone maps / row stats / blooms are recomputed
  *      by the standard writer, and bucket / sort stamps carry over
  *      (deleting rows preserves both properties);
  *   4. a file whose every row matches is unlinked; a file with no
  *      matching rows is left bit-identical (no gratuitous rewrite).
  *
  * One independent task per candidate file — the compaction shape, no
  * shuffle. Durability: DELETE runs against a LOGGED table (the first
  * delete upgrades a flat directory, [[ArrowDataSource.initTableLog]]),
  * so replacement files stay invisible until the driver's single
  * atomic epoch commit swaps every touched group at once; a crash
  * mid-job commits nothing, and the removed originals back
  * `VERSION AS OF` until vacuum reclaims them.
  *
  * Dictionary-encoded files rewrite to plain strings (the row writer
  * is single-pass; re-run [[ArrowOptimize.dictionaryEncode]] to
  * re-encode).
  */
object ArrowDelete {

  /** Can `file` hold a row matching ALL `dataFilters`? Conservative
    * (unknown ⇒ true), from footer stats alone:
    *   - a bloom that proves one conjunct's probe value absent proves
    *     the conjunction matches nothing;
    *   - otherwise some single batch must be able to satisfy EVERY
    *     conjunct at once ([[ZoneMaps.mayMatch]] per batch). */
  private[arrow] def mayHoldMatches(info: ArrowDataSource.FooterInfo,
      dataSchema: StructType, dataFilters: Seq[Filter]): Boolean = {
    if (dataFilters.exists(f => info.blooms.nonEmpty &&
        ArrowBloom.provesAbsent(info.blooms, dataSchema, f)))
      return false
    info.zoneMap match {
      case Some(zm) => info.sizes.indices.exists(b =>
        dataFilters.forall(ZoneMaps.mayMatch(_, dataSchema, zm, b)))
      case None => info.sizes.nonEmpty || dataFilters.isEmpty
    }
  }

  /** Distributed copy-on-write delete of every row matching the
    * conjunction `filters` in `snap` — a LOGGED table's snapshot
    * ([[TableSnapshot.forDml]]; its head is the commit's base epoch).
    * Tasks rewrite files but never unlink; the driver swaps every
    * touched group for its replacement in one atomic epoch commit, so
    * readers see the delete all-or-nothing.
    * Caller guarantees every filter is FilterEval-supported over
    * (file ++ partition) columns. */
  def deleteWhere(spark: SparkSession, snap: TableSnapshot,
      filters: Seq[Filter]): Unit = {
    val root = snap.path
    val partSchema = snap.partSchema
    val partCols = partSchema.fieldNames.toSet
    val partF = filters.filter(f => f.references.forall(partCols) &&
      FilterEval.supported(partSchema, f))
    val candidates = ArrowDataSource.pruneByPartitionFilters(
      snap.files(None), root, partSchema, partF)
    if (candidates.isEmpty) return
    if (snap.dvEnabled) {
      deleteWhereMor(spark, snap, filters, candidates)
      return
    }
    val rootP = snap.root
    val dvNow = snap.log.get.dvs(None)
    val rootStr = root
    val fs = filters
    val ps = partSchema
    val decl = snap.declaration
    // a DV'd file rewriting copy-on-write must not resurrect its
    // masked rows: the rewrite reads through the vector
    val payload = candidates.map { f =>
      val rel = rootP.relativize(f.toAbsolutePath.normalize).toString
      (f.toString,
        dvNow.get(rel).map(d => rootP.resolve(d._1).normalize.toString))
    }
    val results = spark.sparkContext
      .parallelize(payload, payload.length)
      .map { case (f, dv) => (f, rewriteFile(rootStr, f, ps, fs, decl, dv)) }
      .collect() // (file, replacements) pairs — metadata, not rows
    val removed = results.collect { case (f, Some(_)) => f }.toSeq
    val adds = results.flatMap { case (_, r) => r.getOrElse(Nil) }.toSeq
    if (removed.nonEmpty) {
      val epoch =
        ArrowDataSource.commitTableEpoch(root, snap.latest, adds, removed)
      // CoW replacements bypass the batch-write commit hook: record
      // their stats as the epoch's sidecar fragment (cost bounded by
      // churned files; folded by log compaction) so DML-heavy tables
      // keep one-metadata-read planning
      if (adds.nonEmpty)
        FooterIndexFile.appendEpochFragment(root, epoch,
          ArrowDataSource.readFooterSchema(Paths.get(adds.head)),
          adds.map(a => a -> FooterIndexFile.encodeInfo(
            ArrowDataSource.footerInfo(Paths.get(a)))))
    }
  }

  /** Merge-on-read DELETE ([[ArrowDataSource.dvEnabled]] tables): one
    * task per candidate file computes the file's CUMULATIVE deletion
    * vector (existing mask ∪ new matches) and writes a small sidecar —
    * the data bytes never move. The driver commits one atomic epoch of
    * `dv` events; a file whose every row ends masked commits a plain
    * REMOVE instead (readers skip it entirely, vacuum reclaims it).
    * At 100 TB: deleting 0.1% of rows scattered across a petabyte
    * costs the matched files' scan plus kilobyte sidecars, not a
    * petabyte rewrite. */
  private[arrow] def deleteWhereMor(spark: SparkSession,
      snap: TableSnapshot, filters: Seq[Filter],
      candidates: Seq[Path]): Unit = {
    val rootP = snap.root
    val dvNow = snap.log.get.dvs(None)
    val rootStr = rootP.toString
    val fs = filters
    val ps = snap.partSchema
    val decl = snap.declaration
    val payload = candidates.map { f =>
      val rel = rootP.relativize(f.toAbsolutePath.normalize).toString
      (f.toString,
        dvNow.get(rel).map(d => rootP.resolve(d._1).normalize.toString))
    }
    // (file, dvPath|null, totalRows, maskedRows); dvPath null + total
    // >= 0 means every row masked (remove); total -1 means untouched
    val results = spark.sparkContext
      .parallelize(payload, payload.length)
      .map { case (f, oldDvPath) =>
        val info = ArrowDataSource.footerInfo(Paths.get(f))
        val dataSchema = ArrowDataSource.readFooterSchema(Paths.get(f))
        val dataF = fs.filterNot(x =>
          x.references.forall(ps.fieldNames.contains(_)) &&
            FilterEval.supported(ps, x))
        if (!mayHoldMatches(info, dataSchema, dataF))
          (f, null: String, -1L, -1L) // footer stats prove no match
        else {
          val oldDv = oldDvPath.map(p => DeletionVectors.read(Paths.get(p)))
          DeletionVectors.computeMask(rootStr, f, ps, fs, decl,
              oldDv) match {
            case None => (f, null: String, -1L, -1L)
            case Some((mask, totalRows, _)) =>
              val masked = DeletionVectors.cardinality(mask)
              if (masked == totalRows) (f, null: String, totalRows, masked)
              else {
                val dvPath = DeletionVectors
                  .write(Paths.get(rootStr), mask)
                (f, dvPath.toString, totalRows, masked)
              }
          }
        }
      }
      .collect()
    val removes = results.collect {
      case (f, null, total, masked) if total >= 0 && masked == total => f
    }.toSeq
    val dvs = results.collect {
      case (f, dv, _, masked) if dv != null => (f, dv, masked)
    }.toSeq
    if (removes.nonEmpty || dvs.nonEmpty) {
      ArrowDataSource.commitTableEpoch(snap.path, snap.latest, Seq.empty,
        removes, dvs = dvs)
      ()
    }
  }

  /** Triage + rewrite one file (runs inside a task). Returns None when
    * the file provably holds no matching row (left bit-identical and
    * still visible), else Some(replacement files) — empty when every
    * row matched. The original is NEVER unlinked here: visibility
    * flips only at the driver's epoch commit. */
  private[arrow] def rewriteFile(root: String, file: String,
      partSchema: StructType, filters: Seq[Filter],
      decl: ArrowDataSource.Declaration, dvFile: Option[String])
      : Option[Seq[String]] = {
    val src = Paths.get(file)
    val info = ArrowDataSource.footerInfo(src)
    // schema-evolved tables: predicates arrive under LOGICAL names
    // (renamed/added columns), so read AND rewrite under the declared
    // schema — the reader's alias fallback serves a pre-rename file's
    // physical column, absent added columns read as nulls, and the
    // replacement file materializes the current logical schema.
    // partition evolution: THIS FILE's byte/path split decides the
    // rewrite schema — a column the file carries in its path must not
    // be materialized into the replacement's bytes (layout preserved),
    // and a column it carries in bytes (pre-evolution generation) must
    // stay there (values preserved)
    val dirCols = ArrowDataSource.partitionValueMap(root, src).keySet
    val dataSchema = StructType(decl.schema
      .getOrElse(ArrowDataSource.readFooterSchema(src))
      .fields.filterNot(f => dirCols.contains(f.name)))
    val dataF = filters.filterNot(f =>
      f.references.forall(partSchema.fieldNames.contains(_)) &&
        FilterEval.supported(partSchema, f))
    if (!mayHoldMatches(info, dataSchema, dataF)) return None

    // full row = file columns ++ directory-carried partition columns,
    // the same composition the scan serves — so the predicate may mix
    // partition and data columns freely (each name ONCE: a partition
    // column this generation still carries in bytes binds its data
    // ordinal, and the reader serves the real byte values). An
    // existing deletion vector applies through the partition: masked
    // rows are neither kept nor re-tested (they are already logically
    // gone).
    val readSchema = StructType(dataSchema.fields ++
      partSchema.fields.filterNot(f =>
        dataSchema.fieldNames.contains(f.name)))
    val partValues = ArrowDataSource
      .partitionValuesOf(root, src, partSchema.fieldNames.toSeq).map(_.orNull).toArray
    val partition =
      ArrowFilePartition(file, info.sizes.indices.toArray, partValues,
        dvFile = dvFile.orNull)
    val compiled = filters.map(FilterEval.compile(readSchema, _))
    def deletes(r: InternalRow): Boolean = compiled.forall(_(r))

    val tc = Option(TaskContext.get())
    val bucketMeta = info.bucket.map { case (c, n, i) => Map(
      GraftBucket.MetaCol -> c, GraftBucket.MetaN -> n.toString,
      GraftBucket.MetaId -> i.toString)
    }.getOrElse(Map.empty[String, String])
    val reader = new ArrowRowReader(partition, readSchema,
      Array.empty, partSchema, decl)
    var total = 0L
    var kept = 0L
    val writer = new ArrowDataWriter(src.getParent.toString, dataSchema,
      info.codec, 8192,
      tc.map(_.partitionId()).getOrElse(0),
      tc.map(_.taskAttemptId()).getOrElse(0L),
      bucketMeta, info.blooms.keys.toSeq.sorted, info.sort)
    try {
      while (reader.next()) {
        val r = reader.get()
        total += 1
        if (!deletes(r)) { writer.write(r); kept += 1 }
      }
    } catch {
      case t: Throwable => writer.abort(); throw t
    } finally reader.closeAll()
    if (kept == total) { writer.abort(); None } // nothing matched
    else if (kept == 0) { writer.abort(); Some(Seq.empty) } // all matched
    else writer.commit() match {
      case m: ArrowCommitMessage => Some(m.files)
      case other: WriterCommitMessage =>
        throw new IllegalStateException(s"unexpected commit $other")
    }
  }

  /** Remove now-empty `col=value` directories so the layout stays
    * canonical after whole-partition deletes. */
  private[arrow] def sweepEmptyDirs(root: String): Unit = {
    val rootP = Paths.get(root).toAbsolutePath.normalize
    if (!Files.isDirectory(rootP)) return
    def sweep(d: Path): Boolean = { // returns "d is (now) empty"
      val children = {
        val s = Files.list(d)
        try s.iterator().asScala.toVector finally s.close()
      }
      var remaining = children.length
      children.foreach { c =>
        if (Files.isDirectory(c) &&
            c.getFileName.toString.contains('=') && sweep(c)) {
          Files.delete(c)
          remaining -= 1
        }
      }
      remaining == 0
    }
    sweep(rootP)
  }
}
