package graft.sources.arrow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

/** Write-time footer-stats manifest for Arrow directories.
  *
  * Planning an Arrow directory wants three things from every file's IPC
  * footer: the schema (inference + consistency verification), the
  * per-batch block sizes (split planning), and the custom-metadata
  * stats (zone maps, row/null counts, bucket stamp, Blooms, sort
  * order, codec). Without an index that is O(files) driver-side footer
  * opens at FIRST planning of every session — the one 100×-scale soft
  * spot of a flat 100k-file directory (the table log bounds listing,
  * not footer reads).
  *
  * This sidecar (`_graft_footer_index` at the directory root) persists
  * exactly [[ArrowDataSource.FooterInfo]] per file, captured by the
  * WRITING task right after it seals the footer (page-cache hot,
  * executor-side, shipped to the driver in the commit message), so
  * planning becomes ONE metadata-file read. The parquet analogue is
  * `_metadata`/summary files; Delta/Iceberg fold the same stats into
  * their commit logs.
  *
  * The index is strictly an optimization with a sweep fallback:
  *  - files present on disk but absent from the index are footer-read
  *    as before (maintenance rewrites, foreign writers);
  *  - entries whose file vanished (vacuum, truncate by a non-updating
  *    writer) are simply never looked up — readers key by the VISIBLE
  *    file list;
  *  - a corrupt or truncated index decodes to None and planning sweeps.
  *  - files are immutable once visible (every mutation is copy-on-
  *    write), so a stale index entry cannot describe wrong stats —
  *    staleness only ever means MISSING entries, never wrong ones.
  *
  * Format (line-oriented, atomically replaced, [[AtomicFiles.replace]]):
  * {{{
  *   v1
  *   S<TAB>0<TAB><StructType json>          schema generations
  *   F<TAB><b64 relpath><TAB><genId><TAB><entry fields...>
  * }}}
  * Entry fields (TAB-separated): sizes (comma list), zone map (b64 of
  * the footer string, "" = none), row stats (b64, "" = none), bucket
  * (`b64col,n,id` or ""), sort column (b64 or ""), codec (plain or
  * ""), blooms (`b64name:b64bits;...` or ""). Base64 confines every
  * user-controlled string (column names, partition-dir relpaths) to a
  * tab-free alphabet.
  */
object FooterIndexFile {
  val FileName = "_graft_footer_index"

  final case class Index(schemas: IndexedSeq[StructType],
      entries: Map[String, (Int, ArrowDataSource.FooterInfo)]) {
    def schemaOf(rel: String): Option[StructType] =
      entries.get(rel).map { case (g, _) => schemas(g) }
    def infoOf(rel: String): Option[ArrowDataSource.FooterInfo] =
      entries.get(rel).map(_._2)
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** One [[ArrowDataSource.FooterInfo]] as the TAB-separated tail of an
    * `F` line (everything after the genId). */
  def encodeInfo(info: ArrowDataSource.FooterInfo): String = {
    val zm = info.zoneMap
      .map(z => b64(ZoneMaps.encode(z.cols.toSeq,
        z.batches.toSeq.map(_.toSeq)))).getOrElse("")
    val rs = info.rowStats
      .map(r => b64(ZoneMaps.RowStats.encode(r.cols.toSeq,
        r.batches.toSeq.map { case (n, nulls) => (n, nulls.toSeq) })))
      .getOrElse("")
    val bk = info.bucket
      .map { case (c, n, i) => s"${b64(c)},$n,$i" }.getOrElse("")
    val st = info.sort.map(b64).getOrElse("")
    val cd = info.codec.getOrElse("")
    val bl = info.blooms.toSeq.sortBy(_._1)
      .map { case (n, bits) => s"${b64(n)}:${ArrowBloom.encode(bits)}" }
      .mkString(";")
    Seq(info.sizes.mkString(","), zm, rs, bk, st, cd, bl).mkString("\t")
  }

  /** Inverse of [[encodeInfo]]; None on any malformed field. */
  def decodeInfo(fields: Seq[String]): Option[ArrowDataSource.FooterInfo] =
    try {
      val Seq(sz, zm, rs, bk, st, cd, bl) = fields: @unchecked
      val sizes =
        if (sz.isEmpty) Seq.empty[Long] else sz.split(",").toSeq.map(_.toLong)
      val zoneMap = if (zm.isEmpty) None else ZoneMaps.decode(unb64(zm))
      val rowStats =
        if (rs.isEmpty) None else ZoneMaps.RowStats.decode(unb64(rs))
      val bucket =
        if (bk.isEmpty) None
        else bk.split(",") match {
          case Array(c, n, i) => Some((unb64(c), n.toInt, i.toInt))
          case _ => return None
        }
      val sort = if (st.isEmpty) None else Some(unb64(st))
      val codec = if (cd.isEmpty) None else Some(cd)
      val blooms =
        if (bl.isEmpty) Map.empty[String, Array[Long]]
        else bl.split(";").toSeq.map { cell =>
          val i = cell.indexOf(':')
          if (i <= 0) return None
          val bits = ArrowBloom.decode(cell.substring(i + 1))
            .getOrElse(return None)
          unb64(cell.substring(0, i)) -> bits
        }.toMap
      Some(ArrowDataSource.FooterInfo(sizes, zoneMap, rowStats, bucket,
        blooms, sort, codec))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def sidecar(root: Path): Path = root.resolve(FileName)

  // sidecar path → ((size, mtime-millis) fingerprint, parsed index).
  // Each update renames a fresh file in (new fingerprint), so a stale hit
  // is impossible; keying by path alone keeps the cache bounded by
  // distinct directories, not by rewrite count.
  private val cache = scala.collection.concurrent.TrieMap
    .empty[String, ((Long, Long), Option[Index])]

  private def loadRoot(root: Path): Option[Index] = {
    val f = sidecar(root)
    try {
      if (!Files.isRegularFile(f)) return None
      val fp = (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      cache.get(f.toString) match {
        case Some((`fp`, idx)) => idx
        case _ =>
          val idx = parse(f)
          cache.put(f.toString, (fp, idx))
          idx
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fold `next` over `acc`: later entries win, schema generations are
    * remapped by signature into the combined list. */
  private def fold(acc: Index, next: Index): Index = {
    var schemas = acc.schemas
    val remap = next.schemas.map { s =>
      schemas.indexWhere(x => sig(x) == sig(s)) match {
        case -1 => schemas = schemas :+ s; schemas.length - 1
        case i => i
      }
    }
    Index(schemas, acc.entries ++ next.entries.view.mapValues {
      case (g, info) => (remap(g), info)
    }.toMap)
  }

  /** Per-epoch sidecar fragments of a LOGGED directory:
    * `_graft_metadata/<epoch>.fstats`. A logged table must not rewrite
    * the whole root sidecar on every commit — that is an O(entries)
    * write per epoch, O(n²) over the log's lifetime — so each epoch
    * appends its own small fragment and [[foldFragments]] (called by
    * log compaction) folds them into the root file, exactly the
    * manifest/compact-snapshot shape. Load cost stays
    * O(snapshot + tail). */
  private def fragment(root: Path, epoch: Long): Path =
    root.resolve(ArrowDataSource.MetadataDirName).resolve(s"$epoch.fstats")

  /** Epochs of the fragments named in `listing` (file names in
    * `_graft_metadata`), ascending. */
  private def fragments(listing: Iterable[String]): Seq[Long] =
    listing.toSeq.filter(_.endsWith(".fstats"))
      .flatMap(n => scala.util.Try(TableLog.epochOf(n)).toOption).sorted

  /** Parse the directory's sidecar: the root file (process-cached, one
    * read) folded with the per-epoch fragments `listing` names — the
    * listing of a [[TableLog.listed]] read (O(tail) small reads).
    * None = nothing indexed (planning falls back to the sweep). */
  def load(root: Path, listing: Set[String]): Option[Index] =
    try {
      val parts = loadRoot(root).toSeq ++
        fragments(listing).flatMap(e => parse(fragment(root, e)))
      parts.reduceLeftOption(fold)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[load]] with the listing of a fresh read of `root`'s log. */
  def load(root: Path): Option[Index] =
    load(root, TableLog.listed(root)._2)

  /** One epoch's entries as a fragment beside its manifest. Idempotent
    * by epoch (first commit wins — replayed epochs no-op, matching the
    * manifest protocol). Best-effort like every sidecar write. */
  def appendEpochFragment(rootDir: String, epoch: Long,
      schema: StructType, added: Seq[(String, String)]): Unit =
    try {
      if (added.isEmpty) return
      val root = Paths.get(rootDir).toAbsolutePath.normalize
      val md = root.resolve(ArrowDataSource.MetadataDirName)
      if (!Files.isDirectory(md)) return
      val out = md.resolve(s"$epoch.fstats")
      if (Files.exists(out)) return
      val entries = added.flatMap { case (abs, enc) =>
        val rel = root.relativize(
          Paths.get(abs).toAbsolutePath.normalize).toString
        decodeInfo(enc.split("\t", -1).toSeq).map(rel -> (0, _))
      }.toMap
      AtomicFiles.replace(out, render(Index(IndexedSeq(schema), entries))
        .getBytes(StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Log-compaction hook: fold the fragments `listing` names at or
    * below `epochId` into the root sidecar and delete them. Crash
    * between the two steps is safe — re-folding an already-folded
    * fragment is idempotent (same keys, same values). */
  def foldFragments(root: Path, listing: Iterable[String],
      epochId: Long): Unit =
    try {
      val covered = fragments(listing).filter(_ <= epochId)
      if (covered.isEmpty) return
      val parts = loadRoot(root).toSeq ++
        covered.flatMap(e => parse(fragment(root, e)))
      parts.reduceLeftOption(fold)
        .foreach(writeAtomic(root, _))
      covered.foreach(e => Files.deleteIfExists(fragment(root, e)))
    } catch { case scala.util.control.NonFatal(_) => () }

  private def parse(f: Path): Option[Index] =
    try {
      val lines = Files.readAllLines(f, StandardCharsets.UTF_8).asScala
      if (lines.isEmpty || lines.head != "v1") return None
      val schemas = scala.collection.mutable.ArrayBuffer.empty[StructType]
      val entries =
        scala.collection.mutable.Map.empty[String,
          (Int, ArrowDataSource.FooterInfo)]
      lines.tail.foreach { line =>
        val parts = line.split("\t", -1).toSeq
        parts.head match {
          case "S" =>
            val id = parts(1).toInt
            if (id != schemas.length) return None // ids are positional
            schemas += DataType.fromJson(parts(2)).asInstanceOf[StructType]
          case "F" =>
            val rel = unb64(parts(1))
            val gen = parts(2).toInt
            if (gen < 0 || gen >= schemas.length) return None
            val info = decodeInfo(parts.drop(3)).getOrElse(return None)
            entries(rel) = (gen, info)
          case _ => () // unknown record kinds from future versions: skip
        }
      }
      Some(Index(schemas.toIndexedSeq, entries.toMap))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def render(idx: Index): String = {
    val sb = new StringBuilder("v1\n")
    idx.schemas.zipWithIndex.foreach { case (s, i) =>
      sb.append(s"S\t$i\t${s.json}\n")
    }
    idx.entries.toSeq.sortBy(_._1).foreach { case (rel, (gen, info)) =>
      sb.append(s"F\t${b64(rel)}\t$gen\t${encodeInfo(info)}\n")
    }
    sb.result()
  }

  private def writeAtomic(root: Path, idx: Index): Unit = {
    AtomicFiles.replace(sidecar(root),
      render(idx).getBytes(StandardCharsets.UTF_8))
  }

  private def sig(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  /** Driver-side commit hook: fold this write's `(absolute file path,
    * encoded FooterInfo)` pairs into the sidecar under their root-
    * relative keys. `schema` is the canonical FOOTER schema of the new
    * files (what [[ArrowDataSource.readFooterSchema]] would surface);
    * it joins an existing generation when signatures match, else opens
    * a new one (append-with-evolution). `replace` drops prior state
    * (the truncate path — the files the old entries described are
    * gone). Single-writer per commit by Spark's own protocol; a lost
    * sidecar update only costs the sweep fallback, never correctness. */
  def update(rootDir: String, schema: StructType,
      added: Seq[(String, String)], replace: Boolean): Unit =
    try {
      if (added.isEmpty && !replace) return
      val root = Paths.get(rootDir).toAbsolutePath.normalize
      val prior =
        if (replace) None
        else load(root)
      val (schemas, genId) = prior match {
        case Some(ix) => ix.schemas.indexWhere(s => sig(s) == sig(schema)) match {
          case -1 => (ix.schemas :+ schema, ix.schemas.length)
          case i => (ix.schemas, i)
        }
        case None => (IndexedSeq(schema), 0)
      }
      val fresh = added.flatMap { case (abs, enc) =>
        val rel = root.relativize(
          Paths.get(abs).toAbsolutePath.normalize).toString
        decodeInfo(enc.split("\t", -1).toSeq).map(rel -> (genId, _))
      }.toMap
      writeAtomic(root,
        Index(schemas, prior.map(_.entries).getOrElse(Map.empty) ++ fresh))
    } catch {
      // best-effort: never fail a commit over its stats sidecar
      case scala.util.control.NonFatal(_) => ()
    }

  /** Zero-copy CLONE hook: materialize the source's stats for exactly
    * `files` (the clone's referenced set) under `dstRoot`, keys
    * rewritten src-relative → dst-relative (the `../` form the clone's
    * manifest uses). Metadata-only — a cloned table plans with the
    * source's zone maps/blooms/row stats without opening one footer.
    * Best-effort like every sidecar write: a missing source entry just
    * means the clone sweeps that file's footer on first planning. */
  def cloneTo(srcRoot: Path, dstRoot: Path,
      files: Seq[Path]): Unit =
    try {
      val src = srcRoot.toAbsolutePath.normalize
      val dst = dstRoot.toAbsolutePath.normalize
      load(src).foreach { ix =>
        val wanted = files.flatMap { f =>
          val abs = f.toAbsolutePath.normalize
          scala.util.Try(src.relativize(abs).toString).toOption
            .flatMap(srcRel => ix.entries.get(srcRel)
              .map(e => dst.relativize(abs).toString -> e))
        }.toMap
        if (wanted.nonEmpty)
          writeAtomic(dst, Index(ix.schemas, wanted))
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Vacuum hook: forget entries for physically reclaimed files so the
    * sidecar stays bounded by the LIVE file set. Best-effort. */
  def prune(root: Path, removed: Seq[Path]): Unit =
    try {
      val norm = root.toAbsolutePath.normalize
      load(norm).foreach { ix =>
        val gone = removed.flatMap(p => scala.util.Try(
          norm.relativize(p.toAbsolutePath.normalize).toString).toOption)
          .toSet
        if (gone.exists(ix.entries.contains))
          writeAtomic(norm, ix.copy(entries = ix.entries.view
            .filterKeys(!gone(_)).toMap))
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Truncate path with nothing written (or an unusable schema):
    * drop the sidecar so no entry outlives the files it described. */
  def drop(rootDir: String): Unit = {
    Files.deleteIfExists(
      Paths.get(rootDir).toAbsolutePath.normalize.resolve(FileName))
    ()
  }
}
