package graft.sources.arrow

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import ArrowDataSource.MetadataDirName

/** One read of a table's commit log (`_graft_metadata`): the latest
  * `<epoch>.compact` snapshot, every `<epoch>.manifest` past it, the
  * legacy `.ts`/`.neutral` markers and `_horizon`, parsed once. Every
  * log fact derives from this value in memory, so an operation reads
  * the log once and sees one version of it (Delta's snapshot by one
  * replay).
  *
  * Line grammar. A manifest line carries no epoch (its file name does);
  * the compact form writes the epoch as the first field after the tag,
  * or first for events. Fields are TAB-separated; `rel`/`dvrel` are
  * root-relative paths.
  *
  * {{{
  *   kind      manifest form                compact form
  *   add       rel                          epoch rel
  *   remove    -  rel                       epoch -  rel
  *   dv        dv count rel dvrel           epoch dv count rel dvrel
  *   #ts       #ts millis                   #ts epoch millis
  *   #neutral  #neutral                     #neutral epoch
  *   #txn      #txn appId version           #txn epoch appId version
  *   #copy     #copy key size               #copy epoch key size
  *   #op       #op kind                     #op epoch kind
  * }}}
  *
  *  - add/remove: `rel` enters/leaves the visible set.
  *  - dv: merge-on-read DELETE; `rel`'s vector becomes `dvrel`, masking
  *    `count` rows in total. An epoch folds removes, adds, then dvs.
  *  - #ts: commit wall-clock; epochs from before stamping fall back to
  *    the manifest's mtime.
  *  - #neutral: a compaction rewrote the same rows; the change feed
  *    skips the epoch.
  *  - #txn: writer `appId` committed batch `version` (Delta's `txn`);
  *    the newest version per appId is kept.
  *  - #copy: COPY INTO loaded source `key` of `size` bytes; the first
  *    epoch per key is kept.
  *  - #op: operation kind (`update` tags pre/postimages in the feed).
  *
  * Every header rides inside the manifest, which a commit claims
  * whole ([[AtomicFiles.claim]]): the epoch's facts appear with its
  * visibility flip. Logs written before that carry an epoch's stamp
  * and neutral mark as `<epoch>.ts` (holding millis) and
  * `<epoch>.neutral` marker files; they still read, and a marker wins
  * over a header. A compaction folds every fact at or below its epoch
  * into the snapshot, so the log reads the same after it. */
final case class TableLog(
    root: Path,
    latest: Long,
    horizon: Long,
    history: Vector[TableLog.LogEntry],
    stamps: Map[Long, Long],
    neutral: Set[Long],
    txns: Map[String, (Long, Long)],
    copies: Map[String, (Long, Long)],
    ops: Map[Long, String]) {
  import TableLog._

  /** The live `(addEpoch, rel)` set as of `asOf` (None = now): a
    * removal at `e2 <= asOf` cancels the add at `e1 < e2`, so a DML
    * commit's file swap is one manifest claim for readers. */
  def live(asOf: Option[Long]): Seq[(Long, String)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    history.foreach { en =>
      if (asOf.forall(en.epoch <= _) && en.dv.isEmpty) {
        if (en.remove) out.remove(en.rel)
        else out.put(en.rel, en.epoch)
      }
    }
    out.toSeq.map { case (rel, e) => (e, rel) }
  }

  /** The live deletion vector per file as of `asOf` (None = now):
    * `rel -> (dvRel, deletedCount)`. A dv event replaces the file's
    * vector (vectors are cumulative); removing or re-adding the file
    * clears it. */
  def dvs(asOf: Option[Long]): Map[String, (String, Long)] = {
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, Long)]
    history.foreach { en =>
      if (asOf.forall(en.epoch <= _)) en.dv match {
        case Some(v) => out.put(en.rel, v); ()
        case None => out.remove(en.rel); ()
      }
    }
    out.toMap
  }

  private lazy val byRel: Map[String, Vector[LogEntry]] =
    history.groupBy(_.rel)

  /** `rel`'s live vector at `epoch` — the [[dvs]] fold for one file,
    * over that file's events only. */
  def dvAt(rel: String, epoch: Long): Option[(String, Long)] =
    byRel.getOrElse(rel, Vector.empty).filter(_.epoch <= epoch)
      .lastOption.flatMap(_.dv)

  /** Files a read of `dir` (the root or a partition subdirectory)
    * sees at `asOf`, from the log alone — no directory walk. A listed
    * file the disk lacks stays listed, so the read fails on it instead
    * of dropping its rows. Borrowed CLONE files (`../`-relative) the
    * source has since vacuumed fail here. */
  def files(dir: String, asOf: Option[Long]): Seq[Path] = {
    asOf.foreach { e =>
      require(e >= horizon,
        s"epochAsOf: version $e of $dir predates the vacuum " +
          s"horizon $horizon — its files were reclaimed; earliest " +
          s"addressable version is $horizon")
    }
    val base = Paths.get(dir)
    val prefix = base.toAbsolutePath.normalize
    val resolved = live(asOf).map { case (_, rel) =>
      root.resolve(rel).normalize }
    // in-tree paths keep the caller's spelling of `dir`, as a walk of
    // it would have produced them
    val inside = resolved.filter(_.startsWith(prefix))
      .map(p => base.resolve(prefix.relativize(p)))
    val outside = resolved.filter(p => !p.startsWith(root)).distinct
    outside.foreach { p =>
      require(Files.exists(p),
        s"arrow: cloned file $p referenced by $dir no longer " +
          "exists — the clone source vacuumed it; re-clone from " +
          "the source's current state")
    }
    (inside ++ outside).distinct.sortBy(_.toString)
  }

  /** `TIMESTAMP AS OF`: the greatest epoch stamped at or before
    * `millis` (Delta's contract) — a filter, not a prefix take, so one
    * non-monotone stamp cannot hide later eligible epochs. */
  def epochForTimestamp(millis: Long): Long = {
    val byEpoch = stamps.toSeq.sortBy(_._1)
    require(byEpoch.nonEmpty,
      s"arrow timestampAsOf: $root carries no commit log to resolve " +
        "a timestamp against")
    val eligible = byEpoch.filter(_._2 <= millis)
    require(eligible.nonEmpty, {
      val (e0, t0) = byEpoch.head
      s"arrow timestampAsOf: $millis predates the table's first " +
        s"known commit (epoch $e0 at $t0 = " +
        s"${java.time.Instant.ofEpochMilli(t0)})"
    })
    eligible.last._1
  }

  /** Greatest version `appId` has committed to this log, if any — the
    * replay gate: skip batches with version <= this. */
  def lastTxnVersion(appId: String): Option[Long] =
    txns.get(appId).map(_._2)

  /** The `<upTo>.compact` snapshot of this log: every header fact at
    * or below `upTo`, then `events` (the caller's selection of the
    * history at or below `upTo`). */
  def snapshotLines(upTo: Long, events: Seq[LogEntry]): Seq[String] = {
    // (epoch, sort key, manifest-form line) per header fact
    def kind(facts: Iterable[(Long, String, String)]) =
      facts.filter(_._1 <= upTo).toSeq.sortBy(f => (f._1, f._2))
    val headers =
      kind(stamps.map { case (e, t) => (e, "", header(TsTag, t)) }) ++
        kind(neutral.map(e => (e, "", header(NeutralTag)))) ++
        kind(txns.map { case (a, (e, v)) => (e, a, header(TxnTag, a, v)) }) ++
        kind(copies.map { case (k, (e, sz)) =>
          (e, k, header(CopyTag, k, sz)) }) ++
        kind(ops.map { case (e, k) => (e, "", header(OpTag, k)) })
    headers.map(h => toCompact(h._1, h._3)) ++
      events.map(en => toCompact(en.epoch, eventLine(en)))
  }
}

object TableLog {
  /** One committed file event: `rel` entered the visible set at
    * `epoch` (add), left it (remove), or had its deletion vector
    * replaced (`dv` = the sidecar's root-relative path plus its
    * cumulative deleted-row count). */
  case class LogEntry(epoch: Long, remove: Boolean, rel: String,
      dv: Option[(String, Long)] = None)

  private val TsTag = "#ts"
  private val NeutralTag = "#neutral"
  private val TxnTag = "#txn"
  private val CopyTag = "#copy"
  private val OpTag = "#op"

  /** The epoch a log file name carries (`12.manifest` -> 12). */
  private[arrow] def epochOf(name: String): Long =
    name.takeWhile(_ != '.').toLong

  /** The log governing `dir` (see [[ArrowDataSource.sinkRoot]]); None
    * for a flat directory. */
  def forDir(dir: String): Option[TableLog] =
    ArrowDataSource.sinkRoot(dir).map(read)

  /** Read the log under `root` once (empty, latest -1, when there is
    * none). The whole read retries when another PROCESS's compaction
    * deletes a listed file before it is read: a fresh listing sees the
    * new snapshot holding its facts. Bounded: each retry needs another
    * whole compaction inside the read window. */
  def read(root: Path): TableLog = listed(root)._1

  /** [[read]], plus every name the read listed in `_graft_metadata` —
    * the one listing the sidecars a [[TableSnapshot]] resolves
    * (footer-stats fragments, the schema generation, the table
    * markers) are named by. */
  def listed(root: Path): (TableLog, Set[String]) = {
    var attempt = 0
    while (true) {
      try return readOnce(root)
      catch {
        case _: java.nio.file.NoSuchFileException if attempt < 8 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def lines(f: Path): Seq[String] =
    Files.readAllLines(f).asScala.toSeq

  private def readOnce(root: Path): (TableLog, Set[String]) = {
    val md = root.resolve(MetadataDirName)
    val names =
      if (Files.isDirectory(md)) ArrowDataSource.listDir(md)
        .map(_.getFileName.toString)
      else Vector.empty
    def epochsOf(ext: String): Seq[Long] =
      names.filter(_.endsWith(ext)).map(epochOf)
    val snapshot = epochsOf(".compact").maxOption
    val manifests = epochsOf(".manifest")
    // everything at or below the snapshot's epoch is folded into it;
    // leftovers of a crashed compaction are ignored
    def tail(ext: String): Seq[Long] =
      epochsOf(ext).filter(e => snapshot.forall(e > _)).sorted

    val history = Vector.newBuilder[LogEntry]
    val folded = scala.collection.mutable.Map.empty[Long, Long]
    val neutral = scala.collection.mutable.Set.empty[Long]
    val txns = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val copies = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val ops = scala.collection.mutable.Map.empty[Long, String]
    def add(e: Long, line: String): Unit =
      if (!line.startsWith("#")) history += parseEvent(e, line)
      else line.split('\t') match {
        case Array(TsTag, ms) => folded(e) = ms.toLong
        case Array(NeutralTag) => neutral += e
        case Array(TxnTag, app, v) =>
          val ver = v.toLong
          if (txns.get(app).forall { case (oe, ov) =>
              ov < ver || (ov == ver && oe < e) })
            txns(app) = (e, ver)
        case Array(CopyTag, k, sz) =>
          if (copies.get(k).forall(_._1 > e)) copies(k) = (e, sz.toLong)
        case Array(OpTag, kind) => ops(e) = kind
        case _ => () // unknown or malformed header: not a fact
      }

    snapshot.foreach { s =>
      lines(md.resolve(s"$s.compact")).foreach(fromCompact(_)
        .foreach { case (e, line) => add(e, line) })
    }
    val tailManifests = tail(".manifest")
    tailManifests.foreach(e =>
      lines(md.resolve(s"$e.manifest")).foreach(add(e, _)))
    tail(".neutral").foreach(neutral += _)
    // commit stamps: legacy `.ts` markers win, then `#ts` headers, then
    // manifest mtimes (epochs from before stamping)
    val markers = tail(".ts").flatMap(e =>
      lines(md.resolve(s"$e.ts")).headOption.map(t => e -> t.trim.toLong))
      .toMap
    val mtimes = tailManifests
      .filterNot(e => markers.contains(e) || folded.contains(e)).map(e =>
        e -> Files.getLastModifiedTime(md.resolve(s"$e.manifest")).toMillis)
    val horizon =
      if (!names.contains(ArrowDataSource.HorizonMarkerName)) 0L
      else lines(md.resolve(ArrowDataSource.HorizonMarkerName))
        .headOption.map(_.trim.toLong).getOrElse(0L)
    (TableLog(root,
      latest = (manifests ++ snapshot).maxOption.getOrElse(-1L),
      horizon = horizon,
      history = history.result(),
      stamps = mtimes.toMap ++ folded ++ markers,
      neutral = neutral.toSet,
      txns = txns.toMap,
      copies = copies.toMap,
      ops = ops.toMap), names.toSet)
  }

  // ---- the line codec: the only place log lines are parsed or
  // rendered (grammar in the class scaladoc) ----

  private def parseEvent(e: Long, line: String): LogEntry =
    if (line.startsWith("-\t")) LogEntry(e, remove = true, line.substring(2))
    else if (line.startsWith("dv\t"))
      line.split('\t') match {
        case Array(_, count, rel, dvRel) =>
          LogEntry(e, remove = false, rel, dv = Some((dvRel, count.toLong)))
        case _ => throw new IllegalArgumentException(
          s"arrow log: malformed dv event '$line'")
      }
    else LogEntry(e, remove = false, line)

  private def eventLine(en: LogEntry): String = en.dv match {
    case Some((dvRel, count)) => s"dv\t$count\t${en.rel}\t$dvRel"
    case None => if (en.remove) s"-\t${en.rel}" else en.rel
  }

  private def header(tag: String, fields: Any*): String =
    (tag +: fields.map(_.toString)).mkString("\t")

  /** Manifest form -> compact form: the epoch becomes the first field
    * after a header's tag, or leads an event. */
  private def toCompact(epoch: Long, line: String): String =
    if (!line.startsWith("#")) s"$epoch\t$line"
    else line.indexOf('\t') match {
      case -1 => s"$line\t$epoch"
      case tab => s"${line.substring(0, tab)}\t$epoch${line.substring(tab)}"
    }

  /** Compact form -> (epoch, manifest form); None for a header line
    * without an epoch field. */
  private def fromCompact(line: String): Option[(Long, String)] =
    if (!line.startsWith("#")) {
      val tab = line.indexOf('\t')
      Some((line.substring(0, tab).toLong, line.substring(tab + 1)))
    } else line.split("\t", 3) match {
      case Array(tag, e) => Some((e.toLong, tag))
      case Array(tag, e, rest) => Some((e.toLong, s"$tag\t$rest"))
      case _ => None
    }

  /** One epoch's manifest in fold order: headers (the commit `stamp`
    * first), then removes, adds and dv events, each sorted. Paths are
    * root-relative; `dvs` holds `(rel, dvRel, deletedCount)`. */
  def manifestLines(stamp: Long, removes: Seq[String], adds: Seq[String],
      dvs: Seq[(String, String, Long)] = Seq.empty,
      txn: Option[(String, Long)] = None,
      copies: Seq[(String, Long)] = Seq.empty,
      op: Option[String] = None,
      neutral: Boolean = false): Seq[String] = {
    op.foreach(k =>
      require(!k.exists("\t\n".contains(_)), s"bad op kind '$k'"))
    Seq(header(TsTag, stamp)) ++
      (if (neutral) Seq(header(NeutralTag)) else Seq.empty) ++
      txn.toSeq.map { case (a, v) => header(TxnTag, a, v) } ++
      copies.map { case (k, sz) => header(CopyTag, k, sz) } ++
      op.toSeq.map(header(OpTag, _)) ++
      removes.map(r => eventLine(LogEntry(0L, remove = true, r))).sorted ++
      adds.map(a => eventLine(LogEntry(0L, remove = false, a))).sorted ++
      dvs.map { case (rel, dvRel, n) =>
        eventLine(LogEntry(0L, remove = false, rel, Some((dvRel, n))))
      }.sorted
  }

  /** The `#ts` stamp for committing `epoch` to the log directory
    * `md`. Delta's in-commit-timestamp rule:
    * max(now, previous stamp + 1) while epoch-1's stamp is readable
    * from its own files (the legacy `.ts` marker first, then its
    * manifest's `#ts` line), so a clock stepping back cannot record a
    * non-monotone pair. */
  def nextStamp(md: Path, epoch: Long): Long = {
    def stamp(read: => Option[Long]) =
      scala.util.Try(read).toOption.flatten
    val prev = stamp(lines(md.resolve(s"${epoch - 1}.ts")).headOption
      .map(_.trim.toLong)).orElse(stamp(
        headerLines(md.resolve(s"${epoch - 1}.manifest"))
          .map(_.split('\t')).collectFirst {
            case Array(TsTag, ms) => ms.toLong
          }))
    math.max(System.currentTimeMillis(),
      prev.map(_ + 1L).getOrElse(Long.MinValue))
  }

  /** `f`'s leading `#` lines (a manifest's headers) — read no further. */
  private def headerLines(f: Path): Seq[String] = {
    val r = Files.newBufferedReader(f)
    try Iterator.continually(r.readLine())
      .takeWhile(l => l != null && l.startsWith("#")).toVector
    finally r.close()
  }

  /** Record the vacuum horizon: the lowest epoch `VERSION AS OF` may
    * still resolve exactly. */
  def writeHorizon(md: Path, horizon: Long): Unit =
    AtomicFiles.replace(md.resolve(ArrowDataSource.HorizonMarkerName),
      Seq(horizon.toString))
}
