package graft.sources.arrow

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.types.StructType

/** One operation's view of a table's metadata, built from ONE log read
  * ([[TableLog.listed]]; Delta's snapshot by one replay). Schema
  * inference, a scan, a DELETE/TRUNCATE, a row-level operation and a
  * maintenance rewrite each take one snapshot and read every metadata
  * fact from it:
  *
  *  - `log`: the commit log (None for a flat directory) — visible files
  *    at any epoch, deletion vectors, and `latest`, the commit base of
  *    DML or a rewrite planned on this snapshot, so its scan and its
  *    conflict check see the same epoch by construction;
  *  - `sidecar`: the footer-stats index, the root sidecar folded with
  *    the `.fstats` fragments named by the log's own listing;
  *  - `declaration`: the declared schema with its drop, rename and
  *    default ledgers, from the schema generation in that listing;
  *  - the partition columns and their schema, and the table markers
  *    (logged table, deletion vectors, recorded partition spec).
  *
  * The sidecars are read on first use, each at most once. A snapshot
  * is never cached across operations: the next query takes its own,
  * so a DataFrame executed again after a commit sees the new epoch.
  * `path` is the addressed directory (a table root or one of its
  * partition subdirectories). */
final class TableSnapshot private (val path: String,
    read: Option[(TableLog, Set[String])]) {
  import ArrowDataSource._

  val log: Option[TableLog] = read.map(_._1)

  /** The names the log read listed in `_graft_metadata`. */
  private val listing: Option[Set[String]] = read.map(_._2)

  /** The table root: the log's root, or the addressed directory when
    * flat. Sidecar keys and ledgers resolve against it. */
  val root: Path =
    log.fold(Paths.get(path).toAbsolutePath.normalize)(_.root)

  /** Head epoch; -1 for a flat directory or an empty log. */
  def latest: Long = log.fold(-1L)(_.latest)

  private def lists(name: String): Boolean = listing.exists(_(name))

  /** A table log (DML-capable), not a streaming sink's. */
  def isTableLog: Boolean = lists(TableMarkerName)

  /** DELETE/UPDATE/MERGE take the merge-on-read path. */
  def dvEnabled: Boolean = lists(DvMarkerName)

  /** Can hold MIXED partition generations: a write spec was recorded
    * (`set_partitioning`), so the exactness checks must sweep paths. */
  def evolved: Boolean = lists(PartSpecFileName)

  /** The log timestamps resolve against; a flat directory's is empty,
    * so resolution refuses naming the missing log. */
  def stampLog: TableLog = log.getOrElse(TableLog.read(root))

  /** Files a read of `path` sees at `asOf` (None = head). */
  def files(asOf: Option[Long]): Seq[Path] =
    visibleIpcFiles(path, log, asOf)

  lazy val sidecar: Option[FooterIndexFile.Index] =
    FooterIndexFile.load(root, listing.getOrElse(Set.empty))

  /** Footer stats of the head's visible files, one parse per file for
    * every consumer of this snapshot. */
  private[graft] lazy val footers: FooterIndex =
    new FooterIndex(this, None, None)

  lazy val declaration: Declaration =
    ArrowDataSource.declaration(root, listing)

  /** Partition columns of the head's files (see
    * [[ArrowDataSource.discoverPartitionSchema]]). */
  lazy val partSchema: StructType =
    discoverPartitionSchema(path, footers.files)

  def partCols: Seq[String] = partSchema.fieldNames.toSeq
}

object TableSnapshot {
  def read(path: String): TableSnapshot =
    new TableSnapshot(path, ArrowDataSource.sinkRoot(path).map(TableLog.listed))

  /** The snapshot a DELETE, TRUNCATE or row-level operation commits
    * against. Refuses a streaming sink's log (its epochs belong to the
    * query checkpoint) and a partition subdirectory (see
    * [[ArrowDataSource.requireTableRootForDml]]); a flat directory is
    * first upgraded to a logged table whose epoch 0 lists its files. */
  def forDml(path: String, op: String): TableSnapshot = {
    val pre = read(path)
    if (pre.log.isDefined && !pre.isTableLog)
      throw new UnsupportedOperationException(
        s"arrow: $path carries a streaming commit log " +
          s"(${ArrowDataSource.MetadataDirName}); $op would desync the " +
          "manifests — rewrite the directory with a batch overwrite " +
          "instead")
    ArrowDataSource.requireTableRootForDml(path, op)
    if (pre.log.isDefined) pre
    else {
      ArrowDataSource.initTableLog(path)
      read(path)
    }
  }
}
