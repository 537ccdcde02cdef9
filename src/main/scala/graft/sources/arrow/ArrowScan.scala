package graft.sources.arrow

import java.nio.channels.FileChannel
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnarBatch, ColumnVector}

/** Scan pipeline for the Arrow IPC source.
  *
  * Column pruning (`SupportsPushDownRequiredColumns`) is the essence of
  * a columnar storage engine: only requested fields are materialized —
  * Arrow IPC lays each column in separate buffers, so unrequested
  * columns are never even wrapped (the loaded record batch is shared,
  * but Spark only sees pruned vectors, and the filter/projection work
  * never touches them).
  *
  * Filter pushdown (`SupportsPushDownFilters`) accepts the predicates
  * [[FilterEval]] understands for planning-time pruning only —
  * partition filters prune whole files, data filters prune record
  * batches via footer zone maps — and reports data filters back as
  * residual. The scan is therefore ALWAYS columnar
  * (PartitionReader[ColumnarBatch] of zero-copy ArrowColumnVectors)
  * and row-level refinement happens in Catalyst's codegen'd FilterExec
  * above it, exactly as with the vectorized parquet reader.
  */
/** One-per-snapshot footer index: the files of `snap` at `asOf`, each
  * file's footer parsed at most once however many planning passes
  * consult it (pushAggregation, estimateStatistics,
  * planInputPartitions) — at 100k files the difference between one
  * metadata pass and three. */
private[graft] class FooterIndex(val snap: TableSnapshot,
    asOf: Option[Long], explicit: Option[Seq[java.nio.file.Path]]) {
  def log: Option[TableLog] = snap.log

  /** Explicit file list (the change-feed reader naming exactly the
    * churned files of an epoch window — including files a later epoch
    * REMOVED, which visibility resolution would hide) or the normal
    * manifest/as-of-resolved visible set. */
  lazy val files: Seq[java.nio.file.Path] =
    explicit.getOrElse(snap.files(asOf))
  // The write-time footer-stats sidecar: ONE metadata read replaces
  // the per-file footer sweep for every file it covers. Files it does
  // not cover (foreign writers, maintenance rewrites) fall back to a
  // footer open — the index is an optimization, never a correctness
  // surface (files are immutable once visible, so a hit is exact).
  // Keys are TABLE-ROOT-relative, so a read addressed at a partition
  // subdirectory still hits.
  private def indexed(p: java.nio.file.Path)
      : Option[ArrowDataSource.FooterInfo] =
    snap.sidecar.flatMap { ix =>
      scala.util.Try(
        snap.root.relativize(p.toAbsolutePath.normalize).toString)
        .toOption.flatMap(ix.infoOf)
    }
  private val cache = scala.collection.concurrent.TrieMap
    .empty[String, ArrowDataSource.FooterInfo]
  def info(p: java.nio.file.Path): ArrowDataSource.FooterInfo =
    cache.getOrElseUpdate(p.toString,
      indexed(p).getOrElse(ArrowDataSource.footerInfo(p)))

  /** Merge-on-read deletion vectors live at this read's version:
    * absolute file path → (absolute DV sidecar path, deleted count).
    * Empty for flat dirs and DV-free tables — every DV-aware gate
    * (agg/limit pushdown, stats, split planning) keys off this. */
  lazy val dvs: Map[String, (String, Long)] =
    log.map { l =>
      l.dvs(asOf).map { case (rel, (dvRel, n)) =>
        l.root.resolve(rel).normalize.toString ->
          (l.root.resolve(dvRel).normalize.toString, n)
      }
    }.getOrElse(Map.empty)

  /** Rows live in `fs` net of their deletion vectors, from footer row
    * stats alone — no data read. None when any file's stats do not
    * cover its batches or its footer cannot be read. */
  def liveRows(fs: Seq[java.nio.file.Path] = files): Option[Long] = {
    val each = fs.map(f => scala.util.Try(info(f)).toOption
      .flatMap(_.rows).map(_ -
        dvs.get(f.toAbsolutePath.normalize.toString).fold(0L)(_._2)))
    if (each.forall(_.isDefined)) Some(each.flatten.sum) else None
  }
}

class ArrowScanBuilder(snap: TableSnapshot, schema: StructType,
    maxSplitBytes: Long = 128L * 1024 * 1024,
    epochAsOf: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    ignoreChanges: Boolean = false,
    explicitFiles: Option[Seq[java.nio.file.Path]] = None,
    changeFeed: Boolean = false,
    startingEpoch: Option[Long] = None,
    endingEpoch: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private val path = snap.path
  private val footerIdx =
    if (epochAsOf.isEmpty && explicitFiles.isEmpty) snap.footers
    else new FooterIndex(snap, epochAsOf, explicitFiles)

  // Hive-style partition columns discovered from the directory layout
  // (empty for flat dirs); they live in paths, not files. Column NAMES
  // come from the layout, but TYPES defer to the table schema we were
  // handed — a user-specified schema (or one inferred from an earlier
  // listing) is what the Catalyst plan expects, and re-inferring
  // Long-vs-String from the current listing could disagree with it.
  private val partSchema: StructType = {
    val discovered =
      ArrowDataSource.discoverPartitionSchema(path, footerIdx.files)
    StructType(discovered.fields.map(f =>
      schema.find(_.name == f.name)
        .map(g => f.copy(dataType = g.dataType)).getOrElse(f)))
  }
  private val partColSet = partSchema.fieldNames.toSet
  // change-feed metadata columns are split-time constants, not file
  // data — keep them out of dataSchema so no filter over them is ever
  // claimed (they stay residual and Catalyst evaluates them above)
  private val cdfColSet: Set[String] =
    if (changeFeed) Set(ArrowChanges.ChangeTypeCol, ArrowChanges.CommitEpochCol)
    else Set.empty
  private val dataSchema: StructType =
    StructType(schema.fields.filterNot(f =>
      partColSet(f.name) || cdfColSet(f.name)))

  private var readSchema: StructType = schema
  private var pushed: Array[Filter] = Array.empty // data-column filters
  private var pushedPart: Array[Filter] = Array.empty // partition filters
  // Set when pushAggregation accepted: the agg output schema plus the
  // per-file partial rows, already computed from footers on the driver.
  private var aggResult: Option[(StructType, Seq[Array[Any]])] = None
  private var limit: Option[Int] = None

  /** Limit pushdown, PARTIAL (Spark keeps its own Limit above): the
    * scan must return at least `l` rows when the directory holds that
    * many, so planning truncates the batch list only once the footers'
    * row counts PROVE the target is covered. With a pushed data filter
    * the proof breaks (the residual FilterExec above may drop rows), so
    * the push is refused — Catalyst only offers the limit when filters
    * were fully consumed anyway. The win is scheduling: `LIMIT 10` on a
    * 100k-file directory plans one split instead of 100k tasks, the
    * same trick parquet plays via its file-index listing limit. */
  override def pushLimit(l: Int): Boolean =
    // deletion vectors invalidate footer row counts (masked rows do
    // not reach the caller), so the coverage proof breaks
    if (pushed.nonEmpty || changeFeed || footerIdx.dvs.nonEmpty) false
    else { limit = Some(l); true }

  override def isPartiallyPushed(): Boolean = true

  private var topN: Option[(String, Boolean, Int)] = None

  /** TOP-N pushdown, PARTIAL (Spark keeps its Sort+Limit above; the
    * scan only prunes batches that PROVABLY hold no top-N row). Only a
    * single-column ordering can ride the verified sorted layout; the
    * actual soundness decision happens at split planning, where the
    * sorted stamp and the per-batch stats live — accepting here merely
    * records the request, and an unsorted layout simply prunes
    * nothing. The 100 TB payoff: `ORDER BY k LIMIT 10` over a sorted
    * petabyte reads a handful of record batches, not the table. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    if (pushed.nonEmpty || changeFeed || footerIdx.dvs.nonEmpty ||
      orders.length != 1) return false
    orders.head.expression match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        topN = Some((nr.fieldNames.head,
          orders.head.direction ==
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING, l))
        true
      case _ => false
    }
  }

  override def pruneColumns(required: StructType): Unit = {
    // Preserve file field order for stable reader ordinals. `_file` is
    // not a table column — it's the per-split metadata constant
    // ([[ArrowDataSource.FileMetaCol]]); keep it when requested so the
    // row-level CoW matching-files subquery can project it.
    val requested = required.fieldNames.toSet
    val cols = schema.fields.filter(f => requested(f.name)) ++
      (if (requested(ArrowDataSource.FileMetaCol))
        Seq(StructField(ArrowDataSource.FileMetaCol,
          org.apache.spark.sql.types.StringType, nullable = false))
      else Seq.empty) ++
      (if (requested(ArrowDataSource.PosMetaCol))
        Seq(StructField(ArrowDataSource.PosMetaCol,
          org.apache.spark.sql.types.LongType, nullable = false))
      else Seq.empty)
    readSchema = StructType(cols)
  }

  /** Filters over partition columns only prune whole FILES at planning
    * time (the value is constant per directory — exact, not
    * conservative) and are fully consumed. Filters over data columns
    * are accepted for ZONE-MAP BATCH SKIPPING only and handed back as
    * residual: the scan stays fully columnar (zero-copy ColumnarBatch)
    * and Catalyst plans its codegen'd FilterExec above it — parquet's
    * model (stats skip coarse units, vectorized re-evaluation refines),
    * instead of dropping to interpreted row-at-a-time reads whenever a
    * filter is pushed. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (partF, rest) = filters.partition(f =>
      f.references.nonEmpty && f.references.forall(partColSet) &&
        FilterEval.supported(partSchema, f))
    val (dataF, _) = rest.partition(f =>
      f.references.forall(r => !partColSet(r)) &&
        FilterEval.supported(dataSchema, f))
    pushedPart = partF
    pushed = dataF
    // Claiming a partition filter as EXACT (not returned) lets
    // Catalyst drop the residual — sound only while every visible
    // file exposes every referenced column in its PATH. Under
    // partition evolution, pre-evolution generations carry the
    // column in BYTES: pruning still applies (conservative), but the
    // filter must stay residual so Catalyst re-evaluates the byte
    // values the reader serves for those files.
    // cheap short-circuit: only EVOLVED tables (a recorded write
    // spec exists) can hold mixed generations — everything else keeps
    // the pre-evolution exactness without an O(files) path sweep
    val partRefs = partF.flatMap(_.references).toSet
    val exactPart = partRefs.isEmpty ||
      !snap.evolved ||
      footerIdx.files.forall(f =>
        partRefs.subsetOf(
          ArrowDataSource.partitionValueMap(path, f).keySet))
    if (exactPart) rest // Data filters are residual: Catalyst re-evaluates.
    else partF ++ rest
  }

  override def pushedFilters(): Array[Filter] = pushedPart ++ pushed

  /** Files surviving the pushed partition filters. */
  private def survivingFiles: Seq[java.nio.file.Path] =
    ArrowDataSource.pruneByPartitionFilters(footerIdx.files, path,
      partSchema, pushedPart.toSeq)

  /** MIN/MAX/COUNT answered from footer statistics — the same
    * planning-time trick the parquet path plays with row-group stats
    * (AggPushdownSpec), applied to the namesake Arrow source: the
    * writer already persists per-batch min/max ([[ZoneMaps]]) and
    * row/null counts ([[ZoneMaps.RowStats]]) in the IPC footer, so a
    * global MIN/MAX/COUNT never touches a data batch. At 100 TB this
    * is the difference between a metadata pass over footers and a full
    * scan.
    *
    * Supported: no grouping, no pushed filters (stats describe the
    * unfiltered file), MIN/MAX on integral/temporal columns (floats
    * excluded — a NaN-poisoned batch has no stats and NaN ordering
    * cannot be reconstructed from min/max), COUNT(*) and
    * COUNT(col) non-distinct on any tracked column. Partial pushdown:
    * each file contributes one row of partials; Spark's final
    * aggregate merges min-of-mins / sum-of-counts, so multi-file
    * scans parallelize the (tiny) merge and empty inputs keep exact
    * COUNT=0 semantics. Any file missing the needed stats rejects the
    * pushdown entirely and the query falls back to the ordinary
    * columnar scan — stats are an optimization, never a correctness
    * surface.
    *
    * GROUP BY pushes down too when every grouping column is a
    * PARTITION column: a file belongs to exactly one group (its value
    * directory), so its footer partials are already per-group partials
    * — the partial row carries the group key first (Spark's pushed-agg
    * schema contract) and the final aggregate above merges per key. A
    * `GROUP BY partition_col` rollup over a 100 TB layout is then a
    * footer metadata pass, never a data scan. Grouping on any DATA
    * column rejects the push (batches mix values; stats cannot split
    * them). */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // data filters invalidate footer stats; PARTITION filters do not —
    // they select whole files, and stats are per-file. A change-feed
    // read must never answer from footer stats either: delete-tagged
    // rows would count positively.
    // deletion vectors: footer stats describe the UNMASKED file (a
    // masked row could be the min, counts overcount) — refuse and
    // fall back to the ordinary scan, which applies the vectors
    if (pushed.nonEmpty || changeFeed || footerIdx.dvs.nonEmpty)
      return false
    val groupCols: Seq[String] = aggregation.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 &&
          partColSet(r.fieldNames.head) => r.fieldNames.head
      case _ => return false
    }
    // partition evolution: a file whose PATH lacks a group column
    // carries its values in BYTES — footer partials cannot attribute
    // that file to one group (serving null would silently mis-group
    // the whole pre-evolution generation), so refuse the push and let
    // the ordinary scan read the real values
    if (groupCols.nonEmpty && snap.evolved &&
        footerIdx.files.exists(f =>
          !groupCols.forall(
            ArrowDataSource.partitionValueMap(path, f).contains)))
      return false

    // Translate each agg func to (output field, per-file evaluator).
    sealed trait Op
    final case class MinOp(col: String, dt: DataType) extends Op
    final case class MaxOp(col: String, dt: DataType) extends Op
    final case class CountCol(col: String) extends Op
    case object CountAll extends Op

    def singleCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    def minMaxable(name: String): Option[DataType] =
      schema.find(_.name == name).map(_.dataType)
        .filter { dt =>
          val k = ZoneMaps.kindOf(dt)
          k == ZoneMaps.KindLong || k == ZoneMaps.KindString
        }

    val ops = aggregation.aggregateExpressions.map {
      case m: Min => singleCol(m.column)
        .flatMap(c => minMaxable(c).map(MinOp(c, _)))
      case m: Max => singleCol(m.column)
        .flatMap(c => minMaxable(c).map(MaxOp(c, _)))
      case c: Count if !c.isDistinct => singleCol(c.column).map(CountCol(_))
      case _: CountStar => Some(CountAll)
      case _ => None
    }
    if (ops.exists(_.isEmpty)) return false
    val resolved = ops.map(_.get)

    // Evaluate every file from its footer; any gap rejects the push.
    // KindLong stats are exact long strings (internal micros/days for
    // temporals), so Long arithmetic is lossless end-to-end.
    def internalValue(v: Long, dt: DataType): Any = dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case _ => v
    }
    // A tracked integral column's batch stat is None iff the batch is
    // all-null there (no NaN poisoning for KindLong), so skipping
    // statless batches is exactly MIN/MAX's null-ignoring semantics.
    def minMaxFromZm(info: ArrowDataSource.FooterInfo, c: String,
        dt: DataType, nBatches: Int, pickMin: Boolean)
        : Either[Unit, Any] =
      info.zoneMap match {
        case Some(zm) if zm.batches.length == nBatches &&
            zm.cols.contains(c) =>
          val vals = (0 until nBatches).flatMap(b => zm.stat(b, c))
            .map(r => (if (pickMin) r._1 else r._2).toLong)
          if (vals.isEmpty) Right(null)
          else Right(internalValue(
            if (pickMin) vals.min else vals.max, dt))
        case _ => Left(())
      }
    // STRING extrema: a statless batch is all-null for KindLong, but
    // for strings it may instead hold over-64-byte values the writer
    // declined to record — those could BE the true extremum, so the
    // push refuses unless every statless batch is provably all-null
    // (row/null counts agree).
    def minMaxStrFromZm(info: ArrowDataSource.FooterInfo, c: String,
        nBatches: Int, pickMin: Boolean): Either[Unit, Any] =
      (info.zoneMap, info.rowStats) match {
        case (Some(zm), Some(rs)) if zm.batches.length == nBatches &&
            zm.cols.contains(c) && rs.batches.length == nBatches &&
            rs.cols.contains(c) =>
          val stats = (0 until nBatches).map(b => (zm.stat(b, c), b))
          val hidden = stats.exists {
            case (None, b) =>
              rs.nullCount(b, c).forall(n => rs.rowCount(b) - n > 0)
            case _ => false
          }
          if (hidden) Left(())
          else {
            val bytes = stats.flatMap(_._1).map(r =>
              ZoneMaps.unescapeStat(if (pickMin) r._1 else r._2)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            if (bytes.isEmpty) Right(null)
            else Right(org.apache.spark.unsafe.types.UTF8String
              .fromBytes(bytes.reduce((a, b) =>
                if ((ZoneMaps.byteCmp(a, b) < 0) == pickMin) a else b)))
          }
        case _ => Left(())
      }

    val nGroup = groupCols.length
    val groupFields = groupCols.map { c =>
      val f = partSchema.fields(partSchema.fieldIndex(c))
      StructField(f.name, f.dataType, nullable = true)
    }
    val files = survivingFiles
    val rows = files.map { f =>
      val info = footerIdx.info(f)
      val nBatches = info.sizes.length
      val row = new Array[Any](nGroup + resolved.length)
      if (nGroup > 0) {
        val vals = ArrowDataSource.partitionValuesOf(path, f,
          partSchema.fieldNames.toSeq)
        groupCols.zipWithIndex.foreach { case (c, gi) =>
          val pi = partSchema.fieldIndex(c)
          row(gi) = vals(pi) match {
            case None => null
            case Some(v) => ArrowDataSource.partValueToInternal(
              partSchema.fields(pi).dataType, v)
          }
        }
      }
      var ok = true
      resolved.zipWithIndex.foreach { case (op, i0) =>
        val i = nGroup + i0
        if (ok) op match {
          case CountAll => info.rowStats match {
            case Some(rs) if rs.batches.length == nBatches =>
              row(i) = (0 until nBatches).map(rs.rowCount).sum
            case _ => ok = false
          }
          case CountCol(c) => info.rowStats match {
            case Some(rs) if rs.batches.length == nBatches &&
                rs.cols.contains(c) =>
              // A truncated/corrupt null array rejects the pushdown
              // (falls back to a full scan) instead of crashing
              // planning — stats are never a correctness surface.
              val nulls = (0 until nBatches).map(rs.nullCount(_, c))
              if (nulls.forall(_.isDefined))
                row(i) = (0 until nBatches)
                  .map(b => rs.rowCount(b) - nulls(b).get).sum
              else ok = false
            case _ => ok = false
          }
          case MinOp(c, dt) =>
            (if (dt == org.apache.spark.sql.types.StringType)
              minMaxStrFromZm(info, c, nBatches, pickMin = true)
            else minMaxFromZm(info, c, dt, nBatches, pickMin = true)) match {
              case Right(v) => row(i) = v
              case Left(()) => ok = false
            }
          case MaxOp(c, dt) =>
            (if (dt == org.apache.spark.sql.types.StringType)
              minMaxStrFromZm(info, c, nBatches, pickMin = false)
            else minMaxFromZm(info, c, dt, nBatches, pickMin = false)) match {
              case Right(v) => row(i) = v
              case Left(()) => ok = false
            }
        }
      }
      if (ok) Some(row) else None
    }

    if (rows.exists(_.isEmpty)) return false

    val outFields = groupFields ++ resolved.map {
      case MinOp(c, dt) => StructField(s"min($c)", dt)
      case MaxOp(c, dt) => StructField(s"max($c)", dt)
      case CountCol(c) => StructField(s"count($c)", LongType)
      case CountAll => StructField("count(*)", LongType)
    }
    // Zero surviving files must still emit ONE zero-count partial row
    // for the GLOBAL aggregate: Spark's partial-pushdown rewrite merges
    // COUNT partials with Sum, and a global Sum over an EMPTY scan is
    // NULL where COUNT over no rows must be 0. One explicit
    // (0, null-min) row keeps the merge exact. A GROUPED aggregate over
    // zero files correctly yields zero groups — no synthetic row.
    val partials =
      if (rows.nonEmpty) rows.map(_.get)
      else if (nGroup > 0) Seq.empty
      else Seq(resolved.map {
        case CountAll | CountCol(_) => 0L: Any
        case _ => null: Any
      }.toArray)
    aggResult = Some((StructType(outFields), partials))
    true
  }

  override def build(): Scan = {
    aggResult match {
      case Some((aggSchema, rows)) =>
        return new ArrowAggScan(path, aggSchema, rows)
      case None => ()
    }
    // The reader must see every column a pushed filter references even
    // when the projection pruned it away (e.g. count(*) over a filter).
    val filterRefs = pushed.flatMap(_.references).toSet
    val have = readSchema.fieldNames.toSet
    val withRefs = StructType(readSchema.fields ++
      schema.fields.filter(f => filterRefs(f.name) && !have(f.name)))
    new ArrowScan(path, withRefs, pushed, pushedPart, partSchema,
      maxSplitBytes, footerIdx, limit, maxFilesPerTrigger,
      ignoreChanges, changeFeed, startingEpoch, endingEpoch, topN,
      maxBytesPerTrigger)
  }
}

class ArrowScan(path: String, schema: StructType, filters: Array[Filter],
    partFilters: Array[Filter] = Array.empty,
    partSchema: StructType = StructType(Seq.empty),
    maxSplitBytes: Long = 128L * 1024 * 1024,
    footerIdx: FooterIndex,
    limit: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    ignoreChanges: Boolean = false,
    changeFeed: Boolean = false,
    startingEpoch: Option[Long] = None,
    endingEpoch: Option[Long] = None,
    topN: Option[(String, Boolean, Int)] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering {
  private def decl = footerIdx.snap.declaration

  /** The directory's bucketed layout `(col, numBuckets)` — present only
    * when EVERY file carries the same bucket stamp (a mixed directory
    * reports no partitioning; correctness never rests on the layout). */
  private lazy val bucketLayout: Option[(String, Int)] = {
    val files = footerIdx.files
    if (files.isEmpty) None
    else {
      val stamps = files.map(f => footerIdx.info(f).bucket)
      if (stamps.exists(_.isEmpty)) None
      else stamps.map(s => (s.get._1, s.get._2)).distinct match {
        case Seq(one) => Some(one)
        case _ => None
      }
    }
  }

  /** The directory's verified sort column — reported as the scan's V2
    * output ordering only when it is PER-PARTITION sound:
    * every file carries the same [[GraftSort]] stamp and the column
    * survives pruning; each split is a contiguous (or zone-map-thinned,
    * still ascending) range of one sorted file. Bucketed layouts
    * additionally need one file per bucket, because Spark merges
    * same-key splits into one partition and a concatenation of two
    * sorted files is not sorted — in that case [[planInputPartitions]]
    * also keeps one split per file. The payoff: a bucketed+sorted
    * equi-join plans sort-merge with NEITHER exchanges NOR sorts — the
    * write pays the ordering once, every later join rides it free. */
  private lazy val sortedCol: Option[String] = {
    val files = footerIdx.files
    if (files.isEmpty) None
    else {
      val stamps = files.map(f => footerIdx.info(f).sort)
      if (stamps.exists(_.isEmpty)) None
      else stamps.flatten.distinct.map { phys =>
        // a RENAMED sort column keeps its ordering claim: translate
        // the footer's physical stamp to the current logical name so
        // sorted-merge reads survive schema evolution
        if (schema.fieldNames.contains(phys)) phys
        else decl.aliases
          .collectFirst { case (logical, physicals)
            if physicals.contains(phys) &&
              schema.fieldNames.contains(logical) => logical }
          .getOrElse(phys)
      }.distinct match {
        case Seq(c) if schema.fieldNames.contains(c) =>
          bucketLayout match {
            case Some(_) =>
              val ids = files.flatMap(f => footerIdx.info(f).bucket.map(_._3))
              if (ids.distinct.length == ids.length) Some(c) else None
            case None => Some(c)
          }
        case _ => None
      }
    }
  }

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (changeFeed)
      Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
    else sortedCol.map { c =>
      Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    }.getOrElse(Array.empty)

  /** Bucketed directories report `bucket(n, col)` KeyGroupedPartitioning
    * — Catalyst resolves the transform through [[GraftCatalog]]'s
    * function (catalog-based reads only) and storage-partitioned join
    * then drops BOTH exchanges from a same-`n` equi-join: the parquet
    * `bucketBy` result, delivered by the Arrow source's own layout
    * metadata. Non-bucketed directories report unknown and plan as
    * before. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    // change-feed splits carry removed-generation files with no bucket
    // attribution — never report a key-grouped layout for them
    if (changeFeed)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    else bucketLayout match {
      case Some((c, n)) =>
        val ids = survivingFiles
          .flatMap(f => footerIdx.info(f).bucket.map(_._3)).distinct
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, c)), ids.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }
  override def readSchema(): StructType = schema
  override def toBatch: Batch = {
    if (changeFeed) require(startingEpoch.isDefined,
      "arrow readChangeFeed as a BATCH read needs an explicit " +
        "startingEpoch (Delta's startingVersion contract — without " +
        "one the window would be empty by definition); streaming " +
        "(spark.readStream) defaults to changes-from-now-on. For a " +
        "row-exact netted diff use ArrowChanges.between(spark, path, " +
        "from, to)")
    this
  }
  /** The predicates this scan evaluates at/below file granularity —
    * structural surface for plan audits (the stringified plan truncates
    * [[description]], so string-matching under-counts DSv2 pushdown). */
  def pushedPredicates: Seq[Filter] = (filters ++ partFilters).toSeq

  override def description(): String =
    s"graft-arrow $path pruned=[${schema.fieldNames.mkString(",")}] " +
      s"pushed=[${filters.mkString(",")}] " +
      s"partFilters=[${partFilters.mkString(",")}]" +
      bucketLayout.fold("") { case (c, n) => s" bucketed=[$c,$n]" } +
      limit.fold("")(l => s" limit=[$l]") +
      topN.fold("")(t =>
        s" topN=[${t._1} ${if (t._2) "asc" else "desc"} ${t._3}]") +
      sortedCol.fold("")(c => s" sorted=[$c]")

  /** Runtime (DPP-style) filters: Spark hands the build side's actual
    * partition-key values after planning; only partition-column
    * predicates are accepted, and they prune whole files exactly, the
    * same way static partition filters do. This is dynamic partition
    * pruning for the custom source — without it a star join reads
    * every partition of a 100 TB fact table even when the dim filter
    * selects three of them. */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    partSchema.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(dynamic: Array[Filter]): Unit =
    runtimeFilters = dynamic.filter(f =>
      f.references.forall(partSchema.fieldNames.contains(_)) &&
        FilterEval.supported(partSchema, f))

  /** Planning statistics from the footers already read for split
    * planning: without them a DSv2 relation reports the default
    * (effectively infinite) size and an Arrow-backed dimension never
    * broadcasts. Row count comes from the writer's row stats; bytes
    * are on-disk block sizes scaled by the fraction of data columns
    * actually read (column pruning is the point of a columnar
    * source). */
  override def estimateStatistics(): Statistics = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val files = survivingFiles
    var bytes = 0L
    // deletion vectors: the manifest carries the masked count, so the
    // row estimate stays exact without opening a sidecar
    val rows = footerIdx.liveRows(files)
    // per-data-column accumulators over every surviving file's footer:
    // null counts (row stats) and min/max (zone maps) — ESTIMATES for
    // the CBO, so partially-covered columns still contribute what the
    // footers know
    val dataCols = schema.fields
      .filterNot(f => partSchema.fieldNames.contains(f.name))
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    val nullsKnown = scala.collection.mutable.Map.empty[String, Boolean]
      .withDefaultValue(true)
    val mins = scala.collection.mutable.Map.empty[String, BigDecimal]
    val maxs = scala.collection.mutable.Map.empty[String, BigDecimal]
    files.foreach { f =>
      val info = footerIdx.info(f)
      bytes += info.sizes.sum
      info.rowStats.filter(_.batches.length == info.sizes.length) match {
        case Some(rs) =>
          dataCols.foreach { c =>
            (0 until rs.batches.length)
              .map(b => rs.nullCount(b, c.name)) match {
              case ns if ns.forall(_.isDefined) =>
                nulls(c.name) = nulls.getOrElse(c.name, 0L) +
                  ns.map(_.get).sum
              case _ => nullsKnown(c.name) = false
            }
          }
        case None => dataCols.foreach(c => nullsKnown(c.name) = false)
      }
      info.zoneMap.foreach { zm =>
        dataCols.foreach { c =>
          zm.batches.indices.flatMap(b => zm.stat(b, c.name)).foreach {
            case (mn, mx) =>
              try {
                val (dmn, dmx) = (BigDecimal(mn), BigDecimal(mx))
                mins(c.name) = mins.get(c.name).fold(dmn)(_.min(dmn))
                maxs(c.name) = maxs.get(c.name).fold(dmx)(_.max(dmx))
              } catch { case _: NumberFormatException => () }
          }
        }
      }
    }
    val nData = math.max(1, dataCols.length)
    val nFile = footerIdx.files.headOption
      .map(f => ArrowDataSource.readFooterSchema(f).length).getOrElse(nData)
    val scaled = math.max(1L, bytes * nData / math.max(1, nFile))

    def internal(v: BigDecimal, dt: DataType): Option[Any] = dt match {
      case ByteType => Some(v.toByte)
      case ShortType => Some(v.toShort)
      case IntegerType | DateType => Some(v.toInt)
      case LongType | TimestampType | TimestampNTZType => Some(v.toLong)
      case FloatType => Some(v.toFloat)
      case DoubleType => Some(v.toDouble)
      case _ => None
    }
    // ANALYZE-persisted NDVs (ColumnStatsFile): the one table-level
    // statistic footers cannot fold (per-file NDVs over-count shared
    // values). distinctCount is what the CBO's join-cardinality
    // estimates key on.
    // ANALYZE-persisted stats, ONE sidecar read: NDVs (the CBO's
    // join-cardinality input) and equi-height histograms (its
    // selectivity input for SKEWED predicates — FilterEstimation reads
    // them under spark.sql.cbo.enabled; a flat NDV assumes uniformity
    // and misestimates a hot key by orders of magnitude)
    val analyzed = ColumnStatsFile.loadAll(
      java.nio.file.Paths.get(path).toAbsolutePath.normalize)
    val ndvs: Map[String, Long] =
      analyzed.map(_._2).getOrElse(Map.empty)
    val hists: Map[String, ColumnStatsFile.Hist] =
      analyzed.map(_._3).getOrElse(Map.empty)
    def v2Hist(h: ColumnStatsFile.Hist)
        : org.apache.spark.sql.connector.read.colstats.Histogram =
      new org.apache.spark.sql.connector.read.colstats.Histogram {
        override def height(): Double = h.height
        override def bins(): Array[
          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
          h.bins.map { case (l, u, n) =>
            new org.apache.spark.sql.connector.read.colstats
              .HistogramBin {
              override def lo(): Double = l
              override def hi(): Double = u
              override def ndv(): Long = n
            }
          }.toArray
      }
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      ColumnStatistics]()
    dataCols.foreach { c =>
      val nc = if (rows.isDefined && nullsKnown(c.name))
        nulls.get(c.name) else None
      val mnv = mins.get(c.name).flatMap(internal(_, c.dataType))
      val mxv = maxs.get(c.name).flatMap(internal(_, c.dataType))
      val dc = ndvs.get(c.name)
      val hg = hists.get(c.name)
      if (nc.isDefined || mnv.isDefined || mxv.isDefined ||
        dc.isDefined || hg.isDefined) {
        colStats.put(
          org.apache.spark.sql.connector.expressions.Expressions
            .column(c.name),
          new ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              dc.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def nullCount(): java.util.OptionalLong =
              nc.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              mnv.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
            override def max(): java.util.Optional[Object] =
              mxv.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
            override def histogram(): java.util.Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
              hg.map(h => java.util.Optional.of(v2Hist(h)))
                .getOrElse(java.util.Optional.empty())
          })
      }
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        ColumnStatistics] = colStats
    }
  }

  /** Files surviving static + runtime partition filters. */
  private def survivingFiles: Seq[java.nio.file.Path] =
    ArrowDataSource.pruneByPartitionFilters(footerIdx.files, path,
      partSchema, (partFilters ++ runtimeFilters).toSeq)

  /** Split every IPC file at record-batch boundaries using the footer's
    * block metadata, packing consecutive batches up to ~128 MB per
    * split. Scan parallelism therefore tracks data volume (as with
    * parquet row groups), not file count — one huge file no longer
    * serializes onto one task.
    *
    * Before packing, pushed filters are tested against the file's zone
    * map ([[ZoneMaps]], written into the footer by our writer): a
    * record batch whose per-column [min,max] provably cannot satisfy
    * the filters never becomes part of any split. Pruning is
    * conservative and purely an optimization — surviving batches still
    * evaluate the filters row-level in the reader. */
  override def planInputPartitions(): Array[InputPartition] = {
    // Batch change feed (Delta CDF's batch read): every churned file
    // of epochs [startingEpoch, endingEpoch|latest] becomes one tagged
    // split — the streaming feed's whole window planned at once, same
    // FILE-grain contract (CoW carry-over rows surface as cancelling
    // delete+insert pairs; net by full row value for an exact diff).
    if (changeFeed) {
      val log = footerIdx.log.getOrElse(
        throw new IllegalArgumentException(
          s"arrow readChangeFeed: $path carries no commit log"))
      val latest = log.latest
      val from = startingEpoch.get - 1L
      val to = endingEpoch.getOrElse(latest)
      require(from <= to && to <= latest,
        s"arrow readChangeFeed: batch window [${from + 1}, $to] out " +
          s"of range — $path has committed epochs 0..$latest")
      val horizon = log.horizon
      require(horizon == 0L || from >= horizon,
        s"arrow readChangeFeed: startingEpoch ${from + 1} of $path " +
          s"predates the vacuum horizon $horizon — removed files of " +
          s"those epochs were reclaimed; earliest readable epoch is " +
          s"${horizon + 1}")
      return ArrowChanges.changePartitions(path, log, partSchema,
        footerIdx, from, to, (partFilters ++ runtimeFilters).toSeq)
    }
    val bucketed = bucketLayout.isDefined
    // Pushed-limit truncation: stop emitting splits once the footers'
    // row counts PROVE the limit is covered (the push is refused when a
    // data filter could drop rows above the scan, so every planned row
    // reaches the Limit). A file without row stats contributes zero
    // proven rows — conservative: it is still planned, truncation just
    // cannot stop on its account. Bucketed layouts skip truncation:
    // the scan reported one KeyGroupedPartitioning key per surviving
    // bucket, and dropping files here would break that contract.
    val target: Long = limit.filter(_ => filters.isEmpty && !bucketed)
      .map(_.toLong).getOrElse(Long.MaxValue)
    // Reported ordering on a bucketed layout promises each key-grouped
    // partition is sorted — sound only if a bucket's (single) file
    // stays ONE split, so byte-packing is disabled for that shape.
    val splitBytes: Long =
      if (bucketed && sortedCol.isDefined) Long.MaxValue else maxSplitBytes
    var proven = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    val sFiles = survivingFiles
    // TOP-N pushdown: per-file allowed batch sets (None = no pruning)
    val topAllowed = topNAllowed(sFiles)
    val fileIt = sFiles.iterator
    while (fileIt.hasNext && proven < target) {
      val p = fileIt.next()
      val partVals: Array[String] =
        if (partSchema.isEmpty) Array.empty
        else ArrowDataSource.partitionValuesOf(path, p, partSchema.fieldNames.toSeq)
          .map(_.orNull).toArray
      val dvFile: String = footerIdx.dvs
        .get(p.toAbsolutePath.normalize.toString).map(_._1).orNull
      val info = footerIdx.info(p)
      val (blocks, zoneMap) = (info.sizes, info.zoneMap)
      val bucketId =
        if (bucketed) info.bucket.map(_._3).getOrElse(-1) else -1
      // per-batch row counts, for limit truncation only (0 = unknown)
      val rowsOf: Int => Long = info.rowStats match {
        case Some(rs) if rs.batches.length == blocks.length => rs.rowCount
        case _ => _ => 0L
      }
      // file-level bloom skip: a pushed point predicate whose probe
      // value provably never entered this file eliminates the WHOLE
      // file — the pruning zone maps cannot do on high-cardinality
      // columns (filters are ANDed, so one proven-absent conjunct is
      // enough; false positives only cost a scan, never correctness)
      if (filters.nonEmpty && info.blooms.nonEmpty &&
          filters.exists(ArrowBloom.provesAbsent(info.blooms, schema, _))) {
        // skip file
      } else if (blocks.isEmpty) {
        out += ArrowFilePartition(p.toString, Array.empty, partVals,
          bucketId, dvFile = dvFile)
      } else {
        val filterKeep: Int => Boolean =
          if (filters.isEmpty) _ => true
          else zoneMap match {
            case Some(zm) if zm.batches.length == blocks.length =>
              idx => filters.forall(ZoneMaps.mayMatch(_, schema, zm, idx))
            case _ => _ => true
          }
        val keep: Int => Boolean = topAllowed match {
          case Some(m) =>
            val bs = m.getOrElse(p.toString, null)
            idx => filterKeep(idx) && (bs == null || bs.get(idx))
          case None => filterKeep
        }
        var current = scala.collection.mutable.ArrayBuffer.empty[Int]
        var bytes = 0L
        val it = blocks.zipWithIndex.iterator
        while (it.hasNext && proven < target) {
          val (size, idx) = it.next()
          if (keep(idx)) {
            if (current.nonEmpty && bytes + size > splitBytes) {
              out += ArrowFilePartition(p.toString, current.toArray,
                partVals, bucketId, dvFile = dvFile)
              current = scala.collection.mutable.ArrayBuffer.empty[Int]
              bytes = 0L
            }
            current += idx
            bytes += size
            proven += rowsOf(idx)
          }
        }
        if (current.nonEmpty)
          out += ArrowFilePartition(p.toString, current.toArray, partVals,
            bucketId, dvFile = dvFile)
      }
    }
    out.toArray
  }

  /** TOP-N batch selection (see the builder's pushTopN). Returns the
    * per-file allowed batch sets, or None when pruning cannot engage.
    * SOUNDNESS rests only on per-batch footer stats, never on layout:
    * stat-KNOWN batches (min/max recorded, zero nulls, row count
    * known) are sorted by their bound (min asc / max desc) and
    * accumulated until their own row counts cover N — all N of those
    * rows are then provably inside the accumulated bound T, so any
    * stat-known batch strictly beyond T holds no top-N row. "Murky"
    * batches (missing/unparsable stats, nulls present) are ALWAYS
    * allowed and never counted toward the coverage proof. A sorted
    * layout makes the cut surgical; an unsorted one just prunes less. */
  private def topNAllowed(files: Seq[java.nio.file.Path])
      : Option[Map[String, java.util.BitSet]] = {
    val (col, asc, n) = topN.getOrElse(return None)
    if (filters.nonEmpty || bucketLayout.isDefined) return None
    val dt = schema.find(_.name == col).map(_.dataType)
      .getOrElse(return None)
    val kind = ZoneMaps.kindOf(dt)
    if (kind == ZoneMaps.KindNone) return None
    def key(s: String): AnyRef = kind match {
      case ZoneMaps.KindLong => java.lang.Long.valueOf(s.toLong)
      case ZoneMaps.KindDouble => java.lang.Double.valueOf(s.toDouble)
      // decimal stats MUST compare numerically, never as bytes:
      // toPlainString byte order inverts across digit-count boundaries
      // ("1000.00" < "900.00" bytewise), which would prune the batches
      // holding the true top rows
      case ZoneMaps.KindDecimal => new java.math.BigDecimal(s)
      case _ => ZoneMaps.unescapeStat(s)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    def cmp(a: AnyRef, b: AnyRef): Int = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
      case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y)
      case (x: Array[Byte], y: Array[Byte]) => ZoneMaps.byteCmp(x, y)
      case _ => 0
    }
    final case class Known(file: String, idx: Int, lo: AnyRef,
      hi: AnyRef, rows: Long)
    val murky = scala.collection.mutable.Map
      .empty[String, java.util.BitSet]
    val known = scala.collection.mutable.ArrayBuffer.empty[Known]
    files.foreach { f =>
      val info = footerIdx.info(f)
      val bs = new java.util.BitSet()
      murky(f.toString) = bs
      val zm = info.zoneMap
      val rs = info.rowStats
      info.sizes.indices.foreach { i =>
        val k = for {
          z <- zm if z.batches.length == info.sizes.length
          (mn, mx) <- z.stat(i, col)
          r <- rs if r.batches.length == info.sizes.length
          nulls <- r.nullCount(i, col) if nulls == 0L
          lo <- scala.util.Try(key(mn)).toOption
          hi <- scala.util.Try(key(mx)).toOption
        } yield Known(f.toString, i, lo, hi, r.rowCount(i))
        k match {
          case Some(e) => known += e; ()
          case None => bs.set(i)
        }
      }
    }
    // accumulate stat-known coverage toward N
    val ordered = known.sortWith((a, b) =>
      if (asc) cmp(a.lo, b.lo) < 0 else cmp(a.hi, b.hi) > 0)
    var cum = 0L
    var t: AnyRef = null
    val it = ordered.iterator
    while (it.hasNext && cum < n) {
      val e = it.next()
      cum += e.rows
      t = if (t == null) (if (asc) e.hi else e.lo)
      else if (asc) { if (cmp(e.hi, t) > 0) e.hi else t }
      else { if (cmp(e.lo, t) < 0) e.lo else t }
    }
    if (cum < n || t == null) return None // cannot prove coverage
    val out = murky
    ordered.foreach { e =>
      val in = if (asc) cmp(e.lo, t) <= 0 else cmp(e.hi, t) >= 0
      if (in) out(e.file).set(e.idx)
    }
    Some(out.toMap)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(schema, filters, partSchema, decl)

  /** Micro-batch streaming read: each trigger processes the files that
    * appeared since the last committed offset. When the source
    * directory carries a commit log (it is our own streaming sink —
    * the sink→source pipeline case that actually runs forever), the
    * offset is the latest committed EPOCH: one long however many
    * millions of files the stream has accumulated, and each trigger
    * reads exactly the manifests of the epoch delta. Flat directories
    * fall back to the seen-file-set offset (JSON array) —
    * recovery-exact and immune to arrival order, unlike name/position
    * watermarks which silently drop a file that sorts below the
    * high-water mark (our own sink's uuid part names do not sort by
    * time) — with a growth guard, since that offset is O(directory
    * lifetime). Column pruning and pushed data/partition filters all
    * apply — the streaming scan is the batch scan fed one delta at a
    * time. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    if (changeFeed)
      new ArrowChangesMicroBatchStream(path, schema, partSchema,
        footerIdx, startingEpoch, maxFilesPerTrigger, partFilters.toSeq)
    else
      new ArrowMicroBatchStream(path, schema, filters, partFilters,
        partSchema, footerIdx, maxFilesPerTrigger, ignoreChanges,
        maxBytesPerTrigger)
}

class ArrowMicroBatchStream(path: String, schema: StructType,
    filters: Array[Filter], partFilters: Array[Filter],
    partSchema: StructType,
    footerMemo: FooterIndex, // the starting scan's: footer parses only
    maxFilesPerTrigger: Option[Int] = None,
    ignoreChanges: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  case class ArrowFilesOffset(files: Set[String]) extends Offset {
    override def json(): String = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.writeValueAsString(files.toSeq.sorted.toArray)
    }
  }

  /** Bounded offset for manifest-carrying source dirs: the highest
    * committed sink epoch. One long in the checkpoint regardless of
    * stream lifetime — the log-compacted answer to the file-set
    * offset's O(directory) growth. */
  case class ArrowEpochOffset(epoch: Long) extends Offset {
    override def json(): String = s"""{"epoch":$epoch}"""
  }

  // Offset MODE is fixed at stream construction: epoch-based when the
  // source dir already carries a sink commit log, file-set otherwise.
  // A commit log appearing mid-stream keeps the file-set offset (still
  // correct — visibleIpcFiles honors manifests either way, only the
  // offset stays O(files)); the stream picks up epoch offsets on its
  // next restart.
  private val epochRoot: Option[java.nio.file.Path] =
    ArrowDataSource.sinkRoot(path)

  // the listing stays live (a new trigger must see new files); only
  // footer parses come from footerMemo — a committed file's footer
  // never changes

  // The file-set offset serializes the full seen-file set, so
  // checkpoint entries grow with directory lifetime. Surface the
  // growth once before it degrades checkpointing (manifest-carrying
  // dirs use the compacted epoch offset and never hit this).
  private val OffsetWarnFiles = 100000
  private var warned = false
  private def guardOffsetSize(n: Int): Unit =
    if (n > OffsetWarnFiles && !warned) {
      warned = true
      System.err.println(s"WARN graft-arrow streaming source on $path: " +
        s"offset tracks $n files; checkpoint entries are O(files) — " +
        "compact the directory or restart the stream from a fresh " +
        "checkpoint before offsets dominate trigger latency")
    }

  private def currentFiles: Set[String] =
    ArrowDataSource.pruneByPartitionFilters(
      ArrowDataSource.visibleIpcFiles(path), path, partSchema,
      partFilters.toSeq)
      .map(_.toString).toSet

  /** Committed files of sink epochs in `(after, upTo]`, restricted to
    * the queried directory (which may be a partition subdir of the
    * sink root) and pruned by pushed partition filters.
    *
    * A TABLE-log epoch may carry removals (DML / logged overwrite):
    * its adds are REWRITES of already-streamed rows, so delivering
    * them would duplicate every surviving row downstream. Refuse by
    * default and let the user opt in with `ignoreChanges=true`
    * (Delta's contract: rewritten files are delivered, deduplication
    * is the consumer's job). */
  private def epochDeltaFiles(root: java.nio.file.Path, after: Long,
      upTo: Long): Seq[java.nio.file.Path] = {
    val log = TableLog.read(root)
    if (!ignoreChanges)
      log.history.foreach { en =>
        if (en.remove && en.epoch > after && en.epoch <= upTo)
          throw new UnsupportedOperationException(
            s"arrow streaming source on $path: epoch ${en.epoch} " +
              "removed files (DML or logged overwrite upstream); its " +
              "added files are rewrites of rows this stream already " +
              "delivered. Set option(\"ignoreChanges\", true) to " +
              "stream them anyway (downstream must dedup), or stream " +
              "from an append-only sink.")
        if (en.dv.isDefined && en.epoch > after && en.epoch <= upTo)
          throw new UnsupportedOperationException(
            s"arrow streaming source on $path: epoch ${en.epoch} " +
              "masked rows with a deletion vector (merge-on-read " +
              "DELETE upstream); a file-delta stream cannot express " +
              "row removal. Set option(\"ignoreChanges\", true) to " +
              "skip the mask epochs, or stream from an append-only " +
              "sink.")
      }
    val prefix = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    // adds in the window that are still LIVE at the window end: a
    // fresh stream over a table with rewrite history delivers the
    // current snapshot (Delta's initial-snapshot semantics), not every
    // superseded generation ever committed
    val files = log.live(Some(upTo))
      .collect { case (e, rel) if e > after =>
        root.resolve(rel).normalize }
      .filter(_.startsWith(prefix))
    ArrowDataSource.pruneByPartitionFilters(files, path, partSchema,
      partFilters.toSeq)
  }

  override def initialOffset(): Offset = epochRoot match {
    case Some(_) => ArrowEpochOffset(-1L)
    case None => ArrowFilesOffset(Set.empty)
  }

  private def liveLatest(): Offset = epochRoot match {
    case Some(root) =>
      ArrowEpochOffset(ArrowDataSource.latestCommittedEpoch(root))
    case None =>
      val files = currentFiles
      guardOffsetSize(files.size)
      ArrowFilesOffset(files)
  }

  // ---- Trigger.AvailableNow (SupportsTriggerAvailableNow) ----------
  // The run's END offset is captured ONCE at prepare time: the query
  // drains exactly the data available at start and stops, immune to
  // files (or sink epochs) landing mid-run — Spark's file source
  // semantics, instead of the single-batch fallback it would otherwise
  // warn about and approximate.
  private var availableNowTarget: Option[Offset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(liveLatest())

  // ---- Admission control (`option("maxFilesPerTrigger", n)`,
  // `option("maxBytesPerTrigger", b)`) ------------------------------
  // A restarted stream over a deep backlog (or a sink that committed a
  // burst of epochs) must not plan one giant micro-batch: the caps
  // bound each trigger's delta and the stream drains in steps. When
  // BOTH are set the tighter bound wins (a unit is admitted only while
  // it fits both budgets). File-set mode caps exactly; epoch mode
  // keeps EPOCH granularity (an epoch's manifest is the atomic unit)
  // — it takes committed epochs while their file count AND bytes fit,
  // always at least one unit either way. The byte metric is the
  // file's ON-DISK size (one stat per fresh file per trigger, no
  // footer open) — the sidecar's block sizes exclude header/footer
  // overhead, which dominates small files and would overshoot the
  // user's disk-denominated budget.
  private case class ArrowByteLimit(files: Option[Int], bytes: Long)
    extends ReadLimit

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (mf, Some(b)) => ArrowByteLimit(mf, b)
      case (Some(n), None) => ReadLimit.maxFiles(n)
      case _ => ReadLimit.allAvailable()
    }

  private def bytesOf(f: java.nio.file.Path): Long =
    try java.nio.file.Files.size(f)
    catch { case _: java.io.IOException => 0L }

  private def capOffset(start: Offset, target: Offset,
      nFiles: Option[Int], nBytes: Option[Long]): Offset =
    (start, target) match {
      case (ArrowFilesOffset(seen), ArrowFilesOffset(now)) =>
        val fresh = (now -- seen).toSeq.sorted
        var files = 0
        var bytes = 0L
        val taken = fresh.takeWhile { f =>
          val sz = nBytes.map(_ =>
            bytesOf(java.nio.file.Paths.get(f))).getOrElse(0L)
          val fits = (files == 0) || // always at least one
            (nFiles.forall(files < _) &&
              nBytes.forall(bytes + sz <= _))
          if (fits) { files += 1; bytes += sz }
          fits
        }
        ArrowFilesOffset(seen ++ taken)
      case (ArrowEpochOffset(s), ArrowEpochOffset(e)) if e > s =>
        val root = epochRoot.get
        val prefix = java.nio.file.Paths.get(path).toAbsolutePath.normalize
        val byEpoch = TableLog.read(root).history
          .collect { case en if !en.remove && en.dv.isEmpty =>
            (en.epoch, root.resolve(en.rel).normalize) }
          .filter { case (ep, abs) => ep > s && ep <= e &&
            abs.startsWith(prefix) }
          .groupBy(_._1).view.mapValues { fs =>
            (fs.size,
              if (nBytes.isDefined) fs.map(f => bytesOf(f._2)).sum
              else 0L)
          }.toSeq.sortBy(_._1)
        var end = s
        var fileBudget = nFiles.map(_.toLong).getOrElse(Long.MaxValue)
        var byteBudget = nBytes.getOrElse(Long.MaxValue)
        var any = false
        val it = byEpoch.iterator
        var stop = false
        while (it.hasNext && !stop) {
          val (ep, (cnt, bts)) = it.next()
          if (!any || (cnt <= fileBudget && bts <= byteBudget)) {
            end = ep; fileBudget -= cnt; byteBudget -= bts; any = true
          } else stop = true
        }
        // epochs with no files under this prefix ride along for free:
        // advance past a trailing empty run so the stream does not
        // re-trigger on them forever
        ArrowEpochOffset(if (any) end else e)
      case _ => target
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(liveLatest())
    limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        capOffset(start, target, Some(mf.maxFiles()), None)
      case ArrowByteLimit(files, bytes) =>
        capOffset(start, target, files, Some(bytes))
      case _ => target
    }
  }

  override def reportLatestOffset(): Offset = liveLatest()

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def deserializeOffset(json: String): Offset =
    if (json.trim.startsWith("{")) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      ArrowEpochOffset(mapper.readTree(json).get("epoch").asLong())
    } else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      ArrowFilesOffset(mapper.readValue(json,
        classOf[Array[String]]).toSet)
    }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val fresh: Seq[String] = (start, end) match {
      case (ArrowEpochOffset(s), ArrowEpochOffset(e)) =>
        epochRoot.toSeq.flatMap(epochDeltaFiles(_, s, e))
          .map(_.toString).sorted
      case (ArrowFilesOffset(seen), ArrowEpochOffset(e)) =>
        // restarted from a file-set checkpoint into epoch mode: the
        // delta is everything committed up to e, minus the seen set
        epochRoot.toSeq.flatMap(epochDeltaFiles(_, -1L, e))
          .map(_.toString).filterNot(seen).sorted
      case (ArrowFilesOffset(seen), ArrowFilesOffset(now)) =>
        (now -- seen).toSeq.sorted
      case (ArrowEpochOffset(_), ArrowFilesOffset(now)) =>
        // cannot happen in a healthy checkpoint (mode only upgrades
        // toward epochs); reprocess-all is the safe degenerate answer
        now.toSeq.sorted
    }
    fresh.map { f =>
      val p = java.nio.file.Paths.get(f)
      val partVals: Array[String] =
        if (partSchema.isEmpty) Array.empty
        else ArrowDataSource.partitionValuesOf(path, p, partSchema.fieldNames.toSeq)
          .map(_.orNull).toArray
      val nBlocks = footerMemo.info(p).sizes.length
      ArrowFilePartition(f, (0 until nBlocks).toArray, partVals)
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(schema, filters, partSchema,
      footerMemo.snap.declaration)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One scan split: a file plus the footer indices of the record batches
  * it covers (empty = whole file, used for block-less empty files), plus
  * the file's Hive-layout partition values (aligned with the scan's
  * partition schema; null entry = SQL NULL) and, for bucketed layouts,
  * the file's bucket id (-1 otherwise). `partitionKey` is only
  * consulted by Spark when the scan reported KeyGroupedPartitioning —
  * which [[ArrowScan.outputPartitioning]] does exactly when every
  * file carries a bucket stamp, so a -1 never reaches grouping. */
case class ArrowFilePartition(file: String, blockIdxs: Array[Int],
    partValues: Array[String] = Array.empty, bucketId: Int = -1,
    changeType: String = null, commitEpoch: Long = -1L,
    dvFile: String = null, dvInvert: Boolean = false)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** `decl`: the table's declaration, whose rename and default ledgers
  * the readers resolve requested columns through. */
class ArrowReaderFactory(schema: StructType, filters: Array[Filter],
    partSchema: StructType, decl: ArrowDataSource.Declaration)
    extends PartitionReaderFactory {

  // Always columnar: pushed data filters only skip batches via zone
  // maps (planning time); row-level refinement is Catalyst's residual
  // codegen'd FilterExec above the scan, never an interpreted
  // per-row loop inside the reader.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    true

  // Unreachable in normal planning (supportColumnarReads is
  // unconditionally true, so Spark always calls createColumnarReader),
  // but PartitionReaderFactory requires the row path as its API
  // contract and third-party physical operators may opt out of
  // columnar input — kept as the non-vectorized fallback, not deleted.
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ArrowFilePartition]
    new ArrowRowReader(p, schema, filters, partSchema, decl)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[ArrowFilePartition]
    new ArrowBatchReader(p, schema, partSchema, decl)
  }
}

/** Shared reader mechanics: iterate this split's record batches,
  * exposing each as a ColumnarBatch of the pruned columns.
  * Dictionary-encoded columns (written by [[ArrowOptimize]]) decode
  * transparently AND lazily: the dictionary's values are materialized
  * ONCE PER FILE (bounded by the encoder's cardinality cut-off, tiny
  * by construction) and each batch's index vector is wrapped in a
  * [[DictStringVector]] that resolves values per access — the same
  * indices-plus-dictionary model Spark's vectorized parquet reader
  * uses, so the read path never allocates a full decoded copy of a
  * batch and the encoding's memory win survives the scan. Consumers
  * always see the value type — encoding is a pure layout property of
  * the file. */
private[arrow] abstract class ArrowReaderBase(partition: ArrowFilePartition,
    schema: StructType, partSchema: StructType,
    decl: ArrowDataSource.Declaration) {
  protected val channel: FileChannel =
    ArrowDataSource.openIpc(Paths.get(partition.file))
  protected val reader: ArrowFileReader =
    new ArrowFileReader(channel, ArrowDataSource.allocator,
      CommonsCompressionFactory.INSTANCE)
  protected val root = reader.getVectorSchemaRoot
  // each requested field reads either a file vector (Left: ordinal in
  // the file schema), a directory-carried partition value (Right:
  // ordinal in partSchema, surfaced as a constant vector per batch),
  // Left(-2) — the `_file` metadata column (this split's file path as
  // a constant, parquet's _metadata.file_path shape; row-level CoW
  // group filtering keys on it) — or Left(-1) — nothing: a mergeSchema
  // read over an evolved layout requests columns this file predates,
  // served as nulls
  private val partIdx = partSchema.fieldNames.zipWithIndex.toMap
  private val ordinals: Array[Either[Int, Int]] = {
    val fileFields = root.getSchema.getFields.asScala.map(_.getName)
    schema.fieldNames.map { n =>
      partIdx.get(n) match {
        // Partition evolution: a file from BEFORE a column joined the
        // partition spec has no dir value for it — the real values
        // live in the file's BYTES (the writer only extracts CURRENT
        // spec columns to directories), so read them there. A genuine
        // NULL dir value cannot collide: a file written WITH the
        // column in its spec never carries it in bytes. The byte
        // lookup resolves the RENAME ledger too: a column renamed and
        // THEN evolved lives in pre-rename files under its physical
        // name (the walk spec's restore+evolve interleaving hits
        // this); only a file carrying it under NO name null-fills.
        case Some(pi) if pi >= partition.partValues.length ||
            partition.partValues(pi) == null =>
          val fi = fileFields.indexOf(n) match {
            case -1 => decl.aliases.getOrElse(n, Seq.empty)
              .map(fileFields.indexOf).find(_ >= 0).getOrElse(-1)
            case i => i
          }
          if (fi >= 0) Left(fi) else Right(pi)
        case Some(pi) => Right(pi)
        case None if n == ArrowDataSource.FileMetaCol => Left(-2)
        case None if n == ArrowDataSource.PosMetaCol => Left(-5)
        // change-feed constants — only for CDF splits (changeType set),
        // so a user column literally named _change_type in an ordinary
        // file still resolves from the file below
        case None if partition.changeType != null &&
            n == ArrowChanges.ChangeTypeCol => Left(-3)
        case None if partition.changeType != null &&
            n == ArrowChanges.CommitEpochCol => Left(-4)
        case None => fileFields.indexOf(n) match {
          // miss: a RENAMED column may live in this file under its
          // pre-rename physical name (the table's rename ledger) —
          // else null-fill (-1)
          case -1 => Left(decl.aliases.getOrElse(n, Seq.empty)
              .map(fileFields.indexOf).find(_ >= 0).getOrElse(-1))
          case i => Left(i)
        }
      }
    }
  }
  // initial defaults (Iceberg's): requested columns this file PREDATES
  // (absent from its footer) serve their declared default instead of
  // null — from the table's default ledger, literals evaluated to
  // internal values once per split so per-batch serving is a
  // constant-vector fill
  private lazy val columnDefaults: Map[String, Any] = {
    val raw = decl.defaults
    if (raw.isEmpty) Map.empty
    else schema.fields.iterator.flatMap(f => raw.get(f.name)
      .map(lit => f.name -> ArrowDataSource.evalDefault(lit, f.dataType)))
      .toMap
  }

  private def fillConstant(
      cv: org.apache.spark.sql.execution.vectorized.ConstantColumnVector,
      dt: org.apache.spark.sql.types.DataType, v: Any): Unit = {
    import org.apache.spark.sql.types._
    // dispatch arms mirror ArrowSchemas.defaultServable — the single
    // whitelist add_column enforces at declaration time; the default
    // arm below is the (loud) drift check
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        cv.setLong(v.asInstanceOf[java.lang.Long])
      case IntegerType | DateType =>
        cv.setInt(v.asInstanceOf[java.lang.Integer])
      case ShortType => cv.setShort(v.asInstanceOf[java.lang.Short])
      case ByteType => cv.setByte(v.asInstanceOf[java.lang.Byte])
      case BooleanType => cv.setBoolean(v.asInstanceOf[java.lang.Boolean])
      case DoubleType => cv.setDouble(v.asInstanceOf[java.lang.Double])
      case FloatType => cv.setFloat(v.asInstanceOf[java.lang.Float])
      case StringType => cv.setUtf8String(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      case other => throw new UnsupportedOperationException(
        s"arrow: initial default of ${other.simpleString} reached the " +
          "reader — add_column's gate drifted from " +
          "ArrowSchemas.defaultServable")
    }
  }

  private val blocks = reader.getRecordBlocks
  private var cursor = 0
  // merge-on-read deletion vector: per-ORIGINAL-batch bitmaps of
  // deleted ordinals, loaded once per split; composes with zone-map
  // batch skipping because ordinals are batch-local
  private val dvBatches: Array[java.util.BitSet] =
    if (partition.dvFile == null) null
    else DeletionVectors.read(Paths.get(partition.dvFile))
  private var currentBlockIdx = -1
  // dictionary values materialized once per FILE (keyed by dictionary
  // id): batches carry only int32 indices, and [[DictStringVector]]
  // resolves against this array lazily — no per-batch decoded copy
  private val dictValues = scala.collection.mutable.Map
    .empty[Long, Array[org.apache.spark.unsafe.types.UTF8String]]

  private def loadNext(): Boolean =
    if (cursor >= partition.blockIdxs.length) false
    else {
      currentBlockIdx = partition.blockIdxs(cursor)
      val ok = reader.loadRecordBatch(blocks.get(currentBlockIdx))
      cursor += 1
      ArrowDataSource.recordBatchesLoaded.incrementAndGet()
      ok
    }

  private def constantVector(pi: Int, rows: Int): ColumnVector = {
    import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
    val dt = partSchema.fields(pi).dataType
    val cv = new ConstantColumnVector(rows, dt)
    val raw = partition.partValues(pi)
    if (raw == null) cv.setNull()
    else ArrowDataSource.partValueToInternal(dt, raw) match {
      case l: java.lang.Long => cv.setLong(l)
      case i: java.lang.Integer => cv.setInt(i)
      case s: java.lang.Short => cv.setShort(s)
      case b: java.lang.Byte => cv.setByte(b)
      case b: java.lang.Boolean => cv.setBoolean(b)
      case u: org.apache.spark.unsafe.types.UTF8String => cv.setUtf8String(u)
      case other => throw new UnsupportedOperationException(
        s"arrow partition constant of ${other.getClass}")
    }
    cv
  }

  private def dictionaryValues(
      enc: org.apache.arrow.vector.types.pojo.DictionaryEncoding)
      : Array[org.apache.spark.unsafe.types.UTF8String] =
    dictValues.getOrElseUpdate(enc.getId, {
      val dv = reader.lookup(enc.getId).getVector
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      ArrowDataSource.dictMaterializations.incrementAndGet()
      Array.tabulate(dv.getValueCount)(j =>
        if (dv.isNull(j)) null
        else org.apache.spark.unsafe.types.UTF8String.fromBytes(dv.get(j)))
    })

  protected def nextBatch(): Option[ColumnarBatch] =
    if (!loadNext()) None
    else {
      val vectors: Array[ColumnVector] = ordinals.zipWithIndex.map {
        case (Right(pi), _) => constantVector(pi, root.getRowCount)
        case (Left(-2), _) => // `_file` metadata: the split's path
          val cv = new org.apache.spark.sql.execution.vectorized
            .ConstantColumnVector(root.getRowCount,
              org.apache.spark.sql.types.StringType)
          cv.setUtf8String(org.apache.spark.unsafe.types.UTF8String
            .fromString(partition.file))
          cv: ColumnVector
        case (Left(-3), _) => // change feed: this split's change type
          val cv = new org.apache.spark.sql.execution.vectorized
            .ConstantColumnVector(root.getRowCount,
              org.apache.spark.sql.types.StringType)
          cv.setUtf8String(org.apache.spark.unsafe.types.UTF8String
            .fromString(partition.changeType))
          cv: ColumnVector
        case (Left(-4), _) => // change feed: this split's commit epoch
          val cv = new org.apache.spark.sql.execution.vectorized
            .ConstantColumnVector(root.getRowCount,
              org.apache.spark.sql.types.LongType)
          cv.setLong(partition.commitEpoch)
          cv: ColumnVector
        case (Left(-5), _) => // `_pos`: stable in-file row ordinal,
          // generated BEFORE any deletion-vector selection (the
          // SelectedVector wrapper below remaps it like any column, so
          // a masked file's surviving rows keep their ORIGINAL ids)
          new PositionVector(currentBlockIdx): ColumnVector
        case (Left(-1), fi) => // column absent from this file: its
          // declared initial default when one exists, else all null
          val f = schema.fields(fi)
          val cv = new org.apache.spark.sql.execution.vectorized
            .ConstantColumnVector(root.getRowCount, f.dataType)
          columnDefaults.get(f.name) match {
            case Some(v) if v != null => fillConstant(cv, f.dataType, v)
            case _ => cv.setNull()
          }
          cv: ColumnVector
        case (Left(i), fi) =>
          val v = root.getVector(i)
          Option(v.getField.getDictionary) match {
            case Some(enc) =>
              new DictStringVector(
                v.asInstanceOf[org.apache.arrow.vector.IntVector],
                dictionaryValues(enc)): ColumnVector
            case None => v match {
              // struct vectors must not be closed between batch loads:
              // Spark's columnar consumers close each handed-out batch,
              // and StructVector.close() CLEARS THE CHILDREN MAP — the
              // next VectorLoader.load into the reused root then fails
              // ("should have as many children as in the schema").
              // Flat/list/map vectors survive close+reload (buffers are
              // simply re-assigned), so only structs need the shield;
              // their memory is released at reader close like every
              // other column (loadBuffers drops prior buffers on each
              // load, closeAll() closes the root last).
              case _: org.apache.arrow.vector.complex.StructVector =>
                // nested schema evolution: a file written before a
                // struct LEAF joined the declaration carries a
                // narrower struct — patch absent leaves as nulls,
                // mapping declared leaf ordinals to file children by
                // NAME (the flat-column analogue of Left(-1))
                val patched = (schema.fields(fi).dataType,
                    ArrowSchemas.fromArrowField(v.getField).dataType) match {
                  case (d: StructType, f: StructType) =>
                    StructLeafPatch(new ArrowColumnVector(v), d, f,
                      root.getRowCount)
                  case _ => new ArrowColumnVector(v): ColumnVector
                }
                new NonClosingVector(patched): ColumnVector
              case _ =>
                val cv = new ArrowColumnVector(v)
                val decl = schema.fields(fi).dataType
                // type widening: a file written before a widen_column
                // (or widening mergeSchema write) carries the narrow
                // physical type — upcast per access, zero-copy
                if (cv.dataType() == decl) cv: ColumnVector
                else new UpcastVector(cv, decl): ColumnVector
            }
          }
      }
      val nRows = root.getRowCount
      val mask =
        if (dvBatches == null || currentBlockIdx >= dvBatches.length) null
        else dvBatches(currentBlockIdx)
      if (mask == null || (mask.isEmpty && !partition.dvInvert))
        Some(new ColumnarBatch(vectors, nRows))
      else {
        // deletion vector: remap each vector through the kept-ordinal
        // selection — zero-copy survives, only the index translates.
        // Normal reads KEEP unmasked ordinals; a change-feed
        // delete-diff split (dvInvert) keeps exactly the masked ones.
        val keepMasked = partition.dvInvert
        val card = mask.cardinality()
        val sel = new Array[Int](if (keepMasked) card else nRows - card)
        var i = 0
        var k = 0
        while (i < nRows) {
          if (mask.get(i) == keepMasked) { sel(k) = i; k += 1 }
          i += 1
        }
        Some(new ColumnarBatch(
          vectors.map(v => new SelectedVector(v, sel): ColumnVector),
          sel.length))
      }
    }

  def closeAll(): Unit = {
    reader.close(); channel.close()
  }
}

/** The `_pos` metadata vector: row `i` of record batch `blockIdx`
  * reads `(blockIdx << 32) | i` — a stable, deletion-vector-immune
  * row ordinal within the file. */
private[arrow] final class PositionVector(blockIdx: Int)
    extends ColumnVector(org.apache.spark.sql.types.LongType) {
  private val base = blockIdx.toLong << 32
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getLong(i: Int): Long = base | i.toLong
  override def close(): Unit = ()
  private def unsupported = throw new UnsupportedOperationException(
    "_pos is long-typed")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getShort(i: Int): Short = unsupported
  override def getInt(i: Int): Int = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getDouble(i: Int): Double = unsupported
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = unsupported
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = unsupported
  override def getBinary(i: Int): Array[Byte] = unsupported
  override def getChild(ordinal: Int): ColumnVector = unsupported
}

/** A column vector viewed through a selection: logical row `i` reads
  * the underlying vector's row `sel(i)`. Used to apply merge-on-read
  * deletion vectors without copying batch data — the underlying
  * vectors stay zero-copy Arrow memory. Struct children remap with
  * the same selection; arrays/maps/strings resolve through the
  * remapped top-level accessor, which already yields
  * offset-independent views. */
/** Delegates every accessor and suppresses `close()` — see the struct
  * case in [[ArrowReaderBase.nextBatch]]: a batch-reused StructVector
  * must outlive the consumer's per-batch close. */
private[arrow] final class NonClosingVector(under: ColumnVector)
    extends ColumnVector(under.dataType()) {
  override def hasNull: Boolean = under.hasNull
  override def numNulls: Int = under.numNulls
  override def isNullAt(i: Int): Boolean = under.isNullAt(i)
  override def getBoolean(i: Int): Boolean = under.getBoolean(i)
  override def getByte(i: Int): Byte = under.getByte(i)
  override def getShort(i: Int): Short = under.getShort(i)
  override def getInt(i: Int): Int = under.getInt(i)
  override def getLong(i: Int): Long = under.getLong(i)
  override def getFloat(i: Int): Float = under.getFloat(i)
  override def getDouble(i: Int): Double = under.getDouble(i)
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray = under.getArray(i)
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = under.getMap(i)
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    under.getDecimal(i, precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = under.getUTF8String(i)
  override def getBinary(i: Int): Array[Byte] = under.getBinary(i)
  override def getChild(ordinal: Int): ColumnVector = under.getChild(ordinal)
  override def close(): Unit = ()
}

/** Nested schema evolution, read side: view a file's NARROWER struct
  * vector under the DECLARED struct type, serving leaves the file
  * predates as null constants and resolving present leaves by NAME
  * (recursively — a struct-in-struct leaf patches the same way).
  * The no-op case (identical leaf names/order) returns the underlying
  * vector unwrapped, so evolved-generation files pay nothing. */
private[arrow] object StructLeafPatch {
  def apply(under: ColumnVector, declared: StructType, file: StructType,
      rows: Int): ColumnVector =
    if (!needed(declared, file)) under
    else new StructLeafPatchVector(under, declared, file, rows)

  private def needed(declared: StructType, file: StructType): Boolean =
    declared.fields.length != file.fields.length ||
      declared.fields.zip(file.fields).exists { case (d, f) =>
        d.name != f.name || ((d.dataType, f.dataType) match {
          case (ds: StructType, fs: StructType) => needed(ds, fs)
          // a WIDENED leaf (widen_column on a dotted path): the file's
          // narrow leaf must upcast under the declared width
          case (dl, fl) => dl != fl
        })
      }
}

private[arrow] final class StructLeafPatchVector(under: ColumnVector,
    declared: StructType, file: StructType, rows: Int)
    extends ColumnVector(declared) {
  private val children: Array[ColumnVector] = declared.fields.map { df =>
    file.fieldNames.indexOf(df.name) match {
      case -1 => // leaf absent from this file: all null
        val cv = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(rows, df.dataType)
        cv.setNull()
        cv: ColumnVector
      case i => (df.dataType, file.fields(i).dataType) match {
        case (ds: StructType, fs: StructType) =>
          StructLeafPatch(under.getChild(i), ds, fs, rows)
        // widened leaf: this file's narrow bytes upcast per access
        case (dl, fl) if dl != fl => new UpcastVector(under.getChild(i), dl)
        case _ => under.getChild(i)
      }
    }
  }
  override def hasNull: Boolean = under.hasNull
  override def numNulls: Int = under.numNulls
  override def isNullAt(i: Int): Boolean = under.isNullAt(i)
  override def getChild(ordinal: Int): ColumnVector = children(ordinal)
  // the arrow memory is owned by the reader's root (see the
  // NonClosingVector rationale); constants are on-heap
  override def close(): Unit = ()
  private def unsupported = throw new UnsupportedOperationException(
    "struct-typed arrow column: access through getChild")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getShort(i: Int): Short = unsupported
  override def getInt(i: Int): Int = unsupported
  override def getLong(i: Int): Long = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getDouble(i: Int): Double = unsupported
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = unsupported
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = unsupported
  override def getBinary(i: Int): Array[Byte] = unsupported
}

/** Type widening, read side: view a file's NARROWER primitive vector
  * under the DECLARED wider type ([[ArrowSchemas.widens]]) — the
  * getter of the declared width reads the file's physical width and
  * upcasts per access, zero-copy. Wraps flat columns and struct
  * leaves (via [[StructLeafPatch]]); `close` delegates, matching the
  * wrapped vector's ownership. */
private[arrow] final class UpcastVector(under: ColumnVector,
    declared: org.apache.spark.sql.types.DataType)
    extends ColumnVector(declared) {
  import org.apache.spark.sql.types._
  private val from = under.dataType()
  // LOUD on the reverse direction: a read planned BEFORE a
  // widen_column can meet a file already written at the wider type —
  // serving it through the narrow getters would silently truncate
  // values past the narrow range, which is corruption, not evolution
  require(ArrowSchemas.widens(from, declared),
    s"arrow: file column is ${from.simpleString} but the read schema " +
      s"requests ${declared.simpleString} — the table widened after " +
      "this read planned; re-plan the read against the current schema")
  private def narrow(i: Int): Long = from match {
    case ByteType => under.getByte(i).toLong
    case ShortType => under.getShort(i).toLong
    case IntegerType => under.getInt(i).toLong
    case LongType => under.getLong(i)
    case other => throw new UnsupportedOperationException(
      s"upcast from ${other.simpleString}")
  }
  override def hasNull: Boolean = under.hasNull
  override def numNulls: Int = under.numNulls
  override def isNullAt(i: Int): Boolean = under.isNullAt(i)
  override def getShort(i: Int): Short = narrow(i).toShort
  override def getInt(i: Int): Int = narrow(i).toInt
  override def getLong(i: Int): Long = narrow(i)
  override def getDouble(i: Int): Double = from match {
    case FloatType => under.getFloat(i).toDouble
    case _ => under.getDouble(i)
  }
  // decimal precision widening (same scale — widens() enforces it):
  // the narrow file's digits are the declared value verbatim, so the
  // underlying accessor serves them under the requested precision —
  // Decimal.apply re-labels, no digit moves
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = from match {
    case _: DecimalType => under.getDecimal(i, precision, scale)
    case _ => unsupported
  }
  override def close(): Unit = under.close()
  private def unsupported = throw new UnsupportedOperationException(
    s"widened arrow column is ${declared.simpleString}-typed")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = unsupported
  override def getBinary(i: Int): Array[Byte] = unsupported
  override def getChild(ordinal: Int): ColumnVector = unsupported
}

private[arrow] final class SelectedVector(under: ColumnVector,
    sel: Array[Int]) extends ColumnVector(under.dataType()) {
  override def hasNull: Boolean = under.hasNull
  override def numNulls: Int = {
    var n = 0
    var i = 0
    while (i < sel.length) { if (under.isNullAt(sel(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(i: Int): Boolean = under.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = under.getBoolean(sel(i))
  override def getByte(i: Int): Byte = under.getByte(sel(i))
  override def getShort(i: Int): Short = under.getShort(sel(i))
  override def getInt(i: Int): Int = under.getInt(sel(i))
  override def getLong(i: Int): Long = under.getLong(sel(i))
  override def getFloat(i: Int): Float = under.getFloat(sel(i))
  override def getDouble(i: Int): Double = under.getDouble(sel(i))
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray =
    under.getArray(sel(i))
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = under.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    under.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    under.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = under.getBinary(sel(i))
  override def getChild(ordinal: Int): ColumnVector =
    new SelectedVector(under.getChild(ordinal), sel)
  override def close(): Unit = under.close()
}

/** Lazy dictionary-resolved string column: holds the batch's int32
  * index vector (reader-owned, zero-copy) plus the file-level value
  * array and resolves `getUTF8String` per access — Spark's vectorized
  * parquet reader's indices-plus-dictionary model, avoiding the full
  * decoded vector per batch that eager `DictionaryEncoder.decode`
  * would allocate. */
private[arrow] final class DictStringVector(
    indices: org.apache.arrow.vector.IntVector,
    values: Array[org.apache.spark.unsafe.types.UTF8String])
    extends ColumnVector(StringType) {
  override def hasNull: Boolean = indices.getNullCount > 0
  override def numNulls: Int = indices.getNullCount
  override def isNullAt(i: Int): Boolean = indices.isNull(i)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = values(indices.get(i))
  override def getBinary(i: Int): Array[Byte] =
    values(indices.get(i)).getBytes
  // indices are owned by the reader's root; values are shared per-file
  override def close(): Unit = ()
  private def unsupported = throw new UnsupportedOperationException(
    "dictionary-encoded arrow column is string-typed")
  override def getBoolean(i: Int): Boolean = unsupported
  override def getByte(i: Int): Byte = unsupported
  override def getShort(i: Int): Short = unsupported
  override def getInt(i: Int): Int = unsupported
  override def getLong(i: Int): Long = unsupported
  override def getFloat(i: Int): Float = unsupported
  override def getDouble(i: Int): Double = unsupported
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal = unsupported
  override def getChild(ordinal: Int): ColumnVector = unsupported
}

class ArrowBatchReader(partition: ArrowFilePartition, schema: StructType,
    partSchema: StructType, decl: ArrowDataSource.Declaration)
    extends ArrowReaderBase(partition, schema, partSchema, decl)
    with PartitionReader[ColumnarBatch] {
  private var current: ColumnarBatch = _
  override def next(): Boolean = nextBatch() match {
    case Some(b) => current = b; true
    case None => false
  }
  override def get(): ColumnarBatch = current
  override def close(): Unit = closeAll()
}

/** Scan produced when an aggregate was pushed: emits the per-file
  * partial rows precomputed from footer statistics — no data batch is
  * ever opened (ArrowAggPushdownSpec pins this via
  * [[ArrowDataSource.recordBatchesLoaded]]). Spark plans the final
  * merge aggregate (min-of-mins / sum-of-counts) above this scan. */
class ArrowAggScan(path: String, aggSchema: StructType,
    rows: Seq[Array[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-arrow-agg $path stats=[${aggSchema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ArrowAggPartition(rows.toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition)
          : PartitionReader[InternalRow] = {
        val vals = partition.asInstanceOf[ArrowAggPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < vals.length }
          override def get(): InternalRow =
            new GenericInternalRow(vals(i))
          override def close(): Unit = ()
        }
      }
    }
}

/** All per-file partial rows ride in one tiny partition (one row per
  * file; values are boxed primitives/null). */
case class ArrowAggPartition(rows: Array[Array[Any]])
  extends InputPartition

/** Row-at-a-time reader. Normal scans never take this path
  * (`supportColumnarReads` is unconditionally true, so Spark drives
  * [[ArrowColumnarReader]]); it stays for the two callers that need
  * `InternalRow`s directly: the DSv2 `PartitionReaderFactory.
  * createReader` API contract, and [[ArrowDelete.rewriteFile]]'s
  * copy-on-write rewrite loop. */
class ArrowRowReader(partition: ArrowFilePartition, schema: StructType,
    filters: Array[Filter], partSchema: StructType,
    decl: ArrowDataSource.Declaration)
    extends ArrowReaderBase(partition, schema, partSchema, decl)
    with PartitionReader[InternalRow] {
  private val predicate: InternalRow => Boolean =
    if (filters.isEmpty) _ => true
    else {
      val compiled = filters.map(FilterEval.compile(schema, _))
      row => compiled.forall(_(row))
    }
  private var rows: java.util.Iterator[InternalRow] =
    java.util.Collections.emptyIterator()
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      while (rows.hasNext) {
        val r = rows.next()
        if (predicate(r)) { current = r; return true }
      }
      nextBatch() match {
        case Some(b) => rows = b.rowIterator()
        case None => return false
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = closeAll()
}
