package graft.sources.arrow

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.dictionary.DictionaryProvider
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.types._

/** Write path: one Arrow IPC file per task, record batches of
  * `BatchRows` rows, optional lz4/zstd buffer compression
  * (`option("codec", "lz4"|"zstd")` — the reference's declared
  * "custom compression" surface, BASELINE.json:6).
  *
  * Codec guidance: prefer zstd. The zstd path is a native binding;
  * Arrow Java's lz4 path runs commons-compress's pure-Java LZ4, which
  * is ~100× slower on string-heavy batches (measured 142 s vs ~1 s
  * writing 150k orders rows) — lz4 is kept for format compatibility,
  * not as a performance option.
  *
  * Commit protocol: tasks stream into an [[AtomicFiles.tempFor]] temp
  * of `part-<pid>-<tid>-<uuid>.arrow` (invisible to readers — the
  * lister only matches `*.arrow`) and atomically rename at commit, so
  * a concurrent reader can never observe a file whose footer is not
  * yet written; task abort deletes the temp. Truncate-on-overwrite
  * clears pre-existing `.arrow` files (and stale temps) on the driver
  * before tasks launch.
  *
  * Strings are written PLAIN, not dictionary-encoded — a deliberate
  * trade-off: the IPC file format does allow delta dictionary batches
  * (applied in footer order), but Arrow Java's `ArrowFileWriter`
  * serializes its `DictionaryProvider`'s dictionaries once up front
  * and exposes no incremental-delta API, so a single-pass streaming
  * writer would have to buffer the whole task output to learn each
  * dictionary before writing. Buffer-level zstd/lz4 captures most of
  * the repetition win for low-cardinality strings without that memory
  * cliff; a future two-pass "optimize" rewrite (the layout_compaction
  * shape) is the right place for true dictionary encoding.
  */
class ArrowWriteBuilder(path: String, schema: StructType,
    codec: Option[String], batchRows: Int,
    partitionCols: Seq[String] = Seq.empty, maxOpenWriters: Int = 64,
    compactInterval: Int = ArrowDataSource.DefaultCompactInterval,
    bucket: Option[(String, Int)] = None,
    bloomCols: Seq[String] = Seq.empty,
    sortCol: Option[String] = None,
    optimizeWrite: Boolean = false,
    stageOnly: Boolean = false,
    transform: Option[PartitionTransform] = None,
    stageToken: Option[String] = None,
    mergeSchema: Boolean = false)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** `option("optimizeWrite", true)` on a partitioned write: ask Spark
    * to CLUSTER incoming rows by the partition columns before the
    * writers see them (`RequiresDistributionAndOrdering` — Delta's
    * optimized write). Without it, N tasks × P live partition values
    * can land N×P files per batch; with it each partition value
    * arrives at one task and lands one file. The shuffle this buys is
    * the small-file debt a 1000-executor ingest would otherwise pay on
    * every downstream scan. Advisory, not strict: AQE may coalesce. */
  private trait ClusterByPartitions
      extends org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering {
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      org.apache.spark.sql.connector.distributions.Distributions
        .clustered(transform.map(t => Seq(t.srcCol))
          .getOrElse(partitionCols).toArray.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions
            .column(c): org.apache.spark.sql.connector.expressions
            .Expression))
    override def distributionStrictlyRequired(): Boolean = false
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      Array.empty
  }

  override def build(): Write =
    if (optimizeWrite && (partitionCols.nonEmpty || transform.isDefined))
      new ArrowWriteImpl with ClusterByPartitions
    else new ArrowWriteImpl

  private class ArrowWriteImpl extends Write {
    override def toBatch: BatchWrite =
      new ArrowBatchWrite(path, schema, codec, batchRows, doTruncate,
        partitionCols, maxOpenWriters, bucket, bloomCols, sortCol,
        stageOnly, transform, stageToken, mergeSchema)
    override def toStreaming: streaming.StreamingWrite = {
      // Streaming epochs re-plan nothing between micro-batches, so a
      // mid-stream schema merge could never take effect consistently —
      // refuse rather than silently ignore the option.
      if (mergeSchema) throw new UnsupportedOperationException(
        "arrow: mergeSchema is a batch-write option; evolve a " +
          "streaming sink's schema via CALL graft.system.add_column " +
          "between runs")
      // Complete output mode calls truncate() expecting each epoch to
      // REPLACE the directory; the append-only epoch protocol below
      // cannot honor that, and silently appending every snapshot would
      // duplicate data — fail fast instead.
      if (doTruncate) throw new UnsupportedOperationException(
        "arrow streaming sink is append-only (use outputMode append/" +
          "update); complete mode needs per-epoch truncation it does " +
          "not implement")
      // A TABLE log numbers epochs by the log; a stream numbers them
      // by its checkpoint. Mixing the two, a stream restarted from
      // epoch 0 would no-op against already-committed table epochs and
      // silently drop its batches.
      if (ArrowDataSource.isTableLog(path))
        throw new UnsupportedOperationException(
          s"arrow: $path is a logged table (DML/logged-batch commits); " +
            "writeStream into it would collide with table epochs. " +
            "Stream into a fresh directory instead.")
      new ArrowStreamingWrite(path, schema, codec, batchRows,
        partitionCols, maxOpenWriters, compactInterval, bloomCols,
        transform)
    }
  }
}

/** Streaming sink: each micro-batch epoch appends task files (the
  * same uuid-named writers as the batch path, partition routing
  * included), so `writeStream.format("arrow")` lands an append-only
  * directory the batch reader scans directly. Delivery is
  * EXACTLY-ONCE at the read surface: the driver's epoch commit writes
  * an atomic per-epoch manifest (`_graft_metadata/<epoch>.manifest` —
  * Spark file sink's `_spark_metadata` pattern) listing exactly the
  * files whose tasks committed, and every reader listing
  * ([[ArrowDataSource.visibleIpcFiles]]) honors it: a task retried
  * after writing its file, or a whole epoch replayed after driver
  * recovery, leaves orphan files that never enter a manifest and are
  * never read. Epoch commits are idempotent (first manifest wins). */
class ArrowStreamingWrite(path: String, schema: StructType,
    codec: Option[String], batchRows: Int, partitionCols: Seq[String],
    maxOpenWriters: Int = 64,
    compactInterval: Int = ArrowDataSource.DefaultCompactInterval,
    bloomCols: Seq[String] = Seq.empty,
    transform: Option[PartitionTransform] = None)
    extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    val genPlan = GeneratedColumns.writePlan(
      org.apache.spark.sql.SparkSession.active, path, schema)
    val effSchema = genPlan.map(_.schema).getOrElse(schema)
    new ArrowStreamingWriterFactory(path, effSchema, codec, batchRows,
      partitionCols, maxOpenWriters, bloomCols,
      TableConstraints.bound(
        org.apache.spark.sql.SparkSession.active, path, effSchema,
        genPlan.map(_.appended).getOrElse(Set.empty)),
      transform, genPlan)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: ArrowCommitMessage => m }.toSeq
    val adds = msgs.flatMap(_.files)
    ArrowDataSource.commitEpochManifest(path, epochId, adds,
      compactInterval)
    // Footer stats ride the same epoch protocol as the manifest: one
    // small fragment per epoch (idempotent — a replayed epoch finds
    // its fragment present and no-ops), folded into the root sidecar
    // by log compaction. A long-lived sink accumulates exactly the
    // many-small-files shape whose planning footer sweep the index
    // avoids, at O(epoch files) write cost per trigger — never a full
    // sidecar rewrite.
    val pairs = adds.zip(msgs.flatMap(_.footers))
    if (pairs.nonEmpty)
      FooterIndexFile.appendEpochFragment(path, epochId,
        ArrowDataSource.readFooterSchema(Paths.get(pairs.head._1)),
        pairs)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ArrowCommitMessage =>
      m.files.foreach(f => Files.deleteIfExists(Paths.get(f)))
    }
}

class ArrowStreamingWriterFactory(path: String, schema: StructType,
    codec: Option[String], batchRows: Int, partitionCols: Seq[String],
    maxOpenWriters: Int = 64, bloomCols: Seq[String] = Seq.empty,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    transform: Option[PartitionTransform] = None,
    genPlan: Option[GeneratedColumns.GenPlan] = None)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    GeneratedColumns.generating(TableConstraints.enforcing(
      if (transform.isDefined)
        new ArrowPartitionedWriter(path, schema, codec, batchRows,
          partitionId, taskId, Seq.empty, maxOpenWriters, bloomCols,
          None, transform)
      else if (partitionCols.isEmpty)
        new ArrowDataWriter(path, schema, codec, batchRows, partitionId,
          taskId, Map.empty, bloomCols)
      else
        new ArrowPartitionedWriter(path, schema, codec, batchRows,
          partitionId, taskId, partitionCols, maxOpenWriters, bloomCols),
      checks), genPlan)
}

/** Task commit payload: the renamed-visible files, plus (aligned by
  * index) each file's [[FooterIndexFile.encodeInfo]] stats line —
  * captured executor-side right after the rename, while the footer the
  * task just wrote is page-cache hot, so the driver can fold stats
  * into the [[FooterIndexFile]] sidecar without re-opening any file. */
case class ArrowCommitMessage(files: Seq[String],
    footers: Seq[String] = Seq.empty) extends WriterCommitMessage

class ArrowBatchWrite(path: String, schema: StructType,
    codec: Option[String], batchRows: Int, doTruncate: Boolean,
    partitionCols: Seq[String], maxOpenWriters: Int = 64,
    bucket: Option[(String, Int)] = None,
    bloomCols: Seq[String] = Seq.empty,
    sortCol: Option[String] = None,
    stageOnly: Boolean = false,
    transform: Option[PartitionTransform] = None,
    stageToken: Option[String] = None,
    mergeSchema: Boolean = false)
    extends BatchWrite {

  // Logged-table state, captured at factory creation on the driver:
  // base epoch for the optimistic-concurrency check and (overwrite
  // only) the visible set this write replaces. -2 = not a logged
  // write (flat dir, streaming-sink dir, or stageOnly).
  private var loggedBase: Long = -2L
  private var loggedRemoves: Seq[String] = Seq.empty

  // The commit-log root governing this write: a write addressed at a
  // partition SUBDIRECTORY of a logged table (`save(dir + "/c=1")`)
  // must commit its epoch — and fold its footer stats — into the
  // TABLE's log, not fabricate a nested log under the subdirectory
  // (readers resolve visibility through sinkRoot, so a nested log's
  // files would be invisible from the root).
  private lazy val logDir: String =
    ArrowDataSource.sinkRoot(path).map(_.toString).getOrElse(path)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    // Schema evolution on append: widen the DECLARED schema before any
    // task can land a drifted footer (add_column invariants reused —
    // see GraftProcedures.mergeWriteSchema). The merge must run BEFORE
    // the logged-table branch below (promoting a bare dir changes
    // which commit path this write takes), but a STREAMING-SINK
    // directory is exempt: the append guard below refuses the write
    // outright, and a refused write must not leave a phantom column in
    // the sink's declaration (initTableLog also no-ops on sinks, so
    // the promotion the merge relies on can't happen there anyway).
    // Sink-root overwrites skip the merge too — the truncate deletes
    // the very footers a merge would union, so a declaration built
    // from them would resurrect the replaced schema as phantom nulls.
    val sinkNotTable = ArrowDataSource.sinkRoot(path).isDefined &&
      !ArrowDataSource.isTableLog(path)
    // mergeSchema against a streaming-sink directory cannot merge:
    // an overwrite truncates the very footers a merge would union
    // (the skip below), and an append is refused outright by the sink
    // guard. Silently dropping the option would hand a user asking
    // for overwrite-merge semantics plain replace semantics — refuse
    // loudly instead, matching the streaming writer's own refusal.
    if (mergeSchema && sinkNotTable)
      throw new UnsupportedOperationException(
        s"arrow: $path carries a streaming commit log " +
          s"(${ArrowDataSource.MetadataDirName}) — mergeSchema has " +
          "nothing to merge against here (an overwrite truncates the " +
          "sink's footers; an append is refused). Drop the option, or " +
          "overwrite without it and evolve afterwards.")
    if (mergeSchema && !sinkNotTable)
      GraftProcedures.mergeWriteSchema(path, schema,
        partitionCols.toSet ++ transform.map(_.dirCol))
    // Age-guarded like vacuum: a CONCURRENT writer's in-flight temp is
    // seconds old and must survive another write's planning sweep —
    // deleting it mid-task was a lost-write race (concurrent blind
    // appends). Crash debris is hours old and still goes.
    val tmpCutoff = System.currentTimeMillis() - 3600L * 1000
    def sweepTmp(d: java.io.File): Unit =
      Option(d.listFiles()).foreach(_.foreach { f =>
        if (f.isDirectory) sweepTmp(f)
        else if (f.getName.endsWith(".inprogress") &&
            f.lastModified() <= tmpCutoff) f.delete()
      })
    if (stageOnly) {
      // maintenance rewrites (compact/zorder) land files with NO
      // commit of their own; the procedure folds adds+removes into
      // one table epoch after the job returns
      ()
    } else if (ArrowDataSource.isTableLog(path)) {
      // Logged table: truncate and append both become ONE atomic
      // epoch at job commit. Nothing is physically deleted here —
      // the replaced files back VERSION AS OF until vacuum — and the
      // new files stay invisible (not in any manifest) until the
      // commit claim, so a mid-write reader still resolves the old
      // snapshot.
      loggedBase = ArrowDataSource.latestCommittedEpoch(
        Paths.get(logDir).toAbsolutePath.normalize)
      loggedRemoves =
        if (doTruncate)
          ArrowDataSource.visibleIpcFiles(path).map(_.toString)
        else Seq.empty
      sweepTmp(dir.toFile)
    } else if (doTruncate) {
      // A truncate addressed at a partition SUBDIRECTORY of a
      // streaming sink would delete files the sink root's log still
      // lists (deleteManifests below only clears a log AT `path`) —
      // every subsequent read of the root would fail or lie. Truncate
      // the sink at its root, where the log is cleared with the data.
      ArrowDataSource.sinkRoot(path).foreach { r =>
        require(r == dir.toAbsolutePath.normalize,
          s"arrow: $path is a partition subdirectory of the " +
            s"streaming sink at $r — overwrite the sink at its root " +
            "so its commit log is cleared with the data")
      }
      // listIpcFiles is recursive, so partition subdirectories empty
      // out too (the dirs themselves are reused on rewrite); stale
      // .inprogress temps from crashed writers go with them, and so
      // does any streaming-sink commit manifest — after a batch
      // overwrite the directory is flat-visible again
      ArrowDataSource.listIpcFiles(path).foreach(Files.deleteIfExists)
      ArrowDataSource.deleteManifests(path)
      sweepTmp(dir.toFile)
    } else if (ArrowDataSource.sinkRoot(path).isDefined) {
      // An APPEND into a streaming-sink directory (or a partition
      // subdirectory of one — sinkRoot climbs) would write files no
      // manifest ever lists — every reader hides them (visibleIpcFiles
      // honors the commit log), so the rows would vanish silently:
      // Spark's _spark_metadata gotcha. Refuse instead of losing data.
      throw new UnsupportedOperationException(
        s"arrow: $path carries a streaming commit log " +
          s"(${ArrowDataSource.MetadataDirName}); a batch append here " +
          "would write files invisible to every reader. Use " +
          "mode(\"overwrite\") to truncate the directory (clears the " +
          "commit log) or keep appending through writeStream.")
    }
    // GENERATED columns: absent ones extend the written schema and
    // are computed per row; supplied ones pass the equality gate in
    // the checks below (bound against the EXTENDED schema so a CHECK
    // or NOT NULL over a generated column sees the materialized value)
    val genPlan = GeneratedColumns.writePlan(
      org.apache.spark.sql.SparkSession.active, path, schema)
    val effSchema = genPlan.map(_.schema).getOrElse(schema)
    new ArrowWriterFactory(path, effSchema, codec, batchRows,
      partitionCols, maxOpenWriters, bucket, bloomCols, sortCol,
      TableConstraints.bound(
        org.apache.spark.sql.SparkSession.active, path, effSchema,
        genPlan.map(_.appended).getOrElse(Set.empty)),
      transform, genPlan)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: ArrowCommitMessage => m }.toSeq
    val adds = msgs.flatMap(_.files)
    // Re-assert the schema merge at commit. The declaration replace
    // is now a generation-addressed COMPARE-AND-SWAP
    // (ArrowDataSource.casDeclaredSchema): two concurrent mergeSchema
    // writers can no longer interleave-lose a column — the loser of a
    // generation claim recomputes against the fresh state and
    // re-publishes, so the old two-sided-interleave heal window is
    // gone by construction. This commit-time re-run is kept as a
    // cheap idempotent belt-and-braces (fresh-column set is empty
    // when the declaration already holds ours) and to cover exotic
    // failure modes (a manually clobbered sidecar between job start
    // and commit heals here, as ArrowMergeWriteSpec pins). Same
    // streaming-sink exemption as the job-start merge (a sink-root
    // overwrite reaches commit with the old footers already
    // truncated — nothing to merge).
    if (mergeSchema && (ArrowDataSource.isTableLog(path) ||
        ArrowDataSource.sinkRoot(path).isEmpty))
      GraftProcedures.mergeWriteSchema(path, schema,
        partitionCols.toSet ++ transform.map(_.dirCol))
    val epoch =
      if (loggedBase >= -1L) {
        // blind appends REBASE on an epoch-race loss (they conflict
        // with nothing); truncating overwrites keep failing fast even
        // when their captured remove set happens to be EMPTY (an
        // overwrite of an empty table racing an append must not land
        // on top of the appender's rows) — the mode, not the remove
        // set, decides
        if (!doTruncate && loggedRemoves.isEmpty)
          Some(ArrowDataSource.commitAppendWithRebase(logDir, loggedBase,
            adds))
        else
          Some(ArrowDataSource.commitTableEpoch(logDir, loggedBase, adds,
            loggedRemoves))
      } else None
    // staged-write handoff: record exactly this job's committed files
    // for the launching maintenance procedure (see
    // ArrowDataSource.stagedFiles) — dir-diffing could claim a
    // concurrent appender's files
    if (stageOnly) stageToken.foreach { t =>
      ArrowDataSource.stagedFiles.put(t, adds); ()
    }
    // an overwrite replaces the DATA the analyzed NDVs describe:
    // serving the old distinct counts would misestimate every join
    // over the new contents — drop them with the rest of the stats
    if (doTruncate)
      Files.deleteIfExists(Paths.get(logDir).toAbsolutePath.normalize
        .resolve(ColumnStatsFile.FileName))
    if (!stageOnly) {
      // Persist the tasks' footer stats so the NEXT planning of this
      // directory is one metadata read, not O(files) footer opens.
      val pairs = adds.zip(msgs.flatMap(_.footers))
      if (pairs.isEmpty) {
        if (doTruncate && epoch.isEmpty) FooterIndexFile.drop(path)
      } else {
        // Canonical footer schema of this write (what readFooterSchema
        // surfaces): ONE footer open per commit, not per planning pass.
        val footSchema = ArrowDataSource.readFooterSchema(
          Paths.get(pairs.head._1))
        epoch match {
          // logged table: a per-epoch fragment, folded by log
          // compaction — NOT a full sidecar rewrite per commit (that
          // would be O(entries) per epoch, O(n²) over the log's life)
          case Some(e) =>
            FooterIndexFile.appendEpochFragment(logDir, e, footSchema,
              pairs)
          // flat dir: one-shot write, root sidecar directly; truncate
          // replaces prior entries (their files are gone)
          case None =>
            FooterIndexFile.update(path, footSchema, pairs,
              replace = doTruncate)
        }
      }
    }
    // post-commit auto-compaction (opt-in table property): the data
    // above is already durable — this never fails the write
    if (epoch.isDefined)
      AutoCompact.maybe(logDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: ArrowCommitMessage =>
      m.files.foreach(f => Files.deleteIfExists(Paths.get(f)))
    }
}

class ArrowWriterFactory(path: String, schema: StructType,
    codec: Option[String], batchRows: Int,
    partitionCols: Seq[String], maxOpenWriters: Int = 64,
    bucket: Option[(String, Int)] = None,
    bloomCols: Seq[String] = Seq.empty,
    sortCol: Option[String] = None,
    checks: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    transform: Option[PartitionTransform] = None,
    genPlan: Option[GeneratedColumns.GenPlan] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    // generation OUTSIDE enforcement: checks see materialized values;
    // partition routing below sees the extended row too
    GeneratedColumns.generating(TableConstraints.enforcing(bucket match {
      case Some((col, n)) =>
        new ArrowBucketedWriter(path, schema, codec, batchRows,
          partitionId, taskId, col, n, bloomCols, sortCol)
      case None if transform.isDefined =>
        new ArrowPartitionedWriter(path, schema, codec, batchRows,
          partitionId, taskId, Seq.empty, maxOpenWriters, bloomCols,
          sortCol, transform)
      case None if partitionCols.isEmpty =>
        new ArrowDataWriter(path, schema, codec, batchRows, partitionId,
          taskId, Map.empty, bloomCols, sortCol)
      case None =>
        new ArrowPartitionedWriter(path, schema, codec, batchRows,
          partitionId, taskId, partitionCols, maxOpenWriters, bloomCols,
          sortCol)
    }, checks), genPlan)
}

/** Bucketed layout: each row routes to the sub-file of
  * `GraftBucket.idOf(hash(key), n)`, and every file footer records its
  * `(bucket column, n, id)` — the metadata [[ArrowScan]] turns into a
  * reported `bucket(n, col)` KeyGroupedPartitioning, so two tables
  * bucketed with the same `n` on their join keys sort-merge-join with
  * NO exchange on either side (parquet's `bucketBy` for the Arrow
  * source, resolved through [[GraftCatalog]]).
  *
  * One open sub-writer per bucket id seen by this task (≤ n; input
  * pre-clustered by the key keeps it near 1). n is capped: a bucketed
  * layout wants tens of buckets per join-parallelism target, not a
  * partition-per-key explosion. */
class ArrowBucketedWriter(path: String, schema: StructType,
    codec: Option[String], batchRows: Int, partitionId: Int, taskId: Long,
    bucketCol: String, numBuckets: Int, bloomCols: Seq[String] = Seq.empty,
    sortCol: Option[String] = None)
    extends DataWriter[InternalRow] {
  require(numBuckets > 0 && numBuckets <= 4096,
    s"numBuckets must be in [1, 4096], got $numBuckets")
  private val ord = schema.fieldIndex(bucketCol)
  private val keyType = schema.fields(ord).dataType
  require(GraftBucket.supported(keyType),
    s"arrow bucketBy column $bucketCol has unsupported type $keyType")

  private val writers = new Array[ArrowDataWriter](numBuckets)

  override def write(row: InternalRow): Unit = {
    val id = GraftBucket.idOf(keyType, row, ord, numBuckets)
    var w = writers(id)
    if (w == null) {
      w = new ArrowDataWriter(path, schema, codec, batchRows, partitionId,
        taskId, Map(
          GraftBucket.MetaCol -> bucketCol,
          GraftBucket.MetaN -> numBuckets.toString,
          GraftBucket.MetaId -> id.toString), bloomCols, sortCol)
      writers(id) = w
    }
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val subs = writers.filter(_ != null).toSeq
      .map(_.commit()).collect { case m: ArrowCommitMessage => m }
    ArrowCommitMessage(subs.flatMap(_.files), subs.flatMap(_.footers))
  }

  override def abort(): Unit = writers.filter(_ != null).foreach(_.abort())

  override def close(): Unit = writers.filter(_ != null).foreach(_.close())
}

/** Derived (hidden) time partitioning — Iceberg's transform shape:
  * `option("partitionTransform", "days(event_time) AS event_day")`
  * routes rows into `event_day=YYYY-MM-DD/` directories computed from
  * the TIMESTAMP/DATE column per row, while the source column stays in
  * the files (nothing to materialize, nothing stripped). The derived
  * directory column reads back as an ordinary partition column, so
  * planning-time pruning, partition-scoped OPTIMIZE, and metadata-only
  * retention DELETE (`WHERE event_day < '2026-01-01'` — ISO values
  * compare chronologically as strings) all apply unchanged. Kinds:
  * years / months / days / hours. */
final case class PartitionTransform(kind: String, srcCol: String,
    dirCol: String) {
  import org.apache.spark.sql.types._
  def dirValue(dt: DataType, row: org.apache.spark.sql.catalyst
      .InternalRow, ord: Int): String = {
    val epochDayOrMicros: Long = dt match {
      case DateType => row.getInt(ord).toLong * 86400L * 1000000L
      case TimestampType | TimestampNTZType => row.getLong(ord)
      case other => throw new UnsupportedOperationException(
        s"partitionTransform over $other — needs DATE or TIMESTAMP")
    }
    val days = java.lang.Math.floorDiv(epochDayOrMicros,
      86400L * 1000000L)
    val d = java.time.LocalDate.ofEpochDay(days)
    kind match {
      case "years" => f"${d.getYear}%04d"
      case "months" => f"${d.getYear}%04d-${d.getMonthValue}%02d"
      case "days" => d.toString // YYYY-MM-DD
      case "hours" =>
        val micros = epochDayOrMicros - days * 86400L * 1000000L
        f"${d.toString}-${micros / 3600000000L}%02d"
      case other => throw new UnsupportedOperationException(
        s"partitionTransform kind '$other' — years|months|days|hours")
    }
  }
}

object PartitionTransform {
  private val Syntax =
    """(?i)\s*(years|months|days|hours)\s*\(\s*([^)\s]+)\s*\)\s+AS\s+(\w+)\s*""".r

  /** Parse `days(event_time) AS event_day`. */
  def parse(s: String): PartitionTransform = s match {
    case Syntax(kind, src, dir) =>
      PartitionTransform(kind.toLowerCase, src, dir)
    case _ => throw new IllegalArgumentException(
      s"partitionTransform: '$s' — expected " +
        "'years|months|days|hours(<tsCol>) AS <dirCol>'")
  }
}

/** Hive-style dynamic-partition routing: each row lands in
  * `path/c1=v1/.../part-...arrow` with the partition columns stripped
  * from the file (they live in the directory name — parquet's layout,
  * so partition pruning happens at planning from paths alone). One
  * open sub-writer per distinct combination seen by this task; tasks
  * that receive pre-clustered input (repartition on the partition
  * cols) keep that number at 1.
  *
  * Unclustered high-cardinality input is bounded too: at most
  * `maxOpenWriters` sub-writers (one VectorSchemaRoot + open channel
  * each) stay open per task; beyond that the least-recently-written
  * one is SEALED — its footer lands in the `.inprogress` temp and its
  * memory is freed — with the rename-visible step still deferred to
  * task commit, so crash atomicity is unchanged. A re-seen partition
  * simply opens a fresh uuid-named file. (Spark's own FileFormatWriter
  * solves this by sort-spilling instead; an LRU cap keeps the
  * single-pass shape and degrades to more, smaller files under true
  * high cardinality.) */
class ArrowPartitionedWriter(path: String, schema: StructType,
    codec: Option[String], batchRows: Int, partitionId: Int, taskId: Long,
    partitionCols: Seq[String], maxOpenWriters: Int = 64,
    bloomCols: Seq[String] = Seq.empty,
    sortCol: Option[String] = None,
    transform: Option[PartitionTransform] = None)
    extends DataWriter[InternalRow] {

  // TRANSFORM (hidden/derived) partitioning: the dir value derives
  // from a time column per row and the source column STAYS in the
  // file — Iceberg's days(ts) shape. Plain column partitioning strips
  // the partition columns from file content as before.
  private val partOrdinals: Array[Int] =
    if (transform.isDefined) Array.empty
    else partitionCols.map(schema.fieldIndex).toArray
  private val dataOrdinals: Array[Int] = schema.fields.indices
    .filterNot(partOrdinals.contains(_)).toArray
  private val dataSchema = StructType(dataOrdinals.map(schema.fields(_)))
  // the file's columns of each incoming row, one reused view
  private val dataRow =
    ProjectingInternalRow(dataSchema, dataOrdinals.toIndexedSeq)
  private val transformOrd: Int =
    transform.map(t => schema.fieldIndex(t.srcCol)).getOrElse(-1)

  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, ArrowDataWriter]
  // sealed-but-unrenamed temp files of evicted sub-writers
  private val evicted =
    scala.collection.mutable.ArrayBuffer.empty[ArrowDataWriter.Sealed]

  private def partValue(row: InternalRow, ord: Int): String = {
    if (row.isNullAt(ord)) return ArrowDataSource.NullPartValue
    val s = schema.fields(ord).dataType match {
      case StringType => row.getUTF8String(ord).toString
      case LongType => row.getLong(ord).toString
      case IntegerType => row.getInt(ord).toString
      case ShortType => row.getShort(ord).toString
      case ByteType => row.getByte(ord).toString
      case BooleanType => row.getBoolean(ord).toString
      case other => throw new UnsupportedOperationException(
        s"arrow partition column type $other")
    }
    ArrowDataSource.escapePartValue(s)
  }

  override def write(row: InternalRow): Unit = {
    val rel = transform match {
      case Some(t) =>
        val v =
          if (row.isNullAt(transformOrd)) ArrowDataSource.NullPartValue
          else t.dirValue(schema.fields(transformOrd).dataType,
            row, transformOrd)
        s"${t.dirCol}=$v"
      case None => partitionCols.zip(partOrdinals)
        .map { case (c, o) => s"$c=${partValue(row, o)}" }
        .mkString("/")
    }
    // LRU discipline: re-insert on access so the map's head is always
    // the least-recently-written partition.
    val w = writers.remove(rel) match {
      case Some(existing) => writers.put(rel, existing); existing
      case None =>
        if (writers.size >= maxOpenWriters) {
          val (lruKey, lru) = writers.head
          writers.remove(lruKey)
          evicted += lru.seal()
        }
        val dir = Paths.get(path, rel)
        Files.createDirectories(dir)
        val fresh = new ArrowDataWriter(dir.toString, dataSchema, codec,
          batchRows, partitionId, taskId, Map.empty, bloomCols, sortCol)
        writers.put(rel, fresh)
        fresh
    }
    dataRow.project(row)
    w.write(dataRow)
  }

  override def commit(): WriterCommitMessage = {
    val subs = writers.values.toSeq
      .map(_.commit()).collect { case m: ArrowCommitMessage => m }
    ArrowCommitMessage(evicted.map(_.publish()).toSeq ++
      subs.flatMap(_.files), evicted.map(_.footer).toSeq ++
      subs.flatMap(_.footers))
  }

  override def abort(): Unit = {
    writers.values.foreach(_.abort())
    evicted.foreach { s =>
      Files.deleteIfExists(s.tmp); Files.deleteIfExists(s.file)
    }
  }

  override def close(): Unit = writers.values.foreach(_.close())
}

/** One task's Arrow IPC file. Rows go into the vectors through Spark's
  * [[ArrowWriter]]; every `BatchRows` rows the batch is written out,
  * and its footer stats are computed once from the filled vectors:
  * zone maps ([[ZoneMaps.range]]), row and null counts, blooms
  * ([[ArrowBloom.addAll]]) and the file-wide sort check
  * ([[GraftSort.check]]). */
class ArrowDataWriter(path: String, schema: StructType,
    codec: Option[String], BatchRows: Int, partitionId: Int, taskId: Long,
    extraMeta: Map[String, String] = Map.empty,
    bloomCols: Seq[String] = Seq.empty,
    sortCol: Option[String] = None)
    extends DataWriter[InternalRow] {

  // Validate options and build the in-memory root BEFORE touching the
  // filesystem — a constructor failure must not leave a partial file
  // (DataWriter.abort never runs for writers that failed to construct).
  private val codecType = ArrowDataSource.codecType(codec)
  private val fields = schema.fields
  // The sorted-layout stamp is VERIFIED, not trusted: rows must arrive
  // ascending NULLS FIRST on sortCol across the WHOLE file, else no
  // stamp lands and readers plan as unsorted — a wrong upstream sort
  // can cost the optimization, never correctness.
  private val sortIdx: Int = sortCol match {
    case None => -1
    case Some(c) =>
      require(schema.fieldNames.contains(c),
        s"arrow sortBy column $c is not in the written schema " +
          s"${schema.fieldNames.mkString("[", ",", "]")} (partition " +
          "columns live in directories and cannot carry a sort stamp)")
      val i = schema.fieldIndex(c)
      require(GraftSort.supported(fields(i).dataType),
        s"arrow sortBy column $c has unsupported type " +
          s"${fields(i).dataType.simpleString}")
      i
  }
  private val allocator = ArrowDataSource.allocator
    .newChildAllocator(s"arrow-writer-$partitionId-$taskId", 0, Long.MaxValue)
  private val root = VectorSchemaRoot.create(
    ArrowSchemas.toArrowSchema(schema), allocator)
  private val rows = ArrowWriter.create(root)
  // Write under a temp name invisible to the reader (listIpcFiles only
  // matches *.arrow) and atomically rename at commit: a concurrent
  // reader — the micro-batch streaming source composing with the
  // streaming sink — must never list a file whose footer is not yet
  // written.
  private val file: Path = Paths.get(path,
    f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.arrow")
  private val tmpFile: Path = AtomicFiles.tempFor(file)
  private val channel: FileChannel = FileChannel.open(tmpFile,
    StandardOpenOption.CREATE, StandardOpenOption.WRITE,
    StandardOpenOption.TRUNCATE_EXISTING)
  // Footer stats land in this map; ArrowFileWriter keeps the REFERENCE
  // and serializes it into the footer at end(), so filling it after the
  // batch writes (footers are written last) is sound.
  private val metaData = new java.util.HashMap[String, String]()
  extraMeta.foreach { case (k, v) => metaData.put(k, v) }
  codec.foreach(c =>
    metaData.put(ArrowDataSource.CodecMetaKey, c.toLowerCase))
  private val writer: ArrowFileWriter = codecType match {
    case None =>
      new ArrowFileWriter(root, new DictionaryProvider.MapDictionaryProvider(),
        channel, metaData)
    case Some(ct) =>
      new ArrowFileWriter(root, new DictionaryProvider.MapDictionaryProvider(),
        channel, metaData, new IpcOption(),
        CommonsCompressionFactory.INSTANCE, ct)
  }
  writer.start()

  private var rowIdx = 0

  // ---- footer stats, one entry per written batch -------------------
  // Zone maps: min/max per trackable column (see ZoneMaps).
  private val zmCols: Array[Int] = fields.indices
    .filter(i => ZoneMaps.trackable(fields(i).name, fields(i).dataType))
    .toArray
  private val zmBatches =
    scala.collection.mutable.ArrayBuffer.empty[Seq[ZoneMaps.Range]]
  // Row and null counts, for COUNT aggregate pushdown (see
  // ZoneMaps.RowStats). Null counting is type-agnostic, so every column
  // with an encodable name is tracked, not just the zone-mapped ones.
  private val rsCols: Array[Int] = fields.indices
    .filter(i => ZoneMaps.RowStats.trackable(fields(i).name)).toArray
  private val rsBatches =
    scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
  // Per-FILE blooms for opt-in point-lookup pruning (see ArrowBloom):
  // one 64 KiB bloom per configured column. Unknown or unsupported
  // column names are skipped — blooms are an optimization surface.
  private val bloomColIdx: Array[Int] = bloomCols
    .filter(schema.fieldNames.contains(_))
    .map(schema.fieldIndex)
    .filter(i => ArrowBloom.supported(fields(i).dataType))
    .toArray
  private val bloomBits: Array[Array[Long]] =
    bloomColIdx.map(_ => ArrowBloom.emptyBits())
  private var sortCheck = GraftSort.Check()

  override def write(row: InternalRow): Unit = {
    rows.write(row)
    rowIdx += 1
    if (rowIdx >= BatchRows) flush()
  }

  private def flush(): Unit = {
    if (rowIdx > 0) {
      rows.finish()
      writer.writeBatch()
      def vec(i: Int) = root.getVector(i)
      zmBatches += zmCols.toSeq.map(i =>
        ZoneMaps.range(vec(i), fields(i).dataType, rowIdx))
      rsBatches += ((rowIdx.toLong,
        rsCols.toSeq.map(i => vec(i).getNullCount.toLong)))
      bloomColIdx.zip(bloomBits).foreach { case (i, bits) =>
        ArrowBloom.addAll(bits, vec(i), fields(i).dataType, rowIdx)
      }
      if (sortIdx >= 0) sortCheck = GraftSort.check(vec(sortIdx),
        fields(sortIdx).dataType, rowIdx, sortCheck)
      rows.reset()
      rowIdx = 0
    }
  }

  private var sealed_ : Option[ArrowDataWriter.Sealed] = None

  /** Finish the on-disk temp file (footer included) and release every
    * buffer — but do NOT rename it visible. The rename stays with TASK
    * commit, so an LRU-evicted sub-writer of [[ArrowPartitionedWriter]]
    * can free its memory mid-task without a crashed task ever leaving
    * a reader-visible file. */
  def seal(): ArrowDataWriter.Sealed = sealed_.getOrElse {
    flush()
    if (zmCols.nonEmpty && zmBatches.nonEmpty) {
      metaData.put(ZoneMaps.MetaKey,
        ZoneMaps.encode(zmCols.map(fields(_).name).toSeq, zmBatches.toSeq))
    }
    if (rsBatches.nonEmpty) {
      metaData.put(ZoneMaps.RowStats.MetaKey,
        ZoneMaps.RowStats.encode(rsCols.map(fields(_).name).toSeq,
          rsBatches.toSeq))
    }
    bloomColIdx.zip(bloomBits).foreach { case (i, bits) =>
      metaData.put(ArrowBloom.MetaPrefix + fields(i).name,
        ArrowBloom.encode(bits))
    }
    if (sortIdx >= 0 && sortCheck.ok)
      metaData.put(GraftSort.MetaCol, fields(sortIdx).name)
    writer.end()
    // the footer just written, parsed as a reader would parse it
    val footer = FooterIndexFile.encodeInfo(ArrowDataSource.parseFooter(
      metaData, writer.getRecordBlocks.asScala.toSeq))
    writer.close(); channel.close()
    root.close(); allocator.close()
    val s = ArrowDataWriter.Sealed(tmpFile, file, footer)
    sealed_ = Some(s)
    s
  }

  override def commit(): WriterCommitMessage = {
    val s = seal()
    ArrowCommitMessage(Seq(s.publish()), Seq(s.footer))
  }

  override def abort(): Unit = {
    if (sealed_.isEmpty) {
      try { writer.close(); channel.close(); root.close(); allocator.close() }
      catch { case _: Throwable => () }
    }
    Files.deleteIfExists(tmpFile)
    Files.deleteIfExists(file)
  }

  override def close(): Unit = ()
}

object ArrowDataWriter {
  /** A finished temp file, its final name, and its
    * [[FooterIndexFile.encodeInfo]] stats line. */
  final case class Sealed(tmp: Path, file: Path, footer: String) {
    /** Rename the file visible; returns its path. */
    def publish(): String = {
      AtomicFiles.publish(tmp, file)
      file.toString
    }
  }
}
