package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.arrow.{ArrowChanges, ArrowDataSource}
import MaintainCore.{Target, assign, src}

/** Incremental materialized-view maintenance: keep a grouped
  * COUNT/SUM aggregate table in sync with a logged source by applying
  * the source's CHANGE FEED as additive deltas — never re-scanning the
  * source (the materialized-view refresh every warehouse builds over
  * CDC; Delta Live Tables' incremental aggregate shape).
  *
  * Per micro-batch: every change row contributes `+1`/`-1` (insert /
  * delete) times its measure to its group, one hash aggregation nets
  * the batch to per-group deltas (copy-on-write carry-over rows cancel
  * in the signed sum; multi-epoch backlogs telescope — the deltas of
  * epochs `a..b` sum to `agg(V_b) - agg(V_a)` groupwise), and ONE
  * keyed MERGE folds them into the view: existing groups accumulate,
  * groups netting to zero rows are deleted, new groups insert. Refresh
  * cost is O(churned bytes) + O(affected groups), independent of
  * source size: a day of DML against a petabyte fact table maintains
  * its rollup in one small job.
  *
  * Exactly-once: additive deltas must not double-apply when Spark
  * replays a micro-batch (foreachBatch is at-least-once), so each
  * apply commits under a writer-transaction stamp
  * ([[ArrowDataSource.withPendingTxn]]) — the `(appId, batchId)` pair
  * lands atomically inside the view's epoch manifest, and a replayed
  * batch is skipped by the [[graft.sources.arrow.TableLog.lastTxnVersion]] gate
  * before any job runs. This is Delta's idempotent-writer `txn`
  * contract, not convergence-by-key: the gate is exact even though
  * delta application is not idempotent.
  *
  * Maintained aggregates are the self-maintainable ones — COUNT and
  * integral SUMs (cast measures to exact integer units: cents, not
  * double dollars — addition order then cannot drift the state).
  * AVG derives as sum/count at read time. MIN/MAX are NOT
  * self-maintainable under deletes (a retracted minimum needs a
  * group re-scan) and are refused by construction here.
  */
object IncrementalView {

  /** View column layout: `groupCols` as in the source, then `n`
    * (row count), then one LONG column per `(sqlExpr, alias)` sum —
    * `sqlExpr` is evaluated per source row and must be integral. */
  def viewSchema(src: StructType, groupCols: Seq[String],
      sums: Seq[(String, String)]): StructType = {
    val g = groupCols.map(c => src.fields(src.fieldIndex(c)))
    StructType(g ++ (StructField("n", LongType) +:
      sums.map { case (_, a) => StructField(a, LongType) }))
  }

  /** Create an empty view table at `viewDir` if absent (schema from
    * the ENRICHED source's), so the first MERGE has a target to
    * commit into. */
  def ensureView(spark: SparkSession, srcDir: String, viewDir: String,
      groupCols: Seq[String], sums: Seq[(String, String)],
      enrich: DataFrame => DataFrame = identity): Unit = {
    val d = new java.io.File(viewDir)
    val hasData = Option(d.listFiles())
      .exists(_.exists(f => f.getName.endsWith(".arrow") ||
        f.getName == ArrowDataSource.MetadataDirName))
    if (!hasData) {
      val srcSchema =
        enrich(spark.read.format("arrow").load(srcDir)).schema
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        viewSchema(srcSchema, groupCols, sums))
        .coalesce(1)
        .write.format("arrow").mode("overwrite").save(viewDir)
    }
  }

  /** Start maintaining `viewDir` = `SELECT groupCols, COUNT(*) AS n,
    * SUM(expr) AS alias... FROM enrich(srcDir) GROUP BY groupCols` off
    * the source's streaming change feed. `availableNow` drains
    * everything committed at start and stops (batch-style refresh);
    * otherwise the view follows the source continuously.
    *
    * `enrich` extends the self-maintainable family to JOIN VIEWS over
    * immutable dimensions (the classic IVM case): it must be a
    * deterministic per-row 1:1 mapping of each fact row — e.g. a
    * broadcast lookup join to a STATIC dim — so a row's delete change
    * enriches exactly like its insert did and the signed deltas still
    * telescope. A mutating dim would need re-enrichment of untouched
    * fact rows (not expressible as a fact-feed delta) and is out of
    * contract; `_change_type`/`_commit_epoch` must pass through. */
  def maintain(spark: SparkSession, srcDir: String, viewDir: String,
      groupCols: Seq[String], sums: Seq[(String, String)],
      checkpoint: String, startingEpoch: Long = 0L,
      availableNow: Boolean = true,
      enrich: DataFrame => DataFrame = identity): StreamingQuery = {
    require(groupCols.nonEmpty, "incremental view needs group columns")
    ensureView(spark, srcDir, viewDir, groupCols, sums, enrich)
    val appId = MaintainCore.appId("graft_ivm_", checkpoint)
    MaintainCore.start(spark, srcDir, checkpoint, startingEpoch,
        availableNow, enrich) { (batch, batchId) =>
      applyDelta(batch, viewDir, groupCols, sums, appId, batchId)
      ()
    }
  }

  /** The maintained view as a DataFrame. */
  def read(spark: SparkSession, viewDir: String): DataFrame =
    spark.read.format("arrow").load(viewDir)

  /** Apply one micro-batch of tagged change rows as per-group deltas.
    * Returns false when the replay gate skipped the batch (its
    * `(appId, version)` stamp is already committed to the view log).
    * A batch with no rows passes the gate but runs no delta or MERGE
    * job and commits no view epoch. */
  def applyDelta(batch: DataFrame, viewDir: String,
      groupCols: Seq[String], sums: Seq[(String, String)],
      appId: String, version: Long): Boolean =
    MaintainCore.applyOnce(batch, viewDir, Some((appId, version))) {
      mergeDelta(netDelta(signChanges(batch, "__sign"), groupCols, sums),
        viewDir, groupCols, sums)
    }

  /** ±1 sign for a change-feed row: inserts / update-postimages add,
    * deletes / update-preimages retract. Tag columns are consumed. */
  private def signChanges(changes: DataFrame, as: String): DataFrame =
    changes
      .withColumn(as, when(col(ArrowChanges.ChangeTypeCol)
          .isin("insert", ArrowChanges.UpdatePostimage), 1L)
        .otherwise(-1L))
      .drop(ArrowChanges.ChangeTypeCol, ArrowChanges.CommitEpochCol)

  /** Net signed rows (a `__sign` column of ±1 products) to per-group
    * deltas: one hash aggregation, groups netting to all-zero dropped. */
  private def netDelta(signedRows: DataFrame, groupCols: Seq[String],
      sums: Seq[(String, String)]): DataFrame = {
    val deltaNames = "__dn" +: sums.map { case (_, a) => s"__d_$a" }
    // coalesce: a batch whose change rows all carry a NULL measure for
    // a group sums to NULL, and `t.sum + NULL` would silently null the
    // accumulated state — NULL measures contribute 0, matching SUM's
    // ignore-NULLs semantics for any group that has at least one
    // non-null value (the view's documented contract: integral units)
    val deltaAggs = sum(col("__sign")).as("__dn") +: sums.map {
      case (e, a) =>
        coalesce(sum(col("__sign") * expr(e).cast(LongType)), lit(0L))
          .as(s"__d_$a")
    }
    val zero = deltaNames.map(col(_) === 0L).reduce(_ && _)
    signedRows
      .groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .filter(!zero) // groups the batch leaves untouched: no-op rows out
  }

  /** Fold one netted per-group delta frame into the view with ONE
    * keyed MERGE: ONE view epoch, so the caller's txn stamp, the group
    * updates, the group deletes and the new groups land in one atomic
    * commit.
    *
    * The MERGE evaluates its source across several internal jobs, but
    * the delta's lineage here is ONE CDF scan + netting hash-agg — a
    * persist was tried (round-18, guide §5) and measured SLOWER
    * back-to-back (cdc_incremental_agg 1.03/1.00 s unpinned vs
    * 1.15/1.19 pinned; join_agg likewise): the materialization
    * barrier + cache write cost more than re-running the cheap
    * pipeline. Contrast ChangeReplication, where the SAME fix on a
    * two-window source pipeline took cdc_replicate 5.26 → 1.94 s.
    * Left unpinned deliberately. */
  private def mergeDelta(delta: DataFrame, viewDir: String,
      groupCols: Seq[String], sums: Seq[(String, String)]): Unit = {
    val t = Target(viewDir)
    val dn = t("n") + src("__dn")
    val aliases = sums.map(_._2)
    MaintainCore.mergeInto(delta, t, // null-safe: NULL group keys are groups too
        groupCols.map(k => t(k) <=> src(k)).reduce(_ && _))
      .whenMatched(dn <= 0).delete()
      // coalesce(t.*) guards state written before the delta-side
      // coalesce existed (a NULL already in the view must not stay
      // sticky once deltas resume arriving)
      .whenMatched().update(Map("`n`" -> dn) ++ assign(aliases)(a =>
        coalesce(t(a), lit(0)) + src(s"__d_$a")))
      .whenNotMatched(src("__dn") > 0).insert(
        assign(groupCols)(src) ++ Map("`n`" -> src("__dn")) ++
          assign(aliases)(a => src(s"__d_$a")))
      .merge()
  }

  /** Two source epochs in one txn-stamp long: `(fact << 31) | dim`.
    * Both cursors are per-table commit COUNTS, monotonically
    * non-decreasing, so the packed value is monotone and the existing
    * `lastTxnVersion >= version` replay gate stays exact. Bounds (fact
    * < 2^32, dim < 2^31 epochs) are checked — a view would need two
    * billion dim commits to outgrow them. */
  private val DimEpochBits = 31
  private def packEpochs(fact: Long, dim: Long): Long = {
    require(fact >= 0 && fact < (1L << 32) && dim >= 0 &&
      dim < (1L << DimEpochBits),
      s"ivm: epoch cursor out of packing range (fact=$fact dim=$dim)")
    (fact << DimEpochBits) | dim
  }
  private def unpackEpochs(v: Long): (Long, Long) =
    (v >>> DimEpochBits, v & ((1L << DimEpochBits) - 1L))

  /** How many churned dim keys may be folded to the driver and pushed
    * into the old-fact scan as an IN filter (zone-map / Bloom prunable
    * at the Arrow source). Above the bound the term falls back to the
    * distributed join — still O(fact ⋉ ΔD) after the join, but the
    * scan reads the fact table. Dim churn per refresh is normally tiny
    * (the whole premise of IVM), so the pushdown arm is the hot path. */
  private val MaxPushedDimKeys = 10000

  /** Incrementally refresh a JOIN view over a MUTABLE dimension —
    * `viewDir` = `SELECT groupCols, COUNT(*) AS n, SUM(expr) AS alias…
    * FROM fact F JOIN dim D ON F.factKey = D.dimKey GROUP BY
    * groupCols` where BOTH tables are logged Arrow tables that churn.
    * Lifts [[maintain]]'s immutable-dim restriction via the standard
    * delta-join (bilinear) identity over signed multisets:
    *
    *   Δ(F ⋈ D) = ΔF ⋈ D_old  ∪  F_old ⋈ ΔD  ∪  ΔF ⋈ ΔD
    *
    * with ΔF/ΔD the change feeds of the epoch windows since the last
    * refresh (updates = signed preimage/postimage pairs) and
    * F_old/D_old the `VERSION AS OF` snapshots at the last refresh's
    * cursors. The three terms union, net through ONE hash aggregation,
    * and fold into the view via the same single exactly-once MERGE as
    * the fact-only path — the refresh cursor is the packed
    * (factEpoch, dimEpoch) pair in the view's txn stamp, so a crashed
    * or replayed refresh is skipped exactly.
    *
    * Scale: ΔF⋈D_old and ΔF⋈ΔD are O(fact churn); F_old⋈ΔD is
    * O(fact rows referencing churned dim keys) — when the churned key
    * set is small (the normal case) it is collected and pushed into
    * the fact scan as an IN filter (zone-map/Bloom-prunable), so a
    * day's dim churn against a petabyte fact table re-enriches only
    * the matching fact slice, never the table. `dimKey` must be unique
    * within the dim at every epoch (the usual PK contract; fact rows
    * without a match drop from the view, inner-join semantics).
    *
    * The first refresh of an empty view is the full build
    * `F_asof ⋈ D_asof` (there is no cheaper correct start), stamped
    * with the epochs it read. Returns false when the cursor is already
    * at (or past) the sources' current epochs — nothing to do.
    * `factUpTo`/`dimUpTo` pin the refresh target to specific committed
    * epochs (default: each source's latest) — a reproducible refresh
    * to a known snapshot pair, and the window control replayed
    * histories need. */
  def refreshJoined(spark: SparkSession, factDir: String, dimDir: String,
      viewDir: String, factKey: String, dimKey: String,
      dimCols: Seq[String], groupCols: Seq[String],
      sums: Seq[(String, String)], appId: String,
      factUpTo: Option[Long] = None,
      dimUpTo: Option[Long] = None): Boolean = {
    require(groupCols.nonEmpty, "incremental join view needs group columns")
    val fRoot = java.nio.file.Paths.get(factDir).toAbsolutePath.normalize
    val dRoot = java.nio.file.Paths.get(dimDir).toAbsolutePath.normalize
    val fLatest = ArrowDataSource.latestCommittedEpoch(fRoot)
    val dLatest = ArrowDataSource.latestCommittedEpoch(dRoot)
    val f1 = factUpTo.getOrElse(fLatest)
    val d1 = dimUpTo.getOrElse(dLatest)
    require(f1 >= 0 && f1 <= fLatest && d1 >= 0 && d1 <= dLatest,
      s"refreshJoined: target epochs ($f1, $d1) out of committed " +
        s"range (fact 0..$fLatest, dim 0..$dLatest)")
    def asOf(dir: String, e: Long): DataFrame =
      spark.read.format("arrow").option("epochAsOf", e.toString).load(dir)
    // the dim key travels under a reserved name so `factKey == dimKey`
    // (star schemas routinely share the column name) never makes the
    // join condition ambiguous; dimCols must not collide with fact
    // columns (they land in the joined row as-is)
    val dimProj: DataFrame => DataFrame =
      df => df.select(col(dimKey).as("__dimk") +: dimCols.map(col): _*)
    val enrichNow: DataFrame => DataFrame = f =>
      f.join(dimProj(asOf(dimDir, d1)), col(factKey) === col("__dimk"))
        .drop("__dimk")
    ensureView(spark, factDir, viewDir, groupCols, sums, enrichNow)
    val version = packEpochs(f1, d1)
    val prev = MaintainCore.lastVersion(viewDir, appId)
    if (prev.exists(_ >= version)) return false
    val delta = prev match {
      case None =>
        // empty view: full initial build as of (f1, d1), all +1
        netDelta(enrichNow(asOf(factDir, f1)).withColumn("__sign", lit(1L)),
          groupCols, sums)
      case Some(v) =>
        val (f0, d0) = unpackEpochs(v)
        // the packed-version gate above only proves the PAIR advanced;
        // a pin that advances one component while regressing the other
        // (prev=(2,5), target=(3,3)) would pass it and then fail deep
        // inside ArrowChanges.between with a misleading window error —
        // refuse per-component regression here with the real reason
        require(f1 >= f0 && d1 >= d0,
          s"refreshJoined: target epochs ($f1, $d1) regress the " +
            s"view's cursor ($f0, $d0) on one component — a " +
            "maintenance window never runs backwards; rebuild the " +
            "view to travel to an earlier snapshot")
        val dF = signChanges(
          ArrowChanges.between(spark, factDir, f0, f1), "__fsign")
        val dD = signChanges(
          ArrowChanges.between(spark, dimDir, d0, d1), "__dsign")
          .select((col(dimKey).as("__dimk") +: dimCols.map(col)) :+
            col("__dsign"): _*)
        val dOld = dimProj(asOf(dimDir, d0)).withColumn("__dsign", lit(1L))
        // F_old ⋈ ΔD touches only fact rows whose key is in ΔD's key
        // set — push that set into the scan when it folds to driver
        // size (the netted signed feed repeats a key at most a few
        // times, so distinct-then-limit bounds the collect)
        val dKeys = dD.select(col("__dimk")).distinct()
          .limit(MaxPushedDimKeys + 1).collect().map(_.get(0))
        val fOldAll = asOf(factDir, f0).withColumn("__fsign", lit(1L))
        val fOld =
          if (dKeys.length <= MaxPushedDimKeys)
            fOldAll.filter(col(factKey).isInCollection(dKeys.toSeq))
          else fOldAll
        def term(f: DataFrame, d: DataFrame): DataFrame =
          f.join(d, col(factKey) === col("__dimk"))
            .withColumn("__sign", col("__fsign") * col("__dsign"))
            .drop("__dimk", "__fsign", "__dsign")
        val contributions = term(dF, dOld)
          .unionByName(term(fOld, dD))
          .unionByName(term(dF, dD))
        netDelta(contributions, groupCols, sums)
    }
    MaintainCore.commit(viewDir, Some((appId, version))) {
      mergeDelta(delta, viewDir, groupCols, sums)
    }
    true
  }
}
