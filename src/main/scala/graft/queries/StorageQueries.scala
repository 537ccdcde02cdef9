package graft.queries

import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-engine mutation semantics (the reference is a STORAGE
  * engine — upsert/merge and snapshot diff are the operations its
  * Arrow-table store would serve): MERGE-style upsert and CDC-style
  * snapshot difference, both expressed as keyed joins so Catalyst
  * plans them like any other equi-join (broadcast or shuffle by key).
  *
  * Scale notes (100 TB): an upsert is one full-outer join keyed on the
  * primary key — with the base table bucketed/partitioned by that key,
  * the update side (usually ≪ base) co-partitions and the base never
  * fully rewrites except matched partitions (the dynamic-overwrite
  * pattern). The diff is the same join shape emitting only rows whose
  * value-hash changed, so the output is bounded by churn, not by table
  * size. Both derive their "update" side deterministically from the
  * fixtures so the DuckDB oracle states the same transformation.
  */
object StorageQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic update set: every 97th order gets a 10% price bump
    * and O→P status; every 193rd spawns a brand-new order (key+10M). */
  private def updates(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // exact decimal arithmetic (decimal literal × decimal cast), cast
    // back to double — engine-identical, unlike round(double, 2) whose
    // nearest-decimal algorithm differs between engines
    val bumped = o.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1 AS DOUBLE)")
          .as("u_totalprice"),
        lit("P").as("u_orderstatus"))
    val fresh = o.filter(col("o_orderkey") % 193 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 0.5 AS DOUBLE)")
          .as("u_totalprice"),
        lit("N").as("u_orderstatus"))
    bumped.union(fresh)
  }

  /** MERGE-style upsert: update matched keys, insert unmatched update
    * rows, keep everything else — one full-outer join on the key. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val u = updates(spark, dir)
    base.join(u, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        coalesce(col("u_orderstatus"), col("o_orderstatus"))
          .as("o_orderstatus"),
        coalesce(col("u_totalprice"), col("o_totalprice"))
          .as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** FULL-SYNC MERGE, oracle-gated: reconcile a drifted replica to a
    * source snapshot in ONE three-arm MERGE — `WHEN MATCHED UPDATE`
    * refreshes stale rows, `WHEN NOT MATCHED INSERT` lands new keys,
    * and `WHEN NOT MATCHED BY SOURCE DELETE` reaps orphans the source
    * no longer has (the arm plain upsert lacks — without it the
    * replica diverges monotonically). The replica is seeded WRONG on
    * every axis: zeroed prices for a slice (stale), keys above the
    * source window missing (gap), keys below it present (orphans) —
    * after the MERGE it must equal the source snapshot EXACTLY, which
    * is precisely what the oracle restates from `orders`. At 100 TB
    * this is the periodic reconciliation pass: runtime group
    * filtering bounds the rewrite to files holding churned keys. */
  def mergeFullSync(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val dst = graft.Scratch.dir("sync_dst", dir)
    graft.Scratch.reset(dst)
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    // drifted replica: keys <= 2000 only (missing the tail), prices
    // zeroed for a stale slice, plus orphan keys the source never had
    base.filter(col("o_orderkey") <= 2000)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, 0.0)
          .otherwise(col("o_totalprice")))
      .unionAll(base.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus")))
      .repartitionByRange(4, col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(dst)
    graft.sources.arrow.ArrowDataSource.initTableLog(dst)
    val srcView = "sync_src_" + java.util.UUID.randomUUID()
      .toString.takeRight(12)
    base.filter(col("o_orderkey") >= 500 && col("o_orderkey") <= 2500)
      .createOrReplaceTempView(srcView)
    spark.sql(
      s"""MERGE INTO graft.arrow.`$dst` t
         |USING $srcView s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    spark.catalog.dropTempView(srcView)
    spark.read.format("arrow").load(dst)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** MERGE INTO with SCHEMA EVOLUTION, oracle-gated — Delta's
    * `withSchemaEvolution`: the CDC source carries a column the
    * target has never seen (`o_channel`), and
    * [[graft.sources.arrow.MergeInto.withSchemaEvolution]] evolves
    * the declared schema (mergeWriteSchema invariants) BEFORE the
    * MERGE analyzes, so `UPDATE SET *` / `INSERT *` resolve against
    * the evolved target. The rewrite stays bounded: only files
    * holding matched keys are replaced (their carried-over rows
    * materialize the column as null); every untouched file serves it
    * as null through the by-name reader. */
  def mergeUpsertEvolve(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("mergeevo_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    val orders = Tables.orders(spark, dir)
    val src = orders.filter(col("o_orderkey") % 251 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
        lit("E").as("o_orderstatus"), lit("cdc").as("o_channel"))
      .unionAll(orders.filter(col("o_orderkey") % 257 === 0)
        .select((col("o_orderkey") + lit(80000000L)).as("o_orderkey"),
          col("o_totalprice"), lit("N").as("o_orderstatus"),
          lit("cdc-new").as("o_channel")))
    val view = "mergeevo_src_" + java.util.UUID.randomUUID()
      .toString.takeRight(12)
    graft.sources.arrow.MergeInto.withSchemaEvolution(spark, out, src,
      view,
      s"""MERGE INTO graft.arrow.`$out` t
         |USING $view s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.read.format("arrow").load(out)
      .groupBy(col("o_channel"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_channel").asc_nulls_first)
  }

  /** Right-to-be-forgotten PURGE, oracle-gated: a logged table with
    * real DML history takes `CALL graft.system.purge(path, predicate)`
    * — hard delete + deletion-vector materialization + zero-grace
    * vacuum in one audited pass — and the post-purge table must equal
    * the oracle's complement EXACTLY while the purged keys' bytes are
    * irrecoverable (ArrowPurgeSpec pins the horizon advance, the
    * time-travel refusal, the empty vector set, and the zero-invisible
    * file census; the compliance op Delta spells DELETE + REORG APPLY
    * (PURGE) + VACUUM RETAIN 0). */
  def arrowPurge(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("purge_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    // real pre-purge history: an epoch the purge's vacuum must be
    // able to reclaim past
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_totalprice = 0.0 " +
      "WHERE o_orderkey < 300")
    spark.sql(s"CALL graft.system.purge(path => '$out', " +
      "predicate => 'o_orderkey % 7 = 0')").collect()
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** CDC-style snapshot diff: classify every key as added / changed
    * between the base snapshot and the upserted one; unchanged rows
    * (the overwhelming majority at scale) never leave the join. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val next = mergeUpsert(spark, dir)
    val b = base.select(col("o_orderkey"),
      col("o_orderstatus").as("b_status"), col("o_totalprice").as("b_price"))
    val n = next.select(col("o_orderkey"),
      col("o_orderstatus").as("n_status"), col("o_totalprice").as("n_price"))
    b.join(n, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("b_status").isNull, "added")
          .when(col("n_status").isNull, "removed")
          .when(col("b_status") =!= col("n_status") ||
            col("b_price") =!= col("n_price"), "changed"))
      .filter(col("change_type").isNotNull)
      .select(col("o_orderkey"), col("change_type"),
        col("n_status").as("o_orderstatus"),
        col("n_price").as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** SCD Type-2 dimension build: collapse each customer's order-priority
    * history to its change points and attach validity intervals —
    * `valid_from` = first order at the new value, `valid_to` = next
    * change (NULL ⇒ current version). Two windows over the same
    * (custkey; orderdate, orderkey) ordering: a `lag` to detect change
    * points, a `lead` over the surviving rows to close intervals. One
    * shuffle total — both windows and the change filter share the same
    * partitioning, so Catalyst plans a single exchange + sort and at
    * 100 TB the history build streams per key with no rewrite of
    * unchanged versions. */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("prev_val", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev_val").isNull ||
        col("prev_val") =!= col("o_orderpriority"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority").as("dim_value"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        // INT not BOOLEAN: pandas stringifies engine booleans differently
        col("valid_to").isNull.cast("int").as("is_current"))
      .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
  }

  /** Arrow zone-map scan, end-to-end through the oracle gate: write
    * orders CLUSTERED by orderkey to the Arrow source (the writer
    * records per-batch min/max in the IPC footer), read back with a
    * key-range filter — planning drops every batch outside the range
    * (ZoneMapSpec proves the pruning; this query proves the pruned
    * scan is lossless) — and aggregate. The oracle computes the same
    * aggregate from the unclustered parquet source, so a hash match
    * means skipping changed nothing but work. Path is pid-tokened for
    * the same reason as partitionedWritePrune. */
  def arrowZonemapScan(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("zm", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .repartition(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.format("arrow").option("batchRows", 2048)
        .mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** String zone-map skipping, oracle-gated: a priority-clustered
    * layout answers a string equality + prefix predicate from few
    * batches (per-batch UTF-8-byte min/max recorded in the footer —
    * ZoneMapSpec pins the actual batch pruning); the categorical
    * predicate shape (status codes, languages, tenants) a 100 TB scan
    * meets constantly. */
  def arrowZonemapString(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("zm_str", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .repartition(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderpriority"), col("o_orderkey"))
        .write.format("arrow").option("batchRows", 2048)
        .mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .filter(col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority").startsWith("3"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Small-file compaction — the operational fix for the classic
    * many-small-files problem (a 100 TB table accreting thousands of
    * micro-files per ingest hour scans footer-bound, not data-bound).
    * Writes orders deliberately over-partitioned (32 files), compacts
    * to row-count-targeted files (one footer read + repartition +
    * rewrite — the OPTIMIZE shape), and aggregates the compacted copy;
    * the oracle computes the same aggregate from the original source,
    * so a hash match proves compaction moved bytes, not data.
    * CompactionSpec proves the file count actually drops. Paths are
    * pid-tokened like partitionedWritePrune. */
  def layoutCompaction(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("cp", dir)
    val (small, big) = (s"$base/small", s"$base/big")
    // round-18: the 32-splinter INPUT layout is read-only after its
    // build (compaction writes to `big`) — the Fixtures.once read-only
    // fixture shape; per-invocation cost is the operator under test
    // (footer-count sizing + repartition + rewrite + aggregate).
    graft.Fixtures.once(small) {
      Tables.orders(spark, dir).repartition(32)
        .write.mode("overwrite").parquet(small)
    }
    val in = spark.read.parquet(small)
    // parquet count() is answered from footers — the same metadata an
    // OPTIMIZE planner reads; ~4k rows per compacted file
    val nFiles = math.max(1, (in.count() / 4000.0).ceil.toInt)
    in.repartition(nFiles).write.mode("overwrite").parquet(big)
    spark.read.parquet(big)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Small-file compaction on the Arrow source — the parquet
    * `layout_compaction` twin: 32 splinter files → row-count-targeted
    * rewrite. The sizing `count()` over the small directory is
    * answered from footer row stats (the aggregate-pushdown path), so
    * the OPTIMIZE planner's metadata pass really is metadata-only on
    * this format too; the oracle proves the rewrite loses nothing. */
  def arrowCompaction(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("acp", dir)
    val (small, big) = (s"$base/small", s"$base/big")
    // same read-only input-fixture shape as [[layoutCompaction]]
    graft.Fixtures.once(small) {
      Tables.orders(spark, dir).repartition(32)
        .write.format("arrow").mode("overwrite").save(small)
    }
    val in = spark.read.format("arrow").load(small)
    val nFiles = math.max(1, (in.count() / 4000.0).ceil.toInt)
    in.repartition(nFiles).write.format("arrow").mode("overwrite").save(big)
    spark.read.format("arrow").load(big)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Partition-level DELETE on the Arrow source: orders land
    * partitioned by status, `DELETE WHERE o_orderstatus = 'P'` removes
    * that value directory at PLANNING time (file unlink, no rewrite,
    * no scan — ArrowDeleteSpec pins the mechanics), and the surviving
    * data aggregates exactly as the oracle's `WHERE <> 'P'`. The
    * 100 TB shape: retention sweeps and GDPR-style partition drops are
    * metadata operations, never table rewrites. */
  def arrowDeletePartition(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_delete", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.format("arrow").partitionBy("o_orderstatus")
      .mode("overwrite").save(out)
    spark.sql(s"DELETE FROM graft.arrow.`$out` WHERE o_orderstatus = 'P'")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Row-level copy-on-write DELETE on the Arrow source
    * ([[graft.sources.arrow.ArrowDelete]]): a predicate mixing data
    * and data-value columns rewrites only zone-map-overlapping files
    * (one task per file, no shuffle) and leaves the rest untouched —
    * Delta/Iceberg's CoW shape on the namesake layout. The
    * range-sorted write gives each file a disjoint o_orderkey slice,
    * so the low-key delete provably skips the upper files. */
  def arrowDeleteRows(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_delete_rows", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    spark.sql(s"DELETE FROM graft.arrow.`$out` " +
      "WHERE o_orderkey <= 2000 AND o_orderstatus = 'O'")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** SQL UPDATE on the Arrow source via the group-based copy-on-write
    * contract ([[graft.sources.arrow.ArrowRowLevelOperation]]): Spark
    * rewrites the command into a ReplaceData plan, runtime group
    * filtering on `_file` narrows the rewrite to files actually
    * holding matches, and the range-sorted layout means the low-key
    * predicate provably skips the upper files. */
  def arrowUpdateRows(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_update_rows", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_totalprice = 0.0 " +
      "WHERE o_orderkey <= 2000 AND o_orderstatus = 'O'")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** SQL MERGE INTO (upsert) on the Arrow source: matched target rows
    * take the source price, unmatched source rows insert as status
    * 'M'. Same ReplaceData machinery as [[arrowUpdateRows]]; inserts
    * ride the replacement write as fresh files. */
  def arrowMergeRows(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_merge_rows", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    Tables.orders(spark, dir).filter(col("o_orderkey") <= 1500)
      .select((col("o_orderkey") * 2).as("k"), lit(0.5).as("p"))
      .createOrReplaceTempView("graft_merge_src")
    spark.sql(
      s"""MERGE INTO graft.arrow.`$out` t
         |USING graft_merge_src s ON t.o_orderkey = s.k
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
         |WHEN NOT MATCHED THEN
         |  INSERT (o_orderkey, o_totalprice, o_orderstatus)
         |  VALUES (s.k, s.p, 'M')""".stripMargin)
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** OPTIMIZE ZORDER BY as SQL: land orders in arrival order, CALL
    * `graft.system.zorder` to recluster by the (custkey, orderkey)
    * morton key, and answer a two-dimensional box query off the
    * reclustered layout. Correctness is the oracle's plain filter;
    * the zone-map batch-skip win is pinned by GraftProcedureSpec's
    * counter test. */
  def arrowZorderBox(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_zorder", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.format("arrow").mode("overwrite").save(out)
    spark.sql(s"CALL graft.system.zorder(path => '$out', " +
      "cols => 'o_custkey,o_orderkey', target_rows => 4000)")
    spark.read.format("arrow").load(out)
      .filter(col("o_custkey").between(100, 300) &&
        col("o_orderkey").between(1000, 3000))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
  }

  /** The maintenance pipeline end-to-end as SQL: splinter files →
    * CALL compact (footer-stat sizing, distributed rewrite) → CALL
    * vacuum (reclaims nothing here — proves it never touches live
    * data) → aggregate matches the untouched oracle exactly. */
  def arrowMaintenance(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_maint", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartition(16)
      .write.format("arrow").mode("overwrite").save(out)
    spark.sql(s"CALL graft.system.compact(path => '$out', " +
      "target_rows => 1000000)")
    spark.sql(s"CALL graft.system.vacuum(path => '$out', " +
      "grace_ms => 0)")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** VERSION AS OF through the table log, oracle-gated: snapshot the
    * Arrow table (epoch `pre`), DELETE a key range (one atomic epoch),
    * then read AS OF `pre` — the aggregate must equal the oracle's
    * over the UNTOUCHED table, proving the delete's copy-on-write
    * left the prior version bit-addressable. The 100 TB shape:
    * reproducing yesterday's training run is a metadata resolve, not
    * a restore-from-backup. */
  def arrowTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_time_travel", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    val pre = graft.sources.arrow.ArrowDataSource.latestCommittedEpoch(
      java.nio.file.Paths.get(out).toAbsolutePath.normalize)
    spark.sql(s"DELETE FROM graft.arrow.`$out` WHERE o_orderkey < 400")
    spark.sql(s"SELECT * FROM graft.arrow.`$out` VERSION AS OF $pre")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** `TIMESTAMP AS OF` through the table log, oracle-gated: snapshot
    * the Arrow table, capture a wall-clock instant strictly after the
    * snapshot commit, DELETE a key range (a later epoch with a later
    * commit stamp), then read AS OF the captured instant through the
    * SQL surface — resolution must land on the snapshot epoch
    * (greatest commit stamp at or before the instant, Delta's
    * contract), so the aggregate equals the oracle over the UNTOUCHED
    * table. The 100 TB shape: "the table as of last night's cron" is
    * a stamp lookup over O(epochs) metadata, not a data operation. */
  def arrowTimestampTravel(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_ts_travel", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    // Commit stamps are millis: separate the mark from both the
    // snapshot commit and the DELETE commit by more than a clock tick
    // so the cut deterministically covers exactly the snapshot.
    Thread.sleep(3L)
    val cut = System.currentTimeMillis()
    Thread.sleep(3L)
    spark.sql(s"DELETE FROM graft.arrow.`$out` WHERE o_orderkey < 400")
    // Session zone is pinned UTC, so a zoneless literal is the instant.
    val cutLit = java.time.Instant.ofEpochMilli(cut)
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace('T', ' ')
    spark.sql(
      s"SELECT * FROM graft.arrow.`$out` TIMESTAMP AS OF '$cutLit'")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** CDC replication end-to-end under the correctness gate: a logged
    * source takes a snapshot + DELETE + UPDATE + INSERT epoch history
    * (the shared [[cdcSource]] fixture), a fresh
    * empty replica drains the STREAMING change feed via
    * [[graft.streaming.ChangeReplication.replicate]] (keyed MERGE
    * apply, coalesced to two MERGEs per micro-batch), and the
    * REPLICA's aggregate must equal the oracle's restatement of the
    * post-DML source — proving snapshot adoption, CoW delete/update
    * churn, and last-touch-wins key semantics all survive the
    * feed→MERGE round trip. The 100 TB shape: a day of DML against a
    * petabyte table replicates as O(churned bytes) through two keyed
    * MERGEs per trigger. */
  /** The SHARED multi-epoch CDC source the three cdc_* consumers tail
    * (VERDICT r12 #5): a logged orders snapshot plus the canonical
    * DELETE / UPDATE / INSERT epoch backlog (epochs 0-3), built ONCE
    * per (process, sf) via [[graft.Fixtures.once]]. Sound to share
    * because every consumer only READS the change feed (fresh
    * per-invocation dst + checkpoint each); the apply algebras are
    * multi-epoch-batch capable by design, so draining 0-3 in one pass
    * equals the old build-interleaved two-drain histories exactly —
    * the oracles pin that. Cuts the bench's per-query fixture DML
    * from 3× to 1× without touching any measured maintenance path. */
  private def cdcSource(spark: SparkSession, dir: String): String = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val src = graft.Scratch.dir("cdc_shared_src", dir)
    graft.Fixtures.once(src) {
      graft.Scratch.reset(src)
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_custkey"))
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.format("arrow").mode("overwrite").save(src)
      graft.sources.arrow.ArrowDataSource.initTableLog(src)
      spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE o_orderkey < 400")
      spark.sql(s"UPDATE graft.arrow.`$src` SET o_totalprice = 0.0 " +
        "WHERE o_orderkey >= 600 AND o_orderkey < 900 " +
        "AND o_orderstatus = 'F'")
      spark.sql(s"INSERT INTO graft.arrow.`$src` " +
        s"SELECT o_orderkey + 20000000, o_totalprice, 'Z', o_custkey " +
        s"FROM graft.arrow.`$src` WHERE o_orderkey % 251 = 0")
      ()
    }
    src
  }

  def cdcReplicate(spark: SparkSession, dir: String): DataFrame = {
    val src = cdcSource(spark, dir)
    val dst = graft.Scratch.dir("cdc_repl_dst", dir)
    val ckpt = graft.Scratch.dir("cdc_repl_ckpt", dir)
    // Fresh replica + checkpoint every invocation; the SOURCE is the
    // shared immutable fixture.
    graft.Scratch.reset(dst, ckpt)
    // empty replica carrying the (shared source's) schema
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"), col("o_custkey"))
      .limit(0).coalesce(1)
      .write.format("arrow").mode("overwrite").save(dst)
    val q = graft.streaming.ChangeReplication.replicate(
      spark, src, dst, keyCols = Seq("o_orderkey"), checkpoint = ckpt)
    try q.processAllAvailable() finally q.stop()
    spark.read.format("arrow").load(dst)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Incremental materialized-view maintenance, oracle-gated: the
    * per-status rollup of a logged orders table is maintained from its
    * CHANGE FEED ([[graft.streaming.IncrementalView]]) — snapshot,
    * then DELETE / UPDATE / INSERT epochs applied as additive deltas
    * through one exactly-once MERGE per refresh, never re-scanning the
    * source. Measures are maintained in exact integer units (cents)
    * so incremental addition cannot drift from the oracle's one-shot
    * SUM. The 100 TB shape: a petabyte fact table's rollup refreshes
    * at O(churned bytes) per day, not O(table). */
  def cdcIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val src = cdcSource(spark, dir)
    val dst = graft.Scratch.dir("ivm_dst", dir)
    val ckpt = graft.Scratch.dir("ivm_ckpt", dir)
    // fresh view + checkpoint per invocation over the shared source:
    // the snapshot + DML backlog (epochs 0-3) folds through ONE
    // exactly-once incremental MERGE — additive deltas net the same
    // whether drained in one batch or epoch by epoch
    graft.Scratch.reset(dst, ckpt)
    val sums = Seq(
      ("CAST(ROUND(o_totalprice * 100) AS BIGINT)", "sum_cents"),
      ("o_orderkey", "sum_key"))
    val q = graft.streaming.IncrementalView.maintain(spark, src, dst,
      groupCols = Seq("o_orderstatus"), sums = sums, checkpoint = ckpt)
    try q.processAllAvailable() finally q.stop()
    graft.streaming.IncrementalView.read(spark, dst)
      .select(col("o_orderstatus"), col("n"),
        (col("sum_cents").cast("double") / 100.0).as("sum_price"),
        col("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Incremental JOIN-view maintenance, oracle-gated: the per-market-
    * segment rollup of fact ⋈ dim (shared cdc source ⋈ customer) is
    * maintained from the FACT's change feed alone — each change row
    * broadcast-enriches with its (immutable) dim attributes before the
    * signed-delta fold, the classic IVM join-view case: a fact delta
    * joined to a static dim IS the view delta, so the O(churned
    * bytes) + O(affected groups) refresh bound survives the join.
    * The oracle recomputes the joined rollup from scratch. The 100 TB
    * shape: petabyte fact, broadcast-sized (or lookup-served) dims —
    * the everyday star-schema rollup refreshed without re-scanning
    * the fact table. Dim CHANGES are out of contract by construction
    * (documented in [[graft.streaming.IncrementalView.maintain]]). */
  def cdcIncrementalJoinAgg(spark: SparkSession, dir: String)
      : DataFrame = {
    val src = cdcSource(spark, dir)
    val dst = graft.Scratch.dir("ivmj_dst", dir)
    val ckpt = graft.Scratch.dir("ivmj_ckpt", dir)
    graft.Scratch.reset(dst, ckpt)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enrich: DataFrame => DataFrame = df =>
      df.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .drop("c_custkey")
    val sums = Seq(
      ("CAST(ROUND(o_totalprice * 100) AS BIGINT)", "sum_cents"),
      ("o_orderkey", "sum_key"))
    val q = graft.streaming.IncrementalView.maintain(spark, src, dst,
      groupCols = Seq("c_mktsegment"), sums = sums, checkpoint = ckpt,
      enrich = enrich)
    try q.processAllAvailable() finally q.stop()
    graft.streaming.IncrementalView.read(spark, dst)
      .select(col("c_mktsegment"), col("n"),
        (col("sum_cents").cast("double") / 100.0).as("sum_price"),
        col("sum_key"))
      .orderBy(col("c_mktsegment"))
  }

  /** Incremental JOIN-view maintenance with a MUTABLE dimension,
    * oracle-gated: the per-segment rollup of `fact ⋈ dim` is kept in
    * sync while BOTH tables churn, via the delta-join identity
    * Δ(F⋈D) = ΔF⋈D_old ∪ F_old⋈ΔD ∪ ΔF⋈ΔD over the two change feeds
    * ([[graft.streaming.IncrementalView.refreshJoined]]) — dim UPDATEs
    * move fact rows across groups, dim DELETEs retract them, all
    * without re-running the join on unchanged data. Three refreshes
    * exercise the cursor: initial full build, a fact-only window, and
    * a mixed window where all three delta terms contribute. DuckDB
    * recomputes the final joined rollup from scratch; a hash match
    * proves the algebra. The 100 TB shape: a day's dim churn
    * re-enriches only the fact rows whose keys changed (pushed IN
    * filter), never the fact table. */
  /** Shared churned fact+dim pair for the mutable-dim IVM query: ALL
    * DML lands inside the once-block (the cdcSource pattern), so the
    * pair is immutable afterwards and the query replays its refresh
    * windows against PINNED epochs — per-invocation cost is the view
    * maintenance under test, not two table writes + seven DML jobs.
    * Fact epochs: 0 snapshot, 1 DELETE, 2 INSERT, 3 UPDATE.
    * Dim epochs: 0 snapshot, 1 UPDATE (segment move), 2 DELETE,
    * 3 INSERT (keys no fact references). */
  private def ivmmSource(spark: SparkSession, dir: String)
      : (String, String) = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val fact = graft.Scratch.dir("ivmm_fact", dir)
    val dimd = graft.Scratch.dir("ivmm_dim", dir)
    graft.Fixtures.once(fact) {
      graft.Scratch.reset(fact, dimd)
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_custkey"))
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.format("arrow").mode("overwrite").save(fact)
      graft.sources.arrow.ArrowDataSource.initTableLog(fact)
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .repartitionByRange(2, col("c_custkey"))
        .sortWithinPartitions(col("c_custkey"))
        .write.format("arrow").mode("overwrite").save(dimd)
      graft.sources.arrow.ArrowDataSource.initTableLog(dimd)
      spark.sql(s"DELETE FROM graft.arrow.`$fact` WHERE o_orderkey < 300")
      spark.sql(s"INSERT INTO graft.arrow.`$fact` " +
        s"SELECT o_orderkey + 40000000, o_totalprice, 'J', o_custkey " +
        s"FROM graft.arrow.`$fact` WHERE o_orderkey % 401 = 0")
      spark.sql(s"UPDATE graft.arrow.`$fact` SET o_totalprice = 0.0 " +
        "WHERE o_orderkey >= 500 AND o_orderkey < 800 " +
        "AND o_orderstatus = 'O'")
      spark.sql(s"UPDATE graft.arrow.`$dimd` SET c_mktsegment = 'MOVED' " +
        "WHERE c_custkey % 7 = 0")
      spark.sql(s"DELETE FROM graft.arrow.`$dimd` WHERE c_custkey % 97 = 0")
      spark.sql(s"INSERT INTO graft.arrow.`$dimd` " +
        s"SELECT c_custkey + 90000000, 'NEWSEG' " +
        s"FROM graft.arrow.`$dimd` WHERE c_custkey % 113 = 0")
      ()
    }
    (fact, dimd)
  }

  def cdcIncrementalJoinMutable(spark: SparkSession, dir: String)
      : DataFrame = {
    val (fact, dimd) = ivmmSource(spark, dir)
    val view = graft.Scratch.dir("ivmm_view", dir)
    graft.Scratch.reset(view) // view state rebuilds per invocation
    def refresh(factUpTo: Option[Long], dimUpTo: Option[Long]): Unit = {
      graft.streaming.IncrementalView.refreshJoined(spark, fact, dimd,
        view, factKey = "o_custkey", dimKey = "c_custkey",
        dimCols = Seq("c_mktsegment"), groupCols = Seq("c_mktsegment"),
        sums = Seq(
          ("CAST(ROUND(o_totalprice * 100) AS BIGINT)", "sum_cents"),
          ("o_orderkey", "sum_key")),
        appId = "graft_ivm_join_mutable",
        factUpTo = factUpTo, dimUpTo = dimUpTo)
      ()
    }
    // window 1: initial full build of the (fact, dim) SNAPSHOT pair
    refresh(Some(0L), Some(0L))
    // window 2: BOTH sides churn — every delta term contributes:
    // ΔF⋈D_old (fact delete/insert/update against snapshot segments),
    // F_old⋈ΔD (dim rows move segments / disappear / appear), and
    // ΔF⋈ΔD (fact churn whose dim key moves in the SAME window).
    // Fact-only and dim-only windows are pinned granularly in
    // IncrementalViewSpec's mutable-dim case.
    refresh(None, None)
    graft.streaming.IncrementalView.read(spark, view)
      .select(col("c_mktsegment"), col("n"),
        (col("sum_cents").cast("double") / 100.0).as("sum_price"),
        col("sum_key"))
      .orderBy(col("c_mktsegment"))
  }

  /** Write-audit-publish, oracle-gated: stage DML on a zero-copy clone
    * branch (`CALL graft.system.clone`), audit there, then land the
    * branch state as ONE atomic epoch on main
    * (`CALL graft.system.publish`) — borrowed files stay in place,
    * branch-written files rename under main (no copy), and a diverged
    * main refuses. The isolation contract a 100 TB ingest pipeline
    * needs: readers of main never see a half-applied batch, and a
    * failed audit costs nothing but the branch's own files. */
  def arrowWapPublish(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val main = graft.Scratch.dir("wap_q_main", dir)
    val branch = graft.Scratch.dir("wap_q_branch", dir)
    graft.Scratch.reset(main, branch)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(main)
    graft.sources.arrow.ArrowDataSource.initTableLog(main)
    spark.sql(s"CALL graft.system.clone(src_path => '$main', " +
      s"dst_path => '$branch')").collect()
    // WRITE on the branch
    spark.sql(s"DELETE FROM graft.arrow.`$branch` WHERE o_orderkey < 500")
    spark.sql(s"UPDATE graft.arrow.`$branch` SET o_totalprice = 0.0 " +
      "WHERE o_orderkey >= 1000 AND o_orderkey < 1500 " +
      "AND o_orderstatus = 'O'")
    spark.sql(s"INSERT INTO graft.arrow.`$branch` " +
      s"SELECT o_orderkey + 30000000, o_totalprice, 'W' " +
      s"FROM graft.arrow.`$branch` WHERE o_orderkey % 307 = 0")
    // AUDIT: the staged state must satisfy the pipeline's checks while
    // main still serves the old version (a real audit would run its
    // constraint queries here)
    // PUBLISH: one epoch on main
    spark.sql(s"CALL graft.system.publish(branch_path => '$branch', " +
      s"main_path => '$main')").collect()
    spark.read.format("arrow").load(main)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Materialized-view query rewrite, oracle-gated: maintain a
    * per-status rollup of a logged orders table incrementally
    * (change feed → additive deltas), REGISTER it, and run the plain
    * `GROUP BY o_orderstatus` aggregate — the optimizer answers it
    * from the few-row view (the query REQUIRES the rewrite to have
    * fired), while DuckDB recomputes from the base table: a hash match
    * proves the rewritten plan is answer-identical to the fact scan.
    * The refresh drains the snapshot + DELETE epoch history in one
    * exactly-once batch (deltas telescope — the cdc_scd2 single-drain
    * argument), so the final answer reflects the churn; the
    * staleness-disarm / re-arm cycle is pinned by MvRewriteSpec.
    * Round-18: the source's build + DELETE moved into the shared
    * immutable fixture (the [[cdcSource]] convention) — per-invocation
    * cost is the refresh maintenance and the rewrite under test, not
    * two table writes + a DML job. */
  def mvRewriteAgg(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val src = graft.Scratch.dir("mvq_src", dir)
    graft.Fixtures.once(src) {
      graft.Scratch.reset(src)
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.format("arrow").mode("overwrite").save(src)
      graft.sources.arrow.ArrowDataSource.initTableLog(src)
      spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE o_orderkey < 700")
      ()
    }
    val view = graft.Scratch.dir("mvq_view", dir)
    val ckpt = graft.Scratch.dir("mvq_ckpt", dir)
    graft.Scratch.reset(view, ckpt)
    graft.plans.MaterializedViews.refreshAndRegister(spark, src, view,
      groupCols = Seq("o_orderstatus"),
      sums = Seq(("o_orderkey", "sum_key")), checkpoint = ckpt)
    val out = spark.read.format("arrow").load(src)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
    val viewPath = java.nio.file.Paths.get(view)
      .toAbsolutePath.normalize.toString
    require(out.queryExecution.optimizedPlan.toString.contains(viewPath),
      "mv_rewrite_agg: the aggregate was NOT answered by the " +
        "materialized view — rewrite did not fire")
    out
  }

  /** Materialized-view ROLLUP rewrite, oracle-gated: the view is
    * maintained at the FINER (status, priority) grain; the declared
    * query groups by status only, and the optimizer answers it by
    * re-aggregating the view (count → sum(n), sum → sum(sum_key)) —
    * one small-view pass instead of the fact scan, lossless for
    * counts and integral sums. The query REQUIRES the rollup to have
    * fired; DuckDB recomputes from the base table. */
  def mvRewriteRollup(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val src = graft.Scratch.dir("mvr_src", dir)
    // round-18: the logged source is immutable after its build —
    // shared across invocations (cdcSource convention); the refresh
    // maintenance + rollup rewrite stay per-invocation
    graft.Fixtures.once(src) {
      graft.Scratch.reset(src)
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.format("arrow").mode("overwrite").save(src)
      graft.sources.arrow.ArrowDataSource.initTableLog(src)
    }
    val view = graft.Scratch.dir("mvr_view", dir)
    val ckpt = graft.Scratch.dir("mvr_ckpt", dir)
    graft.Scratch.reset(view, ckpt)
    graft.plans.MaterializedViews.refreshAndRegister(spark, src, view,
      groupCols = Seq("o_orderstatus", "o_orderpriority"),
      sums = Seq(("o_orderkey", "sum_key")), checkpoint = ckpt)
    val out = spark.read.format("arrow").load(src)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
    val viewPath = java.nio.file.Paths.get(view)
      .toAbsolutePath.normalize.toString
    require(out.queryExecution.optimizedPlan.toString.contains(viewPath),
      "mv_rewrite_rollup: the coarser aggregate was NOT rolled up " +
        "from the materialized view")
    out
  }

  /** Metadata-only ADD COLUMN, oracle-gated: evolve the declared
    * schema (`CALL graft.system.add_column`), then mix pre-evolution
    * files (serve the column as nulls), post-evolution inserts, and a
    * CoW UPDATE that materializes it — the per-flag rollup must equal
    * DuckDB's restatement of the same history. The 100 TB shape:
    * adding a column to a petabyte table is one metadata write; no
    * file is rewritten until a row-level operation touches it. */
  def arrowAddColumn(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("addcol_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    spark.sql(s"CALL graft.system.add_column(path => '$out', " +
      "name => 'o_flag', type => 'string')").collect()
    spark.sql(s"INSERT INTO graft.arrow.`$out` " +
      s"SELECT o_orderkey + 40000000, o_totalprice, 'Q', 'inserted' " +
      s"FROM graft.arrow.`$out` WHERE o_orderkey % 401 = 0")
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_flag = 'updated' " +
      "WHERE o_orderkey < 300")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_flag"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_flag").asc_nulls_first)
  }

  /** Write-side schema merge on append, oracle-gated: a drifted frame
    * carrying a column the table has never seen lands through
    * `.option("mergeSchema", true)` — the writer auto-evolves the
    * DECLARED schema (nullable add, add_column ledger invariants,
    * [[graft.sources.arrow.GraftProcedures.mergeWriteSchema]]) instead
    * of requiring a prior `CALL add_column`. Pre-evolution files serve
    * the new column as nulls; the appended rows carry it natively. */
  def arrowMergeSchemaWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("mergewrite_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    Tables.orders(spark, dir)
      .where(col("o_orderkey") % 397 === 0)
      .select((col("o_orderkey") + lit(60000000L)).as("o_orderkey"),
        col("o_totalprice"), lit("M").as("o_orderstatus"),
        lit("backfill").as("o_channel"))
      .write.format("arrow").mode("append")
      .option("mergeSchema", "true").save(out)
    spark.read.format("arrow").load(out)
      .groupBy(col("o_channel"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_channel").asc_nulls_first)
  }

  /** NESTED schema evolution on append, oracle-gated: the table holds
    * a STRUCT column (`meta`) and the drifted frame's struct carries
    * one more LEAF — `option("mergeSchema", true)` merges the struct
    * FIELD-WISE (new leaf lands nullable at the end, same-name leaves
    * must agree on type), the multimodal-metadata shape a training
    * corpus evolves first. Pre-evolution files serve the absent leaf
    * as nulls through the reader's struct-leaf patch
    * ([[graft.sources.arrow.StructLeafPatchVector]]); no file is
    * rewritten. */
  def arrowMergeSchemaNested(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("mergenested_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status")).as("meta"),
        col("o_totalprice"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    Tables.orders(spark, dir)
      .where(col("o_orderkey") % 397 === 0)
      .select((col("o_orderkey") + lit(70000000L)).as("o_orderkey"),
        struct(lit("M").as("status"),
          col("o_orderpriority").as("prio")).as("meta"),
        col("o_totalprice"))
      .write.format("arrow").mode("append")
      .option("mergeSchema", "true").save(out)
    spark.read.format("arrow").load(out)
      .groupBy(col("meta.prio").as("prio"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"),
        count(col("meta.status")).as("n_status"))
      .orderBy(col("prio").asc_nulls_first)
  }

  /** INITIAL DEFAULTS, oracle-gated (Iceberg's initial-default):
    * `CALL add_column(..., default => 'legacy')` gives the whole
    * pre-declaration history a VALUE — not NULL — without touching a
    * file (the reader serves the declared literal wherever a footer
    * lacks the column); post-declaration inserts carry their own
    * values, and a CoW UPDATE predicated on the DEFAULT picks up
    * exactly the pre-declaration rows. The 100 TB shape: declaring
    * "everything before today is channel='legacy'" on a petabyte
    * table is one metadata write, not a backfill job. */
  def arrowDefaultColumn(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("defcol_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    spark.sql(s"CALL graft.system.add_column(path => '$out', " +
      "name => 'channel', type => 'string', default => \"'legacy'\")")
      .collect()
    spark.sql(s"INSERT INTO graft.arrow.`$out` " +
      "SELECT o_orderkey + 40000000, o_totalprice, 'D', 'api' " +
      s"FROM graft.arrow.`$out` WHERE o_orderkey % 401 = 0")
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_totalprice = 0.0 " +
      "WHERE channel = 'legacy' AND o_orderkey < 200")
    spark.read.format("arrow").load(out)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("channel"))
  }

  /** Metadata-only TYPE WIDENING, oracle-gated (Delta's type
    * widening): the first generation lands the key as INT, `CALL
    * graft.system.widen_column` widens it to BIGINT with zero file
    * rewrites (old files upcast per access through
    * [[graft.sources.arrow.UpcastVector]]), a post-widen insert
    * carries keys past Int.MaxValue, and a CoW UPDATE predicated on
    * the widened column reads narrow bytes through the upcast. The
    * 100 TB shape: out-growing an int key on a petabyte table is one
    * metadata write, not a table rewrite; zone maps and blooms keep
    * firing over the narrow generations (integral stats are exact
    * longs, integral bloom hashing is width-agnostic). */
  def arrowTypeWiden(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("widen_q", dir)
    graft.Scratch.reset(out)
    // the narrow generation's key folds into int range REGARDLESS of
    // the fixture's key magnitude (the 10× scaled bench shifts
    // orderkeys past 2^31 — a bare cast would overflow there, which
    // is the very situation widening exists for)
    Tables.orders(spark, dir)
      .select((col("o_orderkey") % 100000000L).cast("int").as("okey"),
        col("o_totalprice"), col("o_orderstatus"),
        expr("CAST(o_totalprice AS DECIMAL(12,2))").as("price_d"))
      .repartitionByRange(4, col("okey"))
      .sortWithinPartitions(col("okey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    spark.sql(s"CALL graft.system.widen_column(path => '$out', " +
      "name => 'okey', type => 'bigint')").collect()
    // the decimal money-column case: same scale, grown precision —
    // decimal(12,2) caps at ~1e10, the post-widen insert lands values
    // past 1e11, readable only because the declaration widened
    spark.sql(s"CALL graft.system.widen_column(path => '$out', " +
      "name => 'price_d', type => 'decimal(20,2)')").collect()
    spark.sql(s"INSERT INTO graft.arrow.`$out` " +
      "SELECT okey + 3000000000, o_totalprice, 'W', " +
      "CAST(price_d + 100000000000.00 AS DECIMAL(20,2)) " +
      s"FROM graft.arrow.`$out` WHERE okey % 401 = 0")
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_totalprice = 0.0 " +
      "WHERE okey < 300")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        // decimal-exact sum, DOUBLE at the output boundary (the repo's
        // dsum idiom — wide decimals canonicalize differently across
        // engines' client layers while the double is bit-identical)
        sum(col("price_d")).cast("double").as("sum_price_d"),
        sum(col("okey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Metadata-only RENAME COLUMN, oracle-gated: rename the measure on
    * a logged table (`CALL graft.system.rename_column`) — pre-rename
    * files serve their bytes under the new name via the reader's
    * ledgered physical fallback, a post-rename insert carries the new
    * name natively, and a CoW UPDATE materializes it. No file is
    * rewritten by the rename itself. */
  def arrowRenameColumn(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("renamecol_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    spark.sql(s"CALL graft.system.rename_column(path => '$out', " +
      "old_name => 'o_totalprice', new_name => 'price')").collect()
    spark.sql(s"INSERT INTO graft.arrow.`$out` " +
      s"SELECT o_orderkey + 50000000, price, 'R' " +
      s"FROM graft.arrow.`$out` WHERE o_orderkey % 509 = 0")
    spark.sql(s"UPDATE graft.arrow.`$out` SET price = 0.0 " +
      "WHERE o_orderkey < 250")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Incremental SCD TYPE-2 dimension maintenance, oracle-gated: the
    * full version history of a logged orders table is maintained from
    * its change feed ([[graft.streaming.Scd2Maintain]]) — snapshot,
    * then DELETE / UPDATE / INSERT epochs turn into half-open
    * [valid_from, valid_to) epoch intervals through one idempotent
    * MERGE per refresh. The oracle re-derives the exact history the
    * deterministic DML must produce: snapshot versions at epoch 0,
    * deletions closing at 1, updates closing at 2 and reopening at 2,
    * inserts opening at 3. The 100 TB shape: a petabyte dimension
    * absorbs a day of churn as O(churned keys) MERGE work; closed
    * history is never rewritten. */
  def cdcScd2(spark: SparkSession, dir: String): DataFrame = {
    val src = cdcSource(spark, dir)
    val dim = graft.Scratch.dir("scd2_dim", dir)
    val ckpt = graft.Scratch.dir("scd2_ckpt", dir)
    graft.Scratch.reset(dim, ckpt)
    // empty dimension carrying the SCD2 schema (shared source's data
    // columns + the three interval columns)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"), col("o_custkey"))
      .limit(0)
      .withColumn(graft.streaming.Scd2Maintain.ValidFromCol, lit(0L))
      .withColumn(graft.streaming.Scd2Maintain.ValidToCol,
        lit(null).cast("long"))
      .withColumn(graft.streaming.Scd2Maintain.IsCurrentCol, lit(true))
      .coalesce(1)
      .write.format("arrow").mode("overwrite").save(dim)
    // ONE drain over the shared source's whole epoch history 0-3: the
    // apply algebra is multi-epoch by design (per-key lead(epoch)
    // intervals within the batch), so the produced history is
    // IDENTICAL to the old snapshot-drain + backlog-drain split — the
    // oracle pins the exact valid_from/valid_to epochs either way
    val q = graft.streaming.Scd2Maintain.maintain(spark, src, dim,
      keyCols = Seq("o_orderkey"), checkpoint = ckpt)
    try q.processAllAvailable() finally q.stop()
    spark.read.format("arrow").load(dim)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("o_orderkey"), col("valid_from"))
  }

  /** POINT-IN-TIME (temporal) join against the maintained SCD2
    * dimension, oracle-gated: every lineitem fact carries an as-of
    * epoch (derived from its line number, spanning the dimension's
    * whole 0-3 epoch history) and joins the version of its order that
    * was CURRENT at that epoch — the everyday "join facts to the dim
    * as it was when the event happened" warehouse shape, composed
    * directly on [[cdcScd2]]'s machinery: the dimension is maintained
    * once from the shared [[cdcSource]]'s change feed (Fixtures.once —
    * it is immutable after the drain), and the join is a keyed equi
    * join on the order key with the half-open interval residual
    * `valid_from <= as_of < coalesce(valid_to, ∞)` — per-key version
    * counts are small, so the residual prunes inside each hash
    * bucket, never a range self-join. Facts hitting a deleted
    * interval (keys removed at epoch 1, probed at as_of >= 1) drop
    * out, exactly the point-in-time contract. The oracle re-derives
    * the full version history arithmetically (the cdc_scd2 CTE) and
    * restates the interval join. */
  def joinTemporalScd2(spark: SparkSession, dir: String): DataFrame = {
    val src = cdcSource(spark, dir)
    val dim = graft.Scratch.dir("scd2_pit_dim", dir)
    val ckpt = graft.Scratch.dir("scd2_pit_ckpt", dir)
    graft.Fixtures.once(dim) {
      graft.Scratch.reset(dim, ckpt)
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_custkey"))
        .limit(0)
        .withColumn(graft.streaming.Scd2Maintain.ValidFromCol, lit(0L))
        .withColumn(graft.streaming.Scd2Maintain.ValidToCol,
          lit(null).cast("long"))
        .withColumn(graft.streaming.Scd2Maintain.IsCurrentCol, lit(true))
        .coalesce(1)
        .write.format("arrow").mode("overwrite").save(dim)
      val q = graft.streaming.Scd2Maintain.maintain(spark, src, dim,
        keyCols = Seq("o_orderkey"), checkpoint = ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    val d = spark.read.format("arrow").load(dim)
    val f = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"),
        (col("l_linenumber") % 4).cast("long").as("as_of"))
    f.join(d, f("l_orderkey") === d("o_orderkey") &&
        d("valid_from") <= f("as_of") &&
        (d("valid_to").isNull || f("as_of") < d("valid_to")))
      .groupBy(col("as_of"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("as_of"), col("o_orderstatus"))
  }

  /** SHOW PARTITIONS under the hash gate: write orders partitioned by
    * status to the Arrow layout, roll it up with the metadata-only
    * `partitions` procedure (footer row stats, zero data-batch
    * reads), and the per-partition row counts must equal the oracle's
    * plain GROUP BY — proving the layout's metadata is an exact
    * census of the data. */
  def arrowPartitionsMeta(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("parts_meta", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.format("arrow").partitionBy("o_orderstatus")
        .option("optimizeWrite", "true")
        .mode("overwrite").save(out)
    }
    spark.sql(s"CALL graft.system.partitions(path => '$out')")
      .select(col("partition"), col("rows"))
      .orderBy(col("partition"))
  }

  /** Merge-on-read DELETE (deletion vectors), oracle-gated: a
    * `set_dv` table takes two DELETEs — the second overlapping files
    * the first already masked, accumulating cumulative vectors — and
    * the final aggregate must equal the oracle's predicate complement.
    * Not one data byte moves (ArrowDvSpec pins the file set); the
    * 100 TB shape: deleting 0.1% of rows scattered across a petabyte
    * costs the matched files' scan plus kilobyte sidecars, not a
    * petabyte rewrite. */
  def arrowDeleteDv(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val src = graft.Scratch.dir("dv_q_src", dir)
    graft.Scratch.reset(src)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(src)
    graft.sources.arrow.ArrowDataSource.initTableLog(src)
    spark.sql(s"CALL graft.system.set_dv(path => '$src')").collect()
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE o_orderkey < 500")
    spark.sql(s"DELETE FROM graft.arrow.`$src` " +
      "WHERE o_orderkey >= 700 AND o_orderkey < 800")
    spark.read.format("arrow").load(src)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Delta-based merge-on-read UPDATE + MERGE, oracle-gated: on a
    * `set_dv` table the same SQL that drives the CoW path routes
    * through `SupportsDelta` — old row versions mask into deletion
    * vectors, new versions append, complex-predicate DELETE masks —
    * and the final aggregate must equal the oracle's restatement.
    * ArrowDeltaSpec pins that not one pre-existing data file
    * rewrites; this query pins the VALUES under the hash gate. */
  def arrowDeltaUpdate(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val src = graft.Scratch.dir("delta_q_src", dir)
    graft.Scratch.reset(src)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(src)
    graft.sources.arrow.ArrowDataSource.initTableLog(src)
    spark.sql(s"CALL graft.system.set_dv(path => '$src')").collect()
    // delta UPDATE: masks + appends, no file rewrite
    spark.sql(s"UPDATE graft.arrow.`$src` SET o_totalprice = 0.0 " +
      "WHERE o_orderstatus = 'F' AND o_orderkey < 2000")
    // complex-predicate DELETE: not source-filter-expressible, so it
    // routes through the delta path too (masks, no rewrite)
    spark.sql(s"DELETE FROM graft.arrow.`$src` WHERE o_orderkey % 13 = 0")
    // delta MERGE: matched rows mask+append, unmatched insert
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("k"),
        lit(1.5).as("p"), lit("Q").as("s"))
      .createOrReplaceTempView("delta_upd_src")
    spark.sql(
      s"""MERGE INTO graft.arrow.`$src` t USING delta_upd_src s
         |ON t.o_orderkey = s.k
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
         |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice,
         |  o_orderstatus) VALUES (s.k + 30000000, s.p, s.s)""".stripMargin)
    spark.read.format("arrow").load(src)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** Zero-copy SHALLOW CLONE, oracle-gated: clone a logged orders
    * table (CALL graft.system.clone — metadata-only, zero data bytes
    * copied), mutate the CLONE (DELETE + UPDATE), and aggregate both
    * sides. The clone must show the mutations, the source must not —
    * proving borrowed-file reads, copy-on-write divergence, and
    * source isolation in one result. The 100 TB shape: a writable
    * dev/test sandbox of a petabyte table in one metadata commit. */
  def arrowClone(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val src = graft.Scratch.dir("clone_q_src", dir)
    val dst = graft.Scratch.dir("clone_q_dst", dir)
    graft.Scratch.reset(src, dst)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(src)
    graft.sources.arrow.ArrowDataSource.initTableLog(src)
    spark.sql(s"CALL graft.system.clone(src_path => '$src', " +
      s"dst_path => '$dst')").collect()
    spark.sql(s"DELETE FROM graft.arrow.`$dst` WHERE o_orderkey < 1000")
    spark.sql(s"UPDATE graft.arrow.`$dst` SET o_totalprice = 0.0 " +
      "WHERE o_orderstatus = 'P'")
    def agg(side: String, path: String): DataFrame =
      spark.read.format("arrow").load(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(lit(side).as("side"), col("o_orderstatus"),
          col("n"), col("sum_price"))
    agg("clone", dst).unionAll(agg("source", src))
      .orderBy(col("side"), col("o_orderstatus"))
  }

  /** CALL graft.system.restore, oracle-gated: mutate the table twice
    * (DELETE then UPDATE, two logged epochs), roll back to the
    * pre-mutation epoch with one metadata-only restore commit, and
    * aggregate the LIVE table — it must equal the oracle over the
    * untouched data, proving restore resurrects exactly the old file
    * set while keeping the mutations addressable in history. */
  def arrowRestore(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_restore", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    val pre = graft.sources.arrow.ArrowDataSource.latestCommittedEpoch(
      java.nio.file.Paths.get(out).toAbsolutePath.normalize)
    spark.sql(s"DELETE FROM graft.arrow.`$out` WHERE o_orderkey < 400")
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_totalprice = 0.0 " +
      "WHERE o_orderkey >= 600 AND o_orderkey < 900")
    spark.sql(s"CALL graft.system.restore(path => '$out', epoch => $pre)")
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Change feed off the table log ([[graft.sources.arrow.ArrowChanges]]),
    * oracle-gated: DELETE + UPDATE commit two epochs, the feed diffs
    * the window reading ONLY churned files (shared files cancel in the
    * file algebra without being scanned), and copy-on-write carry-over
    * rows annihilate in the multiset anti-diff — what remains is
    * exactly the DML-touched rows, which the oracle restates as plain
    * predicates over the untouched table. The 100 TB shape: a day of
    * DML against a petabyte table diffs the day's files. */
  def arrowChanges(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_changes", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    val root = java.nio.file.Paths.get(out).toAbsolutePath.normalize
    val pre = graft.sources.arrow.ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$out` WHERE o_orderkey < 400")
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_totalprice = 0.0 " +
      "WHERE o_orderkey >= 600 AND o_orderkey < 900 " +
      "AND o_orderstatus = 'F'")
    val now = graft.sources.arrow.ArrowDataSource.latestCommittedEpoch(root)
    graft.sources.arrow.ArrowChanges.between(spark, out, pre, now)
      .groupBy(col(graft.sources.arrow.ArrowChanges.ChangeTypeCol)
        .as("change_type"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("change_type"), col("o_orderstatus"))
  }

  /** BATCH change-feed read through the public reader API (Delta CDF's
    * `spark.read.option("readChangeFeed")` shape): the same epoch
    * window [[arrowChanges]] diffs via `ArrowChanges.between`, read as
    * file-grain tagged splits instead, then netted by FULL ROW VALUE —
    * copy-on-write carry-over rows surface as insert+delete pairs of
    * equal values and cancel in the aggregation, so the result is
    * value-identical to the row-exact diff (same oracle) while the
    * scan itself is pure splits: no exceptAll exchange inside the
    * source, O(churned bytes) read, and the netting is ONE hash
    * aggregation the consumer owns. */
  def arrowCdfBatch(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_cdf_batch", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    val root = java.nio.file.Paths.get(out).toAbsolutePath.normalize
    val pre = graft.sources.arrow.ArrowDataSource.latestCommittedEpoch(root)
    spark.sql(s"DELETE FROM graft.arrow.`$out` WHERE o_orderkey < 400")
    spark.sql(s"UPDATE graft.arrow.`$out` SET o_totalprice = 0.0 " +
      "WHERE o_orderkey >= 600 AND o_orderkey < 900 " +
      "AND o_orderstatus = 'F'")
    val tc = col(graft.sources.arrow.ArrowChanges.ChangeTypeCol)
    spark.read.format("arrow")
      .option("readChangeFeed", "true")
      .option("startingEpoch", (pre + 1L).toString)
      .load(out)
      .groupBy(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .agg(sum(when(tc.isin("insert",
        graft.sources.arrow.ArrowChanges.UpdatePostimage), 1L)
        .otherwise(-1L)).as("net"))
      .filter(col("net") =!= 0)
      .select(
        when(col("net") > 0, "insert").otherwise("delete").as("change_type"),
        col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        abs(col("net")).as("copies"))
      .groupBy(col("change_type"), col("o_orderstatus"))
      .agg(sum(col("copies")).as("n"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * copies) " +
          "AS DOUBLE)").as("sum_price"),
        sum(col("o_orderkey") * col("copies")).as("sum_key"))
      .orderBy(col("change_type"), col("o_orderstatus"))
  }

  /** Idempotent COPY INTO (Delta's landing-zone ingest contract),
    * oracle-gated end to end: stage two parquet files in a landing
    * dir, load them, RE-RUN the identical call (the orchestrator's
    * retry — both files must skip via the manifest-carried `#copy`
    * ledger), land a third file, and run the catch-up sweep that
    * re-lists everything (loads exactly the new file). The final
    * aggregate equals the oracle over the union of the slices ONLY if
    * no file ever double-loaded — the hash match IS the idempotence
    * proof. The 100 TB shape: retrying ingestion over a petabyte
    * landing zone costs a listing + ledger lookup, never a re-load. */
  def arrowCopyInto(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val landing = graft.Scratch.dir("copy_landing", dir)
    val table = graft.Scratch.dir("copy_target", dir)
    val staged = graft.Scratch.dir("copy_staged", dir)
    // round-18: the landing FILE BYTES are read-only inputs — generate
    // the three slices once per process (Fixtures.once), then each
    // invocation assembles its landing dir by filesystem copy. The
    // MUTATION state (target table + its `#copy` ledger + the landing
    // dir's visible file set) still rebuilds from zero per invocation,
    // so idempotence is exercised end-to-end every run; only the
    // slice-generation Spark jobs are amortized.
    graft.Fixtures.once(staged) {
      graft.Scratch.reset(staged)
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      for ((m, name) <- Seq((0, "b0"), (1, "b1"), (2, "b2"))) {
        val stage = s"$staged/_stage_$name"
        o.filter(col("o_orderkey") % 3 === m)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val f = {
          val s = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          try s.iterator().asScala
            .filter(_.toString.endsWith(".parquet")).toSeq.head
          finally s.close()
        }
        java.nio.file.Files.move(f,
          java.nio.file.Paths.get(staged, s"$name.parquet"))
        graft.Scratch.reset(stage)
      }
    }
    graft.Scratch.reset(landing, table)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(landing))
    def land(name: String): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(staged, s"$name.parquet"),
        java.nio.file.Paths.get(landing, s"$name.parquet"))
      ()
    }
    land("b0")
    land("b1")
    def copy(): Unit = spark.sql(
      s"CALL graft.system.copy_into(path => '$table', " +
        s"source => '$landing')").collect()
    copy() // initial load: b0 + b1
    copy() // orchestrator retry: both ledgered, zero loads
    land("b2")
    copy() // catch-up sweep re-lists all three: loads ONLY b2
    spark.read.format("arrow").load(table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Partition evolution (Iceberg's flagship layout feature),
    * oracle-gated end to end: a FLAT table takes on a partition spec
    * (`CALL graft.system.set_partitioning`) as ONE metadata write —
    * no rewrite — and a later plain append routes into `col=value`
    * dirs. The final filtered aggregate spans BOTH generations: the
    * old one serves the evolved column from file BYTES (the filter
    * stays residual there), the new one from its path (pruned at
    * planning). A generation served wrong — nulled bytes, dropped
    * residual, double-exposed column — moves counts/sums and fails
    * the hash. The 100 TB shape: re-partitioning a petabyte table
    * costs one metadata write; pruning coverage then grows with
    * ordinary OPTIMIZE traffic. */
  def arrowPartitionEvolution(spark: SparkSession, dir: String)
      : DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("part_evolution", dir)
    graft.Scratch.reset(out)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
    o.filter(col("o_orderkey") <= 2000)
      .write.format("arrow").mode("overwrite").save(out)
    spark.sql("CALL graft.system.set_partitioning(path => " +
      s"'$out', cols => 'o_orderstatus')").collect()
    // path-based V2 appends resolve by position; evolution moves the
    // partition column to the schema tail — append in table order
    val tableOrder = spark.read.format("arrow").load(out)
      .schema.fieldNames.toSeq
    o.filter(col("o_orderkey") > 2000)
      .select(tableOrder.map(col): _*)
      .write.format("arrow").mode("append").save(out)
    spark.read.format("arrow").load(out)
      .filter(col("o_orderstatus").isin("F", "O"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Named version refs (Iceberg's tags), oracle-gated: snapshot a
    * table, `CALL graft.system.tag(path, 'pre_delete')`, run a DELETE
    * epoch, then read `VERSION AS OF 'pre_delete'` — the tag resolves
    * through the table's ref file to the pre-delete epoch, so the
    * aggregate equals the oracle over the UNTOUCHED data. The 100 TB
    * shape: "the corpus the model trained on" is a name, not a number
    * someone has to remember; resolution is one metadata read. */
  def arrowTagTravel(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("arrow_tag_travel", dir)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    spark.sql("CALL graft.system.tag(path => " +
      s"'$out', name => 'pre_delete')").collect()
    spark.sql(s"DELETE FROM graft.arrow.`$out` WHERE o_orderkey < 400")
    spark.sql(
      s"SELECT * FROM graft.arrow.`$out` VERSION AS OF 'pre_delete'")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** The standard SQL DDL lifecycle, oracle-gated and CALL-free: a
    * user's first statements against the catalog — CREATE TABLE,
    * INSERT, ALTER TABLE ADD COLUMN, a second insert carrying it,
    * ALTER TABLE RENAME COLUMN — then one SQL read-back whose rollup
    * must equal DuckDB's restatement of the same history. Every ALTER
    * dispatches onto the identical CAS'd-declaration machinery the
    * CALL procedures use ([[graft.sources.arrow.GraftCatalog]]
    * alterTable), so this query pins the dispatch, not a parallel
    * implementation. The 100 TB shape: CREATE and both ALTERs are one
    * metadata write each; only the INSERT epochs touch data. */
  def arrowDdlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("ddl_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir).createOrReplaceTempView("ddl_orders_src")
    spark.sql(s"CREATE TABLE graft.arrow.`$out` " +
      "(k BIGINT, st STRING, price DOUBLE) USING arrow")
    spark.sql(s"INSERT INTO graft.arrow.`$out` " +
      "SELECT o_orderkey, o_orderstatus, o_totalprice " +
      "FROM ddl_orders_src WHERE o_orderkey % 7 = 0")
    spark.sql(s"ALTER TABLE graft.arrow.`$out` ADD COLUMN channel STRING")
    spark.sql(s"INSERT INTO graft.arrow.`$out` " +
      "SELECT o_orderkey + 90000000, o_orderstatus, o_totalprice, 'api' " +
      "FROM ddl_orders_src WHERE o_orderkey % 11 = 0")
    spark.sql(s"ALTER TABLE graft.arrow.`$out` RENAME COLUMN st TO status")
    spark.sql(
      s"""SELECT status, channel, COUNT(*) AS n,
         | CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         | SUM(k) AS sum_key
         |FROM graft.arrow.`$out`
         |GROUP BY status, channel
         |ORDER BY status, channel NULLS FIRST""".stripMargin)
  }

  /** Writable named branches, oracle-gated: cut a branch off the
    * table, stage TWO DML epochs on it (an insert, then an update)
    * while main stays untouched, publish the branch back as ONE
    * fast-forward epoch, and roll up MAIN — which must equal DuckDB's
    * restatement of the staged history. The 100 TB shape: the branch
    * is a zero-copy clone (no data bytes move at cut time), staged
    * epochs copy-on-write only the rows they touch, and publish is a
    * rename + one manifest commit — a petabyte staging workflow whose
    * cost is the churn, never the table. */
  def arrowBranchPublish(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("branchq", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"))
      .repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    // sibling branch dirs land next to `out`; reset leftovers from a
    // prior invocation of this query (the branch is spent on publish,
    // but a crashed run could leave one)
    spark.sql(s"CALL graft.system.drop_branch(path => '$out', " +
      "name => 'staging')").collect()
    val branchPath = spark.sql(s"CALL graft.system.branch(" +
      s"path => '$out', name => 'staging')").collect().head.getString(1)
    spark.sql(s"INSERT INTO graft.arrow.`$branchPath` " +
      s"SELECT k + 80000000, st, price FROM graft.arrow.`$branchPath` " +
      "WHERE k % 211 = 0")
    spark.sql(s"UPDATE graft.arrow.`$branchPath` SET price = 0.0 " +
      "WHERE k < 400")
    spark.sql(s"CALL graft.system.publish_branch(path => '$out', " +
      "name => 'staging')").collect()
    spark.read.format("arrow").load(out)
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"),
        sum(col("k")).as("sum_key"))
      .orderBy(col("st"))
  }

  /** GENERATED columns, oracle-gated: declare
    * `band = CAST(FLOOR(price / 100) AS BIGINT)` on an existing table
    * (metadata-only — pre-declaration rows read NULL), append a frame
    * WITHOUT the column (the storage layer materializes it into the
    * written files), INSERT with a column list (Spark fills the
    * omitted column with NULL; the ingest path recomputes it), and
    * roll up per band — equal to DuckDB's restatement. The 100 TB
    * shape: the derivation runs once at ingest inside the writer's
    * codegen'd projection, so every later scan gets zone maps, blooms
    * and pruning on the derived column for free instead of
    * recomputing the expression per query. */
  def arrowGeneratedColumn(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    val out = graft.Scratch.dir("gencol_q", dir)
    graft.Scratch.reset(out)
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"))
      .repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
      .write.format("arrow").mode("overwrite").save(out)
    graft.sources.arrow.ArrowDataSource.initTableLog(out)
    spark.sql(s"CALL graft.system.add_column(path => '$out', " +
      "name => 'band', type => 'bigint', " +
      "generated => 'CAST(FLOOR(price / 100) AS BIGINT)')").collect()
    // batch append WITHOUT the column: materialized by the writer
    Tables.orders(spark, dir)
      .where(col("o_orderkey") % 211 === 0)
      .select((col("o_orderkey") + lit(70000000L)).as("k"),
        lit("G").as("st"), col("o_totalprice").as("price"))
      .write.format("arrow").mode("append").save(out)
    // INSERT with a column list: the filled-in NULL recomputes
    spark.sql(s"INSERT INTO graft.arrow.`$out` (k, st, price) " +
      "SELECT k + 80000000, 'H', price FROM graft.arrow.`" + out +
      "` WHERE k % 409 = 0 AND k < 70000000")
    spark.read.format("arrow").load(out)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"),
        sum(col("k")).as("sum_key"))
      .orderBy(col("band").asc_nulls_first)
  }

  val defs: Map[String, Q] = Map(
    "arrow_generated_column" -> (arrowGeneratedColumn _),
    "arrow_branch_publish" -> (arrowBranchPublish _),
    "arrow_ddl_roundtrip" -> (arrowDdlRoundtrip _),
    "arrow_copy_into" -> (arrowCopyInto _),
    "arrow_partition_evolution" -> (arrowPartitionEvolution _),
    "arrow_tag_travel" -> (arrowTagTravel _),
    "arrow_cdf_batch" -> (arrowCdfBatch _),
    "arrow_delete_partition" -> (arrowDeletePartition _),
    "arrow_time_travel" -> (arrowTimeTravel _),
    "arrow_timestamp_travel" -> (arrowTimestampTravel _),
    "cdc_replicate" -> (cdcReplicate _),
    "cdc_incremental_agg" -> (cdcIncrementalAgg _),
    "cdc_incremental_join_agg" -> (cdcIncrementalJoinAgg _),
    "cdc_incremental_join_mutable" -> (cdcIncrementalJoinMutable _),
    "join_temporal_scd2" -> (joinTemporalScd2 _),
    "cdc_scd2" -> (cdcScd2 _),
    "arrow_wap_publish" -> (arrowWapPublish _),
    "arrow_add_column" -> (arrowAddColumn _),
    "arrow_merge_schema_write" -> (arrowMergeSchemaWrite _),
    "arrow_merge_schema_nested" -> (arrowMergeSchemaNested _),
    "arrow_type_widen" -> (arrowTypeWiden _),
    "arrow_default_column" -> (arrowDefaultColumn _),
    "arrow_rename_column" -> (arrowRenameColumn _),
    "mv_rewrite_agg" -> (mvRewriteAgg _),
    "mv_rewrite_rollup" -> (mvRewriteRollup _),
    "arrow_clone" -> (arrowClone _),
    "arrow_delete_dv" -> (arrowDeleteDv _),
    "arrow_delta_update" -> (arrowDeltaUpdate _),
    "arrow_partitions_meta" -> (arrowPartitionsMeta _),
    "arrow_restore" -> (arrowRestore _),
    "arrow_changes" -> (arrowChanges _),
    "arrow_delete_rows" -> (arrowDeleteRows _),
    "arrow_update_rows" -> (arrowUpdateRows _),
    "arrow_merge_rows" -> (arrowMergeRows _),
    "arrow_zorder_box" -> (arrowZorderBox _),
    "arrow_maintenance" -> (arrowMaintenance _),
    "layout_compaction" -> (layoutCompaction _),
    "arrow_compaction" -> (arrowCompaction _),
    "merge_upsert" -> (mergeUpsert _),
    "merge_upsert_evolve" -> (mergeUpsertEvolve _),
    "merge_full_sync" -> (mergeFullSync _),
    "arrow_purge" -> (arrowPurge _),
    "snapshot_diff" -> (snapshotDiff _),
    "scd2_intervals" -> (scd2Intervals _),
    "arrow_zonemap_scan" -> (arrowZonemapScan _),
    "arrow_zonemap_string" -> (arrowZonemapString _))

  private val updatesSql =
    """SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1 AS DOUBLE) AS u_totalprice,
      |  'P' AS u_orderstatus
      | FROM orders WHERE o_orderkey % 97 = 0
      |UNION ALL
      |SELECT o_orderkey + 10000000 AS o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 0.5 AS DOUBLE) AS u_totalprice,
      |  'N' AS u_orderstatus
      | FROM orders WHERE o_orderkey % 193 = 0""".stripMargin

  private val mergedSql =
    s"""SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       | COALESCE(u.u_orderstatus, b.o_orderstatus) AS o_orderstatus,
       | COALESCE(u.u_totalprice, b.o_totalprice) AS o_totalprice
       |FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders) b
       |FULL OUTER JOIN ($updatesSql) u ON b.o_orderkey = u.o_orderkey""".stripMargin

  val sql: Map[String, String] = Map(
    "arrow_generated_column" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_totalprice AS price
        |  FROM orders),
        |appended AS (
        |  SELECT o_orderkey + 70000000 AS k, 'G' AS st,
        |    o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 211 = 0),
        |inserted AS (
        |  SELECT k + 80000000 AS k, 'H' AS st, price
        |  FROM base WHERE k % 409 = 0),
        |all_rows AS (
        |  SELECT k, st, price, CAST(NULL AS BIGINT) AS band FROM base
        |  UNION ALL
        |  SELECT k, st, price, CAST(FLOOR(price / 100) AS BIGINT)
        |  FROM appended
        |  UNION ALL
        |  SELECT k, st, price, CAST(FLOOR(price / 100) AS BIGINT)
        |  FROM inserted)
        |SELECT band, COUNT(*) AS n,
        | CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(k) AS BIGINT) AS sum_key
        |FROM all_rows GROUP BY band
        |ORDER BY band NULLS FIRST""".stripMargin,
    "arrow_branch_publish" ->
      """WITH staged AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_totalprice AS price
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 80000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 211 = 0),
        |final AS (
        |  SELECT k, st,
        |    CASE WHEN k < 400 THEN 0.0 ELSE price END AS price
        |  FROM staged)
        |SELECT st, COUNT(*) AS n,
        | CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(k) AS BIGINT) AS sum_key
        |FROM final GROUP BY st ORDER BY st""".stripMargin,
    "arrow_ddl_roundtrip" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    o_totalprice AS price, CAST(NULL AS VARCHAR) AS channel
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 90000000, o_orderstatus, o_totalprice, 'api'
        |  FROM orders WHERE o_orderkey % 11 = 0)
        |SELECT status, channel, COUNT(*) AS n,
        | CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(k) AS BIGINT) AS sum_key
        |FROM t GROUP BY status, channel
        |ORDER BY status, channel NULLS FIRST""".stripMargin,
    // the three slices partition orders exactly; a double-loaded file
    // would double its slice's counts/sums and hash-mismatch
    "arrow_copy_into" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_partition_evolution" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the tag resolves to the PRE-delete epoch: the aggregate must
    // cover every order, including the deleted key range
    "arrow_tag_travel" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_delete_partition" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_delete_rows" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE NOT (o_orderkey <= 2000 AND o_orderstatus = 'O')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_zorder_box" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300
        |  AND o_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    "arrow_maintenance" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_changes" ->
      """WITH changes AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         'delete' AS change_type
        |  FROM orders WHERE o_orderkey < 400
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete'
        |  FROM orders
        |  WHERE o_orderkey >= 600 AND o_orderkey < 900
        |    AND o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 0.0, 'insert'
        |  FROM orders
        |  WHERE o_orderkey >= 600 AND o_orderkey < 900
        |    AND o_orderstatus = 'F'
        |)
        |SELECT change_type, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM changes GROUP BY change_type, o_orderstatus
        |ORDER BY change_type, o_orderstatus""".stripMargin,
    "arrow_time_travel" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_cdf_batch" ->
      """WITH changes AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         'delete' AS change_type
        |  FROM orders WHERE o_orderkey < 400
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete'
        |  FROM orders
        |  WHERE o_orderkey >= 600 AND o_orderkey < 900
        |    AND o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 0.0, 'insert'
        |  FROM orders
        |  WHERE o_orderkey >= 600 AND o_orderkey < 900
        |    AND o_orderstatus = 'F'
        |)
        |SELECT change_type, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM changes GROUP BY change_type, o_orderstatus
        |ORDER BY change_type, o_orderstatus""".stripMargin,
    "arrow_timestamp_travel" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_replicate" ->
      // the replica drains the shared source's FULL epoch history —
      // snapshot, delete, update AND the insert epoch (the insert
      // snapshots post-update prices, so 'Z' rows carry `p`)
      """WITH post AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey >= 600 AND o_orderkey < 900
        |      AND o_orderstatus = 'F' THEN 0.0
        |      ELSE o_totalprice END AS p,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey >= 400),
        |final AS (
        |  SELECT o_orderkey, p, o_orderstatus FROM post
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, p, 'Z' AS o_orderstatus
        |  FROM post WHERE o_orderkey % 251 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_partitions_meta" ->
      """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
        | COUNT(*) AS rows
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY partition""".stripMargin,
    "arrow_delta_update" ->
      """WITH upd AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderstatus = 'F' AND o_orderkey < 2000
        |      THEN 0.0 ELSE o_totalprice END AS p,
        |    o_orderstatus
        |  FROM orders),
        |del AS (SELECT * FROM upd WHERE o_orderkey % 13 <> 0),
        |m AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN 1.5 ELSE p END AS p,
        |    o_orderstatus
        |  FROM del),
        |ins AS (
        |  SELECT o_orderkey + 30000000 AS o_orderkey, 1.5 AS p,
        |    'Q' AS o_orderstatus
        |  FROM orders
        |  WHERE o_orderkey % 97 = 0 AND o_orderkey % 13 = 0),
        |allr AS (SELECT * FROM m UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM allr GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_delete_dv" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_orderkey >= 500
        |  AND NOT (o_orderkey >= 700 AND o_orderkey < 800)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_clone" ->
      """WITH cl AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderstatus = 'P' THEN 0.0
        |      ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey >= 1000),
        |u AS (
        |  SELECT 'clone' AS side, o_orderstatus, p FROM cl
        |  UNION ALL
        |  SELECT 'source' AS side, o_orderstatus, o_totalprice AS p
        |  FROM orders)
        |SELECT side, o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM u GROUP BY side, o_orderstatus
        |ORDER BY side, o_orderstatus""".stripMargin,
    "cdc_incremental_agg" ->
      """WITH post AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey >= 600 AND o_orderkey < 900
        |      AND o_orderstatus = 'F' THEN 0.0
        |      ELSE o_totalprice END AS p,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey >= 400),
        |final AS (
        |  SELECT o_orderkey, p, o_orderstatus FROM post
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, p, 'Z' AS o_orderstatus
        |  FROM post WHERE o_orderkey % 251 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(ROUND(p * 100) AS BIGINT)) AS DOUBLE) / 100
        |   AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_incremental_join_agg" ->
      """WITH post AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey >= 600 AND o_orderkey < 900
        |      AND o_orderstatus = 'F' THEN 0.0
        |      ELSE o_totalprice END AS p,
        |    o_orderstatus, o_custkey
        |  FROM orders WHERE o_orderkey >= 400),
        |final AS (
        |  SELECT o_orderkey, p, o_custkey FROM post
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, p, o_custkey
        |  FROM post WHERE o_orderkey % 251 = 0)
        |SELECT c.c_mktsegment, COUNT(*) AS n,
        | CAST(SUM(CAST(ROUND(p * 100) AS BIGINT)) AS DOUBLE) / 100
        |   AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM final JOIN customer c ON final.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    "cdc_incremental_join_mutable" ->
      """WITH fact_final AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey >= 500 AND o_orderkey < 800
        |      AND o_orderstatus = 'O' THEN 0.0
        |      ELSE o_totalprice END AS p,
        |    o_custkey
        |  FROM orders WHERE o_orderkey >= 300
        |  UNION ALL
        |  -- inserted keys sit far above the later update's key range,
        |  -- so they keep their source prices
        |  SELECT o_orderkey + 40000000, o_totalprice, o_custkey
        |  FROM orders WHERE o_orderkey >= 300 AND o_orderkey % 401 = 0),
        |dim_final AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
        |      ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 97 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 90000000, 'NEWSEG'
        |  FROM customer WHERE c_custkey % 97 <> 0 AND c_custkey % 113 = 0)
        |SELECT d.c_mktsegment, COUNT(*) AS n,
        | CAST(SUM(CAST(ROUND(p * 100) AS BIGINT)) AS DOUBLE) / 100
        |   AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM fact_final f JOIN dim_final d ON f.o_custkey = d.c_custkey
        |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin,
    "mv_rewrite_rollup" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "mv_rewrite_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey >= 700
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_rename_column" ->
      """WITH renamed AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey < 250 THEN 0.0 ELSE o_totalprice END AS price,
        |    o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  -- the insert snapshots prices BEFORE the update epoch
        |  SELECT o_orderkey + 50000000, o_totalprice, 'R'
        |  FROM orders WHERE o_orderkey % 509 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM renamed GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_merge_schema_write" ->
      """WITH evolved AS (
        |  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 60000000, o_totalprice, 'backfill'
        |  FROM orders WHERE o_orderkey % 397 = 0)
        |SELECT o_channel, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM evolved GROUP BY o_channel
        |ORDER BY o_channel NULLS FIRST""".stripMargin,
    "arrow_merge_schema_nested" ->
      """WITH evolved AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |    CAST(NULL AS VARCHAR) AS prio, o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 70000000, 'M', o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 397 = 0)
        |SELECT prio, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        | COUNT(status) AS n_status
        |FROM evolved GROUP BY prio
        |ORDER BY prio NULLS FIRST""".stripMargin,
    "arrow_add_column" ->
      """WITH evolved AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey < 300 THEN 'updated' ELSE NULL END AS o_flag
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 40000000, o_totalprice, 'inserted'
        |  FROM orders WHERE o_orderkey % 401 = 0)
        |SELECT o_flag, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM evolved GROUP BY o_flag
        |ORDER BY o_flag NULLS FIRST""".stripMargin,
    "arrow_default_column" ->
      """WITH evolved AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey < 200 THEN 0.0
        |      ELSE o_totalprice END AS p,
        |    'legacy' AS channel
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 40000000, o_totalprice, 'api'
        |  FROM orders WHERE o_orderkey % 401 = 0)
        |SELECT channel, COUNT(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(k) AS BIGINT) AS sum_key
        |FROM evolved GROUP BY channel
        |ORDER BY channel""".stripMargin,
    "arrow_type_widen" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey % 100000000 AS BIGINT) AS k,
        |    o_totalprice, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS pd
        |  FROM orders),
        |widened AS (
        |  SELECT k,
        |    CASE WHEN k < 300 THEN 0.0 ELSE o_totalprice END AS p,
        |    o_orderstatus AS s,
        |    CAST(pd AS DECIMAL(20,2)) AS pd
        |  FROM base
        |  UNION ALL
        |  SELECT k + 3000000000, o_totalprice, 'W',
        |    CAST(pd + 100000000000.00 AS DECIMAL(20,2))
        |  FROM base WHERE k % 401 = 0)
        |SELECT s AS o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(pd) AS DOUBLE) AS sum_price_d,
        | CAST(SUM(k) AS BIGINT) AS sum_key
        |FROM widened GROUP BY s
        |ORDER BY o_orderstatus""".stripMargin,
    "arrow_wap_publish" ->
      """WITH post AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey >= 1000 AND o_orderkey < 1500
        |      AND o_orderstatus = 'O' THEN 0.0
        |      ELSE o_totalprice END AS p,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey >= 500),
        |final AS (
        |  SELECT o_orderkey, p, o_orderstatus FROM post
        |  UNION ALL
        |  SELECT o_orderkey + 30000000, p, 'W' AS o_orderstatus
        |  FROM post WHERE o_orderkey % 307 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "cdc_scd2" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus,
        |    CAST(0 AS BIGINT) AS valid_from,
        |    CAST(CASE
        |      WHEN o_orderkey < 400 THEN 1
        |      WHEN o_orderkey >= 600 AND o_orderkey < 900
        |        AND o_orderstatus = 'F' THEN 2
        |      ELSE NULL END AS BIGINT) AS valid_to
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, 0.0 AS o_totalprice, o_orderstatus,
        |    CAST(2 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM orders
        |  WHERE o_orderkey >= 600 AND o_orderkey < 900
        |    AND o_orderstatus = 'F'),
        |ins AS (
        |  SELECT o_orderkey + 20000000 AS o_orderkey,
        |    CASE WHEN o_orderkey >= 600 AND o_orderkey < 900
        |      AND o_orderstatus = 'F' THEN 0.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    'Z' AS o_orderstatus,
        |    CAST(3 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM orders WHERE o_orderkey % 251 = 0 AND o_orderkey >= 400),
        |hist AS (
        |  SELECT * FROM snap UNION ALL
        |  SELECT * FROM upd UNION ALL
        |  SELECT * FROM ins)
        |SELECT o_orderkey, o_totalprice, o_orderstatus,
        |  valid_from, valid_to, (valid_to IS NULL) AS is_current
        |FROM hist ORDER BY o_orderkey, valid_from""".stripMargin,
    "arrow_purge" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(CASE WHEN o_orderkey < 300 THEN 0.0
        |   ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "merge_full_sync" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_orderkey >= 500 AND o_orderkey <= 2500
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_temporal_scd2" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus,
        |    CAST(0 AS BIGINT) AS valid_from,
        |    CAST(CASE
        |      WHEN o_orderkey < 400 THEN 1
        |      WHEN o_orderkey >= 600 AND o_orderkey < 900
        |        AND o_orderstatus = 'F' THEN 2
        |      ELSE NULL END AS BIGINT) AS valid_to
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, 0.0 AS o_totalprice, o_orderstatus,
        |    CAST(2 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM orders
        |  WHERE o_orderkey >= 600 AND o_orderkey < 900
        |    AND o_orderstatus = 'F'),
        |ins AS (
        |  SELECT o_orderkey + 20000000 AS o_orderkey,
        |    CASE WHEN o_orderkey >= 600 AND o_orderkey < 900
        |      AND o_orderstatus = 'F' THEN 0.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    'Z' AS o_orderstatus,
        |    CAST(3 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM orders WHERE o_orderkey % 251 = 0 AND o_orderkey >= 400),
        |hist AS (
        |  SELECT * FROM snap UNION ALL
        |  SELECT * FROM upd UNION ALL
        |  SELECT * FROM ins),
        |f AS (SELECT l_orderkey, l_quantity,
        |  CAST(l_linenumber % 4 AS BIGINT) AS as_of FROM lineitem)
        |SELECT f.as_of, h.o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(h.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price,
        | CAST(SUM(CAST(f.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_qty
        |FROM f JOIN hist h ON f.l_orderkey = h.o_orderkey
        | AND h.valid_from <= f.as_of
        | AND (h.valid_to IS NULL OR f.as_of < h.valid_to)
        |GROUP BY f.as_of, h.o_orderstatus
        |ORDER BY f.as_of, h.o_orderstatus""".stripMargin,
    "arrow_restore" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_update_rows" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(CASE WHEN o_orderkey <= 2000 AND o_orderstatus = 'O'
        |   THEN 0.0 ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_merge_rows" ->
      """WITH src AS (
        |  SELECT o_orderkey * 2 AS k, 0.5 AS p FROM orders
        |  WHERE o_orderkey <= 1500),
        |upd AS (
        |  SELECT CASE WHEN o_orderkey IN (SELECT k FROM src)
        |    THEN 0.5 ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders),
        |ins AS (
        |  SELECT 0.5 AS o_totalprice, 'M' AS o_orderstatus FROM src
        |  WHERE k NOT IN (SELECT o_orderkey FROM orders)),
        |allr AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM allr GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "layout_compaction" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "arrow_compaction" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "merge_upsert" ->
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice
         |FROM ($mergedSql)
         |ORDER BY o_orderkey""".stripMargin,
    "merge_upsert_evolve" ->
      """WITH evolved AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 251 = 0
        |      THEN o_totalprice + 1000.0 ELSE o_totalprice
        |    END AS o_totalprice,
        |    CASE WHEN o_orderkey % 251 = 0 THEN 'cdc'
        |      ELSE CAST(NULL AS VARCHAR) END AS o_channel
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 80000000, o_totalprice, 'cdc-new'
        |  FROM orders WHERE o_orderkey % 257 = 0)
        |SELECT o_channel, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM evolved GROUP BY o_channel
        |ORDER BY o_channel NULLS FIRST""".stripMargin,
    "snapshot_diff" ->
      s"""WITH nxt AS ($mergedSql)
         |SELECT COALESCE(n.o_orderkey, b.o_orderkey) AS o_orderkey,
         | CASE WHEN b.o_orderkey IS NULL THEN 'added'
         |      WHEN n.o_orderkey IS NULL THEN 'removed'
         |      WHEN b.o_orderstatus <> n.o_orderstatus
         |        OR b.o_totalprice <> n.o_totalprice THEN 'changed'
         | END AS change_type,
         | n.o_orderstatus AS o_orderstatus,
         | n.o_totalprice AS o_totalprice
         |FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders) b
         |FULL OUTER JOIN nxt n ON b.o_orderkey = n.o_orderkey
         |WHERE CASE WHEN b.o_orderkey IS NULL THEN 'added'
         |      WHEN n.o_orderkey IS NULL THEN 'removed'
         |      WHEN b.o_orderstatus <> n.o_orderstatus
         |        OR b.o_totalprice <> n.o_totalprice THEN 'changed'
         | END IS NOT NULL
         |ORDER BY o_orderkey""".stripMargin,
    "scd2_intervals" ->
      """WITH chg AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
        |    LAG(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev_val
        |  FROM orders),
        |vers AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate
        |  FROM chg
        |  WHERE prev_val IS NULL OR prev_val <> o_orderpriority)
        |SELECT o_custkey, o_orderkey, o_orderpriority AS dim_value,
        |  o_orderdate AS valid_from,
        |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  CAST(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) IS NULL AS INT) AS is_current
        |FROM vers
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,
    "arrow_zonemap_scan" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey >= 1000 AND o_orderkey < 3000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_zonemap_string" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |   OR o_orderpriority LIKE '3%'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
