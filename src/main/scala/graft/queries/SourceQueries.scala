package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink surface (SURVEY.md §2b "Scans / sources / sinks"): the
  * custom Arrow IPC DSv2, CSV with schema inference, and JSON parsing —
  * each exercised end-to-end by routing fixture data *through* the
  * source and aggregating, with the oracle computing the same aggregate
  * straight from parquet. A hash match proves the source round-trips
  * losslessly, not just that it "reads something".
  */
object SourceQueries {
  type Q = (SparkSession, String) => DataFrame

  private def tmp(kind: String, sfDir: String): String =
    graft.Scratch.dir(s"rt_$kind", sfDir)

  /** parquet → Arrow IPC (zstd) → read back through the DSv2 → aggregate. */
  def arrowRoundtripAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrow", dir)
    graft.Fixtures.once(out) {
      Tables.lineitem(spark, dir).write.format("arrow")
        .option("codec", "zstd").mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .filter(col("l_quantity") >= 10.0) // pushed into the arrow reader
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** parquet → ORC → read back → aggregate: the third columnar
    * at-rest format beside parquet and the custom Arrow DSv2 (ORC
    * ships in Spark core; its reader pushes predicates as search
    * arguments the same way parquet pushes filters). */
  def orcRoundtripAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("orc", dir)
    graft.Fixtures.once(out) {
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(out)
    }
    spark.read.orc(out)
      .filter(col("l_quantity") >= 10.0)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** parquet → XML → read back with an explicit schema → aggregate:
    * Spark 4's built-in XML source (spark-xml merged into core), the
    * semi-structured format enterprise feeds still arrive in. Write
    * emits one `<order>` row element per record; the read declares the
    * schema (XML inference samples types TEXT-first, and the oracle
    * needs exact LONG/DOUBLE/STRING typing). */
  def xmlRoundtripAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("xml", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .write.format("xml").option("rowTag", "order")
        .mode("overwrite").save(out)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    spark.read.format("xml").option("rowTag", "order")
      .schema(schema).load(out)
      .filter(col("o_orderkey") <= 3000)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** parquet → headered CSV → read back with schema inference → aggregate
    * (the classic storage-engine `Load` with inferred schema). */
  def csvInferAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("csv", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.option("header", "true").mode("overwrite").csv(out)
    }
    spark.read.option("header", "true").option("inferSchema", "true").csv(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** FEDERATED query — one declarative plan over FOUR storage formats:
    * the orders fact from the Arrow DSv2 (filter pushed into the
    * custom source), the customer dimension from CSV (inferred
    * schema), nation from the original parquet, region from ORC — the
    * lake reality where history, dimensions, and feeds live in
    * different formats and the engine must plan them as one graph.
    * Catalyst treats every source uniformly: the dims broadcast, the
    * fact scan prunes columns and takes the pushed filter, and the
    * whole thing is one join tree — no per-format staging. */
  def federatedJoin(spark: SparkSession, dir: String): DataFrame = {
    val arrowOrders = tmp("fed_arrow", dir)
    val csvCust = tmp("fed_csv", dir)
    val orcRegion = tmp("fed_orc", dir)
    graft.Fixtures.once(arrowOrders) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.format("arrow").mode("overwrite").save(arrowOrders)
    }
    graft.Fixtures.once(csvCust) {
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .write.option("header", "true").mode("overwrite").csv(csvCust)
    }
    graft.Fixtures.once(orcRegion) {
      Tables.region(spark, dir).write.mode("overwrite").orc(orcRegion)
    }
    val orders = spark.read.format("arrow").load(arrowOrders)
      .filter(col("o_orderstatus") === "O")
    val cust = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(csvCust)
    val nation = Tables.nation(spark, dir)
    val region = spark.read.orc(orcRegion)
    orders
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("r_name"))
  }

  /** JSON-lines source: the raw props strings written as a text file,
    * read back with `spark.read.json` (schema inferred from the lines
    * themselves — the reference's dynamic, expression-carried schema
    * stance applied to a file source), then aggregated. */
  def jsonLinesAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("jsonl", dir)
    graft.Fixtures.once(out) {
      Tables.events(spark, dir).select(col("props"))
        .write.mode("overwrite").text(out)
    }
    spark.read.json(out)
      .filter(col("k").isNotNull)
      .groupBy((col("k") % 7).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("k_mod"))
  }

  /** JSON parsing with an explicit schema: events.props → struct → agg. */
  def jsonKvAgg(spark: SparkSession, dir: String): DataFrame =
    fanOut(Tables.events(spark, dir))
      .select(col("event_type"),
        from_json(col("props"), "k INT", Map.empty[String, String])
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Schemaless JSON via Spark 4's VARIANT type: parse_json into a
    * variant column, extract typed fields with variant_get — the
    * open-schema path when props keys are not known up front (from_json
    * above is the closed-schema path). The oracle recomputes the same
    * typed extraction with DuckDB's JSON operators. */
  def jsonVariantAgg(spark: SparkSession, dir: String): DataFrame =
    fanOut(Tables.events(spark, dir))
      .select(col("event_type"),
        parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'int')").as("k"),
        expr("try_variant_get(v, '$.missing', 'int')").as("missing"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
        count(col("missing")).as("n_missing"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** parquet → Arrow IPC → global MIN/MAX/COUNT answered from the IPC
    * footer statistics the writer persists (zone maps + row/null
    * counts): the scan never loads a data batch
    * (ArrowAggPushdownSpec pins that). The oracle computes the same
    * aggregates straight from parquet, so a hash match proves the
    * footer stats are exact, not just present. */
  def arrowAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowagg", dir)
    // zstd, not lz4: Arrow Java's lz4 codec routes through
    // commons-compress's pure-Java LZ4, which is ~100x slower than the
    // native zstd binding (measured 142 s vs 1 s writing orders at
    // sf0.1) — lz4 stays supported on the option surface, but nothing
    // perf-sensitive should default to it
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir).write.format("arrow")
        .option("codec", "zstd").mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .agg(min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"),
        count(lit(1)).as("n_rows"),
        count(col("o_orderstatus")).as("n_status"))
  }

  /** parquet → Arrow IPC → dictionary-encoding rewrite
    * ([[graft.sources.arrow.ArrowOptimize]]) → read back → aggregate:
    * the oracle computes the same aggregate from parquet, so a hash
    * match proves the dictionary layout is lossless end-to-end (write,
    * per-file dictionary build, index decode on scan). */
  def arrowDictAgg(spark: SparkSession, dir: String): DataFrame = {
    val plain = tmp("arrowdict_plain", dir)
    val optimized = tmp("arrowdict_opt", dir)
    graft.Fixtures.once(optimized) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.format("arrow").mode("overwrite").save(plain)
      graft.sources.arrow.ArrowOptimize.dictionaryEncode(
        spark, plain, optimized, codec = Some("zstd"))
    }
    spark.read.format("arrow").load(optimized)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** parquet → partitioned Arrow write (Hive-style value dirs) →
    * partition-filtered read-back: the filter prunes whole files at
    * planning time (ArrowPartitionSpec pins that); the oracle computes
    * the same aggregate from parquet, proving the layout carries the
    * partition column losslessly. The arrow twin of
    * `partitioned_write_prune`. */
  def arrowPartitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowpart", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.format("arrow").partitionBy("o_orderpriority")
        .mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Derived (hidden) time partitioning end-to-end — Iceberg's
    * `days(ts)` transform on the Arrow writer: events route into
    * `day=YYYY-MM-DD/` dirs computed from the timestamp (nothing
    * materialized by the caller, the source column stays in the
    * files), and a day-range filter prunes whole directories at
    * planning. The oracle restates the window as a date cast over the
    * raw events, proving the derived layout is lossless AND the
    * day→instant mapping exact. The 100 TB shape: time-range queries
    * and retention sweeps touch only their days' directories. */
  def arrowTransformPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowtpart", dir)
    graft.Fixtures.once(out) {
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .write.format("arrow")
        .option("partitionTransform", "days(ts) AS day")
        .option("optimizeWrite", "true")
        .mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .filter(col("day").between("2024-01-10", "2024-01-14"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Bucketed Arrow layout end-to-end: both join sides written with the
    * same `bucket(8, key)` layout (footer-stamped), read through the
    * graft V2 catalog so Catalyst resolves the reported bucket
    * transform, and equi-joined — storage-partitioned join drops both
    * exchanges (ArrowBucketingSpec pins the plan shape; this query pins
    * the ANSWER against the plain parquet join). At 100 TB this is the
    * repeated-fact-fact-join layout: the shuffle is paid once at write
    * time, then every subsequent join on the key is exchange-free. */
  def arrowBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val liOut = tmp("arrowbkt_li", dir)
    val oOut = tmp("arrowbkt_o", dir)
    graft.Fixtures.once(liOut) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.format("arrow").option("bucketBy", "l_orderkey")
        .option("numBuckets", "8").mode("overwrite").save(liOut)
    }
    graft.Fixtures.once(oOut) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.format("arrow").option("bucketBy", "o_orderkey")
        .option("numBuckets", "8").mode("overwrite").save(oOut)
    }
    spark.table(s"graft.arrow.`$liOut`")
      .join(spark.table(s"graft.arrow.`$oOut`"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bucketed AND sorted Arrow layout: both sides written
    * `bucket(8, key)` with a verified `sortBy(key)` stamp, so the
    * equi-join plans sort-merge with NEITHER exchanges NOR sorts
    * (ArrowSortedSpec pins the plan; this query pins the ANSWER
    * against the plain parquet join). The 100 TB shape: ordering is
    * paid once at write time, and every later join on the key is both
    * shuffle-free and sort-free. */
  def arrowSortedJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.arrow.GraftCatalog.register(spark)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val liOut = tmp("arrowsrt_li", dir)
    val oOut = tmp("arrowsrt_o", dir)
    graft.Fixtures.once(liOut) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .repartition(1).sortWithinPartitions("l_orderkey")
        .write.format("arrow").option("bucketBy", "l_orderkey")
        .option("numBuckets", "8").option("sortBy", "l_orderkey")
        .mode("overwrite").save(liOut)
    }
    graft.Fixtures.once(oOut) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .repartition(1).sortWithinPartitions("o_orderkey")
        .write.format("arrow").option("bucketBy", "o_orderkey")
        .option("numBuckets", "8").option("sortBy", "o_orderkey")
        .mode("overwrite").save(oOut)
    }
    spark.table(s"graft.arrow.`$liOut`")
      .join(spark.table(s"graft.arrow.`$oOut`"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Map columns through the Arrow source (`events.props` shape):
    * JSON → map<string,bigint> → Arrow map<entries> layout → read back
    * → key lookup → aggregate. The oracle recomputes from the raw JSON
    * in DuckDB, so a hash match proves the map layout is lossless. */
  def arrowMapAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowmap", dir)
    graft.Fixtures.once(out) {
      Tables.events(spark, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType)).as("m"))
        .write.format("arrow").mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .select(col("event_type"), col("m").getItem("k").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** Nested STRUCT columns through the Arrow source — the typed-
    * metadata shape a multimodal corpus carries next to its binary
    * payloads (media struct<w,h,codec,...>). Two nesting levels
    * (struct inside struct) round-trip, and the aggregate reads
    * leaf fields by dotted path. The oracle recomputes from the flat
    * events table, so a hash match proves the nested layout is
    * lossless. */
  def arrowStructAgg(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowstruct", dir)
    graft.Fixtures.once(out) {
      Tables.events(spark, dir)
        .select(col("event_id"),
          struct(col("event_type"),
            struct(col("user_id"), col("value")).as("inner")).as("ev"))
        .write.format("arrow").mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .groupBy(col("ev.event_type").as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("ev.inner.user_id")).as("sum_user"),
        dsum(col("ev.inner.value"), 6).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Per-file Bloom pruning on a high-cardinality key: orders written
    * hash-distributed (every file spans the full o_custkey range, so
    * zone maps prune NOTHING) with a footer bloom on o_custkey; the
    * point-IN lookup then skips every file whose bloom proves its
    * probes absent (ArrowBloomSpec pins the pruning; this query pins
    * the ANSWER against parquet). The 100 TB story: a
    * needle-in-haystack lookup reads ~1% (the false-positive rate) of
    * the corpus instead of all of it. */
  def arrowBloomScan(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowbloom", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .repartition(8, col("o_orderkey"))
        .write.format("arrow").option("bloomFilterColumns", "o_custkey")
        .mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .filter(col("o_custkey").isin(7L, 11L, 13L, 999999999L))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
  }

  /** GROUP BY a partition column answered ENTIRELY from footer
    * metadata: each value directory's files carry per-file row counts
    * and zone maps, so the grouped COUNT/MIN/MAX pushes down with the
    * partition value as the group key and no data batch is ever loaded
    * (ArrowAggPushdownSpec pins the zero-batch claim). The 100 TB
    * story: a per-partition rollup over a petabyte layout is a footer
    * pass, not a scan. The oracle recomputes from parquet. */
  def arrowGroupedPushdown(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowgrp", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.format("arrow").partitionBy("o_orderstatus")
        .mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))
  }

  /** LIMIT pushed into the scan: planning stops emitting splits once
    * the footers' row counts prove the limit is covered — `LIMIT 1000`
    * over a many-file directory schedules one split instead of one
    * task per file (ArrowLimitSpec pins the truncation). The COUNT
    * above the limit is the deterministic part of an otherwise
    * arbitrary row choice, so it is what the oracle checks. */
  def arrowLimitPushdown(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowlimit", dir)
    graft.Fixtures.once(out) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .repartition(8)
        .write.format("arrow").mode("overwrite").save(out)
    }
    spark.read.format("arrow").load(out)
      .limit(1000)
      .agg(count(lit(1)).as("n"))
  }

  /** TOP-N pushdown (`SupportsPushDownTopN`): `ORDER BY key LIMIT 20`
    * over a key-sorted arrow layout — split planning proves from
    * per-batch footer stats which batches can hold a top-N row and
    * drops the rest, so the petabyte version of this query reads a
    * handful of record batches. The query REQUIRES the push to have
    * been planned; the oracle is the plain ordered limit. */
  def arrowTopnScan(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrowtopn", dir)
    graft.Fixtures.once(out) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .repartition(1)
        .sortWithinPartitions(col("o_orderkey"))
        .write.format("arrow").option("batchRows", 1024)
        .mode("overwrite").save(out)
    }
    val df = spark.read.format("arrow").load(out)
      .orderBy(col("o_orderkey")).limit(20)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    require(df.queryExecution.executedPlan.toString.contains("topN=["),
      "arrow_topn_scan: the ORDER BY LIMIT was not pushed to the scan")
    df
  }

  /** Read-side schema evolution (`mergeSchema`): two write
    * generations of orders — the old one without o_orderstatus, the
    * new one with it — land in one directory; the merged read unions
    * the schemas and serves the missing column as nulls, so the
    * grouped aggregate sees exactly the new generation's values plus
    * a null group for the old. The oracle reproduces the generation
    * split with a CASE on the same key cut. */
  def arrowSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = tmp("arrow_evolve", dir)
    val orders = Tables.orders(spark, dir)
    graft.Fixtures.once(out) {
      orders.filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.format("arrow").mode("overwrite").save(out)
      orders.filter(col("o_orderkey") > 2000)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .write.format("arrow").mode("append").save(out)
    }
    spark.read.format("arrow").option("mergeSchema", "true").load(out)
      .groupBy(coalesce(col("o_orderstatus"), lit("pre_evolution"))
        .as("status"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("status"))
  }

  val defs: Map[String, Q] = Map(
    "arrow_schema_evolution" -> (arrowSchemaEvolution _),
    "arrow_group_pushdown" -> (arrowGroupedPushdown _),
    "arrow_limit_pushdown" -> (arrowLimitPushdown _),
    "arrow_sorted_join" -> (arrowSortedJoin _),
    "arrow_bloom_scan" -> (arrowBloomScan _),
    "arrow_bucketed_join" -> (arrowBucketedJoin _),
    "arrow_map_agg" -> (arrowMapAgg _),
    "arrow_struct_agg" -> (arrowStructAgg _),
    "arrow_roundtrip_agg" -> (arrowRoundtripAgg _),
    "arrow_agg_pushdown" -> (arrowAggPushdown _),
    "arrow_dict_agg" -> (arrowDictAgg _),
    "arrow_partitioned_prune" -> (arrowPartitionedPrune _),
    "arrow_transform_prune" -> (arrowTransformPrune _),
    "csv_infer_agg" -> (csvInferAgg _),
    "federated_join" -> (federatedJoin _),
    "arrow_topn_scan" -> (arrowTopnScan _),
    "orc_roundtrip_agg" -> (orcRoundtripAgg _),
    "xml_roundtrip_agg" -> (xmlRoundtripAgg _),
    "json_lines_agg" -> (jsonLinesAgg _),
    "json_kv_agg" -> (jsonKvAgg _),
    "json_variant_agg" -> (jsonVariantAgg _))

  val sql: Map[String, String] = Map(
    "arrow_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey <= 2000 THEN 'pre_evolution'
        |   ELSE o_orderstatus END AS status,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "arrow_group_pushdown" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_limit_pushdown" ->
      """SELECT COUNT(*) AS n FROM (SELECT * FROM lineitem LIMIT 1000)""",
    "arrow_sorted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "arrow_bloom_scan" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(DISTINCT o_custkey) AS n_cust
        |FROM orders
        |WHERE o_custkey IN (7, 11, 13, 999999999)""".stripMargin,
    "arrow_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "arrow_struct_agg" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(user_id) AS BIGINT) AS sum_user,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "arrow_map_agg" ->
      """SELECT event_type,
        | CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "arrow_roundtrip_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem WHERE l_quantity >= 10.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "arrow_agg_pushdown" ->
      """SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        | min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
        | COUNT(*) AS n_rows, COUNT(o_orderstatus) AS n_status
        |FROM orders""".stripMargin,
    "arrow_dict_agg" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "arrow_partitioned_prune" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "arrow_transform_prune" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10'
        |  AND DATE '2024-01-14'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "xml_roundtrip_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "orc_roundtrip_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n
        |FROM lineitem WHERE l_quantity >= 10.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "arrow_topn_scan" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_orderkey LIMIT 20""".stripMargin,
    "federated_join" ->
      """SELECT r_name, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "csv_infer_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "json_lines_agg" ->
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |GROUP BY k_mod ORDER BY k_mod""".stripMargin,
    "json_kv_agg" ->
      """SELECT event_type,
        | CAST(SUM(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT)) AS BIGINT) AS sum_k,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "json_variant_agg" ->
      """SELECT event_type,
        | CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | COUNT(CAST(json_extract(props, '$.missing') AS INT)) AS n_missing,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
