package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Arrow IPC DSv2: round-trip equality (the storage contract,
  * SURVEY.md §5), compression codecs, column pruning, filter pushdown
  * correctness, overwrite truncation, and a ScalaCheck round-trip
  * property over generated typed rows. */
class ArrowSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private def tmpDir(): String =
    Files.createTempDirectory("arrow_spec").toString

  private def bagEqual(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  for (codec <- Seq(None, Some("lz4"), Some("zstd"))) {
    test(s"round-trip lineitem + embeddings + events, codec=$codec") {
      for (t <- Seq("lineitem", "embeddings", "events")) {
        val src = if (t == "events") Tables.events(spark, TestSession.Sf)
        else Tables.load(spark, TestSession.Sf, t)
        val dir = tmpDir()
        val w = src.write.format("arrow").mode("overwrite")
        codec.fold(w)(c => w.option("codec", c)).save(dir)
        val back = spark.read.format("arrow").load(dir)
        assert(back.schema == src.schema, s"$t schema")
        assert(bagEqual(src, back), s"$t data")
      }
    }
  }

  test("TIMESTAMP_NTZ round-trips (fixture-drift guard)") {
    // the driver's events fixture has shipped ts as nanos-as-long,
    // TIMESTAMP, and TIMESTAMP_NTZ across versions — pin the DSv2
    // mapping (ArrowSchemas: Timestamp(MICROSECOND, null) ⇄
    // TimestampNTZType) so the source can't be broken by the same drift
    val dir = tmpDir()
    val src = Tables.events(spark, TestSession.Sf)
      .select(col("event_id"), col("ts").cast(TimestampNTZType).as("tsn"))
    src.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema("tsn").dataType == TimestampNTZType,
      s"NTZ type lost: ${back.schema("tsn").dataType}")
    assert(bagEqual(src, back), "NTZ data changed")
    // NTZ predicates are claimed by FilterEval, so zone maps prune
    // batches at planning time (same KindLong stat domain as TIMESTAMP)
    val sortedDir = tmpDir()
    src.repartition(1).sortWithinPartitions(col("tsn"))
      .write.format("arrow").option("batchRows", 250)
      .mode("overwrite").save(sortedDir)
    def sorted = spark.read.format("arrow")
      .option("maxSplitBytes", 1).load(sortedDir)
    val total = sorted.rdd.getNumPartitions
    assert(total >= 4, s"expected multiple batch-splits, got $total")
    // a cut inside the first 250-row batch → later batches prune
    val cutLdt = src.orderBy(col("tsn")).limit(200).collect()
      .last.getAs[java.time.LocalDateTime]("tsn")
    val few = sorted.filter(col("tsn") < lit(cutLdt))
    assert(few.rdd.getNumPartitions < total,
      s"NTZ zone maps pruned nothing: ${few.rdd.getNumPartitions} of $total")
    val expected = src.filter(col("tsn") < lit(cutLdt))
    assert(bagEqual(few, expected), "NTZ filter mismatch")
  }

  test("map columns round-trip (events.props shape)") {
    val dir = tmpDir()
    val src = Tables.events(spark, TestSession.Sf)
      .select(col("event_id"),
        from_json(col("props"), MapType(StringType, StringType)).as("props"))
    src.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema("props").dataType == MapType(StringType, StringType),
      s"map type lost: ${back.schema("props").dataType}")
    // maps are not set-op comparable; compare entry lists (the arrow
    // round-trip preserves entry order, so to_json is stable)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), to_json(map_entries(col("props"))).as("e"))
    assert(bagEqual(canon(back), canon(src)), "map data changed")
    // null maps and a non-string value type survive too
    val dir2 = tmpDir()
    val mixed = spark.range(10).toDF("id")
      .withColumn("m", when(col("id") % 3 === 0, lit(null))
        .otherwise(map(lit("a"), col("id"), lit("b"), lit(null))))
    mixed.write.format("arrow").mode("overwrite").save(dir2)
    val back2 = spark.read.format("arrow").load(dir2)
    assert(back2.schema("m").dataType == MapType(StringType, LongType))
    def canon2(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), to_json(map_entries(col("m"))).as("e"))
    assert(bagEqual(canon2(back2), canon2(mixed)), "null-bearing map changed")
  }

  test("struct columns round-trip (nested, null-bearing, list child)") {
    // two nesting levels + a list child inside the struct + null
    // structs + null leaves: the typed-metadata shape a multimodal
    // corpus carries next to binary payloads
    val dir = tmpDir()
    val src = spark.range(20).toDF("id")
      .withColumn("s", when(col("id") % 5 === 0, lit(null))
        .otherwise(struct(
          concat(lit("t"), col("id")).as("tag"),
          when(col("id") % 3 === 0, lit(null)).otherwise(col("id") * 2)
            .as("v"),
          struct((col("id") % 4).as("w"), (col("id") % 7).as("h"))
            .as("dims"),
          array(col("id"), col("id") + 1).as("xs"))))
    src.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema == src.schema,
      s"struct schema changed: ${back.schema.treeString}")
    assert(bagEqual(back, src), "struct data changed")
    // dotted-path leaf reads + aggregation over the nested fields
    val agg = back.filter(col("s").isNotNull)
      .agg(sum(col("s.dims.w")).as("sw"), sum(col("s.v")).as("sv"))
      .collect()(0)
    val exp = src.filter(col("s").isNotNull)
      .agg(sum(col("s.dims.w")).as("sw"), sum(col("s.v")).as("sv"))
      .collect()(0)
    assert(agg == exp, s"nested-leaf aggregate drifted: $agg vs $exp")
    // deletion-vector masked reads remap struct children too
    // (SelectedVector.getChild): exercised by the DV specs for flat
    // types; here we at least pin codec'd struct writes
    val zdir = tmpDir()
    src.write.format("arrow").option("codec", "zstd")
      .mode("overwrite").save(zdir)
    assert(bagEqual(spark.read.format("arrow").load(zdir), src),
      "zstd struct data changed")
    // lists of every element kind, NULL elements and null lists
    // included, and a map whose values are lists
    val ndir = tmpDir()
    def orNull(c: org.apache.spark.sql.Column) =
      when(col("id") % 5 === 0, lit(null)).otherwise(c)
    val nested = spark.range(20).toDF("id").select(col("id"),
      orNull(array(col("id") * 1.5, lit(null).cast("double"), lit(3.0)))
        .as("ds"),
      array(concat(lit("a"), col("id")), lit(null).cast("string"))
        .as("ss"),
      array(col("id") % 2 === 0, lit(null).cast("boolean")).as("bs"),
      array(col("id").cast("smallint"), lit(null).cast("smallint"))
        .as("hs"),
      array(struct(col("id").as("a"), concat(lit("x"), col("id")).as("b")),
        lit(null).cast("struct<a:bigint,b:string>")).as("sts"),
      array(array(col("id").cast("int"), lit(null).cast("int")),
        lit(null).cast("array<int>")).as("aas"),
      orNull(map(lit("k"), array(col("id"), lit(null).cast("bigint"))))
        .as("m"))
    nested.write.format("arrow").mode("overwrite").save(ndir)
    val nback = spark.read.format("arrow").load(ndir)
    assert(nback.schema == nested.schema,
      s"nested schema changed: ${nback.schema.treeString}")
    assert(nback.orderBy("id").collect().toSeq ==
      nested.orderBy("id").collect().toSeq, "nested list data changed")
  }

  test("struct columns survive MULTI-BATCH reads (close+reload)") {
    // Spark's columnar consumers close each handed-out batch, and
    // StructVector.close() clears the children map — a reader that
    // reuses its root across batch loads then fails the SECOND load
    // ("should have as many children as in the schema"). Pin the
    // NonClosingVector shield with a file guaranteed to hold several
    // record batches consumed through a real columnar-to-row plan.
    val dir = tmpDir()
    val src = spark.range(5000).toDF("id").repartition(1)
      .withColumn("s", struct((col("id") % 5).as("a"),
        concat(lit("x"), col("id") % 3).as("tag")))
    src.write.format("arrow").option("batchRows", "1000")
      .mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.count() == 5000)
    val got = back.groupBy(col("s.tag")).agg(sum(col("s.a")).as("sa"))
      .orderBy(col("tag")).collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = src.groupBy(col("s.tag")).agg(sum(col("s.a")).as("sa"))
      .orderBy(col("tag")).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.sameElements(exp), s"multi-batch struct agg drifted")
  }

  test("column pruning reaches the arrow scan") {
    val dir = tmpDir()
    Tables.load(spark, TestSession.Sf, "lineitem")
      .write.format("arrow").mode("overwrite").save(dir)
    val pruned = spark.read.format("arrow").load(dir)
      .select("l_orderkey", "l_quantity")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("pruned=[l_orderkey,l_quantity]"),
      s"scan not pruned:\n$scanDesc")
  }

  test("filter pushdown filters correctly inside the reader") {
    val dir = tmpDir()
    val src = Tables.load(spark, TestSession.Sf, "orders")
    src.write.format("arrow").mode("overwrite").save(dir)
    val arrow = spark.read.format("arrow").load(dir)
    val conds = Seq(
      col("o_totalprice") > 150000.0,
      col("o_orderstatus") === "F" && col("o_custkey") < 50,
      col("o_orderpriority").isin("1-URGENT", "5-LOW"),
      col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    for (c <- conds) {
      val viaArrow = arrow.filter(c)
      assert(viaArrow.queryExecution.executedPlan.toString.contains("pushed=["))
      assert(bagEqual(viaArrow, src.filter(c)), s"filter $c")
    }
  }

  test("pushed data filters keep the scan columnar and skip batches") {
    val dir = tmpDir()
    val src = Tables.load(spark, TestSession.Sf, "orders")
    src.repartition(1).sortWithinPartitions(col("o_orderkey"))
      .write.format("arrow").option("batchRows", "250")
      .mode("overwrite").save(dir)
    val df = spark.read.format("arrow").load(dir)
      .filter(col("o_orderkey") <= 100)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("LessThanOrEqual(o_orderkey,100)"),
      s"filter not pushed for zone maps:\n$plan")
    // the scan must STAY columnar under the pushed filter (the round-5
    // row-at-a-time fallback is gone) with Catalyst's codegen'd Filter
    // re-evaluating above it
    assert(plan.collectFirst {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
    }.nonEmpty, s"scan dropped out of columnar mode:\n$plan")
    assert(plan.collectFirst {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.nonEmpty, s"no residual Filter above the columnar scan:\n$plan")
    // zone maps still skip non-overlapping batches at planning time
    def parts(d: org.apache.spark.sql.DataFrame) = d.rdd.getNumPartitions
    val all = spark.read.format("arrow").option("maxSplitBytes", 1).load(dir)
    val few = all.filter(col("o_orderkey") <= 100)
    assert(parts(few) < parts(all),
      s"zone maps pruned nothing: ${parts(few)} of ${parts(all)}")
    // and the result is exact
    assert(bagEqual(df, src.filter(col("o_orderkey") <= 100)))
  }

  test("count over pushed filter (zero projected columns) works") {
    val dir = tmpDir()
    Tables.load(spark, TestSession.Sf, "orders")
      .write.format("arrow").mode("overwrite").save(dir)
    val n = spark.read.format("arrow").load(dir)
      .filter(col("o_totalprice") > 150000.0).count()
    val expected = Tables.load(spark, TestSession.Sf, "orders")
      .filter(col("o_totalprice") > 150000.0).count()
    assert(n == expected)
  }

  test("overwrite truncates previous files") {
    val dir = tmpDir()
    val src = Tables.load(spark, TestSession.Sf, "region")
    src.write.format("arrow").mode("append").save(dir)
    src.write.format("arrow").mode("overwrite").save(dir)
    assert(spark.read.format("arrow").load(dir).count() == src.count())
  }

  private val genRow = for {
    a <- Gen.choose(Long.MinValue + 1, Long.MaxValue)
    b <- Gen.option(Gen.choose(-1e12, 1e12))
    s <- Gen.alphaNumStr.map(_.take(40))
    f <- Gen.choose(-1e6f, 1e6f)
  } yield ArrowSourceSpec.Row4(a, b, s, f)

  test("one file with many record batches splits into multiple scan partitions") {
    val dir = tmpDir()
    Tables.load(spark, TestSession.Sf, "lineitem")
      .coalesce(1) // one file...
      .write.format("arrow").option("batchRows", "500") // ...many batches
      .mode("overwrite").save(dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".arrow")) == 1)
    val back = spark.read.format("arrow").load(dir)
    val blocks = graft.sources.arrow.ArrowDataSource.recordBlockSizes(
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".arrow")).head.toPath)
    assert(blocks.length == 12, s"expected 12 batches, got ${blocks.length}")
    assert(bagEqual(back, Tables.load(spark, TestSession.Sf, "lineitem")))
    // with a tiny split cap the single file fans out to many partitions
    val split = spark.read.format("arrow")
      .option("maxSplitBytes", "1").load(dir)
    assert(split.rdd.getNumPartitions == 12,
      s"got ${split.rdd.getNumPartitions} partitions")
    assert(bagEqual(split, back))
  }

  test("decimal columns round-trip") {
    val dir = tmpDir()
    val src = Tables.load(spark, TestSession.Sf, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("price_dec"))
    src.write.format("arrow").mode("overwrite").save(dir)
    val back = spark.read.format("arrow").load(dir)
    assert(back.schema("price_dec").dataType == DecimalType(18, 2))
    assert(bagEqual(src, back))
  }

  test("a loaded DataFrame run again after an append commits returns " +
      "the appended rows (flat directory and logged table)") {
    for (logged <- Seq(false, true)) {
      val dir = tmpDir()
      spark.range(10).toDF("id").write.format("arrow")
        .mode("overwrite").save(dir)
      if (logged) graft.sources.arrow.ArrowDataSource.initTableLog(dir)
      val df = spark.read.format("arrow").load(dir)
      assert(df.count() == 10)
      spark.range(10, 15).toDF("id").write.format("arrow")
        .mode("append").save(dir)
      assert(df.count() == 15, s"logged=$logged: count missed the append")
      assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq ==
        (0L until 15L), s"logged=$logged: rows missed the append")
    }
  }

  test("property: generated typed rows round-trip exactly") {
    import spark.implicits._
    val listGen = Gen.listOfN(50, genRow)
    for (trial <- 0 until 10) {
      val rows = listGen.pureApply(Gen.Parameters.default,
        Seed(42L + trial))
      val dir = tmpDir()
      val src = spark.createDataset(rows).toDF()
      src.write.format("arrow").mode("overwrite").save(dir)
      val back = spark.read.format("arrow").load(dir)
      assert(bagEqual(src, back), s"trial $trial")
    }
  }
}

object ArrowSourceSpec {
  /** Top-level so Spark can synthesize an encoder. */
  case class Row4(a: Long, b: Option[Double], s: String, f: Float)
}
