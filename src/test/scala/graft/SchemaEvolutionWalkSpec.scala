package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog, TableLog}

/** Randomized soundness walk over the metadata-only schema-evolution
  * surface: a seeded sequence of add_column / rename_column /
  * drop_column / set_partitioning / tag / restore interleaved with
  * INSERT / UPDATE / DELETE, with an in-memory model checked against
  * the table read after EVERY step — the interactions a hand-written
  * spec cannot enumerate (DML through a renamed column over
  * mixed-generation files, inserts after a drop, updates
  * materializing an added column, rename chains with mid-chain
  * writes, a restore replaying old files through the CURRENT
  * schema/alias/partition ledgers). Any divergence is silent data
  * corruption.
  *
  * Restore semantics the model encodes: restore rewinds the FILE
  * manifest only — the schema ledgers (adds/drops/renames) and the
  * partition spec are not epoch-versioned, so restored rows read
  * through the CURRENT schema. A tag therefore snapshots the model's
  * ROWS; later renames/drops apply to the snapshots too (the ledger
  * governs how the old files re-read), and columns added after the
  * tag surface as NULL on restored rows (old files lack them). */
class SchemaEvolutionWalkSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  test("48-step random evolution+DML walk (with partition evolution, " +
      "tags and restores) matches the model at every step") {
    runWalk(dvEnabled = false, seed = 271828L)
  }

  test("the same walk under MERGE-ON-READ (deletion vectors + " +
      "delta-based row ops) matches the model at every step") {
    runWalk(dvEnabled = true, seed = 314159L)
  }

  private def runWalk(dvEnabled: Boolean, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory("evo_walk").toString

    // model: ordered column list (logical names) + rows keyed by id
    var cols = Vector("id", "c0", "c1")
    var rows = scala.collection.mutable.LinkedHashMap(
      (1L to 40L).map(i =>
        i -> scala.collection.mutable.Map[String, Any](
          "id" -> i, "c0" -> i * 3L, "c1" -> (i % 7L))): _*)
    var nextId = 100L
    var nameSeq = 2
    val everUsed = scala.collection.mutable.Set("id", "c0", "c1")
    // partition-evolution state: evolved columns move to the schema
    // TAIL in union order; once a column partitions, the walk no
    // longer renames/drops/SETs it (out of the declared surface)
    var partCols = Vector.empty[String]
    // tag name -> model-row snapshot; snapshots TRACK later
    // renames/drops (the ledger governs how restored files re-read)
    val tagSnaps = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[
        Long, scala.collection.mutable.Map[String, Any]]]
    def snapshotRows() = scala.collection.mutable.LinkedHashMap(
      rows.toSeq.map { case (k, m) => k -> m.clone() }: _*)
    // the original tuple-derived columns are NON-nullable in the table
    // schema (and Spark rightly refuses NULL inserts into them); only
    // added columns accept NULLs. Rename preserves nullability.
    val nullableCols = scala.collection.mutable.Set.empty[String]

    (1L to 40L).map(i => (i, i * 3L, i % 7L)).toDF("id", "c0", "c1")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    if (dvEnabled)
      spark.sql(s"CALL graft.system.set_dv(path => '$dir')").collect()

    def freshName(): String = {
      nameSeq += 1
      val n = s"c$nameSeq"
      everUsed += n
      n
    }
    def sqlLit(v: Any): String = v match {
      case null => "CAST(NULL AS BIGINT)"
      case x => x.toString
    }
    def check(step: Int): Unit = {
      val df = spark.read.format("arrow").load(dir)
      assert(df.schema.fieldNames.toSeq == cols,
        s"step $step: schema ${df.schema.fieldNames.toSeq} != $cols")
      val got = df.collect().map { r =>
        cols.map(c => if (r.isNullAt(r.fieldIndex(c))) null
          else r.getLong(r.fieldIndex(c))).toVector
      }.sortBy(_.head.asInstanceOf[Long])
      val want = rows.values.toVector
        .map(m => cols.map(c => m.getOrElse(c, null)).toVector)
        .sortBy(_.head.asInstanceOf[Long])
      assert(got.toSeq == want.toSeq,
        s"step $step diverged: got ${got.take(4)}... want ${want.take(4)}...")
    }

    // columns still eligible for rename/drop/SET: data columns only —
    // never id, never a (current or former) partition column
    def mutableCols: Vector[String] =
      cols.drop(1).filterNot(partCols.contains)
    // a restore adopts a CLONE of the tag's snapshot, so post-restore
    // DML never mutates the stored snapshot (tags stay restorable)
    def snapshotOf(name: String) = scala.collection.mutable
      .LinkedHashMap(tagSnaps(name).toSeq
        .map { case (k, m) => k -> m.clone() }: _*)

    for (step <- 1 to 48) {
      rnd.nextInt(10) match {
        case 0 => // add_column (fresh name)
          val n = freshName()
          spark.sql(s"CALL graft.system.add_column(path => '$dir', " +
            s"name => '$n', type => 'bigint')").collect()
          // partition columns stay at the schema TAIL — an added data
          // column slots in before them
          cols = cols.filterNot(partCols.contains) ++
            Vector(n) ++ partCols
          nullableCols += n
        case 1 if mutableCols.nonEmpty => // rename a data column
          val old = mutableCols(rnd.nextInt(mutableCols.length))
          val n = freshName()
          spark.sql(s"CALL graft.system.rename_column(path => '$dir', " +
            s"old_name => '$old', new_name => '$n')").collect()
          cols = cols.map(c => if (c == old) n else c)
          if (nullableCols.remove(old)) nullableCols += n
          // the alias ledger governs every file, including files a
          // later RESTORE re-adds — renames propagate to tag snapshots
          (rows.values ++ tagSnaps.values.flatMap(_.values)).foreach { m =>
            if (m.contains(old)) { m(n) = m(old); m.remove(old) }; ()
          }
        case 2 if mutableCols.length > 1 => // drop a data column
          val victim = mutableCols(rnd.nextInt(mutableCols.length))
          spark.sql(s"CALL graft.system.drop_column(path => '$dir', " +
            s"name => '$victim')").collect()
          cols = cols.filterNot(_ == victim)
          // drops hide the column on restored files too
          (rows.values ++ tagSnaps.values.flatMap(_.values)).foreach { m =>
            m.remove(victim); ()
          }
        case 3 => // insert 3 rows with the CURRENT schema
          val newRows = (0 until 3).map { _ =>
            val id = nextId; nextId += 1
            id -> scala.collection.mutable.Map[String, Any](
              (cols.map { c =>
                c -> (if (c == "id") id
                  else if (nullableCols(c) && rnd.nextInt(5) == 0) null
                  else rnd.nextInt(1000).toLong)
              }): _*)
          }
          val values = newRows.map { case (_, m) =>
            cols.map(c => sqlLit(m(c))).mkString("(", ", ", ")")
          }.mkString(", ")
          spark.sql(s"INSERT INTO graft.arrow.`$dir` VALUES $values")
          newRows.foreach { case (id, m) => rows(id) = m }
        case 4 if mutableCols.nonEmpty => // update a random data
          // column; predicate on id OR on an evolved data column
          // (exercises alias resolution in the CoW rewrite's filter
          // eval; partition columns serve as predicates elsewhere,
          // never as SET targets)
          val c = mutableCols(rnd.nextInt(mutableCols.length))
          val k = 2 + rnd.nextInt(5)
          val r = rnd.nextInt(k)
          val v = rnd.nextInt(10000).toLong
          val predCol =
            if (rnd.nextBoolean()) "id"
            else cols.drop(1)(rnd.nextInt(cols.length - 1))
          spark.sql(s"UPDATE graft.arrow.`$dir` SET `$c` = $v " +
            s"WHERE `$predCol` % $k = $r")
          rows.values.foreach { m =>
            m.get(predCol) match {
              case Some(x: Long) if x % k == r => m(c) = v
              case _ => ()
            }
          }
        case 5 => // WRITE-SIDE SCHEMA MERGE: a drifted path-based
          // append carrying a fresh column auto-evolves the
          // declaration (`option("mergeSchema", true)` — the same
          // add_column invariants, no CALL), composing with whatever
          // rename/drop/partition ledgers the walk built so far
          val n = freshName()
          val dfCols = cols :+ n
          val newRows = (0 until 2).map { _ =>
            val id = nextId; nextId += 1
            id -> scala.collection.mutable.Map[String, Any](
              (dfCols.map { c =>
                c -> (if (c == "id") id else rnd.nextInt(1000).toLong)
              }): _*)
          }
          val schema = org.apache.spark.sql.types.StructType(
            dfCols.map(c => org.apache.spark.sql.types.StructField(
              c, org.apache.spark.sql.types.LongType)))
          val data = newRows.map { case (_, m) =>
            org.apache.spark.sql.Row.fromSeq(dfCols.map(c => m(c)))
          }
          spark.createDataFrame(
            spark.sparkContext.parallelize(data, 1), schema)
            .write.format("arrow").mode("append")
            .option("mergeSchema", "true").save(dir)
          cols = cols.filterNot(partCols.contains) ++
            Vector(n) ++ partCols
          nullableCols += n
          newRows.foreach { case (id, m) => rows(id) = m }
        case 6 if partCols.length < 2 &&
            mutableCols.exists(c => !nullableCols(c)) =>
          // PARTITION EVOLUTION: route future writes by a non-null
          // data column. The read schema moves evolved columns to the
          // TAIL in union order; existing files keep the column in
          // bytes (mixed generations), which the restore case then
          // replays through the evolved layout
          val eligible = mutableCols.filter(c => !nullableCols(c))
          val c = eligible(rnd.nextInt(eligible.length))
          spark.sql(s"CALL graft.system.set_partitioning(" +
            s"path => '$dir', cols => '$c')").collect()
          partCols = (partCols :+ c).distinct
          cols = cols.filterNot(partCols.contains) ++ partCols
        case 7 => // TAG the current version; snapshot the model rows
          val name = s"walk_t$step"
          spark.sql(s"CALL graft.system.tag(path => '$dir', " +
            s"name => '$name')").collect()
          tagSnaps(name) = snapshotRows()
        case 8 if tagSnaps.nonEmpty => // RESTORE to a random tag: the
          // file manifest rewinds; the current schema/alias/partition
          // ledgers keep governing how the re-added files read
          val names = tagSnaps.keys.toVector
          val name = names(rnd.nextInt(names.length))
          val root = java.nio.file.Paths.get(dir)
            .toAbsolutePath.normalize
          val epoch = ArrowDataSource.tags(root)(name)
          spark.sql(s"CALL graft.system.restore(path => '$dir', " +
            s"epoch => $epoch)").collect()
          rows = snapshotOf(name)
        case 9 if rows.size > 20 => // PURGE a slice: hard delete +
          // (on the MoR walk) deletion-vector materialization +
          // zero-grace vacuum. History is SACRIFICED by contract:
          // every tag now points pre-horizon, so the model forgets
          // the snapshots and a later restore to one must refuse —
          // which the walk verifies immediately
          val k = 4 + rnd.nextInt(4)
          val r = rnd.nextInt(k)
          spark.sql(s"CALL graft.system.purge(path => '$dir', " +
            s"predicate => 'id % $k = $r')").collect()
          rows = rows.filterNot(_._2("id").asInstanceOf[Long] % k == r)
          if (tagSnaps.nonEmpty) {
            val root = java.nio.file.Paths.get(dir)
              .toAbsolutePath.normalize
            val (name, _) = tagSnaps.head
            val epoch = ArrowDataSource.tags(root)(name)
            val horizon = TableLog.read(root).horizon
            if (epoch < horizon)
              assertThrows[Exception] {
                spark.sql(s"CALL graft.system.restore(" +
                  s"path => '$dir', epoch => $epoch)").collect()
              }
          }
          tagSnaps.clear()
        case _ => // delete a thin slice (keep the table populated)
          val k = 7 + rnd.nextInt(6)
          val r = rnd.nextInt(k)
          spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE id % $k = $r")
          rows = rows.filterNot(_._2("id").asInstanceOf[Long] % k == r)
      }
      check(step)
    }
    // the walk must have actually exercised all three evolution axes
    // (both fixed seeds do; a seed change that loses one should fail
    // loudly, not silently shrink coverage)
    assert(ArrowDataSource.droppedColumns(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize).nonEmpty ||
      ArrowDataSource.aliasColumns(
        java.nio.file.Paths.get(dir).toAbsolutePath.normalize).nonEmpty,
      "walk never evolved the schema — widen the op mix")
    assert(partCols.nonEmpty,
      "walk never evolved the partitioning — widen the op mix")
    assert(tagSnaps.nonEmpty,
      "walk never tagged a version — widen the op mix")
  }

  test("struct-LEAF evolution interleaves with DML, mergeSchema, " +
      "rename and restore: every generation reads through the current " +
      "declared struct") {
    import spark.implicits._
    val dir = Files.createTempDirectory("evo_leafwalk").toString
    // generation 0: struct<tag, amt>
    (1L to 20L).map(i => (i, (s"t${i % 3}", i * 2L))).toDF("id", "meta")
      .select(col("id"), col("meta").cast("struct<tag:string,amt:bigint>"))
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    // leaf 1 via CALL (metadata-only)
    spark.sql(s"CALL graft.system.add_column(path => '$dir', " +
      "name => 'meta.score', type => 'double')").collect()
    // generation 1 carries the evolved struct; tag the 2-leaf past
    spark.sql(s"CALL graft.system.tag(path => '$dir', " +
      "name => 'pre_flag')").collect()
    Seq((21L, ("t0", 42L, 0.25))).toDF("id", "meta")
      .select(col("id"),
        col("meta").cast("struct<tag:string,amt:bigint,score:double>"))
      .write.format("arrow").mode("append").save(dir)
    // leaf 2 via a mergeSchema append (writer-path evolution)
    Seq((22L, ("t1", 44L, 0.5, "y"))).toDF("id", "meta")
      .select(col("id"), col("meta")
        .cast("struct<tag:string,amt:bigint,score:double,flag:string>"))
      .write.format("arrow").mode("append")
      .option("mergeSchema", "true").save(dir)
    val df = spark.read.format("arrow").load(dir)
    assert(df.schema("meta").dataType.catalogString ==
      "struct<tag:string,amt:bigint,score:double,flag:string>")
    assert(df.count() == 22)
    // per-generation leaf visibility: gen0 nulls both new leaves,
    // gen1 nulls only flag, gen2 carries all four
    assert(df.filter(col("meta.score").isNull).count() == 20)
    assert(df.filter(col("meta.flag").isNull).count() == 21)
    assert(df.agg(sum(col("meta.amt"))).head.getLong(0) ==
      (1L to 20L).map(_ * 2).sum + 42L + 44L)
    // DML through a leaf predicate over mixed generations
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    spark.sql(s"DELETE FROM graft.arrow.`$dir` WHERE meta.amt = 42")
    assert(spark.read.format("arrow").load(dir).count() == 21)
    // rename the WHOLE struct column: old files read through the
    // alias ledger AND the leaf patch together
    spark.sql(s"CALL graft.system.rename_column(path => '$dir', " +
      "old_name => 'meta', new_name => 'info')").collect()
    val renamed = spark.read.format("arrow").load(dir)
    assert(renamed.schema.fieldNames.toSeq == Seq("id", "info"))
    assert(renamed.filter(col("info.flag") === "y").select("id")
      .head.getLong(0) == 22L)
    // restore to the 2-leaf tag: restored files read through the
    // CURRENT 4-leaf declaration (new leaves null) under the new name
    val tagEpoch = ArrowDataSource.tags(java.nio.file.Paths.get(dir)
      .toAbsolutePath.normalize)("pre_flag")
    spark.sql(s"CALL graft.system.restore(path => '$dir', " +
      s"epoch => $tagEpoch)").collect()
    val restored = spark.read.format("arrow").load(dir)
    assert(restored.count() == 20)
    assert(restored.schema("info").dataType.catalogString ==
      "struct<tag:string,amt:bigint,score:double,flag:string>")
    assert(restored.filter(col("info.score").isNotNull).count() == 0)
    assert(restored.agg(sum(col("info.amt"))).head.getLong(0) ==
      (1L to 20L).map(_ * 2).sum)
  }
}
