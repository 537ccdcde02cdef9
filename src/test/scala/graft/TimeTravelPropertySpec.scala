package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.{ArrowDataSource, GraftCatalog, TableLog}

/** Randomized ACID history check: apply a random sequence of DML
  * operations (DELETE / UPDATE / INSERT / OPTIMIZE / RESTORE) to a
  * logged table, snapshot the expected row set after each committed
  * epoch, then re-read EVERY epoch via `VERSION AS OF` and demand
  * bit-exact equality. One wrong manifest fold, remove event, restore
  * rewrite, or maintenance epoch leak breaks some version — the
  * random walk hunts interleavings a hand-written script misses. */
class TimeTravelPropertySpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s
  }

  test("a 14-step random DML walk: every committed epoch re-reads " +
      "exactly as the state recorded when it was the head") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("tt_prop").toString
    (1 to 300).map(i => (i.toLong, (i % 7).toLong, s"t$i"))
      .toDF("id", "grp", "tag")
      .repartition(3)
      .write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize

    def state(): Set[String] = spark.read.format("arrow").load(dir)
      .collect().map(_.toString).toSet
    val byEpoch = scala.collection.mutable.Map[Long, Set[String]](
      ArrowDataSource.latestCommittedEpoch(root) -> state())

    val params = Gen.Parameters.default
    var seed = Seed(2024L)
    var nextId = 1000L
    val opGen: Gen[Int] = Gen.frequency(
      3 -> 0 /*delete*/, 3 -> 1 /*update*/, 3 -> 2 /*insert*/,
      1 -> 3 /*optimize*/, 1 -> 4 /*restore*/)
    for (step <- 1 to 14) {
      val op = opGen.pureApply(params, seed); seed = seed.next
      val g = Gen.choose(0, 6).pureApply(params, seed); seed = seed.next
      val lo = Gen.choose(0L, 1200L).pureApply(params, seed)
      seed = seed.next
      op match {
        case 0 =>
          spark.sql(s"DELETE FROM graft.arrow.`$dir` " +
            s"WHERE grp = $g AND id >= $lo AND id < ${lo + 150}")
        case 1 =>
          spark.sql(s"UPDATE graft.arrow.`$dir` SET tag = " +
            s"concat(tag, '_u$step') WHERE grp = $g AND id < $lo")
        case 2 =>
          spark.sql(s"INSERT INTO graft.arrow.`$dir` VALUES " +
            (0 until 20).map(j =>
              s"(${nextId + j}, ${(j % 7)}, 'n${step}_$j')")
              .mkString(", "))
          nextId += 100
        case 3 =>
          spark.sql(s"CALL graft.system.compact(path => '$dir', " +
            "target_rows => 200)").collect()
        case 4 =>
          // roll back to a random PAST epoch, then continue mutating
          val eps = byEpoch.keys.toSeq.sorted
          val tgt = eps(
            Gen.choose(0, eps.size - 1).pureApply(params, seed))
          seed = seed.next
          spark.sql(s"CALL graft.system.restore(path => '$dir', " +
            s"epoch => $tgt)").collect()
      }
      byEpoch(ArrowDataSource.latestCommittedEpoch(root)) = state()
    }

    // every recorded epoch must re-read exactly — maintenance and
    // restore epochs included (compaction is data-neutral; restore's
    // head state equals the restored epoch's state)
    for ((e, expected) <- byEpoch.toSeq.sortBy(_._1)) {
      val got = spark.sql(
        s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF $e")
        .collect().map(_.toString).toSet
      assert(got == expected,
        s"VERSION AS OF $e diverged from the state recorded when " +
          s"epoch $e was the head: missing=${(expected -- got).take(3)} " +
          s"extra=${(got -- expected).take(3)}")
    }

    // vacuum the random history: replaced files reclaim, the travel
    // horizon advances, and the contract must split EXACTLY there —
    // pre-horizon versions refuse loudly, post-horizon stay bit-exact
    spark.sql(s"CALL graft.system.vacuum(path => '$dir', " +
      "grace_ms => 0)").collect()
    val horizon = TableLog.read(root).horizon
    val head = ArrowDataSource.latestCommittedEpoch(root)
    assert(horizon > 0,
      "the walk's CoW churn left nothing to reclaim — the pre-horizon " +
        "refusal branch below would silently not exercise")
    assert(byEpoch(head) == state(),
      "vacuum changed the CURRENT table state")
    for ((e, expected) <- byEpoch.toSeq.sortBy(_._1)) {
      if (e < horizon) {
        val err = intercept[Exception] {
          spark.sql(
            s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF $e")
            .collect()
        }
        val msgs = Iterator.iterate(err: Throwable)(_.getCause)
          .takeWhile(_ != null).map(String.valueOf).mkString("\n")
        assert(msgs.contains("horizon"),
          s"pre-horizon VERSION AS OF $e (horizon $horizon) must " +
            s"refuse with horizon guidance, got: ${msgs.take(300)}")
      } else {
        val got = spark.sql(
          s"SELECT * FROM graft.arrow.`$dir` VERSION AS OF $e")
          .collect().map(_.toString).toSet
        assert(got == expected,
          s"post-horizon VERSION AS OF $e diverged after vacuum")
      }
    }
  }

  test("netted change-feed diffs between random epoch pairs equal the " +
      "multiset state difference (piggybacks on the walk's history)") {
    // a fresh short walk with its own seed, then diff random windows
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("tt_diff").toString
    (1 to 150).map(i => (i.toLong, (i % 4).toLong, s"v$i"))
      .toDF("id", "grp", "tag")
      .repartition(2).write.format("arrow").mode("overwrite").save(dir)
    ArrowDataSource.initTableLog(dir)
    val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    def bag(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.collect().map(_.toString).groupBy(identity)
        .map { case (k, v) => k -> v.length }
    val params = Gen.Parameters.default
    var seed = Seed(31L)
    var nextId = 2000L
    val states = scala.collection.mutable.Map[Long, Map[String, Int]](
      ArrowDataSource.latestCommittedEpoch(root) ->
        bag(spark.read.format("arrow").load(dir)))
    for (step <- 1 to 8) {
      val op = Gen.choose(0, 3).pureApply(params, seed); seed = seed.next
      val lo = Gen.choose(0L, 160L).pureApply(params, seed)
      seed = seed.next
      op match {
        case 0 => spark.sql(s"DELETE FROM graft.arrow.`$dir` " +
          s"WHERE id >= $lo AND id < ${lo + 40}")
        case 1 => spark.sql(s"UPDATE graft.arrow.`$dir` " +
          s"SET tag = concat(tag, '_$step') WHERE id < $lo")
        case 2 =>
          spark.sql(s"INSERT INTO graft.arrow.`$dir` VALUES " +
            (0 until 10).map(j =>
              s"(${nextId + j}, ${j % 4}, 'w$step$j')").mkString(", "))
          nextId += 50
        case 3 => spark.sql(s"CALL graft.system.compact(" +
          s"path => '$dir', target_rows => 100)").collect()
      }
      states(ArrowDataSource.latestCommittedEpoch(root)) =
        bag(spark.read.format("arrow").load(dir))
    }
    val eps = states.keys.toSeq.sorted
    // every adjacent pair plus a few random long windows
    val pairs = eps.sliding(2).map(p => (p.head, p.last)).toSeq ++
      Seq((eps.head, eps.last), (eps.head, eps(eps.size / 2)))
    for ((a, b) <- pairs if a < b) {
      val diff = graft.sources.arrow.ArrowChanges
        .between(spark, dir, a, b)
      val ins = bag(diff.filter(col(graft.sources.arrow.ArrowChanges
        .ChangeTypeCol) === "insert").drop(
        graft.sources.arrow.ArrowChanges.ChangeTypeCol))
      val del = bag(diff.filter(col(graft.sources.arrow.ArrowChanges
        .ChangeTypeCol) === "delete").drop(
        graft.sources.arrow.ArrowChanges.ChangeTypeCol))
      // multiset identity: state(b) = state(a) - deletes + inserts,
      // and the netted diff carries no self-cancelling pair
      val sa = states(a); val sb = states(b)
      val expectIns = sb.map { case (k, n) =>
        k -> (n - sa.getOrElse(k, 0)) }.filter(_._2 > 0)
      val expectDel = sa.map { case (k, n) =>
        k -> (n - sb.getOrElse(k, 0)) }.filter(_._2 > 0)
      assert(ins == expectIns,
        s"window ($a,$b] inserts diverge: $ins vs $expectIns")
      assert(del == expectDel,
        s"window ($a,$b] deletes diverge: $del vs $expectDel")
    }
  }

  test("an incremental view AND a CDC replica follow a 10-step random " +
      "DML walk, converging to the full recompute after every step") {
    import spark.implicits._
    val src = java.nio.file.Files
      .createTempDirectory("walk_src").toString
    val view = java.nio.file.Files
      .createTempDirectory("walk_view").toString
    val replica = java.nio.file.Files
      .createTempDirectory("walk_replica").toString
    val ck1 = java.nio.file.Files
      .createTempDirectory("walk_ck1").toString
    val ck2 = java.nio.file.Files
      .createTempDirectory("walk_ck2").toString
    (1 to 200).map(i => (i.toLong, (i % 5).toLong, (i * 3).toLong))
      .toDF("id", "grp", "amt")
      .repartition(2)
      .write.format("arrow").mode("overwrite").save(src)
    ArrowDataSource.initTableLog(src)
    (1 to 0).map(i => (i.toLong, 0L, 0L)).toDF("id", "grp", "amt")
      .coalesce(1).write.format("arrow").mode("overwrite").save(replica)

    def refreshView(): Unit = {
      val q = graft.streaming.IncrementalView.maintain(spark, src, view,
        groupCols = Seq("grp"), sums = Seq(("amt", "sum_amt")),
        checkpoint = ck1)
      try q.processAllAvailable() finally q.stop()
    }
    def refreshReplica(): Unit = {
      val q = graft.streaming.ChangeReplication.replicate(spark, src,
        replica, keyCols = Seq("id"), checkpoint = ck2)
      try q.processAllAvailable() finally q.stop()
    }
    def bag(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.collect().map(_.toString).groupBy(identity)
        .map { case (k, v) => k -> v.length }

    val params = Gen.Parameters.default
    var seed = Seed(77L)
    var nextId = 5000L
    for (step <- 1 to 10) {
      val op = Gen.choose(0, 4).pureApply(params, seed); seed = seed.next
      val g = Gen.choose(0, 4).pureApply(params, seed); seed = seed.next
      val lo = Gen.choose(0L, 250L).pureApply(params, seed)
      seed = seed.next
      op match {
        case 0 => spark.sql(s"DELETE FROM graft.arrow.`$src` " +
          s"WHERE grp = $g AND id >= $lo AND id < ${lo + 80}")
        case 1 => spark.sql(s"UPDATE graft.arrow.`$src` " +
          s"SET amt = amt + 7 WHERE grp = $g AND id < $lo")
        case 2 =>
          spark.sql(s"INSERT INTO graft.arrow.`$src` VALUES " +
            (0 until 15).map(j =>
              s"(${nextId + j}, ${j % 5}, ${j * 11})").mkString(", "))
          nextId += 100
        case 3 => spark.sql(s"CALL graft.system.compact(" +
          s"path => '$src', target_rows => 150)").collect()
        case 4 =>
          // keyed MERGE: half the source rows collide with existing
          // ids (update), half are new (insert)
          val vals = (0 until 10).map(j =>
            s"(${lo + j * 20}, ${j % 5}, ${j * 13})") ++
            (0 until 5).map(j =>
              s"(${nextId + j}, ${j % 5}, ${j * 17})")
          spark.sql(s"MERGE INTO graft.arrow.`$src` t USING " +
            s"(SELECT * FROM VALUES ${vals.mkString(", ")} " +
            "AS v(id, grp, amt)) s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET amt = t.amt + s.amt " +
            "WHEN NOT MATCHED THEN INSERT (id, grp, amt) " +
            "VALUES (s.id, s.grp, s.amt)")
          nextId += 100
      }
      refreshView()
      refreshReplica()
      val expectView = bag(spark.read.format("arrow").load(src)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("sum_amt"))
        .select(col("grp"), col("n"), col("sum_amt")))
      val gotView = bag(graft.streaming.IncrementalView
        .read(spark, view)
        .select(col("grp"), col("n"), col("sum_amt")))
      assert(gotView == expectView,
        s"step $step (op $op): incremental view diverged from " +
          s"recompute")
      val expectRep = bag(spark.read.format("arrow").load(src))
      val gotRep = bag(spark.read.format("arrow").load(replica))
      assert(gotRep == expectRep,
        s"step $step (op $op): replica diverged from source")
    }
  }
}
