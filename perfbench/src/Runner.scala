package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap, List => JListT, Map => JMapT}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Engine, SparkEntry}
import graft.sources.arrow.GraftCatalog
import graft.streaming.{ChangeReplication, IncrementalView}

/** Executes one workload's op list against graft's public entry points
  * and writes everything it measured to a JSON file; the launcher
  * (`run.py`) derives the metrics and checks the outputs.
  *
  * Usage: `Runner <plan.json> <out.json>`.
  *
  * The plan holds `setup` ops (run once), `warm` ops (run twice,
  * untimed, the first time with query results kept for verification),
  * the `pass` op list (run repeatedly for `seconds`, then once more,
  * untimed, with query results kept, so the warm state that was timed
  * is the state that gets checked), and the logical table names.
  * Closed loop, single client: each op starts when the previous one
  * has returned. Each op is timed on the driver around
  * the call into the program; in a traced run every other pass also
  * records Spark's jobs and planning phases ([[Trace]]) and per-op
  * storage samples, so the untraced passes of the same run give the
  * tracing overhead. */
object Runner {
  private val mapper = new ObjectMapper()

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Wall-clock milliseconds with nanosecond resolution. */
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  /** CPU milliseconds this process has spent on the program, all threads
    * but the JIT compiler's ([[Cpu]]). */
  private[perfbench] def cpuMs: Double = Cpu.programMs

  private type Op = JMapT[String, AnyRef]

  private def str(op: Op, k: String): String = Option(op.get(k)).map(_.toString).orNull

  private[perfbench] def rec(pairs: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    pairs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readValue(new File(args(0)), classOf[JMapT[String, AnyRef]])
    val out = rec()
    val work = Paths.get(plan.get("work_dir").toString).toAbsolutePath
    val cores = plan.get("cores").toString.toInt

    val s0 = nowMs
    val spark = Engine.sessionBuilder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.put("session_ms", nowMs - s0)
    try run(spark, plan, work, out, args(1)) finally spark.stop()
  }

  private def run(spark: SparkSession, plan: JMapT[String, AnyRef], work: Path,
      out: JMap[String, Any], outPath: String): Unit = {
    val r = new Runner(spark, plan, work)
    val b0 = nowMs
    val setup = r.runOps("setup", plan.get("setup").asInstanceOf[JListT[Op]], traced = false)
    out.put("table_build_ms", nowMs - b0)
    out.put("setup_ops", setup)

    // two untimed passes: the first also keeps query results for
    // verification, the second gets the timed passes past the steepest
    // part of the JIT's warm-up
    val passOps = plan.get("pass").asInstanceOf[JListT[Op]]
    val warmOps = plan.get("warm").asInstanceOf[JListT[Op]]
    val verify = plan.containsKey("oracle_names")
    out.put("warm", java.util.List.of(
      r.runPass("warm0", warmOps, traced = false, verify = verify),
      r.runPass("warm1", warmOps, traced = false, verify = false)))
    out.put("ready_ms", nowMs)

    // timed phase: whole passes, at least two, while the next one is
    // expected to end no more than half a pass past `seconds`. A traced
    // run traces passes 2, 4, ..., runs at least four and ends on an
    // untraced one, so each traced pass has untraced neighbours past the
    // first, still-warming pass.
    val traceRun = plan.get("trace").toString.toBoolean
    val windowMs = plan.get("seconds").toString.toDouble * 1000
    val cpu0 = Weather.cpuTicks()
    val t0 = nowMs
    val passes = new JList[Any]()
    var i = 0
    var lastMs = 0.0
    while (i < 2 || (traceRun && (i < 4 || i % 2 == 1)) || nowMs - t0 + lastMs / 2 < windowMs) {
      val p0 = nowMs
      passes.add(r.runPass(s"p$i", passOps, traced = traceRun && i > 0 && i % 2 == 0,
        verify = false))
      lastMs = nowMs - p0
      i += 1
    }
    out.put("passes", passes)
    out.put("weather", Weather.record(cpu0, Weather.cpuTicks()))
    out.put("retained_cache_mb",
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
    out.put("stored", r.storedBytes(s"p${i - 1}"))
    if (verify) {
      out.put("final", r.runPass("final", passOps, traced = false, verify = true))
      val names = plan.get("oracle_names").asInstanceOf[JListT[String]].asScala
      val sql = SparkEntry.oracleSql
      out.put("oracle_sql", names.flatMap(n => sql.get(n).map(n -> _)).toMap.asJava)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(outPath), out)
  }
}

final class Runner(spark: SparkSession, plan: JMapT[String, AnyRef], work: Path) {
  import Runner._

  private val dataDir = plan.get("data_dir").toString
  private val tables = plan.get("tables").asInstanceOf[JListT[String]].asScala.toSeq
  private val sharedTables = plan.get("shared_tables").asInstanceOf[JListT[String]].asScala.toSet
  private val staged = mutable.HashMap.empty[String, (StructType, JListT[Row])]
  // epochs marked in set-up (on shared tables) and in the current pass
  private val setupMarks = mutable.HashMap.empty[String, Long]
  private val marks = mutable.HashMap.empty[String, Long]
  private var passTag = "setup"
  private var verify = false
  private lazy val trace = new Trace

  /** A table's directory: shared by every pass when built in set-up,
    * else fresh in each pass. */
  private def tableDir(name: String): String = {
    val scope = if (sharedTables(name)) "shared" else passTag
    work.resolve("tables").resolve(scope).resolve(name).toString
  }

  private val placeholder = """\{([TPM]):([A-Za-z0-9_]+)\}""".r
  private def expand(s: String): String = placeholder.replaceAllIn(s, m =>
    java.util.regex.Matcher.quoteReplacement(m.group(1) match {
      case "T" => s"graft.arrow.`${tableDir(m.group(2))}`"
      case "P" => tableDir(m.group(2))
      case _ => mark(m.group(2)).toString
    }))

  private def frame(src: String): DataFrame = src.split(":", 2) match {
    case Array("stage", n) =>
      val (schema, rows) = staged(n)
      spark.createDataFrame(rows, schema)
    case Array("empty", n) =>
      spark.createDataFrame(new JList[Row](), staged(n)._1)
    case Array("parquet", f) => spark.read.parquet(s"$dataDir/$f")
    case _ => throw new IllegalArgumentException(s"unknown source $src")
  }

  private def mark(name: String): Long = marks.getOrElse(name, setupMarks(name))

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case other => other.toString
  }
  private def rows(df: DataFrame): JList[String] = {
    val l = new JList[String]()
    df.collect().foreach(r => l.add(r.toSeq.map(cell).mkString("|")))
    l
  }

  /** Executes one op; returns its result rows (empty for writes). */
  private def execute(op: Op): JList[String] = str(op, "kind") match {
    case "query" =>
      val df = SparkEntry.queries(str(op, "name"))(spark, dataDir)
      if (verify) df.write.mode("overwrite")
        .parquet(work.resolve("verify").resolve(passTag).resolve(str(op, "name")).toString)
      else df.write.format("noop").mode("overwrite").save()
      new JList[String]()
    case "sql" =>
      Option(op.get("views")).foreach(_.asInstanceOf[JMapT[String, String]].asScala
        .foreach { case (v, src) => frame(src).createOrReplaceTempView(v) })
      rows(spark.sql(expand(str(op, "sql"))))
    case "write" =>
      var df = frame(str(op, "src"))
      Option(op.get("coalesce")).foreach(n => df = df.coalesce(n.toString.toInt))
      var w = df.write.format("arrow").mode(str(op, "mode"))
      Option(op.get("options")).foreach(_.asInstanceOf[JMapT[String, String]].asScala
        .foreach { case (k, v) => w = w.option(k, v) })
      w.save(tableDir(str(op, "table")))
      new JList[String]()
    case "stage" =>
      // untimed input staging: one parquet file split by `__batch`
      val df = spark.read.parquet(s"$dataDir/${str(op, "file")}")
      val schema = StructType(df.schema.filterNot(_.name == "__batch"))
      val byBatch = mutable.LinkedHashMap.empty[Int, JList[Row]]
      val bi = df.schema.fieldIndex("__batch")
      df.collect().foreach { r =>
        val vals = r.toSeq.zipWithIndex.filter(_._2 != bi).map(_._1)
        byBatch.getOrElseUpdate(r.getInt(bi), new JList[Row]()).add(Row.fromSeq(vals))
      }
      val prefix = str(op, "prefix")
      staged(s"${prefix}schema") = (schema, new JList[Row]())
      byBatch.foreach { case (b, l) => staged(s"$prefix$b") = (schema, l) }
      new JList[String]()
    case "mark" =>
      val h = spark.sql(s"CALL graft.system.history(path => '${tableDir(str(op, "table"))}')")
      val epoch = h.collect().map(_.getAs[Long]("epoch")).max
      (if (passTag == "setup") setupMarks else marks)(str(op, "name")) = epoch
      new JList[String]()
    case "replicate" =>
      val q = ChangeReplication.replicate(spark, tableDir(str(op, "table")),
        tableDir(str(op, "replica")), Seq(str(op, "key")),
        work.resolve("ckpt").resolve(passTag).resolve(str(op, "replica")).toString)
      drain(q)
    case "maintain" =>
      val q = IncrementalView.maintain(spark, tableDir(str(op, "table")),
        tableDir(str(op, "view")), Seq(str(op, "group")), Seq(str(op, "sum") -> "s"),
        work.resolve("ckpt").resolve(passTag).resolve(str(op, "view")).toString)
      drain(q)
    case "cdf" =>
      rows(spark.read.format("arrow").option("readChangeFeed", "true")
        .option("startingEpoch", mark(str(op, "from")) + 1)
        .option("endingEpoch", mark(str(op, "to")))
        .load(tableDir(str(op, "table")))
        .groupBy("_change_type").count().orderBy("_change_type"))
    case k => throw new IllegalArgumentException(s"unknown op kind $k")
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): JList[String] = {
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    new JList[String]()
  }

  private def firstLine(t: Throwable): String =
    Option(t.toString).map(_.linesIterator.take(1).mkString).getOrElse("error").take(300)

  /** Data-file bytes, log and sidecar bytes, and data-file count under
    * a table directory. */
  private def dirBytes(dir: String): JListT[Long] = {
    val p = Paths.get(dir)
    var data, meta, files = 0L
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val n = Files.size(f)
        if (f.getFileName.toString.endsWith(".arrow")) { data += n; files += 1 }
        else meta += n
      }
      finally s.close()
    }
    java.util.List.of(data, meta, files)
  }

  /** [[dirBytes]] of every table, as the pass `tag` left them. */
  def storedBytes(tag: String): JMap[String, Any] = {
    passTag = tag
    val m = new JMap[String, Any]()
    tables.foreach(t => m.put(t, dirBytes(tableDir(t))))
    m
  }

  def runOps(tag: String, ops: JListT[Op], traced: Boolean): JList[Any] = {
    passTag = tag
    marks.clear()
    val recs = new JList[Any]()
    ops.asScala.foreach { op =>
      val c0 = cpuMs
      val t0 = nowMs
      val (ok, err, res) =
        try (true, null, execute(op))
        catch { case t: Throwable => (false, firstLine(t), new JList[String]()) }
      val t1 = nowMs
      val r = rec("id" -> str(op, "id"), "t0" -> t0, "t1" -> t1, "cpu_ms" -> (cpuMs - c0),
        "ok" -> ok, "result" -> res)
      if (err != null) r.put("error", err)
      if (traced) {
        val info = spark.sparkContext.getRDDStorageInfo
        r.put("storage_mb", info.map(_.memSize).sum / 1048576.0)
        r.put("rdds_cached", info.length)
        if (str(op, "cls") == "write") r.put("bytes", storedBytes(tag))
      }
      recs.add(r)
    }
    recs
  }

  private var flushes = 0

  def runPass(tag: String, ops: JListT[Op], traced: Boolean, verify: Boolean): JMap[String, Any] = {
    this.verify = verify
    if (traced) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val (c0, j0) = (cpuMs, Cpu.jitMs)
    val t0 = nowMs
    val recs = runOps(tag, ops, traced)
    val t1 = nowMs
    val out = rec("tag" -> tag, "traced" -> traced, "t0" -> t0, "t1" -> t1,
      "cpu_ms" -> (cpuMs - c0), "jit_ms" -> (Cpu.jitMs - j0), "ops" -> recs)
    if (traced) {
      flushes += 1
      val marker = s"${Trace.MarkerPrefix}$flushes"
      spark.sparkContext.setJobDescription(marker)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!trace.sawMarker(marker) && System.nanoTime() < deadline) Thread.sleep(5)
      spark.listenerManager.unregister(trace)
      spark.sparkContext.removeSparkListener(trace)
      val (jobs, queries) = trace.drain()
      out.put("jobs", jobs)
      out.put("queries", queries)
      System.gc()
      val rt = Runtime.getRuntime
      out.put("heap_mb_post_gc", (rt.totalMemory - rt.freeMemory) / 1048576.0)
    }
    out
  }
}

/** The process's CPU time less that of its JIT compiler threads. The JIT
  * keeps compiling for the first minute and more of a run, several
  * CPU-seconds per pass; that is warm-up of the JVM, not work of the
  * program. Compiler threads are found once by name in
  * `/proc/self/task` (the launcher turns off their dynamic creation, so
  * the set is fixed); without `/proc` nothing is subtracted. */
object Cpu {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val TickMs = 10.0  // USER_HZ = 100

  private val compilerStats: Seq[Path] =
    try {
      val s = Files.list(Paths.get("/proc/self/task"))
      try s.iterator().asScala.toSeq.filter { t =>
        val name = Files.readString(t.resolve("comm")).trim
        name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")
      }.map(_.resolve("stat"))
      finally s.close()
    } catch { case _: Throwable => Seq.empty }

  /** utime + stime of one thread, in ms; the name field may hold spaces. */
  private def threadMs(stat: Path): Double =
    try {
      val line = Files.readString(stat)
      val f = line.substring(line.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong + f(12).toLong) * TickMs
    } catch { case _: Throwable => 0.0 }

  def jitMs: Double = compilerStats.map(threadMs).sum
  def programMs: Double = osBean.getProcessCpuTime / 1e6 - jitMs
}

/** Machine context for the run record: not metrics, but what a reader
  * needs to tell a slow program from a busy machine. */
object Weather {
  /** Aggregate `cpu` line of /proc/stat (empty where unavailable). */
  def cpuTicks(): Array[Long] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+").drop(1).map(_.toLong)
    } catch { case _: Throwable => Array.empty[Long] }

  def record(a: Array[Long], b: Array[Long]): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("cores", Runtime.getRuntime.availableProcessors())
    m.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    try m.put("loadavg", Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" "))
    catch { case _: Throwable => () }
    if (a.length >= 8 && b.length >= 8) {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum.toDouble.max(1.0)
      m.put("iowait_share", d(4) / total)
      m.put("steal_share", d(7) / total)
    }
    m
  }
}
