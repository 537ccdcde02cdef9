package graft.sources.arrow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, Predicate => CatalystPredicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BooleanType, StructType}

/** Write-time CHECK constraints (Delta's `ADD CONSTRAINT` shape): a
  * logged table carries named boolean SQL expressions in
  * `_graft_metadata/_constraints`, and EVERY writer — batch append,
  * overwrite, streaming sink epoch, copy-on-write UPDATE/MERGE
  * replacement — evaluates them per row before a byte lands. A
  * violation fails the TASK, which fails the JOB before its epoch
  * commits: the table never exposes a violating row (ingest-time data
  * quality gates, enforced at the storage layer where a 1000-executor
  * pipeline cannot bypass them).
  *
  * SQL CHECK semantics: a row passes when the expression is TRUE or
  * NULL (unknown passes — `amount > 0` admits NULL amounts; add
  * `amount IS NOT NULL` to forbid them).
  *
  * Constraints are resolved against the write schema at plan time
  * (driver) and shipped to tasks as bound Catalyst expressions;
  * evaluation is a codegen'd predicate per task, so enforcement cost
  * is one branch per row per constraint. */
object TableConstraints {

  val FileName = "_constraints"

  private def file(dir: String): Path =
    // resolve through the table's sink root (like dvEnabled /
    // isTableLog do): a write addressed at a partition SUBDIRECTORY of
    // a constrained logged table must bind the table's constraints,
    // not silently find none under the subdirectory
    ArrowDataSource.sinkRoot(dir)
      .getOrElse(Paths.get(dir).toAbsolutePath.normalize)
      .resolve(ArrowDataSource.MetadataDirName).resolve(FileName)

  private def b64(s: String): String =
    java.util.Base64.getEncoder
      .encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      StandardCharsets.UTF_8)

  /** Named constraints of the table, empty when none (or not logged). */
  def list(dir: String): Seq[(String, String)] = {
    val f = file(dir)
    if (!Files.exists(f)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.toSeq.flatMap { l =>
        l.split('\t') match {
          case Array(n, e) => Some((n, unb64(e)))
          case _ => None
        }
      }
    }
  }

  private def writeAll(dir: String,
      constraints: Seq[(String, String)]): Unit =
    AtomicFiles.replace(file(dir),
      constraints.map { case (n, e) => s"$n\t${b64(e)}" })

  /** Parse + resolve `sql` against `schema`, returning the BOUND
    * boolean expression. Fails fast on unknown columns, non-boolean
    * type, or non-deterministic expressions. */
  def resolve(spark: SparkSession, sql: String,
      schema: StructType): Expression = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
    val analyzed = spark.sessionState.executePlan(LFilter(parsed, rel))
      .analyzed
    // sugar forms (BETWEEN, ILIKE, ...) analyze to RuntimeReplaceable
    // nodes whose replacements carry `With` common-subexpression
    // wrappers — neither evaluates interpreted. The optimizer's
    // finish-analysis pair folds both away without touching semantics.
    val rewritten = org.apache.spark.sql.catalyst.optimizer
      .RewriteWithExpression(org.apache.spark.sql.catalyst.optimizer
        .ReplaceExpressions(analyzed))
    val cond = rewritten.collectFirst { case LFilter(c, _) => c }
      .getOrElse(throw new IllegalArgumentException(
        s"constraint: cannot resolve '$sql'"))
    require(cond.dataType == BooleanType,
      s"constraint '$sql' is ${cond.dataType.simpleString}, not boolean")
    require(cond.deterministic,
      s"constraint '$sql' is non-deterministic — a retry could " +
        "admit what the first attempt rejected")
    BindReferences.bindReference(cond, rel.output)
  }

  /** Add a named constraint. `validate` (default) scans the CURRENT
    * table first and refuses if any existing row violates — Delta's
    * contract: a constraint only ever holds over the whole table. */
  def add(spark: SparkSession, dir: String, name: String, sql: String,
      validate: Boolean = true): Unit = {
    require(ArrowDataSource.isTableLog(dir),
      s"add_constraint: $dir is not a logged table")
    require(name.nonEmpty && !name.contains('\t'))
    val existing = list(dir)
    require(!existing.exists(_._1 == name),
      s"add_constraint: '$name' already exists on $dir " +
        s"(${existing.toMap.get(name).getOrElse("")})")
    val schema = spark.read.format("arrow").load(dir).schema
    resolve(spark, sql, schema) // fail fast on a malformed expression
    if (validate) {
      import org.apache.spark.sql.functions.{expr, lit}
      // identical three-valued semantics to the writer's gate: only
      // rows where the expression is exactly FALSE violate (NULL
      // passes both here and at write time)
      val bad = spark.read.format("arrow").load(dir)
        .filter(expr(sql) <=> lit(false)).limit(1).count()
      require(bad == 0L,
        s"add_constraint: existing rows of $dir violate '$sql' — " +
          "clean the data first or add with validate => false")
    }
    writeAll(dir, existing :+ ((name, sql)))
  }

  def drop(dir: String, name: String): Boolean = {
    val existing = list(dir)
    val kept = existing.filterNot(_._1 == name)
    if (kept.length == existing.length) false
    else { writeAll(dir, kept); true }
  }

  /** Reserved constraint name a NOT NULL declaration on `col` uses. */
  def notNullName(col: String): String = s"notnull_$col"

  /** Declare `col` NOT NULL (Delta's other constraint class): stored
    * beside the CHECK constraints as `` `col` IS NOT NULL `` — which
    * evaluates FALSE (never NULL) for a null value, so the existing
    * per-row writer gate enforces it EXACTLY on every path (batch
    * append, streaming sink epoch, CoW replacement, delta inserts),
    * and a write whose schema omits the column fails at bind time
    * (the row could not be checked; schema-merge appends cannot
    * sneak nulls in). Existing rows are validated at definition:
    * a METADATA pass over the footer sidecar's per-batch null counts
    * (zero across every live file proves the table clean without
    * reading data); files without coverage — or with nonzero counts
    * that deletion vectors might already mask — fall back to ONE
    * pushed-IsNull scan, the ground truth that also respects read-time
    * column defaults. A column added by `add_column` WITHOUT a default
    * reads NULL in pre-add files and is refused here by that scan. */
  def setNotNull(spark: SparkSession, dir: String, col: String): Unit = {
    require(ArrowDataSource.isTableLog(dir),
      s"set_not_null: $dir is not a logged table")
    val df = spark.read.format("arrow").load(dir)
    require(df.schema.fieldNames.contains(col),
      s"set_not_null: no column `$col` in ${df.schema.simpleString}")
    val name = notNullName(col)
    require(!list(dir).exists(_._1 == name),
      s"set_not_null: `$col` is already declared NOT NULL on $dir")
    // Validate-then-declare under the table's epoch guard: an append
    // committing a NULL row BETWEEN the validation pass and writeAll
    // would otherwise never be re-checked, leaving a declared-NOT-NULL
    // column holding a NULL. Record the epoch the validation saw and
    // re-read it just before declaring; if the log advanced, re-run
    // the validation against the new head (bounded retries — each
    // retry costs at most one pushed-IsNull probe). The residual
    // window is the microseconds between the final epoch read and
    // writeAll — down from the full validation scan's duration; a
    // writer landing inside it raced the DECLARATION itself, the
    // same outcome as committing just before this call began.
    val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    var attempts = 0
    var declared = false
    while (!declared) {
      attempts += 1
      require(attempts <= 5,
        s"set_not_null: $dir kept committing during validation " +
          "(5 attempts) — quiesce writers and retry")
      val validatedEpoch = ArrowDataSource.latestCommittedEpoch(root)
      val statsClean = try {
        val memo = TableSnapshot.read(dir).footers
        memo.files.nonEmpty && memo.files.map(memo.info).forall(i =>
          i.rowStats.exists(rs => rs.cols.contains(col) &&
            rs.batches.indices.forall(b =>
              rs.nullCount(b, col).contains(0L))))
      } catch { case _: Exception => false }
      if (!statsClean) {
        import org.apache.spark.sql.functions.{col => c}
        // the scan must read under an ALL-NULLABLE schema: a table
        // whose declared field is non-nullable can still hold null
        // bytes (appends do not enforce declared nullability), and
        // over a non-nullable attribute the optimizer constant-folds
        // IsNull to FALSE — the validation would silently pass a
        // dirty table
        val nullable = org.apache.spark.sql.types.StructType(
          df.schema.fields.map(_.copy(nullable = true)))
        val honest = spark.read.format("arrow").schema(nullable).load(dir)
        require(honest.filter(c(col).isNull).limit(1).count() == 0L,
          s"set_not_null: existing rows of $dir hold NULL `$col` — " +
            "clean the data (or backfill a default) first")
      }
      if (ArrowDataSource.latestCommittedEpoch(root) == validatedEpoch) {
        writeAll(dir, list(dir) :+ ((name, s"`$col` IS NOT NULL")))
        declared = true
      }
    }
  }

  /** Drop a NOT NULL declaration; future writes stop checking it. */
  def dropNotNull(dir: String, col: String): Boolean =
    drop(dir, notNullName(col))

  /** Reserved constraint-name prefix of a GENERATED column's
    * definition: the entry `generated_<col>` stores the generation
    * expression's SQL (not a boolean check). Living beside the CHECK
    * constraints buys the whole lifecycle for free — publish refuses
    * diverged generation definitions, the evolution procedures'
    * reference guard protects the SOURCE columns, show_constraints
    * lists them. [[GeneratedColumns]] owns write-side semantics. */
  val GeneratedPrefix = "generated_"
  def generatedName(col: String): String = GeneratedPrefix + col

  /** Generated columns of the table: column → generation SQL. */
  def generatedColumns(dir: String): Map[String, String] =
    list(dir).collect {
      case (n, e) if n.startsWith(GeneratedPrefix) =>
        n.stripPrefix(GeneratedPrefix) -> e
    }.toMap

  /** Ledger a generation definition (validated by `add_column`). */
  private[arrow] def addGenerated(dir: String, col: String,
      sql: String): Unit = {
    val existing = list(dir)
    require(!existing.exists(_._1 == generatedName(col)),
      s"add_column: `$col` already carries a generation expression")
    writeAll(dir, existing :+ ((generatedName(col), sql)))
  }

  /** Parse + resolve an arbitrary (not necessarily boolean) scalar
    * expression against `schema` — the generation-expression resolver.
    * Deterministic only; bound against the schema's attribute order. */
  def resolveExpr(spark: SparkSession, sql: String,
      schema: StructType): Expression = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
    val analyzed = spark.sessionState.executePlan(
      org.apache.spark.sql.catalyst.plans.logical.Project(Seq(
        org.apache.spark.sql.catalyst.expressions.Alias(parsed, "g")()),
        rel)).analyzed
    val rewritten = org.apache.spark.sql.catalyst.optimizer
      .RewriteWithExpression(org.apache.spark.sql.catalyst.optimizer
        .ReplaceExpressions(analyzed))
    val e = rewritten.collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical
        .Project(Seq(a: org.apache.spark.sql.catalyst.expressions
          .Alias), _) => a.child
    }.getOrElse(throw new IllegalArgumentException(
      s"generated column: cannot resolve '$sql'"))
    require(e.deterministic,
      s"generated column expression '$sql' is non-deterministic — " +
        "a retry would materialize different values")
    BindReferences.bindReference(e, rel.output)
  }

  /** The table's constraints bound against `writeSchema`, for writer
    * enforcement. A constraint referencing a column the write does not
    * carry fails the write up front (the row could not be checked).
    *
    * A `generated_<col>` entry binds as the null-tolerant equality
    * gate `` `col` IS NULL OR `col` <=> (expr) `` when the write
    * carries the column — a writer-supplied NON-NULL value that
    * disagrees with the generation expression refuses (supplied NULLs
    * pass here; the ingest paths' [[GeneratedColumns]] decorator
    * recomputes them, the CoW paths preserve them). Columns in
    * `skipGenerated` (the decorator's own appended columns — their
    * values ARE the expression) and columns absent from the write
    * schema skip the gate. */
  def bound(spark: SparkSession, dir: String,
      writeSchema: StructType,
      skipGenerated: Set[String] = Set.empty)
      : Seq[(String, Expression)] =
    list(dir).flatMap { case (n, sql) =>
      val check =
        if (n.startsWith(GeneratedPrefix)) {
          val c = n.stripPrefix(GeneratedPrefix)
          if (skipGenerated(c) || !writeSchema.fieldNames.contains(c))
            None
          else Some(s"(`$c` IS NULL) OR (`$c` <=> ($sql))")
        } else Some(sql)
      check.map { chk =>
        try (n, resolve(spark, chk, writeSchema))
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"constraint '$n' ($sql) cannot be checked against write " +
              s"schema ${writeSchema.simpleString}: ${e.getMessage}", e)
        }
      }
    }

  /** Per-row enforcement decorator over any DataWriter: evaluates each
    * bound constraint (codegen'd predicate, created task-side) and
    * fails the task on the first FALSE — job abort, nothing commits. */
  def enforcing(under: DataWriter[InternalRow],
      checks: Seq[(String, Expression)]): DataWriter[InternalRow] =
    if (checks.isEmpty) under
    else new DataWriter[InternalRow] {
      // SQL CHECK three-valued semantics via `expr <=> false`: the
      // codegen'd predicate is TRUE exactly when the constraint is
      // FALSE (TRUE and NULL both pass)
      private val preds = checks.map { case (n, e) =>
        (n, CatalystPredicate.create(
          org.apache.spark.sql.catalyst.expressions.EqualNullSafe(e,
            org.apache.spark.sql.catalyst.expressions.Literal(false,
              BooleanType))))
      }
      override def write(row: InternalRow): Unit = {
        preds.foreach { case (n, p) =>
          if (p.eval(row))
            throw new IllegalArgumentException(
              s"CHECK constraint '$n' violated by row $row — the " +
                "write is aborted, no epoch commits")
        }
        under.write(row)
      }
      override def commit(): org.apache.spark.sql.connector.write
        .WriterCommitMessage = under.commit()
      override def abort(): Unit = under.abort()
      override def close(): Unit = under.close()
    }
}
