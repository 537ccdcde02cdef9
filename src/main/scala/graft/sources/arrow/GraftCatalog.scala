package graft.sources.arrow

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** The shared bucket function of the Arrow source's bucketed layout.
  *
  * One definition serves BOTH halves of storage-partitioned join:
  * the writer routes each row to `id(hash(key), n)` and records the id
  * in the file footer, and the same arithmetic is exposed to Catalyst
  * as the V2 `ScalarFunction` behind the scan's reported
  * `bucket(n, col)` transform — so Spark can (a) prove two graft
  * tables bucketed with equal `n` are co-partitioned (equal keys hash
  * to equal ids by construction) and (b) evaluate the function itself
  * if it ever needs to shuffle a non-bucketed side to match.
  *
  * The hash is Murmur3 over the key's 64-bit widening (or UTF-8
  * bytes), seed 42 — self-contained so the on-disk layout contract
  * never drifts with Spark-internal hash changes.
  */
object GraftBucket {
  val Seed = 42

  /** Key types the bucketed layout supports (join keys, in practice). */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  def hashLong(v: Long): Int = Murmur3_x86_32.hashLong(v, Seed)

  def hashString(s: UTF8String): Int =
    Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes(), Seed)

  /** Bucket id of the key at `ord` in `row`; null keys go to bucket 0
    * (any fixed placement is consistent between writer and function). */
  def idOf(dt: DataType, row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ord: Int, n: Int): Int = {
    if (row.isNullAt(ord)) return 0
    val h = dt match {
      case ByteType => hashLong(row.getByte(ord).toLong)
      case ShortType => hashLong(row.getShort(ord).toLong)
      case IntegerType => hashLong(row.getInt(ord).toLong)
      case LongType => hashLong(row.getLong(ord))
      case StringType => hashString(row.getUTF8String(ord))
      case other => throw new UnsupportedOperationException(
        s"graft bucket key type $other")
    }
    Math.floorMod(h, n)
  }

  // footer metadata keys the writer records and the scan reads
  val MetaCol = "graft.bucket.col"
  val MetaN = "graft.bucket.n"
  val MetaId = "graft.bucket.id"
}

/** Sorted-layout stamp: `option("sortBy", col)` makes the writer VERIFY
  * (not trust) that each file's rows arrive ascending NULLS FIRST on
  * `col` — Spark's default ordering, `sortWithinPartitions(col)`
  * upstream produces exactly it — and stamp the footer only when the
  * whole file held the order. [[ArrowScan]] turns unanimous stamps into
  * a reported V2 ordering, which is what lets a bucketed+sorted
  * equi-join plan sort-merge with NEITHER exchanges NOR sorts. */
object GraftSort {
  val MetaCol = "graft.sort.col"

  /** Order-trackable types: the integral/temporal family (compared as
    * long) and strings (compared as UTF-8 bytes — Spark's own binary
    * string ordering). */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** The file-wide order check between batches: `ok` until a row breaks
    * ascending NULLS FIRST; `last` is the last key seen (a
    * `java.lang.Long`, or a copied [[UTF8String]]), null until the
    * first non-null row. */
  final case class Check(ok: Boolean = true, last: Any = null)

  /** The check after the first `n` rows of `v`, one batch's vector of
    * the sort column (of a [[supported]] type `dt`). */
  def check(v: org.apache.arrow.vector.ValueVector, dt: DataType, n: Int,
      prev: Check): Check =
    if (!prev.ok) prev
    else {
      val str = dt == StringType
      val get: Int => Any = if (str) ZoneMaps.utf8s(v) else ZoneMaps.longs(v)
      var last = prev.last
      var i = 0
      while (i < n) {
        if (v.isNull(i)) { if (last != null) return Check(ok = false) }
        else {
          val x = get(i)
          if (last != null && (if (str) last.asInstanceOf[UTF8String]
              .compareTo(x.asInstanceOf[UTF8String]) > 0
              else last.asInstanceOf[Long] > x.asInstanceOf[Long]))
            return Check(ok = false)
          last = x
        }
        i += 1
      }
      // a string key points into the batch's reused buffers: carry a copy
      Check(last = last match {
        case s: UTF8String => s.clone()
        case k => k
      })
    }
}

/** `bucket(numBuckets, col)` as a Spark V2 function — what
  * `V2ExpressionUtils` loads (by the fixed name `bucket`, empty
  * namespace) when it resolves the scan's reported
  * `KeyGroupedPartitioning` transform. */
class GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): graft arrow bucketed-layout hash bucket id"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, col), got ${inputType.simpleString}")
    val keyType = inputType.fields(1).dataType
    require(GraftBucket.supported(keyType),
      s"graft bucket does not support key type ${keyType.simpleString}")
    new GraftBucketBound(keyType)
  }
}

class GraftBucketBound(keyType: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // equality of canonicalName across two scans is what lets Spark
  // prove co-partitioning; key the name on the bound input type
  override def canonicalName(): String = s"graft.bucket(${keyType.sql})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    GraftBucket.idOf(keyType, input, 1, input.getInt(0))
}

/** Minimal V2 catalog exposing Arrow IPC directories as tables and the
  * graft bucket function — the piece that turns the Arrow source's
  * bucketed layout into exchange-free storage-partitioned joins.
  *
  * Catalyst only resolves a non-identity partition transform
  * (`bucket(n, col)`) through the relation's `FunctionCatalog`
  * (`V2ExpressionUtils.loadV2FunctionOpt`), and path-based
  * `spark.read.format(...)` relations carry no catalog — so bucketed
  * reads go through here instead:
  *
  * {{{
  *   GraftCatalog.register(spark)
  *   spark.table(s"graft.arrow.`$dir`")   // namespace arrow, name = path
  * }}}
  *
  * Tables are identified by filesystem path; the catalog is read-only
  * (writes keep using `df.write.format("arrow")`).
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = "graft"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = { catalogName = name }

  override def name(): String = catalogName

  /** Maintenance verbs as SQL:
    * `CALL graft.system.vacuum(path => '/data', grace_ms => 0)` —
    * see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    GraftProcedures.all.getOrElse(ident.name,
      throw new RuntimeException(
        s"graft: no procedure ${ident.name}; have " +
          GraftProcedures.all.keys.toSeq.sorted.mkString(", ")))

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    GraftProcedures.all.keys.toArray.sorted
      .map(Identifier.of(Array("system"), _))

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def loadTable(ident: Identifier): Table = {
    val path = ident.name
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    ArrowTable.load(path)
  }

  /** `VERSION AS OF <epoch>` over a streaming-sink directory: versions
    * are the sink's committed epochs (the commit log keeps per-epoch
    * attribution through snapshot compaction), so
    * `SELECT ... FROM graft.arrow.`dir` VERSION AS OF 3` reads exactly
    * the files epochs 0..3 committed. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = ident.name
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    // named refs first (Iceberg's tags and branches): `VERSION AS OF
    // 'v1-training'` resolves a TAG to its frozen epoch; a BRANCH
    // name resolves to the branch table's CURRENT head (the writable
    // ref — it advances as the branch commits); numbers stay epochs
    val resolved: Either[String, Long] =
      try Right(version.toLong) catch {
        case _: NumberFormatException =>
          val root = java.nio.file.Paths.get(path)
            .toAbsolutePath.normalize
          ArrowDataSource.tags(root).get(version) match {
            case Some(e) => Right(e)
            case None => ArrowDataSource.branchDir(root, version) match {
              case Some(branchRoot) => Left(branchRoot.toString)
              case None => throw new IllegalArgumentException(
                s"graft arrow: '$version' is neither an epoch " +
                  s"number, a tag, nor a branch of $path (tags: " +
                  s"${ArrowDataSource.tags(root).keys.toSeq.sorted
                    .mkString(", ")}; branches: " +
                  s"${ArrowDataSource.branches(root).keys.toSeq.sorted
                    .mkString(", ")})")
            }
          }
      }
    resolved match {
      // a BRANCH read is the branch table's CURRENT head — no epoch
      // pin; the ref advances as the branch commits
      case Left(branchPath) => ArrowTable.load(branchPath)
      case Right(e) => ArrowTable.load(path, version = Some(e))
    }
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands the literal as MICROseconds
    * since the epoch; resolve it against the log's commit stamps
    * (greatest epoch at or before the instant, Delta's contract) and
    * travel to that epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = ident.name
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    ArrowTable.load(path,
      timestampMillis = Some(Math.floorDiv(timestamp, 1000L)))
  }

  /** `CREATE TABLE graft.arrow.`/path`` (cols...) [USING arrow]
    * [PARTITIONED BY (col, ...)]` — declare an EMPTY logged table:
    * one epoch-0 manifest, the column set as a declared schema (the
    * same `_schema` CAS ledger every later evolution advances), the
    * identity partition columns as a recorded write spec, and each
    * `NOT NULL` column as a write-side constraint. The declaration is
    * stored ALL-NULLABLE (appends never enforce declared nullability —
    * [[TableConstraints]] does, per row, on every writer path; the
    * reference keeps loaded tables inside the engine the same way,
    * `Source/BOSSArrowStorageEngine.cpp:44-50`). Properties the
    * catalog cannot honor refuse loudly. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val path = ident.name
    val root = java.nio.file.Paths.get(path).toAbsolutePath.normalize
    val props = properties.asScala.toMap
    // `provider` arrives from USING, `owner` from the session — both
    // honored trivially; anything else (location, comment, options)
    // would silently not round-trip, so it refuses instead
    val unsupported = props.keySet -- Set("provider", "owner")
    require(unsupported.isEmpty,
      s"graft createTable: unsupported table properties " +
        s"${unsupported.toSeq.sorted.mkString(", ")} — tables are " +
        "identified by path and carry no property store")
    props.get("provider").foreach(p =>
      require(p.equalsIgnoreCase("arrow"),
        s"graft createTable: provider '$p' is not this catalog's — " +
          "USING arrow (or omit the clause)"))
    require(ArrowDataSource.listIpcFiles(path).isEmpty &&
      !java.nio.file.Files.isDirectory(
        root.resolve(ArrowDataSource.MetadataDirName)),
      s"graft createTable: $path already holds a table (data files " +
        "or a commit log) — DROP it first, or INSERT into it as-is")
    val partCols: Seq[String] = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft createTable: only identity partition transforms are " +
          s"declarable (got ${other.describe()}) — derived/hidden " +
          "partitioning is the writer's partitionTransform option, " +
          "bucketing its bucketBy")
    }
    val partSupported: Set[DataType] = Set(LongType, IntegerType,
      ShortType, ByteType, BooleanType, StringType)
    val partSpec = partCols.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft createTable: partition column $c is not in the " +
            "column list"))
      require(partSupported(f.dataType),
        s"graft createTable: partition column $c has unsupported " +
          s"partition type ${f.dataType.simpleString}")
      require(f.nullable,
        s"graft createTable: partition column $c cannot be NOT NULL " +
          "— null partition values route to the null directory and " +
          "the constraint machinery checks DATA columns")
      c -> f.dataType
    }
    val dataFields = schema.fields.filterNot(f => partCols.contains(f.name))
    require(dataFields.nonEmpty,
      "graft createTable: every column is a partition column — " +
        "declare at least one data column")
    dataFields.foreach(f => require(
      !f.metadata.contains("CURRENT_DEFAULT") &&
        !f.metadata.contains("EXISTS_DEFAULT"),
      s"graft createTable: column ${f.name} declares a DEFAULT — " +
        "initial defaults are declared per added column " +
        "(CALL graft.system.add_column(..., default => ...)), not " +
        "at CREATE time"))
    java.nio.file.Files.createDirectories(root)
    ArrowDataSource.initTableLog(path)
    val declared = StructType(dataFields.map(f =>
      f.copy(nullable = true, metadata = org.apache.spark.sql.types
        .Metadata.empty)))
    require(ArrowDataSource.casDeclaredSchema(root, declared,
      Set.empty, Map.empty, ArrowDataSource.declaredSchemaGen(root)),
      s"graft createTable: lost a declaration race on $path — " +
        "a concurrent writer created the table first")
    if (partSpec.nonEmpty)
      ArrowDataSource.writePartitionSpecFiles(root,
        partSpec.map(_._1), partSpec.toMap, partSpec)
    // NOT NULL columns enforce through the constraint machinery on
    // every writer path; the empty table validates vacuously
    dataFields.filterNot(_.nullable).foreach(f =>
      TableConstraints.setNotNull(
        org.apache.spark.sql.SparkSession.active, path, f.name))
    loadTable(ident)
  }

  /** `ALTER TABLE graft.arrow.`/path`` ...` — pure dispatch onto the
    * soak-tested CALL-procedure machinery (`add_column`,
    * `rename_column`, `drop_column`, `widen_column`,
    * `set_not_null`/`drop_not_null`, `add_constraint`/
    * `drop_constraint`): one code path, so ALTER and CALL produce
    * byte-identical ledger lines and the same CAS generation bumps. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = ident.name
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    def utf8(s: String): UTF8String = UTF8String.fromString(s)
    def call(proc: String, args: Any*): Unit = {
      val it = GraftProcedures.all(proc)
        .bind(new StructType())
        .call(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(args.toArray))
      while (it.hasNext) it.next() // side effects run in call(); drain
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.position() == null,
          "graft ALTER TABLE: column positions (FIRST/AFTER) are not " +
            "honored — added columns land at the end of the schema")
        require(a.isNullable || a.defaultValue() != null,
          "graft ALTER TABLE: an added column lands NULL on existing " +
            "rows (metadata-only evolution never backfills) — add it " +
            "nullable, or give it a DEFAULT, then SET NOT NULL")
        val defaultSql: String = Option(a.defaultValue())
          .map { dv =>
            val sql = dv.getSql
            require(sql != null,
              "graft ALTER TABLE: the column DEFAULT carries no SQL " +
                "text to ledger")
            sql
          }.orNull
        call("add_column", utf8(path),
          utf8(a.fieldNames().mkString(".")), utf8(a.dataType().sql),
          if (defaultSql == null) null else utf8(defaultSql),
          null) // generated: not expressible through ADD COLUMN SQL
        if (!a.isNullable)
          call("set_not_null", utf8(path),
            utf8(a.fieldNames().mkString(".")))
      case r: TableChange.RenameColumn =>
        call("rename_column", utf8(path),
          utf8(r.fieldNames().mkString(".")), utf8(r.newName()))
      case d: TableChange.DeleteColumn =>
        try call("drop_column", utf8(path),
          utf8(d.fieldNames().mkString(".")))
        catch {
          case e: IllegalArgumentException
              if java.lang.Boolean.TRUE.equals(d.ifExists()) &&
                e.getMessage != null &&
                e.getMessage.contains("no column") => ()
        }
      case u: TableChange.UpdateColumnType =>
        call("widen_column", utf8(path),
          utf8(u.fieldNames().mkString(".")), utf8(u.newDataType().sql))
      case n: TableChange.UpdateColumnNullability =>
        val col = utf8(n.fieldNames().mkString("."))
        if (n.nullable()) call("drop_not_null", utf8(path), col)
        else call("set_not_null", utf8(path), col)
      case c: TableChange.AddConstraint =>
        c.constraint() match {
          case chk: org.apache.spark.sql.connector.catalog.constraints
              .Check =>
            call("add_constraint", utf8(path), utf8(chk.name()),
              utf8(chk.predicateSql()), java.lang.Boolean.TRUE)
          case other => throw new UnsupportedOperationException(
            s"graft ALTER TABLE: only CHECK constraints are " +
              s"enforceable, got ${other.name()}")
        }
      case dcon: TableChange.DropConstraint =>
        // NOT NULL drops via ALTER COLUMN ... DROP NOT NULL (the
        // UpdateColumnNullability arm), named CHECKs here
        val dropped = TableConstraints.drop(path, dcon.name())
        require(dropped || dcon.ifExists(),
          s"graft ALTER TABLE: no constraint ${dcon.name()} on $path")
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE: unsupported change ${other.getClass
          .getSimpleName} — schema evolves via add/rename/drop/widen " +
          "column, nullability, and CHECK constraints")
    }
    loadTable(ident)
  }

  /** `DROP TABLE graft.arrow.`/path`` — log-aware removal: deletes the
    * table directory (data, commit log, metadata sidecar) only when
    * the path actually IS a graft table; an arbitrary directory never
    * deletes through this catalog. Clones that borrowed this table's
    * files fail fast on their next read, the documented clone
    * contract. */
  override def dropTable(ident: Identifier): Boolean = {
    val root = java.nio.file.Paths.get(ident.name)
      .toAbsolutePath.normalize
    if (!java.nio.file.Files.isDirectory(root)) return false
    val isTable = java.nio.file.Files.isDirectory(
      root.resolve(ArrowDataSource.MetadataDirName)) ||
      ArrowDataSource.listIpcFiles(ident.name).nonEmpty
    require(isTable,
      s"graft dropTable: ${ident.name} is a directory but not a " +
        "graft table (no commit log, no .arrow files) — refusing to " +
        "delete it")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists)
    finally walk.close()
    true
  }

  /** `ALTER TABLE ... RENAME TO` — a directory rename within the SAME
    * parent: manifests hold root-relative paths, so an in-place rename
    * preserves every reference; moving ACROSS parents would break
    * clones' `../` borrowed rels in either direction and refuses. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = java.nio.file.Paths.get(oldIdent.name)
      .toAbsolutePath.normalize
    val to = java.nio.file.Paths.get(newIdent.name)
      .toAbsolutePath.normalize
    if (!java.nio.file.Files.isDirectory(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        oldIdent)
    require(from.getParent == to.getParent,
      s"graft renameTable: $from and $to live under different " +
        "parents — cross-directory moves would break relative " +
        "manifest/clone references; rename within the parent")
    require(!java.nio.file.Files.exists(to),
      s"graft renameTable: $to already exists")
    java.nio.file.Files.move(from, to)
    ()
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket")
      new GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
}

object GraftCatalog {
  /** Name this catalog `graft` on `spark`, unless the session already
    * names a `graft` catalog. Query bodies call it themselves: they may
    * run on a session the engine's builder did not configure. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
}
