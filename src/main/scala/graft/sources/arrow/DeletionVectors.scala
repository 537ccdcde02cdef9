package graft.sources.arrow

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Merge-on-read DELETE: instead of copy-on-write rewriting every
  * file that holds a matching row, a delete against a DV-enabled table
  * ([[ArrowDataSource.dvEnabled]]) writes one small DELETION VECTOR
  * sidecar per touched file — the bitmap of deleted row ordinals,
  * per record batch — and commits `dv` events to the table log. The
  * data bytes never move; every reader masks the listed ordinals
  * ([[ArrowReaderBase]]). This is Delta/Iceberg's deletion-vector
  * shape: at 100 TB, deleting 0.1% of rows scattered across a
  * petabyte costs O(matched files' scan + tiny sidecars), not a
  * petabyte rewrite. OPTIMIZE / any CoW rewrite purges vectors
  * naturally (the scan materializes live rows, the replaced file's
  * vector dies with its file).
  *
  * Vectors are CUMULATIVE: a second delete unions the existing
  * vector into the new one and the log's `dv` event REPLACES the old
  * — one sidecar read per file however many deletes have landed.
  *
  * Sidecar format (binary, atomically moved into place under
  * `_graft_dv/`): magic "GDV1", int batchCount, then per batch an int
  * byte-length + java.util.BitSet bytes (little-endian longs), then a
  * long total-cardinality trailer. Ordinals are row positions WITHIN
  * their record batch, so zone-map batch skipping composes — a reader
  * masking batch k needs only batch k's bitmap.
  */
object DeletionVectors {

  private val Magic = Array[Byte]('G', 'D', 'V', '1')

  def serialize(perBatch: Array[java.util.BitSet]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(Magic)
    out.writeInt(perBatch.length)
    var total = 0L
    perBatch.foreach { bs =>
      val bytes = bs.toByteArray
      out.writeInt(bytes.length)
      out.write(bytes)
      total += bs.cardinality()
    }
    out.writeLong(total)
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Array[java.util.BitSet] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(java.util.Arrays.equals(magic, Magic),
      "arrow deletion vector: bad magic — corrupt sidecar")
    val n = in.readInt()
    Array.fill(n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      java.util.BitSet.valueOf(b)
    }
  }

  def read(path: Path): Array[java.util.BitSet] =
    deserialize(Files.readAllBytes(path))

  def cardinality(perBatch: Array[java.util.BitSet]): Long =
    perBatch.map(_.cardinality().toLong).sum

  /** Write a vector sidecar under `root/_graft_dv/` (uuid-named — the
    * committing epoch is unknown task-side; the log's `dv` event binds
    * it). Returns the absolute path. */
  def write(root: Path, perBatch: Array[java.util.BitSet]): Path = {
    val dvDir = root.resolve(ArrowDataSource.DvDirName)
    Files.createDirectories(dvDir)
    val out = dvDir.resolve(java.util.UUID.randomUUID().toString + ".dv")
    AtomicFiles.replace(out, serialize(perBatch))
    out
  }

  /** One file's merge-on-read delete (runs inside a task): evaluate
    * `filters` (conjunction) over every row NOT already masked by
    * `oldDv`, and return the cumulative new vector. None when no new
    * row matches (the file's entry is untouched). The caller turns an
    * all-rows-masked result into a plain REMOVE event instead. */
  def computeMask(root: String, file: String, partSchema: StructType,
      filters: Seq[Filter], decl: ArrowDataSource.Declaration,
      oldDv: Option[Array[java.util.BitSet]])
      : Option[(Array[java.util.BitSet], Long, Long)] = {
    val src = Paths.get(file)
    val info = ArrowDataSource.footerInfo(src)
    // evolved tables: evaluate the predicate under the declared
    // LOGICAL schema (alias fallback / null-fill in the reader), like
    // ArrowDelete.rewriteFile
    val dataSchema = decl.schema
      .getOrElse(ArrowDataSource.readFooterSchema(src))
    // each name once: an evolved partition column a pre-evolution file
    // still carries in bytes binds its data ordinal (the reader serves
    // the byte values); later generations get the dir constant
    val readSchema = StructType(dataSchema.fields.filterNot(f =>
      partSchema.fieldNames.contains(f.name)) ++ partSchema.fields)
    val partValues = ArrowDataSource
      .partitionValuesOf(root, src, partSchema.fieldNames.toSeq).map(_.orNull).toArray
    val compiled = filters.map(FilterEval.compile(readSchema, _))
    def matches(r: InternalRow): Boolean = compiled.forall(_(r))
    val nBatches = info.sizes.length
    val mask = Array.fill(nBatches)(new java.util.BitSet())
    oldDv.foreach { old =>
      require(old.length == nBatches,
        s"arrow deletion vector for $file covers ${old.length} " +
          s"batches, file has $nBatches — corrupt vector")
      old.zipWithIndex.foreach { case (bs, i) => mask(i).or(bs) }
    }
    val partition = ArrowFilePartition(file,
      (0 until nBatches).toArray, partValues)
    val reader = new ArrowBatchReader(partition, readSchema, partSchema,
      decl)
    var batchIdx = -1
    var newMatches = 0L
    var totalRows = 0L
    try {
      while (reader.next()) {
        batchIdx += 1
        val batch = reader.get()
        totalRows += batch.numRows()
        val it = batch.rowIterator()
        var off = 0
        while (it.hasNext) {
          val r = it.next()
          if (!mask(batchIdx).get(off) && matches(r)) {
            mask(batchIdx).set(off)
            newMatches += 1
          }
          off += 1
        }
      }
    } finally reader.close()
    if (newMatches == 0) None
    else Some((mask, totalRows, newMatches))
  }
}
