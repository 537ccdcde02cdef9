package graft.sources.arrow

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Per-FILE Bloom filters for the Arrow source — the pruning tool zone
  * maps cannot be: a min/max range over a high-cardinality column
  * (clerk ids, hostnames, uuids) spans nearly the whole domain in every
  * file, so `col = 'x'` point lookups scan everything. A small footer
  * bloom (64 KiB, 7 hashes → ~1% false positives at 50k distinct
  * values/file) lets the planner skip WHOLE FILES whose bloom proves
  * the probed value absent — parquet's column bloom filter, applied to
  * the namesake Arrow layout. At 100 TB a needle-in-haystack lookup
  * touches only the ~1% false-positive files instead of every file.
  *
  * Writer opt-in per column (`option("bloomFilterColumns", "a,b")`);
  * absence of a bloom never affects correctness — like every footer
  * stat here, blooms are an optimization, not a correctness surface.
  *
  * Hashing is double-hashed Murmur3 over the value's canonical bytes
  * (UTF-8 for strings, 64-bit widening for integrals), shared verbatim
  * between the write path (batch vectors) and the planner (filter
  * literals), so the contract cannot drift.
  */
object ArrowBloom {
  val MetaPrefix = "graft.bloom."
  val NumBits: Int = 1 << 19 // 64 KiB
  val NumWords: Int = NumBits / 64
  val NumHashes = 7
  private val Seed1 = 0x9747b28c
  private val Seed2 = 0x41c64e6d

  def supported(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  def emptyBits(): Array[Long] = new Array[Long](NumWords)

  private def hashes(dt: DataType, v: Any): (Int, Int) = dt match {
    case StringType =>
      val s = v match {
        case u: UTF8String => u
        case other => UTF8String.fromString(other.toString)
      }
      (Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
        s.numBytes(), Seed1),
        Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), Seed2))
    case _ =>
      val l = v match {
        case n: java.lang.Number => n.longValue()
        case other => other.toString.toLong
      }
      (Murmur3_x86_32.hashLong(l, Seed1), Murmur3_x86_32.hashLong(l, Seed2))
  }

  private def setBit(bits: Array[Long], idx: Int): Unit =
    bits(idx >>> 6) |= 1L << (idx & 63)

  private def getBit(bits: Array[Long], idx: Int): Boolean =
    (bits(idx >>> 6) & (1L << (idx & 63))) != 0

  def add(bits: Array[Long], dt: DataType, v: Any): Unit = {
    val (h1, h2) = hashes(dt, v)
    var i = 0
    while (i < NumHashes) {
      setBit(bits, Math.floorMod(h1 + i * h2, NumBits))
      i += 1
    }
  }

  /** Adds the non-null values among the first `n` rows of `v`, one
    * batch's vector of a [[supported]] column of type `dt`. */
  def addAll(bits: Array[Long], v: org.apache.arrow.vector.ValueVector,
      dt: DataType, n: Int): Unit = {
    val get: Int => Any =
      if (dt == StringType) ZoneMaps.utf8s(v) else ZoneMaps.longs(v)
    var i = 0
    while (i < n) {
      if (!v.isNull(i)) add(bits, dt, get(i))
      i += 1
    }
  }

  /** False positives possible, false negatives never. */
  def mightContain(bits: Array[Long], dt: DataType, v: Any): Boolean = {
    val (h1, h2) = hashes(dt, v)
    var i = 0
    while (i < NumHashes) {
      if (!getBit(bits, Math.floorMod(h1 + i * h2, NumBits))) return false
      i += 1
    }
    true
  }

  def encode(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def decode(s: String): Option[Array[Long]] =
    try {
      val bytes = java.util.Base64.getDecoder.decode(s)
      if (bytes.length != NumWords * 8) None
      else {
        val bb = java.nio.ByteBuffer.wrap(bytes)
        Some(Array.fill(NumWords)(bb.getLong))
      }
    } catch { case _: IllegalArgumentException => None }

  /** Can `file-level bloom` prove this pushed filter matches nothing in
    * the file? Only distinctly-valued point predicates can: EqualTo
    * with a non-null literal, and In where EVERY non-null probe misses
    * (null probes never equal anything under SQL semantics, so they
    * cannot rescue a row). Everything else keeps the file. */
  def provesAbsent(blooms: Map[String, Array[Long]], schema: StructType,
      filter: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def bloomOf(attr: String): Option[(Array[Long], DataType)] =
      for {
        bits <- blooms.get(attr)
        f <- schema.find(_.name == attr)
        if supported(f.dataType)
      } yield (bits, f.dataType)
    filter match {
      case EqualTo(a, v) if v != null =>
        bloomOf(a).exists { case (bits, dt) => !mightContain(bits, dt, v) }
      case In(a, vs) if vs != null && vs.nonEmpty =>
        bloomOf(a).exists { case (bits, dt) =>
          vs.forall(v => v == null || !mightContain(bits, dt, v))
        }
      case And(l, r) =>
        provesAbsent(blooms, schema, l) || provesAbsent(blooms, schema, r)
      case _ => false
    }
  }
}
