package graft.functions.sketch

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Reference-parity approximate counting (SURVEY §2.3 A4/A8): a seeded
  * multi-hash counting table with saturating cells where the estimate is the
  * MIN across hash rows (reference src/ngrams/counter.rs:43-194), plus the
  * u8 Bloom-presence table whose nonzero-cell count estimates distinct
  * n-grams biased LOW by collisions, no correction (src/cmd/unique.rs:91-148).
  *
  * The reference's table is one shared-memory array updated by atomics; the
  * distributed contract replicated here is merge-by-cell-sum for CMS and
  * merge-by-cell-max for presence. Hashes are seeded and deterministic but
  * intentionally NOT bit-identical to Rust ahash (SURVEY §7 hard-part 3:
  * replicate the contract, not the hashes).
  *
  * Builtin alternatives: Spark's `count_min_sketch` aggregate and
  * `approx_count_distinct` (HLL++). These sketches keep the reference's
  * semantics (saturation, min-of-k, biased-low presence estimate);
  * [[buildCms]] is the distributed CMS build `NgramOps.topKApprox` runs.
  */
object Sketches {

  private def utf8(item: String): Array[Byte] =
    item.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Deterministic 64-bit hash of (seed row i, item's UTF-8 bytes). Callers
    * encode once per item and hash every row off the same bytes, so a
    * String item and a UTF8String's bytes land in the same cells.
    */
  private[graft] def hashBytes(bytes: Array[Byte], i: Int, seed: Int): Long = {
    // FNV-1a over the UTF-8 bytes, row-and-seed mixed in — stable everywhere.
    var h = 0xcbf29ce484222325L ^ (seed * 0x9e3779b97f4a7c15L) ^ (i * 0xff51afd7ed558ccdL)
    var j = 0
    while (j < bytes.length) { h ^= bytes(j) & 0xffL; h *= 0x100000001b3L; j += 1 }
    h
  }

  private val U32Max = 0xffffffffL

  /** Count-min sketch buffer: depth rows × width cells of saturating-u32
    * counters (flattened). add = +1 per row cell (saturating, reference
    * counter.rs:106-132); merge = cell-wise saturating sum; estimate(item) =
    * min over rows (counter.rs:163-177 contract).
    */
  final case class CMS(width: Int, depth: Int, seed: Int, cells: Array[Long]) {
    def add(item: String, by: Long = 1L): CMS = addBytes(utf8(item), by)

    /** [[add]] over pre-encoded UTF-8 bytes (one encode for all depth rows). */
    def addBytes(bytes: Array[Byte], by: Long = 1L): CMS = {
      var i = 0
      while (i < depth) {
        val c = i * width +
          java.lang.Math.floorMod(hashBytes(bytes, i, seed), width.toLong).toInt
        cells(c) = math.min(U32Max, cells(c) + by)
        i += 1
      }
      this
    }
    def merge(o: CMS): CMS = {
      var i = 0
      while (i < cells.length) { cells(i) = math.min(U32Max, cells(i) + o.cells(i)); i += 1 }
      this
    }
    def estimate(item: String): Long = estimateBytes(utf8(item))

    /** [[estimate]] over pre-encoded UTF-8 bytes (one encode for all depth
      * rows; the codegen probe path).
      */
    def estimateBytes(bytes: Array[Byte]): Long = {
      var best = Long.MaxValue
      var i = 0
      while (i < depth) {
        val c = i * width +
          java.lang.Math.floorMod(hashBytes(bytes, i, seed), width.toLong).toInt
        best = math.min(best, cells(c))
        i += 1
      }
      best
    }
  }

  object CMS {
    def empty(width: Int, depth: Int, seed: Int): CMS =
      CMS(width, depth, seed, new Array[Long](width * depth))
  }

  /** Bloom-presence table (u8 cells, k hash rows into ONE array). estimate =
    * nonzero cell count — the reference's biased-low unique estimate
    * (unique.rs:91-148, counter.rs:95-104).
    */
  final case class Presence(width: Int, hashes: Int, seed: Int, cells: Array[Byte]) {
    def add(item: String): Presence = {
      val bytes = utf8(item)
      var i = 0
      while (i < hashes) {
        val c = java.lang.Math.floorMod(hashBytes(bytes, i, seed), width.toLong).toInt
        if (cells(c) == 0) cells(c) = 1
        i += 1
      }
      this
    }
    def merge(o: Presence): Presence = {
      var i = 0
      while (i < cells.length) { if (o.cells(i) != 0) cells(i) = 1; i += 1 }
      this
    }
    def nonzero: Long = cells.count(_ != 0).toLong
    def contains(item: String): Boolean = {
      val bytes = utf8(item)
      var i = 0
      while (i < hashes) {
        if (cells(java.lang.Math.floorMod(hashBytes(bytes, i, seed), width.toLong).toInt) == 0)
          return false
        i += 1
      }
      true
    }
  }

  object Presence {
    def empty(width: Int, hashes: Int, seed: Int): Presence =
      Presence(width, hashes, seed, new Array[Byte](width))
  }

  class PresenceAggregator(width: Int, hashes: Int, seed: Int)
      extends Aggregator[String, Presence, Presence] {
    override def zero: Presence = Presence.empty(width, hashes, seed)
    override def reduce(b: Presence, a: String): Presence = if (a == null) b else b.add(a)
    override def merge(b1: Presence, b2: Presence): Presence = b1.merge(b2)
    override def finish(r: Presence): Presence = r
    override def bufferEncoder: Encoder[Presence] = Encoders.kryo[Presence]
    override def outputEncoder: Encoder[Presence] = Encoders.kryo[Presence]
  }

  /** Distributed CMS build over a DataFrame string column: each input
    * partition fills ONE local sketch straight from the column's UTF-8
    * bytes on the internal rows (no String decode, one encode per row for
    * all depth hashes), and the partition sketches merge by cell-wise
    * saturating sum through `treeReduce` — no exchange of the column, and
    * O(√partitions) sketches reach the driver. Saturating sums
    * are associative and commutative, so the cells are bit-identical to a
    * sequential build whatever the partitioning. `weight` names a count
    * column for pre-counted (item, count) rows: add(g, n) ≡ n × add(g),
    * so the counted-vocab build's cells equal the per-occurrence build's.
    * Null items (and null weights) add nothing.
    */
  def buildCms(df: DataFrame, column: String, width: Int = 1 << 16, depth: Int = 5,
               seed: Int = 42, weight: Option[String] = None): CMS = {
    val cols = org.apache.spark.sql.functions.col(column) +:
      weight.toSeq.map(w => org.apache.spark.sql.functions.col(w).cast("long"))
    val weighted = weight.isDefined
    val partial = df.select(cols: _*).queryExecution.toRdd.mapPartitions { rows =>
      val cms = CMS.empty(width, depth, seed)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !(weighted && r.isNullAt(1)))
          cms.addBytes(r.getUTF8String(0).getBytes, if (weighted) r.getLong(1) else 1L)
      }
      Iterator.single(cms)
    }
    if (partial.partitions.isEmpty) CMS.empty(width, depth, seed)
    else partial.treeReduce(_.merge(_))
  }

  def buildPresence(df: DataFrame, column: String, width: Int = 1 << 20,
                    hashes: Int = 3, seed: Int = 42): Presence = {
    import df.sparkSession.implicits._
    val agg = new PresenceAggregator(width, hashes, seed)
    df.select(column).as[String].select(agg.toColumn).head()
  }

  /** Production-scale CMS: Spark's builtin codegen'd aggregate. */
  def sparkCms(col: Column, eps: Double = 0.001, confidence: Double = 0.99,
               seed: Int = 42): Column =
    org.apache.spark.sql.functions.count_min_sketch(
      col, org.apache.spark.sql.functions.lit(eps),
      org.apache.spark.sql.functions.lit(confidence),
      org.apache.spark.sql.functions.lit(seed))
}
