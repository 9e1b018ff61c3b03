package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Fixed-size Bloom filter over pre-hashed 64-bit values — the per-file
  * MEMBERSHIP sketch of a snapshot-table manifest (the point-lookup
  * sibling of the min/max range stats; Iceberg/Delta keep the same
  * structure per data file for `col = v` / `col IN (...)` skipping).
  *
  * Positions derive from one xxhash64 value by Kirsch–Mitzenmacher
  * double hashing (h1 + i·h2 mod m, h2 forced odd) — k index functions
  * from a single 64-bit hash, the standard construction. The bitmap is
  * an `Array[Long]` of ⌈numBits/64⌉ words, so aggregation memory is
  * BOUNDED by the sketch size per group whatever the file's
  * cardinality (unlike a collect_set dictionary, which grows with
  * distinct count until it is capped).
  *
  * Sizing: false-positive rate ≈ (1 − e^(−k·d/m))^k for d distinct
  * values in m bits; the classic rule is ~9.6 bits per distinct value
  * for 1 % FPR at k=4..7. The manifest stores (bits, hashes) next to
  * each sketch, so readers never have to know the build configuration.
  *
  * The MEMBERSHIP TEST itself is `SnapshotManifests.bloomHitMem`, run
  * over typed manifest rows on the driver or in a Spark job, not this
  * class: false positives only KEEP extra files, and the caller's
  * row-level predicate still applies, so sketch pruning can never
  * change answers.
  */
object BloomSketch {
  def words(numBits: Int): Int = (numBits + 63) >>> 6

  /** The k bit positions of a hashed value. */
  def positions(hash: Long, numBits: Int, numHashes: Int): Array[Int] = {
    val h1 = hash & 0xffffffffL
    val h2 = (hash >>> 32) | 1L // odd ⇒ all residues reachable
    Array.tabulate(numHashes) { i =>
      java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
    }
  }

  /** Driver-side membership probe (spec/audit convenience; the pruning
    * path tests bits with column expressions instead). */
  def mightContain(bitmap: Array[Long], hash: Long, numBits: Int, numHashes: Int): Boolean =
    positions(hash, numBits, numHashes).forall(p => (bitmap(p >>> 6) >>> (p & 63) & 1L) == 1L)
}

/** Build aggregator: xxhash64 longs in, one bitmap out. Merge is a
  * word-wise OR — associative and commutative, so partial aggregation
  * (map-side combine) applies and the result is independent of row
  * order and partitioning. */
class BloomSketchAggregator(numBits: Int, numHashes: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {
  require(numBits >= 64, "numBits must be at least 64")
  require(numHashes >= 1, "need at least one hash")

  override def zero: Array[Long] = new Array[Long](BloomSketch.words(numBits))

  override def reduce(buf: Array[Long], hash: Long): Array[Long] = {
    val ps = BloomSketch.positions(hash, numBits, numHashes)
    var i = 0
    while (i < ps.length) { buf(ps(i) >>> 6) |= 1L << (ps(i) & 63); i += 1 }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
}
