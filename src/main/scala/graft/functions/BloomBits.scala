package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bloom-filter bitset over 64-bit key halves as a typed [[Aggregator]]
  * — the membership-sketch sibling of [[CmsSketch]] (counts) in the
  * custom-aggregate tier.
  *
  * Bloom 1970: an m-bit array; each key sets K positions derived from
  * its hash; a probe reads the same K positions. All K set → "maybe
  * present" (false positives possible, rate ≈ (1 − e^(−Kn/m))^K);
  * any bit clear → DEFINITELY absent. The no-false-negative direction
  * is the load-bearing one: a dedup prefilter may only ever let a
  * non-duplicate through to the exact check, never drop a duplicate.
  *
  * Position derivation is Kirsch–Mitzenmacher double hashing
  * (idx_i = (a + i·b) mod m) over the two 32-bit halves `(a, b)` of
  * `xxhash64(key)` — one codegen'd non-cryptographic hash per key
  * (`a = h >>> 32`, `b = h & 0xffffffff`), so the probe side can
  * rebuild every index in the native [[BloomMightContain]] expression
  * (no UDF on the probe path, stays in codegen).
  * `a, b < 2^32` and `i < K`, so `a + i·b < 2^35` — no overflow.
  *
  * Why a Bloom aggregate at 100 TB: the buffer is a CONSTANT m/64
  * longs (512 KiB at the default m = 2^22) however large the corpus,
  * partial aggregation merges map-side, and `merge` is an elementwise
  * bitwise OR — associative, commutative AND idempotent, so the fold
  * is order-independent across any partitioning (even stronger than
  * CMS's integer sums: re-inserting a key is a no-op). One build pass
  * compresses the corpus's membership set to ~`m/n` bits per key —
  * an order of magnitude smaller than broadcasting the 64-bit (let
  * alone 128-bit) hash set itself. Sizing at scale: m should track
  * the corpus key count (m ≈ 14.4·n for ~0.1% fp); beyond what one
  * broadcast comfortably ships, the same aggregator banks by hash
  * range (`a mod B` filters of m bits each — each bank still a
  * constant-size partial-agg), which changes nothing here but the
  * grouping key.
  */
object BloomBits extends Aggregator[(Long, Long), Array[Long], Array[Long]] {

  /** Filter width in bits (2^22 = 4,194,304 → 65536 longs = 512 KiB).
    * Sized for the bench corpus (~215k distinct 5-grams at sf0.1 →
    * ~20 bits/key; with K=5, fp ≈ (1−e^(−Kn/m))^K ≈ 0.06%). The first
    * cut (2^17) SATURATED at that n — 99.97% of bits set, every probe
    * "maybe" — a reminder that a Bloom must be sized to n or it
    * silently degrades to a pass-through. */
  val Bits = 1 << 22

  /** Hash-function count: fewer than the fp-optimal (m/n)·ln2 ≈ 14 —
    * at 20 bits/key, K=5 already reaches ≈0.06% fp while keeping the
    * probe side at 5 codegen'd array reads per gram. */
  val K = 5

  private val Words = Bits / 64

  def zero: Array[Long] = new Array[Long](Words)

  def reduce(buf: Array[Long], key: (Long, Long)): Array[Long] = {
    val (a, b) = key
    var i = 0
    while (i < K) {
      val idx = ((a + i.toLong * b) % Bits).toInt
      buf(idx >>> 6) |= 1L << (idx & 63)
      i += 1
    }
    buf
  }

  def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < x.length) { x(i) |= y(i); i += 1 }
    x
  }

  def finish(buf: Array[Long]): Array[Long] = buf

  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
