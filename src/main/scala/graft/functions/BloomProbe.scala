package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Probe-side companion of [[BloomBits]]: rebuilds the aggregator's
  * Kirsch–Mitzenmacher bit positions inside the native
  * [[BloomMightContain]] expression (the bitset is a constructor field,
  * not an array literal), so a Bloom probe stays entirely inside
  * whole-stage codegen — no UDF on the hot path. Factored out of the
  * inline form [[graft.queries.LlmDedup.bloomDedup]] pioneered so join
  * prefilters and specs share one definition. */
object BloomProbe {

  /** Unsigned 32-bit halves (a, b) of xxhash64 over the key column(s) —
    * the (Long, Long) input contract of [[BloomBits]]. */
  def halves(key: Column*): (Column, Column) =
    (shiftrightunsigned(xxhash64(key: _*), 32),
      xxhash64(key: _*).bitwiseAND(lit(0xffffffffL)))

  /** True iff all K probed bits are set in `bits` (a driver-collected
    * [[BloomBits]] bitset of [[BloomBits.Bits]]/64 words): "maybe
    * present". False is DEFINITE absence — the no-false-negative
    * direction a prefilter relies on. Backed by the native
    * [[BloomMightContain]] expression (bitset as a constructor field —
    * see its Scaladoc for why not a 512 KiB array literal). */
  def might(bits: Seq[Long], a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.PlanShim
    PlanShim.column(BloomMightContain(bits.toArray,
      PlanShim.expression(a), PlanShim.expression(b)))
  }
}
