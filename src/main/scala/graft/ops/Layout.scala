package graft.ops

import org.apache.spark.sql.Column

/** Space-filling-curve keys for two-dimensional layouts. */
object Layout {

  /** Hilbert distance of two already-scaled codes in [0, 2^bits) — the
    * native expression [[graft.plans.HilbertCode]]. Out-of-range → NULL.
    * Consecutive distances are always Manhattan-adjacent cells (the curve
    * never jumps, where the Morton interleave teleports across the plane at
    * every power-of-two boundary), so a sort on this key keeps equal code
    * ranges in compact rectangles.
    */
  def hilbertCode(a: Column, b: Column, bits: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.HilbertCode(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a.cast("long")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b.cast("long")),
        bits))
}
