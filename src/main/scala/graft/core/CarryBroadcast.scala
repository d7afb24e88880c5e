package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Broadcast hint for a per-bucket carry or fix-up frame, guarded by
  * the bucket width (ADVICE r15): such a frame holds at most span/width
  * rows per key, so at or above `MinWidth` it is metadata-scale by
  * construction (a 2^32 span at width 2^16 is ≤ 65k rows) and the hint
  * is safe; below it a user-set tiny width over a large span could
  * force an arbitrarily large broadcast past the auto threshold and
  * OOM the driver, so the hint is dropped and the planner/AQE choose
  * the join from observed sizes. Callers pass only frames whose
  * cardinality the width bounds. */
private[graft] object CarryBroadcast {
  val MinWidth: Long = 1L << 16

  def apply(f: DataFrame, width: Long): DataFrame =
    if (width >= MinWidth) broadcast(f) else f
}
