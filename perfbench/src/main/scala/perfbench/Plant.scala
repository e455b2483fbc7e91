package perfbench

/** Planted wrong outputs (`--plant`): each check is fed an output with one
  * deliberate defect, so a run proves its checks reject bad results. */
object Plant {
  /** Gives the first two sampled keys each other's values. */
  def swap[K: Ordering, V](on: Boolean, m: Map[K, V]): Map[K, V] =
    if (!on || m.size < 2) m
    else {
      val Seq(a, b) = m.keys.toSeq.sorted.take(2)
      m + (a -> m(b)) + (b -> m(a))
    }

  /** Adds one pair the join did not produce. */
  def extraPair[K](on: Boolean, pairs: Seq[(K, Long)]): Seq[(K, Long)] =
    if (!on || pairs.isEmpty) pairs else pairs :+ (pairs.head._1 -> -1L)
}
