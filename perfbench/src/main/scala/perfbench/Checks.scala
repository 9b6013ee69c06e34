package perfbench

/** Pure output checks, kept apart from the workloads so the self-test
  * can feed each one a corrupted result.
  */
object Checks {
  /** Same ids in the same order with the same 4-dp scores. */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((a, x), (b, y)) =>
      a == b && math.abs(x - y) < 5e-5
    }

  /** Same counts under the same keys. */
  def sameCounts(got: Map[String, Long], want: Map[String, Long]): Boolean = got == want

  /** The rows returned carry exactly the requested keys, once each. */
  def sameKeys(got: Seq[Long], want: Seq[Long]): Boolean =
    got.sorted == want.distinct.sorted

  /** Acknowledged writes (key -> value) a fresh read lost or changed. */
  def lostWrites(acked: Map[Long, Double], read: Map[Long, Double]): Int =
    acked.count { case (k, v) => !read.get(k).contains(v) }

  /** Share of the exact pair set the approximate pass found. */
  def recall(found: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
    if (exact.isEmpty) 1.0 else exact.count(found.contains).toDouble / exact.size
}
