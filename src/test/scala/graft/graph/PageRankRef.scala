package graft.graph

/** The driver-side form of [[PageRank]]'s in-plan scale rule, that the
  * specs derive expected ranks from. */
object PageRankRef {

  /** Largest power of 10 with n * scale * 85 <= Long.MaxValue — the
    * finest rank granularity that provably cannot overflow the damping
    * multiply. Any SQL engine mirrors it as
    * `max(10^k) where 10^k <= (2^63-1) // 85 // n`, as [[PageRank]] does in-plan. */
  def autoScale(n: Long): Long = {
    require(n > 0, s"autoScale needs a non-empty node set, got n=$n")
    val cap = Long.MaxValue / 85L / n
    require(cap >= 1L, s"node count $n too large for integer PageRank (scale < 1)")
    var s = 1L
    while (s <= cap / 10L) s *= 10L
    s
  }
}
