package graft

/** Package-private program state the benchmark reads, with its type. */
object BenchAccess {
  /** Rounds the last `Dedup.connectedComponents` call took to converge. */
  def ccRounds: Int = ml.Dedup.lastConvergedRounds
}
