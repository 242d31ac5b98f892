package graft

/** Read-only access for the benchmark harness to the engine's
  * package-private build counters. */
object PerfbenchProbe {
  def ivfBuilds: Int = ops.Vectors.ivfBuildCount
  def bandIndexBuilds: Int = ops.Dedup.bandIndexBuildCount
}
