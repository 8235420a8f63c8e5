package graft

/** The program's own pipeline parameters, which it keeps package-private,
  * so the benchmark's dedup stages run the shape graft's callers run.
  */
object PerfbenchParams {
  def lshBucketCap: Int = graft.queries.PipelineQueries.LshBucketCap
}
