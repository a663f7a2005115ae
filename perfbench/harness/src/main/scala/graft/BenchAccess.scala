package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The MinHash candidate side of `LlmOps.minhashVerifiedPairs` with the
  * same banding (16 bands x 8 rows), so the traced run can count how
  * many candidates the exact verify had to check.
  */
object BenchAccess {
  def lshCandidatePairs(s: SparkSession, dir: String): DataFrame =
    queries.LlmOps.lshCandidatePairs(queries.LlmOps.shingledDocs(s, dir), bands = 16, rows = 8)
}
