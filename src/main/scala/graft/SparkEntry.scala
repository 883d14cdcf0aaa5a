package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftShim

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are declared as [[Q]] values in graft.ops.* registries; this
  * object just flattens them into the driver's Map shape.
  */
object SparkEntry {

  /** Every implemented operator from SURVEY.md §2 (+extensions). */
  val registry: Seq[Q] =
    ops.Relational.all ++ ops.Extended.all ++ ops.Events.all ++
      ops.TextAnalysis.all ++ ops.Dedup.all ++ ops.Similarity.all ++
      ops.Training.all ++ ops.Intervals.all ++ ops.Curation.all ++
      ops.Snapshot.all ++ ops.Layout.all ++ ops.Fuzzy.all ++ ops.Graph.all ++
      ops.GitQueries.all ++ ops.Sources.all ++ ops.Metrics.all ++
      ops.Subword.all ++ ops.Learn.all ++ ops.Round12.all ++
      ops.Round13.all ++ ops.Round14.all ++ ops.Round15.all ++ ops.Round15b.all ++
      ext.Multimodal.all ++ streaming.StreamGate.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q7StarJoin.fn(spark, "/root/testdata/sf0.001")

  /** Each query builds on the session [[GraftSession.forInput]] picks for
    * its `sfDir` (an interpreted clone of the caller's session for a small
    * input), and the returned frame carries that session into the
    * caller's action. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> { (spark: SparkSession, sfDir: String) =>
        val s = GraftSession.forInput(spark, sfDir)
        GraftShim.withActive(s)(q.fn(s, sfDir))
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
