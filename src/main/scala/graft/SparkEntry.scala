package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{AnalyticsQueries, BreadthQueries, CoreQueries, CorpusQueries, DagQueries, Q, ServiceQueries, Shared, StatsQueries, StreamingTwinQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered queries (each maps to an operator family in SURVEY §2). */
  def registered: Seq[Q] =
    CoreQueries.all ++ CorpusQueries.all ++ ServiceQueries.all ++
      AnalyticsQueries.all ++ DagQueries.all ++ BreadthQueries.all ++
      StatsQueries.all ++ StreamingTwinQueries.all

  /** The memoized families registered queries read (`Q.shares`), in fill
    * order: the heavier vault cache first.
    */
  def shared: Seq[Shared] = Seq(DagQueries.vault, CorpusQueries.groups)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registered.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registered.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap

  /** Scale-gate policy, read from the registry (see [[graft.queries.Q]]):
    * name -> (max replication factor the query is value-gated at, reason).
    * Queries absent here gate at every factor. The replicated-corpus gate
    * tooling (Verify + tools/check_timed.py) consumes this instead of
    * carrying skip lists in invocation notes.
    */
  def scalePolicy: Map[String, (Int, String)] =
    registered.flatMap(q => q.gate.map(g => q.name -> (g.maxFactor, g.reason))).toMap

  /** Replication factor of the corpus a main runs on
    * (`SPARK_GRAFT_GATE_FACTOR`, default 1 = the unreplicated testdata).
    */
  def gateFactor: Int = graft.core.Graft.envPositiveInt("SPARK_GRAFT_GATE_FACTOR", 1)

  /** The queries the scale policy skips at replication `factor`: name ->
    * the highest factor it is value-gated at. Empty at factor 1.
    */
  def policySkips(factor: Int): Map[String, Int] =
    scalePolicy.collect { case (name, (max, _)) if max < factor => name -> max }
}
