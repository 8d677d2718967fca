package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.compact.CompactQuery
import graft.llm.{Dedup, Pipeline, Similarity, Text}
import graft.operators.{Features, Functions, Graph, Maintenance, Relational, Skew, Stats, Streams, Typed, Udx, Windows}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggGroupBy(spark, "/root/testdata/sf0.001")

  /** The one harness session: `local[cpus]` with the shuffle width
    * pinned to the core count, UTC session time, raw nanosecond parquet
    * timestamps, the graft extensions and no UI. Bench, Verify, PlanDump
    * and the test suites build through here, so a plan dumped or tested
    * at a given width is the plan the bench runs at that width. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Windows.queries ++ Functions.queries ++
      Udx.queries ++ Streams.queries ++ Typed.queries ++
      Dedup.queries ++ Text.queries ++ Similarity.queries ++
      CompactQuery.queries ++ Maintenance.queries ++ Skew.queries ++
      Pipeline.queries ++ Graph.queries ++ Features.queries ++
      Stats.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ Windows.oracleSql ++ Functions.oracleSql ++
      Udx.oracleSql ++ Streams.oracleSql ++ Typed.oracleSql ++
      Dedup.oracleSql ++ Text.oracleSql ++ Similarity.oracleSql ++
      CompactQuery.oracleSql ++ Maintenance.oracleSql ++ Skew.oracleSql ++
      Pipeline.oracleSql ++ Graph.oracleSql ++ Features.oracleSql ++
      Stats.oracleSql
}
