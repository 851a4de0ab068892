package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every [[QuerySuite]]: each suite key becomes a driver
  * correctness check (DuckDB-oracle hash match where an oracle exists,
  * rows-only otherwise).
  */
object SparkEntry {

  private def suites: Seq[QuerySuite] = Seq(
    analytics.RoutingQueries,
    analytics.RelationalQueries,
    analytics.TpchQueries,
    analytics.KmvQueries,
    analytics.WindowQueries,
    analytics.ScalarQueries,
    analytics.ExtendedQueries,
    analytics.ScaleQueries,
    analytics.BehaviorQueries,
    analytics.StatQueries,
    analytics.AsofQueries,
    analytics.GraphQueries,
    analytics.ProfileQueries,
    analytics.InsightQueries,
    llm.DedupQueries,
    llm.TextQueries,
    llm.BpeQueries,
    llm.CurationQueries,
    llm.MiningQueries,
    llm.SimilarityQueries,
    llm.ClusterQueries,
    llm.EntityQueries,
    llm.SampleQueries,
    llm.Multimodal,
    auth.AuthQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The reference's core computation (SURVEY §3.1): the exact
    * delivery set of the client fan-out join. */
  def entry(spark: SparkSession): DataFrame =
    queries("route_client_fanout")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    suites.flatMap(_.queries).toMap

  /** The queries a run selects: SPARK_GRAFT_ONLY is a comma-separated
    * list of name prefixes, and unset selects every query. Bench, Verify
    * and ScalingCurve read it only here. */
  def selected: Map[String, (SparkSession, String) => DataFrame] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    queries.filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    suites.flatMap(_.oracles).toMap

  /** Per-suite query counts (SparkEntrySpec guards the toMap merge
    * against silent name collisions). */
  private[graft] def suiteSizes: Seq[Int] = suites.map(_.queries.size)

  /** Per-suite oracle counts — the same silent-Map-merge guard for the
    * ORACLE map: without it a cross-suite duplicate oracle key would
    * keep only the last entry, pass the orphan check (the name is a
    * valid query), and gate the query against the WRONG SQL. */
  private[graft] def oracleSizes: Seq[Int] = suites.map(_.oracles.size)
}
