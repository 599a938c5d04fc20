package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are contributed by per-domain registries under
  * `graft.queries`; each carries its own DuckDB oracle where the
  * semantics are SQL-expressible (SURVEY §5.2).
  */
object SparkEntry {

  /** Each registry reads only those listed before it (and the shared
    * [[Corpus]], which reads none), the order they initialize in: an
    * object reading a val of one still initializing sees `null`. Bench,
    * Profile and Verify key or sort by name, so order changes nothing. */
  def registries: Seq[Q.Registry] = Seq(
    RelationalQueries, WindowQueries, StatsQueries, IngestQueries, MlQueries,
    SketchQueries, SearchQueries, MultimodalQueries, TextQueries,
    DedupQueries, CorpusStreamQueries, LlmQueries)

  def allQueries: Seq[Q] = requireUniqueNames(registries.flatMap(_.all))

  /** `qs`, failing on any name registered twice: [[queries]] keys a
    * Map by name, which would silently drop all but one. */
  private[graft] def requireUniqueNames(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.all.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleSqlFor(Set.empty)

  /** [[oracleSql]] restricted to `names` (empty = all). The name filter
    * runs BEFORE any `Q.oracle` thunk is forced — several oracles are
    * GENERATED (x10/x15 fit OLS models, x11 fits K-Means, x6 integrates
    * a quadrature grid), so a filtered dump must not pay for oracles it
    * won't emit. */
  def oracleSqlFor(names: Set[String]): Map[String, String] =
    allQueries
      .filter(q => names.isEmpty || names(q.name))
      .flatMap(q => q.oracle.map(q.name -> _)).toMap
}
