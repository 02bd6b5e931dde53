package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares against. `oracle = None` → driver records a weaker
  * rows-only check (reserved for ops whose defining computation is not
  * portable SQL, e.g. stateful streaming).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

/** Central inventory — SURVEY.md §2 surface + §7.6 pipeline extensions. */
object Registry {
  def all: Seq[QueryDef] = {
    val defs = RelationalQueries.defs ++ EventQueries.defs ++ TextQueries.defs ++
      VectorQueries.defs ++ MultimodalQueries.defs ++ CurationQueries.defs
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names would silently drop entries: ${dups.mkString(", ")}")
    defs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Run `df` to its full output without collecting it. A `noop` write
    * computes every column the oracle checks; `count()` lets Catalyst
    * prune output-only expressions, so it times less than the query.
    */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The sorted names a comma-separated list picks: each item is a short
    * qNN prefix (`q1` is `q1_pricing_summary`, never `q10_…`) or a full
    * name. A list that picks nothing fails.
    */
  def select(csv: String): Seq[String] = {
    val only = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val names = all.map(_.name).sorted
      .filter(n => only.contains(n.takeWhile(_ != '_')) || only.contains(n))
    require(names.nonEmpty, s"no queries matched: $csv")
    names
  }
}
