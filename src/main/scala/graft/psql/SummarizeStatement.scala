package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DuckDB `SUMMARIZE` statement (the CLI user's first profiling command;
  * reference users type it against staged tables constantly):
  *
  *   - `SUMMARIZE <table>`            — catalog/temp-view name
  *   - `SUMMARIZE '<path>'`           — file scan, like `from '<path>'`
  *   - `SUMMARIZE SELECT …` / `SUMMARIZE FROM … |> …` — any query,
  *     including full PSQL pipelines (the inner text re-enters [[Psql]])
  *
  * Output is DuckDB's exact SUMMARIZE shape, computed Spark-side in one
  * aggregate pass — [[graft.operators.Profile.duckSummarize]] documents
  * the per-column contract (which columns are cross-engine exact and
  * which are estimates in both engines).
  */
object SummarizeStatement {
  private val Ident = "[A-Za-z_][A-Za-z0-9_$.]*".r

  def run(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val rest = stmt.substring("summarize".length).trim
    if (rest.isEmpty) return None
    val df: DataFrame = rest match {
      case Ident() => spark.table(rest)
      case p if p.startsWith("'") => Psql(spark).sql(s"from $p")
      case q => Psql(spark).sql(q)
    }
    Some(graft.operators.Profile.duckSummarize(df))
  }
}
