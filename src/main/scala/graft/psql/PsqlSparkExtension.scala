package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** The true analog of the reference's parser-extension registration
  * (ywelsch/duckdb-psql `src/psql_extension.cpp:17-25`): inject PSQL into
  * the session's SQL parser so pipe syntax works in plain `spark.sql`:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new PsqlSparkExtension)          // or:
  *   .config("spark.sql.extensions", "graft.psql.PsqlSparkExtension")
  *   .getOrCreate()
  * spark.sql("from t |> where x > 1 |> select y, count() as n group by y")
  * }}}
  *
  * Unlike the reference's two-phase plan/bind hook trampoline (needed
  * because DuckDB parser extensions can't re-enter the binder,
  * `psql_extension.cpp:92-125`), a Spark parser wraps the delegate
  * directly: PSQL text is rewritten to canonical SQL and handed to the
  * downstream parser; everything else passes through verbatim — the same
  * pass-through contract (`psql_extension.cpp:76-79`).
  */
class PsqlSparkExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectParser((session, delegate) => new PsqlParser(session, delegate))
}

/** Delegating parser: `parsePlan`/`parseQuery` take the query path shared
  * with [[Psql.sql]] ([[Psql.runQuery]]); all other entry points
  * (expressions, identifiers, types) can never contain pipe syntax and
  * delegate directly.
  *
  * Strictly additive: the parser consults no statement table (it must
  * never run an eager statement) and rewrites only pipe queries, bare
  * FROM-first queries and COPY sinks — all would fail in vanilla Spark.
  * Every other statement, SQL scripting included, reaches the delegate
  * verbatim.
  */
class PsqlParser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {

  private def parse(sqlText: String, p: String => LogicalPlan): LogicalPlan = {
    // engine function shims (version()) — registered on statement parse (a
    // no-op once the session has them), NOT at construction: the parser is
    // built while the SessionState is still being wired up, when touching
    // session.udf would re-enter initialization
    Psql.registerEngineFunctions(session)
    Psql.runQuery(Psql.statement(sqlText), new Psql.Door[LogicalPlan](session) {
      def claims(stmt: Psql.Stmt): Boolean = Psql.rewrites(stmt, Psql.additiveHeads)
      // COLUMNS('re') resolves at analysis time — AFTER this parser
      // returns — so the conf can't be scoped here; it is enabled stickily
      // for the session on first use
      def parse(sql: String, columns: Boolean): LogicalPlan = {
        if (columns) session.conf.set(Psql.RegexColumnsConf, "true")
        p(sql)
      }
      def sidePlan(sql: String): LogicalPlan = p(sql)
      def fromPlan(plan: LogicalPlan): LogicalPlan = plan
      // the ASOF fold registers ephemeral temp views that are dropped once
      // the frame is analyzed, so hand back the ANALYZED plan: the raw
      // parsed plan would re-resolve against already-dropped names
      def fromFrame(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
    })
  }

  override def parsePlan(sqlText: String): LogicalPlan = parse(sqlText, delegate.parsePlan)
  override def parseQuery(sqlText: String): LogicalPlan = parse(sqlText, delegate.parseQuery)

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] = delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}
