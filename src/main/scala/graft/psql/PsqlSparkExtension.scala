package graft.psql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
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

/** Delegating parser: `parsePlan`/`parseQuery` preprocess PSQL (rewrite +
  * quoted-path relation registration); all other entry points (expressions,
  * identifiers, types) can never contain pipe syntax and delegate directly.
  */
class PsqlParser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {

  // engine function shims (version()) — registered on statement parse (a
  // no-op once the session has them), NOT at construction: the parser is
  // built while the SessionState is still being wired up, when touching
  // session.udf would re-enter initialization
  private def ensureEngineFns(): Unit = Psql.registerEngineFunctions(session)

  /** Rewrite pipe queries, bare FROM-first queries, and COPY sinks (all
    * would fail in vanilla Spark, so intercepting them is strictly
    * additive); every other statement — including SQL scripting — passes
    * through untouched.
    */
  private def pre(text: String): String = {
    val t = text.trim
    if (PsqlRewriter.isPsql(text) ||
        (t.nonEmpty && (SqlScanner.matchesWord(t, 0, "from") ||
          PsqlRewriter.isFromFirstWith(t) || PsqlRewriter.isCopy(t))))
      Psql.preprocess(session, text)
    else text
  }

  // AsofSql returns a fully-built DataFrame; hand back its ANALYZED plan —
  // the stage fold registers ephemeral temp views that are dropped once the
  // frame is analyzed, so the raw parsed plan would re-resolve against
  // already-dropped names when the session re-analyzes the parser's output
  /** Parse the rewritten text; if the PSQL rewrite produced something the
    * host parser rejects, retry the ORIGINAL text — Spark 4 has its own
    * native pipe syntax (`\|> AGGREGATE …`, SPARK-49555) whose stages are
    * not PSQL stages, and the fallback keeps them usable through this
    * parser. If both fail, surface the PSQL-path error (reference error
    * parity: the failure points at the offending stage token).
    */
  private def parseWithFallback(sqlText: String, p: String => LogicalPlan): LogicalPlan = {
    val rewritten = pre(sqlText)
    // COLUMNS('re') rewrites to a quoted-regex column, resolved at analysis
    // time — AFTER this parser returns — so the conf can't be scoped here;
    // it is enabled stickily for the session on first use (the library
    // entry point Psql.sql set-and-restores instead)
    if (Psql.usesColumnsExpansion(sqlText))
      session.conf.set("spark.sql.parser.quotedRegexColumnNames", "true")
    try p(rewritten)
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException if rewritten != sqlText =>
        try p(sqlText)
        catch { case _: org.apache.spark.sql.catalyst.parser.ParseException => throw e }
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan = {
    ensureEngineFns()
    AsofSql.tryPipeline(session, sqlText).map(_.queryExecution.analyzed)
      .orElse(Psql.byNamePlan(session, sqlText, s => delegate.parsePlan(s)))
      .getOrElse(parseWithFallback(sqlText, delegate.parsePlan))
  }
  override def parseQuery(sqlText: String): LogicalPlan = {
    ensureEngineFns()
    AsofSql.tryPipeline(session, sqlText).map(_.queryExecution.analyzed)
      .orElse(Psql.byNamePlan(session, sqlText, s => delegate.parseQuery(s)))
      .getOrElse(parseWithFallback(sqlText, delegate.parseQuery))
  }

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] = delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}
