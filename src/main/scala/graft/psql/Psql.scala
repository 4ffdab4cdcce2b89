package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** User-facing entry point: `Psql(spark).sql(psqlQuery)`.
  *
  * Mirrors the reference's API of "submit PSQL text wherever SQL is
  * accepted" (ywelsch/duckdb-psql `src/psql_extension.cpp:51-90`): input with
  * pipe tokens is rewritten; anything else passes through to `spark.sql`
  * verbatim (pass-through contract, `src/psql_extension.cpp:76-79`), except
  * bare FROM-first queries which are normalized so DuckDB-style `from t`
  * works too.
  *
  * File-path relations (`from 'data.csv'`, reference `README.md:8`) are
  * resolved by registering a temp view per distinct path; format is chosen by
  * extension (csv / parquet / json), with CSV using header + schema
  * inference like DuckDB's sniffer. Remote http(s) URLs are fetched to a
  * local temp file once per session (the reference delegates this to
  * DuckDB's httpfs extension).
  */
class Psql(val spark: SparkSession) {

  private lazy val engineFns: Unit = Psql.registerEngineFunctions(spark)

  def sql(query: String): DataFrame = {
    engineFns
    // DuckDB session state binds at bind time: getvariable('x') and
    // nextval/currval inline to the value's literal (constant per statement
    // — bind-time inlining IS the semantics; FROM-queries throw: per-row
    // sequence state does not distribute).
    // fts_main_<t>.match_bm25(id, 'q') → correlated scalar subquery over
    // the persisted FTS index (cheap containment pre-check inside). The
    // scores views registered by the rewrite are statement-scoped: every
    // handler analyzes eagerly (temp-view plans inline at analysis), so the
    // finally-drop never invalidates a returned DataFrame.
    val ftsViews = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = FtsIndex.rewriteMatchBm25(spark, Psql.inlineSessionState(spark, query), ftsViews)
    try Psql.dispatch(spark, Psql.statement(q))
    finally ftsViews.foreach(spark.catalog.dropTempView(_))
  }

  /** Execute a multi-statement SCRIPT: statements split on top-level `;`
    * (string-literal/comment-safe — the same scan [[Psql.sql]]'s
    * multi-statement guard uses), run in order, the LAST statement's
    * DataFrame returned. This is the entry point for DuckDB's own script
    * artifacts — an EXPORT DATABASE `schema.sql` + `load.sql` pair runs
    * verbatim. A failing statement reports its 1-based index and leading
    * text, wrapping the original error (state from the preceding
    * statements persists, exactly like feeding a script to any SQL shell).
    */
  def runScript(script: String): DataFrame = {
    val stmts = Psql.splitStatements(script)
    require(stmts.nonEmpty, "runScript: no statements in input")
    var last: DataFrame = spark.emptyDataFrame
    stmts.zipWithIndex.foreach { case (s, ix) =>
      try last = sql(s)
      catch {
        case e: Throwable =>
          val head = s.linesIterator.find(_.trim.nonEmpty).getOrElse("").trim
          throw new IllegalArgumentException(
            s"runScript: statement ${ix + 1} of ${stmts.length} failed " +
              s"(${head.take(80)}${if (head.length > 80) "…" else ""}): " +
              s"${e.getMessage}", e)
      }
    }
    last
  }

  /** The pure string rewrite (no execution) — exposed for tests/EXPLAIN. */
  def rewriteOnly(query: String): String = Psql.rewriteOnly(query)
}

object Psql {
  def apply(spark: SparkSession): Psql = new Psql(spark)

  /** Engine version string surfaced by `version()` — the reference's README
    * pipeline selects `version()` and gets the engine's own version back
    * (`/root/reference/README.md:31,41-50`), so the PSQL entry points shadow
    * Spark's builtin with this string for the session.
    */
  val versionString: String = s"graft 0.4.0 (Apache Spark ${org.apache.spark.SPARK_VERSION})"

  /** Session-scoped function shims. `spark.udf.register` replaces the
    * session registry's entry for the name, shadowing the builtin.
    *
    * `xor(a, b)` — DuckDB's integer XOR function (its `^` OPERATOR is
    * power, which the rewriter translates accordingly, so this function is
    * the only XOR spelling shared by both engines). Registered as a native
    * codegen [[org.apache.spark.sql.catalyst.expressions.BitwiseXor]]
    * builder, not a UDF: null-safe, type-promoting, whole-stage fused.
    */
  private[psql] def registerEngineFunctions(spark: SparkSession): Unit = {
    // once per session: the LAST shim registered marks a complete set, so
    // every later Psql(spark) on the session registers nothing (each
    // re-registration logged a replaced-function WARN per shim). A cloned
    // session inherits the registry and skips; newSession() starts from
    // the builtins and registers.
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier("graft_try_cast")))
        registerAll(spark)
    }
  }

  private def registerAll(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    def reg(name: String, arity: Int, build: Seq[Expression] => Expression): Unit =
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.psql.Psql", name),
        (children: Seq[Expression]) => {
          require(children.length == arity,
            s"$name takes exactly $arity arguments, got ${children.length}")
          build(children)
        })
    spark.udf.register("version", () => versionString)
    reg("xor", 2, c =>
      org.apache.spark.sql.catalyst.expressions.BitwiseXor(c(0), c(1)))
    // bracket-subscript dispatch targets (rewriteBrackets emissions); open
    // slice ends are encoded in the function NAME — a null-literal marker
    // would collide with constant-folded genuinely-null bounds
    reg("graft_at", 2, c => graft.functions.GraftSubscript(c(0), c(1)))
    reg("graft_slice", 3, c =>
      graft.functions.GraftSlice(c(0), Some(c(1)), Some(c(2))))
    reg("graft_slice_from", 2, c =>
      graft.functions.GraftSlice(c(0), Some(c(1)), None))
    reg("graft_slice_to", 2, c =>
      graft.functions.GraftSlice(c(0), None, Some(c(1))))
    reg("graft_len", 1, c => graft.functions.GraftLen(c(0)))
    // DuckDB fts `stem(input, 'stemmer')` — pure-Scala porter/porter2, so
    // unlike the binary extension it is ALWAYS available here
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("stem"),
      new ExpressionInfo("graft.psql.Psql", "stem"),
      (children: Seq[Expression]) => children match {
        case Seq(e, org.apache.spark.sql.catalyst.expressions.Literal(
            s: org.apache.spark.unsafe.types.UTF8String, _)) =>
          graft.functions.FtsStemExpr(e, s.toString.toLowerCase(java.util.Locale.ROOT))
        case other => throw new IllegalArgumentException(
          "stem takes (expr, 'stemmer literal') — 'none', 'porter' or 'english'")
      })
    reg("graft_regexp_replace_first", 3, c =>
      graft.functions.GraftRegexpReplace(c(0), c(1), c(2), global = false))
    reg("graft_regexp_replace_all", 3, c =>
      graft.functions.GraftRegexpReplace(c(0), c(1), c(2), global = true))
    // DuckDB list_prepend(value, list) vs Spark array_prepend(list, value)
    // — registered with the arguments SWAPPED (an alias can't reorder)
    reg("list_prepend", 2, c =>
      org.apache.spark.sql.catalyst.expressions.ArrayPrepend(c(1), c(0)))
    // generate_series: DuckDB inclusive series with empty-on-direction-
    // mismatch (Spark sequence throws there); 2-arg defaults step 1
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_series"),
      new ExpressionInfo("graft.psql.Psql", "graft_series"),
      (children: Seq[Expression]) => children match {
        case Seq(b)       => graft.functions.GraftSeries(
          org.apache.spark.sql.catalyst.expressions.Literal(0L), b,
          org.apache.spark.sql.catalyst.expressions.Literal(1L))
        case Seq(a, b)    => graft.functions.GraftSeries(a, b,
          org.apache.spark.sql.catalyst.expressions.Literal(1L))
        case Seq(a, b, s) => graft.functions.GraftSeries(a, b, s)
        case other => throw new IllegalArgumentException(
          s"generate_series takes 1 to 3 arguments, got ${other.length}")
      })
    // DuckDB `range(a, b[, s])` — generate_series with an EXCLUSIVE stop
    // (range(5) = [0,1,2,3,4]); same NULL/direction-mismatch edges. The
    // scalar name routes here via functionAliases ("range" → "graft_range"
    // only when followed by '('), the table form via rewriteSeriesFns —
    // Spark's own range() is table-valued only, so nothing is shadowed.
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_range"),
      new ExpressionInfo("graft.psql.Psql", "graft_range"),
      (children: Seq[Expression]) => children match {
        case Seq(b)       => graft.functions.GraftSeries(
          org.apache.spark.sql.catalyst.expressions.Literal(0L), b,
          org.apache.spark.sql.catalyst.expressions.Literal(1L), exclusive = true)
        case Seq(a, b)    => graft.functions.GraftSeries(a, b,
          org.apache.spark.sql.catalyst.expressions.Literal(1L), exclusive = true)
        case Seq(a, b, s) => graft.functions.GraftSeries(a, b, s, exclusive = true)
        case other => throw new IllegalArgumentException(
          s"range takes 1 to 3 arguments, got ${other.length}")
      })
    // DuckDB-semantics CAST/TRY_CAST to integer/boolean targets (the
    // rewriter routes those target types here): double→int rounds
    // half-even where Spark truncates, decimal→int rounds half-away,
    // string→int takes DuckDB's grammar (hex/binary/underscores/decimal-
    // string rounding) where Spark NULLs — functions.GraftCast probes
    // documented at the expression. Target type rides in a string literal
    // (one registration instead of ten).
    def regCast(name: String, tryMode: Boolean): Unit =
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.psql.Psql", name),
        (children: Seq[Expression]) => children match {
          case Seq(e, org.apache.spark.sql.catalyst.expressions.Literal(
              t: org.apache.spark.unsafe.types.UTF8String, _)) =>
            graft.functions.GraftCast(e, t.toString, tryMode)
          case other => throw new IllegalArgumentException(
            s"$name takes (expr, 'type literal'), got ${other.length} args")
        })
    regCast("graft_cast", tryMode = false)
    regCast("graft_try_cast", tryMode = true) // last: the per-session marker
  }

  /** Macro bodies may carry getvariable()/nextval() calls that must bind
    * at CALL time — re-apply BOTH inliners to macro-expanded text (r14
    * advice: only variables were re-inlined, so nextval in a macro body
    * hit Spark's unresolved-function error despite the scaladoc promise
    * that macro bodies "re-enter Psql.sql where the inlining then runs").
    */
  private[psql] def inlineSessionState(spark: SparkSession, stmt: String): String =
    SessionVariables.inline(spark, SequenceStatements.inline(spark, stmt))

  /** A statement as the dispatcher sees it. `head` is its first code
    * keyword, lower-cased, found past any leading whitespace and comments
    * ("" when the statement opens with a non-word token such as `(`);
    * `text` runs from that keyword on, trimmed, one trailing `;` removed;
    * `raw` is the input as given.
    */
  private[psql] final case class Stmt(head: String, text: String, raw: String)

  private[psql] def statement(query: String): Stmt = {
    val i = SqlScanner.nextCode(query, SqlScanner.scan(query), 0)
    if (i < 0) return Stmt("", "", query)
    var e = i
    while (e < query.length && SqlScanner.isWordChar(query.charAt(e))) e += 1
    Stmt(query.substring(i, e).toLowerCase(java.util.Locale.ROOT),
      PsqlRewriter.stripTrailingSemicolon(query.substring(i)), query)
  }

  /** A statement handler: receives [[Stmt.text]]; None declines. */
  private type Handler = (SparkSession, String) => Option[DataFrame]

  private def always(f: (SparkSession, String) => DataFrame): Handler = (s, t) => Some(f(s, t))

  /** The statement table: head keyword → handlers, tried in order, the
    * first Some wins. A head with no entry, or whose handlers all decline,
    * takes the query path ([[runQuery]]). A new statement form is one entry.
    *
    * Only the library door ([[Psql.sql]]) consults the table. The injected
    * parser ([[PsqlParser]]) stays strictly additive: it must never run an
    * eager statement (Spark parses view text and its own generated SQL
    * through it), so it goes straight to the query path and rewrites only
    * text vanilla Spark cannot parse (see [[additiveHeads]]).
    */
  private val handlers: Map[String, Seq[Handler]] = {
    def on(heads: String*)(hs: Handler*) = heads.map(_ -> hs)
    Seq(
      // session registries first, then the DDL forms Spark lacks (column
      // constraints, indexes, enum types, CREATE OR REPLACE TABLE … AS)
      on("create")(SequenceStatements.create, Macros.create, TableConstraints.create,
        TableConstraints.createIndexStmt, TableConstraints.createType,
        DmlStatements.createOrReplace),
      on("drop")(SequenceStatements.drop, Macros.drop, TableConstraints.dropIndexStmt,
        TableConstraints.dropType),
      on("explain")(always(explain)),
      // DuckDB's statement output shapes
      on("summarize")(SummarizeStatement.run),
      on("describe")(DescribeStatement.run(_, _, "describe")),
      on("desc")(DescribeStatement.run(_, _, "desc")),
      // statement-level PIVOT/UNPIVOT (dynamic value discovery)
      on("pivot")(always(PivotStatement.pivot)),
      on("unpivot")(always(PivotStatement.unpivot)),
      // DML Spark's parquet tables refuse: copy-on-write lowerings
      on("with")(DmlStatements.withDml),
      on("delete")(always(DmlStatements.delete)),
      on("update")(always(DmlStatements.update)),
      on("truncate")(always(DmlStatements.truncate)),
      on("alter")(DmlStatements.alter),
      on("insert")(DmlStatements.insert),
      on("copy")(DmlStatements.copyGuard),
      on("merge")(always(MergeStatement.merge)),
      // DuckDB options: Spark's own SET would accept any name silently
      on("set")(SessionOptions.set),
      on("reset")(SessionOptions.reset),
      on("pragma")(SessionOptions.pragma),
      on("analyze")(MaintenanceStatements.analyze),
      on("vacuum")(always(MaintenanceStatements.vacuum)),
      on("checkpoint")(always(MaintenanceStatements.checkpoint)),
      on("force")(MaintenanceStatements.force),
      on("comment")(always(MaintenanceStatements.comment)),
      on("install")(always(MaintenanceStatements.installLoad(_, _, "install"))),
      on("load")(always(MaintenanceStatements.installLoad(_, _, "load"))),
      on("begin", "commit", "rollback", "abort")(MaintenanceStatements.transaction),
      on("attach")(always(AttachStatement.attach)),
      on("detach")(always(AttachStatement.detach)),
      on("export")(always(ExportStatement.export)),
      on("import")(always(ExportStatement.importDb)),
      on("prepare")(always(PreparedStatements.prepare)),
      on("execute")(always(PreparedStatements.execute)),
      on("deallocate")(always(PreparedStatements.deallocate))
    ).flatten.toMap
  }

  /** The first handler result for the statement's head, if any accepts. */
  private[psql] def handle(spark: SparkSession, stmt: Stmt): Option[DataFrame] =
    handlers.getOrElse(stmt.head, Nil).iterator
      .map(_(spark, stmt.text)).collectFirst { case Some(df) => df }

  private[psql] def dispatch(spark: SparkSession, stmt: Stmt): DataFrame =
    handle(spark, stmt).getOrElse(runQuery(stmt, new LibraryDoor(spark, "")))

  /** `EXPLAIN [modifier] <pipeline>` — the rewriter would otherwise fold
    * the keyword into the head relation (`FROM ( explain from t )`).
    * Strip the prefix, rewrite the pipeline, re-prepend: Spark's EXPLAIN
    * accepts the rewritten SELECT directly. DuckDB's ANALYZE modifier has
    * no Spark equivalent → mapped to EXTENDED (documented divergence:
    * Spark never interleaves runtime metrics into EXPLAIN output). Runs
    * through the same rewrite and fallback as the execute path, so
    * native-pipe stages (AGGREGATE/EXTEND/SET/DROP) and COLUMNS('re')
    * queries explain exactly like they execute.
    */
  private def explain(spark: SparkSession, stmt: String): DataFrame = {
    var rest = stmt.substring("explain".length).trim
    val modifiers = Seq("extended", "formatted", "codegen", "cost", "analyze")
    val mod = modifiers.find(m => SqlScanner.matchesWord(rest, 0, m))
    mod.foreach(m => rest = rest.substring(m.length).trim)
    val sparkMod = mod match {
      case Some("analyze") => "EXTENDED "
      case Some(m)         => m.toUpperCase(java.util.Locale.ROOT) + " "
      case None            => ""
    }
    rewriteAndParse(statement(rest), new LibraryDoor(spark, s"EXPLAIN $sparkMod"))
  }

  /** What a front door supplies to the query path: its result type `R`
    * (a DataFrame on the library path, a LogicalPlan in the parser) and
    * how to produce it.
    */
  private[psql] abstract class Door[R](val spark: SparkSession) {
    /** Whether the door rewrites the statement; an unclaimed statement is
      * parsed verbatim.
      */
    def claims(stmt: Stmt): Boolean
    /** Parse (or run) SQL text; `columns` when it carries a rewritten
      * COLUMNS('re'), which resolves only under [[RegexColumnsConf]].
      */
    def parse(sql: String, columns: Boolean): R
    /** The plan of one side of a by-name union. */
    def sidePlan(sql: String): LogicalPlan
    def fromPlan(plan: LogicalPlan): R
    def fromFrame(df: DataFrame): R
  }

  private[psql] val RegexColumnsConf = "spark.sql.parser.quotedRegexColumnNames"

  /** The library door: every statement is preprocessed; `prefix` (an
    * EXPLAIN clause) is prepended to the text it runs. The COLUMNS conf is
    * set and restored around the (eager) analysis.
    */
  private final class LibraryDoor(spark: SparkSession, prefix: String)
      extends Door[DataFrame](spark) {
    def claims(stmt: Stmt): Boolean = true
    def parse(sql: String, columns: Boolean): DataFrame =
      if (!columns) spark.sql(prefix + sql)
      else {
        val prev = spark.conf.getOption(RegexColumnsConf)
        spark.conf.set(RegexColumnsConf, "true")
        try spark.sql(prefix + sql)
        finally prev match {
          case Some(v) => spark.conf.set(RegexColumnsConf, v)
          case None    => spark.conf.unset(RegexColumnsConf)
        }
      }
    def sidePlan(sql: String): LogicalPlan = spark.sql(sql).queryExecution.logical
    def fromPlan(plan: LogicalPlan): DataFrame =
      org.apache.spark.sql.graftbridge.ColumnBridge.dataFrame(spark, plan)
    def fromFrame(df: DataFrame): DataFrame = df
  }

  /** The query path both doors share. DuckDB `ASOF JOIN` / `POSITIONAL
    * JOIN` stages run through their operator plans (no Spark grammar, and
    * they need schemas, so no string rewrite); a top-level `UNION [ALL] BY
    * NAME` lifts into a Catalyst byName Union; everything else is
    * rewritten and parsed.
    */
  private[psql] def runQuery[R](stmt: Stmt, door: Door[R]): R =
    AsofSql.tryPipeline(door.spark, stmt.text).map(door.fromFrame)
      .orElse(byNamePlan(door.spark, stmt.text, door.sidePlan).map(door.fromPlan))
      .getOrElse(rewriteAndParse(stmt, door))

  /** Parse the rewritten text, falling back to the unrewritten text on a
    * ParseException (Spark 4's NATIVE pipe stages — `|> AGGREGATE …`,
    * SPARK-49555 — are not PSQL stages, so the rewrite produces
    * unparseable SQL and the original must run natively); surfaces the
    * PSQL-path error if both fail (reference error parity: the failure
    * points at the offending stage token).
    */
  private def rewriteAndParse[R](stmt: Stmt, door: Door[R]): R = {
    if (!door.claims(stmt)) return door.parse(stmt.raw, columns = false)
    // Expand macros + inline session state ONCE, then derive both the
    // rewritten text and the fallback from it: nextval dispensing is
    // STATEFUL, so inlining separately per branch would advance the
    // sequence twice per statement
    val expanded = expand(door.spark, stmt.text)
    val rewritten = rewriteExpanded(door.spark,
      if (expanded eq stmt.text) stmt else statement(expanded))
    val columns = usesColumnsExpansion(expanded)
    try door.parse(rewritten, columns)
    catch {
      case e: org.apache.spark.sql.catalyst.parser.ParseException if rewritten != expanded =>
        try door.parse(expanded, columns)
        catch { case _: org.apache.spark.sql.catalyst.parser.ParseException => throw e }
    }
  }

  /** Macro expansion, session-state inlining (macro bodies may carry
    * getvariable/nextval calls that bind at CALL time) and DuckDB's
    * enum ORDER BY (declaration order; idempotent — a rewritten item is
    * no longer a bare reference). Returns `q` itself when nothing applies.
    */
  private def expand(spark: SparkSession, q: String): String =
    TableConstraints.enumOrderRewrite(spark, inlineSessionState(spark, Macros.expand(spark, q)))

  /** Full front-end preprocessing: expansion → multi-statement guard →
    * pipe/block rewrite → quoted-path relation registration.
    */
  private[psql] def preprocess(spark: SparkSession, query: String): String =
    rewriteExpanded(spark, statement(expand(spark, query)))

  private def rewriteExpanded(spark: SparkSession, stmt: Stmt): String = {
    rejectMultiStatement(stmt.text)
    val (finalSql, paths) = PathRelations.extractPaths(rewrite(stmt))
    paths.foreach { case (view, path) => PathRelations.register(spark, view, path) }
    finalSql
  }

  /** True when the raw text contains a `COLUMNS(` call (the DuckDB regex
    * star-expansion), meaning the shimmed output needs
    * [[RegexColumnsConf]] during analysis. String-literal false positives
    * only ever over-enable the conf for the one statement, which is
    * harmless for text without backquoted identifiers.
    */
  private[psql] def usesColumnsExpansion(query: String): Boolean = {
    val sc = SqlScanner.scan(query)
    var i = 0
    while (i < query.length) {
      if (sc.code(i) && SqlScanner.matchesWord(query, i, "columns") && {
          val j = SqlScanner.nextCode(query, sc, i + 7)
          j >= 0 && query.charAt(j) == '('
        }) return true
      i += 1
    }
    false
  }

  /** Pipe-less statement heads the injected parser rewrites: bare
    * FROM-first queries and COPY sinks would fail in vanilla Spark, so
    * claiming them is strictly additive (as are pipe queries and
    * plain-paren CTE heads over a FROM-first body).
    */
  private[psql] val additiveHeads = Set("from", "copy")

  /** Statement heads that get the full DuckDB expression dialect on the
    * LIBRARY path ([[Psql.sql]]) even without pipe tokens: in the reference,
    * plain SQL executes on DuckDB itself, so a reference user's plain
    * `SELECT x[1], 2 ^ 3 …` carries DuckDB semantics (1-based subscripts,
    * `^` = power, `* EXCLUDE`, comprehensions, `{…}` structs, SIMILAR
    * TO/GLOB, COLUMNS('re'), DISTINCT ON …). Routing these heads through
    * the same expression shims pipe stages get keeps the two spellings of
    * the same query identical. The INJECTED PARSER deliberately keeps its
    * narrower strictly-additive contract ([[additiveHeads]]): there, plain
    * SQL is the host session's own dialect — exactly the reference's
    * pass-through posture (`psql_extension.cpp:76-79`) with Spark as the
    * host — and Spark-internal SQL (view text, generated statements) must
    * never be re-dialected behind the user's back.
    */
  private val dialectHeads = additiveHeads ++ Set("select", "values", "table", "with", "create")

  /** Whether the rewriter owns the statement, given the pipe-less heads
    * the door claims.
    */
  private[psql] def rewrites(stmt: Stmt, heads: Set[String]): Boolean =
    heads(stmt.head) || PsqlRewriter.isPsql(stmt.text) || PsqlRewriter.isFromFirstWith(stmt.text)

  private[psql] def rewriteOnly(query: String): String = rewrite(statement(query))

  private def rewrite(stmt: Stmt): String =
    if (rewrites(stmt, dialectHeads)) PsqlRewriter.rewrite(stmt.text) else stmt.text

  /** Lift a statement containing a top-level `UNION [ALL|DISTINCT] BY NAME`
    * (DuckDB dialect; no Spark SQL text form) into a Catalyst plan:
    * `Union(byName = true, allowMissingCol = true)` — missing columns
    * null-fill, like DuckDB; the non-ALL flavor wraps in Distinct.
    *
    * The split happens at the LAST top-level UNION/EXCEPT link, recursing on
    * the left — SQL set operations at that precedence level are
    * left-associative, so a mixed chain like `a UNION BY NAME b UNION ALL c`
    * builds `Union(Distinct(UnionByName(a, b)), c)`; INTERSECT binds tighter
    * and stays within a side. Sides without any by-name operator go back
    * through the string rewrite path. Returns None (and the string path handles the
    * statement) when no top-level by-name union is present, or when the
    * statement is not query-headed (DDL like `CREATE VIEW … UNION BY NAME …`
    * must not be cut mid-command).
    */
  private[psql] def byNamePlan(
      spark: SparkSession,
      query: String,
      parse: String => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Except, Intersect, LogicalPlan, Union}
    val q = PsqlRewriter.stripTrailingSemicolon(query)
    val ops = PsqlRewriter.topLevelSetOps(q)
    if (!ops.exists(_.byName)) return None
    if (!isQueryHead(q))
      throw new IllegalArgumentException(
        "UNION BY NAME is only supported in query statements (SELECT/FROM/WITH/VALUES/TABLE " +
          "or parenthesized heads), not inside DDL commands — create the view/table from a " +
          "separate by-name query instead")
    // split only at UNION/EXCEPT/MINUS links: INTERSECT binds tighter (SQL
    // precedence), so it stays inside a side and the side's parse applies it
    val splitOps = ops.filterNot(_.op == "intersect")
    val last = splitOps.last // nonEmpty: a by-name op is itself a union
    // The reference's rewrite splits pipes BEFORE the parser ever sees the
    // set operation (`src/psql_extension.cpp:28-49` rewrites `A union … B |>
    // S` to `FROM ( A union … B ) S`), so a top-level pipe token after the
    // last link ends the right side and everything from the pipe onward is a
    // stage pipeline applied to the WHOLE set operation — sort/limit tails,
    // filters, projections alike. Cutting at the pipe (not after it) also
    // means the body can never retain a dangling `|>`. Without any pipe, a
    // statement-level trailing ORDER BY / LIMIT / OFFSET binds to the whole
    // set operation (SQL grammar; an unparenthesized order-by before a set
    // op is a syntax error, so the first top-level occurrence after the
    // last link is the statement's).
    val (q2, trailing) = locally {
      val sc = SqlScanner.scan(q)
      val pipeCut = (last.end until q.length - 1).find { i =>
        // same whitespace-guarded token rule as SqlScanner.splitPipes
        sc.topLevel(i) && q.charAt(i) == '|' && q.charAt(i + 1) == '>' &&
        i > 0 && Character.isWhitespace(q.charAt(i - 1)) &&
        (i + 2 >= q.length || Character.isWhitespace(q.charAt(i + 2)))
      }
      // a keyword-spelled token right after '.' or ',' is a column
      // reference (`t.offset`, `select a, "limit"` …), not the
      // statement's trailing clause — cutting there would split a valid
      // side mid-expression
      def midExpression(p: Int): Boolean = {
        var j = p - 1
        while (j >= 0 && Character.isWhitespace(q.charAt(j))) j -= 1
        j >= 0 && (q.charAt(j) == '.' || q.charAt(j) == ',')
      }
      pipeCut match {
        case Some(p) => (q.substring(0, p).trim, Some(q.substring(p).trim))
        case None =>
          val cut = (SqlScanner.topLevelKeyword(q, sc, Seq("order", "by")) ++
            SqlScanner.topLevelKeyword(q, sc, Seq("limit")) ++
            SqlScanner.topLevelKeyword(q, sc, Seq("offset")))
            .filter(p => p >= last.end && !midExpression(p))
            .sorted.headOption
          // commit the cut only if the clause actually parses as a trailing
          // sort/limit — an unquoted column merely spelling a keyword would
          // otherwise leave both fragments unparseable
          cut.map(p => (q.substring(0, p).trim, q.substring(p).trim)) match {
            case Some((body, t)) if parsesAsTrailingClause(spark, t) => (body, Some(t))
            case _                                                   => (q, None)
          }
      }
    }
    val left = q2.substring(0, last.pos).trim
    val right = q2.substring(last.end).trim
    // a statement-level WITH scopes its CTEs over the WHOLE set operation
    // (DuckDB/SQL semantics); sides parse standalone here, so re-prefix the
    // CTE clause onto any side that doesn't already carry it
    val withPre = PsqlRewriter.splitWithPrefix(q2).map(_._1)
    def side(s0: String): LogicalPlan = {
      val s = withPre match {
        case Some(pre) if !s0.startsWith(pre) => s"$pre $s0"
        case _                                => s0
      }
      byNamePlan(spark, s, parse).getOrElse(parse(preprocess(spark, s)))
    }
    val (l, r) = (side(left), side(right))
    val combined = last.op match {
      case "union" if last.byName =>
        val u = Union(Seq(l, r), byName = true, allowMissingCol = true)
        if (last.isAll) u else Distinct(u)
      case "union" =>
        val u = Union(Seq(l, r))
        if (last.isAll) u else Distinct(u)
      case _ => Except(l, r, last.isAll) // except / minus
    }
    Some(trailing match {
      case None => combined
      case Some(t) =>
        // reuse the host parser for the tail grammar: parse the tail over a
        // stub relation (WITHOUT analysis — the library path's `parse`
        // analyzes eagerly and would fail on the stub), then graft the set-op
        // plan in its place before the analyzer ever sees it. A pipe tail
        // (`|> stage |> …`) goes through the full stage rewrite so every
        // stage — filters and projections included — applies to the whole
        // set operation, exactly as the reference's nested-FROM rewrite has
        // it.
        import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
        val stub = "__graft_by_name_body__"
        val stubSql =
          if (t.startsWith("|>")) {
            val rewritten = PsqlRewriter.rewrite(s"from $stub $t")
            val (fin, paths) = PathRelations.extractPaths(rewritten)
            paths.foreach { case (v, p) => PathRelations.register(spark, v, p) }
            fin
          } else s"SELECT * FROM $stub $t"
        org.apache.spark.sql.graftbridge.ColumnBridge
          .parsePlan(spark, stubSql).transformUp {
            case u: UnresolvedRelation if u.multipartIdentifier == Seq(stub) => combined
          }
    })
  }

  /** True when `t` parses as a trailing ORDER BY/LIMIT/OFFSET clause over a
    * stub relation — the probe [[byNamePlan]] uses before committing a cut,
    * so a column that merely spells a clause keyword falls back to no-cut
    * instead of producing two unparseable fragments.
    */
  private def parsesAsTrailingClause(spark: SparkSession, t: String): Boolean =
    try {
      org.apache.spark.sql.graftbridge.ColumnBridge
        .parsePlan(spark, s"SELECT * FROM __graft_by_name_probe__ $t")
      true
    } catch { case _: org.apache.spark.sql.catalyst.parser.ParseException => false }

  /** True when the statement starts like a query (SELECT/FROM/WITH/VALUES/
    * TABLE or a parenthesized/scoped-block head) — the only shapes where a
    * top-level set operation belongs to the statement itself rather than to
    * a DDL command's body. Leading comments are skipped.
    */
  private[psql] def isQueryHead(query: String): Boolean = {
    val stmt = statement(query)
    stmt.text.startsWith("(") || queryHeads(stmt.head) // `(` includes `(| … |)` blocks
  }

  private val queryHeads = Set("select", "from", "with", "values", "table")

  /** Split a script into statements at top-level `;` boundaries (the
    * SqlScanner is string-literal- and comment-safe); empty pieces (blank
    * lines between statements, trailing `;`) are dropped. Line comments
    * between statements travel with the FOLLOWING statement's text, where
    * the scanner already ignores them.
    */
  private[psql] def splitStatements(script: String): Seq[String] = {
    val sc = SqlScanner.scan(script)
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < script.length) {
      if (sc.topLevel(i) && script.charAt(i) == ';') {
        out += script.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    out += script.substring(start)
    out.toSeq.map(_.trim).filter { s =>
      // drop pieces that are empty or comments-only
      val ssc = SqlScanner.scan(s)
      SqlScanner.nextCode(s, ssc, 0) >= 0
    }
  }

  /** The reference silently keeps only `statements[0]` of a multi-statement
    * script (`src/psql_extension.cpp:85-89`) — a footgun SURVEY §7 says to
    * handle explicitly. We reject instead: a top-level `;` with content after
    * it is an error (a trailing semicolon stays legal, `psql.test:22-23`).
    */
  private def rejectMultiStatement(query: String): Unit = {
    val sc = SqlScanner.scan(query)
    var i = 0
    while (i < query.length) {
      if (sc.topLevel(i) && query.charAt(i) == ';') {
        val next = SqlScanner.nextCode(query, sc, i + 1)
        if (next >= 0 && query.charAt(next) != ';')
          throw new IllegalArgumentException(
            "multi-statement input is not supported: submit one PSQL statement at a time " +
              s"(found a second statement starting at offset $next)")
      }
      i += 1
    }
  }
}

/** Quoted-path FROM/JOIN sources → temp views backed by DataFrameReader. */
object PathRelations {

  /** Replace top-level-or-nested `FROM '<path>'` / `JOIN '<path>'` string
    * literals in rewritten SQL with deterministic view names; returns the
    * new SQL plus (viewName, path) pairs to register.
    */
  def extractPaths(sqlText: String): (String, Seq[(String, String)]) = {
    val sc = SqlScanner.scan(sqlText)
    val sb = new StringBuilder
    val found = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < sqlText.length) {
      var consumed = false
      if (sc.code(i) && (SqlScanner.matchesWord(sqlText, i, "join") ||
          (SqlScanner.matchesWord(sqlText, i, "from") && !SqlScanner.fnArgFrom(sqlText, sc, i)))) {
        val kwLen = 4
        val j = SqlScanner.nextCode(sqlText, sc, i + kwLen)
        if (j >= 0 && sqlText.charAt(j) == '\'') {
          // find end of the literal ('' escape)
          var k = j + 1
          var end = -1
          while (k < sqlText.length && end < 0) {
            if (sqlText.charAt(k) == '\'') {
              if (k + 1 < sqlText.length && sqlText.charAt(k + 1) == '\'') k += 2
              else end = k
            } else k += 1
          }
          if (end > 0) {
            val path = sqlText.substring(j + 1, end).replace("''", "'")
            val view = viewNameFor(path)
            found.getOrElseUpdate(view, path)
            sb.append(sqlText.substring(i, i + kwLen)).append(' ').append(view)
            i = end + 1
            consumed = true
          }
        }
      }
      if (!consumed) { sb.append(sqlText.charAt(i)); i += 1 }
    }
    (sb.toString, found.toSeq)
  }

  def viewNameFor(path: String): String =
    "psql_src_" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(path)).toLowerCase

  def register(spark: SparkSession, view: String, path1: String): Unit = {
    if (spark.catalog.tableExists(view)) return
    // `#graft:k=v&k=v` fragment: rewriter-generated reader options (COPY
    // FROM option block). The fragment is part of the view-name key, so
    // the same path under different options never shares a cached view.
    val (path0, fragOpts) = path1.indexOf("#graft:") match {
      case -1 => (path1, Map.empty[String, String])
      case ix =>
        val m = path1.substring(ix + "#graft:".length).split("&").iterator
          .map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }.toMap
        (path1.substring(0, ix), m)
    }
    val path = if (path0.matches("(?i)^https?://.*")) fetchToLocal(path0) else path0
    val lower = path.toLowerCase
    val format = fragOpts.get("format").getOrElse {
      if (lower.endsWith(".parquet") || lower.endsWith(".pq")) "parquet"
      else if (lower.endsWith(".orc")) "orc"
      else if (lower.endsWith(".json") || lower.endsWith(".jsonl") || lower.endsWith(".ndjson")) "json"
      else "csv"
    }
    val df = format match {
      case "parquet" => spark.read.parquet(path)
      case "orc"     => spark.read.orc(path)
      case "json"    => spark.read.json(path)
      case _ => // CSV with header + inference by default, like DuckDB's sniffer
        var r = spark.read
          .option("header", fragOpts.getOrElse("header", "true"))
          .option("inferSchema", true)
          .option("sep", fragOpts.getOrElse("sep", if (lower.endsWith(".tsv")) "\t" else ","))
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]")
        // options carried by the read_csv(...) rewrite; only set when given
        // (Spark's defaults differ from DuckDB's — e.g. escape is '\' vs '"')
        fragOpts.get("quote").foreach(v => r = r.option("quote", v))
        fragOpts.get("escape").foreach(v => r = r.option("escape", v))
        fragOpts.get("nullValue").foreach(v => r = r.option("nullValue", v))
        r.csv(path)
    }
    df.createOrReplaceTempView(view)
  }

  /** One-shot HTTP(S) fetch to a session-lifetime temp file (the analog of
    * the reference relying on DuckDB httpfs, `test/sql/psql.test:48-55`).
    */
  private def fetchToLocal(url: String): String = {
    val suffix = url.reverse.takeWhile(_ != '.').reverse match {
      case s if s.length <= 8 => "." + s
      case _                  => ".dat"
    }
    val tmp = java.io.File.createTempFile("psql_http_", suffix)
    tmp.deleteOnExit()
    val in = new java.net.URI(url).toURL.openStream()
    try java.nio.file.Files.copy(in, tmp.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    tmp.getAbsolutePath
  }
}
