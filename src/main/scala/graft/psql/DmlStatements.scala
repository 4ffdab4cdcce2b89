package graft.psql

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.operators.Materialize
import SqlScanner.{closeParen, isIdent, matchesWord, nextCode, scan, splitTopCommas, topLevelKeyword}

/** DuckDB statement-level DML — `DELETE FROM t [WHERE …]` and
  * `UPDATE t SET c = e[, …] [WHERE …]` — lowered to copy-on-write over
  * managed warehouse tables.
  *
  * The reference delegates every statement to DuckDB (`README.md:3,91`),
  * whose dialect executes DML on any table; Spark's parquet v1 tables
  * refuse DELETE/UPDATE outright, so without this pass the two most
  * analytics-realistic DML forms a reference user could type would fail.
  * Lowering:
  *
  *  - the surviving/updated content is computed as a normal PSQL pipeline
  *    over the target, so every dialect feature (`::` casts, DuckDB
  *    functions, macros) works inside WHERE / SET expressions — and
  *    SET values are cast back to the column's declared type through the
  *    same `cast(… AS t)` spelling the rewriter lowers to [[
  *    graft.functions.GraftCast]], keeping DuckDB's assignment-rounding
  *    semantics for integer columns;
  *  - the new content is materialized to a shadow table FIRST (Spark
  *    refuses to overwrite a table its own scan is reading — the b06
  *    upsert rationale, [[graft.operators.Bucketing.upsert]]),
  *  - then swapped in: drop target, `ALTER TABLE … RENAME`. If the
  *    process dies between the two the data survives in `<t>__graft_cow`.
  *
  * Returns DuckDB's exact result shape: a single `Count` BIGINT row with
  * the number of affected rows (probed on 1.0.0). NULL WHERE conditions
  * follow SQL three-valued logic as DuckDB does: DELETE keeps the row,
  * UPDATE leaves it unmodified (probed).
  *
  * Scale shape: one filter/projection scan + one columnar write — no
  * shuffle anywhere; the affected-count pass is a second scan that prunes
  * to the predicate columns. PARTITIONED targets take the pruned path:
  * one aggregate finds the partitions containing affected rows, and a
  * dynamic partition overwrite rewrites ONLY those directories (untouched
  * partitions keep their files byte-identical; fully-deleted partitions
  * are dropped). Whole-table copy-on-write remains for unpartitioned
  * targets, UPDATEs that assign a partition column (rows may move across
  * directories), unrenderable partition values, and >10k affected
  * partitions — where a full rewrite is the honest plan.
  *
  * Join forms (r14): `DELETE … USING <rel> WHERE …` lowers to a
  * correlated EXISTS (multi-matches dedup exactly as DuckDB's do) and
  * rides the whole plain-DELETE path — counts, RETURNING, partition
  * pruning; `UPDATE … SET … FROM <rel> WHERE …` lowers onto the MERGE
  * pipeline (WHEN MATCHED THEN UPDATE), erroring on a target row with
  * multiple source matches where DuckDB picks one arbitrarily —
  * fail-loud beats nondeterministic.
  *
  * Fails loudly on: non-MANAGED targets (temp views, external tables —
  * rewriting files under a shared location would corrupt state the
  * catalog does not own) and SET columns absent from the target.
  */
object DmlStatements {

  /** COPY … FROM lowers to INSERT in the REWRITER (after this handler
    * declines), so the read-only-attachment guard must read the target
    * here; the statement itself stays on the rewrite path (always None).
    */
  private[psql] def copyGuard(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    if (SqlScanner.topLevelKeyword(stmt, sc, Seq("to")).isEmpty) {
      val p = nextCode(stmt, sc, "copy".length)
      if (p >= 0 && (Character.isLetter(stmt.charAt(p)) || stmt.charAt(p) == '_')) {
        val (rawT, _) = identifierAt(stmt, p)
        val resolved =
          try Some(resolveTarget(spark, rawT))
          catch { case _: IllegalArgumentException => None }
        resolved.foreach(checkNotAttached(spark, _, "INSERT"))
      }
    }
    None
  }

  /** Plain INSERT delegates to Spark's native DML (b10, None); ON
    * CONFLICT, OR REPLACE/IGNORE, RETURNING, BY NAME and constrained-target
    * forms need the front-end (Spark has none).
    */
  private[psql] def insert(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    val p = nextCode(stmt, sc, "insert".length)
    if (p >= 0 && matchesWord(stmt, p, "or"))
      return Some(insertOrX(spark, stmt, p))
    if (SqlScanner.topLevelKeyword(stmt, sc, Seq("on", "conflict")).nonEmpty)
      return Some(insertOnConflict(spark, stmt))
    val (body, returning) = splitReturning(stmt)
    val head = insertHead(body, "insert".length)
    val frontend = returning.isDefined || head.byName || head.defaultValues
    if (!frontend && head.rawTable.isEmpty) return None
    // a target with recorded NOT NULL/CHECK/PRIMARY KEY constraints must go
    // through the enforcing front-end — resolved through resolveTarget
    // first, so `INSERT INTO main.t` enforces exactly like `INSERT INTO t`.
    // A spelling Spark's catalog cannot resolve natively (`main.`,
    // `memory.main.`) also routes through the front-end; everything else
    // stays on Spark's native INSERT (which applies DEFAULTs itself). A
    // recorded FK only forces the front-end while the enforcement opt-in is
    // set — an FK-ONLY table (no PK/NOT NULL/CHECK) would otherwise ride
    // Spark's native INSERT around the check
    val (t, cons) = insertTarget(spark, head)
    if (frontend || t != head.rawTable || cons.enforceable ||
        (cons.foreignKeys.nonEmpty && TableConstraints.fkEnforcementOn(spark)))
      Some(insertFrontend(spark, head, returning, (t, cons)))
    else None
  }

  /** `WITH name AS (body)[, …] <DML statement>` — DuckDB allows CTE
    * prefixes on DELETE/UPDATE/INSERT (probed; Postgres heritage). Spark
    * has no DML at all, so the lowering registers each CTE as a temp view
    * for the statement's duration and re-enters the statement table
    * ([[Psql.handle]]) with the remainder (the DML's pipelines then
    * resolve the names; reads happen against
    * PRE-statement state because every lowering materializes into the
    * shadow before swapping). A WITH whose remainder is a plain query
    * returns None — Spark executes it natively.
    */
  private[psql] def withDml(spark: SparkSession, stmt: String): Option[DataFrame] = {
    // the parse phase must NEVER throw: any WITH text that is not a plain
    // unquoted-CTE prefix over a DML statement belongs to Spark's parser
    val parsed: Option[(Seq[(String, String)], String)] =
      try {
        val sc = scan(stmt)
        var p = nextCode(stmt, sc, "with".length)
        if (p >= 0 && matchesWord(stmt, p, "recursive")) return None // native
        val ctes = Seq.newBuilder[(String, String)]
        var more = true
        while (more) {
          val (name, afterName) = identifierAt(stmt, p)
          val a = nextCode(stmt, sc, afterName)
          if (a < 0 || !matchesWord(stmt, a, "as")) return None
          val open = nextCode(stmt, sc, a + 2)
          if (open < 0 || stmt.charAt(open) != '(') return None
          val close = closeParen(stmt, sc, open)
          if (close < 0) return None
          ctes += ((name, stmt.substring(open + 1, close)))
          val next = nextCode(stmt, sc, close + 1)
          if (next >= 0 && stmt.charAt(next) == ',') {
            p = nextCode(stmt, sc, next + 1)
            if (p < 0) return None
          } else { p = next; more = false }
        }
        if (p < 0) None else Some((ctes.result(), stmt.substring(p).trim))
      } catch { case _: IllegalArgumentException => None }
    if (parsed.isEmpty) return None
    val (cteDefs, rest) = parsed.get
    val dml = Psql.statement(rest)
    if (!Set("delete", "update", "insert", "merge")(dml.head))
      return None // plain WITH query: Spark native
    val psql = Psql(spark)
    val names = cteDefs
    names.foreach { case (n, _) =>
      require(!spark.catalog.tableExists(n) ||
          spark.catalog.getTable(n).tableType == "TEMPORARY",
        s"WITH-DML: CTE name '$n' shadows an existing table — rename the CTE " +
          "(the DML lowering resolves relation names through the catalog)")
    }
    // a CTE may legitimately shadow an existing TEMPORARY view for the
    // statement's duration, but in DuckDB a CTE never mutates session
    // state — capture each shadowed view's plan and re-register it after
    // (a temp view's plan inlines at analysis, so the capture is stable)
    val priors: Seq[(String, Option[DataFrame])] = names.map { case (n, _) =>
      n -> (if (spark.catalog.tableExists(n)) Some(spark.table(n)) else None)
    }
    try {
      names.foreach { case (n, body) => psql.sql(body).createOrReplaceTempView(n) }
      // the remainder re-enters the statement table; a plain unconstrained
      // INSERT remainder (every handler declines) stays on Spark's native
      // INSERT, executed inside the temp-view scope.
      Some(Psql.handle(spark, dml).getOrElse(spark.sql(rest)))
    } finally priors.foreach {
      case (n, Some(prior)) => prior.createOrReplaceTempView(n)
      case (n, None)        => spark.catalog.dropTempView(n)
    }
  }

  /** Replace bare `DEFAULT` items in VALUES tuples with the positionally
    * corresponding column's recorded default expression (NULL when the
    * column declares none — probed DuckDB). Only single-word DEFAULT items
    * rewrite; DEFAULT inside an expression stays an error downstream, as
    * in DuckDB.
    */
  private def rewriteValuesDefaults(src: String, names: Seq[String],
      fields: Seq[org.apache.spark.sql.types.StructField], table: String,
      defaults: Map[String, String]): String = {
    if (!src.toLowerCase(java.util.Locale.ROOT).contains("default")) return src
    val tuples = splitTopCommas(src.substring("values".length))
    val out = tuples.map { t0 =>
      val t = t0.trim
      if (!(t.startsWith("(") && t.endsWith(")"))) t
      else {
        val items = splitTopCommas(t.substring(1, t.length - 1))
        val repl = items.zipWithIndex.map { case (it, i) =>
          if (!it.trim.equalsIgnoreCase("default")) it
          else {
            require(i < names.length,
              s"INSERT: DEFAULT at position ${i + 1} has no target column")
            val f = fields.find(_.name.equalsIgnoreCase(names(i))).getOrElse(
              throw new IllegalArgumentException(
                s"INSERT: column '${names(i)}' is not in $table"))
            defaults.get(f.name.toLowerCase(java.util.Locale.ROOT)) match {
              case Some(e) => s"($e)"
              case None    => s"cast(null as ${f.dataType.sql})"
            }
          }
        }
        "(" + repl.mkString(", ") + ")"
      }
    }
    "values " + out.mkString(", ")
  }

  /** The head of `INSERT INTO t [BY NAME] [(cols)] <source>`, parsed once
    * per statement by [[insertHead]]. `rawTable` is empty when there is no
    * `INTO <name>`; `malformed` is the first syntax error, raised by
    * [[insertTarget]] (before the name) or [[insertBatch]] (after it), so
    * a malformed INSERT into an unconstrained table still reaches Spark's
    * own parser.
    */
  private final case class InsertHead(rawTable: String, byName: Boolean,
      cols: Option[Seq[String]], source: String, malformed: Option[String]) {
    /** End of a `DEFAULT VALUES` opening the source, or -1. */
    def defaultValuesEnd: Int =
      if (!matchesWord(source, 0, "default")) -1
      else {
        val q = nextCode(source, scan(source), "default".length)
        if (q >= 0 && matchesWord(source, q, "values")) q + "values".length else -1
      }
    /** The bare `DEFAULT VALUES` form right after the target — DuckDB
      * inserts ONE all-defaults row (probed); Spark has no such form, so
      * the front-end handles it.
      */
    def defaultValues: Boolean = !byName && cols.isEmpty && defaultValuesEnd >= 0
  }

  private def insertHead(stmt: String, from: Int): InsertHead = {
    val sc = scan(stmt)
    var rawTable = ""
    var byName = false
    var cols: Option[Seq[String]] = None
    def bad(msg: String) = InsertHead(rawTable, byName, cols, "", Some(msg))
    val intoPos = nextCode(stmt, sc, from)
    if (intoPos < 0 || !matchesWord(stmt, intoPos, "into"))
      return bad("INSERT must be `INSERT INTO <table> [BY NAME] [(cols)] <source> [RETURNING …]`")
    val afterT =
      try { val (t, e) = identifierAt(stmt, intoPos + "into".length); rawTable = t; e }
      catch { case e: IllegalArgumentException => return bad(e.getMessage) }
    var p = nextCode(stmt, sc, afterT)
    if (p < 0) return bad("INSERT needs VALUES or a query")
    if (matchesWord(stmt, p, "by")) {
      val q = nextCode(stmt, sc, p + 2)
      if (q < 0 || !matchesWord(stmt, q, "name")) return bad("INSERT: expected BY NAME")
      byName = true
      p = nextCode(stmt, sc, q + "name".length)
      if (p < 0) return bad("INSERT BY NAME needs a query")
    } else if (stmt.charAt(p) == '(') {
      val k = closeParen(stmt, sc, p)
      if (k < 0) return bad("INSERT: unbalanced column list")
      cols = Some(splitTopCommas(stmt.substring(p + 1, k)).map(_.trim))
      p = nextCode(stmt, sc, k + 1)
      if (p < 0) return bad("INSERT: missing VALUES/query after the column list")
    }
    InsertHead(rawTable, byName, cols, stmt.substring(p).trim, None)
  }

  /** The resolved INSERT target and its recorded constraints — the
    * statement's one [[TableConstraints.load]]. A read-only attached target
    * is refused here, BEFORE the native fall-through: Spark's own INSERT
    * would append files into the attached directory.
    */
  private def insertTarget(spark: SparkSession, head: InsertHead)
      : (String, TableConstraints.Constraints) = {
    if (head.rawTable.isEmpty) throw new IllegalArgumentException(head.malformed.get)
    val t = resolveTarget(spark, head.rawTable)
    checkNotAttached(spark, t, "INSERT")
    (t, TableConstraints.load(spark, t))
  }

  /** Split a trailing top-level `RETURNING <exprs>` clause (DuckDB DML
    * forms; probed 1.0: DELETE returns the deleted rows, UPDATE the NEW
    * values, INSERT the inserted rows — each replacing the Count shape).
    */
  private def splitReturning(stmt: String): (String, Option[String]) = {
    val sc = scan(stmt)
    topLevelKeyword(stmt, sc, Seq("returning")).headOption match {
      case Some(p) =>
        val list = stmt.substring(p + "returning".length).trim
        require(list.nonEmpty, "RETURNING needs an expression list")
        (stmt.substring(0, p).trim, Some(list))
      case None => (stmt, None)
    }
  }

  /** DuckDB `CREATE OR REPLACE TABLE name AS <query>` — Spark's v1 parquet
    * catalog rejects REPLACE TABLE AS SELECT outright. Lowered
    * shadow-first: the new content materializes into `<name>__graft_cow`
    * BEFORE the old table is touched, so (a) a self-referencing
    * replacement (`… AS SELECT … FROM name`) reads the OLD data, exactly
    * DuckDB's semantics (probed), and (b) a failing query leaves the
    * original intact. Only the `OR REPLACE TABLE … AS` form is ours —
    * plain CREATE TABLE, views, and OR REPLACE MACRO (handled earlier)
    * fall through.
    */
  private[psql] def createOrReplace(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    var i = nextCode(stmt, sc, "create".length)
    if (i < 0 || !matchesWord(stmt, i, "or")) return None
    i = nextCode(stmt, sc, i + 2)
    if (i < 0 || !matchesWord(stmt, i, "replace")) return None
    i = nextCode(stmt, sc, i + "replace".length)
    if (i < 0 || !matchesWord(stmt, i, "table")) return None
    val (rawName, after) = identifierAt(stmt, i + "table".length)
    val asPos = nextCode(stmt, sc, after)
    require(asPos >= 0 && matchesWord(stmt, asPos, "as"),
      "CREATE OR REPLACE TABLE supports only the AS <query> form " +
        "(a bare column-definition list has no content to swap in)")
    val body = stmt.substring(asPos + 2).trim
    require(body.nonEmpty, "CREATE OR REPLACE TABLE … AS needs a query")
    // same guards as the other copy-on-write forms, checked BEFORE the
    // shadow materializes: a name held by a view/external table must not be
    // silently re-pointed at a managed table (DROP TABLE on a view also
    // throws mid-swap)
    val name = resolveTarget(spark, rawName)
    if (spark.catalog.tableExists(name)) {
      val tt = spark.catalog.getTable(name).tableType
      require(tt == "MANAGED",
        s"CREATE OR REPLACE TABLE '$name': existing object is $tt — only MANAGED " +
          "tables can be replaced (drop the view/external table explicitly first)")
    }
    val shadow = name + "__graft_cow"
    graft.operators.Bucketing.dropTableAndLocation(spark, shadow)
    Psql(spark).sql(s"create table $shadow as $body") // may read the OLD name
    graft.operators.Bucketing.dropTableAndLocation(spark, name)
    spark.sql(s"ALTER TABLE $shadow RENAME TO $name")
    Some(spark.emptyDataFrame)
  }

  /** DuckDB `TRUNCATE t` (no TABLE keyword) — Spark's native TRUNCATE
    * requires it, so normalize; DuckDB returns no rows (probed).
    */
  private[psql] def truncate(spark: SparkSession, stmt: String): DataFrame = {
    val sc = scan(stmt)
    var i = nextCode(stmt, sc, "truncate".length)
    require(i >= 0, "TRUNCATE needs a table name")
    if (matchesWord(stmt, i, "table")) i = nextCode(stmt, sc, i + "table".length)
    val (rawTable, after) = identifierAt(stmt, i)
    require(stmt.substring(after).trim.isEmpty,
      s"TRUNCATE takes a single table name, got trailing '${stmt.substring(after).trim}'")
    val table = resolveTarget(spark, rawTable)
    checkTarget(spark, table, "DELETE")
    spark.sql(s"TRUNCATE TABLE $table")
    spark.emptyDataFrame
  }

  /** DuckDB `ALTER TABLE` column forms. Spark's v1 parquet tables support
    * only a subset natively, so the lowering is per-form:
    *
    *  - `ADD COLUMN c t` (no DEFAULT) → Spark's native `ADD COLUMNS` —
    *    METADATA-ONLY, no data rewrite; old files read NULL. At 100 TB
    *    this is the only acceptable plan, and it is exactly DuckDB's
    *    NULL-fill semantics (probed).
    *  - `ADD COLUMN c t DEFAULT e` → copy-on-write projection appending
    *    `cast(e AS t)` (a default VALUE must exist in every row).
    *  - `DROP COLUMN c`, `RENAME COLUMN a TO b`, `ALTER [COLUMN] c
    *    [SET DATA] TYPE t [USING e]` → copy-on-write projection (parquet
    *    files key columns by name — a metadata-only rename/drop/retype
    *    would corrupt old files' reads on a v1 table). Casts ride the
    *    PSQL rewrite, so integer retypes keep DuckDB rounding semantics.
    *  - `RENAME TO` (table rename) → None: Spark DDL handles it natively.
    */
  private[psql] def alter(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    var i = nextCode(stmt, sc, "alter".length)
    if (i < 0 || !matchesWord(stmt, i, "table")) return None
    val (rawTable, afterName) = identifierAt(stmt, i + "table".length)
    val table = resolveTarget(spark, rawTable)
    var j = nextCode(stmt, sc, afterName)
    if (j < 0) return None
    def word(w: String): Boolean = matchesWord(stmt, j, w)

    if (word("rename")) {
      val k = nextCode(stmt, sc, j + "rename".length)
      if (k >= 0 && matchesWord(stmt, k, "to")) return None // table rename: native DDL
      checkTarget(spark, table, "ALTER")
      var p = k
      if (p >= 0 && matchesWord(stmt, p, "column")) p = nextCode(stmt, sc, p + "column".length)
      val (from, a2) = identifierAt(stmt, p)
      val t2 = nextCode(stmt, sc, a2)
      require(t2 >= 0 && matchesWord(stmt, t2, "to"),
        "ALTER TABLE … RENAME COLUMN must be `RENAME [COLUMN] a TO b`")
      val (to, _) = identifierAt(stmt, t2 + 2)
      val cols = spark.table(table).columns
      require(cols.exists(_.equalsIgnoreCase(from)), s"no column '$from' in $table")
      require(!cols.exists(_.equalsIgnoreCase(to)), s"column '$to' already exists in $table")
      val sel = cols.map(c => if (c.equalsIgnoreCase(from)) s"$c as $to" else c)
      cowSwap(spark, table, Psql(spark).sql(s"from $table |> select ${sel.mkString(", ")}"))
      // recorded constraint metadata follows the rename (DuckDB renames
      // keys/defaults/checks through — probed)
      TableConstraints.applyRenameColumnFixups(spark, table, from, to)
      Some(spark.emptyDataFrame)
    } else if (word("drop")) {
      checkTarget(spark, table, "ALTER")
      var p = nextCode(stmt, sc, j + "drop".length)
      if (p >= 0 && matchesWord(stmt, p, "column")) p = nextCode(stmt, sc, p + "column".length)
      val (c, _) = identifierAt(stmt, p)
      val cols = spark.table(table).columns
      require(cols.exists(_.equalsIgnoreCase(c)), s"no column '$c' in $table")
      require(cols.length > 1, s"cannot drop the only column of $table")
      // DuckDB refuses to drop key/check-referenced columns (probed)
      TableConstraints.validateDropColumn(spark, table, c)
      val sel = cols.filterNot(_.equalsIgnoreCase(c))
      cowSwap(spark, table, Psql(spark).sql(s"from $table |> select ${sel.mkString(", ")}"))
      TableConstraints.applyDropColumnFixups(spark, table, c)
      Some(spark.emptyDataFrame)
    } else if (word("add")) {
      checkTarget(spark, table, "ALTER")
      var p = nextCode(stmt, sc, j + "add".length)
      if (p >= 0 && matchesWord(stmt, p, "column")) p = nextCode(stmt, sc, p + "column".length)
      val (c, a2) = identifierAt(stmt, p)
      require(!spark.table(table).columns.exists(_.equalsIgnoreCase(c)),
        s"column '$c' already exists in $table")
      val rest = stmt.substring(a2).trim
      val rsc = scan(rest)
      val defPos = topLevelKeyword(rest, rsc, Seq("default")).headOption
      val typeText = defPos.map(d => rest.substring(0, d)).getOrElse(rest).trim
      require(typeText.nonEmpty, "ADD COLUMN needs a type")
      defPos match {
        case None =>
          // metadata-only: NULL-fill for existing rows, no data rewrite
          spark.sql(s"ALTER TABLE $table ADD COLUMNS ($c ${sparkType(typeText)})")
        case Some(d) =>
          val defaultExpr = rest.substring(d + "default".length).trim
          require(defaultExpr.nonEmpty, "DEFAULT needs an expression")
          val sel = spark.table(table).columns :+
            s"cast(($defaultExpr) as $typeText) as $c"
          cowSwap(spark, table, Psql(spark).sql(s"from $table |> select ${sel.mkString(", ")}"))
      }
      Some(spark.emptyDataFrame)
    } else if (word("alter")) {
      checkTarget(spark, table, "ALTER")
      var p = nextCode(stmt, sc, j + "alter".length)
      if (p >= 0 && matchesWord(stmt, p, "column")) p = nextCode(stmt, sc, p + "column".length)
      val (c, a2) = identifierAt(stmt, p)
      require(spark.table(table).columns.exists(_.equalsIgnoreCase(c)),
        s"no column '$c' in $table")
      var t = nextCode(stmt, sc, a2)
      if (t >= 0 && matchesWord(stmt, t, "set")) {
        t = nextCode(stmt, sc, t + 3)
        require(t >= 0 && matchesWord(stmt, t, "data"), "expected SET DATA TYPE")
        t = nextCode(stmt, sc, t + 4)
      }
      require(t >= 0 && matchesWord(stmt, t, "type"),
        "ALTER COLUMN must be `ALTER [COLUMN] c [SET DATA] TYPE t [USING e]`")
      val rest = stmt.substring(t + "type".length).trim
      val rsc = scan(rest)
      val usingPos = topLevelKeyword(rest, rsc, Seq("using")).headOption
      val typeText = usingPos.map(u => rest.substring(0, u)).getOrElse(rest).trim
      require(typeText.nonEmpty, "ALTER COLUMN TYPE needs a type")
      val valueExpr = usingPos.map(u => rest.substring(u + "using".length).trim).getOrElse(c)
      val sel = spark.table(table).columns.map { col =>
        if (col.equalsIgnoreCase(c)) s"cast(($valueExpr) as $typeText) as $col" else col
      }
      cowSwap(spark, table, Psql(spark).sql(s"from $table |> select ${sel.mkString(", ")}"))
      Some(spark.emptyDataFrame)
    } else None
  }

  /** DuckDB type spelling → Spark DDL type (for the metadata-only native
    * ADD COLUMNS path; the copy-on-write paths go through the PSQL rewrite,
    * which normalizes types itself).
    */
  private def sparkType(t: String): String =
    t.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "varchar" | "text" | "string"         => "string"
      case "integer" | "int4" | "signed" | "int" => "int"
      case "int8" | "long" | "bigint"            => "bigint"
      case "int2" | "short" | "smallint"         => "smallint"
      case "int1" | "tinyint"                    => "tinyint"
      case "float4" | "real" | "float"           => "float"
      case "float8" | "double"                   => "double"
      case "bool" | "boolean"                    => "boolean"
      case other                                 => other // decimal(p,s), date, timestamp, …
    }

  private[psql] def delete(spark: SparkSession, stmt0: String): DataFrame = {
    val (stmt, returning) = splitReturning(stmt0)
    val sc = scan(stmt)
    val fromIdx = nextCode(stmt, sc, "delete".length)
    require(fromIdx >= 0 && matchesWord(stmt, fromIdx, "from"),
      "DELETE must be `DELETE FROM <table> [USING <rel>] [WHERE <cond>]`")
    val (rawTable, after) = identifierAt(stmt, fromIdx + 4)
    val table = resolveTarget(spark, rawTable)
    val tAs = aliasOf(table)
    val usingPos = topLevelKeyword(stmt, sc, Seq("using")).headOption
    val wherePos = topLevelKeyword(stmt, sc, Seq("where")).headOption
    wherePos.foreach(p => require(p >= after, s"malformed DELETE near '$table'"))
    usingPos.foreach { u =>
      require(u >= after && wherePos.forall(_ > u),
        s"malformed DELETE USING near '$table'")
    }
    // nothing may sit between the table name and USING/WHERE (or end): a
    // typo'd clause (`wehre v > 15`) must error, not silently delete all
    val gap = stmt.substring(after,
      usingPos.orElse(wherePos).getOrElse(stmt.length)).trim
    require(gap.isEmpty,
      s"DELETE FROM $table: unexpected text '$gap' — the only clauses DELETE " +
        "accepts after the table name are USING and WHERE")
    val cond0 = wherePos.map(p => stmt.substring(p + "where".length).trim)
    // DELETE … USING <rel> WHERE <cond> (DuckDB's join-delete): a target
    // row is deleted when ANY rel row satisfies the condition — exactly a
    // correlated EXISTS, which also dedups multi-matches the way DuckDB
    // does. The rewrite then rides the whole plain-DELETE path: counts,
    // RETURNING, and the partition-pruned rewrite all just work.
    val cond = usingPos match {
      case Some(u) =>
        val relText = stmt.substring(u + "using".length,
          wherePos.getOrElse(stmt.length)).trim
        val (rel, alias) = relAlias(relText)
        val inner = cond0.getOrElse("true")
        Some(s"exists (select * from $rel as $alias where ($inner))")
      case None => cond0
    }
    checkTarget(spark, table, "DELETE")
    val psql = Psql(spark)
    val condSql = cond.map(c => s"coalesce(($c), false)").getOrElse("true")
    // RETURNING = the deleted rows' values, MATERIALIZED before any
    // mutation (the lazy plan would read the rewritten table otherwise)
    val retDf = returning.map { list =>
      Materialize(psql.sql(s"from $table |> as $tAs where $condSql |> select $list"))
    }
    def finish(n: Long): DataFrame = retDf.getOrElse(countDf(spark, n))
    // opt-in FK enforcement, parent side (probed DuckDB 1.0): deleting a
    // row whose key any recorded FK still references throws BEFORE any
    // mutation; the probe sees the PRE-delete child state (DuckDB rejects
    // even a self-referential "delete the whole family" statement)
    new TableConstraints.WriteGuards(spark, table, TableConstraints.load(spark, table),
      "DELETE from", deletes = true).checkStillReferenced(
        if (cond.isEmpty) spark.table(table) else psql.sql(s"from $table |> as $tAs where $condSql"))
    // partition-pruned path: when the target is partitioned, rewrite ONLY
    // the partition directories that contain affected rows (dynamic
    // partition overwrite); partitions the predicate never touches keep
    // their files byte-identical. At 100 TB this is the difference between
    // rewriting one day and rewriting the warehouse. Partitions whose rows
    // were ALL deleted get no new data from the dynamic write, so they are
    // dropped explicitly. Trade-off vs the shadow swap: the overwrite
    // commits per partition (not atomic across partitions); the affected
    // counts come from the same single aggregate that finds the partitions.
    cond.foreach { c =>
      // the stats/survivor scans filter on the RAW condition where
      // possible: WHERE already treats NULL as false, and the coalesce
      // wrapper would block partition pruning (probed: PartitionFilters
      // goes empty under coalesce)
      affectedPartitions(psql, spark, table, s"($c)").foreach { case (pcols, parts) =>
        if (parts.isEmpty) return finish(0L)
        val affPred = partitionPredicate(pcols, parts.map(_._1))
        // per-partition totals WITHIN the affected set (pruned scan) tell
        // which partitions empty out entirely
        val totals: Map[Seq[String], Long] = psql.sql(
          s"""from $table |> where ($affPred)
             ||> select ${pcols.mkString(", ")}, count(*) as __n
             |  group by ${pcols.mkString(", ")}""".stripMargin).collect()
          .map(r => (pcols.indices.map(i => whereLit(r.get(i)).get), r.getLong(pcols.size)))
          .toMap
        val survivors = psql.sql(s"from $table |> as $tAs where ($affPred) and not $condSql")
        withDynamicOverwrite(spark) {
          survivors.write.mode(SaveMode.Overwrite).insertInto(table)
        }
        dropPartitions(spark, table, pcols, parts.collect {
          case (vals, nAff) if totals.get(vals.map(v => whereLit(v).get)).contains(nAff) => vals
        })
        return finish(parts.map(_._2).sum)
      }
    }
    val affected = matchedCount(psql, spark, table, cond)
    cowSwap(spark, table,
      if (cond.isEmpty) spark.table(table).limit(0)
      else psql.sql(s"from $table |> as $tAs where not $condSql"))
    finish(affected)
  }

  private[psql] def update(spark: SparkSession, stmt0: String): DataFrame = {
    val (stmt, returning) = splitReturning(stmt0)
    val sc = scan(stmt)
    val (rawTable, after) = identifierAt(stmt, "update".length)
    val table = resolveTarget(spark, rawTable)
    val tAs = aliasOf(table)
    // SET must IMMEDIATELY follow the table name: a misplaced clause
    // (`UPDATE t WHERE id=1 SET v=2`) would otherwise be silently dropped
    // and the WHERE lost — an unconditional update of every row
    val setWord = nextCode(stmt, sc, after)
    require(setWord >= 0 && matchesWord(stmt, setWord, "set"),
      "UPDATE must be `UPDATE <table> SET col = expr[, …] [FROM <rel>] " +
        s"[WHERE <cond>]` — expected SET right after the table name in: $stmt")
    val setPos = setWord
    // `FROM <rel>` (DuckDB's join-update): SET/WHERE expressions may
    // reference the joined row, so this lowers onto the MERGE pipeline
    // (WHEN MATCHED THEN UPDATE) further below
    val fromPos = topLevelKeyword(stmt, sc, Seq("from")).find(_ > setPos)
    val wherePos = topLevelKeyword(stmt, sc, Seq("where"))
      .find(p => p > setPos && fromPos.forall(p > _))
    val setText = stmt.substring(setPos + "set".length,
      fromPos.orElse(wherePos).getOrElse(stmt.length))
    val cond = wherePos.map(p => stmt.substring(p + "where".length).trim)
    checkTarget(spark, table, "UPDATE")
    val fields = spark.table(table).schema.fields
    val assigns: Seq[(String, String)] = parseSetList(setText)
    require(assigns.nonEmpty,
      s"UPDATE $table: empty SET list — nothing to assign (a no-op UPDATE " +
        "would still rewrite the whole table copy-on-write)")
    val unknown = assigns.map(_._1)
      .filterNot(a => fields.exists(_.name.equalsIgnoreCase(a)))
    require(unknown.isEmpty,
      s"UPDATE $table: SET columns not in table: ${unknown.mkString(", ")}")
    val dup = assigns.groupBy(_._1.toLowerCase).collect { case (k, v) if v.size > 1 => k }
    require(dup.isEmpty, s"UPDATE $table: column assigned twice: ${dup.mkString(", ")}")
    // one load serves the SET defaults, the guards and UPDATE … FROM
    val cons = TableConstraints.load(spark, table)
    fromPos.foreach { fp =>
      require(returning.isEmpty,
        "RETURNING is not supported with UPDATE … FROM — run the MERGE form " +
          "and query the table after")
      val whereP = wherePos.getOrElse(throw new IllegalArgumentException(
        "UPDATE … FROM needs a WHERE join condition (an unconditioned " +
          "cross-join update is never what you want)"))
      val (rel, alias) = relAlias(stmt.substring(fp + "from".length, whereP).trim)
      val c = stmt.substring(whereP + "where".length).trim
      return MergeStatement.updateFrom(spark, table, tAs, rel, alias, c, assigns, cons)
    }
    // SET c = DEFAULT → the recorded default expression (NULL when none —
    // probed DuckDB)
    val byCol = assigns.map { case (c, e) =>
      val expr =
        if (!e.trim.equalsIgnoreCase("default")) e
        else cons.defaults.getOrElse(c.toLowerCase, "null")
      c.toLowerCase -> expr
    }.toMap
    val condSql = cond.map(c => s"coalesce(($c), false)").getOrElse("true")
    // assigned columns keep their declared type: the cast spelling routes
    // through rewriteCasts → GraftCast for integer/boolean targets, so
    // `SET int_col = 2.5` rounds the way DuckDB's assignment cast does
    val selList = fields.map { f =>
      byCol.get(f.name.toLowerCase) match {
        case Some(e) =>
          s"cast((case when $condSql then ($e) else ${f.name} end) as ${f.dataType.sql}) as ${f.name}"
        case None => f.name
      }
    }
    val psql = Psql(spark)
    // RETURNING = the matched rows' NEW values (probed DuckDB semantics),
    // materialized before any mutation: project the post-update columns,
    // then the user's expressions over them
    val retDf = returning.map { list =>
      Materialize(psql.sql(s"from $table |> where $condSql |> select ${selList.mkString(", ")} " +
        s"|> select $list"))
    }
    def finish(n: Long): DataFrame = retDf.getOrElse(countDf(spark, n))
    // recorded NOT NULL/CHECK guard the rewritten rows map-side; a SET
    // list touching PRIMARY KEY/UNIQUE columns can collapse keys into
    // duplicates (`UPDATE t SET pk = 1`, DuckDB raises), so those key sets
    // are re-verified over the materialized shadow before the swap. Opt-in
    // FK enforcement (probed DuckDB 1.0): the FKs the SET list assigns
    // re-resolve the POST-update matched rows; reassigning a key some
    // recorded FK references violates when the OLD value is still
    // referenced — even when unchanged (DuckDB rejects `SET k = k`).
    val guards = new TableConstraints.WriteGuards(spark, table, cons, "UPDATE", byCol.keySet)
    guards.checkTouchedFks(
      psql.sql(s"from $table |> where $condSql |> select ${selList.mkString(", ")}"))
    guards.checkStillReferenced(psql.sql(s"from $table |> as $tAs where $condSql"))
    // partition-pruned path (same shape as DELETE's): only partitions with
    // matching rows are rewritten. Requires the SET list to leave partition
    // columns untouched — an assigned partition column can MOVE rows across
    // directories, where only the full rewrite relocates correctly — and no
    // key-touching SET (the uniqueness re-check must see the WHOLE table:
    // a collapsed key can collide with a row in an untouched partition).
    // Every affected partition keeps ≥1 row (its own, updated in place), so
    // the dynamic overwrite covers all of them — no drops needed.
    cond.foreach { c =>
      if (!guards.keysTouched &&
          !partitionColsOf(spark, table).exists(p => byCol.contains(p.toLowerCase))) {
        // raw condition: WHERE treats NULL as false, and stays prunable
        affectedPartitions(psql, spark, table, s"($c)").foreach { case (pcols, parts) =>
          if (parts.isEmpty) return finish(0L)
          val affPred = partitionPredicate(pcols, parts.map(_._1))
          val updated = psql.sql(
            s"from $table |> where ($affPred) |> select ${selList.mkString(", ")}")
          withDynamicOverwrite(spark) {
            guards(updated).write.mode(SaveMode.Overwrite).insertInto(table)
          }
          return finish(parts.map(_._2).sum)
        }
      }
    }
    val affected = matchedCount(psql, spark, table, cond)
    val next = psql.sql(s"from $table |> select ${selList.mkString(", ")}")
    cowSwap(spark, table, guards(next),
      validateShadow = if (guards.keysTouched) guards.recheckKeys else null)
    finish(affected)
  }

  /** Rows a DELETE or UPDATE condition matches (NULL counts as false): one
    * count job.
    */
  private def matchedCount(psql: Psql, spark: SparkSession, table: String,
      cond: Option[String]): Long = cond match {
    case Some(c) =>
      psql.sql(s"from $table |> as ${aliasOf(table)} where coalesce(($c), false) " +
        "|> select count(*) as n").collect()(0).getLong(0)
    case None => spark.table(table).count()
  }

  /** `INSERT INTO t [BY NAME] [(cols)] (VALUES …|<query>) [RETURNING
    * <exprs>]` — the front-end insert forms Spark lacks. BY NAME matches
    * source columns to target columns by NAME (probed DuckDB 1.0: every
    * source column must exist in the target; missing targets NULL-fill).
    * RETURNING yields the inserted rows (declared-type casts applied,
    * unlisted columns NULL), materialized once: the SAME rows feed the
    * table append and the RETURNING projection, so a self-referencing
    * `INSERT … SELECT FROM t` reads the pre-insert snapshot exactly as
    * DuckDB does (probed).
    */
  private def insertFrontend(spark: SparkSession, head: InsertHead,
      retOpt: Option[String], target: (String, TableConstraints.Constraints)): DataFrame = {
    val batch = insertBatch(spark, head, target)
    val table = batch.table
    // recorded constraints: NOT NULL/CHECK guards fuse into the write scan
    // (raise_error, map-side); PRIMARY KEY uniqueness is one batch-sized
    // aggregate + a key-pruned broadcast-semi probe of the table
    val guards = new TableConstraints.WriteGuards(spark, table, batch.cons, "INSERT into")
    // ONE count, the checkpoint's first pass, serves the probe's broadcast
    // guard AND the DuckDB Count result shape
    val (proj, nRows) = Materialize.by(batch.rows)(_.count())
    guards.checkBatchKeys(proj, nRows, batch.keyUnique)
    guards.checkInserts(proj)
    guards(proj).write.mode(SaveMode.Append).insertInto(table)
    retOpt match {
      case Some(list) =>
        val retView =
          "graft_ins_ret_" + java.util.UUID.randomUUID.toString.replace("-", "")
        proj.createOrReplaceTempView(retView)
        // statement-scoped: the RETURNING projection analyzes eagerly
        // (temp-view plans inline at analysis), so the view drops here
        try Psql(spark).sql(s"from $retView |> select $list")
        finally spark.catalog.dropTempView(retView)
      case None => countDf(spark, nRows) // DuckDB's Count shape
    }
  }

  /** An INSERT batch: the resolved target, its schema and recorded
    * constraints, the listed target columns, the full-schema rows, and the
    * (lower-case) column sets Catalyst proved unique in the batch's plan.
    * Each caller checkpoints `rows` under its first full pass
    * ([[Materialize.by]]), before any mutation, so appending AND projecting
    * see the same rows, and a self-referencing `INSERT … SELECT FROM t`
    * reads the pre-insert snapshot as DuckDB does.
    */
  private final case class InsertBatch(table: String,
      fields: Seq[org.apache.spark.sql.types.StructField],
      cons: TableConstraints.Constraints, listed: Seq[String],
      rows: DataFrame, uniqueKeys: Seq[Set[String]]) {
    /** True when the plan alone proves `keys` unique across the batch. */
    def keyUnique(keys: Seq[String]): Boolean = {
      val ks = keys.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      uniqueKeys.exists(u => u.nonEmpty && u.subsetOf(ks))
    }
  }

  /** Build the batch of a parsed INSERT head, projected to the target's FULL schema — declared-type casts (GraftCast
    * assignment semantics for integer/boolean targets), unlisted columns
    * NULL-filled.
    */
  private def insertBatch(spark: SparkSession, head: InsertHead,
      target: (String, TableConstraints.Constraints)): InsertBatch = {
    val (table, cons) = target
    require(spark.catalog.tableExists(table), s"INSERT target '$table' does not exist")
    val fields = spark.table(table).schema.fields.toSeq
    val (byName, cols) = (head.byName, head.cols)
    cols.foreach(_.foreach { c =>
      require(fields.exists(_.name.equalsIgnoreCase(c)), s"INSERT: column '$c' not in $table")
    })
    head.malformed.foreach(m => throw new IllegalArgumentException(m))
    val source1 = head.source
    // `DEFAULT VALUES` — one all-defaults row (probed DuckDB; rejected
    // after a column list, matching its parser) — lowers to a VALUES
    // tuple of DEFAULT keywords, which the rewrite below resolves
    val source0 =
      if (!byName && head.defaultValuesEnd >= 0 &&
          nextCode(source1, scan(source1), head.defaultValuesEnd) < 0) {
        require(cols.isEmpty,
          "INSERT: DEFAULT VALUES cannot follow a column list (DuckDB parser rule)")
        "values (" + fields.map(_ => "default").mkString(", ") + ")"
      } else source1
    // DuckDB's bare DEFAULT keyword in VALUES tuples: positionally resolve
    // each to the column's recorded default (NULL when none, DuckDB's rule)
    val source =
      if (!byName && matchesWord(source0, 0, "values"))
        rewriteValuesDefaults(source0, cols.getOrElse(fields.map(_.name)), fields, table,
          cons.defaults)
      else source0
    val psql = Psql(spark)
    val srcDf =
      if (matchesWord(source, 0, "values")) spark.sql(s"SELECT * FROM $source")
      else psql.sql(source)
    val names: Seq[String] =
      if (byName) srcDf.columns.toSeq.map { c =>
        fields.find(_.name.equalsIgnoreCase(c)).getOrElse(throw
          new IllegalArgumentException(
            s"INSERT BY NAME: source column '$c' is not in $table")).name
      } else cols.getOrElse(fields.map(_.name))
    require(names.map(_.toLowerCase).distinct.size == names.size,
      s"INSERT: duplicate target column in ${names.mkString(", ")}")
    require(srcDf.columns.length == names.length,
      s"INSERT: ${names.length} target columns but the source has " +
        s"${srcDf.columns.length}")
    // synthetic source names (VALUES columns / expression labels are not
    // reference-safe), then declared-type casts via the PSQL projection so
    // GraftCast applies to integer/boolean targets
    val view = "graft_ins_src_" + java.util.UUID.randomUUID.toString.replace("-", "")
    srcDf.toDF(names.indices.map(i => s"__graft_c$i"): _*).createOrReplaceTempView(view)
    // unlisted columns take their recorded DEFAULT (DuckDB applies
    // defaults whenever a column is not specified), NULL otherwise
    val sel = fields.map { f =>
      names.indexWhere(_.equalsIgnoreCase(f.name)) match {
        case -1 =>
          cons.defaults.get(f.name.toLowerCase(java.util.Locale.ROOT)) match {
            case Some(e) => s"cast(($e) as ${f.dataType.sql}) as ${f.name}"
            case None    => s"cast(null as ${f.dataType.sql}) as ${f.name}"
          }
        // an already-declared-type column passes through as a plain
        // alias: the cast is the identity, and the alias keeps the
        // source's provable key uniqueness visible (below)
        case i if srcDf.schema(i).dataType == f.dataType => s"__graft_c$i as ${f.name}"
        case i  => s"cast(__graft_c$i as ${f.dataType.sql}) as ${f.name}"
      }
    }
    val projected = psql.sql(s"from $view |> select ${sel.mkString(", ")}")
    // column sets Catalyst proves unique in the batch (a GROUP BY source's
    // keys, a DISTINCT) — read before the checkpoint hides the plan
    val uniqueKeys = projected.queryExecution.optimizedPlan.distinctKeys.toSeq
      .map(_.toSeq)
      .filter(_.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]))
      .map(_.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]
        .name.toLowerCase(java.util.Locale.ROOT)).toSet)
    spark.catalog.dropTempView(view)
    InsertBatch(table, fields, cons, names, projected, uniqueKeys)
  }

  /** DuckDB `INSERT INTO t [BY NAME] [(cols)] <source> ON CONFLICT [(keys)]
    * DO NOTHING | DO UPDATE SET … [WHERE …]` — the Postgres-style upsert
    * statement, lowered onto the keyed upsert
    * ([[MergeStatement.onConflict]]). Probed DuckDB 1.0 semantics, matched
    * exactly:
    *
    *  - Count = inserted + updated rows; a DO UPDATE WHERE that rejects a
    *    matched row counts 0 and leaves the row unchanged;
    *  - in DO UPDATE expressions BARE column names are the TARGET row and
    *    `excluded.col` the proposed insert row — bare names are qualified
    *    onto the target before lowering (the upsert join has both sides in
    *    scope, where Spark would call them ambiguous);
    *  - a batch proposing the same conflict key twice ERRORS on BOTH forms
    *    ("can not update the same row twice" / duplicate key — probed), as
    *    does a NULL conflict-key value (PRIMARY KEY is NOT NULL);
    *  - the conflict target is the explicit `(key columns)` list, or — for
    *    bare `ON CONFLICT`, like `INSERT OR REPLACE/IGNORE` — the table's
    *    recorded PRIMARY KEY (DuckDB's rule); a table without one fails
    *    loudly with a pointer to the explicit form.
    *
    * Job shape: the batch is checkpointed once; ONE aggregate (batch
    * left-joined to the target on the keys) raises the duplicate/NULL-key
    * error and returns the inserted and updated counts; then ONE write. A
    * statement that updates no row (always so for DO NOTHING) appends the
    * unmatched batch rows — never a table rewrite; otherwise the post-image
    * (target FULL JOIN batch) is copy-on-write swapped, or, on a
    * partitioned target, rides the partition-pruned MERGE rewrite.
    */
  private def insertOnConflict(spark: SparkSession, stmt0: String): DataFrame = {
    val (stmt, ret) = splitReturning(stmt0)
    require(ret.isEmpty,
      "INSERT … ON CONFLICT does not support RETURNING — query the table " +
        "after the statement")
    val sc = scan(stmt)
    val onPos = SqlScanner.topLevelKeyword(stmt, sc, Seq("on", "conflict")).last
    val head = stmt.substring(0, onPos).trim
    val confPos = nextCode(stmt, sc, onPos + 2) // start of CONFLICT
    var p = nextCode(stmt, sc, confPos + "conflict".length)
    require(p >= 0, "ON CONFLICT needs a conflict target or DO action")
    // explicit `(key columns)` target, or BARE form — inferred from the
    // table's recorded PRIMARY KEY (DuckDB's rule), resolved after the
    // target table is known
    val keyCols: Option[Seq[String]] =
      if (stmt.charAt(p) == '(') {
        val k = closeParen(stmt, sc, p)
        require(k >= 0, "ON CONFLICT: unbalanced conflict-target list")
        val cs = splitTopCommas(stmt.substring(p + 1, k)).map(_.trim)
        require(cs.nonEmpty && cs.forall(isIdent),
          "ON CONFLICT target must be a list of plain column names")
        p = nextCode(stmt, sc, k + 1)
        Some(cs)
      } else None
    require(p >= 0 && matchesWord(stmt, p, "do"),
      "ON CONFLICT needs DO NOTHING or DO UPDATE SET …")
    p = nextCode(stmt, sc, p + 2)
    require(p >= 0, "ON CONFLICT: dangling DO")
    val update: Option[(Seq[(String, String)], Option[String])] =
      if (matchesWord(stmt, p, "nothing")) {
        val trail = stmt.substring(p + "nothing".length).trim
        require(trail.isEmpty, s"unexpected text after DO NOTHING: '$trail'")
        None
      } else {
        require(matchesWord(stmt, p, "update"),
          "ON CONFLICT action must be DO NOTHING or DO UPDATE SET …")
        p = nextCode(stmt, sc, p + "update".length)
        require(p >= 0 && matchesWord(stmt, p, "set"), "DO UPDATE needs a SET list")
        val tail = stmt.substring(p + 3)
        val tsc = scan(tail)
        val wherePos = topLevelKeyword(tail, tsc, Seq("where")).headOption
        val setText = wherePos.map(w => tail.substring(0, w)).getOrElse(tail)
        val whereText = wherePos.map(w => tail.substring(w + "where".length).trim)
        whereText.foreach(w => require(w.nonEmpty, "DO UPDATE … WHERE needs a condition"))
        Some((parseSetList(setText), whereText))
      }
    val h = insertHead(head, "insert".length)
    conflictLower(spark, insertBatch(spark, h, insertTarget(spark, h)), keyCols, update)
  }

  /** Shared tail of ON CONFLICT / INSERT OR REPLACE / INSERT OR IGNORE:
    * key resolution (explicit target or recorded PRIMARY KEY) and DO-UPDATE
    * scoping, then the keyed upsert ([[MergeStatement.onConflict]]: one
    * guard-and-count aggregate, one write).
    * `update`: None = DO NOTHING; Some = DO UPDATE assignments + WHERE.
    */
  private def conflictLower(spark: SparkSession, batch: InsertBatch,
      keyColsOpt: Option[Seq[String]],
      update: Option[(Seq[(String, String)], Option[String])])
      : DataFrame = {
    val (table, fields) = (batch.table, batch.fields)
    val keyCols = keyColsOpt.getOrElse {
      val pk = batch.cons.primaryKey
      require(pk.nonEmpty,
        s"the conflict target could not be inferred: $table declares no " +
          "PRIMARY KEY — create the table with one, or spell the upsert as " +
          "`INSERT … ON CONFLICT (key columns) DO UPDATE SET …/DO NOTHING`")
      pk
    }
    val names = keyCols.map { kc =>
      fields.find(_.name.equalsIgnoreCase(kc)).getOrElse(throw
        new IllegalArgumentException(
          s"ON CONFLICT: key column '$kc' is not in $table")).name
    }
    // DuckDB scoping: bare target-column names in DO UPDATE expressions are
    // the TARGET row (probed: `SET v = v + excluded.v` adds old + proposed)
    // — qualified with the target's BARE alias (a db-qualified target's
    // merge-side alias is its bare table name)
    val targetCols = fields.map(_.name.toLowerCase).toSet
    val tAs = aliasOf(table)
    val qualified = update.map { case (assigns, where) =>
      (assigns.map { case (c, e) => (c, qualifyBareColumns(e, targetCols, tAs)) },
        where.map(w => qualifyBareColumns(w, targetCols, tAs)))
    }
    // FK enforcement: the inserted (unmatched) batch rows FK-check exactly
    // like INSERT, and DO UPDATE SET touching FK columns re-validates over
    // the shadow — a conflicting source row whose FK value never lands is
    // NOT checked (DuckDB takes the update branch before index maintenance
    // sees the proposed insert)
    val view = "graft_conf_src_" + java.util.UUID.randomUUID.toString.replace("-", "")
    try MergeStatement.onConflict(spark, table, batch.rows, view, names, qualified,
      batchKeyUnique = batch.keyUnique(names), batch.cons)
    finally spark.catalog.dropTempView(view)
  }

  /** DuckDB `INSERT OR REPLACE|IGNORE INTO t …` — shorthand upserts whose
    * conflict target is the table's PRIMARY KEY (recorded by
    * [[TableConstraints.create]]). REPLACE lowers to ON CONFLICT DO UPDATE
    * SET <every non-key column> = excluded.<col>; IGNORE to DO NOTHING.
    * A key-only table has nothing to replace, so REPLACE degenerates to
    * DO NOTHING (DuckDB's observable behavior: the row already equals the
    * proposed one).
    */
  private def insertOrX(spark: SparkSession, stmt0: String, orPos: Int): DataFrame = {
    val (stmt, ret) = splitReturning(stmt0)
    require(ret.isEmpty,
      "INSERT OR REPLACE/IGNORE does not support RETURNING — query the " +
        "table after the statement")
    val sc = scan(stmt)
    val m = nextCode(stmt, sc, orPos + 2)
    val replace =
      if (m >= 0 && matchesWord(stmt, m, "replace")) true
      else if (m >= 0 && matchesWord(stmt, m, "ignore")) false
      else throw new IllegalArgumentException(
        "INSERT OR … must be INSERT OR REPLACE or INSERT OR IGNORE")
    require(SqlScanner.topLevelKeyword(stmt, sc, Seq("on", "conflict")).isEmpty,
      "INSERT OR REPLACE/IGNORE already implies a conflict action — drop " +
        "the ON CONFLICT clause or use the plain INSERT … ON CONFLICT form")
    val head = insertHead("insert " +
      stmt.substring(m + (if (replace) "replace" else "ignore").length).trim, "insert".length)
    val batch = insertBatch(spark, head, insertTarget(spark, head))
    val table = batch.table
    val pk = batch.cons.primaryKey
    require(pk.nonEmpty,
      s"INSERT OR ${if (replace) "REPLACE" else "IGNORE"} infers its conflict " +
        s"target from a PRIMARY KEY, but $table declares none — create the " +
        "table with one, or spell the upsert as `INSERT … ON CONFLICT " +
        "(key columns) DO UPDATE SET …/DO NOTHING`")
    val update =
      if (!replace) None
      else {
        // probed DuckDB: a partial column list REPLACES only the LISTED
        // columns — unlisted ones keep the OLD row's values (NOT the
        // declared defaults; defaults apply only on the not-matched
        // INSERT side). A listing of key columns only has nothing to
        // set → DO NOTHING (probed count 0 on an existing key).
        val pkLower = pk.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val assigns = batch.listed
          .filterNot(c => pkLower.contains(c.toLowerCase(java.util.Locale.ROOT)))
          .map(c => (c, s"excluded.$c"))
        if (assigns.isEmpty) None else Some((assigns, None))
      }
    conflictLower(spark, batch, Some(pk), update)
  }

  /** Parse `col = expr[, …]` (top-level commas/equals only; LHS must be a
    * bare column name) — the SET list shape shared by UPDATE and
    * ON CONFLICT DO UPDATE.
    */
  private def parseSetList(setText: String): Seq[(String, String)] =
    splitTopCommas(setText).map(_.trim).filter(_.nonEmpty).map { part =>
      val psc = scan(part)
      var eq = -1
      var i = 0
      while (eq < 0 && i < part.length) {
        if (psc.topLevel(i) && part.charAt(i) == '=') eq = i else i += 1
      }
      require(eq > 0, s"malformed SET assignment '$part'")
      val lhs = part.substring(0, eq).trim
      require(isIdent(lhs),
        s"SET target must be a bare column name, got '$lhs'")
      (lhs, part.substring(eq + 1).trim)
    }

  /** Qualify bare identifiers naming target columns with `qualifier.` —
    * DuckDB's ON CONFLICT scoping resolves bare names to the target row,
    * but in the merge join BOTH sides carry every target column, so Spark
    * would reject them as ambiguous. Skips qualified references (`x.y` —
    * either side of the dot), function calls (`f(`), strings and comments
    * (scanner mask); `cols` must be lower-cased.
    */
  private[psql] def qualifyBareColumns(expr: String, cols: Set[String],
      qualifier: String): String = {
    val sc = scan(expr)
    val sb = new StringBuilder
    var i = 0
    while (i < expr.length) {
      val ch = expr.charAt(i)
      if (sc.code(i) && (Character.isLetter(ch) || ch == '_')) {
        var j = i + 1
        while (j < expr.length && (Character.isLetterOrDigit(expr.charAt(j)) ||
          expr.charAt(j) == '_')) j += 1
        val word = expr.substring(i, j)
        var pv = i - 1
        while (pv >= 0 && Character.isWhitespace(expr.charAt(pv))) pv -= 1
        val prevDot = pv >= 0 && expr.charAt(pv) == '.'
        var n = j
        while (n < expr.length && Character.isWhitespace(expr.charAt(n))) n += 1
        val nextDot = n < expr.length && expr.charAt(n) == '.'
        val nextParen = n < expr.length && expr.charAt(n) == '('
        if (!prevDot && !nextDot && !nextParen &&
            cols.contains(word.toLowerCase(java.util.Locale.ROOT)))
          sb.append(qualifier).append('.').append(word)
        else sb.append(word)
        i = j
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** Parse a `<rel> [AS] [alias]` fragment (table name or parenthesized
    * subquery) into (relation text, alias). A subquery requires an alias;
    * a bare table defaults to its own name.
    */
  private def relAlias(text0: String): (String, String) = {
    val text = text0.trim
    require(text.nonEmpty, "expected a relation")
    val sc = scan(text)
    val (rel, after): (String, Int) =
      if (text.charAt(0) == '(') {
        val k = closeParen(text, sc, 0)
        require(k >= 0, s"unbalanced subquery in '$text'")
        (text.substring(0, k + 1), k + 1)
      } else {
        val (n, e) = identifierAt(text, 0)
        (n, e)
      }
    var p = nextCode(text, sc, after)
    var alias = if (rel.startsWith("(")) "" else rel
    if (p >= 0 && matchesWord(text, p, "as")) p = nextCode(text, sc, p + 2)
    if (p >= 0) {
      val (a, e) = identifierAt(text, p)
      require(text.substring(e).trim.isEmpty,
        s"unexpected text after the relation alias: '${text.substring(e).trim}'")
      alias = a
    }
    require(alias.nonEmpty, s"a subquery relation needs an alias: '$text'")
    (rel, alias)
  }

  /** Normalize a possibly-qualified DML target name. DuckDB scripts
    * routinely spell the default namespace (`main.t` — DuckDB's default
    * schema; `memory.main.t` with its in-memory catalog; Spark's own
    * `spark_catalog.default.t`), and schema-organized dumps use
    * `CREATE SCHEMA s; INSERT INTO s.t …`. Lowering:
    *
    *  - `spark_catalog.` / `memory.` catalog prefixes strip (when no such
    *    DATABASE exists — an ATTACH'd namespace with that name wins);
    *  - `main.` maps to Spark's `default` database (DuckDB's default
    *    schema) unless a real database named `main` exists;
    *  - the current database's own prefix strips (bare-name code paths —
    *    warehouse-location cleanup, constraint loads — then apply);
    *  - any other single qualifier must name a REAL database and is kept —
    *    every front-end path below handles `db.t`.
    */
  private[psql] def resolveTarget(spark: SparkSession, name0: String): String = {
    if (!name0.contains('.')) return name0
    var parts = name0.split('.').toList
    require(parts.forall(_.nonEmpty), s"malformed qualified name '$name0'")
    if (parts.length == 3 &&
        (parts.head.equalsIgnoreCase("spark_catalog") ||
          (parts.head.equalsIgnoreCase("memory") &&
            !spark.catalog.databaseExists(parts.head))))
      parts = parts.tail
    require(parts.length <= 2,
      s"DML target '$name0': at most database.table qualification is supported")
    if (parts.length == 2) {
      if (parts.head.equalsIgnoreCase("main") &&
          !spark.catalog.databaseExists("main"))
        parts = "default" :: parts.tail
      if (parts.head.equalsIgnoreCase(spark.catalog.currentDatabase))
        parts = parts.tail
      else require(spark.catalog.databaseExists(parts.head),
        s"DML target '$name0': database '${parts.head}' does not exist")
    }
    parts.mkString(".")
  }

  /** Bare relation alias for a (possibly db-qualified) table name — the
    * `|> as <alias>` stages inside the DML lowerings need a plain
    * identifier, and DuckDB resolves references to an unaliased qualified
    * target by its bare table name.
    */
  private[psql] def aliasOf(table: String): String =
    table.substring(table.lastIndexOf('.') + 1)

  /** Parse a (plain) identifier starting at/after i0; returns (name, end). */
  private[psql] def identifierAt(stmt: String, i0: Int): (String, Int) = {
    var i = math.max(i0, 0)
    while (i < stmt.length && Character.isWhitespace(stmt.charAt(i))) i += 1
    var j = i
    while (j < stmt.length && (Character.isLetterOrDigit(stmt.charAt(j)) ||
      stmt.charAt(j) == '_' || stmt.charAt(j) == '.')) j += 1
    require(j > i, s"expected a table name at offset $i0")
    (stmt.substring(i, j), j)
  }

  /** DuckDB's read-only-attached refusal (probed 1.0 wording), thrown for
    * any write statement whose target lives in an ATTACH-created
    * namespace. Attachments are read-only by construction here (external
    * tables over the user's files); without this guard a plain INSERT
    * would ride Spark's native path and append files into the attached
    * directory.
    */
  private[psql] def checkNotAttached(spark: SparkSession, table: String,
      stmtType: String): Unit = {
    val db =
      if (table.contains('.')) table.substring(0, table.lastIndexOf('.'))
      else spark.catalog.currentDatabase
    if (AttachStatement.isAttached(spark, db))
      throw new IllegalArgumentException(
        s"""Cannot execute statement of type "$stmtType" on database """ +
          s""""$db" which is attached in read-only mode!""")
  }

  private[psql] def checkTarget(spark: SparkSession, name: String,
      stmtType: String = "UPDATE"): Unit = {
    checkNotAttached(spark, name, stmtType)
    // callers resolve through resolveTarget first: at most db.table here,
    // and a kept qualifier names a real database
    require(spark.catalog.tableExists(name), s"DML target '$name' does not exist")
    val t = spark.catalog.getTable(name)
    require(t.tableType == "MANAGED",
      s"DML target '$name' is ${t.tableType} — the copy-on-write lowering " +
        "rewrites the table's files, which is only safe for MANAGED warehouse " +
        "tables (CTAS/saveAsTable). Materialize the view into a table first.")
  }

  /** Materialize `next` into a shadow table, then swap it in. A
    * partitioned target keeps its partition layout through the swap —
    * silently flattening the b02-style layout would break every
    * partition-pruned scan downstream of the DML. `validateShadow` runs
    * over the MATERIALIZED shadow (so the check costs a key-pruned scan of
    * written files, never a second plan execution) BEFORE the swap — a
    * throwing validation drops the shadow and leaves the target untouched.
    */
  private[psql] def cowSwap(spark: SparkSession, table: String, next: DataFrame,
      validateShadow: DataFrame => Unit = null): Unit = {
    val pcols = partitionColsOf(spark, table)
    // user-level table properties (constraint metadata, COMMENT ON) must
    // survive the swap — the shadow is a fresh table that knows none of them
    val keepProps =
      try spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
        .properties.filter { case (k, _) =>
          k.startsWith("graft.") || k == "comment" || k.startsWith("comment.") }
      catch { case _: Throwable => Map.empty[String, String] }
    val tmp = table + "__graft_cow"
    graft.operators.Bucketing.dropTableAndLocation(spark, tmp)
    val w = next.write.mode(SaveMode.Overwrite).format("parquet")
    (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w).saveAsTable(tmp)
    if (validateShadow != null) {
      try validateShadow(spark.table(tmp))
      catch { case e: Throwable =>
        graft.operators.Bucketing.dropTableAndLocation(spark, tmp)
        throw e
      }
    }
    graft.operators.Bucketing.dropTableAndLocation(spark, table)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    TableConstraints.setProps(spark, table, keepProps)
    // RENAME moves the table directory but the catalog's PARTITION entries
    // keep their old locations (probed: scans then read zero files) — re-sync
    // them from the filesystem
    if (pcols.nonEmpty) spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
  }

  /** Partition columns of a DML target — read from the catalog entry (a
    * metadata lookup; no Dataset is built or collected).
    */
  private[psql] def partitionColsOf(spark: SparkSession, table: String): Seq[String] =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .partitionColumnNames

  /** SQL literal for a collected partition value, in a WHERE predicate or
    * an ALTER TABLE … PARTITION spec (which folds the `date '…'` typed
    * literal to its string); None for types the pruned path does not
    * render (→ full rewrite).
    */
  private[psql] def whereLit(v: Any): Option[String] = v match {
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Byte => Some(v.toString)
    case b: java.lang.Boolean => Some(b.toString)
    case d: java.sql.Date => Some(s"date '$d'")
    case d: java.time.LocalDate => Some(s"date '$d'")
    case _ => None // null partitions (__HIVE_DEFAULT_PARTITION__), exotic types
  }

  /** Affected-partition ceiling of the pruned paths: past it the literal
    * partition predicate grows unwieldy and the whole-table rewrite is the
    * honest plan.
    */
  private[psql] def partitionCap(pcols: Seq[String]): Int =
    if (pcols.size == 1) 10000 else 1000

  /** Drop the partitions a statement emptied: a dynamic overwrite writes no
    * rows there, so it leaves their old files in place.
    */
  private[psql] def dropPartitions(spark: SparkSession, table: String,
      pcols: Seq[String], parts: Seq[Seq[Any]]): Unit =
    parts.foreach { vals =>
      val spec = pcols.zip(vals).map { case (p, v) => s"$p = ${whereLit(v).get}" }.mkString(", ")
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)")
    }

  /** Per-partition affected-row counts for a DML predicate: one aggregate
    * over `WHERE <cond>`, so when the predicate constrains partition
    * columns Catalyst prunes this scan to the affected directories — a
    * `DELETE WHERE day = …` at 100 TB never reads the other days at ALL,
    * in any of its passes. Returns only partitions containing affected
    * rows. None when the table is unpartitioned, a partition value is
    * unrenderable, or the affected-partition count exceeds the
    * literal-predicate cap (then the whole-table rewrite is the honest
    * plan anyway).
    */
  private def affectedPartitions(psql: Psql, spark: SparkSession, table: String,
      condSql: String): Option[(Seq[String], Seq[(Seq[Any], Long)])] = {
    val pcols = partitionColsOf(spark, table)
    if (pcols.isEmpty) return None
    val cap = partitionCap(pcols)
    val rows = psql.sql(
      s"""from $table |> as ${aliasOf(table)} where $condSql
         ||> select ${pcols.mkString(", ")}, count(*) as __n_aff
         |  group by ${pcols.mkString(", ")}""".stripMargin).limit(cap + 1).collect()
    if (rows.length > cap) return None
    val parts = rows.map { r =>
      (pcols.indices.map(r.get), r.getLong(pcols.size))
    }
    if (parts.exists(_._1.exists(v => whereLit(v).isEmpty))) return None
    Some((pcols, parts.toSeq))
  }

  /** `p IN (…)` / OR-of-ANDs predicate selecting exactly the given
    * partitions — literal, so Catalyst prunes the scan AND the dynamic
    * overwrite touches only these directories.
    */
  private[psql] def partitionPredicate(pcols: Seq[String], parts: Seq[Seq[Any]]): String =
    if (pcols.size == 1)
      s"${pcols.head} in (${parts.map(p => whereLit(p.head).get).mkString(", ")})"
    else parts.map { p =>
      pcols.zip(p).map { case (c, v) => s"$c = ${whereLit(v).get}" }
        .mkString("(", " and ", ")")
    }.mkString(" or ")

  private[psql] def withDynamicOverwrite[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private[psql] def countDf(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("Count")
  }

}
