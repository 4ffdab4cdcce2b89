package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScanner.{matchesWord, nextCode, scan}

/** DuckDB maintenance statements — `ANALYZE`, `VACUUM [ANALYZE]`,
  * `[FORCE] CHECKPOINT`, `COMMENT ON TABLE/COLUMN/VIEW … IS …` — mapped to
  * their Spark-session equivalents.
  *
  * The reference delegates every statement to DuckDB (`README.md:3,91`),
  * whose dialect accepts all of these (probed 1.0: each returns zero rows
  * with a `Success` shape). Without this pass they die in Spark's parser,
  * so the routine housekeeping a reference user types daily would fail.
  * Mapping policy (same contract as [[SessionOptions]]: faithful mapping,
  * documented no-op, or loud failure — never silent acceptance):
  *
  *  - `ANALYZE [t]` / `VACUUM ANALYZE [t]` → Spark `ANALYZE TABLE …
  *    COMPUTE STATISTICS` — DuckDB recomputes its per-column sample
  *    statistics; Spark's analog feeds row-count/size stats into the
  *    cost-based optimizer and broadcast-join threshold decisions, which
  *    is exactly what a user running ANALYZE wants at 100 TB. The
  *    EXPLICIT-table form also computes per-column stats (`FOR ALL
  *    COLUMNS` — a full scan, justified for one named table); the bare
  *    form computes table-level stats for every table in the current
  *    database (one lightweight pass per table, never the column scan —
  *    at warehouse scale an implicit full-column scan of everything would
  *    be a footgun).
  *  - `VACUUM` (bare) → documented no-op: DuckDB's own VACUUM "does not
  *    reclaim space" (it exists for Postgres compatibility) and the
  *    columnar-file analog — compaction — has an explicit operator
  *    ([[graft.operators.Bucketing.compact]], b04) a user must aim at a
  *    table deliberately.
  *  - `[FORCE] CHECKPOINT` → documented no-op: DuckDB flushes its WAL to
  *    the database file; Spark tables have no WAL — every committed write
  *    is already durable in the warehouse directory, so "sync to disk"
  *    has nothing pending by construction.
  *  - `COMMENT ON TABLE/VIEW t IS 'x'|NULL` → table property `comment`
  *    (`ALTER TABLE/VIEW … SET TBLPROPERTIES` / `UNSET` on NULL);
  *    `COMMENT ON COLUMN t.c IS 'x'|NULL` → `ALTER TABLE … ALTER COLUMN
  *    … COMMENT` (NULL → empty comment; Spark's DESCRIBE then shows it
  *    blank — documented seam: Spark column metadata has no "no comment"
  *    state distinct from ''). Other COMMENT ON object classes (INDEX,
  *    SEQUENCE, MACRO …) have no Spark object to carry the comment and
  *    THROW.
  *
  * All forms return the empty DataFrame (the repo's statement convention,
  * matching DuckDB's zero rows).
  */
object MaintenanceStatements {

  /** `BEGIN` / `COMMIT` / `ROLLBACK` / `ABORT`: refused loudly. */
  def transaction(spark: SparkSession, stmt: String): Nothing =
    throw new IllegalArgumentException(
      "multi-statement transactions are not available on a Spark warehouse " +
        "(each write statement commits atomically on its own; the DML/MERGE " +
        "lowerings are shadow-first crash-safe) — remove the " +
        "BEGIN/COMMIT/ROLLBACK wrapper and rely on per-statement atomicity")

  /** `INSTALL <ext> [FROM community]` / `LOAD <ext>` — the reference's own
    * setup statements (`README.md:98,104`: `install psql from community;
    * load psql;`). Every capability those extensions add in DuckDB is
    * BUILT IN here (psql = this front-end; httpfs = the HTTP path scans;
    * json/parquet = native Spark readers; icu = JVM time zones; fts = the
    * real PRAGMA create_fts_index / match_bm25 surface in [[FtsIndex]],
    * backed by persisted index tables), so the known names are accepted as
    * no-ops — a reference user's init script runs unchanged. Unknown
    * extensions throw: pretending to load code we do not have would
    * misrepresent the session's capabilities.
    */
  def installLoad(spark: SparkSession, stmt: String, kw: String): DataFrame = {
    val rest = afterWord(stmt, kw)
    val (name, after) = DmlStatements.identifierAt(rest, 0)
    val trail = rest.substring(after).trim.toLowerCase(java.util.Locale.ROOT)
    require(trail.isEmpty || trail == "from community" || trail == "from core_nightly",
      s"${kw.toUpperCase(java.util.Locale.ROOT)}: unexpected trailing '$trail'")
    val builtIn = Set("psql", "httpfs", "json", "parquet", "icu", "fts", "autocomplete")
    if (!builtIn.contains(name.toLowerCase(java.util.Locale.ROOT)))
      throw new IllegalArgumentException(
        s"${kw.toUpperCase(java.util.Locale.ROOT)} '$name': no such loadable " +
          "extension here — the built-in surface already covers " +
          builtIn.mkString(", "))
    spark.emptyDataFrame
  }

  private def afterWord(s: String, w: String): String = s.substring(w.length).trim

  /** `ANALYZE` (all tables, table-level stats) or `ANALYZE t` (one table,
    * incl. per-column stats). Views are skipped in the bare form (nothing
    * to analyze) and rejected by Spark's own DDL in the named form. Spark's
    * own `ANALYZE TABLE … COMPUTE STATISTICS` spelling declines (None).
    */
  def analyze(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val rest = afterWord(stmt, "analyze")
    if (matchesWord(rest, 0, "table")) None else Some(analyzeTables(spark, rest))
  }

  private def analyzeTables(spark: SparkSession, rest: String): DataFrame = {
    if (rest.isEmpty) {
      spark.catalog.listTables().collect()
        .filter(t => t.tableType == "MANAGED" || t.tableType == "EXTERNAL")
        .foreach(t => spark.sql(s"ANALYZE TABLE ${t.name} COMPUTE STATISTICS"))
    } else {
      val (table, after) = DmlStatements.identifierAt(rest, 0)
      require(rest.substring(after).trim.isEmpty,
        s"ANALYZE takes at most a table name, got trailing '${rest.substring(after).trim}'")
      spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    spark.emptyDataFrame
  }

  /** `VACUUM` = no-op (DuckDB parity); `VACUUM ANALYZE [t]` = ANALYZE. */
  def vacuum(spark: SparkSession, stmt: String): DataFrame = {
    val rest = afterWord(stmt, "vacuum")
    if (matchesWord(rest, 0, "analyze")) analyzeTables(spark, afterWord(rest, "analyze"))
    else if (rest.isEmpty) spark.emptyDataFrame
    else {
      // `VACUUM t` — DuckDB accepts and does nothing beyond stats upkeep;
      // validate the name so a typo is not silently "vacuumed"
      val (table, after) = DmlStatements.identifierAt(rest, 0)
      require(rest.substring(after).trim.isEmpty,
        s"VACUUM takes at most a table name, got trailing '${rest.substring(after).trim}'")
      require(spark.catalog.tableExists(table), s"VACUUM: table '$table' does not exist")
      spark.emptyDataFrame
    }
  }

  /** `FORCE CHECKPOINT`; None for any other FORCE statement. */
  def force(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val rest = afterWord(stmt, "force")
    if (matchesWord(rest, 0, "checkpoint")) Some(checkpoint(spark, rest)) else None
  }

  def checkpoint(spark: SparkSession, stmt: String): DataFrame = {
    val rest = afterWord(stmt, "checkpoint")
    require(rest.isEmpty,
      s"CHECKPOINT takes no arguments here (DuckDB's optional database name " +
        s"has no Spark analog), got '$rest'")
    spark.emptyDataFrame
  }

  /** `ON TABLE|VIEW t IS 'x'|NULL` / `ON COLUMN t.c IS 'x'|NULL`. */
  def comment(spark: SparkSession, stmt: String): DataFrame = {
    val rest0 = afterWord(stmt, "comment")
    require(matchesWord(rest0, 0, "on"), "COMMENT must be `COMMENT ON <class> <name> IS <text>`")
    val rest = afterWord(rest0, "on")
    val sc = scan(rest)
    val clsEnd = rest.indexWhere(Character.isWhitespace)
    require(clsEnd > 0, "COMMENT ON needs an object class and name")
    val cls = rest.substring(0, clsEnd).toLowerCase(java.util.Locale.ROOT)
    val (name, afterN) = DmlStatements.identifierAt(rest, clsEnd)
    val isPos = nextCode(rest, sc, afterN)
    require(isPos >= 0 && matchesWord(rest, isPos, "is"),
      "COMMENT ON must be `COMMENT ON <class> <name> IS <text>`")
    val valueText = rest.substring(isPos + 2).trim
    val value: Option[String] =
      if (valueText.equalsIgnoreCase("null")) None
      else {
        require(valueText.length >= 2 && valueText.head == '\'' && valueText.last == '\'',
          s"COMMENT text must be a string literal or NULL, got '$valueText'")
        Some(valueText.substring(1, valueText.length - 1).replace("''", "'"))
      }
    def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"
    cls match {
      case "table" | "view" =>
        val kw = if (cls == "view") "VIEW" else "TABLE"
        require(!name.contains('.'),
          s"COMMENT ON $kw '$name': qualified names are not supported")
        value match {
          case Some(v) =>
            spark.sql(s"ALTER $kw $name SET TBLPROPERTIES ('comment' = ${sqlLit(v)})")
          case None =>
            spark.sql(s"ALTER $kw $name UNSET TBLPROPERTIES IF EXISTS ('comment')")
        }
      case "column" =>
        val dot = name.lastIndexOf('.')
        require(dot > 0 && dot < name.length - 1,
          s"COMMENT ON COLUMN needs `table.column`, got '$name'")
        val (table, col) = (name.substring(0, dot), name.substring(dot + 1))
        require(!table.contains('.'),
          s"COMMENT ON COLUMN '$name': qualified table names are not supported")
        // NULL → '' : Spark column metadata has no distinct "no comment"
        spark.sql(s"ALTER TABLE $table ALTER COLUMN $col COMMENT ${sqlLit(value.getOrElse(""))}")
      case other =>
        throw new IllegalArgumentException(
          s"COMMENT ON ${other.toUpperCase(java.util.Locale.ROOT)} has no Spark " +
            "object to carry the comment — supported classes: TABLE, VIEW, COLUMN")
    }
    spark.emptyDataFrame
  }
}
