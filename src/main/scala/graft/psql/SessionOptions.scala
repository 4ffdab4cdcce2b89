package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScanner.{matchesWord, nextCode, scan}

/** DuckDB `SET` / `RESET` / `PRAGMA` session options, mapped onto
  * `spark.conf` equivalents.
  *
  * The reference delegates every statement to DuckDB (`README.md:3,91`),
  * so its users type DuckDB settings (`SET threads = 8`,
  * `PRAGMA memory_limit='4GB'`). Without this pass those fall through to
  * Spark's OWN `SET` statement, which accepts ANY key silently — a typo'd
  * or DuckDB-only option becomes a meaningless conf entry and the user
  * believes it took effect. Policy:
  *
  *  - options with a faithful Spark-session equivalent are MAPPED
  *    (`threads` → `spark.sql.shuffle.partitions`, `timezone` →
  *    `spark.sql.session.timeZone`); `RESET` restores the value captured
  *    at the first mapped `SET` of this session;
  *  - cosmetic/engine-tuning options with no Spark meaning and no
  *    correctness impact are accepted as documented NO-OPs (progress bar,
  *    object cache, insertion-order hints);
  *  - options whose promise Spark cannot keep at runtime THROW with the
  *    reason (`memory_limit`: executor memory is fixed at launch) —
  *    silently accepting them would misrepresent the engine's behavior;
  *  - anything else non-dotted throws DuckDB's own message shape
  *    (`unrecognized configuration parameter "x"`); dotted keys
  *    (`spark.sql.*`) pass through to Spark's native SET so Spark users
  *    keep their conf surface.
  *
  * Read-form PRAGMAs supported: `PRAGMA version` (one row, DuckDB's
  * column name `library_version`), `PRAGMA show_tables` (DuckDB's `name`
  * column, sorted), `PRAGMA table_info('t')` (DuckDB's six-column shape:
  * cid, name, type, notnull, dflt_value, pk).
  */
object SessionOptions {

  /** option → spark conf key + value normalizer (None = reject value). */
  private val mapped: Map[String, (String, String => Option[String])] = Map(
    "threads" -> (("spark.sql.shuffle.partitions",
      v => v.toIntOption.filter(_ > 0).map(_.toString))),
    "worker_threads" -> (("spark.sql.shuffle.partitions",
      v => v.toIntOption.filter(_ > 0).map(_.toString))),
    "timezone" -> (("spark.sql.session.timeZone", v => Some(v))),
    // opt-in FOREIGN KEY enforcement on the front-end insert paths
    // (TableConstraints.WriteGuards); FKs are recorded regardless
    "graft_enforce_foreign_keys" -> ((TableConstraints.FkEnforceConf,
      v => v.toLowerCase(java.util.Locale.ROOT) match {
        case "true" | "1"  => Some("true")
        case "false" | "0" => Some("false")
        case _             => None
      }))
  )

  /** Accepted no-ops: cosmetic or engine-tuning hints with no Spark
    * equivalent AND no correctness consequence.
    */
  private val noops: Set[String] = Set(
    "enable_progress_bar", "progress_bar_time", "enable_object_cache",
    "preserve_insertion_order", "checkpoint_threshold", "wal_autocheckpoint",
    "explain_output", "enable_profiling", "profiling_output")

  /** Options Spark cannot honor at runtime — throwing beats pretending. */
  private val unsupported: Map[String, String] = Map(
    "memory_limit" -> "executor memory is fixed at JVM launch (spark.executor.memory)",
    "max_memory" -> "executor memory is fixed at JVM launch (spark.executor.memory)",
    "temp_directory" -> "spill directories are fixed at launch (spark.local.dir)",
    "external_threads" -> "the scheduler pool is fixed at launch")

  /** Original values of mapped confs, captured at the first SET per
    * session so RESET can restore them.
    */
  private val originals =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Option[String]]()

  def set(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    var p = nextCode(stmt, sc, 3)
    if (p < 0) return None // bare `SET`: Spark's list-all form
    // DuckDB session variables: SET VARIABLE name = <expr>
    if (matchesWord(stmt, p, "variable"))
      return Some(SessionVariables.set(spark, stmt, p))
    // scope keywords: accepted and ignored (single-session engine)
    if (matchesWord(stmt, p, "session") || matchesWord(stmt, p, "global") ||
        matchesWord(stmt, p, "local"))
      p = nextCode(stmt, sc, p + (if (matchesWord(stmt, p, "global")) 6 else
        if (matchesWord(stmt, p, "local")) 5 else 7))
    if (p < 0) return None
    val (key, afterKey) = ident(stmt, p).getOrElse(return None)
    if (key.contains('.')) return None // spark.* conf: Spark's native SET
    var v = nextCode(stmt, sc, afterKey)
    if (v < 0) return None // `SET key` read form: Spark shows the value
    // `=` or postgres-style TO
    if (stmt.charAt(v) == '=') v += 1
    else if (matchesWord(stmt, v, "to")) v += 2
    else return None
    val value = unquote(stmt.substring(v).trim)
    Some(applyOption(spark, key.toLowerCase(java.util.Locale.ROOT), value))
  }

  def reset(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    val p = nextCode(stmt, sc, "reset".length)
    if (p < 0) return None
    if (matchesWord(stmt, p, "variable"))
      return Some(SessionVariables.reset(spark, stmt, p))
    val (key0, after) = ident(stmt, p).getOrElse(return None)
    if (key0.contains('.') || stmt.substring(after).trim.nonEmpty) return None
    val key = key0.toLowerCase(java.util.Locale.ROOT)
    mapped.get(key) match {
      case Some((conf, _)) =>
        Option(originals.get((sessionId(spark), conf))).foreach {
          case Some(orig) => spark.conf.set(conf, orig)
          case None       => spark.conf.unset(conf)
        }
        Some(spark.emptyDataFrame)
      case None if noops.contains(key) => Some(spark.emptyDataFrame)
      case None => Some(reject(key))
    }
  }

  def pragma(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    val p = nextCode(stmt, sc, "pragma".length)
    require(p >= 0, "PRAGMA needs an option name")
    val (key0, after) = ident(stmt, p).getOrElse(
      throw new IllegalArgumentException(s"PRAGMA: expected an option name in '$stmt'"))
    val key = key0.toLowerCase(java.util.Locale.ROOT)
    val rest = stmt.substring(after).trim
    key match {
      case "version" =>
        require(rest.isEmpty, s"PRAGMA version takes no arguments")
        import spark.implicits._
        return Some(Seq(("graft-spark " + spark.version))
          .toDF("library_version"))
      case "show_tables" =>
        require(rest.isEmpty, s"PRAGMA show_tables takes no arguments")
        return Some(spark.sql("SHOW TABLES")
          .selectExpr("tableName as name").orderBy("name"))
      case "table_info" =>
        val t = unquote(rest.stripPrefix("(").stripSuffix(")").trim)
        import spark.implicits._
        val fields = spark.table(t).schema.fields.toSeq
        // recorded constraint metadata surfaces exactly like DuckDB's
        // table_info: notnull true for NOT NULL + PK columns, dflt_value
        // as the expression text, pk flag per key column (probed shape)
        val cons = TableConstraints.load(spark, t)
        def has(cols: Seq[String], n: String) = cols.exists(_.equalsIgnoreCase(n))
        return Some(fields.zipWithIndex.map { case (f, i) =>
          (i, f.name, f.dataType.sql, !f.nullable ||
              has(cons.notNull, f.name) || has(cons.primaryKey, f.name),
            cons.defaults.get(f.name.toLowerCase(java.util.Locale.ROOT)).orNull,
            has(cons.primaryKey, f.name))
        }.toDF("cid", "name", "type", "notnull", "dflt_value", "pk"))
      case "database_size" | "database_list" | "storage_info" =>
        throw new IllegalArgumentException(
          s"PRAGMA $key: no Spark equivalent (there is no single-file database)")
      case "create_fts_index" | "drop_fts_index" =>
        require(rest.startsWith("(") && rest.endsWith(")"),
          s"PRAGMA $key needs an argument list")
        val args = rest.substring(1, rest.length - 1)
        return Some(
          if (key == "create_fts_index") FtsIndex.createIndex(spark, args)
          else FtsIndex.dropIndex(spark, args))
      case _ => ()
    }
    // assignment forms: PRAGMA k = v and PRAGMA k(v)
    val value =
      if (rest.startsWith("=")) unquote(rest.substring(1).trim)
      else if (rest.startsWith("(") && rest.endsWith(")"))
        unquote(rest.substring(1, rest.length - 1).trim)
      else if (rest.isEmpty) "true" // flag form: PRAGMA enable_progress_bar
      else throw new IllegalArgumentException(s"PRAGMA: malformed '$stmt'")
    Some(applyOption(spark, key, value))
  }

  private def applyOption(spark: SparkSession, key: String, value: String): DataFrame =
    mapped.get(key) match {
      case Some((conf, normalize)) =>
        val v = normalize(value).getOrElse(throw new IllegalArgumentException(
          s"SET $key: invalid value '$value'"))
        originals.putIfAbsent((sessionId(spark), conf), spark.conf.getOption(conf))
        spark.conf.set(conf, v)
        spark.emptyDataFrame
      case None if noops.contains(key) => spark.emptyDataFrame
      case None if unsupported.contains(key) =>
        throw new IllegalArgumentException(
          s"SET $key is not supported here: ${unsupported(key)}")
      case None => reject(key)
    }

  private def reject(key: String): Nothing =
    throw new IllegalArgumentException(
      s"""unrecognized configuration parameter "$key" — Spark confs keep their""" +
        " dotted names (SET spark.sql.… = …)")

  private def sessionId(spark: SparkSession): String =
    System.identityHashCode(spark).toString

  private def ident(stmt: String, i0: Int): Option[(String, Int)] = {
    var j = i0
    while (j < stmt.length && (Character.isLetterOrDigit(stmt.charAt(j)) ||
      stmt.charAt(j) == '_' || stmt.charAt(j) == '.')) j += 1
    if (j > i0) Some((stmt.substring(i0, j), j)) else None
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'")
    else s
}
