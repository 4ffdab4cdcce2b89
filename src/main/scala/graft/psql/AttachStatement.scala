package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScanner.{isIdent, matchesWord, nextCode, scan}

/** DuckDB `ATTACH` / `DETACH` — multi-database catalogs, re-expressed
  * over Spark's catalog namespaces.
  *
  * DuckDB attaches a database FILE (`ATTACH 'other.duckdb' AS name`) and
  * exposes its tables as `name.table`. The Spark-native analog of "a
  * second database on disk" is a directory of columnar tables (a parquet
  * warehouse — exactly the layout the reference's users point DuckDB at
  * via parquet scans). `ATTACH '<dir>' AS name`:
  *
  *  - creates database `name` in the session catalog,
  *  - registers every recognizable entry in the directory as an EXTERNAL
  *    table (`name.t`): `t.parquet` / `t.csv` / `t.json` files and `t/`
  *    subdirectories (parquet datasets, incl. partitioned layouts) —
  *    external means DETACH/DROP never touches the files, the attachment
  *    is read-only by construction (DML's MANAGED-only guard refuses
  *    writes to attached tables);
  *  - qualified `name.t` then resolves through Spark's own analyzer in
  *    both plain SQL and pipe heads (`from name.t |> …`) — no custom
  *    resolution path to maintain, and every scan gets Catalyst's
  *    pushdown/pruning as usual.
  *
  * `DETACH [IF EXISTS] name` drops the namespace (CASCADE over the
  * external table entries; data untouched). `READ_ONLY` options are
  * accepted and ignored — attachments are already read-only.
  *
  * Non-identifier entry names are skipped (a warehouse directory may hold
  * stray files); everything else registers eagerly so SHOW TABLES IN name
  * is complete immediately. Listing uses the Hadoop FileSystem API, so
  * attached paths work on any cluster filesystem, not just local disk.
  */
object AttachStatement {

  /** True when `db` was created by ATTACH (marker database property) —
    * the DML lowerings then refuse writes with DuckDB's read-only-mode
    * wording. Catalog-metadata read only.
    */
  def isAttached(spark: SparkSession, db: String): Boolean =
    try spark.catalog.databaseExists(db) &&
      spark.sessionState.catalog.getDatabaseMetadata(db)
        .properties.get("graft.attached").contains("true")
    catch { case _: Throwable => false }

  def attach(spark: SparkSession, stmt: String): DataFrame = {
    val sc = scan(stmt)
    var p = nextCode(stmt, sc, "attach".length)
    require(p >= 0, "ATTACH needs a path: ATTACH '<dir>' AS <name>")
    if (matchesWord(stmt, p, "database")) p = nextCode(stmt, sc, p + "database".length)
    if (matchesWord(stmt, p, "if")) throw new IllegalArgumentException(
      "ATTACH IF NOT EXISTS is not supported — DETACH first")
    require(p >= 0 && stmt.charAt(p) == '\'',
      "ATTACH needs a quoted path: ATTACH '<dir>' AS <name>")
    val q2 = stmt.indexOf('\'', p + 1)
    require(q2 > p, "ATTACH: unterminated path literal")
    val path = stmt.substring(p + 1, q2)
    var r = nextCode(stmt, sc, q2 + 1)
    val name: String =
      if (r >= 0 && matchesWord(stmt, r, "as")) {
        val (n, e) = DmlStatements.identifierAt(stmt, r + 2)
        r = nextCode(stmt, sc, e)
        n
      } else {
        // DuckDB default: the file's basename without extension
        val base = path.stripSuffix("/").split('/').last
        val dot = base.indexOf('.')
        if (dot > 0) base.substring(0, dot) else base
      }
    // trailing options: accepted, read-only is a no-op (already true)
    if (r >= 0) {
      val opts = stmt.substring(r).trim
      require(opts.equalsIgnoreCase("(read_only)") || opts.isEmpty,
        s"ATTACH: unsupported options '$opts' (only READ_ONLY is recognized)")
    }
    require(isIdent(name),
      s"ATTACH: database name must be a plain identifier, got '$name'")
    require(!spark.catalog.databaseExists(name),
      s"""ATTACH: database "$name" already exists — DETACH it first""")

    // the reference dialect's literal `ATTACH 'other.duckdb'` points at a
    // DuckDB single-file database — a format no Spark reader understands.
    // Name the working bridge instead of failing with a generic listing
    // error: EXPORT DATABASE (in DuckDB) writes a directory this ATTACH
    // reads directly.
    val lowerPath = path.toLowerCase(java.util.Locale.ROOT)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    // a .duckdb suffix only means "single-file database" when the path IS a
    // file (or does not exist); a perfectly valid exported DIRECTORY that
    // happens to be named `corpus.db` attaches like any other directory
    if ((lowerPath.endsWith(".duckdb") || lowerPath.endsWith(".db") ||
        lowerPath.endsWith(".ddb")) &&
        (!fs.exists(hPath) || fs.getFileStatus(hPath).isFile))
      throw new IllegalArgumentException(
        s"ATTACH: '$path' looks like a DuckDB database FILE, which this " +
          "engine cannot read. Bridge it through a directory: in DuckDB run " +
          s"EXPORT DATABASE '<dir>' (FORMAT PARQUET), then ATTACH '<dir>' " +
          s"AS $name here (IMPORT DATABASE works on the same layout)")
    require(fs.exists(hPath) && fs.getFileStatus(hPath).isDirectory,
      s"ATTACH: '$path' is not a directory of tables — a DuckDB .duckdb " +
        "file must first be exported (EXPORT DATABASE '<dir>' (FORMAT " +
        "PARQUET) in DuckDB), then attached as that directory")
    val entries = fs.listStatus(hPath).toSeq
    val tables: Seq[(String, String, String)] = entries.flatMap { st =>
      val base = st.getPath.getName
      val dot = base.lastIndexOf('.')
      if (dot <= 0) {
        // extensionless DIRECTORY: a parquet dataset (incl. partitioned)
        if (st.isDirectory && isIdent(base))
          Some((base, st.getPath.toString, "parquet"))
        else None
      } else {
        // extension carries the format for files AND dataset directories
        // (Spark writes `t.parquet` as a directory of part files)
        val (stem, ext) = (base.substring(0, dot),
          base.substring(dot + 1).toLowerCase(java.util.Locale.ROOT))
        val fmt = ext match {
          case "parquet"                   => Some("parquet")
          case "csv"                       => Some("csv")
          case "json" | "jsonl" | "ndjson" => Some("json")
          case _                           => None
        }
        fmt.filter(_ => isIdent(stem))
          .map(f => (stem, st.getPath.toString, f))
      }
    }
    require(tables.nonEmpty, s"ATTACH: no recognizable tables under '$path'")
    // the marker [[isAttached]] reads: attached namespaces are read-only —
    // every DML lowering refuses them with DuckDB's wording
    spark.sql(s"CREATE DATABASE $name WITH DBPROPERTIES ('graft.attached'='true')")
    try tables.foreach { case (t, loc, fmt) =>
      val opts = Map("path" -> loc) ++
        (if (fmt == "csv") Map("header" -> "true", "inferSchema" -> "true")
         else Map.empty[String, String])
      spark.catalog.createTable(s"$name.$t", fmt, opts)
    } catch {
      case e: Throwable =>
        // half-registered namespaces would shadow a later retry
        try spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
        catch { case _: Throwable => () }
        throw e
    }
    spark.emptyDataFrame
  }

  def detach(spark: SparkSession, stmt: String): DataFrame = {
    val sc = scan(stmt)
    var p = nextCode(stmt, sc, "detach".length)
    require(p >= 0, "DETACH needs a database name")
    if (matchesWord(stmt, p, "database")) p = nextCode(stmt, sc, p + "database".length)
    var ifExists = false
    if (matchesWord(stmt, p, "if")) {
      val e = nextCode(stmt, sc, p + 2)
      require(e >= 0 && matchesWord(stmt, e, "exists"), "DETACH: expected IF EXISTS")
      ifExists = true
      p = nextCode(stmt, sc, e + "exists".length)
    }
    val (name, after) = DmlStatements.identifierAt(stmt, p)
    require(stmt.substring(after).trim.isEmpty,
      s"DETACH takes one database name, got trailing '${stmt.substring(after).trim}'")
    if (!spark.catalog.databaseExists(name)) {
      require(ifExists, s"""DETACH: database "$name" does not exist""")
      return spark.emptyDataFrame
    }
    require(name.toLowerCase(java.util.Locale.ROOT) != "default",
      "DETACH: cannot detach the default database")
    // external tables only: CASCADE drops catalog entries, never the files
    spark.sql(s"DROP DATABASE $name CASCADE")
    spark.emptyDataFrame
  }
}
