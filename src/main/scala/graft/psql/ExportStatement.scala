package graft.psql

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import SqlScanner.{closeParen, matchesWord, nextCode, scan}

/** DuckDB `EXPORT DATABASE` / `IMPORT DATABASE` — whole-database
  * round-trips through a directory of columnar tables.
  *
  * DuckDB's EXPORT writes every table of the current database as a data
  * file plus `schema.sql`/`load.sql` scripts; IMPORT replays them. The
  * Spark-native shape is the same directory layout over the session
  * catalog's CURRENT database:
  *
  *  - `EXPORT DATABASE '<dir>' [(FORMAT PARQUET|CSV)]` writes every
  *    MANAGED table as `<dir>/<table>.parquet` (or `.csv` with header —
  *    DuckDB's default CSV export shape), plus a `schema.sql` of
  *    `CREATE TABLE` statements (declared Spark SQL types) and a
  *    `load.sql` of `COPY … FROM` statements, mirroring DuckDB's script
  *    pair. Views and external/attached tables are NOT exported — same
  *    as DuckDB, whose data files cover base tables only.
  *  - `IMPORT DATABASE '<dir>'` registers each data file's content as a
  *    MANAGED table in the current database (errors if a table already
  *    exists — DuckDB's behavior; nothing is half-imported because the
  *    existence check runs for ALL entries first).
  *
  * The exported directory is exactly the layout [[AttachStatement]]
  * attaches, so `EXPORT → ATTACH` gives a read-only published snapshot
  * and `EXPORT → IMPORT` a writable copy.
  *
  * Scale shape: one columnar write per table (no shuffle, no collect);
  * tables stream through the writers one at a time.
  */
object ExportStatement {

  private def pathAfterDatabase(stmt: String, kw: String): (String, Int) = {
    val sc = scan(stmt)
    var p = nextCode(stmt, sc, kw.length)
    require(p >= 0 && matchesWord(stmt, p, "database"),
      s"${kw.toUpperCase} must be `${kw.toUpperCase} DATABASE '<dir>'`")
    p = nextCode(stmt, sc, p + "database".length)
    require(p >= 0 && stmt.charAt(p) == '\'',
      s"${kw.toUpperCase} DATABASE needs a quoted directory path")
    val q2 = stmt.indexOf('\'', p + 1)
    require(q2 > p, s"${kw.toUpperCase} DATABASE: unterminated path literal")
    (stmt.substring(p + 1, q2), q2 + 1)
  }

  def export(spark: SparkSession, stmt: String): DataFrame = {
    val (path, after) = pathAfterDatabase(stmt, "export")
    val rest = stmt.substring(after).trim
    val format =
      if (rest.isEmpty) "parquet"
      else {
        val norm = rest.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
        norm match {
          case "(format parquet)" => "parquet"
          case "(format csv)"     => "csv"
          case other => throw new IllegalArgumentException(
            s"EXPORT DATABASE: unsupported options '$other' (FORMAT PARQUET|CSV)")
        }
      }
    val db = spark.catalog.currentDatabase
    val tables = spark.catalog.listTables(db).collect().toSeq
      .filter(_.tableType == "MANAGED").map(_.name).sorted
    val schemaSql = new StringBuilder
    val loadSql = new StringBuilder
    tables.foreach { t =>
      val df = spark.table(t)
      val target = s"$path/$t.$format"
      val w = df.write.mode(SaveMode.Overwrite)
      if (format == "csv") w.option("header", "true").csv(target)
      else w.parquet(target)
      // schema.sql is the CONSTRAINT carrier (DuckDB's own layout): column
      // defs in DuckDB type spellings + the recorded NOT NULL/DEFAULT and
      // table-level PRIMARY KEY/UNIQUE/CHECK/FK clauses — the script runs
      // in real DuckDB, and IMPORT re-records the metadata here
      val cons = TableConstraints.load(spark, t)
      val nnAll = (cons.notNull ++ cons.primaryKey).distinct
      val colDefs = df.schema.fields.map { f =>
        val nn = if (nnAll.exists(_.equalsIgnoreCase(f.name))) " NOT NULL" else ""
        val dflt = cons.defaults.get(f.name.toLowerCase(java.util.Locale.ROOT))
          .map(e => s" DEFAULT $e").getOrElse("")
        s"${f.name} ${DescribeStatement.duckTypeName(f.dataType)}$nn$dflt"
      }.toSeq
      val tableCons =
        (if (cons.primaryKey.nonEmpty)
          Seq(s"PRIMARY KEY (${cons.primaryKey.mkString(", ")})") else Nil) ++
        cons.uniques.map(u => s"UNIQUE (${u.mkString(", ")})") ++
        cons.checks.map(e => s"CHECK ($e)") ++
        cons.foreignKeys
      schemaSql.append(s"CREATE TABLE $t (${(colDefs ++ tableCons).mkString(", ")});\n")
      loadSql.append(s"COPY $t FROM '$target'" +
        (if (format == "csv") " (FORMAT CSV, HEADER)" else "") + ";\n")
    }
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    def writeText(name: String, content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(hPath, name), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    writeText("schema.sql", schemaSql.toString)
    writeText("load.sql", loadSql.toString)
    spark.emptyDataFrame
  }

  def importDb(spark: SparkSession, stmt: String): DataFrame = {
    val (path, after) = pathAfterDatabase(stmt, "import")
    require(stmt.substring(after).trim.isEmpty,
      s"IMPORT DATABASE takes only a path, got '${stmt.substring(after).trim}'")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(hPath), s"IMPORT DATABASE: '$path' does not exist")
    val entries = fs.listStatus(hPath).toSeq.flatMap { st =>
      val base = st.getPath.getName
      val dot = base.lastIndexOf('.')
      if (dot <= 0) None
      else base.substring(dot + 1).toLowerCase(java.util.Locale.ROOT) match {
        case "parquet" => Some((base.substring(0, dot), st.getPath.toString, "parquet"))
        case "csv"     => Some((base.substring(0, dot), st.getPath.toString, "csv"))
        case _         => None
      }
    }.sortBy(_._1)
    require(entries.nonEmpty, s"IMPORT DATABASE: no table files under '$path'")
    // all-or-nothing existence check BEFORE any write (DuckDB errors on
    // existing tables; checking first means nothing is half-imported)
    val existing = entries.map(_._1).filter(spark.catalog.tableExists)
    require(existing.isEmpty,
      s"IMPORT DATABASE: tables already exist: ${existing.mkString(", ")}")
    // constraint metadata rides schema.sql (DuckDB's carrier) — map each
    // CREATE TABLE's def-list body by table name for re-recording
    val defLists: Map[String, String] = {
      val sp = new org.apache.hadoop.fs.Path(hPath, "schema.sql")
      if (!fs.exists(sp)) Map.empty
      else {
        val in = fs.open(sp)
        val text =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val chunk = new Array[Byte](8192)
            var n = in.read(chunk)
            while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
            new String(buf.toByteArray, "UTF-8")
          } finally in.close()
        splitTopSemicolons(text).flatMap(parseCreateBody).toMap
      }
    }
    entries.foreach { case (t, loc, fmt) =>
      val df =
        if (fmt == "csv") spark.read.option("header", "true")
          .option("inferSchema", "true").csv(loc)
        else spark.read.parquet(loc)
      df.write.mode(SaveMode.ErrorIfExists).format("parquet").saveAsTable(t)
      defLists.get(t.toLowerCase(java.util.Locale.ROOT))
        .foreach(TableConstraints.recordFromDefList(spark, t, _))
    }
    spark.emptyDataFrame
  }

  /** Split script text on top-level semicolons (scanner-aware: semicolons
    * inside string literals or parens never split).
    */
  private def splitTopSemicolons(text: String): Seq[String] = {
    val sc = scan(text)
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    while (i < text.length) {
      if (sc.code(i) && sc.depth(i) == 0 && text.charAt(i) == ';') {
        out += text.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    out += text.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `(tableName, defListBody)` of a CREATE TABLE statement, else None. */
  private def parseCreateBody(stmt0: String): Option[(String, String)] = {
    val stmt = stmt0.trim
    val sc = scan(stmt)
    if (!matchesWord(stmt, 0, "create")) return None
    var p = nextCode(stmt, sc, "create".length)
    if (p < 0 || !matchesWord(stmt, p, "table")) return None
    val (name, afterName) =
      try DmlStatements.identifierAt(stmt, p + "table".length)
      catch { case _: IllegalArgumentException => return None }
    val open = nextCode(stmt, sc, afterName)
    if (open < 0 || stmt.charAt(open) != '(') return None
    val close = closeParen(stmt, sc, open)
    if (close < 0) return None
    Some((name.toLowerCase(java.util.Locale.ROOT), stmt.substring(open + 1, close)))
  }
}
