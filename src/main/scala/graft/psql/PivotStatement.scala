package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScanner.splitTopCommas

/** DuckDB's simplified statement-level `PIVOT` / `UNPIVOT` syntax.
  *
  * The reference delegates every statement to DuckDB (`README.md:3`,
  * `src/psql_extension.cpp:28-49`), whose dialect includes the simplified
  * dynamic pivot statements:
  *
  * {{{
  *   PIVOT <table|(subquery)> ON <expr> [IN (v, ...)] USING <agg> [AS a], ...
  *         [GROUP BY cols] [ORDER BY ...] [LIMIT ...]
  *   UNPIVOT <table|(subquery)> ON <col>|COLUMNS(* EXCLUDE (...)), ...
  *         [INTO NAME n VALUE v] [ORDER BY ...] [LIMIT ...]
  * }}}
  *
  * Spark only has the SQL-standard clause forms (`FROM t PIVOT (agg FOR c IN
  * (…))`, covered by gate rows q45/q46); the statement forms — and above all
  * the DYNAMIC value discovery when `IN` is omitted — have no Spark
  * equivalent, so this front-end lowers them:
  *
  *   - dynamic values: one bounded `SELECT DISTINCT … ORDER BY` probe per ON
  *     expression (DuckDB does the same two-phase binder trick; its docs call
  *     the statement "dynamic pivot"). The probe is capped at
  *     [[maxPivotColumns]] distinct values — at 100 TB a pivot with more
  *     output COLUMNS than that is a schema bug, not a query; the data scan
  *     itself stays distributed (a DISTINCT aggregate, then the real pivot).
  *   - multiple ON entries enumerate the cross product of their distinct
  *     value sets (DuckDB semantics), with names joined by `_`;
  *   - the pivot key is matched as a canonical string (`CAST(expr AS
  *     STRING)`), so values parse identically cross-engine; NULL pivot values
  *     produce no column (DuckDB behavior);
  *   - implicit grouping = every source column not referenced by ON or USING
  *     (DuckDB binder rule), overridable with GROUP BY;
  *   - multiple USING aggregates require aliases (names then match DuckDB's
  *     `<value>_<alias>`); a single unaliased aggregate names columns by the
  *     bare value, as DuckDB does.
  *
  * UNPIVOT lowers to Spark's UNPIVOT clause (NULL rows excluded on both
  * engines); `COLUMNS(*)`/`COLUMNS(* EXCLUDE (…))` expand against the bound
  * schema, and `INTO NAME … VALUE …` defaults to `name`/`value`.
  */
object PivotStatement {

  /** Widest pivot the dynamic probe will materialize (columns in the result
    * schema — NOT rows scanned; the probe itself is a distributed DISTINCT).
    */
  val maxPivotColumns = 10000

  // ------------------------------------------------------------------ PIVOT

  private[psql] def pivot(spark: SparkSession, stmt: String): DataFrame = {
    val afterKw = stmt.substring("pivot".length).trim
    val (srcRef, rest) = parseSource(spark, afterKw)
    val sc = SqlScanner.scan(rest)
    require(SqlScanner.matchesWord(rest, skipWs(rest, 0), "on"),
      "PIVOT statement needs an ON clause: PIVOT <source> ON <expr> USING <agg>")
    val onStart = skipWs(rest, 0) + 2
    val usingPos = firstKeyword(rest, sc, Seq(Seq("using"))).getOrElse(
      throw new IllegalArgumentException(
        "PIVOT statement needs a USING clause (DuckDB defaults to count(*); spell it explicitly here)"))
    val tailStart = firstKeyword(rest, sc, Seq(Seq("group", "by"), Seq("order", "by"), Seq("limit")))
      .getOrElse(rest.length)
    val onText = rest.substring(onStart, usingPos).trim
    val usingText = rest.substring(usingPos + "using".length, tailStart).trim
    var tail = rest.substring(tailStart)

    // optional GROUP BY (consumed here; ORDER BY / LIMIT pass through)
    var groupCols: Option[Seq[String]] = None
    val tailSc = SqlScanner.scan(tail)
    if (tail.nonEmpty && SqlScanner.matchesWord(tail, skipWs(tail, 0), "group")) {
      val byPos = SqlScanner.nextCode(tail, tailSc, skipWs(tail, 0) + "group".length)
      require(byPos >= 0 && SqlScanner.matchesWord(tail, byPos, "by"), "PIVOT: GROUP must be followed by BY")
      val gStart = byPos + "by".length
      val gEnd = firstKeyword(tail, tailSc, Seq(Seq("order", "by"), Seq("limit"))).getOrElse(tail.length)
      groupCols = Some(splitTopCommas(tail.substring(gStart, gEnd)).map(_.trim).filter(_.nonEmpty))
      tail = tail.substring(gEnd)
    }

    val schema = spark.sql(s"SELECT * FROM $srcRef WHERE 1=0").schema
    val colsLower = schema.fieldNames.map(f => f.toLowerCase -> f).toMap

    // ON entries: expr [IN (literal, ...)]
    final case class OnEntry(expr: String, values: Seq[(String, String)]) // (name, matchString)
    val onEntries = splitTopCommas(onText).map(_.trim).filter(_.nonEmpty).map { entry =>
      val esc = SqlScanner.scan(entry)
      firstKeyword(entry, esc, Seq(Seq("in"))) match {
        case Some(p) =>
          val expr = entry.substring(0, p).trim
          val inBody = entry.substring(p + 2).trim
          require(inBody.startsWith("(") && inBody.endsWith(")"),
            s"PIVOT ON ... IN expects a parenthesized value list, got: $inBody")
          val vals = splitTopCommas(inBody.substring(1, inBody.length - 1)).map(_.trim).filter(_.nonEmpty)
          OnEntry(expr, vals.map(v => (literalName(v), literalMatchString(spark, v))))
        case None =>
          OnEntry(entry, discoverValues(spark, srcRef, entry))
      }
    }
    require(onEntries.nonEmpty, "PIVOT ON clause is empty")

    // cross product of per-entry values (DuckDB enumerates all combinations)
    val combos = onEntries.map(_.values).foldLeft(Seq((Seq.empty[String], Seq.empty[String]))) {
      (acc, vals) => for ((names, matches) <- acc; (n, m) <- vals) yield (names :+ n, matches :+ m)
    }
    require(combos.size <= maxPivotColumns,
      s"PIVOT would create ${combos.size} columns (> $maxPivotColumns). " +
        "Restrict values with ON ... IN (...) or pre-filter the source.")
    require(combos.nonEmpty, "PIVOT found no values to pivot on (all-NULL or empty source?)")

    // USING aggregates: expr [AS alias]
    val aggs = splitTopCommas(usingText).map(_.trim).filter(_.nonEmpty)
    require(aggs.nonEmpty, "PIVOT USING clause is empty")
    val aggsParsed = aggs.map { a =>
      val asc = SqlScanner.scan(a)
      firstKeyword(a, asc, Seq(Seq("as"))) match {
        case Some(p) => (a.substring(0, p).trim, Some(a.substring(p + 2).trim))
        case None    => (a, None)
      }
    }
    if (aggsParsed.size > 1)
      require(aggsParsed.forall(_._2.isDefined),
        "PIVOT with multiple USING aggregates requires an alias on each (USING sum(x) AS s, ...) " +
          "so result column names are deterministic")

    // referenced columns (ON + USING) drop out of the implicit grouping
    val referenced = identifiers(onText + " " + usingText).flatMap(w => colsLower.get(w)).toSet
    val groups = groupCols match {
      case Some(g) => g
      case None    => schema.fieldNames.filterNot(referenced.contains).toSeq
    }
    // aggregate arguments must survive the inner projection
    val aggCols = identifiers(usingText).flatMap(w => colsLower.get(w)).distinct
      .filterNot(c => groups.exists(_.equalsIgnoreCase(c)))

    // Multi-ON match key: components are backslash-escaped and joined with
    // the unit separator (can't collide the way a bare '_' join does —
    // ('a_b','c') vs ('a','b_c') hashed 'a_b_c' under the old scheme), and
    // joined with `concat`, which NULL-propagates: a row with any NULL ON
    // value gets a NULL key and matches no pivot column, as DuckDB has it
    // (concat_ws would silently skip the NULL component and could match a
    // shorter legitimate combo).
    def escExpr(e: String): String =
      s"replace(replace(CAST(($e) AS STRING), '\\\\', '\\\\\\\\'), '$comboSep', '\\\\$comboSep')"
    val keyExpr =
      if (onEntries.size == 1) s"CAST((${onEntries.head.expr}) AS STRING)"
      else onEntries.map(e => escExpr(e.expr)).mkString("concat(", s", '$comboSep', ", ")")
    val proj = (groups.map(q) ++ aggCols.map(q) :+ s"$keyExpr AS `__pivot_key`").mkString(", ")
    // Display names join value names with '_' (DuckDB's spelling) and CAN
    // collide — DuckDB happily emits duplicate column names, and so does a
    // Spark result. The IN-list aliases must therefore be per-combo UNIQUE
    // internals (`__pv<i>`): the outer projection references those
    // unambiguously and renames to the display name.
    val comboNames = combos.map(_._1.mkString("_"))
    val comboIds = combos.indices.map(i => s"__pv$i")
    def escMatch(m: String): String =
      m.replace("\\", "\\\\").replace(comboSep, "\\" + comboSep)
    val inList = combos.zip(comboIds).map { case ((_, matches), id) =>
      val key =
        if (onEntries.size == 1) matches.head
        else matches.map(escMatch).mkString(comboSep)
      s"${sqlString(key)} AS ${q(id)}"
    }.mkString(", ")
    val usingList = aggsParsed.map { case (e, a) => e + a.map(x => s" AS ${q(x)}").getOrElse("") }.mkString(", ")

    // DuckDB fills empty COUNT cells with 0 where Spark's PIVOT leaves NULL
    // (both leave NULL for sum/avg/…): coalesce count-backed columns in an
    // outer projection that renames `__pv<i>[_alias]` to the display name
    // and preserves column order.
    def isCount(agg: String): Boolean = SqlScanner.matchesWord(agg.trim, 0, "count")
    val outCols = comboIds.zip(comboNames).flatMap { case (id, n) =>
      if (aggsParsed.size == 1 && aggsParsed.head._2.isEmpty)
        Seq((id, n, isCount(aggsParsed.head._1)))
      else aggsParsed.map { case (e, a) => (s"${id}_${a.get}", s"${n}_${a.get}", isCount(e)) }
    }
    val outer = (groups.map(q) ++ outCols.map { case (id, n, cnt) =>
      if (cnt) s"coalesce(${q(id)}, 0) AS ${q(n)}" else s"${q(id)} AS ${q(n)}"
    }).mkString(", ")

    val sql =
      s"SELECT $outer FROM (SELECT * FROM (SELECT $proj FROM $srcRef) " +
        s"PIVOT ($usingList FOR `__pivot_key` IN ($inList)))$tail"
    spark.sql(sql)
  }

  /** Bounded dynamic-value probe: distinct non-NULL values of expr over the
    * source, ordered by the native value (so `2 < 10` for integers, matching
    * DuckDB's column order), returned as (columnName, matchString).
    */
  private def discoverValues(spark: SparkSession, srcRef: String, expr: String): Seq[(String, String)] = {
    val rows = spark
      .sql(s"SELECT DISTINCT ($expr) AS v0, CAST(($expr) AS STRING) AS v FROM $srcRef " +
        s"WHERE ($expr) IS NOT NULL ORDER BY v0 LIMIT ${maxPivotColumns + 1}")
      .collect()
    require(rows.length <= maxPivotColumns,
      s"PIVOT ON ($expr) has more than $maxPivotColumns distinct values; " +
        "restrict with ON ... IN (...) or pre-aggregate")
    rows.toSeq.map { r => val s = r.getString(1); (s, s) }
  }

  /** DuckDB names a pivoted column by the value's text: strip quotes from
    * string literals and typed-literal keywords (`DATE '…'`).
    */
  private def literalName(lit: String): String = {
    val t = lit.trim
    val lower = t.toLowerCase
    val stripped =
      if (lower.startsWith("date ") || lower.startsWith("timestamp ") || lower.startsWith("interval "))
        t.substring(t.indexOf(' ') + 1).trim
      else t
    if (stripped.length >= 2 && stripped.head == '\'' && stripped.last == '\'')
      stripped.substring(1, stripped.length - 1).replace("''", "'")
    else stripped
  }

  /** Canonical string the pivot key will equal for this literal — evaluated
    * through the engine's own cast so e.g. `1.50` and `1.5` agree.
    */
  private def literalMatchString(spark: SparkSession, lit: String): String = {
    val r = spark.sql(s"SELECT CAST(($lit) AS STRING)").collect()(0)
    require(!r.isNullAt(0), s"PIVOT IN value must not be NULL: $lit")
    r.getString(0)
  }

  // ---------------------------------------------------------------- UNPIVOT

  private[psql] def unpivot(spark: SparkSession, stmt: String): DataFrame = {
    val afterKw = stmt.substring("unpivot".length).trim
    val (srcRef, rest) = parseSource(spark, afterKw)
    val sc = SqlScanner.scan(rest)
    require(SqlScanner.matchesWord(rest, skipWs(rest, 0), "on"),
      "UNPIVOT statement needs an ON clause: UNPIVOT <source> ON <cols> [INTO NAME n VALUE v]")
    val onStart = skipWs(rest, 0) + 2
    val intoPos = firstKeyword(rest, sc, Seq(Seq("into"))) // optional
    val tailStart = firstKeyword(rest, sc, Seq(Seq("order", "by"), Seq("limit"))).getOrElse(rest.length)
    val onEnd = intoPos.getOrElse(tailStart)
    val onText = rest.substring(onStart, onEnd).trim
    val tail = rest.substring(tailStart)

    var nameCol = "name"
    var valueCol = "value"
    intoPos.foreach { p =>
      val intoText = rest.substring(p + "into".length, tailStart).trim
      val isc = SqlScanner.scan(intoText)
      val nPos = firstKeyword(intoText, isc, Seq(Seq("name")))
      val vPos = firstKeyword(intoText, isc, Seq(Seq("value")))
      require(nPos.isDefined && vPos.isDefined,
        "UNPIVOT INTO clause must be: INTO NAME <name-col> VALUE <value-col>")
      nameCol = intoText.substring(nPos.get + 4, vPos.get).trim
      valueCol = intoText.substring(vPos.get + 5).trim
      require(nameCol.nonEmpty && valueCol.nonEmpty, "UNPIVOT INTO NAME/VALUE names must be non-empty")
    }

    val schema = spark.sql(s"SELECT * FROM $srcRef WHERE 1=0").schema
    val cols = splitTopCommas(onText).map(_.trim).filter(_.nonEmpty).flatMap { entry =>
      expandColumnsCall(entry, schema.fieldNames) match {
        case Some(expanded) => expanded
        case None           => Seq(entry.stripPrefix("\"").stripSuffix("\""))
      }
    }
    require(cols.nonEmpty, "UNPIVOT ON clause names no columns")

    val sql =
      s"SELECT * FROM $srcRef UNPIVOT (${q(valueCol)} FOR ${q(nameCol)} IN (${cols.map(q).mkString(", ")}))$tail"
    spark.sql(sql)
  }

  /** Expand DuckDB `COLUMNS(*)` / `COLUMNS(* EXCLUDE (a, b))` against the
    * bound schema; None when entry is not a COLUMNS(...) call.
    */
  private[psql] def expandColumnsCall(entry: String, fields: Array[String]): Option[Seq[String]] = {
    val t = entry.trim
    if (!SqlScanner.matchesWord(t, 0, "columns")) return None
    val open = t.indexOf('(')
    if (open < 0 || !t.endsWith(")")) return None
    val body = t.substring(open + 1, t.length - 1).trim
    if (body == "*") Some(fields.toSeq)
    else if (body.startsWith("*")) {
      val afterStar = body.substring(1).trim
      if (!SqlScanner.matchesWord(afterStar, 0, "exclude")) return None
      val listText = afterStar.substring("exclude".length).trim
      val inner =
        if (listText.startsWith("(") && listText.endsWith(")"))
          listText.substring(1, listText.length - 1)
        else listText
      val excluded = splitTopCommas(inner).map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
      Some(fields.toSeq.filterNot(f => excluded.contains(f.toLowerCase)))
    } else None
  }

  // ---------------------------------------------------------------- shared

  /** Parse the pivot source — `(subquery)` (run through the PSQL front-end,
    * so pipelines work inside) or a table identifier — returning a SQL
    * fragment referencing it plus the unconsumed remainder.
    */
  private def parseSource(spark: SparkSession, s: String): (String, String) = {
    if (s.startsWith("(")) {
      val sc = SqlScanner.scan(s)
      var close = -1
      var i = 1
      while (close < 0 && i < s.length) {
        if (sc.code(i) && s.charAt(i) == ')' && sc.depth(i) == 0) close = i
        i += 1
      }
      require(close > 0, "Unbalanced parenthesis in PIVOT/UNPIVOT source")
      val inner = s.substring(1, close).trim
      (s"( ${Psql.preprocess(spark, inner)} )", s.substring(close + 1))
    } else {
      var i = 0
      while (i < s.length && (Character.isLetterOrDigit(s.charAt(i)) || "._$".indexOf(s.charAt(i)) >= 0)) i += 1
      val name = s.substring(0, i)
      require(name.nonEmpty, "PIVOT/UNPIVOT needs a source table or (subquery)")
      (name, s.substring(i))
    }
  }

  private def skipWs(s: String, i0: Int): Int = {
    var i = i0
    while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
    i
  }

  /** Earliest top-level occurrence of any of the keyword sequences. */
  private def firstKeyword(s: String, sc: SqlScanner.Scan, kws: Seq[Seq[String]]): Option[Int] = {
    val hits = kws.flatMap(kw => SqlScanner.topLevelKeyword(s, sc, kw).headOption)
    if (hits.isEmpty) None else Some(hits.min)
  }

  /** Bare identifier tokens of a code region (lowercased), for referenced-
    * column detection — skips string literals and quoted identifiers.
    */
  private def identifiers(s: String): Seq[String] = {
    val sc = SqlScanner.scan(s)
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (sc.code(i) && (Character.isLetter(s.charAt(i)) || s.charAt(i) == '_')) {
        var j = i
        while (j < s.length && (Character.isLetterOrDigit(s.charAt(j)) || s.charAt(j) == '_')) j += 1
        out += s.substring(i, j).toLowerCase
        i = j
      } else i += 1
    }
    out.toSeq
  }

  private def q(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Separator for multi-ON pivot match keys: the ASCII unit separator,
    * joined via NULL-propagating `concat` with backslash-escaped components
    * — see the keyExpr construction in [[pivot]].
    */
  private val comboSep: String = "\u001F"

  /** A Spark SQL string literal for `v` VERBATIM: quotes doubled AND
    * backslashes doubled — the generated SQL is parsed with the default
    * escapedStringLiterals=false, which would otherwise eat backslashes in
    * pivot values (and in the escaped multi-ON keys, which are built from
    * backslash escapes).
    */
  private def sqlString(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
}
