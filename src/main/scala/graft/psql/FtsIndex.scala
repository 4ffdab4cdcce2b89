package graft.psql

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SqlScanner.{closeParen, isWordChar, matchesWord, nextCode, scan, splitTopCommas}

/** DuckDB fts extension surface — `PRAGMA create_fts_index('t', 'id',
  * 'col'…)`, `PRAGMA drop_fts_index('t')` and the
  * `fts_main_<t>.match_bm25(id, 'query')` scoring macro — over PERSISTED
  * Spark index tables (the d34/d36 pattern: incremental probes never touch
  * the base data).
  *
  * Index layout: ONE managed parquet table per index, written by a single
  * postings write —
  *
  *  - `fts_main_<t>_terms` (term, __id, dl, tf, df) — the postings list
  *    with the document length and the term's document frequency
  *    DENORMALIZED into every row, partitioned by term (AQE-sized files;
  *    each term's postings in one file) and sorted by term, so a query's
  *    `term IN (…)` filter reads one run of parquet row groups per term;
  *    scoring therefore touches ONLY the postings of the query's terms
  *    and never joins back to the corpus or to a docfreq table;
  *  - the corpus statistics (`n_docs`, `sum_dl`) and the tokenization
  *    options are that table's PROPERTIES (`graft.fts.*`, as
  *    [[TableConstraints]] records constraints), so `match_bm25` reads them
  *    from the catalog without running a job.
  *
  * `match_bm25` appears as an EXPRESSION in user SQL; the rewriter lowers
  * each call to a correlated scalar subquery over a per-statement temp
  * view of (id, score) — Spark plans that as a left outer join, so a
  * missing id yields NULL exactly like DuckDB's macro. Scores use the same
  * Lucene-style BM25 as [[graft.operators.Retrieval.bm25TopK]]
  * (`ln(1 + (N - df + 0.5)/(df + 0.5))`, k1=1.2 b=0.75 defaults, k/b
  * overridable via `k := x, b := y`; `conjunctive := 1` scores only
  * documents containing EVERY term). Per-term contributions are snapped
  * to the 1e-6 grid and summed as BIGINTs, so the per-document score is
  * order-independent — bit-stable across engines and partitionings.
  *
  * Tokenization follows DuckDB's documented DEFAULTS: porter stemming
  * ([[graft.functions.PorterStemmer]], the extension's `stemmer :=
  * 'porter'` default), English stopword removal, `lower := 1`,
  * `strip_accents := 1` and the `ignore := '(\.|[^a-z])+'` pattern —
  * see [[graft.functions.FtsTokenizer]] for the chain and the stopword
  * list caveat (Snowball list, not the binary extension's 571-word list —
  * the extension cannot load offline to copy it). Options persist as
  * table properties, so `match_bm25` normalizes QUERY terms with the
  * index's own options. `stemmer := 'english'` selects porter2;
  * `stemmer/stopwords := 'none', lower := 0, strip_accents := 0,
  * ignore := ''` is the exact-token contract (shared with
  * [[graft.operators.Retrieval.bm25TopK]]), kept on the codegen'd
  * split/filter path.
  */
object FtsIndex {

  import graft.functions.{FtsOptions, FtsTokenizer, FtsTokenizeExpr}
  import org.apache.spark.sql.graftbridge.ColumnBridge

  private def termsTable(t: String) = s"fts_main_${t}_terms"

  /** Catalog property prefix of an index's statistics and options. */
  private val P = "graft.fts."

  /** Whitespace tokenizer — the same contract as Retrieval.bm25TopK. */
  private def tokensOf(c: org.apache.spark.sql.Column) =
    filter(split(coalesce(c, lit("")), " "), w => length(w) > lit(0))

  // ------------------------------------------------------------ build/drop

  /** `PRAGMA create_fts_index('t', 'id', 'col'[, 'col2'…][, name := v…])`
    * — `argsText` is the raw text inside the PRAGMA's parens.
    */
  def createIndex(spark: SparkSession, argsText: String): DataFrame = {
    val (pos, named) = splitArgs(argsText)
    require(pos.length >= 3,
      "create_fts_index needs (input_table, input_id, input_value, …)")
    val (table, idCol) = (pos(0), pos(1))
    val valueCols = pos.drop(2)
    var overwrite = false
    var opts = FtsOptions() // DuckDB's documented defaults
    def bool(k: String, v: String): Boolean = v match {
      case "1" => true
      case "0" => false
      case _ if v.equalsIgnoreCase("true")  => true
      case _ if v.equalsIgnoreCase("false") => false
      case _ => throw new IllegalArgumentException(
        s"create_fts_index: $k must be 0 or 1, got '$v'")
    }
    named.foreach { case (k, v) =>
      k match {
        case "overwrite" => overwrite = bool(k, v)
        case "stemmer" =>
          val s = v.toLowerCase(java.util.Locale.ROOT)
          FtsTokenizer.stemFn(s) // validates
          opts = opts.copy(stemmer = s)
        case "stopwords" =>
          val s = v.toLowerCase(java.util.Locale.ROOT)
          FtsTokenizer.stopwordsFor(s) // validates
          opts = opts.copy(stopwords = s)
        case "ignore" =>
          if (v.nonEmpty) java.util.regex.Pattern.compile(v) // validates
          opts = opts.copy(ignore = v)
        case "lower" => opts = opts.copy(lower = bool(k, v))
        case "strip_accents" => opts = opts.copy(stripAccents = bool(k, v))
        case other => throw new IllegalArgumentException(
          s"create_fts_index: unknown argument '$other'")
      }
    }
    require(tableOrViewExists(spark, table),
      s"create_fts_index: table '$table' does not exist")
    if (!overwrite)
      require(!spark.catalog.tableExists(termsTable(table)),
        s"an FTS index on '$table' already exists — pass overwrite := 1 to rebuild")
    val src = spark.table(table)
    valueCols.foreach(c => require(src.columns.exists(_.equalsIgnoreCase(c)),
      s"create_fts_index: column '$c' is not in $table"))
    require(src.columns.exists(_.equalsIgnoreCase(idCol)),
      s"create_fts_index: id column '$idCol' is not in $table")
    // one corpus pass: concatenate the value columns (single space — the
    // boundary IS a token break), explode to (term, id), aggregate tf and
    // carry dl denormalized. Exact-token options keep the codegen'd
    // split/filter; any normalization routes through the tokenizer
    // expression (a one-time build pass — CodegenFallback is fine there)
    val text = valueCols.map(c => coalesce(col(c), lit(""))).reduce(concat_ws(" ", _, _))
    val textOne = if (valueCols.size == 1) coalesce(col(valueCols.head), lit("")) else text
    val tokens =
      if (opts.isExact) tokensOf(textOne)
      else ColumnBridge.column(FtsTokenizeExpr(ColumnBridge.expression(textOne), opts))
    // the tokenizer (and under the default pipeline, the stemmer chain) is
    // the build's CPU floor and runs fused into the scan stage — spread an
    // under-split corpus across the cores first (no-op at scale)
    val tok = graft.operators.Spread.spread(src, col(idCol))
      .select(col(idCol).as("__id"), tokens.as("__w"))
      .withColumn("dl", size(col("__w")).cast("long"))
    // explode_outer + a null-term filter, not explode: for an inner explode
    // Catalyst infers `size(tokens) > 0`, substitutes the tokenizer for
    // the alias and pushes it below the spread's exchange — tokenizing the
    // whole corpus a second time in the single un-spread scan task.
    // tf aggregates where the tokens are (the spread's id partitioning
    // already clusters every (term, id) group); df is a window count per
    // term, and the window's term exchange is the build's only shuffle of
    // postings — the tokenizer runs exactly once
    val postings = tok.select(col("__id"), col("dl"), explode_outer(col("__w")).as("term"))
      .where(col("term").isNotNull)
      .groupBy("term", "__id", "dl").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    // the corpus statistics are observed in the write's own result stage
    // (a shuffle-map stage would count a retried task twice): sum_dl ≡ Σ tf
    // (dl is Σ tf per doc by construction), and n_docs counts one null-term
    // row per source row — a zero-token doc has no postings but still
    // counts toward N (DuckDB's denominator). Those rows come from a scan
    // that reads no column, ride in the same stage and are dropped before
    // the write
    val stats = Observation()
    dropIfExists(spark, termsTable(table))
    // hash-partitioned by term with no fixed partition count: AQE sizes the
    // output files from the data (one file for a small corpus, many at
    // corpus scale); every term's postings lie in ONE file, sorted by term
    // (the window's own order), so a query's `term IN (…)` reads one run
    // of parquet row groups per term and skips the rest by min/max stats
    postings.sortWithinPartitions("term")
      .unionByName(src.select(lit(null).cast("string").as("term")), allowMissingColumns = true)
      .observe(stats, count(when(col("term").isNull, 1)).as("n_docs"),
        coalesce(sum(col("tf")), lit(0L)).as("sum_dl"))
      .where(col("term").isNotNull)
      .write.format("parquet").saveAsTable(termsTable(table))
    val props = Map(
      "n_docs" -> stats.get("n_docs").toString,
      "sum_dl" -> stats.get("sum_dl").toString,
      "stemmer" -> opts.stemmer,
      "stopwords" -> opts.stopwords,
      "ignore" -> opts.ignore,
      "lower" -> (if (opts.lower) "1" else "0"),
      "strip_accents" -> (if (opts.stripAccents) "1" else "0"))
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(termsTable(table)))
    catalog.alterTable(meta.copy(
      properties = meta.properties ++ props.map { case (k, v) => (P + k, v) }))
    spark.emptyDataFrame
  }

  private def tableOrViewExists(spark: SparkSession, t: String): Boolean =
    try { spark.table(t); true } catch { case _: Throwable => false }

  /** `PRAGMA drop_fts_index('t')`. */
  def dropIndex(spark: SparkSession, argsText: String): DataFrame = {
    val (pos, named) = splitArgs(argsText)
    require(pos.length == 1 && named.isEmpty, "drop_fts_index takes (input_table)")
    val t = pos.head
    require(spark.catalog.tableExists(termsTable(t)),
      s"drop_fts_index: no FTS index exists on '$t'")
    dropIfExists(spark, termsTable(t))
    spark.emptyDataFrame
  }

  private def dropIfExists(spark: SparkSession, t: String): Unit =
    graft.operators.Bucketing.dropTableAndLocation(spark, t)

  /** Positional string args + named `k := v` args from a PRAGMA arg list. */
  private def splitArgs(argsText: String): (Seq[String], Seq[(String, String)]) = {
    val pos = Seq.newBuilder[String]
    val named = Seq.newBuilder[(String, String)]
    splitTopCommas(argsText).map(_.trim).filter(_.nonEmpty).foreach { a =>
      val ix = a.indexOf(":=")
      if (ix > 0) named += ((a.substring(0, ix).trim.toLowerCase(java.util.Locale.ROOT),
        unquote(a.substring(ix + 2).trim)))
      else pos += unquote(a)
    }
    (pos.result(), named.result())
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'")
    else s

  // ------------------------------------------------------------- match_bm25

  /** Rewrite every `fts_main_<t>.match_bm25(<idExpr>, 'query'[, args])`
    * call into a correlated scalar subquery over a registered scores view.
    * Returns the statement unchanged when no call is present. Views
    * registered during the rewrite are collected into `createdViews` so the
    * caller can drop them once the statement is analyzed (Spark inlines a
    * temp view's plan at analysis, so dropping after is safe) — without
    * that, a long-lived session running many distinct match_bm25 queries
    * accumulates one catalog entry per (table, query, args) tuple.
    */
  def rewriteMatchBm25(spark: SparkSession, stmt: String,
      createdViews: scala.collection.mutable.Buffer[String] = null): String = {
    if (!stmt.toLowerCase(java.util.Locale.ROOT).contains("match_bm25")) return stmt
    val sc = scan(stmt)
    val sb = new StringBuilder
    var i = 0
    var last = 0
    while (i < stmt.length) {
      if (sc.code(i) && stmt.regionMatches(true, i, "fts_main_", 0, 9) &&
          (i == 0 || !isWordChar(stmt.charAt(i - 1)))) {
        var e = i + 9
        while (e < stmt.length && isWordChar(stmt.charAt(e))) e += 1
        val table = stmt.substring(i + 9, e)
        var p = nextCode(stmt, sc, e)
        require(p >= 0 && stmt.charAt(p) == '.',
          s"fts_main_$table must be followed by .match_bm25(…)")
        p = nextCode(stmt, sc, p + 1)
        require(p >= 0 && matchesWord(stmt, p, "match_bm25"),
          s"fts_main_$table: only the match_bm25 macro exists")
        val open = nextCode(stmt, sc, p + "match_bm25".length)
        require(open >= 0 && stmt.charAt(open) == '(', "match_bm25 needs arguments")
        val close = closeParen(stmt, sc, open)
        require(close >= 0, "match_bm25: unbalanced argument list")
        val args = splitTopCommas(stmt.substring(open + 1, close)).map(_.trim)
        require(args.length >= 2, "match_bm25 needs (id, 'query string')")
        val idExpr = args.head
        val qLit = args(1)
        require(qLit.length >= 2 && qLit.head == '\'' && qLit.last == '\'',
          "match_bm25: the query must be a plain string literal")
        val query = qLit.substring(1, qLit.length - 1).replace("''", "'")
        var k1 = 1.2
        var b = 0.75
        var conjunctive = false
        args.drop(2).foreach { a =>
          val ix = a.indexOf(":=")
          require(ix > 0, s"match_bm25: unexpected argument '$a'")
          val (k, v) = (a.substring(0, ix).trim.toLowerCase(java.util.Locale.ROOT),
            a.substring(ix + 2).trim)
          k match {
            case "k" => k1 = v.toDouble
            case "b" => b = v.toDouble
            case "conjunctive" => conjunctive = v == "1" || v.equalsIgnoreCase("true")
            case "fields" => throw new IllegalArgumentException(
              "match_bm25: per-field scoring is not supported — build one " +
                "index per field set instead")
            case other => throw new IllegalArgumentException(
              s"match_bm25: unknown argument '$other'")
          }
        }
        val view = scoresView(spark, table, query, k1, b, conjunctive)
        if (createdViews != null) createdViews += view
        sb.append(stmt.substring(last, i))
        sb.append(s"(select __score from $view where $view.__id = ($idExpr))")
        i = close + 1
        last = i
      } else i += 1
    }
    if (last == 0) stmt else { sb.append(stmt.substring(last)); sb.toString }
  }

  /** The index's (n_docs, sum_dl) and tokenization options, read from the
    * postings table's catalog properties — no job.
    */
  private def statsOf(spark: SparkSession, table: String): (Long, Long, FtsOptions) = {
    val props = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(termsTable(table))).properties
    def prop(k: String): String = props.getOrElse(P + k, throw new IllegalStateException(
      s"the FTS index on '$table' has no recorded $k — rebuild it with " +
        s"PRAGMA create_fts_index('$table', …, overwrite := 1)"))
    (prop("n_docs").toLong, prop("sum_dl").toLong, FtsOptions(prop("stemmer"),
      prop("stopwords"), prop("ignore"), stripAccents = prop("strip_accents") == "1",
      lower = prop("lower") == "1"))
  }

  /** Register the temp view of (__id, __score) for one (table, query, k,
    * b, conjunctive) tuple. Scoring touches only the query terms'
    * postings: `term IN (…)` prunes the term-sorted postings table, whose
    * rows carry df; n_docs and sum_dl enter as literals; the per-doc
    * aggregate is grid-snapped BIGINT (exact).
    */
  private def scoresView(spark: SparkSession, table: String, query: String,
      k1: Double, b: Double, conjunctive: Boolean): String = {
    require(spark.catalog.tableExists(termsTable(table)),
      s"no FTS index exists on '$table' — run " +
        s"PRAGMA create_fts_index('$table', '<id>', '<col>') first")
    require(query.trim.nonEmpty, "match_bm25: empty query string")
    // query terms go through the INDEX'S normalization (stemmed queries
    // probe stemmed postings — DuckDB's macro does the same)
    val (nDocs, sumDl, opts) = statsOf(spark, table)
    val qterms =
      (if (opts.isExact) query.split("\\s+").filter(_.nonEmpty)
       else FtsTokenizer.tokenize(query, opts)).distinct.toSeq
    // unique per INVOCATION, not per content: the views are
    // statement-scoped (registered here, dropped in Psql.sql's finally),
    // so a content-hashed name would let two concurrent identical
    // match_bm25 statements race — one thread dropping the shared view
    // between the other's registration and analysis
    val view = "graft_fts_scores_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    if (qterms.isEmpty) {
      // every query term was a stopword: no document scores (all-NULL
      // lookups, DuckDB's observable shape) — an empty scores view
      spark.table(termsTable(table)).select(col("__id"),
        lit(null).cast("double").as("__score")).where(lit(false))
        .createOrReplaceTempView(view)
      return view
    }
    val posting = spark.table(termsTable(table)).where(col("term").isin(qterms: _*))
    val avgdl = lit(sumDl.toDouble / nDocs.toDouble)
    val idf = round(log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))), 6)
    val tfNorm = col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    // 1e-6-grid BIGINT contributions: the per-document sum is exact and
    // order-independent (the r06/t15 pattern)
    val contrib = floor(idf * tfNorm * lit(1000000.0) + lit(0.5)).cast("bigint")
    val scored = posting.groupBy("__id")
      .agg(sum(contrib).as("__s"), count(lit(1)).as("__nt"))
    val filtered =
      if (conjunctive) scored.where(col("__nt") === lit(qterms.size.toLong))
      else scored
    filtered.select(col("__id"),
      (col("__s").cast("double") / lit(1000000.0)).as("__score"))
      .createOrReplaceTempView(view)
    view
  }
}
