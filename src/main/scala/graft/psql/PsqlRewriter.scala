package graft.psql

import SqlScanner._

/** PSQL → Spark SQL rewriter.
  *
  * Reference semantics (ywelsch/duckdb-psql `README.md:70-87`,
  * `src/psql_extension.cpp:28-73`): `A |> B |> C` denotes the DuckDB
  * FROM-first query `FROM ( FROM ( A ) B ) C`, and `(| … |)` delimits a piped
  * sub-expression usable wherever a parenthesized subquery is legal. Each
  * stage `B` is an arbitrary trailing-clause fragment: alias/join suffixes
  * and/or SELECT/WHERE/GROUP BY/HAVING/QUALIFY/WINDOW/ORDER BY/LIMIT/OFFSET
  * clauses.
  *
  * Spark 4.x accepts some FROM-first forms but not all (e.g. bare
  * `FROM (x) WHERE p` is rejected), and lacks QUALIFY and zero-arg
  * `count()`. So instead of the reference's literal string nesting we parse
  * each stage's clauses (string/comment/paren-aware — see [[SqlScanner]])
  * and assemble canonical SELECT-first SQL, folding stages left like the
  * reference's nesting does. Catalyst then collapses the subquery tower
  * (CollapseProject / PushDownPredicates / ColumnPruning), which is what
  * makes this front-end safe at 100 TB: the emitted plan optimizes
  * identically to hand-written single-block SQL.
  */
object PsqlRewriter {

  /** Pass-through contract (reference `src/psql_extension.cpp:76-79`): input
    * with no pipe tokens is not ours.
    */
  def isPsql(query: String): Boolean = {
    val s = query
    val sc = scan(s)
    var i = 0
    while (i < s.length - 1) {
      if (sc.code(i) && s.charAt(i) == '|' && s.charAt(i + 1) == '>') return true
      if (sc.code(i) && s.charAt(i) == '(' && s.charAt(i + 1) == '|' &&
          (i + 2 >= s.length || s.charAt(i + 2) != '|')) return true
      i += 1
    }
    false
  }

  /** Rewrite a full PSQL statement to Spark SQL. Handles `(| … |)` scoped
    * blocks (each becomes a parenthesized subquery), then pipe-rewrites the
    * surrounding text — mirroring `src/psql_extension.cpp:55-73` but with
    * proper nesting support. DuckDB-style `COPY … TO` sinks become
    * `INSERT OVERWRITE DIRECTORY` so the statement stays declarative in
    * both the library path and the injected parser.
    */
  def rewrite(query: String): String = {
    val q = stripTrailingSemicolon(query)
    // window-level passes last: by now `* EXCLUDE` became EXCEPT (shims)
    // and all stage text is assembled. FILTER-on-window folds the
    // predicate into the aggregate argument FIRST, so a FILTER + EXCLUDE
    // combination then rewrites its frame like any other window
    WindowExclude.rewriteExcludes(
      WindowFilter.rewriteFilters(
        WindowDistinct.rewriteDistincts(
          OrderedAggs.rewrite(
            copyFromInsert(copyToInsertDirectory(rewriteBlocks(q)))))))
  }

  /** True when the trimmed statement starts with the COPY keyword — the
    * DuckDB sink form `COPY (<query>|<table>) TO '<path>' (opts)`, which
    * vanilla Spark has no syntax for (intercepting is strictly additive).
    */
  def isCopy(query: String): Boolean = {
    val t = query.trim
    t.nonEmpty && matchesWord(t, 0, "copy")
  }

  /** `COPY <source> TO '<path>' [(FORMAT f, HEADER [b], DELIMITER 'c')]`
    * → `INSERT OVERWRITE DIRECTORY '<path>' USING f [OPTIONS (…)] <query>`.
    * Source is a parenthesized (already pipe-rewritten) query or a table
    * name; format defaults from the path extension (parquet otherwise).
    */
  private def copyToInsertDirectory(s0: String): String = {
    val s = s0.trim
    if (!matchesWord(s, 0, "copy")) return s0
    val sc = scan(s)
    val toPositions = topLevelKeyword(s, sc, Seq("to"))
    if (toPositions.isEmpty) return s0
    val toPos = toPositions.head
    val source = s.substring(4, toPos).trim
    // target path literal
    val q1 = nextCode(s, sc, toPos + 2)
    if (q1 < 0 || s.charAt(q1) != '\'') return s0
    val q2 = s.indexOf('\'', q1 + 1)
    if (q2 < 0) return s0
    val path = s.substring(q1 + 1, q2)
    // options block
    val opts = parseCopyOptions(s.substring(q2 + 1).trim)
    val lower = path.toLowerCase
    val format = opts.getOrElse("format",
      if (lower.endsWith(".csv")) "csv"
      else if (lower.endsWith(".json") || lower.endsWith(".jsonl") || lower.endsWith(".ndjson")) "json"
      else "parquet")
    val writerOpts = Seq(
      opts.get("header").map(v => s"'header' '${if (v == "true" || v.isEmpty) "true" else v}'"),
      (opts.get("delimiter") orElse opts.get("delim") orElse opts.get("sep")).map(v => s"'sep' '$v'")
    ).flatten
    val optsSql = if (writerOpts.nonEmpty) writerOpts.mkString(" OPTIONS (", ", ", ")") else ""
    val innerQuery =
      if (source.startsWith("(") && source.endsWith(")")) source.drop(1).dropRight(1).trim
      else s"SELECT * FROM $source"
    opts.get("partition_by") match {
      case Some(pb) =>
        // DuckDB partitioned copy (hive layout): Spark has no partitioned
        // INSERT OVERWRITE DIRECTORY, so emit a path-based partitioned CTAS
        // — same files on disk, plus a session-catalog entry whose name is
        // uniqued per statement (DROP-then-CREATE would need two statements)
        val cols = pb.stripPrefix("(").stripSuffix(")")
          .split(",").map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, s"COPY: empty PARTITION_BY list")
        val n = copyCounter.incrementAndGet()
        s"CREATE TABLE __graft_copy_$n USING $format$optsSql " +
          s"PARTITIONED BY (${cols.mkString(", ")}) LOCATION '$path' AS $innerQuery"
      case None =>
        s"INSERT OVERWRITE DIRECTORY '$path' USING $format$optsSql $innerQuery"
    }
  }

  /** DuckDB COPY option block `(FORMAT f, HEADER [b], DELIMITER 'c')` →
    * lowercase key map; a bare flag (HEADER) maps to "true". Commas split
    * OUTSIDE string literals only (DELIMITER ',' is the common case) and
    * only at depth 0 (PARTITION_BY (a, b) carries commas inside parens).
    */
  private def parseCopyOptions(rest: String): Map[String, String] =
    if (rest.startsWith("(") && rest.endsWith(")")) {
      splitTopCommas(rest.drop(1).dropRight(1)).iterator.map(_.trim).filter(_.nonEmpty).map { o =>
        val parts = o.split("\\s+", 2)
        (parts(0).toLowerCase, if (parts.length > 1) parts(1).trim.stripPrefix("'").stripSuffix("'") else "true")
      }.toMap
    } else Map.empty

  /** `COPY <table> FROM '<path>' [(FORMAT f, HEADER [b], DELIMITER 'c')]`
    * → `INSERT INTO <table> SELECT * FROM '<path>[#graft:opts]'` — the
    * load direction of the DuckDB COPY family (the reference workflow is
    * CSV-in, reference README.md:8), mirroring [[copyToInsertDirectory]].
    * Non-default reader options travel as a `#graft:` fragment on the path
    * literal, which [[PathRelations]] strips and applies when registering
    * the scan view (and which keys the view name, so the same path read
    * with different options never shares a cached view). Column matching
    * is positional with implicit widening casts — the same contract as
    * DuckDB's COPY FROM into an existing table.
    */
  private def copyFromInsert(s0: String): String = {
    val s = s0.trim
    if (!matchesWord(s, 0, "copy")) return s0
    val sc = scan(s)
    if (topLevelKeyword(s, sc, Seq("to")).nonEmpty) return s0 // sink form
    val fromPositions = topLevelKeyword(s, sc, Seq("from"))
    if (fromPositions.isEmpty) return s0
    val fromPos = fromPositions.head
    val table = s.substring(4, fromPos).trim
    // a parenthesized source is the sink form's query — not legal here
    if (table.isEmpty || table.startsWith("(")) return s0
    val q1 = nextCode(s, sc, fromPos + 4)
    if (q1 < 0 || s.charAt(q1) != '\'') return s0
    val q2 = s.indexOf('\'', q1 + 1)
    if (q2 < 0) return s0
    val path = s.substring(q1 + 1, q2)
    val opts = parseCopyOptions(s.substring(q2 + 1).trim)
    val readerOpts = Seq(
      opts.get("format").map(f => s"format=${f.toLowerCase}"),
      opts.get("header").map(v => s"header=${if (v.isEmpty) "true" else v}"),
      (opts.get("delimiter") orElse opts.get("delim") orElse opts.get("sep"))
        .map(v => s"sep=$v")
    ).flatten
    val frag = if (readerOpts.isEmpty) "" else "#graft:" + readerOpts.mkString("&")
    s"INSERT INTO $table SELECT * FROM '$path$frag'"
  }

  private val copyCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  private[psql] def stripTrailingSemicolon(s: String): String = {
    val t = s.trim
    if (t.endsWith(";")) t.dropRight(1).trim else t
  }

  /** Find `(|`…`|)` blocks (nesting-aware, unlike the reference which
    * documents no-nesting at `README.md:91`), replace each with
    * `( rewrittenBody )`, and pipe-rewrite the text between blocks.
    */
  private def rewriteBlocks(s: String): String = {
    val sc = scan(s)
    val out = new StringBuilder
    val bodies = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var segStart = 0
    while (i < s.length - 1) {
      if (sc.code(i) && s.charAt(i) == '(' && s.charAt(i + 1) == '|' &&
          (i + 2 >= s.length || s.charAt(i + 2) != '|')) {
        // find matching |) with nesting
        var j = i + 2
        var level = 1
        var end = -1
        while (j < s.length - 1 && end < 0) {
          if (sc.code(j) && s.charAt(j) == '(' && s.charAt(j + 1) == '|' && (j + 2 >= s.length || s.charAt(j + 2) != '|')) { level += 1; j += 2 }
          else if (sc.code(j) && s.charAt(j) == '|' && s.charAt(j + 1) == ')') {
            level -= 1
            if (level == 0) end = j else j += 2
          } else j += 1
        }
        if (end < 0)
          // an opened-but-never-closed scoped block can only produce a
          // baffling downstream parse error — fail here with the offset
          throw new IllegalArgumentException(
            s"unterminated scoped block: '(|' at offset $i has no matching '|)'")
        else {
          // each block becomes a parenthesized IDENTIFIER placeholder: the
          // surrounding text must be pipe-rewritten as ONE fragment (the
          // reference's two regex passes do exactly this) — converting the
          // segments around a block independently would cut a pipeline
          // mid-stage whenever a block sits INSIDE a stage (scalar
          // subquery in a select stage, IN-list subquery in a where)
          out.append(s.substring(segStart, i).replaceAll("\\s+$", ""))
          out.append(" ( __GRAFT_BLOCK_").append(bodies.length).append("__ ) ")
          bodies += rewriteBlocks(s.substring(i + 2, end))
          i = end + 2
          segStart = i
        }
      } else i += 1
    }
    out.append(s.substring(segStart))
    var result = convertFragment(out.toString)
    var n = 0
    while (n < bodies.length) {
      result = result.replace(s"__GRAFT_BLOCK_${n}__", bodies(n))
      n += 1
    }
    result.trim
  }

  /** If the fragment begins with a top-level WITH clause whose CTE bodies
    * are plain parentheses, return (withPrefix, rest) where rest starts
    * right after the last CTE's closing paren. Scans `name [(cols)] AS
    * [NOT MATERIALIZED] ( body )` CTEs separated by commas — the body paren
    * match uses the scanner's depth so nested parens/strings are safe.
    */
  private[psql] def splitWithPrefix(frag: String): Option[(String, String)] = {
    val sc = scan(frag)
    val st = nextCode(frag, sc, 0)
    if (st < 0 || !matchesWord(frag, st, "with")) return None
    var pos = st + 4
    while (true) {
      // the AS of this CTE, then its body parens (the first top-level '('
      // after AS — skips MATERIALIZED/NOT MATERIALIZED modifiers)
      val asPos = topLevelKeyword(frag, sc, Seq("as")).find(_ >= pos).getOrElse(return None)
      var open = asPos + 2
      while (open < frag.length && !(sc.topLevel(open) && frag.charAt(open) == '(')) open += 1
      if (open >= frag.length) return None
      val close = closeParen(frag, sc, open)
      if (close < 0) return None
      val next = nextCode(frag, sc, close + 1)
      if (next >= 0 && frag.charAt(next) == ',') pos = next + 1
      else return Some((frag.substring(0, close + 1).trim, frag.substring(close + 1)))
    }
    None
  }

  /** Convert a block-free fragment: split on pipes and fold; handle
    * top-level set operations; normalize FROM-first heads.
    */
  private[psql] def convertFragment(frag0: String): String = {
    val frag = frag0.trim
    if (frag.isEmpty) return frag
    // DuckDB plain-paren CTE head: `with x as (select …) from x |> …` — the
    // reference's regex rewrite handles this shape
    // (/root/reference/src/psql_extension.cpp:55-73). Hoist the WITH prefix,
    // convert the FROM-first tail, re-prefix, keeping the CTEs at the top
    // level of the emitted statement.
    splitWithPrefix(frag) match {
      case Some((withPrefix, rest)) =>
        val restTrim = rest.trim
        val rsc = scan(restTrim)
        val rst = nextCode(restTrim, rsc, 0)
        if (rst >= 0 && matchesWord(restTrim, rst, "from"))
          return s"$withPrefix ${convertFragment(restTrim)}"
      case None => ()
    }
    val stages = splitPipes(frag)
    if (stages.length > 1) {
      val head = convertFragment(stages.head)
      stages.tail.foldLeft(head)((prev, stage) => assembleStage(Some(prev), stage))
    } else {
      // no pipes: maybe set-ops between FROM-first sides
      splitSetOps(frag) match {
        case Some((left, op, right)) =>
          s"${convertFragment(left)} $op ${convertFragment(right)}"
        case None =>
          val sc = scan(frag)
          val st = nextCode(frag, sc, 0)
          if (st >= 0 && matchesWord(frag, st, "from")) assembleStage(None, frag)
          else {
            // table-position series calls (FROM range(n) / generate_series)
            // must become exploded subqueries BEFORE the shims alias map
            // would rewrite them to their scalar graft_* forms (the stage
            // path does this per-fromSuffix; the plain path owns the whole
            // statement text)
            val f2 = rewriteSeriesFns(frag)
            splitWithPrefix(f2) match {
              // plain-statement DISTINCT ON / * REPLACE / QUALIFY (with or
              // without a CTE prefix) restructure like their pipe-stage
              // counterparts; everything else keeps the expression shims
              case Some((wp, rest)) =>
                plainSelectRewrite(rest).map(r => shims(wp) + " " + r).getOrElse(shims(f2))
              case None => plainSelectRewrite(f2).getOrElse(shims(f2))
            }
          }
      }
    }
  }

  /** True for `with x as (…)[, …] from …` — a plain-paren CTE prefix whose
    * body is FROM-first (DuckDB accepts this; vanilla Spark has no bare
    * FROM-first tail, so normalizing it is strictly additive).
    */
  def isFromFirstWith(t: String): Boolean =
    splitWithPrefix(t).exists { case (_, rest) =>
      val r = rest.trim
      val rsc = scan(r)
      val i = nextCode(r, rsc, 0)
      i >= 0 && matchesWord(r, i, "from")
    }

  /** One top-level set operation in raw PSQL text: keyword span
    * [pos, end) (end is past any ALL/DISTINCT/BY NAME modifiers), operator
    * name (`union`/`intersect`/`except`/`minus`), and flags.
    */
  final case class TopSetOp(pos: Int, end: Int, op: String, isAll: Boolean, byName: Boolean)

  /** All top-level set operations in raw PSQL text, in textual order.
    * `* EXCEPT (cols)` select-list syntax is excluded (preceding non-space
    * char is `*`), as is a keyword with an empty left side. Used by
    * [[Psql.byNamePlan]] to lift DuckDB `UNION [ALL] BY NAME` — which has no
    * Spark SQL text form — into a Catalyst `Union(byName = true)` plan:
    * splitting at the LAST top-level operator gives the left-associative
    * grouping SQL prescribes, so mixed chains like
    * `a UNION BY NAME b UNION ALL c` become `(a ⋃ᴮᴺ b) ⋃ᴬᴸᴸ c`, never
    * `a ⋃ᴮᴺ (b ⋃ᴬᴸᴸ c)`.
    */
  def topLevelSetOps(query: String): Seq[TopSetOp] = {
    val s = stripTrailingSemicolon(query)
    val sc = scan(s)
    Seq("union", "intersect", "except", "minus").flatMap { op =>
      topLevelKeyword(s, sc, Seq(op)).flatMap { pos =>
        val prevIdx = (pos - 1 to 0 by -1).find(k => !Character.isWhitespace(s.charAt(k)))
        val isStarExcept = op == "except" && prevIdx.exists(k => s.charAt(k) == '*')
        if (prevIdx.isEmpty || isStarExcept) None
        else {
          var end = pos + op.length
          var isAll = false
          var i = nextCode(s, sc, end)
          if (i >= 0 && matchesWord(s, i, "all")) { isAll = true; end = i + 3; i = nextCode(s, sc, end) }
          else if (i >= 0 && matchesWord(s, i, "distinct")) { end = i + 8; i = nextCode(s, sc, end) }
          var byName = false
          if (op == "union" && i >= 0 && matchesWord(s, i, "by")) {
            val nm = nextCode(s, sc, i + 2)
            if (nm >= 0 && matchesWord(s, nm, "name")) { byName = true; end = nm + 4 }
          }
          // the right side of a real set op starts like a query; an
          // identifier that merely SPELLS union/except/minus (e.g.
          // `… as minus`, `… as minus order by 1`) is an alias, not an
          // operator — whatever follows it is not a query head
          val nxt = nextCode(s, sc, end)
          if (nxt >= 0 && Psql.isQueryHead(s.substring(nxt)))
            Some(TopSetOp(pos, end, op, isAll, byName))
          else None
        }
      }
    }.sortBy(_.pos)
  }

  /** Split on the FIRST top-level set operation (UNION [ALL|DISTINCT] /
    * INTERSECT [ALL] / EXCEPT [ALL]); recursion handles chains. `* EXCEPT
    * (cols)` select-list syntax is excluded by checking the preceding
    * non-space char for `*` or `)`.
    */
  private def splitSetOps(s: String): Option[(String, String, String)] = {
    val sc = scan(s)
    val ops = Seq("union", "intersect", "except", "minus")
    for (op <- ops) {
      for (pos <- topLevelKeyword(s, sc, Seq(op))) {
        val prevIdx = (pos - 1 to 0 by -1).find(k => !Character.isWhitespace(s.charAt(k)))
        val prevChar = prevIdx.map(s.charAt)
        val isStarExcept = (op == "except") && prevChar.contains('*')
        // a set-op must have a non-empty left side
        if (!isStarExcept && prevIdx.nonEmpty) {
          val left = s.substring(0, pos)
          var rest = s.substring(pos + op.length)
          var opText = op.toUpperCase
          val rsc = scan(rest)
          val nx = nextCode(rest, rsc, 0)
          if (nx >= 0) {
            for (mod <- Seq("all", "distinct")) {
              if (matchesWord(rest, nx, mod)) {
                opText += " " + mod.toUpperCase
                rest = rest.substring(0, nx) + rest.substring(nx + mod.length)
              }
            }
            // DuckDB `UNION [ALL] BY NAME`: Spark SQL has no textual form;
            // top-level occurrences are lifted to a byName Union plan by the
            // entry points (see splitUnionByName / Psql.byNamePlan) before
            // the rewrite runs, so reaching one here means it sits nested
            // inside a subquery or scoped block — reject it rather than emit
            // SQL that silently drops the by-name (and dedup) semantics.
            val afterMod = nextCode(rest, scan(rest), 0)
            if (afterMod >= 0 && matchesWord(rest, afterMod, "by")) {
              val rsc2 = scan(rest)
              val nmPos = nextCode(rest, rsc2, afterMod + 2)
              if (nmPos >= 0 && matchesWord(rest, nmPos, "name"))
                throw new IllegalArgumentException(
                  "UNION BY NAME is only supported at the top level of a PSQL statement " +
                    "(nested by-name set operations inside subqueries or (| … |) blocks are not)")
            }
          }
          return Some((left, opText, rest))
        }
      }
    }
    None
  }

  private val clauseKeywords: Seq[(String, Seq[String])] = Seq(
    "select" -> Seq("select"),
    "where" -> Seq("where"),
    "groupBy" -> Seq("group", "by"),
    "having" -> Seq("having"),
    "qualify" -> Seq("qualify"),
    "window" -> Seq("window"),
    "orderBy" -> Seq("order", "by"),
    "limit" -> Seq("limit"),
    "offset" -> Seq("offset"),
    "sample" -> Seq("using", "sample")
  )

  private final case class StageClauses(
      fromSuffix: String,
      clauses: Map[String, String]
  )

  /** Parse a stage (or FROM-first fragment) into its from-suffix (alias +
    * joins, or the from-item itself for heads) and top-level clause texts.
    */
  private def parseStage(stage: String): StageClauses = {
    val sc = scan(stage)
    // first top-level occurrence of each clause keyword
    val firsts: Seq[(String, Int, Int)] = clauseKeywords.flatMap { case (name, words) =>
      topLevelKeyword(stage, sc, words).headOption.map { p =>
        val kwLen = words match {
          case Seq(w)      => w.length
          case Seq(w1, w2) =>
            // end of second word
            val j = nextCode(stage, sc, p + w1.length)
            (j + w2.length) - p
          case _ => words.map(_.length).sum
        }
        (name, p, kwLen)
      }
    }.sortBy(_._2)
    val fromSuffixEnd = firsts.headOption.map(_._2).getOrElse(stage.length)
    val fromSuffix = stage.substring(0, fromSuffixEnd).trim
    val clauses = firsts.zipWithIndex.map { case ((name, pos, kwLen), idx) =>
      val end = if (idx + 1 < firsts.length) firsts(idx + 1)._2 else stage.length
      name -> stage.substring(pos + kwLen, end).trim
    }.toMap
    StageClauses(fromSuffix, clauses)
  }

  /** `DISTINCT ON (exprs) rest-of-select-list` at the head of a select
    * clause (DuckDB/Postgres; Spark has no equivalent): returns (onExprs,
    * restList). `DISTINCT` without ON is left to the engine.
    */
  private[psql] def splitDistinctOn(sel: String): Option[(String, String)] = {
    val sc = scan(sel)
    val st = nextCode(sel, sc, 0)
    if (st < 0 || !matchesWord(sel, st, "distinct")) return None
    val on = nextCode(sel, sc, st + 8)
    if (on < 0 || !matchesWord(sel, on, "on")) return None
    val open = nextCode(sel, sc, on + 2)
    if (open < 0 || sel.charAt(open) != '(') return None
    val close = closeParen(sel, sc, open)
    if (close < 0) return None
    Some((sel.substring(open + 1, close).trim, sel.substring(close + 1).trim))
  }

  /** DuckDB `SELECT * REPLACE (expr AS col, …)`: Spark has no star-replace
    * SELECT syntax, but its native pipe `SET col = expr` is the identical
    * semantics (in-place replacement, column positions preserved — a plain
    * `* EXCEPT (col), expr AS col` rewrite would move the column to the
    * end). Returns the `SET` assignment list when the select clause is
    * EXACTLY a star-replace; mixed select lists reject downstream with the
    * stage's own error.
    */
  private[psql] def splitStarReplace(sel: String): Option[String] = {
    val sc = scan(sel)
    val st = nextCode(sel, sc, 0)
    if (st < 0 || sel.charAt(st) != '*') return None
    val r = nextCode(sel, sc, st + 1)
    if (r < 0 || !matchesWord(sel, r, "replace")) return None
    val open = nextCode(sel, sc, r + "replace".length)
    if (open < 0 || sel.charAt(open) != '(') return None
    val close = closeParen(sel, sc, open)
    if (close < 0) return None
    if (sel.substring(close + 1).trim.nonEmpty) return None // mixed list: not ours
    // each top-level item is `expr AS name`
    val assigns = splitTopCommas(sel.substring(open + 1, close)).map { item =>
      val isc = scan(item)
      val asPos = topLevelKeyword(item, isc, Seq("as")).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"* REPLACE entries need `expr AS col`, got: ${item.trim}"))
      val expr = item.substring(0, asPos).trim
      val name = item.substring(asPos + 2).trim
      s"$name = $expr"
    }
    Some(assigns.mkString(", "))
  }

  /** Plain-statement (non-pipe) forms of DuckDB's `SELECT DISTINCT ON`,
    * `SELECT * REPLACE`, and the QUALIFY clause — the same rewrites
    * [[assembleStage]] applies to pipe stages, restated over a statement
    * whose FROM sits mid-text. In
    * the reference these spellings run on DuckDB directly; the library path
    * routes query-headed plain statements here so both spellings of the
    * same query behave identically. Returns None when the statement has
    * neither form (the caller falls back to the expression shims), and
    * mirrors the stage errors when GROUP BY/HAVING/QUALIFY/WINDOW share
    * the statement (restructuring around aggregation is ambiguous — the
    * user splits into a subquery, exactly like the stage contract).
    * Limitation (documented): only the OUTERMOST select block is
    * restructured — DISTINCT ON inside a CTE body or subquery still needs
    * the pipe spelling.
    */
  private[psql] def plainSelectRewrite(frag0: String): Option[String] = {
    val frag = stripTrailingSemicolon(frag0.trim)
    val sc = scan(frag)
    val st = nextCode(frag, sc, 0)
    if (st < 0 || !matchesWord(frag, st, "select")) return None
    val fromPos = topLevelKeyword(frag, sc, Seq("from")).headOption.getOrElse(return None)
    val sel = frag.substring(st + "select".length, fromPos).trim
    val distinctOn = splitDistinctOn(sel)
    val starReplace = if (distinctOn.isEmpty) splitStarReplace(sel) else None
    val tail = frag.substring(fromPos)
    val tsc = scan(tail)
    val qualifyPos = topLevelKeyword(tail, tsc, Seq("qualify")).headOption
    if (distinctOn.isEmpty && starReplace.isEmpty && qualifyPos.isEmpty) return None
    // a top-level set operation owns the trailing ORDER BY — restructuring
    // around it would re-scope the sort; not this pass's statement shape
    if (Seq("union", "intersect", "except").exists(w =>
        topLevelKeyword(tail, tsc, Seq(w)).nonEmpty)) return None
    if (distinctOn.nonEmpty || starReplace.nonEmpty)
      for (kw <- Seq(Seq("group", "by"), Seq("having"), Seq("qualify"), Seq("window")))
        if (topLevelKeyword(tail, tsc, kw).nonEmpty)
          throw new IllegalArgumentException(
            s"${if (distinctOn.nonEmpty) "DISTINCT ON" else "* REPLACE"} cannot be combined with " +
              "GROUP BY/HAVING/QUALIFY/WINDOW in one statement — aggregate in a subquery first")
    // a DISTINCT select with QUALIFY would need the distinct applied AFTER
    // the window filter — not this pass's shape, leave for Spark's error
    if (qualifyPos.nonEmpty && matchesWord(sel, 0, "distinct")) return None
    // split the trailing QUALIFY / ORDER BY / LIMIT / OFFSET off the core
    // (for QUALIFY the core keeps its GROUP BY/HAVING/WINDOW — the filter
    // wraps the aggregated select, exactly like the pipe-stage lowering)
    val obPos = topLevelKeyword(tail, tsc, Seq("order", "by")).headOption.getOrElse(tail.length)
    val limPos = topLevelKeyword(tail, tsc, Seq("limit")).headOption.getOrElse(tail.length)
    val offPos = topLevelKeyword(tail, tsc, Seq("offset")).headOption.getOrElse(tail.length)
    val positions = (Seq(obPos, limPos, offPos) ++ qualifyPos.toSeq)
      .filter(_ < tail.length).sorted
    def segEnd(p: Int): Int = positions.find(_ > p).getOrElse(tail.length)
    val cut = positions.headOption.getOrElse(tail.length)
    val core = shims(tail.substring(0, cut).trim)
    val orderByText =
      if (obPos >= tail.length) None
      else {
        // text after the BY keyword, up to the next trailing clause
        val afterBy = nextCode(tail, tsc, obPos + "order".length) + "by".length
        Some(shims(tail.substring(afterBy, segEnd(obPos)).trim))
      }
    val limit = if (limPos >= tail.length) None
      else Some(tail.substring(limPos + "limit".length, segEnd(limPos)).trim)
    val offset = if (offPos >= tail.length) None
      else Some(tail.substring(offPos + "offset".length, segEnd(offPos)).trim)
    distinctOn match {
      case Some((onExprs, rest)) =>
        val proj = if (rest.isEmpty) "* EXCEPT (__distinct_on__)" else shims(rest)
        // the window's partition/pick run INSIDE the select (against the
        // unprojected rows), but DuckDB resolves their bare references
        // through the OUTPUT aliases first — substitute `alias` → `(expr)`
        // so `DISTINCT ON (par) … ORDER BY par` works when par is a
        // select-list alias (the outer ORDER BY keeps the alias text; the
        // projection is in scope there)
        val aliasMap = selectAliases(proj)
        val pickOrder = substituteAliases(
          orderByText.getOrElse(shims(onExprs)), aliasMap)
        val onKey = substituteAliases(shims(onExprs), aliasMap)
        val pred = s"row_number() OVER (PARTITION BY $onKey ORDER BY $pickOrder) = 1"
        val inner = s"SELECT *, ($pred) AS __distinct_on__ $core"
        Some(withTail(s"SELECT $proj FROM ( $inner ) WHERE __distinct_on__",
          orderByText, limit, offset))
      case None if starReplace.nonEmpty =>
        val assigns = starReplace.get
        val inner = s"SELECT * $core |> SET ${shims(assigns)}"
        if (orderByText.isEmpty && limit.isEmpty && offset.isEmpty) Some(inner)
        else Some(withTail(s"SELECT * FROM ( $inner )", orderByText, limit, offset))
      case None =>
        // plain-statement QUALIFY: materialize the predicate as a hidden
        // column inside the (possibly aggregated) select, filter, drop —
        // the same lowering the pipe-stage path uses
        val qp = qualifyPos.get
        val pred = shims(tail.substring(qp + "qualify".length, segEnd(qp)).trim)
        val inner = s"SELECT ${shims(sel)}, ($pred) AS __qualify__ $core"
        Some(withTail(s"SELECT * EXCEPT (__qualify__) FROM ( $inner ) WHERE __qualify__",
          orderByText, limit, offset))
    }
  }

  /** Explicit `expr AS name` aliases of a select list (top-level commas,
    * last top-level AS per item; bare or implicit aliases don't count).
    */
  private def selectAliases(sel: String): Map[String, String] = {
    splitTopCommas(sel).iterator.flatMap { item =>
      val isc = scan(item)
      topLevelKeyword(item, isc, Seq("as")).lastOption.flatMap { asPos =>
        val name = item.substring(asPos + 2).trim
        val expr = item.substring(0, asPos).trim
        if (name.nonEmpty && name.forall(isWordChar) && expr.nonEmpty) Some(name.toLowerCase -> expr)
        else None
      }
    }.toMap
  }

  /** Replace bare, unqualified, non-call references to the alias names with
    * their parenthesized expressions (DuckDB's output-alias resolution for
    * sort/partition items).
    */
  private def substituteAliases(txt: String, aliases: Map[String, String]): String = {
    if (aliases.isEmpty) return txt
    val sc = scan(txt)
    val sb = new StringBuilder
    var i = 0
    while (i < txt.length) {
      val hit = aliases.find { case (n, _) =>
        sc.code(i) && matchesWord(txt, i, n) && {
          val j = nextCode(txt, sc, i + n.length)
          !(j >= 0 && txt.charAt(j) == '(')
        } && {
          var k = i - 1
          while (k >= 0 && Character.isWhitespace(txt.charAt(k))) k -= 1
          !(k >= 0 && txt.charAt(k) == '.')
        }
      }
      hit match {
        case Some((n, e)) => sb.append('(').append(e).append(')'); i += n.length
        case None         => sb.append(txt.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** Assemble one stage into SELECT-first SQL over `prev` (None for a head
    * FROM-first fragment, where the stage text itself starts with FROM).
    */
  private def assembleStage(prev: Option[String], stage0: String): String = {
    val stage = stage0.trim
    val st = parseStage(stage)
    val fromPart: String = {
      // reader/series table functions are legal in head and join positions,
      // which bypass shims — rewrite them here (read_csv('p', …) →
      // 'p#graft:…'; generate_series(…) → exploded subquery)
      val suffix = rewriteSeriesFns(rewriteReaderFns(st.fromSuffix))
      prev match {
        case Some(p) => s"( $p ) ${dedupJoinOn(suffix)}".trim
        case None =>
          // head: strip leading FROM keyword from the suffix
          val sc = scan(suffix)
          val i = nextCode(suffix, sc, 0)
          if (i >= 0 && matchesWord(suffix, i, "from"))
            suffix.substring(i + 4).trim
          else suffix
      }
    }
    val sel0 = st.clauses.get("select").map(shims).getOrElse("*")
    val whereRaw = st.clauses.get("where").map(shims)
    val groupBy = st.clauses.get("groupBy").map(shims)
    val having = st.clauses.get("having").map(shims)
    val qualify0 = st.clauses.get("qualify").map(shims)
    val window0 = st.clauses.get("window").map(shims)
    // a named WINDOW spec carrying EXCLUDE / GROUPS / window-FILTER must
    // inline into its OVER references: the window passes rewrite the
    // aggregate AND the spec together, which a shared named spec cannot
    // express (different aggregates need different rewrites of one spec).
    // Inlining is semantics-preserving, so over-triggering is harmless;
    // without the trigger words the named clause stays Spark-native.
    val (sel, qualify, window) = window0 match {
      case Some(wc) if {
        val blob = s"$sel0 $wc ${qualify0.getOrElse("")}"
        val sc = scan(blob)
        def hasWord(w: String): Boolean =
          (0 until blob.length).exists(i => sc.code(i) && matchesWord(blob, i, w))
        hasWord("exclude") || hasWord("groups") || hasWord("filter")
      } =>
        val defs = parseWindowDefs(wc)
        (inlineOverRefs(sel0, defs), qualify0.map(inlineOverRefs(_, defs)), None)
      case _ => (sel0, qualify0, window0)
    }
    val orderBy = st.clauses.get("orderBy").map(shims)
    val limit = st.clauses.get("limit").map(shims)
    val offset = st.clauses.get("offset").map(shims)
    val sampleSpec = st.clauses.get("sample")
    // deterministic hash sampling is a plain predicate (see
    // hashSamplePredicate) — it ANDs into WHERE (hash sampling commutes
    // with any deterministic filter) instead of becoming a TABLESAMPLE
    val hashPred = sampleSpec.flatMap(s => hashSamplePredicate(shims(s)))
    val sample = if (hashPred.isDefined) None else sampleSpec.map(translateSample)
    val where = (whereRaw, hashPred) match {
      case (Some(w), Some(p)) => Some(s"($w) AND $p")
      case (None, p)          => p
      case (w, None)          => w
    }

    val fromWithSample = sample match {
      case Some(ts) => s"$fromPart $ts"
      case None     => fromPart
    }

    // DuckDB `SELECT * REPLACE (…)` → Spark native pipe SET (the identical
    // in-place-replacement semantics); the pipe subquery parenthesizes
    // cleanly, so downstream stages wrap it like any other
    st.clauses.get("select").flatMap(splitStarReplace) match {
      case Some(assigns) =>
        if (Seq("groupBy", "having", "qualify", "window").exists(st.clauses.contains))
          throw new IllegalArgumentException(
            "* REPLACE cannot be combined with GROUP BY/HAVING/QUALIFY/WINDOW in one stage — " +
              "split the pipeline into separate stages")
        val inner = new StringBuilder(s"SELECT * FROM $fromWithSample")
        where.foreach(w => inner.append(s" WHERE $w"))
        inner.append(s" |> SET ${shims(assigns)}")
        if (orderBy.isEmpty && limit.isEmpty && offset.isEmpty) return inner.toString
        return withTail(s"SELECT * FROM ( ${inner.toString} )", orderBy, limit, offset)
      case None => ()
    }

    // DuckDB `SELECT DISTINCT ON (exprs) list … ORDER BY o`: keep the first
    // row per group under o (group-pick order AND output order — Postgres
    // semantics, which DuckDB follows). Spark has no DISTINCT ON, so rewrite
    // to a row_number window over the UNPROJECTED rows (the ON exprs and o
    // may reference columns outside the select list), filter, then project.
    st.clauses.get("select").flatMap(splitDistinctOn) match {
      case Some((onExprs, rest)) =>
        if (Seq("qualify", "groupBy", "having", "window").exists(st.clauses.contains))
          throw new IllegalArgumentException(
            "DISTINCT ON cannot be combined with GROUP BY/HAVING/QUALIFY/WINDOW in one stage — " +
              "split the pipeline into separate stages")
        val proj = if (rest.isEmpty) "* EXCEPT (__distinct_on__)" else shims(rest)
        // output aliases resolve in the pick/partition (DuckDB's rule) —
        // same substitution as the plain-statement path
        val aliasMap = selectAliases(proj)
        val pickOrder = substituteAliases(orderBy.getOrElse(shims(onExprs)), aliasMap)
        val onKey = substituteAliases(shims(onExprs), aliasMap)
        val pred = s"row_number() OVER (PARTITION BY $onKey ORDER BY $pickOrder) = 1"
        val inner = new StringBuilder(s"SELECT *, ($pred) AS __distinct_on__ FROM $fromWithSample")
        where.foreach(w => inner.append(s" WHERE $w"))
        return withTail(s"SELECT $proj FROM ( ${inner.toString} ) WHERE __distinct_on__",
          orderBy, limit, offset)
      case None => ()
    }

    // DuckDB GROUPS-mode frames: materialize dense_rank() in an inner
    // select and restate the frame as RANGE over the rank (GroupsFrames);
    // EXCLUDE tails survive into the later WindowExclude pass
    GroupsFrames.rewriteSelect(sel) match {
      case Some((sel2, gHelpers)) =>
        if (groupBy.nonEmpty || having.nonEmpty || qualify.nonEmpty || window.nonEmpty)
          throw new IllegalArgumentException(
            "GROUPS frames cannot be combined with GROUP BY/HAVING/QUALIFY/WINDOW " +
              "in one stage — split the pipeline into separate stages")
        val helperSql = gHelpers.map { case (a, e) => s"$e AS $a" }.mkString(", ")
        val inner = new StringBuilder(s"SELECT *, $helperSql FROM $fromWithSample")
        where.foreach(w => inner.append(s" WHERE $w"))
        val outSel = GroupsFrames.starExceptHelpers(sel2, gHelpers.map(_._1))
        return withTail(s"SELECT $outSel FROM ( ${inner.toString} )", orderBy, limit, offset)
      case None => ()
    }

    qualify match {
      case None =>
        val base = new StringBuilder(s"SELECT $sel FROM $fromWithSample")
        where.foreach(w => base.append(s" WHERE $w"))
        groupBy.foreach(g => base.append(s" GROUP BY $g"))
        having.foreach(h => base.append(s" HAVING $h"))
        window.foreach(w => base.append(s" WINDOW $w"))
        // SQL-standard `()` grouping set over EMPTY input: DuckDB/Postgres
        // emit one global-aggregate row where Spark emits none (grouping
        // sets lower to Expand+grouped-agg, and a grouped agg over zero rows
        // has zero groups). When the stage's GROUP BY is a bare ROLLUP/CUBE/
        // GROUPING SETS-with-() over identifier keys, union an empty-guarded
        // global-aggregate branch that produces exactly that row (fuzz f040).
        val guarded = for {
          g <- groupBy if window.isEmpty
          keys <- emptyGroupingKeys(g)
          gsel <- emptyGuardRewrite(sel, keys)
        } yield {
          val gb = new StringBuilder(s"SELECT $gsel FROM $fromWithSample")
          where.foreach(w => gb.append(s" WHERE $w"))
          // a global aggregate over empty input yields one row with
          // count(*)=0 — the HAVING keeps it ONLY when the input is empty,
          // so on non-empty input this branch contributes nothing
          gb.append(" HAVING count(*) = 0")
          having.foreach(h => gb.append(s" AND (${emptyGuardRewrite(h, keys).getOrElse(h)})"))
          s"SELECT * FROM ( ( ${base.toString} ) UNION ALL ( ${gb.toString} ) )"
        }
        // DuckDB percentage limit `LIMIT n%`: keep floor(n% of count) rows
        // under the stage ordering. Spark's LIMIT takes literals only, so
        // rewrite through a row_number + count(*) window pair (both global
        // — inherently so: a percentage needs the total; DuckDB's own
        // LIMIT % materializes the count too). Spell it as its own
        // trailing stage; combining with OFFSET/QUALIFY/etc. throws.
        limit.flatMap(parsePctLimit) match {
          case Some(pct) =>
            if (offset.nonEmpty)
              throw new IllegalArgumentException("LIMIT n% with OFFSET is unsupported")
            if (orderBy.exists(_.trim.equalsIgnoreCase("all")))
              throw new IllegalArgumentException(
                "LIMIT n% needs explicit ORDER BY columns (not ALL) — " +
                  "the pick order feeds a window function")
            // a bare `|> limit 10%` stage after `|> order by …` must pick
            // under THAT order (DuckDB preserves the subquery sort; Spark's
            // optimizer drops it), so reuse the previous stage's trailing
            // ORDER BY when this stage has none; otherwise the pick is
            // arbitrary, like DuckDB over an unordered input
            val ord = orderBy
              .orElse(prev.flatMap(trailingOrderBy)
                .filter(!_.equalsIgnoreCase("all")))
              .getOrElse("monotonically_increasing_id()")
            val body = guarded.getOrElse(base.toString)
            return withTail(
              s"SELECT * EXCEPT (__pctrn, __pctn) FROM ( SELECT *, " +
                s"row_number() over (order by $ord) AS __pctrn, " +
                s"count(*) over () AS __pctn FROM ( $body ) ) " +
                s"WHERE __pctrn <= floor(__pctn * ($pct) / 100.0)", orderBy, None, None)
          case None => ()
        }
        withTail(guarded.getOrElse(base.toString), orderBy, limit, offset)
      case Some(pred) =>
        // Spark has no QUALIFY: filter on the predicate materialized as a
        // hidden column in an inner select, then drop it. ORDER BY / LIMIT
        // apply after the filter, matching DuckDB clause order.
        val sb = new StringBuilder(s"SELECT $sel, ($pred) AS __qualify__ FROM $fromWithSample")
        where.foreach(w => sb.append(s" WHERE $w"))
        groupBy.foreach(g => sb.append(s" GROUP BY $g"))
        having.foreach(h => sb.append(s" HAVING $h"))
        window.foreach(w => sb.append(s" WINDOW $w"))
        withTail(s"SELECT * EXCEPT (__qualify__) FROM ( ${sb.toString} ) WHERE __qualify__",
          orderBy, limit, offset)
    }
  }

  /** `body` followed by a stage's trailing ORDER BY / LIMIT / OFFSET. */
  private def withTail(body: String, orderBy: Option[String], limit: Option[String],
      offset: Option[String]): String =
    body + orderBy.fold("")(o => s" ORDER BY $o") + limit.fold("")(l => s" LIMIT $l") +
      offset.fold("")(o => s" OFFSET $o")

  /** When a GROUP BY clause consists of exactly one top-level `ROLLUP(…)`,
    * `CUBE(…)`, or `GROUPING SETS (…)` whose set list contains the empty set
    * `()`, return the distinct grouping-key expressions. These are the
    * clauses whose result over EMPTY input must still contain the global
    * `()` row (SQL standard; DuckDB conforms, Spark does not — see the
    * empty-guard rewrite in [[assembleStage]]). Any other clause shape
    * (plain keys, mixed `a, rollup(b)`, trailing items) returns None: there
    * every grouping set contains a key, so empty input → zero rows in both
    * engines and no guard is needed.
    */
  private[psql] def emptyGroupingKeys(g0: String): Option[Seq[String]] = {
    val g = g0.trim
    val sc = scan(g)
    val st = nextCode(g, sc, 0)
    if (st < 0) return None
    def parenSpan(from: Int): Option[(Int, Int)] = {
      val open = nextCode(g, sc, from)
      if (open < 0 || g.charAt(open) != '(') return None
      val close = closeParen(g, sc, open)
      if (close < 0) None else Some((open, close))
    }
    def splitTop(body: String): Seq[String] = splitTopCommas(body).map(_.trim)
    if (matchesWord(g, st, "rollup") || matchesWord(g, st, "cube")) {
      val kwLen = if (matchesWord(g, st, "rollup")) 6 else 4
      parenSpan(st + kwLen).flatMap { case (open, close) =>
        if (nextCode(g, sc, close + 1) >= 0) None // trailing items → sets never empty
        else Some(splitTop(g.substring(open + 1, close)).filter(_.nonEmpty).distinct)
      }
    } else if (matchesWord(g, st, "grouping")) {
      val setsPos = nextCode(g, sc, st + 8)
      if (setsPos < 0 || !matchesWord(g, setsPos, "sets")) None
      else parenSpan(setsPos + 4).flatMap { case (open, close) =>
        if (nextCode(g, sc, close + 1) >= 0) None
        else {
          val sets = splitTop(g.substring(open + 1, close))
          if (!sets.exists(_.matches("\\(\\s*\\)"))) None // no () set → no global row
          else Some(sets.flatMap { s =>
            if (s.startsWith("(") && s.endsWith(")"))
              splitTop(s.drop(1).dropRight(1)).filter(_.nonEmpty)
            else if (s.isEmpty) Nil
            else Seq(s)
          }.distinct)
        }
      }
    } else None
  }

  /** Rewrite a select/having clause for the empty-input global-aggregate
    * guard branch: `grouping(…)` → 1, `grouping_id(…)` → all-ones constant,
    * and every (possibly qualified) reference whose last component names a
    * grouping key → NULL. The branch only ever emits rows over EMPTY input
    * (the HAVING count(*)=0 guard), where any aggregate yields the same
    * result regardless of argument, so nulling key references inside
    * aggregates is safe; outside aggregates a valid grouping-sets query can
    * only reference grouping keys, which is exactly what gets nulled. Keys
    * that are not simple (optionally dot-qualified) identifiers return None
    * and the caller skips the guard (conservative: better to keep the known
    * Spark empty-rollup divergence than to emit a branch that cannot
    * resolve).
    */
  private[psql] def emptyGuardRewrite(text: String, keys: Seq[String]): Option[String] = {
    val identPat = "^[A-Za-z_][\\w$]*(\\.[A-Za-z_][\\w$]*)?$"
    if (!keys.forall(_.matches(identPat))) return None
    val keyLasts = keys.map(k => k.substring(k.lastIndexOf('.') + 1).toLowerCase).toSet
    val sc = scan(text)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      var consumed = false
      if (sc.code(i) && isWordChar(text.charAt(i)) &&
          (i == 0 || (!isWordChar(text.charAt(i - 1)) && text.charAt(i - 1) != '.'))) {
        if (matchesWord(text, i, "grouping_id") || matchesWord(text, i, "grouping")) {
          val kwLen = if (matchesWord(text, i, "grouping_id")) 11 else 8
          val open = nextCode(text, sc, i + kwLen)
          if (open >= 0 && text.charAt(open) == '(') {
            val close = closeParen(text, sc, open)
            if (close >= 0) {
              // for the () grouping set every grouping() bit is 1; the
              // grouping_id over m listed keys is therefore 2^m - 1
              val inner = text.substring(open + 1, close).trim
              val nArgs =
                if (inner.isEmpty) keys.size else splitTopCommas(inner).size
              val const = if (kwLen == 8) "1" else ((1L << nArgs) - 1).toString
              sb.append(const)
              i = close + 1
              consumed = true
            }
          }
        }
        if (!consumed) {
          // read the full dotted identifier chain and null it if its last
          // component is a grouping key
          var j = i
          while (j < text.length && sc.code(j) &&
            (isWordChar(text.charAt(j)) || text.charAt(j) == '.')) j += 1
          val chain = text.substring(i, j)
          val last = chain.substring(chain.lastIndexOf('.') + 1)
          // an alias position (`… AS l_returnflag`) names the OUTPUT column
          // after a key — it must survive, only key REFERENCES become NULL
          val isAliasPos = locally {
            var k = i - 1
            while (k >= 0 && Character.isWhitespace(text.charAt(k))) k -= 1
            k >= 1 && sc.code(k) && matchesWord(text, k - 1, "as")
          }
          if (keyLasts.contains(last.toLowerCase) && !isAliasPos) {
            sb.append("NULL")
            i = j
            consumed = true
          }
        }
      }
      if (!consumed) { sb.append(text.charAt(i)); i += 1 }
    }
    Some(sb.toString)
  }

  /** DuckDB ≥1.2 treats same-named columns equated in a join's ON clause as
    * deduplicated, so an unqualified reference to the column downstream is
    * not ambiguous (exercised by the reference README pipeline's final
    * `select customer_id` after `on invoices.customer_id =
    * customers.customer_id`, `README.md:24-30`). Spark keeps both columns
    * and errors on the bare name. Conformance shim: a single INNER join
    * whose ON condition is purely a conjunction of same-named qualified
    * column equalities is rewritten to `JOIN … USING (cols)`, which has
    * identical inner-join semantics and Spark-side deduplicated scoping.
    */
  private def dedupJoinOn(fromSuffix: String): String = {
    val sc = scan(fromSuffix)
    val joins = topLevelKeyword(fromSuffix, sc, Seq("join"))
    val ons = topLevelKeyword(fromSuffix, sc, Seq("on"))
    val nonInner = Seq("left", "right", "full", "outer", "semi", "anti", "cross", "lateral")
      .exists(k => topLevelKeyword(fromSuffix, sc, Seq(k)).nonEmpty)
    if (joins.length != 1 || ons.length != 1 || nonInner || ons.head < joins.head)
      return fromSuffix
    val pre = fromSuffix.substring(0, ons.head)
    val cond = fromSuffix.substring(ons.head + 2).trim
    val csc = scan(cond)
    val andPos = topLevelKeyword(cond, csc, Seq("and"))
    val bounds = (0 +: andPos.map(_ + 3)).zip(andPos :+ cond.length)
    val conjs = bounds.map { case (a, b) => cond.substring(a, math.min(b, cond.length)).trim }
    val eqPat = "^([A-Za-z_][\\w]*)\\.([A-Za-z_][\\w]*)\\s*=\\s*([A-Za-z_][\\w]*)\\.([A-Za-z_][\\w]*)$".r
    val cols = conjs.map {
      case eqPat(q1, c1, q2, c2) if c1.equalsIgnoreCase(c2) && !q1.equalsIgnoreCase(q2) => Some(c1)
      case _ => None
    }
    if (cols.nonEmpty && cols.forall(_.isDefined))
      s"${pre.trim} USING (${cols.flatten.mkString(", ")})"
    else fromSuffix
  }

  /** DuckDB `USING SAMPLE n% / n ROWS [(method[, seed])]` → Spark
    * TABLESAMPLE, carrying the seed through as REPEATABLE for deterministic
    * samples.
    */
  /** Deterministic, cross-engine-reproducible sampling:
    * `USING SAMPLE hash(<frac>, <keyExpr> [, <seed>])` keeps a row iff the
    * top 28 bits of `md5('<seed>-' || key)` land below `frac` — the t06 /
    * c11 md5-keyed technique lifted to a first-class stage. Unlike
    * TABLESAMPLE (q31: engine-private PRNG, can never hash-match
    * cross-engine and changes under retries/partitioning), the hash sample
    * is a PURE ROW PREDICATE: the same rows survive on any engine, any
    * partitioning, any retry — so it is full-oracle (q75) and safe to use
    * in incremental pipelines (a re-run samples identically). `frac`
    * accepts `10%` or `0.1`; seed defaults to 42. Being a predicate it
    * also pushes down / combines with WHERE freely (sampling by hash
    * commutes with any deterministic filter).
    */
  private[psql] def hashSamplePredicate(spec: String): Option[String] = {
    val t0 = spec.trim
    // unwrap ONE optional grouping paren pair — `using sample (hash(…))` —
    // without eating the call's own closing paren
    val t =
      if (t0.startsWith("(") && t0.endsWith(")") &&
          closeParen(t0, scan(t0), 0) == t0.length - 1)
        t0.substring(1, t0.length - 1).trim
      else t0
    if (!matchesWord(t, 0, "hash")) return None
    val sc = scan(t)
    val open = nextCode(t, sc, 4)
    if (open < 0 || t.charAt(open) != '(' || !t.trim.endsWith(")")) return None
    val a = splitTopCommas(t.substring(open + 1, t.lastIndexOf(')'))).map(_.trim).filter(_.nonEmpty)
    require(a.length == 2 || a.length == 3,
      s"USING SAMPLE hash(frac, keyExpr [, seed]) takes 2-3 arguments, got: $t")
    val fracText = a(0) match {
      case p if p.endsWith("%") => s"(${p.dropRight(1).trim} / 100.0)"
      case f                    => f
    }
    val seed = if (a.length == 3) a(2) else "42"
    require(seed.matches("[0-9]+"), s"hash sample seed must be a number literal, got: $seed")
    // top 28 md5 bits as uniform [0,1): exact integer / exact power of two,
    // bit-identical in any engine with md5 (the c11 oracle formula).
    // DOUBLE arithmetic on purpose (r18): a bare `/ 268435456.0` parses as
    // DECIMAL in Spark — the division then runs per row in Decimal (the
    // q75 filter's dominant per-row cost) AND diverges from the convention
    // everywhere else (TrainingPipeline's sampleFraction and the DuckDB
    // oracles both divide as double). x / 2^28 is EXACT in double (x <
    // 2^28, power-of-two divisor), so the kept row set is unchanged for
    // any percent-style frac: the nearest attainable quotient sits ≥
    // 4e-10 from a ≤6-decimal-digit threshold while double division here
    // has zero rounding error.
    Some(s"cast(conv(substring(md5(concat('$seed-', cast((${a(1)}) as string))), 1, 7), 16, 10) as bigint)" +
      s" / cast(268435456.0 as double) < cast(($fracText) as double)")
  }

  /** SQL keywords that can directly precede a `[` only when it opens a
    * LIST LITERAL (never a subscript) — `in [1,2]`, `then [x]`, … plus
    * `array` for the postgres-style `ARRAY[1,2]` spelling.
    */
  private val preBracketKeywords = Set(
    "select", "where", "when", "then", "else", "end", "case", "and", "or",
    "not", "in", "is", "as", "on", "by", "from", "having", "between", "like",
    "ilike", "all", "any", "some", "distinct", "union", "intersect", "except",
    "limit", "offset", "join", "over", "partition", "order", "group", "array",
    "exists", "return", "returning", "values", "asc", "desc", "nulls", "first", "last")

  /** DuckDB bracket syntax → Spark calls (applied inside [[shims]]):
    *
    *   - list literal `[a, b]` / `ARRAY[a, b]` → `array(a, b)`
    *   - subscript `x[i]` → `element_at(x, i)` — CRITICAL semantics, not
    *     sugar: DuckDB subscripts are 1-BASED (and -1 = last) while a bare
    *     `x[i]` in Spark SQL is 0-based `GetArrayItem`, so passing the text
    *     through silently off-by-ones every ported query. `element_at` is
    *     1-based with negative-from-end — exactly DuckDB's semantics — and
    *     behaves identically for map keys, which both engines index by key.
    *   - slice `x[a:b]` → `slice(x, a, greatest(b - a + 1, 0))`, with
    *     DuckDB's open ends: `x[:b]` from 1, `x[a:]` to the end, `x[:]`
    *     the whole list; empty-range (b < a) yields an empty list in both.
    *
    * A `[` is a subscript when it directly follows an identifier, `)`, or
    * `]` whose word is not a keyword; anything else opens a literal.
    * Nested forms resolve over iterations (each pass splices the first
    * bracket and rescans).
    */
  private[psql] def rewriteBrackets(text0: String): String = {
    var text = text0
    var from = 0 // scan offset: brackets deliberately left alone stay behind it
    var guard = 0
    while (guard < 10000) {
      guard += 1
      val sc = scan(text)
      // first code-position '[' at or after the offset …
      var i = from
      var pos = -1
      while (pos < 0 && i < text.length) {
        if (sc.code(i) && text.charAt(i) == '[') pos = i else i += 1
      }
      if (pos < 0) return text
      // … its matching ']' (respecting nesting of both bracket kinds)
      var j = pos + 1
      var bd = 1
      var close = -1
      while (close < 0 && j < text.length) {
        if (sc.code(j)) {
          if (text.charAt(j) == '[') bd += 1
          else if (text.charAt(j) == ']') { bd -= 1; if (bd == 0) close = j }
        }
        j += 1
      }
      if (close < 0) return text // unbalanced: leave for Spark's error
      val content = text.substring(pos + 1, close)
      // postfix context?
      var p = pos
      while (p > 0 && Character.isWhitespace(text.charAt(p - 1))) p -= 1
      val prevCh = if (p > 0) text.charAt(p - 1) else ' '
      // a '[' directly after a string literal's closing quote subscripts
      // the literal ('hello'[2:4] — DuckDB character slicing); the closing
      // quote is non-code in the scan, so it needs its own detection
      val afterStringLit = p > 0 && prevCh == '\'' && !sc.code(p - 1)
      val postfix = afterStringLit || (p > 0 && sc.code(p - 1) &&
        (Character.isLetterOrDigit(prevCh) || prevCh == '_' || prevCh == '$' ||
          prevCh == ')' || prevCh == ']') && {
          if (prevCh == ')' || prevCh == ']') true
          else {
            var st = p
            while (st > 0 && isWordChar(text.charAt(st - 1))) st -= 1
            !preBracketKeywords.contains(text.substring(st, p).toLowerCase)
          }
        })
      if (postfix && content.trim.isEmpty) {
        // `int[]` / `cast(x as varchar[])` typed-array syntax: an EMPTY
        // postfix bracket is a TYPE, not a subscript. Spark spells the
        // type `array<int>`, so a simple-identifier base translates;
        // anything else is left for Spark's own error (an empty LITERAL
        // `[]` still becomes array() below)
        var st = p
        while (st > 0 && (Character.isLetterOrDigit(text.charAt(st - 1)) ||
          text.charAt(st - 1) == '_')) st -= 1
        if (st < p && p == pos) {
          val tname = text.substring(st, p)
          text = text.substring(0, st) + s"array<$tname>" + text.substring(close + 1)
        } else from = close + 1
      } else if (!postfix) {
        // list literal; strip a preceding ARRAY keyword if present
        def identCh(idx: Int): Boolean = {
          val ch = text.charAt(idx)
          Character.isLetterOrDigit(ch) || ch == '_'
        }
        var litStart = pos
        if (p > 0) {
          var st = p
          while (st > 0 && identCh(st - 1)) st -= 1
          val isArrayWord = st < p && text.substring(st, p).equalsIgnoreCase("array")
          if (isArrayWord && (st == 0 || !sc.code(st - 1) || !identCh(st - 1)))
            litStart = st
        }
        text = text.substring(0, litStart) +
          tryComprehension(content).getOrElse("array(" + content + ")") +
          text.substring(close + 1)
      } else {
        // base expression: maximal postfix chain ending at pos
        var b = p
        var continueChain = true
        while (continueChain && b > 0) {
          val c = text.charAt(b - 1)
          if (c == '\'' && !sc.code(b - 1)) {
            // string literal: jump to its opening quote (the only quote the
            // scan marks as code — '' escapes stay non-code) and stop; a
            // literal can only START a postfix chain
            var k = b - 2
            while (k >= 0 && !(sc.code(k) && text.charAt(k) == '\'')) k -= 1
            if (k < 0) continueChain = false else { b = k; continueChain = false }
          } else if (sc.code(b - 1) && (Character.isLetterOrDigit(c) || c == '_' ||
              c == '$' || c == '.')) b -= 1
          else if (sc.code(b - 1) && (c == ')' || c == ']')) {
            // jump over the balanced group
            var k = b - 2
            var d = 1
            val openCh = if (c == ')') '(' else '['
            while (d > 0 && k >= 0) {
              if (sc.code(k)) {
                if (text.charAt(k) == c) d += 1
                else if (text.charAt(k) == openCh) d -= 1
              }
              if (d > 0) k -= 1
            }
            if (k < 0) continueChain = false else b = k
          } else continueChain = false
        }
        val base = text.substring(b, p)
        // top-level ':' inside content → slice; else element_at
        val csc = scan(content)
        var colon = -1
        var depth = 0
        for (k <- 0 until content.length if colon < 0) {
          if (csc.code(k)) {
            val c = content.charAt(k)
            if (c == '(' || c == '[') depth += 1
            else if (c == ')' || c == ']') depth -= 1
            else if (c == ':' && depth == 0 && csc.depth(k) == 0) colon = k
          }
        }
        // graft_at / graft_slice are engine-registered type-dispatching
        // expressions (functions.SubscriptExpressions): arrays/maps keep
        // the exact ElementAt/Slice trees the former text rewrite emitted,
        // strings get DuckDB's character subscripts. Open slice ends are
        // NULL-literal markers.
        val repl =
          if (colon < 0) s"graft_at($base, $content)"
          else {
            val a = content.substring(0, colon).trim
            val bb = content.substring(colon + 1).trim
            (a.isEmpty, bb.isEmpty) match {
              case (true, true)   => base
              case (true, false)  => s"graft_slice_to($base, $bb)"
              case (false, true)  => s"graft_slice_from($base, $a)"
              case (false, false) => s"graft_slice($base, $a, $bb)"
            }
          }
        text = text.substring(0, b) + repl + text.substring(close + 1)
      }
    }
    text
  }

  /** DuckDB arithmetic operators Spark lacks — or, worse, MISREADS:
    *
    *   - `a // b` → `a div b`: DuckDB integer division sits on the same
    *     precedence tier as `*`/`/` (probed: `2 * 9 // 2` = 9, left-assoc
    *     with `*`), exactly where Spark parses `div`, so a bare token swap
    *     preserves grouping. Both engines truncate toward zero on integers
    *     (`-7 // 2` = -3 = `-7 div 2`). Documented divergences: DuckDB
    *     keeps the operand width (SMALLINT//SMALLINT → SMALLINT) where
    *     Spark `div` always returns BIGINT — cast outputs when the width
    *     matters; and DuckDB 1.0 `//` on FLOATS degenerates to plain `/`
    *     (7.5 // 2 = 3.75, probed) where Spark `div` yields the integral
    *     part — integral use is the contract.
    *   - `a ^ b` and `a ** b` → `power(a, b)`: CRITICAL semantics, not
    *     sugar — Spark parses `^` as bitwise XOR, a silently wrong answer
    *     for every ported DuckDB query (`2 ^ 3` is 8 in DuckDB, 1 in
    *     Spark). Operand extraction reproduces DuckDB's probed precedence:
    *     unary minus binds TIGHTER than `^` (`-2 ^ 2` = 4), `^` is
    *     left-associative (`2 ^ 3 ^ 2` = 64 — leftmost-first splicing
    *     reproduces this) and binds tighter than `*` and binary `+`/`-`
    *     (`2 * 3 ^ 2` = 18) — so each operand is a maximal PRIMARY chain
    *     (identifier/number/call/paren group plus postfix `(…)` `[…]`
    *     `.field` `::type` tails, scientific-notation signs included),
    *     never crossing a binary operator. Chains the rewriter cannot
    *     shape (no usable operand) pass through to Spark's own parse.
    */
  private[psql] def rewriteArith(text0: String): String = {
    // pass 1: `//` → ` div ` (same precedence tier in both engines)
    val sc0 = scan(text0)
    val sb0 = new StringBuilder
    var i0 = 0
    while (i0 < text0.length) {
      if (text0.charAt(i0) == '/' && sc0.code(i0) && i0 + 1 < text0.length &&
          text0.charAt(i0 + 1) == '/' && sc0.code(i0 + 1)) {
        sb0.append(" div "); i0 += 2
      } else { sb0.append(text0.charAt(i0)); i0 += 1 }
    }
    var text = sb0.toString
    // pass 2: exponentiation, leftmost-first (= left associativity)
    var from = 0
    var guard = 0
    while (guard < 10000) {
      guard += 1
      val sc = scan(text)
      var i = from
      var pos = -1
      var opLen = 0
      while (pos < 0 && i < text.length) {
        val c = text.charAt(i)
        if (sc.code(i) && c == '^') { pos = i; opLen = 1 }
        else if (sc.code(i) && c == '*' && i + 1 < text.length &&
            sc.code(i + 1) && text.charAt(i + 1) == '*') { pos = i; opLen = 2 }
        else i += 1
      }
      if (pos < 0) return text
      (arithLeft(text, sc, pos), arithRight(text, sc, pos + opLen)) match {
        case (Some(ls), Some(re)) =>
          val l = text.substring(ls, pos).trim
          val r = text.substring(pos + opLen, re).trim
          text = text.substring(0, ls) + "power(" + l + ", " + r + ")" +
            text.substring(re)
        case _ => from = pos + opLen // no usable operand: leave for Spark
      }
    }
    text
  }

  /** DuckDB reader table functions → quoted-path scans. `read_csv('p',
    * header=true, delim='|')` and friends are the most common DuckDB
    * spelling after bare quoted paths; they rewrite to the engine's path
    * form `'p#graft:format=csv&header=true&sep=|'`, which PathRelations
    * resolves to a reader temp view keyed by path+options. Option names
    * map to Spark reader options (header, delim/sep, quote, escape,
    * nullstr → nullValue); `:=` and `=` both separate name from value.
    * UNSUPPORTED options throw — a silently dropped `columns=` or
    * `skip=` would change data, and fail-loudly is the engine contract.
    */
  private val readerFns = Map(
    "read_csv" -> "csv", "read_csv_auto" -> "csv",
    "read_parquet" -> "parquet",
    "read_json" -> "json", "read_json_auto" -> "json",
    "read_ndjson_auto" -> "json")

  private def translateReadFn(fmt: String, inner: String): String = {
    val sc = scan(inner)
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var last = 0
    var i = 0
    while (i < inner.length) {
      if (sc.code(i)) {
        val c = inner.charAt(i)
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (c == ',' && depth == 0) { parts += inner.substring(last, i); last = i + 1 }
      }
      i += 1
    }
    parts += inner.substring(last)
    val head = parts.head.trim
    require(head.length >= 2 && head.startsWith("'") && head.endsWith("'"),
      s"read_$fmt: the first argument must be a path string literal (got: $head)")
    val rawPath = head.substring(1, head.length - 1)
    val opts = scala.collection.mutable.LinkedHashMap("format" -> fmt)
    parts.tail.map(_.trim).filter(_.nonEmpty).foreach { p =>
      val eq = p.indexOf('=')
      require(eq > 0, s"read_$fmt: expected name=value option, got: $p")
      val key = p.substring(0, eq).trim.stripSuffix(":").trim.toLowerCase
      var v = p.substring(eq + 1).trim
      if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
        v = v.substring(1, v.length - 1)
      key match {
        case "header"         => opts += "header" -> v.toLowerCase
        case "delim" | "sep"  => opts += "sep" -> v
        case "quote"          => opts += "quote" -> v
        case "escape"         => opts += "escape" -> v
        case "nullstr"        => opts += "nullValue" -> v
        case other => throw new IllegalArgumentException(
          s"read_$fmt option '$other' has no Spark reader mapping — " +
            "supported: header, delim/sep, quote, escape, nullstr")
      }
    }
    "'" + rawPath + "#graft:" +
      opts.map { case (k, v) => s"$k=$v" }.mkString("&") + "'"
  }

  /** Standalone pass: every `read_*(…)` reader call at a code position →
    * its quoted-path form. Runs inside [[shims]] (expression clauses) AND
    * on the stage from-suffix (head relations and join sides, which
    * deliberately bypass shims). */
  private[psql] def rewriteReaderFns(text0: String): String = {
    var text = text0
    var guard = 0
    while (guard < 1000) {
      guard += 1
      val sc = scan(text)
      var i = 0
      var hit = -1
      var fname: String = null
      while (hit < 0 && i < text.length) {
        if (sc.code(i)) readerFns.keys.find(f => matchesWord(text, i, f) && {
          val open = nextCode(text, sc, i + f.length)
          open >= 0 && text.charAt(open) == '('
        }) match {
          case Some(f) => hit = i; fname = f
          case None    => i += 1
        }
        else i += 1
      }
      if (hit < 0) return text
      val open = nextCode(text, sc, hit + fname.length)
      var k = open + 1
      var d = 1
      while (d > 0 && k < text.length) {
        if (sc.code(k)) {
          if (text.charAt(k) == '(') d += 1
          else if (text.charAt(k) == ')') d -= 1
        }
        k += 1
      }
      if (d > 0) return text // unbalanced: leave for Spark's error
      text = text.substring(0, hit) +
        translateReadFn(readerFns(fname), text.substring(open + 1, k - 1)) +
        text.substring(k)
    }
    text
  }

  /** FROM-position `generate_series(a, b[, s])` / `range(a, b[, s])` —
    * DuckDB's table forms, output column named after the function —
    * become exploded scalar-series subqueries. Runs on the stage
    * from-suffix only (scalar positions go through the functionAliases
    * mapping to graft_series / graft_range instead). */
  private[psql] def rewriteSeriesFns(text0: String): String = {
    var text = text0
    var guard = 0
    // unnest's "target" is empty: `FROM unnest(e)` explodes e directly
    // (DuckDB's table-form column is named `unnest`); the scalar-position
    // occurrences are covered by the functionAliases unnest→explode entry
    val seriesFns = Seq("generate_series" -> "graft_series", "range" -> "graft_range",
      "unnest" -> "")
    while (guard < 100) {
      guard += 1
      val sc = scan(text)
      var i = 0
      var hit = -1
      var hitName = ""
      var hitTarget = ""
      while (hit < 0 && i < text.length) {
        val m = seriesFns.find { case (name, _) =>
          sc.code(i) && matchesWord(text, i, name) && {
            val open = nextCode(text, sc, i + name.length)
            open >= 0 && text.charAt(open) == '('
          } && {
            // TABLE position only: directly after FROM, JOIN, or a from-list
            // comma — a scalar series call inside a subquery in the
            // suffix must stay scalar (the functionAliases path covers it)
            var p = i - 1
            while (p >= 0 && Character.isWhitespace(text.charAt(p))) p -= 1
            p < 0 || (sc.code(p) && (text.charAt(p) == ',' ||
              matchesWord(text, p - 3, "from") || matchesWord(text, p - 3, "join")))
          }
        }
        m match {
          case Some((name, target)) => hit = i; hitName = name; hitTarget = target
          case None                 => i += 1
        }
      }
      if (hit < 0) return text
      val open = nextCode(text, sc, hit + hitName.length)
      var k = open + 1
      var d = 1
      while (d > 0 && k < text.length) {
        if (sc.code(k)) {
          if (text.charAt(k) == '(') d += 1
          else if (text.charAt(k) == ')') d -= 1
        }
        k += 1
      }
      if (d > 0) return text
      val args = text.substring(open + 1, k - 1)
      val inner = if (hitTarget.isEmpty) args else s"$hitTarget($args)"
      text = text.substring(0, hit) +
        s"(select explode($inner) as $hitName)" +
        text.substring(k)
    }
    // partially rewritten text would silently change series semantics —
    // the exact cross-engine divergence this pass exists to eliminate
    throw new IllegalArgumentException(
      "rewriteSeriesFns: rewrite guard exhausted (>100 series calls in one statement)")
  }

  /** CAST / TRY_CAST with an integer or boolean target → graft_cast /
    * graft_try_cast (functions.GraftCast): DuckDB's numeric-cast semantics
    * differ from Spark's SILENTLY — double→int rounds half-even where
    * Spark truncates, decimal→int rounds half-away, string→int takes the
    * full DuckDB grammar ('3.9' → 4, '0x1A' → 26, '1_000' → 1000) where
    * Spark NULLs/errors, boolean strings are untrimmed members of
    * {true,false,t,f,1,0}. Other targets (varchar, double, date, …)
    * pass through: those casts already agree cross-engine. Array types
    * (`int[]`) and parameterized types (`decimal(4,1)`) are not single
    * target words and pass through untouched.
    */
  private val graftCastTargets: Set[String] = Set(
    "tinyint", "int1", "smallint", "int2", "short", "int", "int4",
    "integer", "signed", "bigint", "int8", "long", "bool", "boolean")

  private[psql] def rewriteCasts(text0: String): String = {
    var text = text0
    var guard = 0
    // each iteration rewrites exactly one target cast and `cast(x as t)`
    // is ≥14 chars, so text0.length/8 bounds the rewrite count — a fixed
    // 200 rejected machine-generated statements (e.g. the DML cowSwap
    // projection over a very wide table with many integer retypes)
    val guardMax = math.max(200, text0.length / 8)
    while (guard < guardMax) {
      guard += 1
      val sc = scan(text)
      var i = 0
      var changed = false
      while (!changed && i < text.length) {
        val fn =
          if (sc.code(i) && matchesWord(text, i, "try_cast")) Some(("try_cast", "graft_try_cast"))
          else if (sc.code(i) && matchesWord(text, i, "cast")) Some(("cast", "graft_cast"))
          else None
        fn match {
          case Some((word, target)) =>
            val open = nextCode(text, sc, i + word.length)
            if (open >= 0 && text.charAt(open) == '(') {
              var k = open + 1
              var d = 1
              while (d > 0 && k < text.length) {
                if (sc.code(k)) {
                  if (text.charAt(k) == '(') d += 1
                  else if (text.charAt(k) == ')') d -= 1
                }
                k += 1
              }
              if (d == 0) {
                val body = text.substring(open + 1, k - 1)
                val bsc = scan(body)
                topLevelKeyword(body, bsc, Seq("as")).lastOption match {
                  case Some(asPos) =>
                    val typeText = body.substring(asPos + 2).trim
                      .toLowerCase(java.util.Locale.ROOT)
                    if (graftCastTargets.contains(typeText)) {
                      val expr = body.substring(0, asPos).trim
                      text = text.substring(0, i) +
                        s"$target($expr, '$typeText')" + text.substring(k)
                      changed = true
                    } else i = open + 1 // non-target cast: scan INSIDE it
                  case None => i = open + 1
                }
              } else i += 1
            } else i += 1
          case None => i += 1
        }
      }
      if (!changed) return text
    }
    // a partial rewrite would leave the remaining casts on Spark's
    // truncation semantics — the silent divergence this pass eliminates
    throw new IllegalArgumentException(
      s"rewriteCasts: rewrite guard exhausted (>$guardMax casts in one statement)")
  }

  /** Double-colon casts `expr::<target>` for the graftCastTargets set →
    * `graft_cast(expr, '<target>')`. DuckDB treats `x::int` and
    * `cast(x AS int)` as the SAME operation, so the two spellings must
    * not diverge: without this pass `cast('3.9' AS int)` = 4 (GraftCast)
    * but `'3.9'::int` would fall through to Spark's Cast and yield NULL,
    * and `3.5::int` would truncate to 3 where DuckDB rounds half-even
    * to 4. The operand is the maximal primary chain [[arithLeft]]
    * extracts (identifier/number/call/paren group plus postfix tails,
    * `::` connectors included — so `x::double::int` casts the DOUBLE
    * cast's result, matching DuckDB's left-to-right chaining).
    * Non-target types (`::double`, `::date`, `::varchar`→string) and
    * array targets (`::int[]`) pass through — those casts already agree
    * cross-engine. TRY_CAST has no `::` spelling, so `graft_cast` (the
    * throwing form) is always the right lowering. Chains the scanner
    * cannot shape pass through to Spark's own parse.
    */
  private[psql] def rewriteColonCasts(text0: String): String = {
    var text = text0
    var from = 0
    var guard = 0
    // each iteration either rewrites one target cast or advances past one
    // `::`; rewrites resume from the operand start (not 0), so iterations
    // scale ~linearly with the input — size the guard with it
    val guardMax = math.max(10000, text0.length)
    while (guard < guardMax) {
      guard += 1
      val sc = scan(text)
      var i = from
      var hit = -1
      while (hit < 0 && i + 1 < text.length) {
        if (sc.code(i) && text.charAt(i) == ':' && sc.code(i + 1) &&
            text.charAt(i + 1) == ':') hit = i
        else i += 1
      }
      if (hit < 0) return text
      // the target type word after `::` (whitespace allowed: `x :: int`)
      var t = hit + 2
      while (t < text.length && Character.isWhitespace(text.charAt(t))) t += 1
      var te = t
      while (te < text.length && sc.code(te) &&
          (Character.isLetterOrDigit(text.charAt(te)) || text.charAt(te) == '_')) te += 1
      val target = text.substring(t, te).toLowerCase(java.util.Locale.ROOT)
      val after = nextCode(text, sc, te)
      val arrayTail = after >= 0 && text.charAt(after) == '[' // `::int[]`
      if (te > t && graftCastTargets.contains(target) && !arrayTail) {
        // operand start: the arith primary chain, or a string literal
        // ('3.9'::int) which arithLeft does not shape — the scanner
        // marks the OPENING quote as code and everything after it in the
        // literal (escaped '' pairs, closing quote) as non-code, so
        // walking back over the non-code span lands on the opening quote
        val operandStart0: Option[Int] = arithLeft(text, sc, hit).orElse {
          var q = hit
          while (q > 0 && Character.isWhitespace(text.charAt(q - 1))) q -= 1
          if (q > 0 && text.charAt(q - 1) == '\'' && !sc.code(q - 1)) {
            var p = q - 1
            while (p >= 0 && !sc.code(p)) p -= 1
            if (p >= 0 && text.charAt(p) == '\'') Some(p) else None
          } else None
        }
        // bare `CASE … END::int` (no wrapping parens): the primary chain
        // arithLeft extracts is just the END keyword — the cast applies
        // to the whole CASE expression in DuckDB, so extend the operand
        // back to the MATCHING case (nesting-aware)
        val operandStart: Option[Int] = operandStart0.flatMap { ls =>
          if (!text.substring(ls, hit).trim.equalsIgnoreCase("end")) Some(ls)
          else {
            var depth = 1
            var p = ls - 1
            var start = -1
            while (start < 0 && p >= 0) {
              if (sc.code(p) && matchesWord(text, p, "end")) depth += 1
              else if (sc.code(p) && matchesWord(text, p, "case")) {
                depth -= 1
                if (depth == 0) start = p
              }
              p -= 1
            }
            if (start >= 0) Some(start) else None // unmatched: leave for Spark
          }
        }
        operandStart match {
          case Some(ls) =>
            val expr = text.substring(ls, hit).trim
            text = text.substring(0, ls) + s"graft_cast($expr, '$target')" +
              text.substring(te)
            // resume from the operand start: text before `ls` is untouched,
            // so its skip decisions still hold — restarting at 0 made the
            // pass ~quadratic in the count of non-target `::`s before a hit
            from = ls
          case None => from = te // no usable operand: leave for Spark
        }
      } else from = te
    }
    throw new IllegalArgumentException(
      s"rewriteColonCasts: rewrite guard exhausted (>$guardMax steps)")
  }

  /** C-style strftime format → Spark datetime pattern. Alphabetic
    * LITERALS must be quoted on the Java side (an unquoted `T` is a
    * pattern letter there, a literal in C), quotes double. `%-X` is the
    * unpadded variant. Codes with no faithful Spark equivalent (%U %W %w
    * %c %x %X %z %Z locale/zone/week-number forms) THROW — a silently
    * wrong week number is worse than an error.
    */
  private val strftimeCodes: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
    'f' -> "SSSSSS", 'g' -> "SSS", 'p' -> "a",
    'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM", 'B' -> "MMMM",
    'j' -> "DDD")
  private val strftimeUnpadded: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "M", 'd' -> "d",
    'H' -> "H", 'I' -> "h", 'M' -> "m", 'S' -> "s", 'j' -> "D")

  private[psql] def cFormatToSpark(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = {
      if (lit.nonEmpty) {
        val s = lit.toString
        if (s.exists(c => Character.isLetter(c) || c == '\''))
          out.append('\'').append(s.replace("'", "''")).append('\'')
        else out.append(s)
        lit.clear()
      }
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val n = fmt.charAt(i + 1)
        if (n == '%') { lit.append('%'); i += 2 }
        else if (n == 'n') { lit.append('\n'); i += 2 }
        else if (n == 't') { lit.append('\t'); i += 2 }
        else if (n == '-' && i + 2 < fmt.length &&
            strftimeUnpadded.contains(fmt.charAt(i + 2))) {
          flush(); out.append(strftimeUnpadded(fmt.charAt(i + 2))); i += 3
        } else if (strftimeCodes.contains(n)) {
          flush(); out.append(strftimeCodes(n)); i += 2
        } else throw new IllegalArgumentException(
          s"strftime code %$n has no faithful Spark datetime-pattern equivalent")
      } else { lit.append(c); i += 1 }
    }
    flush()
    out.toString
  }

  /** DuckDB 3-arg `date_diff('part', a, b)` (alias `datediff`) counts
    * PART-BOUNDARY CROSSINGS — probed: year('2023-12-31','2024-01-01')=1,
    * hour(01:59, 02:01)=1, week boundary is Monday — which is NOT Spark's
    * months_between/datediff semantics, so each part translates to
    * explicit boundary arithmetic (BIGINT, DuckDB's output type). Spark's
    * own 2-arg date_diff/datediff passes through untouched. Unsupported
    * parts throw. `date_sub` (complete-interval counting, a DIFFERENT
    * function in DuckDB) is deliberately not mapped.
    */
  private def dateDiffSql(part: String, a: String, b: String): String = {
    def floorDiv(unit: Int): String =
      s"cast(floor(cast(cast(($b) as timestamp) as double) / $unit) - " +
        s"floor(cast(cast(($a) as timestamp) as double) / $unit) as bigint)"
    part.toLowerCase.stripSuffix("s") match {
      case "year" => s"cast(year($b) - year($a) as bigint)"
      case "quarter" =>
        s"cast((year($b) * 4 + quarter($b)) - (year($a) * 4 + quarter($a)) as bigint)"
      case "month" =>
        s"cast((year($b) * 12 + month($b)) - (year($a) * 12 + month($a)) as bigint)"
      case "week" =>
        s"cast(datediff(date_trunc('week', $b), date_trunc('week', $a)) div 7 as bigint)"
      case "day" => s"cast(datediff(cast(($b) as date), cast(($a) as date)) as bigint)"
      case "hour"   => floorDiv(3600)
      case "minute" => floorDiv(60)
      case "second" => floorDiv(1)
      case other => throw new IllegalArgumentException(
        s"date_diff part '$other' has no boundary-crossing translation " +
          "(supported: year, quarter, month, week, day, hour, minute, second)")
    }
  }

  /** DuckDB `format()` uses fmt-style braces; Spark's format_string is
    * printf-style. `{}` → `%s`, `{N}` → `%(N+1)$s` (positional), `{{`/`}}`
    * → literal braces, `%` → `%%`; format SPECS (`{:d}`) throw — the spec
    * grammar has no faithful printf mapping for every case. */
  private[psql] def fmtToPrintf(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '{' && i + 1 < fmt.length && fmt.charAt(i + 1) == '{') {
        out.append('{'); i += 2
      } else if (c == '}' && i + 1 < fmt.length && fmt.charAt(i + 1) == '}') {
        out.append('}'); i += 2
      } else if (c == '{') {
        var j = i + 1
        while (j < fmt.length && fmt.charAt(j) != '}') j += 1
        if (j >= fmt.length) throw new IllegalArgumentException(
          s"format: unterminated {} placeholder in: $fmt")
        val inner = fmt.substring(i + 1, j)
        if (inner.isEmpty) out.append("%s")
        else if (inner.forall(Character.isDigit)) out.append(s"%${inner.toInt + 1}$$s")
        else throw new IllegalArgumentException(
          s"format spec '{$inner}' has no faithful printf mapping (use printf)")
        i = j + 1
      } else if (c == '%') { out.append("%%"); i += 1 }
      else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** The tilde-family operator token starting at code position i — one of
    * `!~~*` `!~~` `!~` `~~*` `~~` `~` — or null. Longest match wins. */
  private def tildeOpAt(text: String, sc: SqlScanner.Scan, i: Int): String = {
    def ch(k: Int, c: Char): Boolean =
      i + k < text.length && sc.code(i + k) && text.charAt(i + k) == c
    if (ch(0, '!')) {
      if (ch(1, '~') && ch(2, '~') && ch(3, '*')) "!~~*"
      else if (ch(1, '~') && ch(2, '~')) "!~~"
      else if (ch(1, '~')) "!~"
      else null
    } else if (ch(0, '~')) {
      if (ch(1, '~') && ch(2, '*')) "~~*"
      else if (ch(1, '~')) "~~"
      else "~"
    } else null
  }

  /** A pattern body lifted VERBATIM from a DuckDB string literal, made safe
    * for re-embedding in a Spark string literal: DuckDB literals carry
    * backslashes raw, but Spark's parser (escapedStringLiterals=false, the
    * default) unescapes them — `'\d+'` would silently become regex `d+`.
    * Doubling restores the raw bytes, the same treatment [[globToRegex]]
    * gives its generated backslashes. `''` quote escapes pass through
    * unchanged (the body is re-embedded between quotes verbatim). */
  private def reEmbed(body: String): String = body.replace("\\", "\\\\")

  /** Index of the closing quote of the string literal opening at `litPos`
    * (doubled quotes are escapes); -1 when unterminated or litPos < 0. */
  private def literalEnd(text: String, litPos: Int): Int = {
    if (litPos < 0 || litPos >= text.length || text.charAt(litPos) != '\'') return -1
    var e = litPos + 1
    while (e < text.length) {
      if (text.charAt(e) == '\'') {
        if (e + 1 < text.length && text.charAt(e + 1) == '\'') e += 2 else return e
      } else e += 1
    }
    -1
  }

  /** DuckDB glob pattern → Java regex, ready for re-embedding in a Spark
    * string literal (every generated backslash is DOUBLED so the literal
    * unescape yields the intended regex). Probed 1.0.0 semantics: `*` any
    * run including '/', `?` exactly one char, `[…]` classes where a
    * leading `!` negates (a leading `^` is a LITERAL member), `\c` forces
    * the next char literal, everything else — including all regex
    * metacharacters — literal, case-sensitive. */
  private[psql] def globToRegex(p: String): String = {
    val meta = ".^$+{}()|\\*?["
    def esc(out: StringBuilder, c: Char): Unit = {
      if (c == '\\') out.append("\\\\\\\\")
      else if (meta.indexOf(c.toInt) >= 0 || c == ']') out.append("\\\\").append(c)
      else out.append(c)
    }
    val out = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '*') { out.append(".*"); i += 1 }
      else if (c == '?') { out.append('.'); i += 1 }
      else if (c == '\\' && i + 1 < p.length) { esc(out, p.charAt(i + 1)); i += 2 }
      else if (c == '[') {
        var j = i + 1
        val cls = new StringBuilder("[")
        if (j < p.length && p.charAt(j) == '!') { cls.append('^'); j += 1 }
        var closed = false
        while (!closed && j < p.length) {
          val d = p.charAt(j)
          if (d == ']') closed = true
          else {
            if (d == '\\') cls.append("\\\\\\\\")
            else if (d == '^' || d == '[' || d == '&') cls.append("\\\\").append(d)
            else cls.append(d)
            j += 1
          }
        }
        if (closed && j > i + 1) { out.append(cls).append(']'); i = j + 1 }
        else { out.append("\\\\["); i += 1 } // unbalanced/empty: literal [
      } else { esc(out, c); i += 1 }
    }
    out.toString
  }

  /** DuckDB struct / map literals:
    *
    *   - `{'k1': v1, 'k2': v2}` → `named_struct('k1', v1, 'k2', v2)` —
    *     struct keys are string literals in DuckDB, exactly what Spark's
    *     named_struct wants; nested literals resolve over iterations
    *     (outermost spliced first, the rescan finds the inner braces).
    *   - `MAP {'k': v}` → `map('k', v, …)` — keys may be arbitrary
    *     expressions here (DuckDB allows `MAP {1: 'x'}`).
    *
    * Braces never occur at CODE positions elsewhere in the dialect (regex
    * quantifiers live inside string literals), so a code-`{` is always a
    * literal. Entries split on top-level commas and the first top-level
    * single `:` (a `::` cast is not a separator). Malformed bodies pass
    * through to Spark's own parse error.
    */
  private[psql] def rewriteBraces(text0: String): String = {
    var text = text0
    var guard = 0
    var from = 0
    while (guard < 10000) {
      guard += 1
      val sc = scan(text)
      var pos = -1
      var i = from
      while (pos < 0 && i < text.length) {
        if (sc.code(i) && text.charAt(i) == '{') pos = i else i += 1
      }
      if (pos < 0) return text
      // matching close brace (paren/bracket/brace depth-aware)
      var j = pos + 1
      var d = 1
      var close = -1
      while (close < 0 && j < text.length) {
        if (sc.code(j)) {
          val c = text.charAt(j)
          if (c == '{') d += 1
          else if (c == '}') { d -= 1; if (d == 0) close = j }
        }
        j += 1
      }
      if (close < 0) return text // unbalanced: leave for Spark
      val content = text.substring(pos + 1, close)
      // MAP prefix?
      var p = pos
      while (p > 0 && Character.isWhitespace(text.charAt(p - 1))) p -= 1
      val isMap = p >= 3 && sc.code(p - 1) && matchesWord(text, p - 3, "map")
      val entries = splitBraceEntries(content)
      entries match {
        case Some(kvs) if kvs.nonEmpty =>
          val flat = kvs.flatMap { case (k, v) => Seq(k, v) }.mkString(", ")
          val repl = if (isMap) s"map($flat)" else s"named_struct($flat)"
          val start = if (isMap) p - 3 else pos
          text = text.substring(0, start) + repl + text.substring(close + 1)
          from = 0
        case _ => from = close + 1 // not a literal shape we translate
      }
    }
    text
  }

  /** Split `'k1': v1, 'k2': v2` on top-level commas, each entry at its
    * first top-level single `:`; None when any entry has no separator. */
  private def splitBraceEntries(content: String): Option[Seq[(String, String)]] = {
    val sc = scan(content)
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var last = 0
    var i = 0
    while (i < content.length) {
      if (sc.code(i)) {
        val c = content.charAt(i)
        if (c == '(' || c == '[' || c == '{') depth += 1
        else if (c == ')' || c == ']' || c == '}') depth -= 1
        else if (c == ',' && depth == 0) { parts += content.substring(last, i); last = i + 1 }
      }
      i += 1
    }
    parts += content.substring(last)
    val kvs = parts.map { part =>
      val psc = scan(part)
      var depth2 = 0
      var sep = -1
      var k = 0
      while (sep < 0 && k < part.length) {
        if (psc.code(k)) {
          val c = part.charAt(k)
          if (c == '(' || c == '[' || c == '{') depth2 += 1
          else if (c == ')' || c == ']' || c == '}') depth2 -= 1
          else if (c == ':' && depth2 == 0) {
            if (k + 1 < part.length && part.charAt(k + 1) == ':') k += 1 // `::` cast
            else sep = k
          }
        }
        k += 1
      }
      if (sep < 0) null else (part.substring(0, sep).trim, part.substring(sep + 1).trim)
    }
    if (kvs.exists(kv => kv == null || kv._1.isEmpty || kv._2.isEmpty)) None
    else Some(kvs.toSeq)
  }

  /** DuckDB function chaining (dot-call syntax): `expr.func(args)` →
    * `func(expr, args)` — probed: works on column refs, call results and
    * parenthesized expressions (`('ab' || 'c').upper()` → 'ABC'), chains
    * left-to-right. A dot-call is a `.ident(` at a code position whose
    * dot is preceded by an operand; qualified COLUMN references (`t.col`
    * with no call parens) never match, and chains resolve innermost-first
    * over iterations. The base is the maximal primary chain — the same
    * shape [[rewriteArith]] extracts — so `t.s.upper()` becomes
    * `upper(t.s)` (DuckDB resolves the longest name prefix the same way).
    *
    * Catalog-qualified FUNCTION calls share this surface syntax
    * (`db.fn(x)` is ambiguous between fn-on-column-db and fn-in-schema-db;
    * DuckDB's binder disambiguates with the catalog, a string rewrite
    * cannot). Bare identifier chains rooted at a known function-namespace
    * marker — `system.builtin.abs(x)`, `spark_catalog.default.fn(x)`,
    * `builtin.`/`session.` — are NEVER columns, so those skip the rewrite
    * and reach Spark as the qualified calls they are. For any other
    * ambiguous spelling the dot-call interpretation wins (the DuckDB-
    * dialect reading); spell a user-schema function through its full
    * `spark_catalog.…` name to force function resolution.
    */
  private[psql] def rewriteDotCalls(text0: String): String = {
    var text = text0
    var guard = 0
    var from = 0
    while (guard < 10000) {
      guard += 1
      val sc = scan(text)
      // find `.ident(` with an operand-ending char before the dot
      var i = from
      var dot = -1
      var nameEnd = -1
      while (dot < 0 && i < text.length) {
        if (sc.code(i) && text.charAt(i) == '.' && i > 0 && {
            val b = text.charAt(i - 1)
            (sc.code(i - 1) && isWordChar(b)) || b == ')' || b == ']' || b == '\''
          } && i + 1 < text.length && {
            val c1 = text.charAt(i + 1)
            Character.isLetter(c1) || c1 == '_'
          }) {
          var j = i + 1
          while (j < text.length && (Character.isLetterOrDigit(text.charAt(j)) ||
            text.charAt(j) == '_')) j += 1
          if (j < text.length && text.charAt(j) == '(') { dot = i; nameEnd = j }
          else i += 1
        } else i += 1
      }
      if (dot < 0) return text
      // base: primary chain ending at the dot (no unary sign — the call
      // binds tighter); stop the chain at any EARLIER dot-call boundary?
      // no: DuckDB resolves the longest prefix as the value expression.
      val baseStart = {
        var b = dot
        var any = false
        var cont = true
        while (cont && b > 0) {
          val c = text.charAt(b - 1)
          if (sc.code(b - 1) && arithIdentCh(c)) { b -= 1; any = true }
          else if (sc.code(b - 1) && (c == ')' || c == ']')) {
            val openCh = if (c == ')') '(' else '['
            var k = b - 2
            var d = 1
            while (d > 0 && k >= 0) {
              if (sc.code(k)) {
                if (text.charAt(k) == c) d += 1
                else if (text.charAt(k) == openCh) d -= 1
              }
              if (d > 0) k -= 1
            }
            if (k < 0) cont = false else { b = k; any = true }
          } else if (c == '\'' && !sc.code(b - 1)) {
            // string literal: the scanner marks the OPENING quote as code
            // and everything after it (closing quote included) as non-code
            var k = b - 2
            while (k >= 0 && !sc.code(k)) k -= 1
            if (k >= 0 && text.charAt(k) == '\'') { b = k; any = true }
            cont = false
          } else cont = false
        }
        if (any) b else -1
      }
      val baseText = if (baseStart >= 0) text.substring(baseStart, dot) else ""
      val qualifiedFnBase = baseStart >= 0 && {
        // bare dotted identifier chain (no calls/literals/brackets) whose
        // head is a function-namespace marker → qualified function call
        baseText.nonEmpty && baseText.forall(c =>
          Character.isLetterOrDigit(c) || c == '_' || c == '$' || c == '.') &&
        Set("system", "builtin", "session", "spark_catalog")
          .contains(baseText.takeWhile(_ != '.').toLowerCase)
      }
      if (baseStart < 0 || qualifiedFnBase) { from = nameEnd; }
      else {
        // args: balanced paren group after the name
        var k = nameEnd + 1
        var d = 1
        while (d > 0 && k < text.length) {
          if (sc.code(k)) {
            if (text.charAt(k) == '(') d += 1
            else if (text.charAt(k) == ')') d -= 1
          }
          k += 1
        }
        if (d > 0) return text // unbalanced: leave for Spark
        val base = text.substring(baseStart, dot)
        val fname = text.substring(dot + 1, nameEnd)
        val args = text.substring(nameEnd + 1, k - 1).trim
        val call =
          if (args.isEmpty) s"$fname($base)" else s"$fname($base, $args)"
        text = text.substring(0, baseStart) + call + text.substring(k)
        from = 0
      }
    }
    text
  }

  private def arithIdentCh(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$' || c == '.'

  /** Start index of the maximal primary chain ending just before `opPos`,
    * including a leading UNARY sign when present (DuckDB binds unary minus
    * tighter than `^`); None when there is no usable operand. */
  private def arithLeft(text: String, sc: SqlScanner.Scan, opPos: Int): Option[Int] = {
    var b = opPos
    while (b > 0 && Character.isWhitespace(text.charAt(b - 1))) b -= 1
    var any = false
    var cont = true
    while (cont && b > 0) {
      val c = text.charAt(b - 1)
      if (sc.code(b - 1) && arithIdentCh(c)) { b -= 1; any = true }
      else if (sc.code(b - 1) && (c == '-' || c == '+') && any && b >= 3 &&
          (text.charAt(b - 2) == 'e' || text.charAt(b - 2) == 'E') &&
          Character.isDigit(text.charAt(b - 3))) {
        b -= 2 // scientific-notation sign: `1e-5`
      } else if (sc.code(b - 1) && (c == ')' || c == ']')) {
        val openCh = if (c == ')') '(' else '['
        var k = b - 2
        var d = 1
        while (d > 0 && k >= 0) {
          if (sc.code(k)) {
            if (text.charAt(k) == c) d += 1
            else if (text.charAt(k) == openCh) d -= 1
          }
          if (d > 0) k -= 1
        }
        if (k < 0) cont = false else { b = k; any = true }
      } else if (sc.code(b - 1) && c == ':' && b >= 2 &&
          text.charAt(b - 2) == ':') {
        b -= 2 // `::` cast connector inside the chain
      } else cont = false
    }
    if (!any) return None
    var s = b
    while (s > 0 && Character.isWhitespace(text.charAt(s - 1))) s -= 1
    if (s > 0 && sc.code(s - 1) &&
        (text.charAt(s - 1) == '-' || text.charAt(s - 1) == '+')) {
      // unary iff what precedes the sign cannot end an operand
      var q = s - 1
      while (q > 0 && Character.isWhitespace(text.charAt(q - 1))) q -= 1
      val unary =
        if (q == 0) true
        else if (!sc.code(q - 1)) false
        else {
          val d = text.charAt(q - 1)
          if ("(,=<>+-*/%^|&:".indexOf(d.toInt) >= 0) true
          else if (Character.isLetterOrDigit(d) || d == '_') {
            var st = q
            while (st > 0 && sc.code(st - 1) &&
                (Character.isLetterOrDigit(text.charAt(st - 1)) ||
                  text.charAt(st - 1) == '_')) st -= 1
            preBracketKeywords.contains(text.substring(st, q).toLowerCase)
          } else false
        }
      if (unary) return Some(s - 1)
    }
    Some(b)
  }

  /** End index (exclusive) of the primary chain starting at `start`
    * (optional unary signs allowed: `2 ^ -1`); None when empty. */
  private def arithRight(text: String, sc: SqlScanner.Scan, start: Int): Option[Int] = {
    var i = start
    while (i < text.length && Character.isWhitespace(text.charAt(i))) i += 1
    while (i < text.length && sc.code(i) &&
        (text.charAt(i) == '-' || text.charAt(i) == '+')) {
      i += 1
      while (i < text.length && Character.isWhitespace(text.charAt(i))) i += 1
    }
    var any = false
    var cont = true
    while (cont && i < text.length) {
      val c = text.charAt(i)
      if (sc.code(i) && arithIdentCh(c)) { i += 1; any = true }
      else if (sc.code(i) && (c == '-' || c == '+') && any && i >= 2 &&
          (text.charAt(i - 1) == 'e' || text.charAt(i - 1) == 'E') &&
          Character.isDigit(text.charAt(i - 2)) &&
          i + 1 < text.length && Character.isDigit(text.charAt(i + 1))) {
        i += 1 // scientific-notation sign: `1e-5`
      } else if (sc.code(i) && (c == '(' || c == '[')) {
        val closeCh = if (c == '(') ')' else ']'
        var k = i + 1
        var d = 1
        while (d > 0 && k < text.length) {
          if (sc.code(k)) {
            if (text.charAt(k) == c) d += 1
            else if (text.charAt(k) == closeCh) d -= 1
          }
          k += 1
        }
        if (d > 0) cont = false else { i = k; any = true }
      } else if (sc.code(i) && c == ':' && any && i + 1 < text.length &&
          text.charAt(i + 1) == ':') {
        i += 2 // `::` cast connector
      } else cont = false
    }
    if (any) Some(i) else None
  }

  /** DuckDB list comprehension inside a literal bracket:
    * `[expr FOR v IN list]` → `transform(list, v -> expr)` and
    * `[expr FOR v IN list IF cond]` → `transform(filter(list, v -> cond),
    * v -> expr)` — the python-style filter-then-map order DuckDB follows.
    * None when content has no top-level FOR (plain literal). Nested
    * brackets inside expr/list/cond resolve on later rewrite passes.
    */
  private def tryComprehension(content: String): Option[String] = {
    val sc = scan(content)
    // top-level keyword positions (paren depth 0 AND bracket depth 0)
    def topKeyword(word: String): Int = {
      var bd = 0
      var k = 0
      while (k < content.length) {
        if (sc.code(k)) {
          val c = content.charAt(k)
          if (c == '[') bd += 1
          else if (c == ']') bd -= 1
          else if (bd == 0 && sc.depth(k) == 0 && SqlScanner.matchesWord(content, k, word))
            return k
        }
        k += 1
      }
      -1
    }
    val forPos = topKeyword("for")
    if (forPos < 0) return None
    val expr = content.substring(0, forPos).trim
    var rest = content.substring(forPos + "for".length).trim
    val rsc = scan(rest)
    var vEnd = 0
    while (vEnd < rest.length && (Character.isLetterOrDigit(rest.charAt(vEnd)) ||
      rest.charAt(vEnd) == '_')) vEnd += 1
    val v = rest.substring(0, vEnd)
    if (v.isEmpty || expr.isEmpty) return None
    val inPos = SqlScanner.nextCode(rest, rsc, vEnd)
    if (inPos < 0 || !SqlScanner.matchesWord(rest, inPos, "in")) return None
    rest = rest.substring(inPos + 2).trim
    // optional trailing IF at top level of the remaining text
    val tsc = scan(rest)
    var ifPos = -1
    var bd = 0
    var k = 0
    while (ifPos < 0 && k < rest.length) {
      if (tsc.code(k)) {
        val c = rest.charAt(k)
        if (c == '[') bd += 1
        else if (c == ']') bd -= 1
        else if (bd == 0 && tsc.depth(k) == 0 && SqlScanner.matchesWord(rest, k, "if")) ifPos = k
      }
      k += 1
    }
    val (listExpr, cond) =
      if (ifPos < 0) (rest, None)
      else (rest.substring(0, ifPos).trim, Some(rest.substring(ifPos + 2).trim))
    if (listExpr.isEmpty) return None
    val src = cond match {
      case Some(c) => s"filter($listExpr, $v -> $c)"
      case None    => listExpr
    }
    Some(s"transform($src, $v -> $expr)")
  }

  /** Parse a WINDOW clause `w AS (spec), v AS (spec)` into name → spec
    * (names lowercased; a malformed item is skipped — Spark will report it
    * on the untouched text).
    */
  private[psql] def parseWindowDefs(clause: String): Map[String, String] = {
    splitTopCommas(clause).flatMap { item0 =>
      val item = item0.trim
      val isc = scan(item)
      val asPos = topLevelKeyword(item, isc, Seq("as")).headOption
      asPos.flatMap { ap =>
        val name = item.substring(0, ap).trim.toLowerCase
        val open = nextCode(item, isc, ap + 2)
        if (open >= 0 && item.charAt(open) == '(' && item.endsWith(")") &&
            name.nonEmpty && name.forall(c => Character.isLetterOrDigit(c) || c == '_'))
          Some(name -> item.substring(open + 1, item.length - 1).trim)
        else None
      }
    }.toMap
  }

  /** Replace every bare `OVER <name>` reference with `OVER (<spec>)` for
    * names defined in `defs`; `OVER (…)` forms are untouched.
    */
  private[psql] def inlineOverRefs(text: String, defs: Map[String, String]): String = {
    if (defs.isEmpty) return text
    val sc = scan(text)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      var consumed = false
      if (sc.code(i) && matchesWord(text, i, "over")) {
        val j = nextCode(text, sc, i + 4)
        if (j >= 0 && text.charAt(j) != '(') {
          var e = j
          while (e < text.length && isWordChar(text.charAt(e))) e += 1
          if (e > j) {
            val name = text.substring(j, e).toLowerCase
            defs.get(name).foreach { spec =>
              sb.append("over (").append(spec).append(")")
              i = e
              consumed = true
            }
          }
        }
      }
      if (!consumed) { sb.append(text.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** The trailing top-level ORDER BY expressions of an assembled SELECT
    * (text after the last `ORDER BY`, cut before any LIMIT/OFFSET), or
    * None.
    */
  private def trailingOrderBy(sqlText: String): Option[String] = {
    val sc = scan(sqlText)
    topLevelKeyword(sqlText, sc, Seq("order", "by")).lastOption.map { p =>
      val byPos = nextCode(sqlText, sc, p + "order".length)
      var t = sqlText.substring(byPos + 2)
      val tsc = scan(t)
      val cut = (topLevelKeyword(t, tsc, Seq("limit")) ++
        topLevelKeyword(t, tsc, Seq("offset"))).sorted.headOption
      cut.foreach(c => t = t.substring(0, c))
      t.trim
    }.filter(_.nonEmpty)
  }

  /** `LIMIT 10%` / `LIMIT 12.5 %` → the numeric percentage, else None. */
  private def parsePctLimit(l: String): Option[String] = {
    val t = l.trim
    if (t.endsWith("%")) {
      val n = t.dropRight(1).trim
      if (n.matches("[0-9]+(\\.[0-9]+)?")) Some(n) else None
    } else None
  }

  private def translateSample(spec: String): String = {
    val t0 = spec.trim.stripSuffix(")").stripPrefix("(").trim
    // optional trailing method/seed: `10% (bernoulli, 42)` / `10 percent (system)`
    val methodSeed = "(?is)^(.*?)\\s*\\(\\s*\\w+\\s*(?:,\\s*([0-9]+)\\s*)?$".r
    val (t, seed) = t0 match {
      case methodSeed(body, s) => (body.trim, Option(s))
      case _                   => (t0, None)
    }
    val rep = seed.map(s => s" REPEATABLE ($s)").getOrElse("")
    val pct = "(?i)^([0-9.]+)\\s*(%|percent)$".r
    val rows = "(?i)^([0-9]+)(\\s+rows?)?$".r
    t match {
      case pct(n, _)    => s"TABLESAMPLE ($n PERCENT)$rep"
      case rows(n, _)   => s"TABLESAMPLE ($n ROWS)$rep"
      case other        => s"TABLESAMPLE ($other)$rep"
    }
  }

  /** DuckDB → Spark function-name aliases, applied only where the Spark
    * function has identical argument order and semantics for the common
    * cases. (`string_split` note: Spark's `split` treats the separator as a
    * regex; single-character non-meta separators — the overwhelmingly common
    * case — behave identically.)
    */
  private val functionAliases: Map[String, String] = Map(
    "list_distinct" -> "array_distinct",
    "list_sort" -> "array_sort",
    "list_contains" -> "array_contains",
    "list_intersect" -> "array_intersect",
    "list_transform" -> "transform",
    "list_filter" -> "filter",
    "regexp_matches" -> "regexp_like",
    "string_split" -> "split",
    "str_split" -> "split",
    "string_to_array" -> "split",
    // strpos(str, sub) ≡ Spark instr(str, substr) — same 1-based, same
    // arg order (Spark's position/locate REVERSE the args; instr doesn't)
    "strpos" -> "instr",
    "starts_with" -> "startswith",
    "prefix" -> "startswith",
    "ends_with" -> "endswith",
    "suffix" -> "endswith",
    "strlen" -> "length",
    // printf-style formatting: identical % codes in both engines
    "printf" -> "format_string",
    // polymorphic len (strings/binary/lists -> BIGINT, as DuckDB returns)
    "len" -> "graft_len",
    "array_length" -> "graft_len",
    // DuckDB array_slice/list_slice are INCLUSIVE like brackets; the
    // graft_slice dispatch handles strings and lists alike
    "array_slice" -> "graft_slice",
    "list_slice" -> "graft_slice",
    "list_element" -> "graft_at",
    "list_extract" -> "graft_at",
    "list_value" -> "array",
    "list_pack" -> "array",
    "list_append" -> "array_append",
    "list_position" -> "array_position",
    "list_indexof" -> "array_position",
    // inclusive series with DuckDB's empty-on-direction-mismatch edge
    // (functions.GraftSeries); the FROM-position table form is rewritten
    // separately in assembleStage
    "generate_series" -> "graft_series",
    // exclusive-stop sibling of generate_series (range(5) = [0..4]); fires
    // only on `range(`, so RANGE window frames (never parenthesized after
    // the keyword) and columns named range are untouched
    "range" -> "graft_range",
    // select-list unnest over a LIST ≡ Spark's explode generator (row per
    // element, other select items repeat per row — both engines); the
    // FROM-position table form is rewritten in rewriteSeriesFns. DuckDB's
    // struct-unnest (field flattening) is not covered — lists only.
    "unnest" -> "explode",
    // DuckDB argmax family ≡ Spark max_by/min_by (same arg order/semantics)
    "arg_max" -> "max_by",
    "argmax" -> "max_by",
    "arg_min" -> "min_by",
    "argmin" -> "min_by"
  )

  /** Expression-level dialect shims applied to clause texts (string-aware):
    *   - zero-arg `count()` → `count(*)` (DuckDB allows it, `README.md:19`)
    *   - `* EXCLUDE (…)`   → `* EXCEPT (…)` (DuckDB star-exclude)
    *   - `COLUMNS('re')`   → `` `re` `` (DuckDB regex star-expansion →
    *     Spark's quoted-regex column; needs
    *     `spark.sql.parser.quotedRegexColumnNames=true` at analysis time,
    *     which the entry points arrange — [[Psql.usesColumnsExpansion]]).
    *     Spark full-matches where DuckDB partial-matches, so write anchored
    *     patterns (`^…$`) for identical behavior in both engines.
    *     `COLUMNS(*)` (no filter) becomes a plain `*`.
    *   - DuckDB function names → Spark equivalents ([[functionAliases]])
    */
  private[psql] def shims(text: String): String = {
    val sc = scan(text)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      if (sc.code(i) && text.charAt(i) == '0' && i + 2 < text.length &&
          (text.charAt(i + 1) == 'x' || text.charAt(i + 1) == 'X' ||
            text.charAt(i + 1) == 'b' || text.charAt(i + 1) == 'B') &&
          (i == 0 || !SqlScanner.isWordChar(text.charAt(i - 1))) && {
            // DuckDB hex/binary integer literals (0xFF / 0b1010) → decimal
            // (Spark has neither form; its x'FF' is a BYTES literal)
            val radix = if (text.charAt(i + 1) == 'x' || text.charAt(i + 1) == 'X') 16 else 2
            var e = i + 2
            while (e < text.length && Character.digit(text.charAt(e), radix) >= 0) e += 1
            val ok = e > i + 2 && (e >= text.length || !SqlScanner.isWordChar(text.charAt(e)))
            if (ok) {
              try {
                sb.append(java.lang.Long.parseLong(text.substring(i + 2, e), radix).toString)
                i = e
              } catch { case _: NumberFormatException => sb.append(text.charAt(i)); i += 1 }
            }
            ok
          }) {
        // handled in the guard (append + advance happen there)
      } else if (sc.code(i) && matchesWord(text, i, "count")) {
        // check for count ( )
        val open = nextCode(text, sc, i + 5)
        if (open >= 0 && text.charAt(open) == '(') {
          val close = nextCode(text, sc, open + 1)
          if (close >= 0 && text.charAt(close) == ')') {
            sb.append("count(*)")
            i = close + 1
          } else { sb.append(text.charAt(i)); i += 1 }
        } else { sb.append(text.charAt(i)); i += 1 }
      } else if (sc.code(i) && matchesWord(text, i, "exclude") && {
          // only in DuckDB's one legal context — `* EXCLUDE …` — so a
          // column or alias literally named `exclude` is left alone
          var k = i - 1
          while (k >= 0 && Character.isWhitespace(text.charAt(k))) k -= 1
          k >= 0 && sc.code(k) && text.charAt(k) == '*'
        }) {
        sb.append("EXCEPT")
        i += 7
        // DuckDB's parenless single-column form (`* EXCLUDE c`): Spark's
        // EXCEPT requires the parens — wrap the bare identifier
        val n = nextCode(text, sc, i)
        if (n >= 0 && text.charAt(n) != '(' && SqlScanner.isWordChar(text.charAt(n))) {
          var e = n
          while (e < text.length && SqlScanner.isWordChar(text.charAt(e))) e += 1
          sb.append(" (").append(text.substring(n, e)).append(')')
          i = e
        }
      } else if (sc.code(i) && matchesWord(text, i, "similar") && {
          val toPos = nextCode(text, sc, i + "similar".length)
          toPos >= 0 && matchesWord(text, toPos, "to")
        }) {
        // `x [NOT] SIMILAR TO '<pat>'` → `x [NOT] RLIKE '^(?:<pat>)$'`.
        // DuckDB deviates from the SQL standard here: SIMILAR TO lowers to
        // regexp_full_match with the pattern taken VERBATIM as a regex —
        // `%`/`_` are NOT translated ('abc' SIMILAR TO 'a%c' is false,
        // 'abc' SIMILAR TO 'a.c' is true; probed against DuckDB directly).
        // So the only transform needed is the full-match anchor (Spark
        // RLIKE is a partial match). NOT stays in place (Spark parses
        // NOT RLIKE). Non-literal patterns pass through to Spark's own
        // parse error.
        val toPos = nextCode(text, sc, i + "similar".length)
        val litPos = nextCode(text, sc, toPos + 2)
        if (litPos >= 0 && text.charAt(litPos) == '\'') {
          var e = litPos + 1
          var end = -1
          while (end < 0 && e < text.length) {
            if (text.charAt(e) == '\'') {
              if (e + 1 < text.length && text.charAt(e + 1) == '\'') e += 2 else end = e
            } else e += 1
          }
          if (end > 0) {
            val body = text.substring(litPos + 1, end)
            sb.append("rlike '^(?:").append(reEmbed(body)).append(")$'")
            i = end + 1
          } else { sb.append(text.charAt(i)); i += 1 }
        } else { sb.append(text.charAt(i)); i += 1 }
      } else if (sc.code(i) &&
          (matchesWord(text, i, "list_reverse_sort") || matchesWord(text, i, "list_unique")) && {
          val w = if (matchesWord(text, i, "list_reverse_sort")) "list_reverse_sort".length
                  else "list_unique".length
          val open = nextCode(text, sc, i + w)
          open >= 0 && text.charAt(open) == '('
        }) {
        // list_reverse_sort(l) → sort_array(l, false) (both engines put
        // NULLs last in descending order — probed); list_unique(l) → the
        // COUNT of distinct NON-NULL elements (DuckDB returns a count,
        // not a list, and excludes NULL — probed on 1.0)
        val isRev = matchesWord(text, i, "list_reverse_sort")
        val word = if (isRev) "list_reverse_sort" else "list_unique"
        val open = nextCode(text, sc, i + word.length)
        var k = open + 1
        var d = 1
        while (d > 0 && k < text.length) {
          if (sc.code(k)) {
            if (text.charAt(k) == '(') d += 1
            else if (text.charAt(k) == ')') d -= 1
          }
          k += 1
        }
        if (d > 0) { sb.append(text.charAt(i)); i += 1 }
        else {
          val inner = shims(text.substring(open + 1, k - 1))
          if (isRev) sb.append("sort_array(").append(inner).append(", false)")
          else sb.append("size(filter(array_distinct(").append(inner)
            .append("), __lu -> __lu is not null))")
          i = k
        }
      } else if (sc.code(i) &&
          (matchesWord(text, i, "strftime") || matchesWord(text, i, "strptime") ||
            matchesWord(text, i, "epoch")) && {
          val w = if (matchesWord(text, i, "epoch")) 5 else 8
          val open = nextCode(text, sc, i + w)
          open >= 0 && text.charAt(open) == '('
        }) {
        // DuckDB strftime/strptime use C format codes; Spark's
        // date_format/to_timestamp use Java patterns — translate the
        // LITERAL format (cFormatToSpark; non-literal formats and
        // untranslatable codes throw). epoch(x) → seconds-with-fraction
        // DOUBLE via a timestamp→double cast (unix_timestamp would drop
        // the fraction DuckDB keeps).
        val word =
          if (matchesWord(text, i, "strftime")) "strftime"
          else if (matchesWord(text, i, "strptime")) "strptime"
          else "epoch"
        val open = nextCode(text, sc, i + word.length)
        var k = open + 1
        var d = 1
        while (d > 0 && k < text.length) {
          if (sc.code(k)) {
            if (text.charAt(k) == '(') d += 1
            else if (text.charAt(k) == ')') d -= 1
          }
          k += 1
        }
        if (d > 0) { sb.append(text.charAt(i)); i += 1 }
        else if (word == "epoch") {
          val inner = text.substring(open + 1, k - 1)
          sb.append("cast(cast((").append(shims(inner)).append(") as timestamp) as double)")
          i = k
        } else {
          val inner = text.substring(open + 1, k - 1)
          val isc = scan(inner)
          var depth2 = 0
          var comma = -1
          var j = 0
          while (comma < 0 && j < inner.length) {
            if (isc.code(j)) {
              val c = inner.charAt(j)
              if (c == '(' || c == '[') depth2 += 1
              else if (c == ')' || c == ']') depth2 -= 1
              else if (c == ',' && depth2 == 0) comma = j
            }
            j += 1
          }
          require(comma > 0, s"$word(value, 'format') takes two arguments")
          val arg1 = inner.substring(0, comma).trim
          val fmtLit = inner.substring(comma + 1).trim
          require(fmtLit.length >= 2 && fmtLit.startsWith("'") && fmtLit.endsWith("'"),
            s"$word: the format must be a string literal for translation, got: $fmtLit")
          val fmtRaw = fmtLit.substring(1, fmtLit.length - 1).replace("''", "'")
          val translated = cFormatToSpark(fmtRaw).replace("'", "''")
          sb.append(if (word == "strftime") "date_format(" else "to_timestamp(")
            .append(shims(arg1)).append(", '").append(translated).append("')")
          i = k
        }
      } else if (sc.code(i) &&
          (matchesWord(text, i, "date_diff") || matchesWord(text, i, "datediff")) && {
          val w = if (matchesWord(text, i, "date_diff")) 9 else 8
          val open = nextCode(text, sc, i + w)
          open >= 0 && text.charAt(open) == '('
        }) {
        // 3-arg DuckDB form with a literal part → boundary arithmetic;
        // anything else (Spark's native 2-arg) passes through
        val w = if (matchesWord(text, i, "date_diff")) 9 else 8
        val open = nextCode(text, sc, i + w)
        var k = open + 1
        var d = 1
        while (d > 0 && k < text.length) {
          if (sc.code(k)) {
            if (text.charAt(k) == '(') d += 1
            else if (text.charAt(k) == ')') d -= 1
          }
          k += 1
        }
        val inner = if (d == 0) text.substring(open + 1, k - 1) else ""
        val parts: Seq[String] = if (d > 0) Nil else {
          val isc = scan(inner)
          val buf = scala.collection.mutable.ArrayBuffer[String]()
          var depth2 = 0
          var last = 0
          var j = 0
          while (j < inner.length) {
            if (isc.code(j)) {
              val c = inner.charAt(j)
              if (c == '(' || c == '[') depth2 += 1
              else if (c == ')' || c == ']') depth2 -= 1
              else if (c == ',' && depth2 == 0) { buf += inner.substring(last, j); last = j + 1 }
            }
            j += 1
          }
          buf += inner.substring(last)
          buf.toSeq.map(_.trim)
        }
        if (parts.length == 3 && parts.head.length >= 2 &&
            parts.head.startsWith("'") && parts.head.endsWith("'")) {
          val part = parts.head.substring(1, parts.head.length - 1)
          sb.append(dateDiffSql(part, shims(parts(1)), shims(parts(2))))
          i = k
        } else { sb.append(text.charAt(i)); i += 1 }
      } else if (sc.code(i) && matchesWord(text, i, "regexp_replace") && {
          val open = nextCode(text, sc, i + 14)
          open >= 0 && text.charAt(open) == '('
        }) {
        // DuckDB regexp_replace: 3-arg replaces the FIRST match only and
        // the replacement uses \N group refs ($ is literal) — both the
        // inverse of Spark — so every form routes through the
        // GraftRegexpReplace expression (runtime replacement translation,
        // cached). i/s/m flags become inline (?ism) pattern prefixes; 'g'
        // selects the global variant; other/non-literal flags throw.
        val open = nextCode(text, sc, i + 14)
        var k = open + 1
        var d = 1
        while (d > 0 && k < text.length) {
          if (sc.code(k)) {
            if (text.charAt(k) == '(') d += 1
            else if (text.charAt(k) == ')') d -= 1
          }
          k += 1
        }
        if (d > 0) { sb.append(text.charAt(i)); i += 1 }
        else {
          val inner = text.substring(open + 1, k - 1)
          val isc = scan(inner)
          val parts = scala.collection.mutable.ArrayBuffer[String]()
          var depth2 = 0
          var last = 0
          var j = 0
          while (j < inner.length) {
            if (isc.code(j)) {
              val c = inner.charAt(j)
              if (c == '(' || c == '[') depth2 += 1
              else if (c == ')' || c == ']') depth2 -= 1
              else if (c == ',' && depth2 == 0) { parts += inner.substring(last, j); last = j + 1 }
            }
            j += 1
          }
          parts += inner.substring(last)
          val args = parts.toSeq.map(_.trim)
          if (args.length == 3) {
            sb.append("graft_regexp_replace_first(").append(shims(args(0)))
              .append(", ").append(shims(args(1))).append(", ")
              .append(shims(args(2))).append(")")
            i = k
          } else if (args.length == 4) {
            require(args(3).length >= 2 && args(3).startsWith("'") && args(3).endsWith("'"),
              s"regexp_replace: flags must be a string literal, got: ${args(3)}")
            val flags = args(3).substring(1, args(3).length - 1)
            require(flags.forall("gism".contains(_)),
              s"regexp_replace flag string '$flags' — supported: g, i, s, m")
            val inline = flags.filter("ism".contains(_)).distinct
            val re =
              if (inline.isEmpty) shims(args(1))
              else s"concat('(?$inline)', ${shims(args(1))})"
            val fn = if (flags.contains('g')) "graft_regexp_replace_all"
                     else "graft_regexp_replace_first"
            sb.append(fn).append("(").append(shims(args(0))).append(", ")
              .append(re).append(", ").append(shims(args(2))).append(")")
            i = k
          } else { sb.append(text.charAt(i)); i += 1 }
        }
      } else if (sc.code(i) && matchesWord(text, i, "format") && {
          val open = nextCode(text, sc, i + 6)
          open >= 0 && text.charAt(open) == '(' && {
            val lit = nextCode(text, sc, open + 1)
            lit >= 0 && text.charAt(lit) == '\''
          }
        }) {
        // DuckDB fmt-style format('{} x {}', …) → format_string with the
        // braces translated to printf codes (fmtToPrintf; specs throw).
        // Only the literal-format form translates; anything else falls
        // through to Spark's own unknown-function error.
        val open = nextCode(text, sc, i + 6)
        val lit = nextCode(text, sc, open + 1)
        val end = literalEnd(text, lit)
        if (end > 0) {
          val raw = text.substring(lit + 1, end).replace("''", "'")
          val printf = fmtToPrintf(raw).replace("'", "''")
          sb.append("format_string('").append(printf).append("'")
          i = end + 1
        } else { sb.append(text.charAt(i)); i += 1 }
      } else if (sc.code(i) && matchesWord(text, i, "glob") && {
          val litPos = nextCode(text, sc, i + 4)
          litPos >= 0 && text.charAt(litPos) == '\''
        }) {
        // `x [NOT] GLOB '<pat>'` → `x [not] rlike '^(?:<re>)$'` — DuckDB
        // glob (probed): `*` any run (including '/'), `?` one char, `[…]`
        // classes with `!` negation (`^` is a LITERAL class member), every
        // regex metacharacter literal, case-sensitive. Generated regex
        // backslashes are doubled so Spark's literal unescape yields the
        // intended pattern.
        val litPos = nextCode(text, sc, i + 4)
        val end = literalEnd(text, litPos)
        if (end > 0) {
          val body = text.substring(litPos + 1, end)
          sb.append("rlike '^(?:").append(globToRegex(body)).append(")$'")
          i = end + 1
        } else { sb.append(text.charAt(i)); i += 1 }
      } else if (sc.code(i) &&
          (text.charAt(i) == '~' ||
            (text.charAt(i) == '!' && i + 1 < text.length && sc.code(i + 1) &&
              text.charAt(i + 1) == '~')) && {
          // binary regex-match only — a `~` NOT preceded by an operand is
          // Spark-native unary bitwise NOT and passes through
          var k = i - 1
          while (k >= 0 && Character.isWhitespace(text.charAt(k))) k -= 1
          k >= 0 && (text.charAt(k) == ')' || text.charAt(k) == ']' ||
            text.charAt(k) == '\'' ||
            (sc.code(k) && isWordChar(text.charAt(k)) && {
              var st = k + 1
              while (st > 0 && sc.code(st - 1) &&
                  (Character.isLetterOrDigit(text.charAt(st - 1)) ||
                    text.charAt(st - 1) == '_')) st -= 1
              !preBracketKeywords.contains(text.substring(st, k + 1).toLowerCase)
            }))
        } && {
          val tok = tildeOpAt(text, sc, i)
          tok != null && (tok.endsWith("~*") || tok.endsWith("~~") || {
            val litPos = nextCode(text, sc, i + tok.length)
            litPos >= 0 && text.charAt(litPos) == '\''
          })
        }) {
        // Postgres-operator spellings, all DuckDB-supported:
        //   `~` / `!~`   — regex FULL match (DuckDB 1.0 lowers to
        //     regexp_full_match, probed: 'abc' ~ 'b' is false) ≡ the same
        //     anchored-RLIKE rewrite as SIMILAR TO (literal pattern only);
        //   `~~` / `!~~` / `~~*` / `!~~*` — LIKE / NOT LIKE / ILIKE /
        //     NOT ILIKE keyword swaps (any right-hand expression).
        val tok = tildeOpAt(text, sc, i)
        val kw = tok match {
          case "~~"   => Some("like")
          case "!~~"  => Some("not like")
          case "~~*"  => Some("ilike")
          case "!~~*" => Some("not ilike")
          case _      => None
        }
        kw match {
          case Some(k) => sb.append(k); i += tok.length
          case None =>
            val neg = tok.startsWith("!")
            val litPos = nextCode(text, sc, i + tok.length)
            val end = literalEnd(text, litPos)
            if (end > 0) {
              val body = text.substring(litPos + 1, end)
              sb.append(if (neg) "not rlike '^(?:" else "rlike '^(?:")
                .append(reEmbed(body)).append(")$'")
              i = end + 1
            } else { sb.append(text.charAt(i)); i += 1 }
        }
      } else if (sc.code(i) && matchesWord(text, i, "columns") && {
          val open = nextCode(text, sc, i + 7)
          open >= 0 && text.charAt(open) == '('
        }) {
        val open = nextCode(text, sc, i + 7)
        val arg = nextCode(text, sc, open + 1)
        if (arg >= 0 && text.charAt(arg) == '*') {
          val close = nextCode(text, sc, arg + 1)
          if (close >= 0 && text.charAt(close) == ')') { sb.append("*"); i = close + 1 }
          else { sb.append(text.charAt(i)); i += 1 }
        } else if (arg >= 0 && text.charAt(arg) == '\'') {
          // parse the pattern literal with '' escapes
          var j = arg + 1
          val content = new StringBuilder
          var closed = false
          while (j < text.length && !closed) {
            val c = text.charAt(j)
            if (c == '\'') {
              if (j + 1 < text.length && text.charAt(j + 1) == '\'') { content.append('\''); j += 2 }
              else { closed = true; j += 1 }
            } else { content.append(c); j += 1 }
          }
          val close = if (closed) nextCode(text, sc, j) else -1
          if (close >= 0 && text.charAt(close) == ')' && !content.contains("`")) {
            sb.append('`').append(content).append('`')
            i = close + 1
          } else { sb.append(text.charAt(i)); i += 1 }
        } else { sb.append(text.charAt(i)); i += 1 }
      } else if (sc.code(i) && matchesWord(text, i, "varchar") && {
          // DuckDB's bare VARCHAR cast target (`x::VARCHAR`, `CAST(x AS
          // VARCHAR)`) — Spark only parses the parameterized VARCHAR(n)
          // form, so the bare word shims to STRING; VARCHAR(n) passes
          // through natively
          val j = nextCode(text, sc, i + 7)
          j < 0 || text.charAt(j) != '('
        }) {
        sb.append("string")
        i += 7
      } else {
        // function-name aliases: word followed by '(' at a code position
        val alias = functionAliases.collectFirst {
          case (from, to) if sc.code(i) && matchesWord(text, i, from) && {
              val j = nextCode(text, sc, i + from.length)
              j >= 0 && text.charAt(j) == '('
            } => (from, to)
        }
        alias match {
          case Some((from, to)) => sb.append(to); i += from.length
          case None             => sb.append(text.charAt(i)); i += 1
        }
      }
    }
    rewriteAtTimeZone(rewriteColonCasts(rewriteCasts(rewriteArith(rewriteDotCalls(
      rewriteBraces(rewriteBrackets(rewriteReaderFns(rewriteIgnoreNulls(sb.toString)))))))))
  }

  /** DuckDB spells the window null-treatment modifier INSIDE the call —
    * `lag(v IGNORE NULLS)` — while Spark wants it immediately AFTER —
    * `lag(v) IGNORE NULLS` — and each parser rejects the other's form
    * (probed both on 1.0 / Spark 4). Move the modifier across the closing
    * paren. Applies only where `IGNORE|RESPECT NULLS` directly precedes a
    * `)` (DuckDB's grammar slot: last thing in the argument list) AND does
    * not directly follow one (a completed call before the keyword means
    * the text is already Spark-spelled — window `lag(v) IGNORE NULLS
    * OVER …` or an aggregate modifier nested in another call like
    * `coalesce(0, first(x) ignore nulls)`).
    */
  /** DuckDB `expr AT TIME ZONE 'tz'` and its function spelling
    * `timezone('tz', expr)` — Spark has neither syntax. DuckDB dispatches
    * on the operand TYPE (probed on 1.0 + bundled ICU, session UTC):
    *
    *   - naive TIMESTAMP → interpret the wall time IN tz, yield the
    *     instant (TIMESTAMPTZ): Spark `to_utc_timestamp(expr, tz)`
    *   - TIMESTAMPTZ → render the instant AS wall time in tz (naive):
    *     Spark `from_utc_timestamp(expr, tz)`
    *
    * In this engine's type model the dispatch is decidable from TEXT:
    * parquet/catalog timestamps are all modeled naive (Spark session UTC —
    * the q99 convention), so an operand is "aware" exactly when it is a
    * `TIMESTAMPTZ '…'` literal or a chain-produced instant (a
    * `to_utc_timestamp(…)` wrap from the PREVIOUS link — which makes the
    * ubiquitous wall-to-wall conversion `ts AT TIME ZONE 'a' AT TIME ZONE
    * 'b'` alternate correctly: leftmost-first rewriting turns link one
    * into to_utc, so link two sees an aware operand and emits from_utc).
    * A `TIMESTAMPTZ '…'` literal operand rewrites its keyword to Spark's
    * `TIMESTAMP '…'` (offset strings parse identically; same instant).
    */
  private[psql] def rewriteAtTimeZone(text0: String): String = {
    var text = rewriteTimezoneFn(text0)
    var from = 0
    var guard = 0
    while (guard < 200) {
      guard += 1
      val sc = scan(text)
      // first top-level-code AT TIME ZONE at or after the offset
      var i = from
      var atPos = -1
      var zoneEnd = -1
      while (atPos < 0 && i < text.length) {
        if (sc.code(i) && matchesWord(text, i, "at")) {
          val t1 = nextCode(text, sc, i + 2)
          if (t1 >= 0 && matchesWord(text, t1, "time")) {
            val t2 = nextCode(text, sc, t1 + 4)
            if (t2 >= 0 && matchesWord(text, t2, "zone")) { atPos = i; zoneEnd = t2 + 4 }
          }
        }
        if (atPos < 0) i += 1
      }
      if (atPos < 0) return text
      // the zone must be a string literal (DuckDB accepts expressions; the
      // overwhelmingly common literal form is what rewrites — anything
      // else is left for Spark's own parse error)
      val q1 = nextCode(text, sc, zoneEnd)
      if (q1 < 0 || text.charAt(q1) != '\'') { from = zoneEnd; }
      else {
        var q2 = q1 + 1
        var end = -1
        while (end < 0 && q2 < text.length) {
          if (text.charAt(q2) == '\'') {
            if (q2 + 1 < text.length && text.charAt(q2 + 1) == '\'') q2 += 2 else end = q2
          } else q2 += 1
        }
        if (end < 0) return text
        val tzLit = text.substring(q1, end + 1)
        // operand: maximal primary chain ending just before AT — identifier
        // segments, balanced (…)/[…] groups, a trailing string literal
        // (TIMESTAMP '…' / TIMESTAMPTZ '…' literals), never crossing a
        // binary operator
        var p = atPos
        while (p > 0 && Character.isWhitespace(text.charAt(p - 1))) p -= 1
        var b = p
        var continueChain = true
        while (continueChain && b > 0) {
          val c = text.charAt(b - 1)
          if (c == '\'' && !sc.code(b - 1)) {
            var k = b - 2
            while (k >= 0 && !(sc.code(k) && text.charAt(k) == '\'')) k -= 1
            if (k < 0) continueChain = false
            else {
              b = k
              // a type keyword directly before the literal joins the chain
              var w = b
              while (w > 0 && Character.isWhitespace(text.charAt(w - 1))) w -= 1
              var ws = w
              while (ws > 0 && sc.code(ws - 1) && isWordChar(text.charAt(ws - 1))) ws -= 1
              val word = text.substring(ws, w).toLowerCase
              if (Set("timestamp", "timestamptz", "date").contains(word)) b = ws
              continueChain = false
            }
          } else if (sc.code(b - 1) && (Character.isLetterOrDigit(c) || c == '_' ||
              c == '$' || c == '.')) b -= 1
          else if (sc.code(b - 1) && (c == ')' || c == ']')) {
            var k = b - 2
            var d = 1
            val openCh = if (c == ')') '(' else '['
            while (d > 0 && k >= 0) {
              if (sc.code(k)) {
                if (text.charAt(k) == c) d += 1
                else if (text.charAt(k) == openCh) d -= 1
              }
              if (d > 0) k -= 1
            }
            if (k < 0) continueChain = false else b = k
          } else continueChain = false
        }
        if (b >= p) { from = end + 1 }
        else {
          val operand = text.substring(b, p).trim
          val osc = scan(operand)
          val s0 = nextCode(operand, osc, 0)
          val aware = s0 >= 0 && (matchesWord(operand, s0, "timestamptz") ||
            matchesWord(operand, s0, "to_utc_timestamp"))
          val fn = if (aware) "from_utc_timestamp" else "to_utc_timestamp"
          val opOut =
            if (s0 >= 0 && matchesWord(operand, s0, "timestamptz"))
              operand.substring(0, s0) + "timestamp" + operand.substring(s0 + "timestamptz".length)
            else operand
          text = text.substring(0, b) + s"$fn($opOut, $tzLit)" + text.substring(end + 1)
          from = 0
        }
      }
    }
    throw new IllegalArgumentException(
      "rewriteAtTimeZone: rewrite guard exhausted (>200 AT TIME ZONE links)")
  }

  /** `timezone('tz', expr)` → the same from/to_utc_timestamp dispatch as
    * [[rewriteAtTimeZone]] (DuckDB's function spelling; note the REVERSED
    * argument order vs Spark's functions).
    */
  private def rewriteTimezoneFn(text0: String): String = {
    var text = text0
    var from = 0
    var guard = 0
    while (guard < 200) {
      guard += 1
      val sc = scan(text)
      var i = from
      var hit = -1
      while (hit < 0 && i < text.length) {
        if (sc.code(i) && matchesWord(text, i, "timezone") && {
            val j = nextCode(text, sc, i + 8)
            j >= 0 && text.charAt(j) == '('
          }) hit = i
        else i += 1
      }
      if (hit < 0) return text
      val open = nextCode(text, sc, hit + 8)
      var k = open + 1
      var d = 1
      var comma = -1
      while (d > 0 && k < text.length) {
        if (sc.code(k)) {
          if (text.charAt(k) == '(') d += 1
          else if (text.charAt(k) == ')') d -= 1
          else if (text.charAt(k) == ',' && d == 1 && comma < 0) comma = k
        }
        k += 1
      }
      if (d > 0 || comma < 0) { from = open + 1 }
      else {
        val tz = text.substring(open + 1, comma).trim
        val operand = text.substring(comma + 1, k - 1).trim
        val osc = scan(operand)
        // nested timezone() rewrites INNERMOST-first: the inner call's
        // rewrite (to/from_utc_timestamp) is the outer call's awareness
        // marker — skip an outer hit whose operand still holds one
        val hasInner = {
          var j = 0
          var found = false
          while (!found && j < operand.length) {
            if (osc.code(j) && matchesWord(operand, j, "timezone") && {
                val o2 = nextCode(operand, osc, j + 8)
                o2 >= 0 && operand.charAt(o2) == '('
              }) found = true
            else j += 1
          }
          found
        }
        if (hasInner) { from = hit + 8 }
        else {
        val s0 = nextCode(operand, osc, 0)
        val aware = s0 >= 0 && (matchesWord(operand, s0, "timestamptz") ||
          matchesWord(operand, s0, "to_utc_timestamp"))
        val fn = if (aware) "from_utc_timestamp" else "to_utc_timestamp"
        val opOut =
          if (s0 >= 0 && matchesWord(operand, s0, "timestamptz"))
            operand.substring(0, s0) + "timestamp" + operand.substring(s0 + "timestamptz".length)
          else operand
        text = text.substring(0, hit) + s"$fn($opOut, $tz)" + text.substring(k)
        from = 0
        }
      }
    }
    throw new IllegalArgumentException(
      "rewriteTimezoneFn: rewrite guard exhausted (>200 timezone() calls)")
  }

  private[psql] def rewriteIgnoreNulls(text0: String): String = {
    var text = text0
    var steps = 0
    var changed = true
    while (changed) {
      changed = false
      val sc = scan(text)
      var i = 0
      while (i < text.length && !changed) {
        val kw =
          if (sc.code(i) && matchesWord(text, i, "ignore")) "ignore"
          else if (sc.code(i) && matchesWord(text, i, "respect")) "respect"
          else null
        if (kw != null) {
          val j = nextCode(text, sc, i + kw.length)
          if (j >= 0 && matchesWord(text, j, "nulls")) {
            val k = nextCode(text, sc, j + "nulls".length)
            // The keyword must follow an ARGUMENT expression, not a
            // completed call: `coalesce(0, first(x) ignore nulls)` is
            // already Spark-spelled (the ')' before IGNORE closes
            // `first(x)`) and hoisting the modifier out of coalesce would
            // corrupt it (r14 advice). Cost: a DuckDB in-call spelling
            // whose final argument is itself parenthesized —
            // `lag((a+b) ignore nulls)` — is left alone; spell it
            // `lag((a+b)) ignore nulls` (the Spark form passes through).
            var p = i - 1
            while (p >= 0 && (Character.isWhitespace(text.charAt(p)) || !sc.code(p))) p -= 1
            val afterCompletedCall = p >= 0 && text.charAt(p) == ')'
            if (k >= 0 && text.charAt(k) == ')' && !afterCompletedCall) {
              val mod = text.substring(i, j + "nulls".length)
              text = text.substring(0, i).stripTrailing() + ") " + mod +
                text.substring(k + 1)
              changed = true
            }
          }
        }
        i += 1
      }
      steps += 1
      require(steps <= 1000,
        "rewriteIgnoreNulls: rewrite guard exhausted (>1000 modifiers)")
    }
    text
  }
}
