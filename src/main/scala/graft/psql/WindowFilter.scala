package graft.psql

import SqlScanner._

/** `agg(E) FILTER (WHERE p) OVER (w)` — DuckDB runs the SQL-standard
  * FILTER clause on WINDOW aggregates; Spark accepts FILTER only on
  * group-by aggregates and rejects the window form. For null-ignoring
  * aggregates the clause is exactly a conditional argument, so the rewrite
  * is `agg(CASE WHEN p THEN E END) OVER (w)` (and `count(*)` counts a
  * conditional 1) — same empty-set result (NULL for sum/avg/min/max, 0
  * for count) because the aggregate skips the NULLs the CASE produces.
  *
  * Runs BEFORE [[WindowExclude]], so `FILTER … OVER (… EXCLUDE …)`
  * composes: the filter folds into the argument first, then the exclusion
  * rewrites the frame. Aggregates outside the null-ignoring set throw
  * (never silently mis-answer); group-by FILTER (no OVER) is untouched —
  * Spark runs that natively (the q30 gate row).
  */
object WindowFilter {

  private val nullIgnoring = Set("sum", "count", "avg", "min", "max", "mean",
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop")

  def rewriteFilters(sql: String): String = rewriteAll(sql)(rewriteFirst)

  private def rewriteFirst(s: String): Option[String] = {
    val sc = scan(s)
    var i = 0
    while (i < s.length) {
      if (sc.code(i) && matchesWord(s, i, "filter")) {
        val open = nextCode(s, sc, i + "filter".length)
        if (open >= 0 && s.charAt(open) == '(') {
          val wherePos = nextCode(s, sc, open + 1)
          if (wherePos >= 0 && matchesWord(s, wherePos, "where")) {
            val close = closeParen(s, sc, open)
            if (close < 0)
              throw new UnsupportedOperationException("FILTER: unbalanced parentheses")
            val afterFilter = nextCode(s, sc, close + 1)
            // only the WINDOW form is ours — group-by FILTER runs natively
            if (afterFilter >= 0 && matchesWord(s, afterFilter, "over"))
              return Some(splice(s, sc, i, wherePos, close))
          }
        }
      }
      i += 1
    }
    None
  }

  private def splice(s: String, sc: Scan, filterPos: Int,
      wherePos: Int, filterClose: Int): String = {
    val pred = s.substring(wherePos + "where".length, filterClose).trim
    // the aggregate call directly before FILTER
    var p = filterPos
    while (p > 0 && Character.isWhitespace(s.charAt(p - 1))) p -= 1
    if (p == 0 || s.charAt(p - 1) != ')')
      throw new UnsupportedOperationException(
        "expected 'agg(args) FILTER (WHERE …) OVER (…)'")
    val argClose = p - 1
    val argOpen = enclosingOpen(s, sc, argClose)
    if (argOpen < 0)
      throw new UnsupportedOperationException("FILTER: unbalanced aggregate parentheses")
    val fnStart = wordStartBefore(s, argOpen)
    if (fnStart < 0)
      throw new UnsupportedOperationException("FILTER: no aggregate function name")
    val fnEnd = {
      var e = fnStart
      while (e < s.length && isWordChar(s.charAt(e))) e += 1
      e
    }
    val fn = s.substring(fnStart, fnEnd).toLowerCase
    val arg = s.substring(argOpen + 1, argClose).trim
    if (!nullIgnoring.contains(fn))
      throw new UnsupportedOperationException(
        s"FILTER on window aggregate '$fn' is unsupported — only null-ignoring " +
          "aggregates rewrite to a conditional argument (sum/count/avg/min/max/stddev/var)")
    if (arg.toLowerCase.startsWith("distinct "))
      throw new UnsupportedOperationException("DISTINCT window aggregates cannot FILTER")
    val newCall =
      if (arg == "*" || arg.isEmpty) s"$fn(case when ($pred) then 1 end)"
      else s"$fn(case when ($pred) then $arg end)"
    s.substring(0, fnStart) + newCall + s.substring(filterClose + 1)
  }
}
