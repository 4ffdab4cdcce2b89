package graft.psql

import SqlScanner._

/** DISTINCT aggregates in WINDOW position — DuckDB-legal
  * (`count(DISTINCT x) OVER (w)`), Spark-rejected (DISTINCT is only
  * allowed in group-by aggregates there).
  *
  *   - `count(DISTINCT E) [FILTER (WHERE p)] OVER (w)` →
  *     `cast(size(collect_set(E')) over (w) as bigint)` with
  *     `E' = CASE WHEN p THEN E END` when filtered. Exact: `collect_set`
  *     drops NULLs like COUNT(DISTINCT) does, an empty frame gives an
  *     empty set (size 0 = DuckDB's count), and set size is
  *     order-independent, so the rewrite is retry-stable.
  *   - `min/max(DISTINCT E)` → DISTINCT dropped (order statistics are
  *     duplicate-insensitive).
  *   - `sum/avg(DISTINCT E)` throw: a fold over `collect_set` is
  *     order-unstable for floating-point input, and a silent
  *     maybe-unstable answer is worse than no answer. The message names
  *     the manual `aggregate(collect_set(…) over w, …)` escape hatch for
  *     integer data.
  *
  * Runs BEFORE [[WindowFilter]] (this pass folds its own FILTER for the
  * count form; a de-DISTINCTed min/max leaves its FILTER for that pass).
  * An EXCLUDE tail inside the spec later hits [[WindowExclude]], which
  * rejects `collect_set` — fail-loudly, never a wrong answer.
  */
object WindowDistinct {

  def rewriteDistincts(sql: String): String = rewriteAll(sql)(rewriteFirst)

  private def rewriteFirst(s: String): Option[String] = {
    val sc = scan(s)
    var i = 0
    while (i < s.length) {
      if (sc.code(i) && matchesWord(s, i, "distinct")) {
        // the DISTINCT must directly follow an aggregate's open paren
        var p = i
        while (p > 0 && Character.isWhitespace(s.charAt(p - 1))) p -= 1
        if (p > 0 && s.charAt(p - 1) == '(') {
          val argOpen = p - 1
          val fnStart = wordStartBefore(s, argOpen)
          if (fnStart >= 0) {
            val argClose = closeParen(s, sc, argOpen)
            if (argClose > 0) {
              // optional FILTER (WHERE …), then OVER ( — else not ours
              var cursor = nextCode(s, sc, argClose + 1)
              var pred: Option[String] = None
              if (cursor >= 0 && matchesWord(s, cursor, "filter")) {
                val fOpen = nextCode(s, sc, cursor + "filter".length)
                if (fOpen >= 0 && s.charAt(fOpen) == '(') {
                  val wPos = nextCode(s, sc, fOpen + 1)
                  val fClose = closeParen(s, sc, fOpen)
                  if (wPos >= 0 && matchesWord(s, wPos, "where") && fClose > 0) {
                    pred = Some(s.substring(wPos + "where".length, fClose).trim)
                    cursor = nextCode(s, sc, fClose + 1)
                  } else cursor = -1
                } else cursor = -1
              }
              if (cursor >= 0 && matchesWord(s, cursor, "over")) {
                val overOpen = nextCode(s, sc, cursor + 4)
                if (overOpen >= 0 && s.charAt(overOpen) == '(') {
                  val overClose = closeParen(s, sc, overOpen)
                  if (overClose < 0) fail("unbalanced OVER parentheses")
                  return Some(splice(s, fnStart, argOpen, i, argClose,
                    pred, overOpen, overClose))
                }
              }
            }
          }
        }
      }
      i += 1
    }
    None
  }

  private def splice(s: String, fnStart: Int, argOpen: Int, distinctPos: Int,
      argClose: Int, pred: Option[String], overOpen: Int, overClose: Int): String = {
    val fn = s.substring(fnStart, argOpen).trim.toLowerCase
    val arg = s.substring(distinctPos + "distinct".length, argClose).trim
    val spec = s.substring(overOpen + 1, overClose)
    if (splitTopCommas(arg).size > 1)
      fail(s"multi-argument $fn(DISTINCT a, b) is unsupported in window position")
    fn match {
      case "count" =>
        val e = pred match {
          case Some(p) => s"case when ($p) then $arg end"
          case None    => arg
        }
        val repl = s"cast(size(collect_set($e) over ($spec)) as bigint)"
        s.substring(0, fnStart) + repl + s.substring(overClose + 1)
      case "min" | "max" =>
        // duplicate-insensitive: drop the keyword, keep FILTER for the
        // WindowFilter pass that runs next
        s.substring(0, fnStart) + fn + "(" + arg + ")" +
          s.substring(argClose + 1)
      case other =>
        fail(s"$other(DISTINCT …) in window position is unsupported — " +
          "set-fold summation is order-unstable for floating-point input; " +
          "for integer data state it explicitly: " +
          "aggregate(collect_set(x) over w, 0L, (a, v) -> a + v)")
    }
  }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"window DISTINCT: $msg")
}
