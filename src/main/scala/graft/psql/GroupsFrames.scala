package graft.psql

import SqlScanner._

/** GROUPS-mode window frames — delegated DuckDB grammar Spark lacks
  * outright (Spark supports ROWS and RANGE only; DuckDB ≥0.9 adds
  * `GROUPS BETWEEN n PRECEDING AND m FOLLOWING`, counting PEER GROUPS
  * instead of rows or values).
  *
  * A GROUPS frame is exactly a RANGE frame over the group index: rows
  * whose `dense_rank()` (same partition/order) lies within the bound
  * offsets of the current row's dense_rank. So the rewrite materializes
  * `dense_rank() OVER (partition by P order by O)` as a hidden column in
  * an inner select (the QUALIFY/DISTINCT ON two-level pattern) and
  * restates the frame as `ORDER BY __gdrK RANGE BETWEEN …` outside —
  * Spark evaluates both natively, inside codegen. An EXCLUDE tail on the
  * frame survives the conversion verbatim: peers of `__gdrK` ARE the peer
  * groups, so the downstream [[WindowExclude]] pass composes correctly.
  *
  * Scale shape: the helper rank and the frame aggregate share the same
  * partition keys, so Catalyst plans both windows off ONE exchange — the
  * conversion adds a running dense_rank, never a second shuffle.
  *
  * Bounds: applies to plain select-list windows; combining a GROUPS frame
  * with GROUP BY/HAVING/QUALIFY/WINDOW in one stage throws (split the
  * pipeline) — same contract as the star-REPLACE and DISTINCT ON stages.
  */
object GroupsFrames {

  /** Rewrite every GROUPS frame in a select list. Returns the new select
    * text plus the helper columns (alias → dense_rank expression) to
    * materialize in an inner select, or None when no GROUPS frame occurs.
    */
  def rewriteSelect(sel: String): Option[(String, Seq[(String, String)])] = {
    // (partText, orderText) → alias; LinkedHashMap keeps emission order
    val helpers = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
    val s = rewriteAll(sel)(t => findGroupsFrame(t).map { case (open, close, groupsPos) =>
      val spec = t.substring(open + 1, close)
      val rel = groupsPos - (open + 1)
      val scSpec = scan(spec)
      val partPos = topLevelKeyword(spec, scSpec, Seq("partition", "by")).headOption
      val orderPos = topLevelKeyword(spec, scSpec, Seq("order", "by")).headOption
      if (orderPos.isEmpty)
        throw new UnsupportedOperationException(
          "GROUPS frame requires ORDER BY in the window spec")
      def afterBy(kwPos: Int, kwLen: Int): Int =
        nextCode(spec, scSpec, kwPos + kwLen) + 2
      val partText = partPos.map { pp =>
        spec.substring(afterBy(pp, "partition".length),
          orderPos.filter(_ > pp).getOrElse(rel)).trim
      }.getOrElse("")
      val orderText = spec.substring(afterBy(orderPos.get, "order".length), rel).trim
      val alias = helpers.getOrElseUpdate((partText, orderText), s"__gdr${helpers.size + 1}")
      val remainder = spec.substring(rel + "groups".length).trim
      val newSpec =
        (if (partText.nonEmpty) s"partition by $partText " else "") +
          s"order by $alias range $remainder"
      t.substring(0, open + 1) + newSpec + t.substring(close)
    })
    if (helpers.isEmpty) None
    else Some((s, helpers.toSeq.map { case ((p, o), alias) =>
      val over = (if (p.nonEmpty) s"partition by $p " else "") + s"order by $o"
      (alias, s"dense_rank() OVER ($over)")
    }))
  }

  /** First GROUPS frame occurrence: (overOpenParen, overCloseParen,
    * groupsKeywordPos), all absolute in `s`.
    */
  private def findGroupsFrame(s: String): Option[(Int, Int, Int)] = {
    val sc = scan(s)
    var i = 0
    while (i < s.length) {
      if (sc.code(i) && matchesWord(s, i, "groups") && startsFrame(s, sc, i)) {
        val open = enclosingOpen(s, sc, i)
        if (open >= 0) {
          val prevWord = wordStartBefore(s, open)
          if (prevWord >= 0 && matchesWord(s, prevWord, "over")) {
            val close = closeParen(s, sc, open)
            if (close < 0)
              throw new UnsupportedOperationException("unbalanced OVER parentheses")
            return Some((open, close, i))
          }
          if (prevWord >= 0 && matchesWord(s, prevWord, "as"))
            throw new UnsupportedOperationException(
              "GROUPS frame inside a named WINDOW clause is unsupported — " +
                "inline the window spec into OVER (…)")
        }
      }
      i += 1
    }
    None
  }

  /** True when the word `groups` at i is followed by frame-bound syntax
    * (BETWEEN / UNBOUNDED / CURRENT / a digit) — distinguishing the frame
    * mode keyword from a column that happens to be named `groups`.
    */
  private def startsFrame(s: String, sc: Scan, i: Int): Boolean = {
    val j = nextCode(s, sc, i + "groups".length)
    j >= 0 && (matchesWord(s, j, "between") || matchesWord(s, j, "unbounded") ||
      matchesWord(s, j, "current") || Character.isDigit(s.charAt(j)))
  }

  /** Replace a bare top-level `*` select item with `* EXCEPT (helpers)` so
    * the hidden rank columns never leak through a star projection.
    */
  def starExceptHelpers(sel: String, aliases: Seq[String]): String = {
    splitTopCommas(sel).map { item =>
      if (item.trim == "*") s"* EXCEPT (${aliases.mkString(", ")})" else item
    }.mkString(", ")
  }
}
