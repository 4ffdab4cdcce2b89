package graft.psql

import SqlScanner._

/** DuckDB inline ordered aggregates — `agg(args ORDER BY keys)`.
  *
  * DuckDB lets ANY aggregate carry an ORDER BY inside its argument list
  * (`string_agg(x, ',' ORDER BY y)`, `array_agg(x ORDER BY y DESC)`);
  * Spark's parser rejects the form outright. Rewrites, by aggregate class:
  *
  *   - `string_agg` / `listagg` / `group_concat` → Spark's SQL-standard
  *     `agg(args) WITHIN GROUP (ORDER BY keys)` (exact ordered semantics);
  *   - `array_agg` / `list` / `collect_list` → comparator rewrite (Spark has
  *     no WITHIN GROUP for these):
  *     `transform(array_sort(array_agg(named_struct(keys…, value)),
  *     (a, b) -> cmp), e -> e.__v)` — cmp chains the keys with ASC/DESC
  *     signs and NULLS-LAST defaults (DuckDB's default_null_order);
  *   - `first` / `last` → `min_by`/`max_by` on the (single) key — DuckDB's
  *     ordered first IS the arg-min;
  *   - order-insensitive aggregates (sum/avg/min/max/count/bool_and/
  *     bool_or) → ORDER BY tail dropped (DuckDB parses and ignores it too).
  *
  * All rewrites stay single-aggregate — no extra shuffle: the comparator
  * sort happens on the grouped array AFTER aggregation (per-group memory,
  * the same cost DuckDB pays to materialize the ordered list).
  */
object OrderedAggs {

  private val withinGroupFns = Set("string_agg", "listagg", "group_concat")
  private val arraySortFns = Set("array_agg", "list", "collect_list")
  private val firstLastFns = Set("first", "last")
  private val orderInsensitiveFns =
    Set("sum", "avg", "min", "max", "count", "bool_and", "bool_or", "bit_and",
      "bit_or", "bit_xor", "product")

  private val handled = withinGroupFns ++ arraySortFns ++ firstLastFns ++ orderInsensitiveFns

  final private case class SortKey(expr: String, desc: Boolean, nullsFirst: Boolean)

  /** Every step drops the ORDER BY it rewrote, so `rewriteAll` terminates. */
  def rewrite(text: String): String = rewriteAll(text)(rewriteFirst)

  /** Rewrite the first qualifying call site; None when there is none. */
  private def rewriteFirst(text: String): Option[String] = {
    val sc = scan(text)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (sc.code(i) && (Character.isLetter(c) || c == '_') &&
          (i == 0 || !isWordChar(text.charAt(i - 1))) && (i == 0 || text.charAt(i - 1) != '.')) {
        var j = i
        while (j < text.length && isWordChar(text.charAt(j))) j += 1
        val fname = text.substring(i, j).toLowerCase
        val open = nextCode(text, sc, j)
        if (handled.contains(fname) && open >= 0 && text.charAt(open) == '(') {
          val close = closeParen(text, sc, open)
          if (close < 0) throw new IllegalArgumentException(s"Unbalanced parenthesis at offset $open")
          val args = text.substring(open + 1, close)
          topOrderBy(args) match {
            case Some(obPos) =>
              val argList = args.substring(0, obPos).trim.stripSuffix(",").trim
              val keys = parseKeys(args.substring(obPos + "order".length).trim.substring("by".length))
              val repl = build(fname, argList, keys)
              return Some(text.substring(0, i) + repl + text.substring(close + 1))
            case None => ()
          }
        }
        i = j
      } else i += 1
    }
    None
  }

  private def build(fname: String, argList: String, keys: Seq[SortKey]): String = {
    require(keys.nonEmpty, s"$fname: empty ORDER BY inside aggregate")
    if (orderInsensitiveFns.contains(fname))
      s"$fname($argList)"
    else if (withinGroupFns.contains(fname)) {
      val spark = if (fname == "group_concat") "string_agg" else fname
      s"$spark($argList) WITHIN GROUP (ORDER BY ${keys.map(keySql).mkString(", ")})"
    } else if (firstLastFns.contains(fname)) {
      // DuckDB keeps NULL-sort-key rows in the ordered sequence (they sort
      // per NULLS FIRST/LAST), so a bare min_by/max_by — which drops
      // NULL-key rows — would diverge whenever the winning row has a NULL
      // key. For single-direction key lists, encode each key's null rank as
      // a leading struct field (the struct itself is never NULL, so no row
      // is dropped): with R = global direction, indicator `k IS NULL` when
      // NULLS-FIRST == R else `k IS NOT NULL` makes the struct's natural
      // ascending order equal the query order (R = asc) or its exact
      // reverse (R = desc), and `(last != R) ? max_by : min_by` lands on
      // exactly DuckDB's row (8-case table in OrderedAggsSpec). Mixed
      // ASC/DESC keys fall back to the comparator-sorted array (same
      // machinery as array_agg) — O(group) memory instead of O(1), so the
      // constant-state form is kept wherever it is expressible.
      val dirs = keys.map(_.desc).distinct
      if (dirs.size == 1) {
        val r = dirs.head
        val parts = keys.flatMap { k =>
          val ind =
            if (k.nullsFirst == r) s"(${k.expr}) IS NULL" else s"(${k.expr}) IS NOT NULL"
          Seq(ind, k.expr)
        }
        val f = if ((fname == "last") != r) "max_by" else "min_by"
        s"$f($argList, struct(${parts.mkString(", ")}))"
      } else {
        val idx = if (fname == "first") "1" else "-1"
        s"element_at(${sortedArray(argList, keys)}, $idx)"
      }
    } else { // arraySortFns
      require(!argList.toLowerCase.startsWith("distinct "),
        s"$fname(DISTINCT … ORDER BY …) is not supported — sort after list_distinct instead")
      sortedArray(argList, keys)
    }
  }

  /** `transform(array_sort(array_agg(struct(keys…, v)), cmp), e -> e.__v)` —
    * the fully general ordered-list construction (any key directions).
    */
  private def sortedArray(argList: String, keys: Seq[SortKey]): String = {
    val fields = keys.zipWithIndex.map { case (k, n) => s"'__k$n', ${k.expr}" } :+
      s"'__v', $argList"
    val cmp = keys.zipWithIndex.foldRight("0") { case ((k, n), rest) =>
      val s = if (k.desc) -1 else 1
      val (nf, nl) = if (k.nullsFirst) (-1, 1) else (1, -1)
      s"CASE WHEN a.__k$n IS NULL AND b.__k$n IS NULL THEN $rest " +
        s"WHEN a.__k$n IS NULL THEN $nf WHEN b.__k$n IS NULL THEN $nl " +
        s"WHEN a.__k$n < b.__k$n THEN ${-s} WHEN a.__k$n > b.__k$n THEN $s ELSE $rest END"
    }
    s"transform(array_sort(array_agg(named_struct(${fields.mkString(", ")})), " +
      s"(a, b) -> $cmp), e -> e.__v)"
  }

  private def keySql(k: SortKey): String =
    k.expr + (if (k.desc) " DESC" else "") +
      (if (k.nullsFirst) " NULLS FIRST" else "")

  /** Position of a top-level ORDER keyword (followed by BY) in an argument
    * text — paren depth 0 AND bracket depth 0; None otherwise.
    */
  private def topOrderBy(args: String): Option[Int] = {
    val sc = scan(args)
    var bd = 0
    var i = 0
    while (i < args.length) {
      if (sc.code(i)) {
        val c = args.charAt(i)
        if (c == '[') bd += 1
        else if (c == ']') bd -= 1
        else if (bd == 0 && sc.depth(i) == 0 && matchesWord(args, i, "order")) {
          val j = nextCode(args, sc, i + "order".length)
          if (j >= 0 && matchesWord(args, j, "by")) return Some(i)
        }
      }
      i += 1
    }
    None
  }

  /** Parse `k1 [ASC|DESC] [NULLS FIRST|LAST], k2 …` (text after BY). */
  private def parseKeys(s: String): Seq[SortKey] = {
    splitTopCommas(s).map(_.trim).filter(_.nonEmpty).map { part =>
      var t = part
      var desc = false
      // defaults: ASC + NULLS LAST (DuckDB default_null_order)
      var nullsFirst = false
      def stripSuffixWords(words: String*): Boolean = {
        val re = ("(?i)\\s+" + words.mkString("\\s+") + "\\s*$").r
        re.findFirstIn(t) match {
          case Some(m) => t = t.substring(0, t.length - m.length).trim; true
          case None    => false
        }
      }
      if (stripSuffixWords("nulls", "first")) nullsFirst = true
      else if (stripSuffixWords("nulls", "last")) nullsFirst = false
      if (stripSuffixWords("desc")) desc = true
      else if (stripSuffixWords("asc")) desc = false
      SortKey(t, desc, nullsFirst)
    }
  }
}
