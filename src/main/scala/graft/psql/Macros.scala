package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import SqlScanner.{closeParen, isWordChar, splitTopCommas}

/** DuckDB `CREATE MACRO` — session-scoped SQL macros.
  *
  * The reference delegates all DDL to DuckDB (`README.md:3`), whose macro
  * facility (`CREATE [OR REPLACE] [TEMP] MACRO name(params) AS expr` /
  * `AS TABLE query`, `DROP MACRO name`) is bind-time INLINING: the macro body
  * is substituted into the call site before planning. We reproduce exactly
  * that — a per-SparkSession registry plus textual expansion at use time —
  * rather than mapping to Spark 4 SQL UDFs (`CREATE FUNCTION … RETURN`),
  * because DuckDB macros are untyped (no parameter/return type annotations)
  * and inlining keeps every call inside whole-stage codegen with full
  * Catalyst visibility (predicate pushdown through macro bodies, constant
  * folding of literal arguments) — the property that matters at 100 TB.
  *
  * DuckDB rules reproduced (pinned against DuckDB 1.0 in MacrosSpec):
  *   - arguments substitute parenthesized, so `twice(1 + 2)` is 6, not 5;
  *   - positional arguments fill exactly the non-default parameters;
  *     defaulted parameters are set by name only (`f(1, b := 10)`);
  *   - macros may call other macros (expansion iterates; depth-capped);
  *   - re-CREATE without OR REPLACE errors; DROP removes; names are
  *     case-insensitive;
  *   - `AS TABLE <query>` macros expand to a parenthesized subquery usable
  *     in FROM position (the query may itself be a PSQL pipeline).
  */
object Macros {

  final case class MacroDef(
      name: String,
      params: Seq[(String, Option[String])], // (param, default-expr)
      body: String,
      isTable: Boolean)

  /** Expansion passes before declaring a recursive macro cycle. */
  val maxDepth = 10

  private val registries =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, mutable.LinkedHashMap[String, MacroDef]]())

  private def registry(spark: SparkSession): mutable.LinkedHashMap[String, MacroDef] = {
    registries.synchronized {
      var r = registries.get(spark)
      if (r == null) { r = mutable.LinkedHashMap.empty[String, MacroDef]; registries.put(spark, r) }
      r
    }
  }

  /** `DROP MACRO name`; None for every other DROP. */
  def drop(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = SqlScanner.scan(stmt)
    var i = SqlScanner.nextCode(stmt, sc, "drop".length).max(0)
    if (!SqlScanner.matchesWord(stmt, i, "macro")) return None
    i = SqlScanner.nextCode(stmt, sc, i + "macro".length).max(0)
    val name = stmt.substring(i).trim
    require(name.nonEmpty && name.forall(c => Character.isLetterOrDigit(c) || c == '_'),
      s"DROP MACRO expects a bare macro name, got: '$name'")
    val r = registry(spark)
    require(r.remove(name.toLowerCase).isDefined, s"Macro with name $name does not exist")
    Some(spark.emptyDataFrame)
  }

  /** `CREATE [OR REPLACE] [TEMP] MACRO …`; None for every other CREATE. */
  def create(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = SqlScanner.scan(stmt)
    var i = SqlScanner.nextCode(stmt, sc, "create".length).max(0)
    var orReplace = false
    if (SqlScanner.matchesWord(stmt, i, "or")) {
      val j = SqlScanner.nextCode(stmt, sc, i + 2).max(0)
      if (!SqlScanner.matchesWord(stmt, j, "replace")) return None
      orReplace = true
      i = SqlScanner.nextCode(stmt, sc, j + "replace".length).max(0)
    }
    if (SqlScanner.matchesWord(stmt, i, "temp")) i = SqlScanner.nextCode(stmt, sc, i + 4).max(0)
    else if (SqlScanner.matchesWord(stmt, i, "temporary"))
      i = SqlScanner.nextCode(stmt, sc, i + 9).max(0)
    if (!SqlScanner.matchesWord(stmt, i, "macro")) return None
    i = SqlScanner.nextCode(stmt, sc, i + "macro".length).max(0)

    // name(params)
    val open = stmt.indexOf('(', i)
    require(open > i, "CREATE MACRO needs a parameter list: CREATE MACRO name(a, b) AS ...")
    val name = stmt.substring(i, open).trim
    require(name.nonEmpty && name.forall(c => Character.isLetterOrDigit(c) || c == '_'),
      s"Bad macro name: '$name'")
    val close = closeParen(stmt, sc, open)
    if (close < 0) throw new IllegalArgumentException(s"Unbalanced parenthesis at offset $open")
    val params = splitTopCommas(stmt.substring(open + 1, close)).map(_.trim).filter(_.nonEmpty).map { p =>
      val idx = assignIndex(p)
      if (idx >= 0) (p.substring(0, idx).trim, Some(p.substring(idx + 2).trim))
      else {
        require(p.forall(c => Character.isLetterOrDigit(c) || c == '_'), s"Bad macro parameter: '$p'")
        (p, None)
      }
    }
    // defaults must trail the positional parameters (DuckDB rule)
    val firstDefault = params.indexWhere(_._2.isDefined)
    if (firstDefault >= 0)
      require(params.drop(firstDefault).forall(_._2.isDefined),
        s"Macro $name: parameters with defaults must come after positional parameters")

    var rest = stmt.substring(close + 1)
    val rsc = SqlScanner.scan(rest)
    val asPos = SqlScanner.nextCode(rest, rsc, 0)
    require(asPos >= 0 && SqlScanner.matchesWord(rest, asPos, "as"), "CREATE MACRO needs AS <body>")
    rest = rest.substring(asPos + 2).trim
    val isTable = SqlScanner.matchesWord(rest, 0, "table")
    val body = (if (isTable) rest.substring("table".length) else rest).trim
    require(body.nonEmpty, "CREATE MACRO body is empty")

    val r = registry(spark)
    val key = name.toLowerCase
    require(orReplace || !r.contains(key), s"Macro Function with name \"$name\" already exists " +
      "(use CREATE OR REPLACE MACRO to replace it)")
    r.put(key, MacroDef(name, params, body, isTable))
    Some(spark.emptyDataFrame)
  }

  /** Expand every registered-macro call site in text (iterating for nested
    * macros, capped at [[maxDepth]] passes — a self-referencing macro is
    * reported as a cycle rather than looping).
    */
  def expand(spark: SparkSession, text0: String): String = {
    val r = registry(spark)
    if (r.isEmpty) return text0
    var text = text0
    var pass = 0
    var changed = true
    while (changed) {
      require(pass < maxDepth,
        s"Macro expansion did not terminate after $maxDepth passes — recursive macro? " +
          s"(registered: ${r.keys.mkString(", ")})")
      changed = false
      val sc = SqlScanner.scan(text)
      var i = 0
      var out: StringBuilder = null
      var copied = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (sc.code(i) && (Character.isLetter(c) || c == '_') &&
            (i == 0 || !isWordChar(text.charAt(i - 1))) &&
            (i == 0 || text.charAt(i - 1) != '.')) {
          var j = i
          while (j < text.length && isWordChar(text.charAt(j))) j += 1
          val word = text.substring(i, j).toLowerCase
          val open = SqlScanner.nextCode(text, sc, j)
          r.get(word) match {
            case Some(m) if open >= 0 && text.charAt(open) == '(' =>
              val close = closeParen(text, sc, open)
              if (close < 0) throw new IllegalArgumentException(s"Unbalanced parenthesis at offset $open")
              val call = inline(m, splitTopCommas(text.substring(open + 1, close))
                .map(_.trim).filter(_.nonEmpty))
              if (out == null) out = new StringBuilder
              out.append(text.substring(copied, i)).append(call)
              copied = close + 1
              i = close + 1
              changed = true
            case _ => i = j
          }
        } else i += 1
      }
      if (out != null) {
        out.append(text.substring(copied))
        text = out.toString
      }
      pass += 1
    }
    text
  }

  /** One call site: bind arguments to parameters (DuckDB rules), substitute
    * parenthesized argument texts into the body, parenthesize the result.
    */
  private def inline(m: MacroDef, args: Seq[String]): String = {
    val positional = args.takeWhile(a => assignIndex(a) < 0)
    val named = args.drop(positional.size).map { a =>
      val idx = assignIndex(a)
      require(idx >= 0,
        s"Macro ${m.name}: positional argument after named argument: '$a'")
      (a.substring(0, idx).trim.toLowerCase, a.substring(idx + 2).trim)
    }.toMap
    val required = m.params.filter(_._2.isEmpty)
    require(positional.size == required.size,
      s"Macro function '${m.name}(${required.map(_._1).mkString(", ")})' requires " +
        s"${required.size} positional argument(s), but ${positional.size} were provided")
    val defaultedNames = m.params.filter(_._2.isDefined).map(_._1.toLowerCase).toSet
    named.keys.foreach(k => require(defaultedNames.contains(k),
      s"Macro ${m.name} has no defaulted parameter '$k' " +
        s"(named arguments may only set: ${defaultedNames.mkString(", ")})"))
    val binding: Map[String, String] =
      (required.map(_._1).zip(positional) ++
        m.params.collect { case (p, Some(d)) => p -> named.getOrElse(p.toLowerCase, d) })
        .map { case (p, v) => p.toLowerCase -> s"($v)" }.toMap
    val body = substituteIdents(m.body, binding)
    if (m.isTable) s"( $body )" else s"($body)"
  }

  /** Replace bare identifier tokens per binding (code regions only). */
  private def substituteIdents(s: String, binding: Map[String, String]): String = {
    val sc = SqlScanner.scan(s)
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (sc.code(i) && (Character.isLetter(c) || c == '_') &&
          (i == 0 || !isWordChar(s.charAt(i - 1))) && (i == 0 || s.charAt(i - 1) != '.')) {
        var j = i
        while (j < s.length && isWordChar(s.charAt(j))) j += 1
        val word = s.substring(i, j)
        // not a parameter when immediately followed by '(' (function call)
        val open = SqlScanner.nextCode(s, sc, j)
        val isCall = open >= 0 && s.charAt(open) == '('
        binding.get(word.toLowerCase) match {
          case Some(rep) if !isCall => out.append(rep)
          case _                    => out.append(word)
        }
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Index of a top-level `:=` in s, or -1. */
  private def assignIndex(s: String): Int = {
    val sc = SqlScanner.scan(s)
    var i = 0
    while (i < s.length - 1) {
      if (sc.topLevel(i) && s.charAt(i) == ':' && s.charAt(i + 1) == '=') return i
      i += 1
    }
    -1
  }
}
