package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScanner.{matchesWord, nextCode, scan, splitTopCommas}
import scala.collection.mutable

/** DuckDB `PREPARE` / `EXECUTE` / `DEALLOCATE` prepared statements.
  *
  * The reference delegates all statements to DuckDB (`README.md:3`), whose
  * prepared statements a user could type at the same prompt. Semantics
  * probed on DuckDB 1.0:
  *   - `PREPARE name AS <statement>` returns nothing; re-PREPARE of the
  *     same name silently replaces it;
  *   - parameters are positional `$1…$n` (repeatable — `$1 + $1` binds one
  *     argument twice), auto-numbered `?` (each occurrence consumes the
  *     next argument), or named `$param` bound with `EXECUTE q(param :=
  *     expr)`;
  *   - `EXECUTE name(args)` runs the statement; `EXECUTE name` is the
  *     zero-parameter form; executing an unknown name errors
  *     (`Prepared statement "q" does not exist`);
  *   - `DEALLOCATE [PREPARE] name` removes it.
  *
  * Implementation is bind-time INLINING, the same choice as [[Macros]] and
  * for the same reason: DuckDB prepared statements are untyped, and
  * substituting the argument text (parenthesized) before the normal PSQL
  * rewrite keeps the executed plan fully visible to Catalyst — a literal
  * argument constant-folds, reaches parquet as a pushed filter, and prunes
  * partitions, exactly what a 100 TB parameterized scan needs. (True
  * plan-cache parameterization would hide the literal from partition
  * pruning — strictly worse here, since Spark re-optimizes per query
  * anyway.) The statement body may be any PSQL pipeline or statement —
  * EXECUTE re-enters [[Psql.sql]], so pipelines, DML, even PIVOT bodies
  * work parameterized.
  *
  * Registry is session-scoped (weak-keyed, like [[Macros]]); arity is
  * checked strictly — unused or missing arguments fail loudly rather than
  * silently binding wrong positions.
  */
object PreparedStatements {

  private val registries =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, mutable.LinkedHashMap[String, String]]())

  private def registry(spark: SparkSession): mutable.LinkedHashMap[String, String] = {
    registries.synchronized {
      var r = registries.get(spark)
      if (r == null) { r = mutable.LinkedHashMap.empty[String, String]; registries.put(spark, r) }
      r
    }
  }

  /** `PREPARE name AS <statement>`. */
  def prepare(spark: SparkSession, stmt: String): DataFrame = {
    val (name, after) = identAt(stmt, "prepare".length)
    val asPos = nextCode(stmt, scan(stmt), after)
    require(asPos >= 0 && matchesWord(stmt, asPos, "as"),
      "PREPARE must be `PREPARE <name> AS <statement>`")
    val body = stmt.substring(asPos + 2).trim
    require(body.nonEmpty, "PREPARE body is empty")
    registry(spark).put(name.toLowerCase, body) // re-PREPARE replaces (probed)
    spark.emptyDataFrame
  }

  /** `EXECUTE name[(args)]`: the bound body re-enters [[Psql.sql]]. */
  def execute(spark: SparkSession, stmt: String): DataFrame = {
    val sc = scan(stmt)
    val (name, after) = identAt(stmt, "execute".length)
    val body = registry(spark).getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"""Prepared statement "$name" does not exist"""))
    val open = nextCode(stmt, sc, after)
    val argText =
      if (open < 0) ""
      else {
        require(stmt.charAt(open) == '(',
          s"EXECUTE: unexpected text after statement name: '${stmt.substring(open)}'")
        var k = open + 1
        var d = 1
        while (d > 0 && k < stmt.length) {
          if (sc.code(k)) {
            if (stmt.charAt(k) == '(') d += 1
            else if (stmt.charAt(k) == ')') d -= 1
          }
          k += 1
        }
        require(d == 0 && nextCode(stmt, sc, k) < 0,
          "EXECUTE: malformed argument list")
        stmt.substring(open + 1, k - 1)
      }
    val rawArgs = splitTopCommas(argText).map(_.trim).filter(_.nonEmpty)
    val (named, positional) = rawArgs.partition(a => assignIndex(a) >= 0)
    val namedMap = named.map { a =>
      val i = assignIndex(a)
      a.substring(0, i).trim.toLowerCase -> a.substring(i + 2).trim
    }.toMap
    Psql(spark).sql(substitute(name, body, positional, namedMap))
  }

  /** `DEALLOCATE [PREPARE] name`. */
  def deallocate(spark: SparkSession, stmt: String): DataFrame = {
    val sc = scan(stmt)
    var i = "deallocate".length
    val j = nextCode(stmt, sc, i)
    if (j >= 0 && matchesWord(stmt, j, "prepare")) i = j + "prepare".length
    val (name, after) = identAt(stmt, i)
    require(nextCode(stmt, sc, after) < 0, "DEALLOCATE takes one statement name")
    require(registry(spark).remove(name.toLowerCase).isDefined,
      s"""Prepared statement "$name" does not exist""")
    spark.emptyDataFrame
  }

  /** Inline arguments into the body: `$n` → positional(n−1), `?` → next
    * positional, `$word` → named binding; each substitution parenthesized
    * (the [[Macros]] rule — `$1 * 2` with arg `1 + 2` must be 6, not 5).
    */
  private def substitute(
      name: String, body: String,
      positional: Seq[String], named: Map[String, String]): String = {
    val sc = scan(body)
    val sb = new StringBuilder
    val usedPos = mutable.Set.empty[Int]
    val usedNamed = mutable.Set.empty[String]
    var q = 0
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (sc.code(i) && c == '$' && i + 1 < body.length &&
          (Character.isLetterOrDigit(body.charAt(i + 1)) || body.charAt(i + 1) == '_')) {
        var j = i + 1
        while (j < body.length &&
          (Character.isLetterOrDigit(body.charAt(j)) || body.charAt(j) == '_')) j += 1
        val tok = body.substring(i + 1, j)
        if (tok.forall(Character.isDigit)) {
          val idx = tok.toInt
          require(idx >= 1 && idx <= positional.length,
            s"EXECUTE $name: statement references $$$idx but ${positional.length} " +
              "positional argument(s) were supplied")
          usedPos += idx
          sb.append('(').append(positional(idx - 1)).append(')')
        } else {
          val v = named.getOrElse(tok.toLowerCase,
            throw new IllegalArgumentException(
              s"EXECUTE $name: named parameter $$$tok not bound (use $tok := <expr>)"))
          usedNamed += tok.toLowerCase
          sb.append('(').append(v).append(')')
        }
        i = j
      } else if (sc.code(i) && c == '?') {
        require(q < positional.length,
          s"EXECUTE $name: statement has more `?` parameters than the " +
            s"${positional.length} argument(s) supplied")
        usedPos += (q + 1)
        sb.append('(').append(positional(q)).append(')')
        q += 1
        i += 1
      } else { sb.append(c); i += 1 }
    }
    val unusedPos = (1 to positional.length).filterNot(usedPos)
    require(unusedPos.isEmpty,
      s"EXECUTE $name: positional argument(s) ${unusedPos.mkString(", ")} unused by the statement")
    val unusedNamed = named.keySet -- usedNamed
    require(unusedNamed.isEmpty,
      s"EXECUTE $name: named argument(s) ${unusedNamed.mkString(", ")} unused by the statement")
    sb.toString
  }

  /** `name := ` top-level assignment operator index, or -1. */
  private def assignIndex(s: String): Int = {
    val sc = scan(s)
    var i = 0
    while (i < s.length - 1) {
      if (sc.topLevel(i) && s.charAt(i) == ':' && s.charAt(i + 1) == '=') return i
      i += 1
    }
    -1
  }

  private def identAt(stmt: String, i0: Int): (String, Int) = {
    var i = i0
    while (i < stmt.length && Character.isWhitespace(stmt.charAt(i))) i += 1
    var j = i
    while (j < stmt.length && (Character.isLetterOrDigit(stmt.charAt(j)) ||
      stmt.charAt(j) == '_')) j += 1
    require(j > i, s"expected a statement name at offset $i0")
    (stmt.substring(i, j), j)
  }

}
