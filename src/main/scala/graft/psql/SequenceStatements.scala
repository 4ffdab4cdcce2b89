package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScanner.{matchesWord, nextCode, scan}

/** DuckDB `CREATE/DROP SEQUENCE` + `nextval('s')`/`currval('s')` — the
  * surrogate-key statement family, as a session-scoped registry with
  * BIND-TIME per-occurrence inlining.
  *
  * Probed DuckDB 1.0 semantics, matched exactly where evaluation is
  * per-occurrence:
  *
  *  - `SELECT nextval('s'), nextval('s')` (no FROM) → two consecutive
  *    values (each textual occurrence advances once);
  *  - `INSERT … VALUES (nextval('s'), …), (nextval('s'), …)` → each row's
  *    occurrence advances once — the surrogate-key insert pattern;
  *  - `currval('s')` → last value dispensed (error before first nextval);
  *  - `CREATE SEQUENCE s [START [WITH] n] [INCREMENT [BY] n] [MINVALUE n]
  *    [MAXVALUE n] [[NO] CYCLE]` with DuckDB's defaults (ascending: min 1,
  *    start = min; descending: max -1, start = max), its out-of-bounds
  *    START parser errors, its reached-max/min nextval errors, and CYCLE
  *    wrap-around (all probed); duplicate CREATE errors, OR REPLACE
  *    resets, `DROP SEQUENCE [IF EXISTS]`.
  *
  * The one form that CANNOT be honest on a distributed engine is per-ROW
  * nextval over a scanned relation (`SELECT nextval('s') FROM t`): DuckDB
  * advances the sequence once per row in engine-execution order — already
  * nondeterministic under its own parallelism, and meaningless across
  * Spark executors (the counter lives on the driver; shipping it would
  * serialize the scan). Those statements THROW with the scalable recipe
  * (row_number() over an explicit ordering + the sequence's start/step)
  * instead of silently handing every row the same bind-time literal.
  * Inlining happens at bind time, but EXPLAIN is a READ: an EXPLAIN
  * statement inlines from a non-advancing PEEK, so EXPLAIN-then-nextval
  * dispenses the same value DuckDB would (EXPLAIN ANALYZE executes in
  * both engines and dispenses normally).
  *
  * PREPARE bodies and macro definitions are exempt from inlining — their
  * text must evaluate at EXECUTE/call time, and both re-enter
  * [[Psql.sql]] where the inlining then runs.
  */
object SequenceStatements {

  private final class SeqState(val start: Long, val increment: Long,
      val minV: Long, val maxV: Long, val cycle: Boolean) {
    var last: Option[Long] = None
    def nextval(name: String): Long = synchronized {
      val v = last match {
        case None => start
        case Some(l) =>
          val n =
            try Math.addExact(l, increment)
            catch { case _: ArithmeticException =>
              if (increment > 0) maxV + 1 else minV - 1 } // out of bounds
          if (increment > 0 && (n > maxV || n < l)) {
            if (cycle) minV
            else throw new IllegalArgumentException(
              s"""nextval: reached maximum value of sequence "$name" ($maxV)""")
          } else if (increment < 0 && (n < minV || n > l)) {
            if (cycle) maxV
            else throw new IllegalArgumentException(
              s"""nextval: reached minimum value of sequence "$name" ($minV)""")
          } else n
      }
      last = Some(v)
      v
    }
    def currval(name: String): Long = synchronized {
      last.getOrElse(throw new IllegalArgumentException(
        s"currval: sequence '$name' has not been used yet in this session " +
          "(call nextval first — DuckDB's rule)"))
    }
    /** The value nextval WOULD dispense, WITHOUT advancing — the EXPLAIN
      * path (a plan is a read; DuckDB's EXPLAIN does not execute). Never
      * throws: an exhausted non-cycling sequence peeks its boundary (the
      * plan's literal is never observed as data).
      */
    def peekNextval: Long = synchronized {
      last match {
        case None => start
        case Some(l) =>
          val n =
            try Math.addExact(l, increment)
            catch { case _: ArithmeticException =>
              if (increment > 0) maxV else minV }
          if (increment > 0 && (n > maxV || n < l)) { if (cycle) minV else maxV }
          else if (increment < 0 && (n < minV || n > l)) { if (cycle) maxV else minV }
          else n
      }
    }
    /** currval for the EXPLAIN path: the start value before first use
      * (plan-only literal; the executed statement would error, but EXPLAIN
      * must not).
      */
    def peekCurrval: Long = synchronized { last.getOrElse(start) }
  }

  /** Per-SparkSession sequence state. `everCreated` is what the inline()
    * fast path keys off — NOT registry emptiness — so `nextval('dropped')`
    * still gets the DuckDB catalog error instead of Spark's unresolved-
    * function one.
    */
  private final class SessionSeqs {
    val registry = new java.util.concurrent.ConcurrentHashMap[String, SeqState]()
    @volatile var everCreated = false
  }

  // Keyed by SparkSession (the Macros.scala pattern): DuckDB scopes
  // sequences per database connection; two sessions in one JVM must not
  // share counters. WeakHashMap keeps dropped sessions collectable.
  private val sessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SessionSeqs]())

  private def state(spark: SparkSession): SessionSeqs =
    sessions.synchronized {
      var r = sessions.get(spark)
      if (r == null) { r = new SessionSeqs; sessions.put(spark, r) }
      r
    }

  /** `DROP SEQUENCE [IF EXISTS] name`; None for every other DROP. */
  def drop(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    val p = nextCode(stmt, sc, "drop".length)
    if (p < 0 || !matchesWord(stmt, p, "sequence")) return None
    var q = nextCode(stmt, sc, p + "sequence".length)
    var ifExists = false
    if (q >= 0 && matchesWord(stmt, q, "if")) {
      val e = nextCode(stmt, sc, q + 2)
      require(e >= 0 && matchesWord(stmt, e, "exists"), "expected IF EXISTS")
      ifExists = true
      q = nextCode(stmt, sc, e + "exists".length)
    }
    val (name, after) = DmlStatements.identifierAt(stmt, q)
    require(stmt.substring(after).trim.isEmpty,
      s"DROP SEQUENCE: trailing '${stmt.substring(after).trim}'")
    val removed = state(spark).registry.remove(key(name)) != null
    require(removed || ifExists, s"Sequence with name $name does not exist!")
    Some(spark.emptyDataFrame)
  }

  /** `CREATE [OR REPLACE] SEQUENCE …`; None for every other CREATE. */
  def create(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val sc = scan(stmt)
    var p = nextCode(stmt, sc, "create".length)
    var orReplace = false
    if (p >= 0 && matchesWord(stmt, p, "or")) {
      val r = nextCode(stmt, sc, p + 2)
      if (r < 0 || !matchesWord(stmt, r, "replace")) return None
      orReplace = true
      p = nextCode(stmt, sc, r + "replace".length)
    }
    if (p < 0 || !matchesWord(stmt, p, "sequence")) return None
    var q = nextCode(stmt, sc, p + "sequence".length)
    var ifNotExists = false
    if (q >= 0 && matchesWord(stmt, q, "if")) {
      val n = nextCode(stmt, sc, q + 2)
      require(n >= 0 && matchesWord(stmt, n, "not"), "expected IF NOT EXISTS")
      val e = nextCode(stmt, sc, n + 3)
      require(e >= 0 && matchesWord(stmt, e, "exists"), "expected IF NOT EXISTS")
      ifNotExists = true
      q = nextCode(stmt, sc, e + "exists".length)
    }
    val (name, afterName) = DmlStatements.identifierAt(stmt, q)
    var i = nextCode(stmt, sc, afterName)
    var startOpt: Option[Long] = None
    var minOpt: Option[Long] = None
    var maxOpt: Option[Long] = None
    var increment = 1L
    var cycle = false
    while (i >= 0) {
      if (matchesWord(stmt, i, "start")) {
        var v = nextCode(stmt, sc, i + "start".length)
        if (v >= 0 && matchesWord(stmt, v, "with")) v = nextCode(stmt, sc, v + 4)
        val (n, e) = longAt(stmt, v)
        startOpt = Some(n); i = nextCode(stmt, sc, e)
      } else if (matchesWord(stmt, i, "increment")) {
        var v = nextCode(stmt, sc, i + "increment".length)
        if (v >= 0 && matchesWord(stmt, v, "by")) v = nextCode(stmt, sc, v + 2)
        val (n, e) = longAt(stmt, v)
        require(n != 0L, "CREATE SEQUENCE: increment must be non-zero")
        increment = n; i = nextCode(stmt, sc, e)
      } else if (matchesWord(stmt, i, "minvalue")) {
        val (n, e) = longAt(stmt, nextCode(stmt, sc, i + "minvalue".length))
        minOpt = Some(n); i = nextCode(stmt, sc, e)
      } else if (matchesWord(stmt, i, "maxvalue")) {
        val (n, e) = longAt(stmt, nextCode(stmt, sc, i + "maxvalue".length))
        maxOpt = Some(n); i = nextCode(stmt, sc, e)
      } else if (matchesWord(stmt, i, "cycle")) {
        cycle = true; i = nextCode(stmt, sc, i + "cycle".length)
      } else if (matchesWord(stmt, i, "no")) {
        val v = nextCode(stmt, sc, i + 2)
        require(v >= 0 && (matchesWord(stmt, v, "cycle") ||
          matchesWord(stmt, v, "minvalue") || matchesWord(stmt, v, "maxvalue")),
          "CREATE SEQUENCE: NO must be followed by CYCLE/MINVALUE/MAXVALUE")
        // NO <x> = the default, which is what an unset option already means
        if (matchesWord(stmt, v, "cycle")) cycle = false
        i = nextCode(stmt, sc, v + (if (matchesWord(stmt, v, "cycle")) 5 else 8))
      } else {
        throw new IllegalArgumentException(
          s"CREATE SEQUENCE: unsupported clause at '${stmt.substring(i).take(30)}' " +
            "(supported: START [WITH] n, INCREMENT [BY] n, MINVALUE n, " +
            "MAXVALUE n, [NO] CYCLE)")
      }
    }
    // DuckDB/Postgres defaults: ascending → min 1, max 2^63-1, start = min;
    // descending → max -1, min -(2^63-1), start = max. An explicit START
    // outside the bounds is the probed parser error.
    val minV = minOpt.getOrElse(if (increment > 0) 1L else Long.MinValue + 1)
    val maxV = maxOpt.getOrElse(if (increment > 0) Long.MaxValue else -1L)
    val start = startOpt.getOrElse(if (increment > 0) minV else maxV)
    require(minV <= maxV,
      s"CREATE SEQUENCE: MINVALUE ($minV) must not exceed MAXVALUE ($maxV)")
    require(start <= maxV,
      s"START value ($start) cannot be greater than MAXVALUE ($maxV)")
    require(start >= minV,
      s"START value ($start) cannot be less than MINVALUE ($minV)")
    val k = key(name)
    val ss = state(spark)
    if (ss.registry.containsKey(k) && !orReplace) {
      require(ifNotExists, s"""Sequence with name "$name" already exists!""")
      return Some(spark.emptyDataFrame) // IF NOT EXISTS: keep the old one
    }
    ss.registry.put(k, new SeqState(start, increment, minV, maxV, cycle))
    ss.everCreated = true
    Some(spark.emptyDataFrame)
  }

  /** Replace each `nextval('s')` / `currval('s')` occurrence with its
    * dispensed literal. Statements that would need PER-ROW evaluation
    * (any FROM present) throw; PREPARE/macro definitions pass through
    * untouched (they inline when their bodies execute).
    */
  def inline(spark: SparkSession, stmt: String): String = {
    val ss = state(spark)
    if (!ss.everCreated) return stmt
    val sc = scan(stmt)
    // PREPARE check at the first CODE position, not char 0 — leading
    // whitespace/comments must not defeat the EXECUTE-time exemption
    val first = nextCode(stmt, sc, 0)
    if (first >= 0 && matchesWord(stmt, first, "prepare")) return stmt
    if (isMacroDef(stmt)) return stmt
    // EXPLAIN is a READ: inline from a PEEK so the plan shows the literal
    // without advancing session state (probed: DuckDB's EXPLAIN does not
    // execute). EXPLAIN ANALYZE executes in both engines — it dispenses.
    val isExplain = first >= 0 && matchesWord(stmt, first, "explain") && {
      val n = nextCode(stmt, sc, first + "explain".length)
      !(n >= 0 && matchesWord(stmt, n, "analyze"))
    }
    val calls = findCalls(stmt, sc)
    if (calls.isEmpty) return stmt
    // per-row guard: a relation-introducing FROM means occurrences would
    // repeat once per scanned row in DuckDB — refuse to fake that. The
    // FROM keyword inside extract/substring/trim/position/overlay argument
    // lists is SQL syntax, not a relation source (r14 advice: `INSERT …
    // VALUES (nextval('s'), extract(year from date '…'))` was spuriously
    // rejected), so skip a FROM whose innermost enclosing call is one of
    // those functions.
    val hasFrom = Iterator.range(0, stmt.length).exists(i =>
      sc.code(i) && matchesWord(stmt, i, "from") && !SqlScanner.fnArgFrom(stmt, sc, i))
    if (hasFrom && !isExplain)
      throw new IllegalArgumentException(
        "nextval/currval inside a query with a FROM clause evaluates once per " +
          "ROW in DuckDB — that does not distribute (the counter is session " +
          "state). Assign keys scalably with row_number() over an explicit " +
          "ordering plus the sequence's start/step, or use nextval in " +
          "VALUES lists / FROM-less selects.")
    val sb = new StringBuilder
    var pos = 0
    calls.foreach { case (s, e, fn, name) =>
      sb.append(stmt.substring(pos, s))
      val st = Option(ss.registry.get(key(name))).getOrElse(throw
        new IllegalArgumentException(s"Sequence with name $name does not exist!"))
      val v =
        if (fn == "nextval") { if (isExplain) st.peekNextval else st.nextval(name) }
        else { if (isExplain) st.peekCurrval else st.currval(name) }
      sb.append(v).append('L')
      pos = e
    }
    sb.append(stmt.substring(pos))
    sb.toString
  }

  /** (start, end, fn, seqName) for each nextval('s')/currval('s') call. */
  private def findCalls(stmt: String, sc: SqlScanner.Scan)
      : List[(Int, Int, String, String)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Int, Int, String, String)]
    var i = 0
    while (i < stmt.length) {
      if (sc.code(i) && (matchesWord(stmt, i, "nextval") || matchesWord(stmt, i, "currval"))) {
        val fn = stmt.substring(i, i + 7).toLowerCase(java.util.Locale.ROOT)
        var p = nextCode(stmt, sc, i + 7)
        if (p >= 0 && stmt.charAt(p) == '(') {
          // argument must be a plain string literal (DuckDB also allows
          // expressions; those have no bind-time value here)
          var q = p + 1
          while (q < stmt.length && Character.isWhitespace(stmt.charAt(q))) q += 1
          if (q < stmt.length && stmt.charAt(q) == '\'') {
            var r = q + 1
            while (r < stmt.length && stmt.charAt(r) != '\'') r += 1
            var close = r + 1
            while (close < stmt.length && Character.isWhitespace(stmt.charAt(close))) close += 1
            if (r < stmt.length && close < stmt.length && stmt.charAt(close) == ')') {
              out += ((i, close + 1, fn, stmt.substring(q + 1, r)))
              i = close + 1
            } else i += 7
          } else throw new IllegalArgumentException(
            s"$fn: the sequence name must be a plain string literal " +
              "(bind-time inlining has no value for computed names)")
        } else i += 7
      } else i += 1
    }
    out.toList
  }

  private[psql] def isMacroDef(stmt: String): Boolean = {
    val sc = scan(stmt)
    var p = nextCode(stmt, sc, 0)
    if (p < 0 || !matchesWord(stmt, p, "create")) return false
    p = nextCode(stmt, sc, p + "create".length)
    if (p >= 0 && matchesWord(stmt, p, "or")) {
      val r = nextCode(stmt, sc, p + 2)
      if (r < 0 || !matchesWord(stmt, r, "replace")) return false
      p = nextCode(stmt, sc, r + "replace".length)
    }
    p >= 0 && (matchesWord(stmt, p, "macro") || matchesWord(stmt, p, "function"))
  }

  private def longAt(stmt: String, i0: Int): (Long, Int) = {
    require(i0 >= 0, "CREATE SEQUENCE: missing numeric value")
    var i = i0
    var j = if (stmt.charAt(i) == '-') i + 1 else i
    while (j < stmt.length && Character.isDigit(stmt.charAt(j))) j += 1
    require(j > i && (j > i + 1 || stmt.charAt(i) != '-'),
      s"CREATE SEQUENCE: expected a number at '${stmt.substring(i0).take(15)}'")
    (stmt.substring(i, j).toLong, j)
  }

  private def key(name: String): String = name.toLowerCase(java.util.Locale.ROOT)

  /** Test hook: forget every sequence (sessions share one JVM in specs). */
  private[psql] def reset(spark: SparkSession): Unit = {
    val ss = state(spark); ss.registry.clear(); ss.everCreated = false
  }
}
