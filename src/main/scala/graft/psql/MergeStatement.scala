package graft.psql

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructField
import graft.operators.Materialize
import SqlScanner.{closeParen, isIdent, matchesWord, nextCode, scan, splitTopCommas, Scan}

/** DuckDB v1.4 `MERGE INTO` — the canonical warehouse upsert statement —
  * lowered onto the same copy-on-write machinery as DELETE/UPDATE
  * ([[DmlStatements]]).
  *
  * Grammar (DuckDB v1.4, standard SQL:2023 core; the reference pins DuckDB
  * 1.4.0 at `.github/workflows/MainDistributionPipeline.yml:20`, so its
  * statement surface includes MERGE):
  *
  * {{{
  * MERGE INTO target [[AS] t] USING source [[AS] s] ON <cond>
  *   WHEN MATCHED [AND <cond>] THEN
  *        UPDATE SET c = e[, …] | UPDATE | DELETE | DO NOTHING
  *   WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN
  *        INSERT [(cols)] VALUES (exprs) | INSERT [*] | DO NOTHING
  *   WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
  *        UPDATE SET … | DELETE | DO NOTHING
  * }}}
  *
  * Semantics (standard; first applicable WHEN clause in statement order
  * wins; a clause whose AND condition is NULL does not apply — SQL
  * three-valued logic, same rule the DELETE/UPDATE lowering probed against
  * DuckDB):
  *
  *  - a target row with ≥1 source matches takes the first applicable
  *    MATCHED clause; a target row whose match set would apply an
  *    UPDATE/DELETE through MORE THAN ONE source row is an ERROR (the
  *    standard's "cannot update the same row twice" rule — silently
  *    picking one would be nondeterministic);
  *  - a source row with no target match takes the first applicable
  *    NOT MATCHED [BY TARGET] clause and INSERTs (or is skipped);
  *  - a target row with no source match takes the first applicable
  *    NOT MATCHED BY SOURCE clause (kept unchanged when none applies).
  *
  * Lowering (Spark-first, all through the PSQL pipe dialect so `::` casts,
  * DuckDB functions and macros work in every expression, and assigned /
  * inserted values cast to the column's declared type through GraftCast —
  * DuckDB's assignment-rounding semantics, as in UPDATE):
  *
  *  1. target side: tag each target row with `monotonically_increasing_id()`
  *     (correctness needs only per-row uniqueness within one evaluation,
  *     not cross-job stability), LEFT JOIN the marker-wrapped source on the
  *     ON condition, compute per-pair the chosen clause's action flags and
  *     post-action column values as nested CASE chains (codegen'd, no UDF),
  *     then collapse multiplicity with ONE hash aggregate
  *     `group by __graft_tid` using `max_by(payload, acting)` — non-acting
  *     pairs carry identical payloads (the unchanged row), so any
  *     tie-break is correct, and the acting pair (≤1 after the error
  *     check) wins. Map-side partial aggregation keeps the single exchange
  *     target-sized.
  *  2. the duplicate-action check and the UPDATE/DELETE counts ride one
  *     tiny aggregate over the same plan (max/sum over the per-tid flags).
  *  3. insert side: source LEFT ANTI JOIN target on the ON condition (the
  *     exact "not matched by target" set — no marker needed), clause CASE
  *     chains project the insert values, rows whose clauses all decline
  *     are dropped.
  *  4. final content = transformed target ∪ inserts → shadow-table swap
  *     ([[DmlStatements.cowSwap]], crash-safe). An INSERT-ONLY merge skips
  *     the target rewrite entirely and APPENDS — at 100 TB the difference
  *     between writing the batch and rewriting the warehouse.
  *
  * Returns DuckDB's result shape: one `Count` BIGINT row with the total
  * number of affected rows (updates + deletes + inserts). The local oracle
  * (DuckDB 1.0.0) predates MERGE, so the gate row checks the final table
  * content against DuckDB executing the documented-equivalent
  * DELETE/UPDATE/INSERT sequence (b12).
  *
  * Scale shape: two passes over the target (check aggregate + content
  * rewrite — the same two-pass discipline as DELETE/UPDATE) and one over
  * the source per side; one hash exchange on the synthetic row id; the
  * full-table rewrite is inherent to copy-on-write MERGE (same caveat as
  * b08: a partition-pruned variant would layer on the partitioned layout).
  */
object MergeStatement {

  private sealed trait ClauseKind
  private case object Matched extends ClauseKind
  private case object NotMatchedTarget extends ClauseKind
  private case object NotMatchedSource extends ClauseKind

  private sealed trait Action
  private final case class UpdateSet(assigns: Seq[(String, String)]) extends Action
  private case object UpdateByName extends Action
  private case object Delete extends Action
  private final case class InsertValues(cols: Option[Seq[String]], values: Seq[String])
    extends Action
  private case object InsertByName extends Action
  private case object DoNothing extends Action

  private final case class Clause(kind: ClauseKind, cond: Option[String], action: Action)

  /** Top-level keyword positions OUTSIDE any CASE…END span: MERGE's WHEN
    * and THEN keywords collide with CASE's, so clause splitting must skip
    * CASE expressions inside ON conditions and clause conditions.
    */
  private def keywordOutsideCase(stmt: String, sc: Scan, word: String,
      from: Int, until: Int): List[Int] = {
    val out = scala.collection.mutable.ListBuffer.empty[Int]
    var depth = 0
    var i = math.max(from, 0)
    while (i < until) {
      if (sc.topLevel(i)) {
        if (matchesWord(stmt, i, "case")) { depth += 1; i += 4 }
        else if (matchesWord(stmt, i, "end")) { depth = math.max(0, depth - 1); i += 3 }
        else if (depth == 0 && matchesWord(stmt, i, word)) { out += i; i += word.length }
        else i += 1
      } else i += 1
    }
    out.toList
  }


  private[psql] def merge(spark: SparkSession, stmt: String): DataFrame = {
    val sc = scan(stmt)
    var p = nextCode(stmt, sc, "merge".length)
    require(p >= 0 && matchesWord(stmt, p, "into"),
      "MERGE must be `MERGE INTO <table> USING <source> ON <cond> WHEN …`")
    val (rawTable, afterT) = DmlStatements.identifierAt(stmt, p + "into".length)
    val table = DmlStatements.resolveTarget(spark, rawTable)
    // optional target alias; an unaliased qualified target resolves by its
    // BARE table name (DuckDB's rule — `gsch.t.col` is not a column ref)
    p = nextCode(stmt, sc, afterT)
    require(p >= 0, "MERGE INTO needs a USING clause")
    var tAlias = DmlStatements.aliasOf(table)
    if (matchesWord(stmt, p, "as")) {
      val (a, e) = DmlStatements.identifierAt(stmt, p + 2)
      tAlias = a; p = nextCode(stmt, sc, e)
    } else if (!matchesWord(stmt, p, "using")) {
      val (a, e) = DmlStatements.identifierAt(stmt, p)
      tAlias = a; p = nextCode(stmt, sc, e)
    }
    require(p >= 0 && matchesWord(stmt, p, "using"),
      s"MERGE INTO $table: expected USING, got '${stmt.substring(math.max(p, 0)).take(30)}'")
    p = nextCode(stmt, sc, p + "using".length)
    require(p >= 0, "MERGE … USING needs a source")
    // source: table name or parenthesized subquery
    val (srcRel, afterS): (String, Int) =
      if (stmt.charAt(p) == '(') {
        val k = closeParen(stmt, sc, p)
        require(k >= 0, "MERGE source subquery: unbalanced parentheses")
        (stmt.substring(p, k + 1), k + 1)
      } else {
        val (s, e) = DmlStatements.identifierAt(stmt, p)
        (s, e)
      }
    p = nextCode(stmt, sc, afterS)
    require(p >= 0, "MERGE needs an ON condition")
    var sAlias: Option[String] = if (srcRel.startsWith("(")) None else Some(srcRel)
    if (matchesWord(stmt, p, "as")) {
      val (a, e) = DmlStatements.identifierAt(stmt, p + 2)
      sAlias = Some(a); p = nextCode(stmt, sc, e)
    } else if (!matchesWord(stmt, p, "on")) {
      val (a, e) = DmlStatements.identifierAt(stmt, p)
      sAlias = Some(a); p = nextCode(stmt, sc, e)
    }
    require(p >= 0 && matchesWord(stmt, p, "on"),
      "MERGE needs `ON <cond>` after the source")
    val sA = sAlias.getOrElse(throw new IllegalArgumentException(
      "MERGE: a subquery source needs an alias (`USING (…) AS s`)"))
    val onStart = p + 2
    val whens = keywordOutsideCase(stmt, sc, "when", onStart, stmt.length)
    require(whens.nonEmpty, "MERGE needs at least one WHEN clause")
    val onCond = stmt.substring(onStart, whens.head).trim
    require(onCond.nonEmpty, "MERGE: empty ON condition")
    require(tAlias != sA,
      s"MERGE: target and source aliases collide ('$tAlias') — alias one side")
    require(isIdent(tAlias) && isIdent(sA),
      s"MERGE: aliases must be plain identifiers, got '$tAlias' / '$sA'")

    val clauses = whens.zipWithIndex.map { case (w, idx) =>
      val end = if (idx + 1 < whens.length) whens(idx + 1) else stmt.length
      parseClause(stmt, sc, w, end)
    }
    lower(spark, table, tAlias, srcRel, sA, onCond, clauses, "MERGE into",
      TableConstraints.load(spark, table))
  }

  /** `UPDATE t SET … FROM s WHERE cond` lowered onto the MERGE pipeline:
    * the statement IS `MERGE INTO t USING s ON cond WHEN MATCHED THEN
    * UPDATE SET …`. One divergence, deliberate: a target row matching
    * MULTIPLE source rows ERRORS here (the MERGE standard rule) where
    * DuckDB picks an arbitrary match — fail-loud beats nondeterministic.
    */
  private[psql] def updateFrom(spark: SparkSession, table: String, tAlias: String,
      srcRel: String, srcAlias: String, cond: String,
      assigns: Seq[(String, String)], cons: TableConstraints.Constraints): DataFrame =
    lower(spark, table, tAlias, srcRel, srcAlias, cond,
      Seq(Clause(Matched, None, UpdateSet(assigns))), "UPDATE", cons)

  /** The keyed upsert behind `INSERT … ON CONFLICT` and `INSERT OR
    * REPLACE|IGNORE` ([[DmlStatements]] parses; the batch arrives as a
    * full-schema frame already cast to declared types, checkpointed here
    * under step 1 and registered as `srcView`). The source aliases as `excluded`,
    * so DuckDB's `excluded.col` references resolve naturally; bare target
    * names arrive qualified with the target's bare alias.
    *
    * Two plans, one job ladder:
    *
    *  1. ONE aggregate over the batch (a per-key window count) left-joined
    *     to the target on the conflict keys returns the duplicate/NULL-key
    *     error (DuckDB errors on a batch proposing a key twice, both forms,
    *     and on a NULL key) and the inserted and updated counts. Once the
    *     batch is key-unique a target row matches at most one batch row,
    *     so no per-row multiplicity collapse is needed.
    *  2. ONE write: a statement that updates no row APPENDS the unmatched
    *     batch rows (an anti join — DO NOTHING is always this); otherwise
    *     the post-image, target FULL JOIN batch with the SET/WHERE CASE, is
    *     copy-on-write swapped ([[DmlStatements.cowSwap]]). A partitioned
    *     target routes its updating statements to the partition-pruned
    *     MERGE rewrite instead, so a small batch never rewrites the whole
    *     partitioned table.
    *
    * NOT NULL/CHECK guards, FK checks and the shadow re-validation of
    * key-assigning SET lists are the MERGE family's
    * ([[TableConstraints.WriteGuards]]), built from the batch's `cons`.
    */
  private[psql] def onConflict(spark: SparkSession, table: String, batch: DataFrame,
      srcView: String, keyCols: Seq[String],
      update: Option[(Seq[(String, String)], Option[String])],
      batchKeyUnique: Boolean, cons: TableConstraints.Constraints): DataFrame = {
    DmlStatements.checkTarget(spark, table, "MERGE")
    val psql = Psql(spark)
    val fields = spark.table(table).schema.fields.toSeq
    fields.foreach(f => require(isIdent(f.name) && !f.name.startsWith("__graft"),
      s"ON CONFLICT target column '${f.name}' — only plain identifiers without " +
        "the __graft prefix are supported"))
    update.foreach { case (assigns, _) =>
      val unknown = assigns.map(_._1)
        .filterNot(a => fields.exists(_.name.equalsIgnoreCase(a)))
      require(unknown.isEmpty,
        s"ON CONFLICT DO UPDATE: SET columns not in $table: ${unknown.mkString(", ")}")
      val dup = assigns.groupBy(_._1.toLowerCase).collect { case (k, v) if v.size > 1 => k }
      require(dup.isEmpty, s"ON CONFLICT DO UPDATE: column assigned twice: ${dup.mkString(", ")}")
    }
    val tA = DmlStatements.aliasOf(table)
    val onCond = keyCols.map(k => s"$tA.$k = excluded.$k").mkString(" and ")
    val updFlag = update match {
      case Some((_, where)) =>
        s"case when $tA.__graft_tm is not null and ${
          where.map(w => s"coalesce(($w), false)").getOrElse("true")} then 1 else 0 end"
      case None => "0"
    }
    val nullKey = keyCols.map(k => s"excluded.$k is null").mkString(" or ")
    // a batch whose plan proves the keys unique (a GROUP BY source) needs
    // no per-key count — the window's shuffle is skipped
    val (perKeyCount, dupKey) =
      if (batchKeyUnique) ("", "")
      else (s", count(*) over (partition by ${keyCols.mkString(", ")}) as __graft_n",
        " when excluded.__graft_n > 1 then 1")
    val (_, check) = Materialize.by(batch) { rows =>
      rows.createOrReplaceTempView(srcView)
      psql.sql(
        s"""from $srcView
           ||> select *$perKeyCount
           ||> as excluded left join (| from $table as __graft_t0 |> as __graft_t1 select __graft_t1.*, true as __graft_tm |) as $tA on ($onCond) select case when $nullKey then 2$dupKey else 0 end as __graft_bad, named_struct(${keyCols.map(k => s"'$k', excluded.$k").mkString(", ")}) as __graft_key, case when $tA.__graft_tm is null then 1 else 0 end as __graft_ins, $updFlag as __graft_upd
           ||> select coalesce(max(__graft_bad), 0) as bad, max_by(__graft_key, __graft_bad) as k,
           |     coalesce(sum(__graft_ins), 0) as ni, coalesce(sum(__graft_upd), 0) as nu""".stripMargin)
        .collect()(0)
    }
    if (check.getInt(0) > 0) {
      val key = check.getStruct(1)
      val vals = keyCols.indices.map(i => String.valueOf(key.get(i))).mkString(", ")
      if (check.getInt(0) == 2)
        throw new IllegalArgumentException(
          s"INSERT … ON CONFLICT into $table: NULL conflict-key value ($vals) — " +
            "DuckDB's conflict target is a PRIMARY KEY, which is NOT NULL")
      throw new IllegalArgumentException(
        s"INSERT … ON CONFLICT into $table: the batch proposes conflict key " +
          s"($vals) twice — DuckDB: ON CONFLICT DO UPDATE can not update the " +
          "same row twice in the same command")
    }
    val (nIns, nUpd) = (check.getLong(2), check.getLong(3))
    val guards = new TableConstraints.WriteGuards(spark, table, cons, "INSERT into",
      update.toSeq.flatMap(_._1.map(_._1.toLowerCase(java.util.Locale.ROOT))).toSet)
    if (nUpd == 0L) {
      // no target row changes: append the unmatched batch rows, never
      // rewrite the table
      if (nIns > 0L) {
        val inserts = psql.sql(
          s"""from $srcView as __graft_s0
             ||> as excluded left anti join $table as $tA on ($onCond) select ${
            fields.map(f => s"excluded.${f.name}").mkString(", ")}""".stripMargin)
        guards.checkInserts(inserts)
        guards(inserts).write.mode(SaveMode.Append).insertInto(table)
      }
      return DmlStatements.countDf(spark, nIns)
    }
    val (assigns, where) = update.get // rows are updated only under DO UPDATE
    if (DmlStatements.partitionColsOf(spark, table).nonEmpty)
      return lower(spark, table, tA, srcView, "excluded", onCond,
        Seq(Clause(Matched, where, UpdateSet(assigns)),
          Clause(NotMatchedTarget, None, InsertByName)), "INSERT into", cons)
    if (nIns > 0L)
      guards.checkInserts(psql.sql(
        s"from $srcView as __graft_s0 |> as excluded left anti join $table as $tA on ($onCond)"))
    val applies =
      s"excluded.__graft_m is not null and ${
        where.map(w => s"coalesce(($w), false)").getOrElse("true")}"
    val cols = fields.map { f =>
      val kept = assigns.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, e)) =>
          s"case when $applies then cast(($e) as ${f.dataType.sql}) else $tA.${f.name} end"
        case None => s"$tA.${f.name}"
      }
      s"case when $tA.__graft_tm is null then excluded.${f.name} else $kept end as ${f.name}"
    }
    val postImage = psql.sql(
      s"""from $table as __graft_t0
         ||> as __graft_t1 select __graft_t1.*, true as __graft_tm
         ||> as $tA full join (| from $srcView as __graft_s0 |> as __graft_s1 select __graft_s1.*, true as __graft_m |) as excluded on ($onCond) select ${cols.mkString(", ")}""".stripMargin)
    DmlStatements.cowSwap(spark, table, guards(postImage),
      validateShadow = guards.shadowValidate)
    DmlStatements.countDf(spark, nIns + nUpd)
  }

  /** `verb` names the statement the user wrote in guard violations;
    * `cons` is the statement's one [[TableConstraints.load]].
    */
  private def lower(spark: SparkSession, table: String, tAlias: String,
      srcRel: String, sA: String, onCond: String, clauses: Seq[Clause],
      verb: String, cons: TableConstraints.Constraints): DataFrame = {
    // ---- semantic checks and schema capture -------------------------------
    DmlStatements.checkTarget(spark, table, "MERGE")
    val psql = Psql(spark)
    val fields = spark.table(table).schema.fields.toSeq
    fields.foreach(f => require(isIdent(f.name) && !f.name.startsWith("__graft"),
      s"MERGE target column '${f.name}' — only plain identifiers without the " +
        "__graft prefix are supported"))
    // source schema (plan-only, nothing executes) for by-name actions
    lazy val srcFields: Seq[StructField] =
      psql.sql(s"from $srcRel as $sA |> where false").schema.fields.toSeq

    def declaredCast(expr: String, f: StructField): String =
      s"cast(($expr) as ${f.dataType.sql})"
    def tCol(f: StructField): String = s"$tAlias.${f.name}"

    clauses.foreach { c =>
      (c.kind, c.action) match {
        case (Matched, _: InsertValues) | (Matched, InsertByName) =>
          throw new IllegalArgumentException("MERGE: WHEN MATCHED cannot INSERT")
        case (NotMatchedTarget, a) if a != DoNothing &&
            !a.isInstanceOf[InsertValues] && a != InsertByName =>
          throw new IllegalArgumentException(
            "MERGE: WHEN NOT MATCHED [BY TARGET] can only INSERT or DO NOTHING")
        case (NotMatchedSource, _: InsertValues) | (NotMatchedSource, InsertByName) |
            (NotMatchedSource, UpdateByName) =>
          throw new IllegalArgumentException(
            "MERGE: WHEN NOT MATCHED BY SOURCE can only UPDATE SET, DELETE or " +
              "DO NOTHING (source columns are all NULL there)")
        case _ => ()
      }
      c.action match {
        case UpdateSet(assigns) =>
          val unknown = assigns.map(_._1)
            .filterNot(a => fields.exists(_.name.equalsIgnoreCase(a)))
          require(unknown.isEmpty,
            s"MERGE UPDATE: SET columns not in $table: ${unknown.mkString(", ")}")
          val dup = assigns.groupBy(_._1.toLowerCase)
            .collect { case (k, v) if v.size > 1 => k }
          require(dup.isEmpty, s"MERGE UPDATE: column assigned twice: ${dup.mkString(", ")}")
        case InsertValues(cols, values) =>
          cols match {
            case Some(cs) =>
              val unknown = cs.filterNot(c0 => fields.exists(_.name.equalsIgnoreCase(c0)))
              require(unknown.isEmpty,
                s"MERGE INSERT: columns not in $table: ${unknown.mkString(", ")}")
              require(cs.map(_.toLowerCase).distinct.size == cs.size,
                "MERGE INSERT: duplicate column in insert list")
              require(cs.size == values.size,
                s"MERGE INSERT: ${cs.size} columns but ${values.size} values")
            case None =>
              require(values.size == fields.size,
                s"MERGE INSERT without a column list needs all ${fields.size} " +
                  s"values for $table, got ${values.size}")
          }
        case _ => ()
      }
    }

    val targetClauses = clauses.filter(c => c.kind != NotMatchedTarget)
    val insertClauses = clauses.filter(c => c.kind == NotMatchedTarget)
    val targetActing = targetClauses.exists(_.action != DoNothing)
    val insertActing = insertClauses.exists(_.action != DoNothing)

    // ---- SQL text builders ------------------------------------------------
    val matchedFlag = s"coalesce($sA.__graft_m, false)"
    def guardSql(c: Clause): String = {
      val side = c.kind match {
        case Matched          => matchedFlag
        case NotMatchedSource => s"(not $matchedFlag)"
        case NotMatchedTarget => sys.error("unreachable")
      }
      c.cond match {
        case Some(x) => s"($side and coalesce(($x), false))"
        case None    => side
      }
    }
    def valueFor(c: Clause, f: StructField): String = c.action match {
      case UpdateSet(assigns) =>
        assigns.find(_._1.equalsIgnoreCase(f.name))
          .map { case (_, e) => declaredCast(e, f) }.getOrElse(tCol(f))
      case UpdateByName =>
        srcFields.find(_.name.equalsIgnoreCase(f.name))
          .map(sf => declaredCast(s"$sA.${sf.name}", f)).getOrElse(tCol(f))
      case _ => tCol(f) // Delete (filtered later) and DoNothing keep the row
    }
    def chain(values: Seq[String], default: String): String =
      if (targetClauses.isEmpty) default
      else targetClauses.map(guardSql).zip(values)
        .map { case (g, v) => s"when $g then $v" }
        .mkString("case ", " ", s" else $default end")

    val actCase = chain(targetClauses.map(c =>
      if (c.action == DoNothing) "0" else "1"), "0")
    val updCase = chain(targetClauses.map(c => c.action match {
      case _: UpdateSet | UpdateByName => "1"
      case _                           => "0"
    }), "0")
    val delCase = chain(targetClauses.map(c =>
      if (c.action == Delete) "true" else "false"), "false")
    val valCols = fields.map { f =>
      val vs = targetClauses.map(c => valueFor(c, f))
      // untouched column: skip the CASE, keep codegen narrow
      if (vs.forall(_ == tCol(f))) s"${tCol(f)} as ${f.name}"
      else s"${chain(vs, tCol(f))} as ${f.name}"
    }

    // the per-pair projection lives in the SAME stage as the join: the
    // side aliases ($tAlias/$sA) only exist in that stage's scope, and a
    // bare `SELECT *` over a self-join would duplicate column names.
    // headFilter restricts the TARGET scan (literal partition predicate →
    // Catalyst prunes the content pass to the affected directories)
    def pairsFor(headFilter: Option[String]): String = {
      val head = headFilter match {
        case Some(p) => s"from $table |> where ($p)"
        case None    => s"from $table"
      }
      s"""$head
         ||> as __graft_t0 select __graft_t0.*, monotonically_increasing_id() as __graft_tid
         ||> as $tAlias left join (| from $srcRel as __graft_s0 |> as __graft_s1 select __graft_s1.*, true as __graft_m |) as $sA on ($onCond) select __graft_tid, $actCase as __graft_act, $updCase as __graft_upd, $delCase as __graft_del, ${valCols.mkString(", ")}
         ||> select __graft_tid, sum(__graft_act) as __n_act, sum(__graft_upd) as __n_upd,
         |     sum(case when __graft_del then 1 else 0 end) as __n_del,
         |     max_by(named_struct('__graft_del', __graft_del${fields.map(f => s", '${f.name}', ${f.name}").mkString}), __graft_act) as __p
         |   group by __graft_tid""".stripMargin
    }
    val pairsBase = pairsFor(None)
    def contentSql(base: String): String = base +
      s"\n|> where not __p.__graft_del\n|> select ${
        fields.map(f => s"__p.${f.name} as ${f.name}").mkString(", ")}"
    val dupMatchMsg =
      s"MERGE INTO $table: a target row matches multiple source rows with an " +
        "applying UPDATE/DELETE clause — the standard forbids updating the same " +
        "row twice; deduplicate the source on the ON keys"

    val insertContent: Option[DataFrame] =
      if (!insertActing) None
      else {
        def insGuard(c: Clause): String =
          c.cond.map(x => s"coalesce(($x), false)").getOrElse("true")
        def insChain(values: Seq[String], default: String): String =
          insertClauses.map(insGuard).zip(values)
            .map { case (g, v) => s"when $g then $v" }
            .mkString("case ", " ", s" else $default end")
        val insAct = insChain(insertClauses.map(c =>
          if (c.action == DoNothing) "0" else "1"), "0")
        def insValue(c: Clause, f: StructField, pos: Int): String = c.action match {
          case InsertValues(Some(cs), values) =>
            cs.zip(values).find(_._1.equalsIgnoreCase(f.name))
              .map { case (_, e) => declaredCast(e, f) }
              .getOrElse(s"cast(null as ${f.dataType.sql})")
          case InsertValues(None, values) => declaredCast(values(pos), f)
          case InsertByName =>
            srcFields.find(_.name.equalsIgnoreCase(f.name))
              .map(sf => declaredCast(s"${sf.name}", f))
              .getOrElse(s"cast(null as ${f.dataType.sql})")
          case _ => s"cast(null as ${f.dataType.sql})" // DoNothing: filtered out
        }
        val insCols = fields.zipWithIndex.map { case (f, pos) =>
          s"${insChain(insertClauses.map(c => insValue(c, f, pos)),
            s"cast(null as ${f.dataType.sql})")} as ${f.name}"
        }
        // select merged into the join stage: insert values reference the
        // source alias, which is only in scope there (the anti join's
        // output is source-side columns only, so bare names stay
        // unambiguous even when target and source share names)
        Some(psql.sql(
          s"""from $srcRel as __graft_s2
             ||> as $sA left anti join $table as $tAlias on ($onCond) select $insAct as __graft_act, ${insCols.mkString(", ")}
             ||> where __graft_act = 1
             ||> select ${fields.map(_.name).mkString(", ")}""".stripMargin))
      }

    // ---- execution --------------------------------------------------------
    // PRUNED path (partitioned target, no clause assigns a partition
    // column): per-PARTITION stats over the same per-tid aggregate find
    // where acting rows live — payload partition values are pre-action by
    // construction — then the content pass re-runs with the literal
    // partition predicate pushed into the TARGET scan (pruned), and a
    // dynamic partition overwrite touches only those directories plus the
    // insert destinations. Fully-deleted partitions (every row of the
    // partition acted on by DELETE, nothing inserted there) are dropped.
    val pcols = DmlStatements.partitionColsOf(spark, table)
    def assignsPartitionCol(c: Clause): Boolean = c.action match {
      case UpdateSet(assigns) =>
        assigns.exists(a => pcols.exists(_.equalsIgnoreCase(a._1)))
      case UpdateByName =>
        srcFields.exists(sf => pcols.exists(_.equalsIgnoreCase(sf.name)))
      case _ => false
    }
    val prunable = pcols.nonEmpty && !targetClauses.exists(assignsPartitionCol)
    val cap = DmlStatements.partitionCap(pcols)

    val assignedLower: Set[String] = {
      def assignedCols(c: Clause): Seq[String] = c.action match {
        case UpdateSet(assigns) => assigns.map(_._1)
        case UpdateByName       => srcFields.map(_.name)
        case _                  => Nil
      }
      clauses.flatMap(assignedCols)
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    }
    val guards = new TableConstraints.WriteGuards(spark, table, cons, verb, assignedLower,
      deletes = clauses.exists(_.action == Delete))

    // inserts checkpointed ONCE under their count: the same rows feed the
    // FK check, the partition discovery and the write, so the source anti
    // join runs once, also when the pruned path falls back to the full one
    lazy val (insChk, nIns) = insertContent match {
      case Some(ins) =>
        val (chk, n) = Materialize.by(ins)(_.count())
        guards.checkInserts(chk)
        (Some(chk), n)
      case None => (None, 0L)
    }

    def fullPath(): DataFrame = {
      var nUpd = 0L
      var nDel = 0L
      val targetContent: Option[DataFrame] =
        if (!targetActing) None
        else {
          val check = psql.sql(pairsBase +
            "\n|> select coalesce(max(__n_act), 0) as mx, coalesce(sum(__n_upd), 0) as nu, " +
            "coalesce(sum(__n_del), 0) as nd").collect()(0)
          require(check.getLong(0) <= 1L, dupMatchMsg)
          nUpd = check.getLong(1)
          nDel = check.getLong(2)
          Some(psql.sql(contentSql(pairsBase)))
        }
      (targetContent, insChk) match {
        case (Some(t), ins)  =>
          DmlStatements.cowSwap(spark, table, guards(ins.fold(t)(t.union)),
            validateShadow = guards.shadowValidate)
        case (None, Some(i)) =>
          // insert-only merge: append the batch, never rewrite the warehouse
          guards(i).write.mode(SaveMode.Append).insertInto(table)
        case (None, None)    => () // every clause is DO NOTHING
      }
      DmlStatements.countDf(spark, nUpd + nDel + nIns)
    }

    if (!targetActing || !prunable || guards.needsFullImage) return fullPath()

    // one stats pass: per affected partition, acting counts + total rows
    val statRows = psql.sql(pairsBase +
      s"\n|> select ${pcols.map(p => s"__p.$p as $p").mkString(", ")}, " +
      "count(*) as __n_tot, max(__n_act) as __mx, " +
      "sum(__n_upd) as __nu, sum(__n_del) as __nd " +
      s"group by ${pcols.mkString(", ")}\n|> where __nu + __nd > 0")
      .limit(cap + 1).collect()
    if (statRows.length > cap) return fullPath() // honest full rewrite
    require(statRows.forall(_.getLong(pcols.size + 1) <= 1L), dupMatchMsg)
    val affParts: Seq[Seq[Any]] = statRows.map(r => pcols.indices.map(r.get)).toSeq
    if (affParts.exists(_.exists(v => DmlStatements.whereLit(v).isEmpty)))
      return fullPath()
    val nUpd = statRows.map(_.getLong(pcols.size + 2)).sum
    val nDel = statRows.map(_.getLong(pcols.size + 3)).sum

    // insert destinations: the same rows also feed the partition discovery
    val insParts: Seq[Seq[Any]] = insChk match {
      case Some(df) if nIns > 0 =>
        df.select(pcols.head, pcols.tail: _*).distinct().limit(cap + 1)
          .collect().map(r => pcols.indices.map(r.get)).toSeq
      case _ => Seq.empty
    }
    if (insParts.length > cap ||
        insParts.exists(_.exists(v => DmlStatements.whereLit(v).isEmpty)))
      return fullPath()
    def key(p: Seq[Any]): Seq[String] = p.map(v => DmlStatements.whereLit(v).get)
    val writeParts = (affParts ++ insParts)
      .groupBy(key).map(_._2.head).toSeq
    val insKeys = insParts.map(key).toSet

    if (writeParts.nonEmpty) {
      val affPred = DmlStatements.partitionPredicate(pcols, writeParts)
      // post-merge rows of the touched partitions ONLY (pruned scan), plus
      // the inserts; a dynamic overwrite replaces exactly these dirs
      val content = psql.sql(contentSql(pairsFor(Some(affPred))))
      val toWrite = insChk match {
        case Some(i) if nIns > 0 => content.union(i)
        case _                   => content
      }
      DmlStatements.withDynamicOverwrite(spark) {
        guards(toWrite).write.mode(SaveMode.Overwrite).insertInto(table)
      }
    }
    // partitions emptied by DELETE with no inserts landing there got no
    // data from the write: drop them explicitly
    DmlStatements.dropPartitions(spark, table, pcols, statRows.filter { r =>
      r.getLong(pcols.size) == r.getLong(pcols.size + 3) && // n_tot == n_del
        !insKeys.contains(key(pcols.indices.map(r.get)))
    }.map(r => pcols.indices.map(r.get)).toSeq)
    DmlStatements.countDf(spark, nUpd + nDel + nIns)
  }

  // ---- clause parsing -------------------------------------------------------

  private def parseClause(stmt: String, sc: Scan, whenPos: Int, end: Int): Clause = {
    var q = nextCode(stmt, sc, whenPos + "when".length)
    require(q >= 0 && q < end, "MERGE: dangling WHEN")
    val kind: ClauseKind =
      if (matchesWord(stmt, q, "matched")) { q = nextCode(stmt, sc, q + 7); Matched }
      else {
        require(matchesWord(stmt, q, "not"),
          s"MERGE: WHEN must be followed by MATCHED or NOT MATCHED near '${
            stmt.substring(q, math.min(q + 20, end))}'")
        q = nextCode(stmt, sc, q + 3)
        require(q >= 0 && matchesWord(stmt, q, "matched"),
          "MERGE: expected MATCHED after NOT")
        q = nextCode(stmt, sc, q + 7)
        if (q >= 0 && q < end && matchesWord(stmt, q, "by")) {
          val b = nextCode(stmt, sc, q + 2)
          if (matchesWord(stmt, b, "source")) { q = nextCode(stmt, sc, b + 6); NotMatchedSource }
          else {
            require(matchesWord(stmt, b, "target"),
              "MERGE: expected BY TARGET or BY SOURCE")
            q = nextCode(stmt, sc, b + 6); NotMatchedTarget
          }
        } else NotMatchedTarget
      }
    require(q >= 0 && q < end, "MERGE: WHEN clause needs THEN <action>")
    val thenPos = keywordOutsideCase(stmt, sc, "then", q, end).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"MERGE: WHEN clause without THEN near '${stmt.substring(whenPos, math.min(whenPos + 40, end))}'"))
    val cond: Option[String] =
      if (matchesWord(stmt, q, "and")) {
        val c = stmt.substring(q + 3, thenPos).trim
        require(c.nonEmpty, "MERGE: empty AND condition")
        Some(c)
      } else {
        require(q == thenPos,
          s"MERGE: unexpected text between MATCHED and THEN: '${
            stmt.substring(q, thenPos).trim}'")
        None
      }
    Clause(kind, cond, parseAction(stmt.substring(thenPos + 4, end).trim))
  }

  private def parseAction(a: String): Action = {
    val sc = scan(a)
    if (matchesWord(a, 0, "delete")) {
      require(a.substring("delete".length).trim.isEmpty,
        s"MERGE: DELETE takes no arguments, got '${a.substring(6).trim}'")
      Delete
    } else if (matchesWord(a, 0, "do")) {
      val n = nextCode(a, sc, 2)
      require(n >= 0 && matchesWord(a, n, "nothing") &&
          a.substring(n + "nothing".length).trim.isEmpty,
        s"MERGE: expected DO NOTHING, got '$a'")
      DoNothing
    } else if (matchesWord(a, 0, "update")) {
      val rest = a.substring("update".length).trim
      if (rest.isEmpty) UpdateByName
      else {
        require(matchesWord(rest, 0, "set"),
          s"MERGE: UPDATE needs SET (or no arguments for update-by-name), got '$rest'")
        val assigns = splitTopCommas(rest.substring(3)).map(_.trim)
          .filter(_.nonEmpty).map { part =>
            val psc = scan(part)
            var eq = -1
            var i = 0
            while (eq < 0 && i < part.length) {
              if (psc.topLevel(i) && part.charAt(i) == '=') eq = i else i += 1
            }
            require(eq > 0, s"MERGE: malformed SET assignment '$part'")
            val lhs = part.substring(0, eq).trim
            require(isIdent(lhs), s"MERGE: SET target must be a bare column, got '$lhs'")
            (lhs, part.substring(eq + 1).trim)
          }
        require(assigns.nonEmpty, "MERGE: empty SET list")
        UpdateSet(assigns)
      }
    } else if (matchesWord(a, 0, "insert")) {
      val afterIns = nextCode(a, sc, "insert".length)
      if (afterIns < 0) InsertByName
      else if (a.charAt(afterIns) == '*') {
        require(a.substring(afterIns + 1).trim.isEmpty,
          s"MERGE: INSERT * takes no further arguments, got '$a'")
        InsertByName
      } else if (matchesWord(a, afterIns, "values")) {
        InsertValues(None, parenList(a, sc, afterIns + "values".length, "VALUES"))
      } else if (a.charAt(afterIns) == '(') {
        val cols = parenList(a, sc, afterIns, "column", requireEnd = false).map(_.trim)
        cols.foreach(c => require(isIdent(c),
          s"MERGE: INSERT column list must be bare names, got '$c'"))
        // find VALUES after the column list's closing paren
        val v = nextCode(a, sc, closeParen(a, sc, afterIns) + 1)
        require(v >= 0 && matchesWord(a, v, "values"),
          "MERGE: INSERT (cols) needs VALUES (exprs)")
        InsertValues(Some(cols), parenList(a, sc, v + "values".length, "VALUES"))
      } else throw new IllegalArgumentException(
        s"MERGE: malformed INSERT action '$a'")
    } else throw new IllegalArgumentException(
      s"MERGE: unknown action '$a' — expected UPDATE, DELETE, INSERT or DO NOTHING")
  }

  /** Parse a single parenthesized comma-list starting at/after `from`;
    * with `requireEnd` (the default), nothing but whitespace may follow
    * the closing paren — a column list is followed by VALUES, so not.
    */
  private def parenList(a: String, sc: Scan, from: Int, what: String,
      requireEnd: Boolean = true): Seq[String] = {
    val open = nextCode(a, sc, from)
    require(open >= 0 && a.charAt(open) == '(',
      s"MERGE: expected a parenthesized $what list")
    val k = closeParen(a, sc, open)
    require(k >= 0, s"MERGE: unbalanced $what list")
    require(!requireEnd || a.substring(k + 1).trim.isEmpty,
      s"MERGE: unexpected text after the $what list: '${a.substring(k + 1).trim}'")
    val body = a.substring(open + 1, k)
    val items = splitTopCommas(body).map(_.trim)
    require(items.nonEmpty && items.forall(_.nonEmpty),
      s"MERGE: empty entry in $what list")
    items
  }
}
