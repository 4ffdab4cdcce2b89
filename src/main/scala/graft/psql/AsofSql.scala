package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScanner._

/** DuckDB `ASOF JOIN` in PSQL text — delegated surface the host engine has
  * no grammar for (DuckDB v1.4 `ASOF JOIN`, reference scope via
  * `README.md:91`). A pipe stage of the form
  *
  *   [as <lAlias>] asof [left] join <relation> [[as] <rAlias>]
  *     on <key equalities AND one time inequality>
  *
  * is executed through [[graft.operators.AsofJoin]] (the union+window plan:
  * one hash shuffle per side, linear scan per key — no per-row range probe),
  * because no string rewrite can express it in Spark SQL without schema
  * knowledge. The pipeline prefix before the stage runs through the normal
  * front-end to a DataFrame; the remaining stages fold on via the same
  * machinery as `Dataset.pipe`.
  *
  * Semantics: `l.t >= r.t` (either operand order) → backward as-of (greatest
  * right time <= left time, ties match); `l.t <= r.t` → forward; the strict
  * `>`/`<` forms exclude equal-time matches, like DuckDB's. Output columns
  * are the left columns plus
  * the right side's non-key columns, with key columns deduplicated like a
  * USING join; a right column whose name collides with a left column
  * (typically the right time column) is dropped rather than duplicated —
  * rename upstream if it's needed.
  */
object AsofSql {

  private final case class Stage(
      lAlias: Option[String],
      rel: String,
      rAlias: Option[String],
      conds: String,
      leftJoin: Boolean)

  /** If `query` is a pipe chain containing an `asof join` or `positional
    * join` stage, execute it and return the DataFrame; None → not ours, use
    * the normal path.
    */
  def tryPipeline(spark: SparkSession, query: String): Option[DataFrame] = {
    // a DDL-headed statement must NOT take this path: the prefix would be
    // executed eagerly (running the DDL with the wrong contents) before the
    // join stage even resolves — let the normal rewrite path fail cleanly
    if (!Psql.isQueryHead(query)) return None
    val q = PsqlRewriter.stripTrailingSemicolon(query)
    if (!PsqlRewriter.isPsql(q))
      // statement forms (no pipes): `FROM X ASOF|POSITIONAL JOIN …` and
      // plain `SELECT s FROM X ASOF|POSITIONAL JOIN Y …` lower onto the
      // pipe machinery. CRITICAL loudness contract: without this, Spark
      // parses the join keyword as a relation ALIAS and silently
      // cross-joins (positional) or theta-joins every match (asof) — so a
      // statement that names the join but cannot be lowered THROWS the
      // pipe recipe instead of falling through to a wrong answer.
      return lowerStatement(q).map { lowered =>
        tryPipeline(spark, lowered).getOrElse(throw new IllegalArgumentException(
          "could not execute the ASOF/POSITIONAL JOIN statement — spell it as a " +
            "pipeline (`from <left> |> asof join <rel> on …` / " +
            "`from <left> |> positional join <rel>`); lowered form was: " +
            lowered.take(200)))
      }
    val stages = splitEmbeddedHead(splitPipes(q))
    if (stages.length < 2) return None
    val hit = stages.indices.drop(1).flatMap { i =>
      matchStage(stages(i)).map(st => (i, () => {
        val left = Psql(spark).sql(stages.take(i).mkString(" |> "))
        execute(spark, left, st)
      })).orElse(matchPositional(stages(i)).map { rel => (i, () => {
        val left = Psql(spark).sql(stages.take(i).mkString(" |> "))
        graft.operators.PositionalJoin.join(left, resolveRel(spark, rel))
      })})
    }.headOption
    hit.map { case (i, build) =>
      val joined = build()
      val rest = stages.drop(i + 1)
      if (rest.isEmpty) joined
      else {
        import graft.psql.implicits._
        joined.pipe(rest.mkString(" |> "))
      }
    }
  }

  /** Position of the first top-level ASOF/POSITIONAL join keyword that is
    * actually followed by `[LEFT] JOIN` — a column or alias merely NAMED
    * `asof`/`positional` (not followed by JOIN) never matches.
    */
  private def joinKwPos(text: String): Option[Int] = {
    val sc = scan(text)
    (topLevelKeyword(text, sc, Seq("asof")) ++
      topLevelKeyword(text, sc, Seq("positional"))).sorted.find { p =>
      val isAsof = matchesWord(text, p, "asof")
      var i = nextCode(text, sc, p + (if (isAsof) 4 else "positional".length))
      if (isAsof && i >= 0 && matchesWord(text, i, "left")) i = nextCode(text, sc, i + 4)
      i >= 0 && matchesWord(text, i, "join")
    }
  }

  /** A pipe chain whose HEAD fragment embeds the join (`from X asof join Y
    * on … |> select …`) splits into the stage shape the matcher expects.
    */
  private def splitEmbeddedHead(stages: Seq[String]): Seq[String] =
    stages.headOption.flatMap(h => joinKwPos(h).filter(_ > 0).map { p =>
      Seq(h.substring(0, p).trim, h.substring(p).trim) ++ stages.tail
    }).getOrElse(stages)

  /** Lower the pipe-less statement spellings onto the stage machinery:
    * `FROM X <join> …[trailing]` and `SELECT s FROM X <join> Y …[trailing]`
    * (plus their WITH-prefixed forms) become
    * `from X |> <join stage> |> [select s] [trailing]`. The left side must
    * be a single relation (optionally aliased/parenthesized) — a composite
    * left (commas, other joins) throws the pipeline recipe rather than
    * guessing at scoping.
    */
  private def lowerStatement(q: String): Option[String] = {
    val sc = scan(q)
    val st = nextCode(q, sc, 0)
    if (st < 0) return None
    if (matchesWord(q, st, "with"))
      return PsqlRewriter.splitWithPrefix(q).flatMap { case (wp, rest) =>
        lowerStatement(rest.trim).map(l => s"$wp $l")
      }
    val kw = joinKwPos(q).getOrElse(return None)
    def simpleLeft(x0: String): String = {
      val xs = x0.trim
      val xsc = scan(xs)
      val bad = xs.isEmpty ||
        splitTopCommas(xs).size > 1 ||
        topLevelKeyword(xs, xsc, Seq("join")).nonEmpty
      if (bad) throw new IllegalArgumentException(
        "ASOF/POSITIONAL JOIN with a composite left side in statement form — " +
          "spell the left side as its own pipeline: from <left> |> asof join …")
      xs
    }
    val trailing = Seq(Seq("where"), Seq("group", "by"), Seq("having"),
      Seq("qualify"), Seq("window"), Seq("order", "by"), Seq("limit"), Seq("offset"))
    def cutJoin(tail: String): (String, String) = {
      val tsc = scan(tail)
      val cutC = trailing.flatMap(w => topLevelKeyword(tail, tsc, w).headOption)
      val cut = if (cutC.isEmpty) tail.length else cutC.min
      (tail.substring(0, cut).trim, tail.substring(cut).trim)
    }
    if (matchesWord(q, st, "from")) {
      if (kw <= st) return None
      val x = simpleLeft(q.substring(st + 4, kw))
      val (join, rest) = cutJoin(q.substring(kw))
      Some(if (rest.isEmpty) s"from $x |> $join" else s"from $x |> $join |> $rest")
    } else if (matchesWord(q, st, "select")) {
      val fromPos = topLevelKeyword(q, sc, Seq("from")).headOption.getOrElse(return None)
      if (fromPos > kw) return None
      val sel = q.substring(st + "select".length, fromPos).trim
      val x = simpleLeft(q.substring(fromPos + 4, kw))
      val (join, rest) = cutJoin(q.substring(kw))
      val selStage = if (rest.isEmpty) s"select $sel" else s"select $sel $rest"
      Some(s"from $x |> $join |> $selStage")
    } else None
  }

  /** DuckDB `POSITIONAL JOIN <rel>` stage (row-by-row zip; Spark has no
    * grammar and no contiguous row ids — executed via
    * [[graft.operators.PositionalJoin]]'s zipWithIndex plan). Only a bare
    * relation is supported (`as` aliases are pointless for a zip).
    */
  private def matchPositional(stage0: String): Option[String] = {
    val stage = stage0.trim
    val sc = scan(stage)
    val pos = topLevelKeyword(stage, sc, Seq("positional")).headOption.getOrElse(return None)
    if (stage.substring(0, pos).trim.nonEmpty) return None
    val j = nextCode(stage, sc, pos + "positional".length)
    if (j < 0 || !matchesWord(stage, j, "join")) return None
    val rel = stage.substring(j + 4).trim
    if (rel.isEmpty || rel.exists(Character.isWhitespace)) None else Some(rel)
  }

  private def resolveRel(spark: SparkSession, rel: String): DataFrame =
    if (rel.startsWith("'")) {
      val path = rel.stripPrefix("'").stripSuffix("'")
      val view = PathRelations.viewNameFor(path)
      PathRelations.register(spark, view, path)
      spark.table(view)
    } else spark.table(rel)

  private def matchStage(stage0: String): Option[Stage] = {
    val stage = stage0.trim
    val sc = scan(stage)
    val asofPos = topLevelKeyword(stage, sc, Seq("asof")).headOption.getOrElse(return None)
    // anything before `asof` must be exactly `as <alias>` (or nothing)
    val lAlias = {
      val prefix = stage.substring(0, asofPos).trim
      if (prefix.isEmpty) None
      else {
        val p = prefix.split("\\s+")
        if (p.length == 2 && p(0).equalsIgnoreCase("as")) Some(p(1)) else return None
      }
    }
    var i = nextCode(stage, sc, asofPos + 4)
    var leftJoin = false
    if (i >= 0 && matchesWord(stage, i, "left")) { leftJoin = true; i = nextCode(stage, sc, i + 4) }
    if (i < 0 || !matchesWord(stage, i, "join")) return None
    val onPos = topLevelKeyword(stage, sc, Seq("on")).find(_ > i).getOrElse(return None)
    val relText = stage.substring(i + 4, onPos).trim
    val relParts = relText.split("\\s+").toList
    val (rel, rAlias) = relParts match {
      case r :: Nil           => (r, None)
      case r :: a :: Nil      => (r, Some(a))
      case r :: as :: a :: Nil if as.equalsIgnoreCase("as") => (r, Some(a))
      case _                  => return None
    }
    Some(Stage(lAlias, rel, rAlias, stage.substring(onPos + 2).trim, leftJoin))
  }

  private def execute(spark: SparkSession, left: DataFrame, st: Stage): DataFrame = {
    val right = resolveRel(spark, st.rel)
    // a quoted path has no usable name part to qualify columns with (the
    // filename stem would silently differ from what the user wrote), so an
    // explicit alias is mandatory there
    val rightQual = st.rAlias.getOrElse {
      if (st.rel.startsWith("'")) throw new IllegalArgumentException(
        s"asof join on a quoted path needs an explicit alias to qualify its columns — " +
          s"write `asof join ${st.rel} r on l.k = r.k and …`")
      st.rel.split("\\.").last
    }.toLowerCase
    // conjuncts: qualified col (=|>=|<=|>|<) qualified col
    val csc = scan(st.conds)
    val andPos = topLevelKeyword(st.conds, csc, Seq("and"))
    val bounds = (0 +: andPos.map(_ + 3)).zip(andPos :+ st.conds.length)
    val conjs = bounds.map { case (a, b) => st.conds.substring(a, b).trim }
    val pat = "^([A-Za-z_][\\w]*)\\.([A-Za-z_][\\w]*)\\s*(>=|<=|=|>|<)\\s*([A-Za-z_][\\w]*)\\.([A-Za-z_][\\w]*)$".r
    var keys = List.empty[(String, String)] // (leftCol, rightCol)
    var time: Option[(String, String, String)] = None // (leftCol, rightCol, op normalized to left-op-right)
    conjs.foreach {
      case pat(q1, c1, op, q2, c2) =>
        // orient each conjunct as left-side ⊗ right-side by the qualifiers
        val flip = Map("=" -> "=", ">=" -> "<=", "<=" -> ">=", ">" -> "<", "<" -> ">")
        val (lc, rc, nop) =
          if (q2.toLowerCase == rightQual) (c1, c2, op)
          else if (q1.toLowerCase == rightQual) (c2, c1, flip(op))
          else throw new IllegalArgumentException(
            s"asof join condition '$q1.$c1 $op $q2.$c2' references neither side's alias " +
              s"('${st.rAlias.getOrElse(st.rel)}' expected on one side)")
        if (nop == "=") keys ::= (lc, rc)
        else time match {
          case Some(_) => throw new IllegalArgumentException(
            "asof join needs exactly ONE time inequality; found more than one")
          case None => time = Some((lc, rc, nop))
        }
      case other => throw new IllegalArgumentException(
        s"unsupported asof join conjunct '$other' — use qualified equalities and one " +
          "qualified time inequality")
    }
    val (lt, rt, op) = time.getOrElse(throw new IllegalArgumentException(
      "asof join needs a time inequality (l.t >= r.t or l.t <= r.t)"))
    if (keys.isEmpty) throw new IllegalArgumentException(
      "asof join needs at least one key equality alongside the time inequality")
    // align right key column names with the left (AsofJoin joins by name);
    // refuse up front when the target name already exists on the right — the
    // rename would create a duplicate and fail later with an opaque
    // ambiguous-column AnalysisException deep inside the join plan
    val renamed = keys.foldLeft(right) { case (df, (lc, rc)) =>
      if (lc == rc) df
      else {
        if (df.columns.exists(c => c.equalsIgnoreCase(lc) && !c.equalsIgnoreCase(rc)))
          throw new IllegalArgumentException(
            s"asof join cannot align right key '$rc' to left name '$lc': the right side " +
              s"already has a column named '$lc' — rename it upstream or alias the key")
        df.withColumnRenamed(rc, lc)
      }
    }
    val byCols = keys.map(_._1)
    val leftCols = left.columns.map(_.toLowerCase).toSet
    val payload = renamed.columns.toSeq
      .filterNot(c => byCols.exists(_.equalsIgnoreCase(c)))
      .filterNot(c => leftCols.contains(c.toLowerCase))
    if (payload.isEmpty) throw new IllegalArgumentException(
      "asof join right side carries no payload columns after key dedup and collision drops")
    graft.operators.AsofJoin.backwardOrForward(
      backward = op == ">=" || op == ">",
      left, renamed, byCols, lt, rt, payload,
      if (st.leftJoin) "left" else "inner",
      strict = op == ">" || op == "<")
  }
}
