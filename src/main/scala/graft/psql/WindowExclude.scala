package graft.psql

import SqlScanner._

/** Window-frame `EXCLUDE` rewrite — the one delegated-surface window
  * feature Spark lacks outright (reference delegates the full DuckDB
  * window grammar, README.md:91; DuckDB ≥0.9 accepts
  * `… EXCLUDE CURRENT ROW | GROUP | TIES | NO OTHERS` at the tail of a
  * frame spec; Spark's parser rejects the clause).
  *
  * Rather than a custom physical window operator, the clause rewrites to
  * frame ARITHMETIC over windows Spark already evaluates natively (and
  * keeps inside WholeStageCodegen): the excluded rows' contribution is
  * subtracted from the unexcluded frame aggregate.
  *
  *   - `sum(E) … EXCLUDE CURRENT ROW`  → sum over frame − current E
  *   - `… EXCLUDE GROUP`               → − the peer-group aggregate, where
  *     the peer group is a SECOND window partitioned by
  *     (partition keys ++ bare order keys) — peers of the current row
  *   - `… EXCLUDE TIES`                → GROUP minus current row (ties are
  *     peers except self)
  *   - `… EXCLUDE NO OTHERS`           → no-op, clause dropped
  *
  * Count arithmetic guards the empty-frame edge: DuckDB yields NULL for
  * sum/avg over a fully-excluded frame and 0 for count — the rewrite
  * reproduces both exactly (q73 is the cross-engine gate row; the
  * canonical use is the leave-one-out rolling mean, which a15's z-score
  * previously hand-built with array folds).
  *
  * Soundness bounds (violations throw, never silently mis-answer):
  *   - aggregates: sum / count / avg (subtractable). min/max and friends
  *     are not expressible by subtraction — use the array-fold pattern
  *     (collect frame, filter, aggregate) those require.
  *   - EXCLUDE GROUP/TIES need peer groups ATOMIC w.r.t. the frame: true
  *     for RANGE/GROUPS frames and the default frame (peer distance is 0,
  *     so a frame containing the current row contains every peer), and
  *     for fully-unbounded ROWS frames; other ROWS frames can split a
  *     peer group and are rejected.
  *   - the frame must be a plain OVER (…) spec — a named `WINDOW w AS`
  *     reference cannot carry a per-use EXCLUDE here.
  *
  * Scale shape: the rewrite adds at most one extra window over the SAME
  * partition keys plus order keys — Catalyst plans both windows off one
  * Exchange/Sort (the peer window's keys are a superset, no extra
  * shuffle), so the 100 TB cost is one more running aggregate, not a
  * second shuffle.
  */
object WindowExclude {

  private sealed trait Kind
  private case object Cur extends Kind
  private case object Grp extends Kind
  private case object Ties extends Kind
  private case object NoOthers extends Kind

  /** Rewrite every window-frame EXCLUDE in `sql`; text inside string
    * literals/comments is never touched. Idempotent on exclude-free text.
    */
  def rewriteExcludes(sql: String): String = rewriteAll(sql)(rewriteFirst)

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"window EXCLUDE: $msg")

  // ---- lexical helpers -------------------------------------------------

  /** Positions (relative) of a keyword sequence at paren depth 0 of `spec`. */
  private def kwPositions(spec: String, words: Seq[String]): List[Int] =
    topLevelKeyword(spec, scan(spec), words)

  /** Strip a trailing ASC/DESC and NULLS FIRST/LAST from one order item. */
  private def bareOrderExpr(item0: String): String = {
    var item = item0.trim
    def stripTail(words: Seq[String]): Boolean = {
      val sc = scan(item)
      // match words right-to-left at the tail
      var end = item.length
      var ok = true
      for (w <- words.reverse) {
        val st = wordStartBefore(item, end)
        if (st >= 0 && sc.code(st) && matchesWord(item, st, w)) end = st
        else ok = false
      }
      if (ok) { item = item.substring(0, end).trim; true } else false
    }
    stripTail(Seq("nulls", "first")) || stripTail(Seq("nulls", "last"))
    stripTail(Seq("asc")) || stripTail(Seq("desc"))
    item
  }

  // ---- core ------------------------------------------------------------

  private def rewriteFirst(s: String): Option[String] = {
    val sc = scan(s)
    var i = 0
    while (i < s.length) {
      if (sc.code(i) && matchesWord(s, i, "exclude")) {
        // the window-frame EXCLUDE always sits inside parens; `* EXCLUDE`
        // was already shimmed to EXCEPT upstream, so any in-paren EXCLUDE
        // followed by a frame-exclusion keyword is ours
        val kindAndEnd = parseKind(s, sc, i)
        if (kindAndEnd.isDefined) {
          val (kind, exclEnd) = kindAndEnd.get
          val open = enclosingOpen(s, sc, i)
          if (open >= 0) {
            val prevWord = wordStartBefore(s, open)
            if (prevWord >= 0 && matchesWord(s, prevWord, "over"))
              return Some(spliceRewrite(s, sc, prevWord, open, i, exclEnd, kind))
            if (prevWord >= 0 && matchesWord(s, prevWord, "as"))
              fail("a named WINDOW clause cannot carry EXCLUDE here — " +
                "inline the window spec into OVER (…)")
          }
        }
      }
      i += 1
    }
    None
  }

  /** Parse the exclusion keywords after `exclude` at i; returns kind and
    * end position (exclusive) of the clause.
    */
  private def parseKind(s: String, sc: Scan, i: Int): Option[(Kind, Int)] = {
    val j = nextCode(s, sc, i + "exclude".length)
    if (j < 0) return None
    if (matchesWord(s, j, "current")) {
      val k = nextCode(s, sc, j + "current".length)
      if (k >= 0 && matchesWord(s, k, "row")) Some((Cur, k + 3)) else None
    } else if (matchesWord(s, j, "group")) Some((Grp, j + 5))
    else if (matchesWord(s, j, "ties")) Some((Ties, j + 4))
    else if (matchesWord(s, j, "no")) {
      val k = nextCode(s, sc, j + 2)
      if (k >= 0 && matchesWord(s, k, "others")) Some((NoOthers, k + 6)) else None
    } else None
  }

  private final case class Frame(mode: String, curIncluded: Boolean,
      unboundedBoth: Boolean, aText: String, bText: String,
      aCls: String, bCls: String)

  /** Analyze the frame text (may be empty → default frame). */
  private def analyzeFrame(frameText: String): Frame = {
    val f = frameText.trim
    if (f.isEmpty)
      return Frame("range", curIncluded = true, unboundedBoth = false,
        "unbounded preceding", "current row", "UP", "CR")
    val mode =
      if (matchesWord(f, 0, "rows")) "rows"
      else if (matchesWord(f, 0, "range")) "range"
      else if (matchesWord(f, 0, "groups")) "groups"
      else fail(s"unrecognized frame '$f'")
    val betweens = kwPositions(f, Seq("between"))
    val (a, b) =
      if (betweens.nonEmpty) {
        val ands = kwPositions(f, Seq("and")).filter(_ > betweens.head)
        if (ands.isEmpty) fail(s"frame '$f' has BETWEEN without AND")
        (f.substring(betweens.head + 7, ands.head).trim,
          f.substring(ands.head + 3).trim)
      } else (f.substring(mode.length).trim, "current row")
    def cls(bound: String): String = {
      val b = bound.toLowerCase
      // `0 preceding`/`0 following` ARE the current row — classify as CR so
      // the frame-split path never builds an inverted half-frame
      if (b.contains("unbounded") && b.endsWith("preceding")) "UP"
      else if (b.contains("unbounded") && b.endsWith("following")) "UF"
      else if (b.startsWith("current")) "CR"
      else if (b.matches("""0+\s+(preceding|following)""")) "CR"
      else if (b.endsWith("preceding")) "NP"
      else if (b.endsWith("following")) "NF"
      else fail(s"unrecognized frame bound '$bound'")
    }
    val (ca, cb) = (cls(a), cls(b))
    val curIn = Seq("UP", "NP", "CR").contains(ca) && Seq("CR", "NF", "UF").contains(cb)
    Frame(mode, curIn, ca == "UP" && cb == "UF", a, b, ca, cb)
  }

  private def spliceRewrite(s: String, sc: Scan, overStart: Int, open: Int,
      exclStart: Int, exclEnd: Int, kind: Kind): String = {
    val close = closeParen(s, sc, open)
    if (close < 0) fail("unbalanced OVER parentheses")
    require(exclEnd <= close, "exclude clause must sit inside its OVER spec")
    // the clause must be the spec's tail (standard grammar position)
    if (s.substring(exclEnd, close).trim.nonEmpty)
      fail("EXCLUDE must be the last clause of the frame spec")
    val spec = s.substring(open + 1, exclStart).trim // spec minus exclude

    if (kind == NoOthers) // no-op by definition: just drop the clause
      return s.substring(0, open + 1) + spec + s.substring(close)

    // aggregate call preceding OVER: agg '(' args ')' [no FILTER support]
    var p = overStart
    while (p > 0 && Character.isWhitespace(s.charAt(p - 1))) p -= 1
    if (p == 0 || s.charAt(p - 1) != ')')
      fail("expected 'agg(args) OVER (…)' directly before the frame")
    val argClose = p - 1
    val argOpen = enclosingOpen(s, sc, argClose)
    if (argOpen < 0) fail("unbalanced aggregate parentheses")
    val fnStart = wordStartBefore(s, argOpen)
    if (fnStart < 0) fail("no aggregate function name before OVER")
    if (matchesWord(s, fnStart, "filter"))
      fail("FILTER + EXCLUDE is unsupported — fold the filter into the expression")
    val fnEnd = {
      var e = fnStart
      while (e < s.length && isWordChar(s.charAt(e))) e += 1
      e
    }
    val fn = s.substring(fnStart, fnEnd).toLowerCase
    val arg = s.substring(argOpen + 1, argClose).trim
    if (!Seq("sum", "count", "avg", "min", "max").contains(fn))
      fail(s"aggregate '$fn' is not subtractable — EXCLUDE supports " +
        "sum/count/avg (subtraction) and min/max (EXCLUDE CURRENT ROW over " +
        "ROWS frames, by frame splitting); otherwise collect the frame and " +
        "fold (see a15's leave-one-out pattern)")
    if (arg.toLowerCase.startsWith("distinct "))
      fail("DISTINCT aggregates cannot EXCLUDE")
    val starCount = fn == "count" && (arg == "*" || arg.isEmpty)

    // split the spec into partition / order / frame segments
    val partPos = kwPositions(spec, Seq("partition", "by")).headOption
    val orderPos = kwPositions(spec, Seq("order", "by")).headOption
    val framePos = Seq("rows", "range", "groups")
      .flatMap(m => kwPositions(spec, Seq(m))).sorted.headOption
    val scSpec = scan(spec)
    def afterBy(kwPos: Int, kwLen: Int): Int = {
      val byPos = nextCode(spec, scSpec, kwPos + kwLen) // the BY keyword
      byPos + 2
    }
    val partText = partPos.map { pp =>
      val end = (orderPos.toSeq ++ framePos.toSeq).filter(_ > pp)
        .sorted.headOption.getOrElse(spec.length)
      spec.substring(afterBy(pp, "partition".length), end).trim
    }.getOrElse("")
    val orderText = orderPos.map { op =>
      val end = framePos.filter(_ > op).getOrElse(spec.length)
      spec.substring(afterBy(op, "order".length), end).trim
    }.getOrElse("")
    val frameText = framePos.map(fp => spec.substring(fp).trim).getOrElse("")
    val frame = analyzeFrame(frameText)

    if (kind != Cur && frame.mode == "rows" && !frame.unboundedBoth)
      fail("EXCLUDE GROUP/TIES over a bounded ROWS frame can split a peer " +
        "group — use a RANGE or GROUPS frame (peer groups are atomic there)")

    // exclusion is a no-op when the current row (and with it, in atomic
    // modes, its whole peer group) lies outside the frame
    if (!frame.curIncluded)
      return s.substring(0, open + 1) + spec + s.substring(close)

    def items(t: String) = splitTopCommas(t).map(_.trim).filter(_.nonEmpty)
    val peerKeys = items(partText) ++ items(orderText).map(bareOrderExpr)
    val peerWin =
      if (peerKeys.isEmpty) "" else s"partition by ${peerKeys.mkString(", ")}"

    def base(f: String) = s"$f($arg) over ($spec)"
    def peer(f: String) = s"$f($arg) over ($peerWin)"
    // the current row's contribution to count: 1 for count(*), the
    // arg's non-nullness otherwise
    val curCnt =
      if (starCount) "1" else s"(case when ($arg) is null then 0 else 1 end)"
    val curSum = s"coalesce($arg, 0)"

    val out = (fn, kind) match {
      case ("count", Cur) if starCount =>
        s"(count(*) over ($spec) - 1)"
      case ("count", Cur) =>
        s"(${base("count")} - $curCnt)"
      case ("count", Grp) if starCount =>
        s"(count(*) over ($spec) - count(*) over ($peerWin))"
      case ("count", Grp) =>
        s"(${base("count")} - ${peer("count")})"
      case ("count", Ties) if starCount =>
        s"(count(*) over ($spec) - count(*) over ($peerWin) + 1)"
      case ("count", Ties) =>
        s"(${base("count")} - ${peer("count")} + $curCnt)"
      case ("sum", Cur) =>
        s"(case when ${base("count")} - $curCnt = 0 then null " +
          s"else ${base("sum")} - $curSum end)"
      case ("sum", Grp) =>
        s"(case when ${base("count")} - ${peer("count")} = 0 then null " +
          s"else ${base("sum")} - coalesce(${peer("sum")}, 0) end)"
      case ("sum", Ties) =>
        s"(case when ${base("count")} - ${peer("count")} + $curCnt = 0 then null " +
          s"else ${base("sum")} - coalesce(${peer("sum")}, 0) + $curSum end)"
      case ("avg", Cur) =>
        s"(case when ${base("count")} - $curCnt = 0 then null " +
          s"else (${base("sum")} - $curSum) / (${base("count")} - $curCnt) end)"
      case ("avg", Grp) =>
        s"(case when ${base("count")} - ${peer("count")} = 0 then null " +
          s"else (${base("sum")} - coalesce(${peer("sum")}, 0)) / " +
          s"(${base("count")} - ${peer("count")}) end)"
      case ("avg", Ties) =>
        s"(case when ${base("count")} - ${peer("count")} + $curCnt = 0 then null " +
          s"else (${base("sum")} - coalesce(${peer("sum")}, 0) + $curSum) / " +
          s"(${base("count")} - ${peer("count")} + $curCnt) end)"
      case ("min" | "max", Cur) =>
        // not subtractable — SPLIT the ROWS frame around the current row
        // and combine the two half-frames (least/greatest skip a NULL
        // side, so an empty half at a partition edge behaves like DuckDB's
        // exclusion; both halves empty → typed NULL, the empty-frame edge)
        if (frame.mode != "rows")
          fail(s"$fn EXCLUDE CURRENT ROW needs a ROWS frame — a RANGE/GROUPS " +
            "frame cannot split around the current row (its peers share the " +
            "frame boundary value)")
        val partOrd = framePos.map(fp => spec.substring(0, fp).trim)
          .getOrElse(fail("ROWS frame position lost"))
        val combine = if (fn == "min") "least" else "greatest"
        val left =
          if (Seq("UP", "NP").contains(frame.aCls))
            Some(s"$fn($arg) over ($partOrd rows between ${frame.aText} and 1 preceding)")
          else None
        val right =
          if (Seq("UF", "NF").contains(frame.bCls))
            Some(s"$fn($arg) over ($partOrd rows between 1 following and ${frame.bText})")
          else None
        (left, right) match {
          case (Some(l), Some(r)) => s"$combine($l, $r)"
          case (Some(l), None)    => s"($l)"
          case (None, Some(r))    => s"($r)"
          case (None, None)       => s"(case when 1 = 0 then $fn($arg) over ($spec) end)"
        }
      case ("min" | "max", _) =>
        fail(s"$fn supports only EXCLUDE CURRENT ROW (frame splitting) — " +
          "GROUP/TIES exclusions are not expressible by splitting; collect " +
          "the frame and fold (a15's pattern)")
      case other => fail(s"unreachable combination $other")
    }
    s.substring(0, fnStart) + out + s.substring(close + 1)
  }
}
