package graft.psql

/** The SQL-text toolkit of the PSQL front-end: every lexical primitive the
  * text rewrites share lives here, once.
  *
  * The reference (ywelsch/duckdb-psql, `src/psql_extension.cpp:28-49`) splits
  * with context-free regexes; we instead scan with full awareness of SQL
  * string literals (`'…''…'`), quoted identifiers (`"…"`), line comments
  * (`-- …`) and block comments so that pipe tokens and clause keywords inside
  * literals/comments are never mistaken for syntax. Positions additionally
  * carry parenthesis depth so "top-level" (depth 0) occurrences can be
  * distinguished from ones inside subqueries / function calls.
  *
  * The toolkit (positions are indexes into `s`; `sc` is `scan(s)`):
  *   - [[scan]]: per-character code flag and paren depth. An opening `(`
  *     carries the depth OUTSIDE it, its interior one more, and its
  *     matching `)` the outer depth again; a stray `)` at depth 0 stays 0.
  *   - [[closeParen]]`(s, sc, open)`: the `)` closing the code `(` at
  *     `open` — the first code `)` after it at `open`'s depth — or -1 when
  *     nothing closes it.
  *   - [[enclosingOpen]]`(s, sc, i)`: the innermost code `(` still open at
  *     `i` (walking back, balancing code parens), or -1 at top level.
  *     `enclosingOpen(s, sc, closeParen(s, sc, o)) == o`.
  *   - [[splitTopCommas]]`(s)`: `s` cut at its code commas of depth 0; the
  *     raw pieces, untrimmed, always at least one; `mkString(",")` gives
  *     `s` back.
  *   - [[wordStartBefore]]`(s, end)`: start of the word that ends at `end`
  *     (whitespace before `end` skipped), or -1 when no word ends there.
  *   - [[isWordChar]] (letter, digit, `_`, `$`) and [[isIdent]] (a plain
  *     `[A-Za-z_][A-Za-z0-9_]*` name).
  *   - [[matchesWord]], [[nextCode]], [[topLevelKeyword]], [[fnArgFrom]]
  *     and [[splitPipes]]: keyword and token positions.
  *   - [[rewriteAll]]`(sql)(step)`: applies a one-site rewrite step until
  *     it finds nothing more to rewrite.
  */
object SqlScanner {

  /** Per-character flags for a SQL text: `code(i)` is true when position i is
    * real code (not inside a string literal, quoted identifier, or comment);
    * `depth(i)` is the parenthesis nesting depth at position i (the depth of
    * the context containing the char — an opening paren itself carries the
    * outer depth).
    */
  final case class Scan(code: Array[Boolean], depth: Array[Int]) {
    def topLevel(i: Int): Boolean = code(i) && depth(i) == 0
  }

  def scan(s: String): Scan = {
    val n = s.length
    val code = new Array[Boolean](n)
    val depth = new Array[Int](n)
    var i = 0
    var d = 0
    var state = 0 // 0 normal, 1 'str', 2 "ident", 3 --comment, 4 /*comment*/
    while (i < n) {
      val c = s.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') { code(i) = true; depth(i) = d; state = 1 }
          else if (c == '"') { code(i) = true; depth(i) = d; state = 2 }
          else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') { state = 3; code(i) = false; depth(i) = d }
          else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') { state = 4; code(i) = false; depth(i) = d }
          else if (c == '(') { code(i) = true; depth(i) = d; d += 1 }
          else if (c == ')') { d = math.max(0, d - 1); code(i) = true; depth(i) = d }
          else { code(i) = true; depth(i) = d }
        case 1 => // inside '…'; '' is an escaped quote
          code(i) = false; depth(i) = d
          if (c == '\'') {
            if (i + 1 < n && s.charAt(i + 1) == '\'') { depth(i + 1) = d; i += 1 }
            else state = 0
          }
        case 2 =>
          code(i) = false; depth(i) = d
          if (c == '"') state = 0
        case 3 =>
          code(i) = false; depth(i) = d
          if (c == '\n') state = 0
        case 4 =>
          code(i) = false; depth(i) = d
          if (c == '/' && i > 0 && s.charAt(i - 1) == '*') state = 0
      }
      i += 1
    }
    Scan(code, depth)
  }

  def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'

  private val identRe = "[A-Za-z_][A-Za-z0-9_]*".r

  /** True when `s` is exactly one plain identifier (no quotes, no dots). */
  def isIdent(s: String): Boolean = identRe.pattern.matcher(s).matches()

  /** The close paren matching the code `(` at `open`, or -1. */
  def closeParen(s: String, sc: Scan, open: Int): Int = {
    val d = sc.depth(open)
    var i = open + 1
    while (i < s.length) {
      if (sc.code(i) && sc.depth(i) == d && s.charAt(i) == ')') return i
      i += 1
    }
    -1
  }

  /** The innermost code `(` left open before position i, or -1. */
  def enclosingOpen(s: String, sc: Scan, i: Int): Int = {
    var j = i - 1
    var balance = 0
    while (j >= 0) {
      if (sc.code(j)) {
        if (s.charAt(j) == ')') balance += 1
        else if (s.charAt(j) == '(') {
          if (balance == 0) return j
          balance -= 1
        }
      }
      j -= 1
    }
    -1
  }

  /** Start of the word ending at `end` (exclusive, whitespace before it
    * skipped), or -1 when no word ends there.
    */
  def wordStartBefore(s: String, end0: Int): Int = {
    var end = end0
    while (end > 0 && Character.isWhitespace(s.charAt(end - 1))) end -= 1
    var st = end
    while (st > 0 && isWordChar(s.charAt(st - 1))) st -= 1
    if (st == end) -1 else st
  }

  /** `s` cut at its top-level commas: the raw, untrimmed pieces. */
  def splitTopCommas(s: String): Seq[String] = {
    val sc = scan(s)
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (sc.topLevel(i) && s.charAt(i) == ',') { parts += s.substring(start, i); start = i + 1 }
      i += 1
    }
    parts += s.substring(start)
    parts.toSeq
  }

  /** Apply `step` (rewrite one site, None when there is none left) until
    * it finds nothing; each step must remove the form it rewrote.
    */
  @scala.annotation.tailrec
  def rewriteAll(sql: String)(step: String => Option[String]): String =
    step(sql) match {
      case Some(next) => rewriteAll(next)(step)
      case None       => sql
    }

  /** True when s(i..) matches `word` (case-insensitive) with word boundaries
    * on both sides.
    */
  def matchesWord(s: String, i: Int, word: String): Boolean = {
    val n = s.length
    if (i + word.length > n) return false
    if (!s.regionMatches(true, i, word, 0, word.length)) return false
    val beforeOk = i == 0 || !isWordChar(s.charAt(i - 1))
    val after = i + word.length
    val afterOk = after >= n || !isWordChar(s.charAt(after))
    beforeOk && afterOk
  }

  /** True when the FROM keyword at code position i is SQL-function-call
    * syntax — the innermost unclosed call enclosing it is extract/
    * substring/trim/position/overlay — not a relation source. Walks back
    * tracking paren balance; the identifier immediately before the
    * unmatched '(' names the call. Used by the sequence per-row guard and
    * the quoted-path relation extractor, both of which must not mistake
    * `trim(leading 'x' from 'abc')` for a table scan.
    */
  def fnArgFrom(s: String, sc: Scan, i: Int): Boolean = {
    val open = enclosingOpen(s, sc, i)
    val st = if (open < 0) -1 else wordStartBefore(s, open)
    if (st < 0) return false
    var e = st
    while (isWordChar(s.charAt(e))) e += 1
    val fn = s.substring(st, e).toLowerCase(java.util.Locale.ROOT)
    Set("extract", "substring", "trim", "position", "overlay").contains(fn)
  }

  /** Next non-whitespace code position at or after i, or -1. */
  def nextCode(s: String, sc: Scan, i0: Int): Int = {
    var i = i0
    while (i < s.length && (Character.isWhitespace(s.charAt(i)) || !sc.code(i))) i += 1
    if (i < s.length) i else -1
  }

  /** Find all top-level (depth 0, in-code) start positions of a multi-word
    * keyword sequence like Seq("group","by"); words may be separated by any
    * whitespace/comments.
    */
  def topLevelKeyword(s: String, sc: Scan, words: Seq[String]): List[Int] = {
    var out = List.empty[Int]
    var i = 0
    while (i < s.length) {
      if (sc.topLevel(i) && matchesWord(s, i, words.head)) {
        // try to match the remaining words
        var ok = true
        var pos = i + words.head.length
        for (w <- words.tail) {
          val j = nextCode(s, sc, pos)
          if (j >= 0 && sc.topLevel(j) && matchesWord(s, j, w)) pos = j + w.length
          else ok = false
        }
        if (ok) out ::= i
      }
      i += 1
    }
    out.reverse
  }

  /** Split s on top-level occurrences of the pipe token `|>` that have
    * whitespace (or string start/end) immediately around it — mirroring the
    * reference's `\s+\|>\s+` rule (`src/psql_extension.cpp:34`) so that `||`
    * concatenation is never split (`test/sql/psql.test:31-33`). Unlike the
    * reference we only split at paren depth 0, so a `|>` inside a
    * parenthesized subquery stays put.
    */
  def splitPipes(s: String): List[String] = {
    val sc = scan(s)
    val cuts = scala.collection.mutable.ListBuffer.empty[Int]
    var i = 0
    while (i < s.length - 1) {
      if (sc.topLevel(i) && s.charAt(i) == '|' && s.charAt(i + 1) == '>' &&
          i > 0 && Character.isWhitespace(s.charAt(i - 1)) &&
          (i + 2 >= s.length || Character.isWhitespace(s.charAt(i + 2)))) {
        cuts += i
        i += 2
      } else i += 1
    }
    if (cuts.isEmpty) List(s)
    else {
      val parts = scala.collection.mutable.ListBuffer.empty[String]
      var start = 0
      for (c <- cuts) { parts += s.substring(start, c); start = c + 2 }
      parts += s.substring(start)
      parts.map(_.trim).toList
    }
  }
}
