package graft.psql

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import SqlScanner._

/** ScalaCheck properties of the [[SqlScanner]] toolkit over random SQL-ish
  * text: string literals with doubled quotes, quoted identifiers, line and
  * block comments (all of which may hide parens and commas), nested and
  * unbalanced parens, and top-level commas.
  */
class SqlScannerPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  /** The counter-based matcher [[SqlScanner.closeParen]] replaced: count
    * code parens from the one at `open` until the count returns to zero.
    */
  private def matchParen(s: String, sc: Scan, open: Int): Int = {
    var i = open + 1
    var d = 1
    while (i < s.length) {
      if (sc.code(i)) {
        if (s.charAt(i) == '(') d += 1
        else if (s.charAt(i) == ')') { d -= 1; if (d == 0) return i }
      }
      i += 1
    }
    -1
  }

  // text that hides parens and commas from the scanner
  private val hidden: Gen[String] = Gen.oneOf("(", ")", ",", "x", " ", "''", "\"", "'")
  private def opaque(open: String, close: String, body: Gen[String]): Gen[String] =
    Gen.listOf(body).map(b => open + b.mkString + close)

  private val token: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("(", ")", ",", " ", "a", "f(", "x1", "\n", "-", "/", "*"),
    1 -> opaque("'", "'", Gen.oneOf("(", ")", ",", "x", " ", "''", "\"")),
    1 -> opaque("\"", "\"", Gen.oneOf("(", ")", ",", "x", " ", "'")),
    1 -> opaque("--", "\n", hidden),
    1 -> opaque("/*", "*/", hidden),
    // unterminated literal or comment swallowing the rest of the text
    1 -> Gen.oneOf("'(,", "/* (,", "-- ),", "\"(")
  )

  private val sqlish: Gen[String] = Gen.listOf(token).map(_.mkString)

  private def codeOpens(s: String, sc: Scan): Seq[Int] =
    s.indices.filter(i => sc.code(i) && s.charAt(i) == '(')

  test("closeParen agrees with the counter-based matcher at every code paren") {
    check("closeParen", Prop.forAll(sqlish) { s =>
      val sc = scan(s)
      codeOpens(s, sc).forall(o => closeParen(s, sc, o) == matchParen(s, sc, o))
    })
  }

  test("splitTopCommas pieces joined on ',' give the input back") {
    check("splitTopCommas", Prop.forAll(sqlish) { s =>
      splitTopCommas(s).mkString(",") == s
    })
  }

  test("enclosingOpen of a close paren is the paren it closes") {
    check("enclosingOpen", Prop.forAll(sqlish) { s =>
      val sc = scan(s)
      codeOpens(s, sc).forall { o =>
        val c = closeParen(s, sc, o)
        c < 0 || enclosingOpen(s, sc, c) == o
      }
    })
  }

  test("the primitives' edge values") {
    val s = "f( a, (b) ) , g"
    val sc = scan(s)
    assert(closeParen(s, sc, 1) == 10 && closeParen(s, sc, 6) == 8)
    assert(closeParen("f(a", scan("f(a"), 1) == -1)
    assert(enclosingOpen(s, sc, 7) == 6 && enclosingOpen(s, sc, 12) == -1)
    assert(splitTopCommas(s) == Seq("f( a, (b) ) ", " g") && splitTopCommas("") == Seq(""))
    assert(wordStartBefore(s, 1) == 0 && wordStartBefore("x  ", 3) == 0 && wordStartBefore("(", 1) == -1)
    assert(isIdent("a_1") && !isIdent("1a") && !isIdent("a.b") && !isIdent(""))
    assert(rewriteAll("aaa")(t => if (t.contains("a")) Some(t.replaceFirst("a", "b")) else None) == "bbb")
  }
}
