package graft.psql

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.io.{Codec, Source}

/** Pins the PSQL text rewrite byte for byte. Each line of
  * `psql_rewrite_corpus.jsonl` holds an input text (`in`) and either the
  * `Psql.rewriteOnly` output it produced (`out`) or the exception it threw
  * (`error`, class and message). The inputs are the perfbench
  * `pipe_queries` texts of seeds 1-3 and the non-script `psql` entries of
  * `tools/fuzz.py <sf> <dir> 200 42`; COPY texts are left out (their
  * emitted table name numbers COPY statements per JVM). A refactor of the
  * text layer must keep every line.
  */
class RewriteCorpusSpec extends AnyFunSuite {

  private lazy val corpus = {
    val mapper = new ObjectMapper()
    val src = Source.fromResource("psql_rewrite_corpus.jsonl")(Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toVector finally src.close()
  }

  private def rewritten(in: String): (String, String) =
    try ("out", Psql.rewriteOnly(in))
    catch { case e: Exception => ("error", s"${e.getClass.getName}: ${e.getMessage}") }

  test("Psql.rewriteOnly reproduces every pinned corpus output") {
    assert(corpus.size > 2000)
    val changed = corpus.filter { c =>
      val (field, text) = rewritten(c.get("in").asText)
      !c.has(field) || c.get(field).asText != text
    }
    assert(changed.isEmpty,
      s"${changed.size} of ${corpus.size} rewrites changed; first input:\n" +
        changed.headOption.map(_.get("in").asText).getOrElse(""))
  }
}
