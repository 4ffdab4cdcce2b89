package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The bench's reporting rules: a degraded run never reads as a clean
  * `median_of_<n>`, and a run never overwrites an earlier artifact.
  */
class BenchSpec extends AnyFunSuite {

  private def row(name: String, runs: Int, warmOk: Boolean = true) =
    Bench.Row(name, 1.0, Seq.fill(runs)(1.0), warmOk)

  test("protocol is median_of_n only when every row got a clean warm-up and n timed runs") {
    assert(Bench.protocol(3, Seq(row("a", 3), row("b", 3))) == "median_of_3")
    // past the main budget, the remaining rows are timed once
    assert(Bench.protocol(3, Seq(row("a", 3), row("b", 1))) == "median_of_3_degraded")
    assert(Bench.protocol(3, Seq(row("a", 3, warmOk = false))) == "median_of_3_degraded")
    assert(Bench.protocol(1, Seq(row("a", 1))) == "median_of_1")
  }

  test("an existing artifact is never overwritten: the next free bench_r<N>_<k>.json is written") {
    val dir = Files.createTempDirectory("graft-bench-artifacts").toFile
    def read(f: java.io.File) = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    val first = Bench.writeArtifact(dir, 19, "one")
    assert(first.getName == "bench_r19.json" && read(first) == "one")
    val second = Bench.writeArtifact(dir, 19, "two")
    assert(second.getName == "bench_r19_1.json" && read(second) == "two")
    assert(Bench.writeArtifact(dir, 19, "three").getName == "bench_r19_2.json")
    assert(read(first) == "one" && read(second) == "two")
    assert(Bench.writeArtifact(dir, 7, "r7").getName == "bench_r07.json")
  }
}
