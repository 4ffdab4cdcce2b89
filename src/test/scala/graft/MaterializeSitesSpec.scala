package graft

import org.scalatest.funsuite.AnyFunSuite

/** One materialization helper: `graft.operators.Materialize` is the only
  * source file that checkpoints a frame, so the policy it states holds at
  * every site.
  */
class MaterializeSitesSpec extends AnyFunSuite {

  test("only operators/Materialize.scala calls localCheckpoint or checkpoint") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not the main source tree")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val helper = new java.io.File(root, "graft/operators/Materialize.scala").getCanonicalFile
    assert(helper.isFile)
    val offenders = for {
      f <- files(root) if f.getName.endsWith(".scala") && f.getCanonicalFile != helper
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if line.contains("localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, "checkpoint outside graft.operators.Materialize:\n" +
      offenders.mkString("\n"))
  }
}
