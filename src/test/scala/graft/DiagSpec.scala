package graft

/** [[Diag]] on the test session at sf0.001: every growth case emits its
  * declared keys, grows its table k× (scale cases) or its index (wave
  * cases), and leaves no scratch table, FTS index or FK setting behind;
  * `time` and `plan` run one declared row each.
  */
class DiagSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def scratchTables(): Set[String] = spark.catalog.listTables().collect()
    .map(_.name).filter(n => n.startsWith("graft_") || n.startsWith("fts_main_")).toSet

  // the key whose value must grow: k× across scales, or wave over wave
  private val sizeKey = Map("fts" -> "docs", "dml" -> "rows", "fk" -> "child_rows",
    "constraints" -> "target_rows", "ivf" -> "index_vecs", "minhash_index" -> "index_docs")

  Diag.growth.foreach { case (name, g) =>
    test(s"growth $name: declared keys, growing sizes, nothing left behind") {
      val before = scratchTables()
      val raw = g.rows(spark, sf)
      assert(raw.nonEmpty && raw.forall(_.length == g.keys.length), raw)
      val rows = raw.map(r => g.keys.zip(r).toMap)
      // counts render as JSON integers, labels as strings
      val first = g.json(raw.head)
      assert(first.startsWith(if (g.keys.head == "scale") "{\"scale\":1," else "{\"wave\":\""), first)
      val size = rows.map(_(sizeKey(name)).asInstanceOf[Number].longValue)
      if (g.keys.head == "scale") {
        assert(rows.map(_("scale")) == Seq(1, 4, 16))
        assert(size.head > 0 && size == Seq(1L, 4L, 16L).map(_ * size.head), size)
      } else {
        val waves = size.take(6)
        assert(waves.zip(waves.tail).forall { case (a, b) => a < b }, size)
      }
      assert(scratchTables() == before)
      assert(spark.conf.getOption(psql.TableConstraints.FkEnforceConf).isEmpty)
    }
  }

  test("time and plan run one declared row") {
    val Seq(line) = Diag.time(spark, sf, Seq("q01_pricing_summary"))
    assert(line.matches("""\{"name":"q01_pricing_summary","median_s":[0-9.]+,"runs_s":\[[0-9.,]+\]\}"""),
      line)
    val dir = java.nio.file.Files.createTempDirectory("graft-diag-plan").toString
    val Seq(path) = Diag.plan(spark, sf, dir, "t", Seq("q01_pricing_summary"))
    assert(path.getFileName.toString == "q01_pricing_summary_t.txt")
    assert(new String(java.nio.file.Files.readAllBytes(path), "UTF-8").contains("== Physical Plan =="))
  }
}
