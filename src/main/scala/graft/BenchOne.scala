package graft

/** Iteration-loop timer: times ONLY the gate entries whose names contain
  * any of the substrings passed as args (same warm-then-median-of-3
  * protocol as [[Bench]], same session config) and prints one line per
  * query. `Bench` times all ~180 entries (~2 min at sf0.1) — far too slow
  * a feedback loop when tuning one operator.
  *
  * Usage: `sbt "runMain graft.BenchOne m07 m11"` (env SPARK_GRAFT_SF_DIR
  * selects the scale, default sf0.1).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "BenchOne: pass one or more query-name substrings")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    Tables.register(spark, sfDir)
    val defs = SparkEntry.defs.filter(d => args.exists(d.name.contains))
    require(defs.nonEmpty, s"BenchOne: no gate entry matches ${args.mkString(", ")}")
    defs.foreach { d =>
      d.fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"${d.name}%-28s median=${times(1)}%.3f s  runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
