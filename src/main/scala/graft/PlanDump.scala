package graft

/** Optimization-round helper: writes `.explain("formatted")` output for the
  * named declared queries to a directory (plans/r17/<query>_<tag>.txt), so
  * plan-shape claims in OPTIMIZATION_r<N>.md are checkable without running
  * Spark. Usage:
  *   sbt "runMain graft.PlanDump <outDir> <tag> <name1,name2,...>"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  * The session is [[Bench.session]] — a plan dumped under different conf
  * (broadcast threshold, AQE) would not be the bench's plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <tag> <names-csv>")
    val Array(outDir, tag, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    names.foreach { n =>
      val d = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      val df = d.fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val path = java.nio.file.Paths.get(outDir, s"${n}_$tag.txt")
      java.nio.file.Files.write(path, plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[plandump] wrote $path (${plan.length} chars)")
    }
    spark.stop()
  }
}
