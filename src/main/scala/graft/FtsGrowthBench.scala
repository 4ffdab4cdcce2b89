package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured economics of the persisted FTS index (r07): replicate the
  * documents corpus 1×/4×/16×, build the index at each size, and time
  * (a) the build — one corpus pass, expected ~linear — and (b) the
  * match_bm25 PROBE — expected to track the query terms' posting lists
  * (a fixed fraction of the corpus), never re-reading the text column.
  * The evidence behind BASELINE.md's claim that scoring touches only the
  * pruned postings: the probe must grow far slower than a corpus re-scan
  * would (the postings of 3 query terms vs the whole text column).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.FtsGrowthBench"
  */
object FtsGrowthBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val psql = graft.psql.Psql(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")

    def timed[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    println("# scale | docs | build_s | probe_s | hits")
    for (k <- Seq(1, 4, 16)) {
      // materialize the grown corpus as a real table: probes must measure
      // parquet scans, not re-execution of the replication crossJoin
      graft.operators.Bucketing.dropTableAndLocation(spark, "graft_fts_growth")
      docs.crossJoin(spark.range(k).select(col("id").as("rep")))
        .select((col("doc_id") * k + col("rep")).as("doc_id"), col("text"))
        .write.mode("overwrite").format("parquet").saveAsTable("graft_fts_growth")
      val n = spark.table("graft_fts_growth").count()
      val buildS = timed(psql.sql(
        "PRAGMA create_fts_index('graft_fts_growth', 'doc_id', 'text', overwrite := 1)"))
      // warm once (plan compile), then time the probe median-of-3
      def probe(): Long = psql.sql(
        "from graft_fts_growth |> select doc_id, " +
          "fts_main_graft_fts_growth.match_bm25(doc_id, 'merge window scan') as score " +
          "|> where score is not null |> order by score desc, doc_id |> limit 20").count()
      val hits = probe()
      val times = (1 to 3).map(_ => timed(probe())).sorted
      println(f"$k%5d | $n%8d | $buildS%7.2f | ${times(1)}%7.2f | $hits")
    }
    Seq("graft_fts_growth", "fts_main_graft_fts_growth_terms")
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    spark.stop()
  }
}
