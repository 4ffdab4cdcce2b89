package graft

import org.apache.spark.sql.SparkSession

/** Registers the driver-generated testdata parquet tables
  * (`/root/repo/TESTDATA.md`) as temp views for a scale-factor directory.
  * Idempotent per (session, dir); re-registers when the dir changes.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // temp views live in the session, so the cache is per session: a second
  // session in the same JVM registers its own views
  private val registeredDir =
    new java.util.WeakHashMap[SparkSession, String]()

  def register(spark: SparkSession, dir: String): Unit = synchronized {
    if (registeredDir.get(spark) != dir) {
      all.foreach { n =>
        if (n == "events") {
          // Some generations of events.parquet carry TIMESTAMP(NANOS), which
          // Spark's reader rejects; read ns-as-long and truncate to µs —
          // matching DuckDB, whose TIMESTAMP is µs-precision and truncates ns
          // on read. Newer generations write TIMESTAMP(MICROS), which reads
          // as a timestamp directly — detect from the loaded schema rather
          // than assuming one generation. The conf stays on for the session:
          // the scan consults it at execution time too, and it only affects
          // NANOS columns.
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          val raw = spark.read.parquet(s"$dir/$n.parquet")
          val tsIsLong =
            raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
          val view =
            if (tsIsLong)
              raw.selectExpr(
                "event_id", "timestamp_micros(ts div 1000) AS ts", "user_id",
                "event_type", "value", "props")
            else raw
          view.createOrReplaceTempView(n)
        } else {
          spark.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n)
        }
      }
      registeredDir.put(spark, dir)
    }
  }
}
