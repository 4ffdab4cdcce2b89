package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the scale factor
  * in SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  *
  * Results are materialized through the `noop` sink — unlike `count()`,
  * which lets Catalyst prune the whole projection, noop forces every output
  * column to be computed while writing nothing.
  *
  * Protocol, one pass over the rows ([[timeRow]], which `Diag time` shares):
  *   - each row gets one untimed warm-up, then SPARK_GRAFT_TIMED_RUNS
  *     (default 3) timed runs; the reported `median` is the lower middle of
  *     the runs that succeeded (single runs swung ±4× on unchanged code, and
  *     with 2 survivors the smaller one is kept — a dropped run already
  *     signals trouble), or -1 when the warm-up or every timed run failed;
  *   - once the wall clock passes 3/4 of SPARK_GRAFT_BENCH_BUDGET_S (default
  *     1500 s), each remaining row is timed once (never 0: a row missing
  *     from the artifact reads as dropped) and `_meta.main_degraded` is set,
  *     so the final line prints before any external timeout;
  *   - [[protocol]] reads `median_of_<n>` only when every row got a clean
  *     warm-up and n timed runs, else `median_of_<n>_degraded`, and the
  *     `degraded` list names the rows that did not;
  *   - `contended` is true when JVM GC took more than 5% of the bench's wall
  *     time, or when some row's max/min spread exceeds 3× with min above
  *     0.1 s (a one-off stall: true cost differences move the median, not
  *     the spread). Such rows are listed in `_meta.pathological`; nothing is
  *     re-timed, so every number is this run's own measurement.
  *
  * Output contract:
  *   - the full per-row record (`median`, `min`, `max`, `runs`, `warm_ok`)
  *     goes to `artifacts/bench_r<N>.json`, or to the first free
  *     `bench_r<N>_<k>.json` when that file exists ([[writeArtifact]] never
  *     overwrites). The round N is SPARK_GRAFT_ROUND, else 99 for a
  *     SPARK_GRAFT_ONLY subset run, else one past the highest
  *     `BENCH_r<N>.json` in the working directory;
  *   - the FINAL stdout line is a compact total-first summary (under 1 KB,
  *     so a tail capture keeps it whole) and prints even when the artifact
  *     write fails.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // untimed warmup: one real execution per table primes file listings,
    // parquet footers, codegen and JIT before any query is timed
    Tables.register(spark, sfDir)
    Tables.all.foreach(t => spark.table(t).limit(1000).write.format("noop").mode("overwrite").save())
    spark.table("lineitem").groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum
    }
    val gc0 = gcMs
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val wallBudgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S").flatMap(_.toDoubleOption)
      .filter(_ > 0).getOrElse(1500.0)
    val mainBudgetS = wallBudgetS * 0.75
    // SPARK_GRAFT_ONLY=name,name — time a subset (the before/after loop
    // for a single-row investigation)
    val onlyNames = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benchDefs = onlyNames
      .map(ns => SparkEntry.defs.filter(d => ns.contains(d.name)))
      .getOrElse(SparkEntry.defs)
    var mainDegraded = false
    // warm-then-time PER ROW, adjacently: the warm-up janino-compiles the
    // row's generated stages, and timing right after keeps them in Spark's
    // bounded codegen cache (warming every row first would evict the early ones)
    val results = benchDefs.map { d =>
      if (!mainDegraded && elapsedS > mainBudgetS) {
        System.err.println(f"[bench] wall $elapsedS%.0f s past main budget $mainBudgetS%.0f s — " +
          "remaining queries timed once (runs per row recorded in the artifact)")
        mainDegraded = true
      }
      timeRow(spark, sfDir, d, if (mainDegraded) 1 else timedRuns)
    }
    // Locale.ROOT: no comma decimal separators under any JVM default locale
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def names(rs: Seq[Row]): String = rs.map("\"" + _.name + "\"").mkString("[", ",", "]")
    val gcTotal = gcMs - gc0
    val wallSec = elapsedS
    val total = results.map(_.median).filter(_ >= 0).sum
    val pathological = results.filter(r =>
      r.runs >= 2 && r.times.head > 0.1 && r.times.last / r.times.head > 3.0)
    val contended = gcTotal > wallSec * 1000 * 0.05 || pathological.nonEmpty
    val proto = protocol(timedRuns, results)
    // host fingerprint: medians are only comparable on the same machine shape
    val hostFp = {
      val host = try java.net.InetAddress.getLocalHost.getHostName
        catch { case _: Throwable => "unknown" }
      s"$host/${Runtime.getRuntime.availableProcessors}"
    }
    val roundN = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption).getOrElse {
      if (onlyNames.isDefined) 99 // subset runs park at the scratch slot
      else {
        val rs = Option(new File(".").listFiles()).getOrElse(Array.empty)
          .flatMap(f => "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        if (rs.isEmpty) 0 else rs.max + 1
      }
    }
    val perQuery = results.map { r =>
      val spread =
        if (r.times.isEmpty) """"min":-1,"max":-1"""
        else s""""min":${num(r.times.head)},"max":${num(r.times.last)}"""
      s"""  "${r.name}":{"median":${num(r.median)},$spread,"runs":${r.runs},"warm_ok":${r.warmOk}}"""
    }.mkString("{\n", ",\n", ",\n")
    val fullJson = perQuery +
      s"""  "_meta":{"metric":"total","value":${num(total)},"unit":"sec","sf":"$sfDir","protocol":"$proto","host":"$hostFp","gc_ms":$gcTotal,"n_queries":${results.size},"wall_s":${num(wallSec)},"contended":$contended,"pathological":${names(pathological)},"timed_runs":$timedRuns,"wall_budget_s":${num(wallBudgetS)},"main_degraded":$mainDegraded}\n}"""
    // The final stdout line must print even if the artifact write throws
    // (full disk, read-only checkout): the driver's record of the round is
    // that ONE line, so nothing between here and the println may be fatal.
    val artifact =
      try {
        val f = writeArtifact(new File("artifacts"), roundN, fullJson)
        System.err.println(s"[bench] full per-query results written to $f")
        f.getPath
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] artifact write FAILED (continuing): $e")
          ""
      }
    val slowest = results.filter(_.median >= 0).sortBy(-_.median).take(5)
      .map(r => "\"" + r.name + "\":" + num(r.median)).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","sf":"$sfDir","protocol":"$proto","host":"$hostFp","gc_ms":$gcTotal,"contended":$contended,"n_queries":${results.size},"slowest5":$slowest,"degraded":${names(results.filterNot(_.clean(timedRuns)))},"artifact":"$artifact"}""")
    spark.stop()
  }

  /** Timed runs per row: SPARK_GRAFT_TIMED_RUNS (1–9), default 3. */
  def timedRuns: Int = sys.env.get("SPARK_GRAFT_TIMED_RUNS").flatMap(_.toIntOption)
    .filter(n => n >= 1 && n <= 9).getOrElse(3)

  /** One row's measurement: `times` are the successful timed runs, sorted. */
  final case class Row(name: String, median: Double, times: Seq[Double], warmOk: Boolean) {
    def runs: Int = times.size
    /** A clean warm-up and all `timedRuns` timed runs. */
    def clean(timedRuns: Int): Boolean = warmOk && runs == timedRuns
  }

  /** The protocol of one row: an untimed warm-up, then `runs` timed runs
    * into the noop sink. Failures print to stderr and are left out of
    * `times`; the median is their lower middle, or -1 when the warm-up or
    * every timed run failed. */
  def timeRow(spark: SparkSession, sfDir: String, d: SparkEntry.QueryDef, runs: Int): Row = {
    def run(what: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${d.name}$what FAILED: $e")
          None
      }
    }
    val warmOk = run(" warm-up").isDefined
    val times = (1 to runs).flatMap(_ => run("")).sorted
    Row(d.name, if (times.isEmpty || !warmOk) -1.0 else times((times.size - 1) / 2), times, warmOk)
  }

  /** `median_of_<n>` when every row got a clean warm-up and n timed runs,
    * else `median_of_<n>_degraded`. */
  def protocol(timedRuns: Int, rows: Seq[Row]): String =
    if (rows.forall(_.clean(timedRuns))) s"median_of_$timedRuns"
    else s"median_of_${timedRuns}_degraded"

  /** Writes `json` to `dir/bench_r<NN>.json`, or to the first free
    * `bench_r<NN>_<k>.json` (k = 1, 2, …) when that exists; an existing
    * artifact is never overwritten. Returns the file written. */
  def writeArtifact(dir: File, round: Int, json: String): File = {
    dir.mkdirs()
    val base = f"bench_r$round%02d"
    val f = (Iterator(s"$base.json") ++ Iterator.from(1).map(k => s"${base}_$k.json"))
      .map(new File(dir, _)).find(!_.exists).get
    Files.write(f.toPath, json.getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE_NEW)
    f
  }

  /** The session the bench and its diagnostics mains share:
    * `local[SPARK_GRAFT_CPUS]` (default 32), 32 shuffle partitions, AQE on,
    * a 64MB broadcast threshold, UTC, no UI, WARN logs. A plan or a timing
    * taken under any other conf would not be the bench's.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
