package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Bucketing, Dedup, Materialize, Similarity}
import graft.psql.Psql

/** The hand-run diagnostics main. It runs on the bench's session
  * ([[Bench.session]]: a plan or a timing taken under any other conf would
  * not be the bench's) at the scale in `SPARK_GRAFT_SF_DIR` (default
  * sf0.1), and has three commands:
  *
  *  - `time <name-substr…>`: times the declared rows whose names contain any
  *    substring with the bench's per-row protocol ([[Bench.timeRow]]: one
  *    warm run, then the median of SPARK_GRAFT_TIMED_RUNS, default 3,
  *    noop-sink runs); one JSON line per row;
  *  - `plan <outDir> <tag> <names-csv>`: writes each named row's
  *    `explain("formatted")` to `<outDir>/<name>_<tag>.txt`, so plan-shape
  *    claims are checkable without running Spark;
  *  - `growth <case…>`: runs the named [[growth]] cases, each after an
  *    untimed warm-up of its first scale or wave; one JSON line per
  *    measured row.
  *
  * Run: `sbt "runMain graft.Diag growth fts dml"`, with `SPARK_GRAFT_SF_DIR`
  * naming the testdata scale directory.
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    try {
      Tables.register(spark, sfDir)
      args.toList match {
        case "time" :: subs if subs.nonEmpty => time(spark, sfDir, subs).foreach(println)
        case List("plan", outDir, tag, namesCsv) =>
          plan(spark, sfDir, outDir, tag, namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .foreach(p => System.err.println(s"[diag] wrote $p"))
        case "growth" :: names if names.nonEmpty && names.forall(growth.contains) =>
          names.foreach { n =>
            val g = growth(n)
            g.rows(spark, sfDir).foreach(r => println(g.json(r)))
          }
        case _ => sys.error("usage: Diag time <name-substr...> | plan <outDir> <tag> <names-csv>" +
          s" | growth <case...> (cases: ${growth.keys.mkString(", ")})")
      }
    } finally spark.stop()
  }

  /** `time`: one JSON line per declared row whose name contains any of `subs`. */
  def time(spark: SparkSession, sfDir: String, subs: Seq[String]): Seq[String] = {
    val defs = SparkEntry.defs.filter(d => subs.exists(d.name.contains))
    require(defs.nonEmpty, s"Diag time: no declared row matches ${subs.mkString(", ")}")
    defs.map { d =>
      val r = Bench.timeRow(spark, sfDir, d, Bench.timedRuns)
      json(Seq("name" -> d.name, "median_s" -> r.median, "runs_s" -> r.times))
    }
  }

  /** `plan`: the formatted explain of each named declared row, one file each. */
  def plan(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      names: Seq[String]): Seq[java.nio.file.Path] = {
    new java.io.File(outDir).mkdirs()
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    names.map { n =>
      val d = byName.getOrElse(n, sys.error(s"unknown query: $n"))
      val text = d.fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** A growth case: the keys of its rows, in order, and the measurement,
    * which returns each measured row's values in key order; with `warm` set
    * it runs only its first scale or wave. */
  final case class Growth(keys: Seq[String],
      measure: (SparkSession, String, Boolean) => Seq[Seq[Any]]) {
    /** The measured rows, after one untimed warm-up run of the first scale
      * or wave, so the first row does not time cold code. */
    def rows(spark: SparkSession, sfDir: String): Seq[Seq[Any]] = {
      measure(spark, sfDir, true)
      measure(spark, sfDir, false)
    }

    def json(row: Seq[Any]): String = {
      require(row.length == keys.length, s"row $row does not match keys $keys")
      Diag.json(keys.zip(row))
    }
  }

  /** The growth cases, by name. Scale cases replicate one testdata table
    * 1×/4×/16× (`replicate`); wave cases grow a persisted index from half
    * the corpus through five ~10% appends. */
  val growth: ListMap[String, Growth] = ListMap(
    "fts" -> Growth(Seq("scale", "docs", "build_s", "probe_s", "hits"), fts),
    "ivf" -> Growth(Seq("wave", "index_vecs", "append_s", "probe_s", "topk_rows"), ivf),
    "dml" -> Growth(Seq("scale", "rows", "del_pruned_s", "del_full_s", "upd_pruned_s",
      "upd_full_s", "merge_full_s", "merge_pruned_s"), dml),
    "minhash_index" -> Growth(Seq("wave", "index_docs", "band_files", "probe_s",
      "delta_rows", "survivors", "compact_s"), minhashIndex),
    "fk" -> Growth(Seq("scale", "child_rows", "del_off_s", "del_on_s", "del_probe_s",
      "ins_off_s", "ins_on_s", "ins_probe_s"), fk),
    "constraints" -> Growth(Seq("scale", "target_rows", "plain_insert_s",
      "constrained_insert_s", "overhead_s"), constraints))

  private val scales = Seq(1, 4, 16)

  /** The scales or waves a case runs: only the first one when `warm`. */
  private def steps[A](all: Seq[A], warm: Boolean): Seq[A] = if (warm) all.take(1) else all

  /** The persisted FTS index: the build is one corpus pass (about linear),
    * and the `match_bm25` probe reads only the query terms' postings, so it
    * must grow far slower than a re-scan of the text column would. */
  private def fts(spark: SparkSession, sfDir: String, warm: Boolean): Seq[Seq[Any]] = {
    val psql = Psql(spark)
    val t = "graft_fts_growth"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    withScratch(spark, t) {
      val rows = steps(scales, warm).map { k =>
        // a real table: the probes must time parquet scans, not the
        // re-execution of the replication
        replicate(docs, "doc_id", k).write.mode("overwrite").format("parquet").saveAsTable(t)
        val n = spark.table(t).count()
        val buildS = timed(psql.sql(
          s"PRAGMA create_fts_index('$t', 'doc_id', 'text', overwrite := 1)"))._2
        def probe(): Long = psql.sql(
          s"from $t |> select doc_id, fts_main_$t.match_bm25(doc_id, 'merge window scan') as score " +
            "|> where score is not null |> order by score desc, doc_id |> limit 20").count()
        val hits = probe()
        Seq[Any](k, n, buildS, median3(probe()), hits)
      }
      psql.sql(s"PRAGMA drop_fts_index('$t')")
      rows
    }
  }

  /** The persisted IVF index (d36/d41): the probe reads only the probed
    * centroid directories, so it must stay flat while appends grow the
    * index; each append assigns and writes only its delta. */
  private def ivf(spark: SparkSession, sfDir: String, warm: Boolean): Seq[Seq[Any]] = {
    Tables.register(spark, sfDir)
    val t = "graft_ivf_growth"
    // the production trainer over the full corpus (the d21–d25 centroids),
    // trained once per sfDir, so neither the warm-up nor the measured run
    // pays for training
    val cents = OpsEntry.fixedCentroids(sfDir)
    import spark.implicits._
    val centDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cent")
    // the n nearest centroids of each selected vector, by cosine
    def nearest(pred: org.apache.spark.sql.Column, n: Int) = spark.table("embeddings")
      .where(pred)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(centDf))
      .withColumn("sim", Similarity.cosine(col("v"), col("cent")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid").asc)))
      .where(col("rn") <= n)
      .select(col("vec_id"), col("v"), col("cid"))
    val probes = Materialize(nearest(col("vec_id") < 10, 4)
      .select(col("vec_id").as("query_id"), col("cid"), col("v").as("qv")))
    def probe(): Long = spark.table(t).join(broadcast(probes), Seq("cid"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), Similarity.cosine(col("qv"), col("v")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)))
      .where(col("rank") <= 5).count()
    withScratch(spark, t) {
      // the base row's append_s is the build: assign + write half the corpus
      val buildS = timed(Bucketing.writePartitioned(spark,
        nearest(col("vec_id") % 10 >= 1 && col("vec_id") % 10 <= 5, 1), t, "cid"))._2
      val (n0, p0) = timed(probe())
      val base = Seq("base", spark.table(t).count(), buildS, p0, n0)
      base +: steps(Seq(6L, 7L, 8L, 9L, 0L), warm).zipWithIndex.map { case (m, i) =>
        val appendS = timed(Bucketing.appendPartitioned(spark,
          nearest(col("vec_id") % 10 === m, 1), t, "cid"))._2
        val (nk, probeS) = timed(probe())
        Seq(s"wave${i + 1}", spark.table(t).count(), appendS, probeS, nk)
      }
    }
  }

  /** Partition pruning in DML: the same DELETE and UPDATE against a table
    * partitioned by event_type (pruned dynamic overwrite: tracks the
    * affected partition) and an unpartitioned copy (whole-table shadow
    * swap), and MERGE against the unpartitioned copy (full copy-on-write)
    * and against the partitioned table with a source confined to one
    * partition (the partition-pruned MERGE). */
  private def dml(spark: SparkSession, sfDir: String, warm: Boolean): Seq[Seq[Any]] = {
    val psql = Psql(spark)
    val events = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "user_id", "value", "event_type")
    def sql(s: String): Double = timed(psql.sql(s))._2
    withScratch(spark, "graft_dgb_p", "graft_dgb_f", "graft_dgb_src", "graft_dgb_src_click") {
      steps(scales, warm).map { k =>
        val big = replicate(events, "event_id", k)
        val rows = big.count()
        Seq("graft_dgb_p" -> true, "graft_dgb_f" -> false).foreach { case (t, partitioned) =>
          drop(spark, t)
          val w = big.write.mode("overwrite").format("parquet")
          (if (partitioned) w.partitionBy("event_type") else w).saveAsTable(t)
        }
        val delPruned = sql("delete from graft_dgb_p where event_type = 'click' and value < 0.2")
        val delFull = sql("delete from graft_dgb_f where event_type = 'click' and value < 0.2")
        val updPruned = sql(
          "update graft_dgb_p set value = -value where event_type = 'purchase' and user_id % 5 = 0")
        val updFull = sql(
          "update graft_dgb_f set value = -value where event_type = 'purchase' and user_id % 5 = 0")
        def source(df: DataFrame, view: String): Unit = df.limit(20000)
          .select(col("event_id").as("mk"), col("value").as("mv"))
          .groupBy("mk").agg(max("mv").as("mv"))
          .createOrReplaceTempView(view)
        // a fixed-size source batch against the grown target
        source(events, "graft_dgb_src")
        val mergeFull = sql(
          """merge into graft_dgb_f t using graft_dgb_src s on t.event_id = s.mk
            |when matched then update set value = s.mv
            |when not matched and s.mk % 2 = 0 then
            |  insert (event_id, value) values (s.mk + 900000000, s.mv)""".stripMargin)
        // the source's matches live in ONE partition (keys drawn from click
        // rows) and the insert clause lands there too, so the dynamic
        // overwrite is confined to that directory
        source(big.where(col("event_type") === "click"), "graft_dgb_src_click")
        val mergePruned = sql(
          """merge into graft_dgb_p t using graft_dgb_src_click s on t.event_id = s.mk
            |when matched then update set value = s.mv
            |when not matched and s.mk % 2 = 0 then
            |  insert (event_id, value, event_type) values (s.mk + 900000000, s.mv, 'click')""".stripMargin)
        Seq[Any](k, rows, delPruned, delFull, updPruned, updFull, mergeFull, mergePruned)
      }
    }
  }

  /** The persisted incremental MinHash index (d34/d35/d40): each wave's
    * probe must track |delta| + matched rows, not the index size; appends
    * accumulate small files, which the last two rows time before and after
    * [[Dedup.compactMinhashIndex]]. */
  private def minhashIndex(spark: SparkSession, sfDir: String, warm: Boolean): Seq[Seq[Any]] = {
    val docs = Materialize(spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text"))
    val t = "graft_growth_idx"
    def bandFiles(): Int = {
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, s"${t}_bands")
      Option(loc.listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    }
    def probe(delta: DataFrame) = timed(
      Dedup.incrementalDedupMd5(spark, delta, "doc_id", "text", t).count())
    withScratch(spark, s"${t}_docs", s"${t}_bands") {
      Dedup.writeMinhashIndex(spark,
        docs.where(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 5), "doc_id", "text", t)
      val waves = steps(Seq(6L, 7L, 8L, 9L, 0L), warm).zipWithIndex.map { case (m, i) =>
        val delta = docs.where(col("doc_id") % 10 === m)
        val n = delta.count()
        val idxN = spark.table(s"${t}_docs").count()
        val (survivors, probeS) = probe(delta)
        val row = Seq(s"wave${i + 1}", idxN, bandFiles(), probeS, n, survivors, None)
        // admit the wave's survivors: the st15 grow-the-index loop, batch face
        Dedup.appendMinhashIndex(spark,
          Materialize(Dedup.incrementalDedupMd5(spark, delta, "doc_id", "text", t)),
          "doc_id", "text", t)
        row
      }
      if (warm) waves
      else {
        // the small-file cost: re-time the last wave's probe, compact, re-time
        val last = docs.where(col("doc_id") % 10 === 0L)
        val n = last.count()
        val idxN = spark.table(s"${t}_docs").count()
        val (s0, pre) = probe(last)
        val files0 = bandFiles()
        val compactS = timed(Dedup.compactMinhashIndex(spark, t))._2
        val (s1, post) = probe(last)
        waves ++ Seq(
          Seq("pre_compact", idxN, files0, pre, n, s0, None),
          Seq("compacted", idxN, bandFiles(), post, n, s1, compactS))
      }
    }
  }

  /** Opt-in FK checks as the CHILD grows: the parent-side DELETE probe
    * scans only the child's FK column (the child carries a wide payload to
    * show it), and the child-side INSERT check probes the PARENT's key
    * column, so it should stay flat. */
  private def fk(spark: SparkSession, sfDir: String, warm: Boolean): Seq[Seq[Any]] = {
    val psql = Psql(spark)
    val events = spark.read.parquet(s"$sfDir/events.parquet").select("event_id", "user_id", "value")
    def sql(s: String): Double = timed(psql.sql(s))._2
    def enforced(s: String): Double = {
      psql.sql("set graft_enforce_foreign_keys = true")
      try sql(s) finally psql.sql("reset graft_enforce_foreign_keys")
    }
    withScratch(spark, "graft_fob_par", "graft_fob_chi", "graft_fob_batch") {
      steps(scales, warm).map { k =>
        drop(spark, "graft_fob_par", "graft_fob_chi")
        psql.sql("create table graft_fob_par (k bigint primary key, seg varchar)")
        psql.sql("insert into graft_fob_par select range, cast(range % 97 as string) from range(50000)")
        psql.sql("create table graft_fob_chi (id bigint, " +
          "fk bigint references graft_fob_par (k), value double, pad varchar)")
        // built with enforcement OFF (native append); every fk lands below
        // 40000, so parent keys >= 45000 stay unreferenced for the DELETEs
        val big = replicate(events, "event_id", k)
          .select(col("event_id").as("id"), (col("user_id") % 40000).as("fk"), col("value"),
            lpad(col("event_id").cast("string"), 64, "x").as("pad"))
        big.write.mode("append").insertInto("graft_fob_chi")
        val n = spark.table("graft_fob_chi").count()
        // OFF and ON pay the same parent rewrite; ON adds the child probe
        val delOff = sql("delete from graft_fob_par where k = 45001")
        val delOn = enforced("delete from graft_fob_par where k = 45002")
        // a fixed valid 10k batch: ON adds the anti join against the parent
        big.limit(10000)
          .select((col("id") + lit(900000000L)).as("id"), col("fk"), col("value"), col("pad"))
          .createOrReplaceTempView("graft_fob_batch")
        val insOff = sql("insert into graft_fob_chi select * from graft_fob_batch")
        val insOn = enforced("insert into graft_fob_chi select * from graft_fob_batch")
        Seq[Any](k, n, delOff, delOn, delOn - delOff, insOff, insOn, insOn - insOff)
      }
    }
  }

  /** Constraint enforcement on plain INSERTs: the same batch appended to an
    * unconstrained table (Spark-native INSERT) and to a PRIMARY KEY + NOT
    * NULL + CHECK table as the target grows. The key probe reads only the
    * key column, so the overhead should grow with that column only. */
  private def constraints(spark: SparkSession, sfDir: String, warm: Boolean): Seq[Seq[Any]] = {
    val psql = Psql(spark)
    val events = spark.read.parquet(s"$sfDir/events.parquet").select("event_id", "user_id", "value")
    withScratch(spark, "graft_cob_plain", "graft_cob_cons", "graft_cob_batch") {
      steps(scales, warm).map { k =>
        val big = replicate(events, "event_id", k)
        drop(spark, "graft_cob_plain", "graft_cob_cons")
        big.write.mode("overwrite").format("parquet").saveAsTable("graft_cob_plain")
        psql.sql("create table graft_cob_cons (event_id bigint primary key, " +
          "user_id bigint not null, value double, check (user_id >= 0))")
        psql.sql("insert into graft_cob_cons select * from graft_cob_plain")
        val n = spark.table("graft_cob_cons").count()
        // the measured statement: a fixed 10k-row fresh-key batch
        big.limit(10000)
          .select((col("event_id") + lit(900000000L)).as("event_id"), col("user_id"), col("value"))
          .createOrReplaceTempView("graft_cob_batch")
        val plainS = timed(psql.sql("insert into graft_cob_plain select * from graft_cob_batch"))._2
        val consS = timed(psql.sql("insert into graft_cob_cons select * from graft_cob_batch"))._2
        Seq[Any](k, n, plainS, consS, consS - plainS)
      }
    }
  }

  /** `df` grown k×: every row repeated k times, `idCol` kept unique as
    * `id * k + rep`. */
  private def replicate(df: DataFrame, idCol: String, k: Int): DataFrame =
    df.crossJoin(df.sparkSession.range(k).select(col("id").as("__rep")))
      .select(df.columns.toSeq.map(c =>
        if (c == idCol) (col(c) * k + col("__rep")).as(c) else col(c)): _*)

  /** Drops each name as a temp view, a table and its copy-on-write shadow. */
  private def drop(spark: SparkSession, names: String*): Unit = names.foreach { t =>
    spark.catalog.dropTempView(t)
    Seq(t, s"${t}__graft_cow").foreach(Bucketing.dropTableAndLocation(spark, _))
  }

  /** `body` with the named scratch tables dropped before and after. */
  private def withScratch[A](spark: SparkSession, names: String*)(body: => A): A = {
    drop(spark, names: _*)
    try body finally drop(spark, names: _*)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median3(f: => Any): Double = Seq.fill(3)(timed(f)._2).sorted.apply(1)

  /** One JSON object; seconds are rounded to the millisecond, `None` is null. */
  private def json(fields: Seq[(String, Any)]): String = {
    def value(v: Any): String = v match {
      case None => "null"
      case d: Double => BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      case n @ (_: Int | _: Long) => n.toString
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case s => "\"" + s.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    fields.map { case (k, v) => s"\"$k\":${value(v)}" }.mkString("{", ",", "}")
  }
}
