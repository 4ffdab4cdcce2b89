package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plans Catalyst produces for our operators
  * must be the ones that survive a 100 TB scale-up — filters pushed into the
  * parquet scan, columns pruned at the reader, dimension joins broadcast,
  * sort+limit as top-k, aggregates with map-side partial combine, and the
  * custom vector expressions inside whole-stage codegen. A correctness-green
  * operator with the wrong plan fails here.
  */
class PlanQualitySpec extends SparkSpec {

  private lazy val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.register(spark, sf)
  }

  test("filter + narrow projection reaches the parquet scan (pushdown + pruning)") {
    val df = spark.table("lineitem")
      .where(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"), p)
    // reader schema carries only the two referenced columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("fact-to-dimension join broadcasts the small side") {
    val df = spark.table("lineitem")
      .join(spark.table("supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey").agg(sum("l_quantity"))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("order by + limit compiles to top-k, not a global sort") {
    val df = spark.table("orders").orderBy(col("o_totalprice").desc).limit(10)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("+- Sort "), p)
  }

  test("groupBy aggregation has map-side partial combine") {
    val df = spark.table("lineitem").groupBy("l_returnflag").agg(sum("l_quantity"))
    val p = plan(df)
    // two HashAggregate nodes (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange hashpartitioning(l_returnflag"), p)
  }

  test("psql pipeline stages collapse — no stacked projections, filter pushed down") {
    val df = graft.psql.Psql(spark).sql(
      "from lineitem |> where l_quantity > 40 |> select l_orderkey, l_quantity |> limit 5")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40"), p)
    // the nested-FROM tower must flatten to scan->filter->project->limit:
    // exactly one Project above the scan, no Exchange at all
    assert(!p.contains("Exchange"), p)
  }

  test("native cosine expression runs inside whole-stage codegen") {
    val emb = spark.table("embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val df = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(operators.Similarity.cosine(col("a.v"), col("b.v")).as("sim"))
    // run it so AQE finalizes the plan and codegen stages are visible
    // (collect drives this DataFrame's own QueryExecution)
    df.collect()
    val p = plan(df)
    // the projection evaluating cosine must sit inside a codegen span (no
    // interpreted-eval fallback on the hot path)
    // '*(n)' marks operators fused into whole-stage-codegen stage n
    assert("""\*\(\d+\) Project \[cosine_similarity""".r.findFirstIn(p).isDefined,
      s"cosine projection not codegen'd:\n$p")
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    import org.apache.spark.sql.SaveMode
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a fresh metastore won't know about last JVM's managed locations
    for (t <- Seq("b_orders", "b_lineitem")) {
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    spark.table("orders").select("o_orderkey", "o_totalprice")
      .write.mode(SaveMode.Overwrite).bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    spark.table("lineitem").select("l_orderkey", "l_quantity")
      .write.mode(SaveMode.Overwrite).bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders").hint("merge"), col("l_orderkey") === col("o_orderkey"))
    val p = plan(joined)
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join still shuffles:\n" + p)
  }

  test("shingle sets and minhash signatures compute map-side — zero Exchange") {
    // wellSplit: the at-scale input shape — the r17 conditional input
    // spread no-ops on a corpus that already arrives in ≥ cores splits,
    // so the zero-Exchange pin measures the operator, not the testdata's
    // single-row-group file layout
    val docs = wellSplit(spark.table("documents"))
    // per-doc shingle sets: array_distinct over the codegen'd shingle array,
    // straight off the scan — the round-1 explode+window+collect_set pipeline
    // shuffled the whole token stream
    val sets = operators.Dedup.hashedShingleSets(docs, "doc_id", "text", 3)
    assert(!plan(sets).contains("Exchange"), "shingle sets shuffle:\n" + plan(sets))
    // full 64-wide MinHash signature is a per-row expression
    val (a, b) = {
      val rnd = new scala.util.Random(42)
      (Array.fill(64)(math.abs(rnd.nextLong()) % (2147483646L) + 1),
        Array.fill(64)(math.abs(rnd.nextLong()) % 2147483647L))
    }
    val sig = docs.select(
      functions.ShingleFunctions.minhashSignature(
        functions.ShingleFunctions.shingleHashes(col("text"), 3), a, b).as("sig"))
      .where(col("sig").isNotNull)
    val p = plan(sig)
    assert(!p.contains("Exchange"), "minhash signature shuffles:\n" + p)
    assert(p.contains("*("), "not inside whole-stage codegen:\n" + p)
    // simhash fingerprints likewise compute per row off the scan
    val sh = operators.Dedup.simhash(docs, "doc_id", "text")
    assert(!plan(sh).contains("Exchange"), "simhash shuffles:\n" + plan(sh))
  }

  test("embedding near-dup LSH: no shuffle carries vector columns") {
    // the candidate join and pair dedup must shuffle narrow (id, table,
    // bucket) / (id_a, id_b) rows; vectors move only through the verify
    // joins (broadcast here). AQE hides the plan tree behind a leaf node,
    // so pin with it off.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val emb = spark.table("embeddings")
      val df = operators.Dedup.embeddingNearDupPairsLsh(
        emb, "vec_id", "embedding", 0.4, nPlanes = 8, nTables = 40, dim = Some(64))
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.types.ArrayType
      val shuffles = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, "expected at least the candidate-join shuffle")
      shuffles.foreach { e =>
        val wide = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(wide.isEmpty,
          s"shuffle carries vector columns ${wide.map(_.name).mkString(", ")}:\n$e")
      }
    }
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx_percentile: mergeable-sketch plan (partial agg) with bounded error vs exact") {
    val approx = spark.table("lineitem").groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50"),
        expr("approx_percentile(l_extendedprice, 0.25, 10000)").as("p25"))
    val p = plan(approx)
    // the sketch aggregates map-side (partial) before the exchange and merges
    // after — the property that makes it survive low-cardinality groups at
    // 100 TB, where q37's exact percentile buffers every value per group
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert("(?i)partial".r.findFirstIn(p).isDefined, p)
    val exact = spark.table("lineitem").groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("e50"),
        expr("percentile(l_extendedprice, 0.25)").as("e25"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    approx.collect().foreach { r =>
      val (e50, e25) = exact(r.getString(0))
      // approx returns a dataset element at rank within n/accuracy of the
      // target; exact interpolates between elements — allow one quantity
      // step and 1% relative on the continuous price column
      assert(math.abs(r.getDouble(1) - e50) <= 1.0, s"${r.getString(0)}: p50 ${r.getDouble(1)} vs $e50")
      assert(math.abs(r.getDouble(2) - e25) <= 0.01 * e25, s"${r.getString(0)}: p25 ${r.getDouble(2)} vs $e25")
    }
  }

  test("approx_count_distinct: mergeable HLL sketch plan (partial+merge) with bounded error vs exact") {
    val approx = spark.table("lineitem").groupBy("l_returnflag")
      .agg(expr("approx_count_distinct(l_partkey)").as("a_parts"),
        expr("approx_count_distinct(l_suppkey)").as("a_supps"))
    val p = plan(approx)
    // HLL++ is a fixed-size sketch that aggregates map-side and MERGES after
    // the exchange — the 100 TB distinct-count shape; exact count(distinct)
    // instead expands every distinct key through the shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_approx_count_distinct"), p)
    val exact = spark.table("lineitem").groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("e_parts"), countDistinct("l_suppkey").as("e_supps"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // default relativeSD = 0.05; 3 sigma ≈ 15%, and at these cardinalities
    // HLL++ uses its near-exact small-range path — 10% is a loose ceiling
    approx.collect().foreach { r =>
      val (ep, es) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - ep) <= math.max(1L, (0.1 * ep).toLong),
        s"${r.getString(0)}: parts ${r.getLong(1)} vs exact $ep")
      assert(math.abs(r.getLong(2) - es) <= math.max(1L, (0.1 * es).toLong),
        s"${r.getString(0)}: supps ${r.getLong(2)} vs exact $es")
    }
  }

  test("q37 gate plan carries no unbounded percentile buffer; dialect form cross-checks exactly") {
    // Since r9 the q37 gate row runs the scale-safe distributed selection.
    // Pin that its physical plan contains NO `percentile` aggregate — Spark's
    // Percentile is a TypedImperativeAggregate whose final buffer holds every
    // group value on one executor, the one plan shape that cannot survive
    // low-cardinality groups at 100 TB.
    val q37 = SparkEntry.defs.find(_.name == "q37_percentiles").get
    val gate = q37.fn(spark, sf)
    val p = plan(gate)
    assert(!p.toLowerCase.contains("percentile"), p)
    // the retired dialect plan (percentile(...) as a pipe stage) stays as a
    // spec-only cross-check: identical answers, row for row
    val dialect = graft.psql.Psql(spark).sql(
      """from lineitem |>
        |select l_returnflag,
        |  cast(percentile(l_quantity, 0.5) as double) as p50,
        |  cast(percentile(l_quantity, 0.95) as double) as p95,
        |  cast(percentile(l_extendedprice, 0.25) as double) as p25_price
        |  group by l_returnflag |>
        |order by l_returnflag""".stripMargin)
    // compare at the driver's 9-significant-digit canon: the two exact
    // formulas (vlo + (vhi-vlo)·frac vs Spark's (hi-pos)·lo + (pos-lo)·hi)
    // can differ in the last ulp on non-dyadic fractions
    def canon(s: Seq[Any]): Seq[Any] = s.map {
      case d: Double => BigDecimal(d).round(new java.math.MathContext(9)).doubleValue
      case x => x
    }
    val a = gate.collect().map(r => canon(r.toSeq))
    val b = dialect.collect().map(r => canon(r.toSeq))
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("c10 DSIR: codegen'd weight kernel, top-N without a global sort shuffle") {
    val df = SparkEntry.defs.find(_.name == "c10_dsir_select").get.fn(spark, sf)
    val p = plan(df)
    // selection is per-partition top-N + bounded merge, not a range sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
    // the weight is the DsirWeightExpr kernel inside whole-stage codegen,
    // not an interpreted HOF chain
    assert(p.contains("dsir_weight"), p)
    assert(!p.contains("aggregate(transform"), p)
    // the scoring Project sits inside a WholeStageCodegen stage (the `*(n)`
    // marker in executedPlan.toString)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("dsir_weight")), p)
  }

  test("t12 CCNet buckets: cutoffs broadcast, no percentile buffer, LM kernel codegen'd") {
    val df = SparkEntry.defs.find(_.name == "t12_ccnet_buckets").get.fn(spark, sf)
    val p = plan(df)
    // tercile cutoffs come from the distributed selection, never Spark's
    // unbounded-buffer Percentile aggregate
    assert(!p.toLowerCase.contains("percentile"), p)
    // the 1-row cutoff frame joins broadcast (nested-loop on a 1-row build
    // side — bounded), not via a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // scoring is the codegen'd lm_nll kernel, not an interpreted map literal
    assert(p.contains("lm_nll"), p)
    assert(!p.contains("map_from_arrays") && !p.contains("keys:"), p)
  }

  test("exact percentile operator: the range sort shuffles the data exactly once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // exactByGroup's indexed frame feeds three consumers through an RDD
    // boundary (df.rdd → zipWithIndex); correctness of the cost model relies
    // on the DAGScheduler reusing the sort's shuffle map output across those
    // jobs (same RDD ⇒ same ShuffleDependency ⇒ skipped stages). Pin it by
    // counting shuffle RECORDS WRITTEN across the whole action: every input
    // row must cross a shuffle exactly once (the range sort); a re-planned
    // or re-built RDD would write the data again and trip the 1.5× bound.
    val n = spark.table("lineitem").count()
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      operators.Percentiles.exactByGroup(spark.table("lineitem"), "l_returnflag", "l_quantity",
        Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)).collect()
      // the listener bus is async — wait until the counter stabilizes
      var last = -1L
      var stable = 0
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        val cur = written.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val w = written.get()
    assert(w >= n, s"sort shuffle should write every row once: wrote $w of $n")
    assert(w < 1.5 * n,
      s"data crossed a shuffle more than once (wrote $w records for $n input rows) — " +
        "exactByGroup's single-sort + stage-reuse contract is broken")
  }

  test("selectUnderBudget pre-prune: the per-group sort sees fewer rows, via broadcast-only plumbing") {
    val docs = spark.table("documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    val full = docs.count()
    // the c09 operating point: slack 3 × 1000 tokens ≪ per-lang mass
    val input = operators.TrainingPipeline.budgetWindowInput(
      docs, "lang", col("n_tokens"), col("n_chars"), 1000L, 3.0)
    val n = input.count()
    assert(n < full, s"pre-prune did not shrink the window input: $n of $full rows")
    // cutoff filter and fallback routing reach the window through broadcast
    // joins on the tiny stats frames — no extra shuffle beyond the window's
    // own partition exchange, never a nested loop
    val p = plan(operators.TrainingPipeline.selectUnderBudget(
      docs, "lang", "doc_id", col("n_tokens"), col("n_chars"), 1000L,
      prePrune = true, pruneSlack = 3.0))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cross-corpus dedup: bipartite inverted-index join is shuffle-hash, never a cross product") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val docs = spark.table("documents")
      val df = operators.Dedup.crossDedup(
        docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, threshold = 0.5)
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
      // the shingle-hash equi-join builds a hash map (narrow rows, small
      // per-shingle groups) rather than sorting both exploded streams
      assert(p.contains("ShuffledHashJoin"), p)
    }
  }

  test("p03 curate: final plan reads the checkpointed stage only; pair joins shuffle-hash") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // contract 1 (the expensive regression): the survivor anti-join must
      // consume the ONE materialized curate stage — its plan holds exactly
      // the two ExistingRDD scans (checkpointed exact + the closure's loser
      // frame). Dropping the checkpoint would put the parquet scan, the
      // md5 exact-dedup window and the annotate expressions back into this
      // plan and silently re-pay the pipeline per consumer.
      val df = operators.TrainingPipeline.curate(spark.table("documents"),
        minQuality = 0.2, jaccardThreshold = 0.8, clusterDedup = true,
        substringDedup = true, winnowK = 3, winnowW = 4, minSharedFp = 2L)
      val p = plan(df)
      assert("Scan ExistingRDD".r.findAllIn(p).size == 2,
        "expected exactly the checkpointed stage + loser frame:\n" + p)
      assert(!p.contains("FileScan"), "curate stage re-derived from the source scan:\n" + p)
      assert(!p.contains("md5") && !p.contains("row_number") &&
        "\\bWindow\\b".r.findFirstIn(p).isEmpty,
        "exact-dedup window re-derived past the checkpoint:\n" + p)
      // contract 2: the pair graph built on that stage keeps its candidate
      // joins shuffle-hash on narrow rows (winnowing fingerprint self-join
      // + minhash banded join) — never a cross product
      val base = spark.table("documents").select(col("doc_id"), col("text"))
      val pairs = operators.TrainingPipeline.curatePairs(
        base, "doc_id", "text", 0.8, true, 3, 4, 2L)
      val pp = plan(pairs)
      assert(pp.contains("ShuffledHashJoin"), pp)
      assert(!pp.contains("CartesianProduct") && !pp.contains("NestedLoop"), pp)
      // contract 3: no union-level distinct — both generators end in a
      // groupBy (distinct-by-construction) and every consumer dedups (the
      // closure's symmetrized edge set, the non-cluster loser path), so an
      // aggregate above the union would re-shuffle the whole edge stream
      // for nothing (1.9 s of p03 at sf0.1; one full pair-graph exchange
      // at 100 TB)
      assert(!pairs.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Aggregate],
        "union-level distinct reappeared above curatePairs:\n" +
          pairs.queryExecution.optimizedPlan.toString)
    }
  }

  test("curate Warehouse materialization: consumers read the warehouse scan; survivors identical") {
    import operators.TrainingPipeline
    val whPath = java.nio.file.Files.createTempDirectory("curate_wh").toString + "/stage"
    try {
      val wh = TrainingPipeline.curate(spark.table("documents"),
        minQuality = 0.2, jaccardThreshold = 0.8, clusterDedup = true,
        substringDedup = true, winnowK = 3, winnowW = 4, minSharedFp = 2L,
        materialize = operators.Materialize.Warehouse(whPath))
      // plan pin: the final plan's scans are the WAREHOUSE parquet (plus the
      // closure's checkpointed loser frame) — no documents re-scan, no
      // re-derived annotate/dedup window past the materialization
      val p = plan(wh)
      assert(p.contains("FileScan parquet") && p.contains("curate_wh"),
        "survivor plan does not read the warehouse stage:\n" + p)
      assert(!p.contains("documents.parquet"),
        "curate stage re-derived from the source scan:\n" + p)
      assert(!p.contains("md5") && "\\bWindow\\b".r.findFirstIn(p).isEmpty,
        "exact-dedup window re-derived past the warehouse write:\n" + p)
      // parity: identical survivors to the default checkpoint mode
      val ck = TrainingPipeline.curate(spark.table("documents"),
        minQuality = 0.2, jaccardThreshold = 0.8, clusterDedup = true,
        substringDedup = true, winnowK = 3, winnowW = 4, minSharedFp = 2L)
      val a = wh.select("doc_id").collect().map(_.getLong(0)).toSet
      val b = ck.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(a == b, s"warehouse vs checkpoint survivor mismatch: ${(a diff b) ++ (b diff a)}")
      assert(a.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(whPath).getParentFile)
    }
  }

  test("winnowing pairs: inverted-index join is shuffle-hash, never a cross product") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = operators.Dedup.winnowingPairs(
        spark.table("documents"), "doc_id", "text", k = 3, w = 4, minShared = 2L)
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
      // same rationale as d04/d12: narrow (id, fp) rows, small per-
      // fingerprint groups — hash build beats sorting both exploded streams
      assert(p.contains("ShuffledHashJoin"), p)
    }
  }

  test("asof SQL stage produces the union+window plan (no nested loop)") {
    spark.table("events").where(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
      .withColumnRenamed("ts", "pts")
      .createOrReplaceTempView("pq_purchases_v")
    val df = graft.psql.Psql(spark).sql(
      "from events |> select event_id, user_id, ts |> " +
        "as e asof join pq_purchases_v as p on e.user_id = p.user_id and e.ts >= p.pts")
    val p = plan(df)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("asof join plans a single shuffle per side (union strategy, no nested loop)") {
    Tables.register(spark, sf)
    val events = spark.table("events")
    val purchases = events.where(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    val df = operators.AsofJoin.backward(
      events.select("event_id", "user_id", "ts"), purchases,
      Seq("user_id"), "ts", "ts", Seq("value"), "inner")
    val p = plan(df)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("t13 quality classifier: codegen'd kernel scoring, no shuffle anywhere") {
    val df = SparkEntry.defs.find(_.name == "t13_quality_classifier").get.fn(spark, sf)
    df.collect() // finalize the AQE plan so codegen markers are visible
    val p = plan(df)
    // map-side logit via the DsirWeightExpr kernel inside whole-stage codegen
    assert(p.contains("dsir_weight"), p)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("dsir_weight")), p)
    // scoring itself REQUIRES no shuffle: any hash exchange present must be
    // the deliberate r17 input spread (REPARTITION origin — fires only on
    // under-split scans like the single-row-group testdata), never one the
    // plan needs for correctness (ENSURE_REQUIREMENTS)
    val required = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(!required, p)
  }

  test("c11 mixture: totals broadcast back, copy explode map-side after one aggregation") {
    val df = SparkEntry.defs.find(_.name == "c11_mixture_epochs").get.fn(spark, sf)
    val p = plan(df)
    // the per-source totals frame joins broadcast, never sort-merge
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one aggregation (the token totals); copies explode map-side
    assert(p.contains("Generate explode"), p)
    assert(p.contains("Exchange hashpartitioning(source"), p)
  }

  test("d27 line dedup: no cartesian anywhere; dup removal is an equi anti-join") {
    val df = SparkEntry.defs.find(_.name == "d27_line_dedup").get.fn(spark, sf)
    val p = plan(df)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("r04 MaxSim: one map-side projection — no explode, no join, top-k merge") {
    val df = SparkEntry.defs.find(_.name == "r04_maxsim_topk").get.fn(spark, sf)
    val p = plan(df)
    // chunking + hashing + per-token maxes all fold inside the row — the
    // corpus is scanned once, nothing explodes, nothing joins
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
    // scoring is the MaxSimScoreExpr kernel (codegen'd via doGenCode, the
    // DsirWeightExpr pattern), not the interpreted HOF chunk-embedding
    // chain (29x); this plan renders pre-AQE so the *(n) codegen markers
    // are absent — kernel presence in the projection is the contract
    assert(p.contains("maxsim_score"), p)
  }

  test("d29 exact-substr dedup: span ownership is one aggregation, no cartesian anywhere") {
    val df = SparkEntry.defs.find(_.name == "d29_exact_substr_dedup").get.fn(spark, sf)
    val p = plan(df)
    // a viral span must cost its occurrence count, never its square: the
    // duplicated-span relation comes from aggregation (min-id owner +
    // distinct-doc count), and every join in the plan is an equi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // countDistinct(doc_id) + min(owner) compile to the two-phase expand
    // aggregation; partial combine present
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("b01 bucketed join: co-located layout joins with ZERO exchanges on either side") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1") // force the non-broadcast path the pin is about
    try {
      val df = SparkEntry.defs.find(_.name == "b01_bucketed_join").get.fn(spark, sf)
      val p = plan(df)
      // the join itself reads both bucketed scans in place: the ONLY
      // exchange in the whole plan is the post-join groupBy on orderstatus
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"want only the aggregation exchange, got $exchanges in\n$p")
      assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(l_orderkey")), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("Bucketed: true"), p)
    } finally spark.conf.set(key, prev)
  }

  test("a09 nearest asof: ONE hash exchange feeds both direction windows — no range join, no extra shuffle") {
    val df = SparkEntry.defs.find(_.name == "a09_asof_nearest").get.fn(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // both direction scans are Window operators over the same key partitioning:
    // exactly one hashpartitioning exchange on the asof key ALONE feeds them
    // (the (user_id, ts) exchange is the right side's groupBy prep)
    val keyExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id") && !l.contains("ts#"))
    assert(keyExchanges == 1, s"want 1 key-only exchange, got $keyExchanges in\n$p")
    assert("Window".r.findAllIn(p).size >= 2, p)
  }

  test("d30 containment: same inverted-index equi-join as d04, directions derived map-side") {
    val df = SparkEntry.defs.find(_.name == "d30_containment_pairs").get.fn(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    // both directions come from ONE intersection count: a single Generate
    // (the direction explode) after the pair aggregate, not a second join
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("g02 triangles: degree-oriented wedge join — equi-joins only, partial-combine counts") {
    val df = SparkEntry.defs.find(_.name == "g02_triangle_count").get.fn(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // per-node counts aggregate with map-side partial combine
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("g01 PageRank: iteration joins never go cartesian; partial-combine aggregation; top-k merge") {
    val df = SparkEntry.defs.find(_.name == "g01_pagerank").get.fn(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // contribution sum has map-side partial combine (partial + final)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // edges/outdeg re-read from their pinned checkpoint, not re-derived scans
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("a08 asof tolerance: same single-shuffle union+window plan, tolerance as map-side filter") {
    import spark.implicits._
    val l = Seq((1L, "u1", 10L), (2L, "u1", 20L)).toDF("id", "k", "t")
    val r = Seq(("u1", 10L, "a")).toDF("k", "rt", "v")
    val df = graft.operators.AsofJoin.backwardWithin(
      l, r, Seq("k"), "t", "rt", Seq("v"), tolerance = lit(5L))
    val p = plan(df)
    // exactly one exchange: the union's hash partition on the key — the
    // tolerance adds a Filter on the carried __mt, never another shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("__mt"), p)
  }

  test("t14 C4 cleaning: pure map-side pass — no shuffle, no explode before the sort") {
    val df = spark.table("documents").select(
      (col("doc_id") +: graft.functions.TextFunctions.c4Clean(col("text"))
        .map { case (n, c) => c.as(n) }): _*)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
  }

  test("r01 BM25: map-side scoring (no explode), broadcast stats, top-k merge") {
    val df = SparkEntry.defs.find(_.name == "r01_bm25_topk").get.fn(spark, sf)
    val p = plan(df)
    // no per-token explode anywhere — scoring folds over the doc's own array
    assert(!p.contains("Generate"), p)
    // the 1-row corpus-stats frame rides in as a broadcast, not a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // selection is per-partition top-N + bounded merge, not a range sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("a21 robust outliers: both stats frames broadcast back — the fact scan never shuffles") {
    val df = SparkEntry.defs.find(_.name == "a21_robust_outliers").get.fn(spark, sf)
    val p = plan(df)
    // median and MAD ride back as broadcast joins on the group key
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only exchanges feed the two GROUP-COUNT-sized aggregates (and the
    // final presentation sort) — never a repartition of the event frame for
    // the join itself
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("a22 M4 downsample: ONE exchange, map-side partial combine, no window") {
    val df = graft.operators.TimeSeries.m4Downsample(
      spark.table("events").where(col("value").isNotNull),
      "ts", "event_type", "value", "event_id", bucket = "hour")
    val p = plan(df)
    // single exchange on the (group, bucket) grouping key — the partial
    // phase combines to bucket-count rows BEFORE it
    assert(p.linesIterator.count(_.contains("Exchange")) == 1, p)
    assert(p.contains("partial_min_by"), p)
    // no window operator and no join — one straight aggregate over the scan
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the documented trade: struct-ordered min_by forces a SortAggregate
    // (per-partition sort by grouping key), never a second shuffle — if
    // this ever flips to HashAggregate, even better; both pass
    assert(p.contains("SortAggregate") || p.contains("HashAggregate"), p)
  }

  test("b02 partitioned scan: month predicate prunes directories at planning time") {
    val df = SparkEntry.defs.find(_.name == "b02_partition_pruned_scan").get.fn(spark, sf)
    val p = plan(df)
    // the month range is a PARTITION filter on the scan (directory pruning),
    // never a post-scan row filter
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("o_month"), s"no partition filter on o_month in\n$p")
    assert(scanLine.contains(">= 1995-03") || scanLine.contains("1995-03"), scanLine)
    // pruning really happened: the scan node reports fewer files than the
    // table's 80 month directories
    // sparkPlan, not executedPlan: AQE wraps the tree and hides the scan
    // node from collectLeaves until execution
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val selected = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    assert(selected.length == 3, s"want 3 month partitions selected, got ${selected.length}")
  }

  test("d36 IVF index: probe join dynamically prunes the partitioned index scan") {
    val df = SparkEntry.defs.find(_.name == "d36_ivf_index").get.fn(spark, sf)
    val p = plan(df)
    // the broadcast probe side seeds a RUNTIME partition filter on the
    // hive-partitioned index scan (dynamic partition pruning): the query
    // path reads the probed cid directories, not the whole corpus
    val scanLine = p.linesIterator.find(l =>
      l.contains("graft_ivf_idx") && l.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("dynamicpruning"),
      s"no dynamic pruning on the index scan:\n${scanLine}\n$p")
    // and the probe side broadcasts (no shuffle of the index on cid)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d18 semDedup: the codebook kernel runs above the spread, never below it") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import graft.functions.TopCentroidsExpr
    // the one-file corpus is under-split, so the operator spreads it
    val df = graft.operators.Dedup.semDedup(
      spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding", eps = 0.95, nCentroids = 4)
    val p = df.queryExecution.optimizedPlan
    def hasKernel(n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      n.expressions.exists(_.exists(_.isInstanceOf[TopCentroidsExpr]))
    val spreads = p.collect { case r: RepartitionByExpression => r }
    assert(spreads.nonEmpty && p.exists(hasKernel), p.toString)
    // a filter on cid below the spread would run the kernel once more over
    // the whole corpus in the single scan task (and again in the scan's
    // pushed DataFilters)
    spreads.foreach(r => assert(!r.child.exists(hasKernel), p.toString))
  }

  test("d41 index append: base files are untouched — increment writes only delta files") {
    import org.apache.spark.sql.functions.col
    val assigned = spark.table("embeddings")
      .select(col("vec_id"), (col("vec_id") % 16).cast("int").as("cid"))
    operators.Bucketing.writePartitioned(spark,
      assigned.where(col("vec_id") % 10 =!= 0), "graft_test_idx_grow", "cid")
    def dataFiles(): Map[String, Long] = {
      val root = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
        "graft_test_idx_grow")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = dataFiles()
    operators.Bucketing.appendPartitioned(spark,
      assigned.where(col("vec_id") % 10 === 0), "graft_test_idx_grow", "cid")
    val after = dataFiles()
    // every base file survives byte-for-byte (same path, same mtime) —
    // the increment never rewrites or re-reads the base layout
    assert(before.forall { case (p, m) => after.get(p).contains(m) },
      "append rewrote base files")
    assert(after.size > before.size, "append produced no new files")
    // and the grown table holds exactly base ∪ delta
    assert(spark.table("graft_test_idx_grow").count() == assigned.count())
  }

  test("b04 compaction: fragmented partition dirs collapse to one file each, content identical") {
    val frag = spark.table("events").repartition(16)
    operators.Bucketing.writePartitioned(spark, frag, "graft_test_frag", "event_type")
    operators.Bucketing.compactPartitioned(
      spark, "graft_test_frag", "graft_test_compact", "event_type")
    def filesPerPartition(table: String): Map[String, Int] = {
      val root = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("event_type="))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    }
    val before = filesPerPartition("graft_test_frag")
    val after = filesPerPartition("graft_test_compact")
    assert(before.nonEmpty && before.keySet == after.keySet)
    assert(before.values.forall(_ > 1), s"fixture not fragmented: $before")
    assert(after.values.forall(_ == 1), s"compaction left multiple files: $after")
    // content exactly preserved
    val a = spark.table("graft_test_frag").orderBy("event_id").collect().toSeq
    val b = spark.table("graft_test_compact")
      .select(spark.table("graft_test_frag").columns.map(col): _*)
      .orderBy("event_id").collect().toSeq
    assert(a == b)
  }

  test("b06 upsert: replace-by-key semantics; update key set broadcasts, target never shuffles") {
    operators.Bucketing.dropTableAndLocation(spark, "graft_test_ups_base")
    spark.table("events").where(col("event_id") % 5 === 0)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable("graft_test_ups_base")
    val upd = spark.table("events").where(col("event_id") % 15 === 0)
      .withColumn("value", col("value") + 1000.0)
    val fresh = spark.table("events").where(col("event_id") === 3)
      .withColumn("event_id", lit(999999999L))
    val out = operators.Bucketing.upsert(spark, "graft_test_ups_base",
      upd.unionByName(fresh), Seq("event_id"), "graft_test_ups_out")
    val base = spark.table("graft_test_ups_base")
    // replaced rows carry the bumped value; untouched rows survive; new row appended
    assert(out.where(col("event_id") % 15 === 0 && col("event_id") < 999999999L)
      .where(col("value") < 1000.0).count() == 0)
    assert(out.count() == base.count() + 1)
    assert(out.where(col("event_id") === 999999999L).count() == 1)
    // plan shape: anti-join broadcasts the (small) update key set
    val anti = base.join(upd.unionByName(fresh).select("event_id").distinct(),
      Seq("event_id"), "left_anti")
    anti.collect()
    val p = anti.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(600))
    // self-target upsert must FAIL LOUDLY: the dest is dropped before the
    // lazy source-reading plan runs, so dest==src would delete the source
    val e = intercept[IllegalArgumentException] {
      operators.Bucketing.upsert(spark, "graft_test_ups_base",
        upd, Seq("event_id"), "GRAFT_TEST_UPS_BASE")
    }
    assert(e.getMessage.contains("destTable must differ"), e.getMessage)
    assert(spark.table("graft_test_ups_base").count() == base.count())
  }

  test("a11 interpolate: prev/next neighbor windows share ONE sort; observed frame broadcasts") {
    val df = graft.operators.TimeSeries.interpolateLinear(
      spark.table("events"), "ts", "event_type", "value", bucketSeconds = 3600L)
    val p = plan(df)
    // all ignore-nulls window passes ride one (g)-partitioned sort — no
    // re-sort or self-join probe per direction
    assert("\\bSort\\b".r.findAllIn(p).size == 1, p)
    assert("Window".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the (g,b) observed aggregate is output-sized → broadcast to the spine
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d25 PQ linear scan: 10-row query side broadcasts — never a shuffled cartesian") {
    val df = SparkEntry.defs.find(_.name == "d25_pq_adc_parity").get.fn(spark, sf)
    val p = plan(df)
    // both cross joins (codebook assignment + query×corpus linear scan)
    // ride broadcast nested-loop; a shuffled CartesianProduct would mean
    // AQE un-pinned the 10-row side
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("EXECUTE binds literals that reach the parquet scan as pushed filters") {
    val psql = graft.psql.Psql(spark)
    psql.sql("""PREPARE graft_plan_prep AS from lineitem |>
      |where l_orderkey <= $1 |> select l_orderkey, l_quantity""".stripMargin)
    val df = psql.sql("EXECUTE graft_plan_prep(123)")
    val p = plan(df)
    // bind-time inlining (not a plan-cache parameter) means the literal is
    // visible to pushdown/pruning — the property a parameterized 100 TB
    // scan lives on
    assert(p.contains("LessThanOrEqual(l_orderkey,123)"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"), readSchema)
  }

  test("a20 CUSUM: stats broadcast back, ONE hash exchange + sort feeds both windows") {
    val df = graft.operators.TimeSeries.cusumChangepoints(
      spark.table("events"), "ts", "event_type", "value", "event_id",
      slack = 5.0, threshold = 500.0)
    val p = plan(df)
    // per-group stats are output-sized and broadcast back over the fact
    // scan (the a19 baseline pattern) — the facts never shuffle for them
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // exactly two hash exchanges: the output-sized stats aggregate's own
    // partial/final (pre-broadcast) and the ONE fact exchange feeding the
    // windows; the running-sum and running-min windows share ONE sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("\\bSort\\b".r.findAllIn(p).size == 1, p)
    assert("Window".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("g07 BFS: settled levels union once — no accumulated-reach re-aggregation") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L))
      .toDF("src", "dst")
    val seed = Seq(1L).toDF("node")
    val df = graft.operators.GraphOps.shortestPaths(edges, "src", "dst", seed, maxHops = 3)
    // correctness on the hand graph: 1→0, 2→1, 3→1 (via the 1-3 edge),
    // 4→2, 5→3
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L), got)
    // plan shape: the result is a Union of per-level frontier scans —
    // each node settles in exactly one level, so there is NO aggregate,
    // join, or exchange above the levels. The per-round work (expand +
    // distinct + anti-joins against the previous TWO frontiers only)
    // lives behind the per-level checkpoints; nothing downstream ever
    // re-shuffles the accumulated reach.
    val p = plan(df)
    assert(p.contains("Union"), p)
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
    // one scan per level: hops 0..3
    assert("Scan ExistingRDD".r.findAllIn(p).size == 4, p)
  }

  test("MERGE: map-side-combinable tid aggregate, anti-join insert side, no cartesian") {
    import spark.implicits._
    val psql = graft.psql.Psql(spark)
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_merge")
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_merge__graft_cow")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      .write.mode("overwrite").format("parquet").saveAsTable("graft_plan_merge")
    Seq((1L, 100L), (9L, 900L)).toDF("k", "nv")
      .createOrReplaceTempView("graft_plan_merge_src")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      psql.sql("""merge into graft_plan_merge t using graft_plan_merge_src s on t.k = s.k
        |when matched then update set v = s.nv
        |when not matched then insert values (s.k, s.nv)""".stripMargin)
      Thread.sleep(500) // QueryExecutionListener delivers async
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(
        plans.iterator()).asScala.toList
      assert(all.nonEmpty, "listener captured no plans")
      // never a cartesian anywhere in the statement's jobs
      assert(!all.exists(_.contains("CartesianProduct")), "cartesian in MERGE")
      // the multiplicity collapse is a hash aggregate on the synthetic row
      // id WITH a partial (map-side) phase — the single-exchange promise
      val agg = all.filter(p => p.contains("__graft_tid") &&
        p.contains("partial_max_by"))
      assert(agg.nonEmpty, "no partial max_by aggregate over __graft_tid:\n" +
        all.mkString("\n----\n").take(2000))
      // the insert side is a LEFT ANTI join, not a filtered outer join
      assert(all.exists(_.contains("LeftAnti")), "no anti-join insert side")
    } finally spark.listenerManager.unregister(listener)
    // semantics held too
    val got = spark.table("graft_plan_merge").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 100L), (2L, 20L), (3L, 30L), (9L, 900L)), got)
  }

  test("FTS match_bm25 scoring: postings pruned by term filter, df read from the postings, corpus-free") {
    val psql = graft.psql.Psql(spark)
    graft.operators.Bucketing.dropTableAndLocation(spark, "fts_main_documents_terms")
    psql.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text')")
    try {
      // the scores view alone: the index is the ONLY thing scanned
      val scores = psql.sql(
        "from documents |> select doc_id, " +
          "fts_main_documents.match_bm25(doc_id, 'merge window scan') as score " +
          "|> where score is not null")
      val p = plan(scores)
      // the postings scan carries the term IN-filter (pushed → row-group
      // pruning over the term-clustered, term-sorted table)
      assert(p.contains("PushedFilters: [In(term,"), p.linesIterator
        .filter(_.contains("PushedFilters")).mkString("\n"))
      // df rides in the postings rows: no docfreq table is read or joined;
      // the statement's scalar-subquery join broadcasts — no sort-merge
      assert(!p.contains("docfreq"), p)
      assert(!p.contains("SortMergeJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      // the postings reader schema is pruned to the scoring columns
      val termsRead = p.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("tf")).mkString
      assert(termsRead.contains("dl") && termsRead.contains("df") &&
        termsRead.contains("__id"), termsRead)
    } finally {
      psql.sql("PRAGMA drop_fts_index('documents')")
    }
  }

  test("constrained-INSERT PK probe: key-column-pruned target scan + broadcast batch keys") {
    val psql = graft.psql.Psql(spark)
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_pk")
    psql.sql("create table graft_plan_pk (k bigint primary key, v varchar, x double)")
    psql.sql("insert into graft_plan_pk values (1, 'a', 0.5)")
    // capture every executed plan of the next INSERT's jobs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      psql.sql("insert into graft_plan_pk values (2, 'b', 1.5)")
      Thread.sleep(500) // QueryExecutionListener delivers async
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(
        plans.iterator()).asScala.toList
      // the uniqueness probe scans ONLY the key column of the target and
      // broadcasts the (tiny) batch keys into a semi join
      val probe = all.filter(p => p.contains("LeftSemi"))
      assert(probe.nonEmpty, "no semi-join PK probe executed:\n" +
        all.mkString("\n----\n").take(1500))
      assert(probe.exists(_.contains("BroadcastHashJoin")), probe.mkString.take(1500))
      val read = probe.flatMap(_.linesIterator.filter(l =>
        l.contains("ReadSchema") && l.contains("graft_plan_pk")))
      assert(read.exists(l => l.contains("k:bigint") && !l.contains("v:") && !l.contains("x:")),
        s"PK probe must read only the key column:\n${read.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
    assert(spark.table("graft_plan_pk").count() == 2L)
  }

  test("FK enforcement probe: referenced-key scan pruned to key columns, anti-join shape") {
    val psql = graft.psql.Psql(spark)
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_fkp")
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_fkc")
    psql.sql("create table graft_plan_fkp (k bigint primary key, pad1 varchar, pad2 double)")
    psql.sql("insert into graft_plan_fkp values (1, 'a', 0.5), (2, 'b', 1.5)")
    psql.sql("create table graft_plan_fkc (id bigint primary key, " +
      "k bigint references graft_plan_fkp (k))")
    psql.sql("set graft_enforce_foreign_keys = true")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      psql.sql("insert into graft_plan_fkc values (10, 1), (11, 2)")
      Thread.sleep(500)
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(
        plans.iterator()).asScala.toList
      val probe = all.filter(p => p.contains("LeftAnti") && p.contains("graft_plan_fkp"))
      assert(probe.nonEmpty, "no anti-join FK probe executed:\n" +
        all.mkString("\n----\n").take(1500))
      // the referenced table is scanned on its key column only — never the
      // payload columns
      val read = probe.flatMap(_.linesIterator.filter(l =>
        l.contains("ReadSchema") && l.contains("graft_plan_fkp")))
      assert(read.exists(l => l.contains("k:bigint") && !l.contains("pad1") &&
        !l.contains("pad2")),
        s"FK probe must read only the referenced key column:\n${read.mkString("\n")}")
    } finally {
      spark.listenerManager.unregister(listener)
      psql.sql("reset graft_enforce_foreign_keys")
    }
    assert(spark.table("graft_plan_fkc").count() == 2L)
  }

  test("parent-side FK probe: child scan pruned to its FK column, semi-join shape") {
    val psql = graft.psql.Psql(spark)
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_psp")
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_psc")
    psql.sql("create table graft_plan_psp (k bigint primary key, seg varchar)")
    psql.sql("insert into graft_plan_psp values (1, 'a'), (2, 'b'), (3, 'c')")
    psql.sql("create table graft_plan_psc (id bigint, " +
      "k bigint references graft_plan_psp (k), pad1 varchar, pad2 double)")
    psql.sql("insert into graft_plan_psc values (10, 1, 'x', 0.5)")
    psql.sql("set graft_enforce_foreign_keys = true")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // an UNREFERENCED parent key deletes fine — the probe still runs
      psql.sql("delete from graft_plan_psp where k = 3")
      Thread.sleep(500)
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(
        plans.iterator()).asScala.toList
      val probe = all.filter(p => p.contains("LeftSemi") && p.contains("graft_plan_psc"))
      assert(probe.nonEmpty, "no semi-join parent-side FK probe executed:\n" +
        all.mkString("\n----\n").take(1500))
      // the CHILD is scanned on its FK column only — never id or payloads
      val read = probe.flatMap(_.linesIterator.filter(l =>
        l.contains("ReadSchema") && l.contains("graft_plan_psc")))
      assert(read.exists(l => l.contains("k:bigint") && !l.contains("pad1") &&
        !l.contains("pad2") && !l.contains("id:")),
        s"parent-side probe must read only the child's FK column:\n${read.mkString("\n")}")
    } finally {
      spark.listenerManager.unregister(listener)
      psql.sql("reset graft_enforce_foreign_keys")
    }
    assert(spark.table("graft_plan_psp").count() == 2L)
  }

  test("PK probe broadcast is size-guarded: bulk batches take the unhinted plan") {
    val psql = graft.psql.Psql(spark)
    graft.operators.Bucketing.dropTableAndLocation(spark, "graft_plan_pk2")
    psql.sql("create table graft_plan_pk2 (k bigint primary key, v varchar)")
    psql.sql("insert into graft_plan_pk2 values (1, 'a')")
    // a VALUES-sized batch stays under BroadcastProbeMaxRows → hinted
    val smallBatch = spark.range(3).selectExpr("id as k", "cast(id as string) as v")
    val (smallPlan, smallFlag) = graft.psql.TableConstraints.pkProbePlan(
      spark, "graft_plan_pk2", Seq("k"), smallBatch)
    assert(smallFlag)
    assert(plan(smallPlan).contains("BroadcastHashJoin"), plan(smallPlan).take(800))
    // a bulk batch (> 500k rows) must NOT force a driver-side broadcast of
    // its keys — the join is left to the planner/AQE
    val bigBatch = spark.range(500001L)
      .selectExpr("id + 1000 as k", "cast(id as string) as v")
    val (bigPlan, bigFlag) = graft.psql.TableConstraints.pkProbePlan(
      spark, "graft_plan_pk2", Seq("k"), bigBatch)
    assert(!bigFlag)
    // the logical plan carries no forced broadcast hint of the batch side;
    // with a 1-row TARGET the planner may still broadcast the TARGET side,
    // so pin the absence of the hint, not the physical operator
    val lp = bigPlan.queryExecution.analyzed.toString
    assert(!lp.toLowerCase.contains("unresolvedhint") &&
      !lp.contains("ResolvedHint"), lp.take(800))
    // the target scan is still key-column-pruned either way
    val read = plan(bigPlan).linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("graft_plan_pk2")).mkString
    assert(read.contains("k:bigint") && !read.contains("v:"), read)
  }
}
