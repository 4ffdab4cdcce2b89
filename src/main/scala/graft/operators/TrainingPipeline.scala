package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** End-to-end training-corpus curation — the composition the individual
  * operators exist for: annotate → quality-filter → exact dedup → near-dup
  * removal → per-doc stats. Every step is a declarative transform over the
  * same DataFrame, so the whole pipeline is one Catalyst plan per action and
  * scales with its worst stage (the MinHash-LSH candidate join), not the
  * number of steps.
  */
object TrainingPipeline {

  /** Deterministic per-group sample: exactly `k` rows per group (fewer if
    * the group is smaller), chosen by ranking on a salted md5 of the id —
    * i.e. a reproducible pseudo-random sample with bounded output per
    * group. One shuffle (the window partition); no reservoir state, no
    * rand() nondeterminism across retries. md5 (not xxhash64) so the
    * selection is identical across engines, not just across runs. The
    * standard "k examples per class" primitive for training-set balancing.
    */
  def groupSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      k: Int,
      seed: Long = 42L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(concat(lit(s"$seed-"), col(idCol).cast("string")).cast("binary")).asc,
        col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic per-group FRACTION sampling — the data-mixture primitive
    * (sample 10% of web, 100% of books, …): keep a row when the uniform
    * hash of its id falls under its group's fraction. Pure map-side filter
    * off the scan — no shuffle, no count pass, no rand() (retry/engine
    * stable: md5 arithmetic is reproducible everywhere, cf. [[groupSample]]).
    * Groups absent from `fractions` are DROPPED (explicit mixture spec).
    * Expected sample size is fraction×|group| with binomial concentration —
    * the right trade at 100 TB, where an exact-count quota would need a
    * per-group total first.
    */
  def sampleFraction(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      fractions: Map[String, Double],
      seed: Long = 42L): DataFrame = {
    require(fractions.nonEmpty && fractions.values.forall(f => f >= 0 && f <= 1))
    // first 7 md5 hex digits → uniform in [0, 1) with 2^-28 granularity
    val u = conv(substring(md5(concat(lit(s"$seed-"), col(idCol).cast("string"))), 1, 7), 16, 10)
      .cast("double") / lit(268435456.0) // 16^7
    val fracCol = fractions.foldLeft(lit(-1.0)) { case (acc, (g, f)) =>
      when(col(groupCol) === g, lit(f)).otherwise(acc)
    }
    df.where(u < fracCol)
  }

  /** Temperature-scaled mixture sampling (the PaLM/LLaMA multi-source
    * practice): target share of group g is `n_g^(1/T) / Σ_j n_j^(1/T)` —
    * T = 1 keeps natural proportions, T → ∞ flattens to uniform — and each
    * group is thinned to `rate_g = min(1, budgetFrac · N · share_g / n_g)`
    * of its rows via the [[sampleFraction]] md5-uniform (no rand(), no
    * upsampling: epoch repetition is [[epochMixture]]'s job). Unlike
    * [[sampleFraction]], the rates are DERIVED FROM DATA, which is what
    * the cross-engine discipline has to protect: 1/T = 0.5 runs on
    * IEEE-correctly-rounded `sqrt` (bit-identical in every engine, unlike
    * libm `pow`), and the share denominator is an ORDERED fold over the
    * group-sorted weight list — an unordered SUM would let add-order flip
    * the last ulp of every rate.
    *
    * Scale shape: one count aggregation (map-side combined), a 1-row
    * totals frame folded driver-free, rates broadcast back to the scan —
    * the thinning itself stays a map-side filter.
    */
  def temperatureMixture(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      budgetFrac: Double,
      temperature: Double = 2.0,
      seed: Long = 42L): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1, s"budgetFrac must be in (0,1]: $budgetFrac")
    require(temperature == 2.0,
      "temperatureMixture: only T=2 (sqrt weights) is supported — general pow(x, 1/T) is " +
        "not bit-stable across engines; add T values as IEEE-exact kernels deliberately")
    val counts = df.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(
      sum(col("n")).cast("double").as("n_total"),
      aggregate(
        array_sort(collect_list(struct(col("g"), sqrt(col("n").cast("double")).as("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("w_total"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col("g"),
        least(lit(1.0), lit(budgetFrac) * col("n_total") * sqrt(col("n").cast("double")) /
          col("w_total") / col("n").cast("double")).as("rate"))
    val u = conv(substring(md5(concat(lit(s"$seed-"), col(idCol).cast("string"))), 1, 7), 16, 10)
      .cast("double") / lit(268435456.0)
    df.join(broadcast(rates), col(groupCol) === col("g"))
      .where(u < col("rate"))
      .drop("g")
  }

  /** Deterministic train/val/test split assignment: each row gets the split
    * whose cumulative-weight interval contains the uniform md5 hash of its
    * id — the standard stable holdout split (a doc keeps its split across
    * reruns, engine changes, and corpus growth; only NEW ids get new
    * assignments, so the eval set never silently rotates into training).
    * Pure map-side column add — no shuffle, no count pass, no rand() (same
    * md5 arithmetic as [[sampleFraction]]). Weights must sum to 1 (±1e-9);
    * the last split absorbs the floating-point edge so no row is ever
    * unassigned.
    */
  def assignSplits(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      seed: Long = 42L,
      splitCol: String = "split"): DataFrame = {
    require(splits.size >= 2 && splits.forall(_._2 > 0),
      "need >= 2 splits with positive weights")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val u = conv(substring(md5(concat(lit(s"$seed-"), col(idCol).cast("string"))), 1, 7), 16, 10)
      .cast("double") / lit(268435456.0) // 16^7
    val cums = splits.scanLeft(0.0)(_ + _._2).tail
    // last split is the unconditional otherwise — the [sum-ε, 1) edge lands there
    val assigned = splits.init.zip(cums.init).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, ((name, _), cum)) =>
        when(u < cum, lit(name)).otherwise(acc)
      }
    df.withColumn(splitCol, assigned)
  }

  /** Greedy token-budget selection per group: in priority order (highest
    * `priorityCol` first, id tiebreak), keep rows while the group's running
    * token total stays within `budget` — the standard way a fixed training
    * budget is filled with the best available data. One window shuffle per
    * call (partition by group); rows past the budget are cut by the running
    * sum, so a single over-large doc cannot blow the cap.
    *
    * Scale note: the window sorts each group inside one task (the q37-style
    * low-cardinality hazard). Fine whenever groups fit a partition; at
    * corpus scale with few groups, set `prePrune = true`: a quantile
    * estimate of each group's priority cutoff filters the input BEFORE the
    * window, so only ~`pruneSlack` × the budget's worth of rows reaches the
    * per-group sort instead of the whole corpus.
    *
    * Pre-pruning never changes the greedy-prefix result. The cutoff keeps
    * ~pruneSlack×budget of token mass per group (mass fraction approximated
    * by row fraction from an `approx_percentile` grid — the slack absorbs
    * token-size heterogeneity and sketch error), and exactness does not
    * rest on that estimate: a pruned group whose KEPT token mass is ≤
    * budget could have extended its prefix into pruned rows, so such
    * groups — detected by a cheap partial agg — are recomputed over their
    * full input. On sane distributions the fallback set is empty and the
    * sort input shrinks by ~tot/(pruneSlack·budget); on adversarial ones
    * the affected group pays the unpruned cost it would have paid anyway.
    */
  def selectUnderBudget(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      tokensCol: org.apache.spark.sql.Column,
      priorityCol: org.apache.spark.sql.Column,
      budget: Long,
      prePrune: Boolean = false,
      pruneSlack: Double = 4.0): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(priorityCol.desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def prefix(input: DataFrame): DataFrame =
      input.withColumn("__cum", sum(tokensCol.cast("long")).over(w))
        .where(col("__cum") <= budget)
        .drop("__cum")
    if (!prePrune) prefix(df)
    else prefix(budgetWindowInput(df, groupCol, tokensCol, priorityCol, budget, pruneSlack))
  }

  /** The pre-pruned window input of [[selectUnderBudget]] — exposed
    * package-private so the plan-quality spec can pin that the per-group
    * sort really sees fewer rows.
    */
  private[graft] def budgetWindowInput(
      df: DataFrame,
      groupCol: String,
      tokensCol: org.apache.spark.sql.Column,
      priorityCol: org.apache.spark.sql.Column,
      budget: Long,
      pruneSlack: Double): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    require(pruneSlack > 1.0, s"pruneSlack must exceed 1: got $pruneSlack")
    val spark = df.sparkSession
    // pass 1, one partial-combine agg over narrow columns: per-group token
    // totals + a fixed grid of priority quantiles, collected driver-side.
    // This operator exists for LOW-cardinality groups (the very hazard the
    // pre-prune mitigates), so the stats frame is small by construction.
    val gridN = 20
    val fractions = (0 to gridN).map(_.toDouble / gridN)
    val stats = df.groupBy(col(groupCol).as("__g"))
      .agg(sum(tokensCol.cast("long")).as("__tot"),
        percentile_approx(priorityCol.cast("double"), typedLit(fractions), lit(10000)).as("__qs"))
      .collect()
    // conservative cutoff per group: quantile index snapped DOWN (keeps
    // more rows than the estimate asks); groups already within
    // pruneSlack×budget skip pruning entirely
    val slackTok = pruneSlack * budget
    val cutRows = stats.toSeq.flatMap { r =>
      val tot = if (r.isNullAt(1)) 0L else r.getLong(1)
      val qs = if (r.isNullAt(2)) Seq.empty[Double] else r.getSeq[Double](2)
      if (tot <= slackTok || qs.isEmpty) None
      else {
        val f = math.min(1.0, slackTok / tot)
        val idx = math.max(0, math.floor((1.0 - f) * gridN).toInt)
        Some(org.apache.spark.sql.Row(r.get(0), qs(idx), tot))
      }
    }
    val cutSchema = StructType(Seq(
      StructField(groupCol, df.schema(groupCol).dataType),
      StructField("__cut", DoubleType), StructField("__tot", LongType)))
    val cutDf = spark.createDataFrame(spark.sparkContext.parallelize(cutRows, 1), cutSchema)
    // NULL priorities sort last under the window's desc order; treating
    // them as below every cutoff is consistent with that — if the greedy
    // prefix could reach them, the group's kept mass is ≤ budget and the
    // fallback below recomputes it unpruned anyway
    val pruned = df.join(broadcast(cutDf.select(col(groupCol), col("__cut"))), Seq(groupCol), "left")
      .where(col("__cut").isNull || priorityCol.cast("double") >= col("__cut"))
      .drop("__cut")
    // exactness fallback: detection is a cheap partial agg on the pruned
    // frame; affected groups (none, on sane distributions) re-enter whole
    val unsafe = pruned.groupBy(col(groupCol))
      .agg(coalesce(sum(tokensCol.cast("long")), lit(0L)).as("__kept"))
      .join(broadcast(cutDf.select(col(groupCol), col("__tot"))), Seq(groupCol))
      .where(col("__kept") < col("__tot") && col("__kept") <= budget)
      .select(col(groupCol))
    pruned.join(broadcast(unsafe), Seq(groupCol), "left_anti")
      .unionByName(df.join(broadcast(unsafe), Seq(groupCol), "left_semi"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Benchmark decontamination: drop every corpus document that shares at
    * least one word `n`-gram with the benchmark/eval set — the standard
    * defense against test-set leakage into training data (GPT-3 App. C /
    * The Pile style n-gram overlap).
    *
    * Plan: both sides map to hashed shingle rows (codegen'd, no shuffle),
    * the benchmark's distinct hashes BROADCAST into a semi-join against the
    * corpus shingles (eval sets are MBs — tiny next to a 100 TB corpus, so
    * nothing large ever shuffles), then one narrow distinct on contaminated
    * ids feeds a left-anti join back against the full rows. Docs too short
    * to shingle are never contaminated and are kept.
    */
  def decontaminate(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      benchTextCol: String = "text"): DataFrame = {
    val bh = Dedup.hashedShingleRows(
      benchmark.select(lit(0L).as("__bid"), col(benchTextCol)), "__bid", benchTextCol, n)
      .select("h").distinct()
    val dh = Dedup.hashedShingleRows(docs, idCol, textCol, n)
    val contaminated = dh.join(broadcast(bh), Seq("h"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]]'s 100 TB-scale variant for when the benchmark side is
    * too large to broadcast as an exact hash relation (a multi-benchmark
    * union can reach 10⁸⁺ distinct shingles ≈ GBs as a hash map): a Bloom
    * filter over the benchmark shingle hashes (bit-array ≈ 1.2 MB per 10⁶
    * keys at 1% fpp) prunes the corpus shingles MAP-SIDE — the codegen'd
    * [[graft.functions.BloomMightContainExpr]] probe sits right on the scan,
    * so ~(1-fpp) of the corpus's shingle volume never reaches any join — and
    * only the surviving candidates flow into the exact semi-join verify.
    *
    * Exactly equal to [[decontaminate]] for ANY (expectedItems, fpp): Bloom
    * filters have no false negatives (no contaminated doc can slip through)
    * and false positives are removed by the verify join. The sketch build is
    * one aggregation pass returning a fixed-size bit array to the driver —
    * a bounded sketch, not data (cf. the documented k-means sample).
    * The verify join is left to AQE: its probe side is post-prune tiny, and
    * at benchmark sizes where this variant matters the build side shuffles
    * rather than broadcasts — which is the point of pruning first.
    */
  def decontaminateBloom(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      benchTextCol: String = "text",
      expectedShingles: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFunctions
    val bh = Dedup.hashedShingleRows(
      benchmark.select(lit(0L).as("__bid"), col(benchTextCol)), "__bid", benchTextCol, n)
      .select("h").distinct()
    val bloom = BloomFunctions.buildLongFilter(bh, "h", expectedShingles, fpp)
    val dh = Dedup.hashedShingleRows(docs, idCol, textCol, n)
      .where(BloomFunctions.mightContainLong(bloom, col("h")))
    val contaminated = dh.join(bh, Seq("h"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Contamination AUDIT — the read-only counterpart of [[decontaminate]]:
    * for every benchmark/eval document, how many corpus documents share at
    * least one word `n`-gram with it (0 for clean items). The report a
    * pipeline owner reads BEFORE deleting data: which eval items leak, and
    * whether the leak is one stray page or ten thousand boilerplate copies
    * (the latter usually means the n-gram is too common, not that the
    * benchmark is compromised).
    *
    * Plan: per-doc DISTINCT shingle hashes both sides (map-side), benchmark
    * side broadcast into the equi-join (eval sets are small; nothing
    * corpus-sized shuffles), distinct (bench_id, corpus_id) matches, then a
    * count per bench_id left-joined back so clean items report 0.
    */
  def contaminationReport(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      benchIdCol: String = "doc_id",
      benchTextCol: String = "text"): DataFrame = {
    val bh = Dedup.hashedShingleRows(
      benchmark.select(col(benchIdCol).as("bench_id"), col(benchTextCol)), "bench_id", benchTextCol, n)
      .select(col("id").as("bench_id"), col("h")).distinct()
    val dh = Dedup.hashedShingleRows(docs, idCol, textCol, n)
      .select(col("id").as("corpus_id"), col("h")).distinct()
    val matches = dh.join(broadcast(bh), Seq("h"))
      .select("bench_id", "corpus_id").distinct()
      .groupBy("bench_id").agg(count(lit(1)).as("n_contaminated"))
    benchmark.select(col(benchIdCol).as("bench_id"))
      .join(matches, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
  }

  /** Greedy concat-and-chunk sequence packing: lay documents end to end in
    * a deterministic order and cut packs every `budget` tokens — the
    * standard way LLM training data is packed into fixed-length sequences
    * (docs may straddle a boundary; `off` says where each doc starts in its
    * pack). A single global sequence would serialize on one task, so the
    * corpus is sharded first (`shardCol`, e.g. `id % numShards`) and each
    * shard packs independently — one window shuffle, parallelism =
    * numShards; size shards to executor-chunk volume at scale.
    *
    * Output adds: `shard`, `start` (exclusive prefix tokens in shard),
    * `pack` (= start / budget), `off` (= start % budget).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokensCol: org.apache.spark.sql.Column,
      shardCol: org.apache.spark.sql.Column,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("__tok", coalesce(tokensCol.cast("long"), lit(0L)))
      .withColumn("shard", shardCol.cast("long"))
      .withColumn("start", coalesce(sum(col("__tok")).over(w), lit(0L)))
      .withColumn("pack", floor(col("start") / budget))
      .withColumn("off", col("start") % budget)
      .drop("__tok")
  }

  /** Fixed-window document chunking with overlap — context-window prep for
    * LLM training: token windows of `chunkTokens`, a new window starting
    * every `chunkTokens - overlap` tokens (the standard sliding split, so no
    * span shorter than the window is ever cut by a boundary). One narrow
    * map-side sequence+explode off the scan — rows multiply by the chunk
    * count but nothing shuffles, so the op scales with output volume alone.
    * Output: (idCol, chunk_id, start, chunk_text); the final chunk may be
    * shorter than `chunkTokens`.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens: got chunkTokens=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    // not spread (r17, measured +0.17 s): the slice/join transform is
    // cheaper than the exchange a spread adds on an under-split input
    df.where(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), col("__w"),
        posexplode(sequence(lit(0), size(col("__w")) - 1, lit(stride))))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start"),
        array_join(slice(col("__w"), col("col") + 1, lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Curate a document table:
    *  1. annotate language, quality stats, token counts;
    *  2. drop docs below `minQuality`;
    *  3. exact-dedup on text (keep lowest id);
    *  4. near-dup removal via MinHash-LSH at `jaccardThreshold`.
    *
    * `clusterDedup` picks how verified near-dup PAIRS become deletions:
    *   - `true` (default, the correct semantics): close the pair graph with
    *     [[Dedup.connectedComponents]] and keep exactly the minimum id of
    *     every component — one survivor per transitive near-dup CLUSTER,
    *     even when it is chained (a–c, b–c with no a–b edge).
    *   - `false` (keep-lowest pair-pruning): drop the higher id of each
    *     pair. Cheaper (no iterative closure) but under-deletes chained
    *     clusters — a doc connected to the cluster minimum only transitively
    *     survives alongside it.
    *
    * `substringDedup` additionally unions [[Dedup.winnowingPairs]] edges
    * (k=`winnowK`, w=`winnowW`, `minSharedFp` shared fingerprints) into the
    * pair graph before deletion: docs sharing a lifted passage — which
    * whole-doc Jaccard dilutes below `jaccardThreshold` — then fall into
    * the same cluster and dedup to one survivor. The winnowing stage reuses
    * the already-filtered/exact-deduped frame, so its cost scales with the
    * surviving corpus, and its fingerprint index is ~2/(w+1) of a full
    * shingle index.
    *
    * `materialize` picks where the filtered+deduped stage its consumers
    * read is pinned: executor block storage ([[Materialize.Checkpoint]]) or
    * durable parquet ([[Materialize.Warehouse]]).
    * Returns surviving docs with their annotations.
    */
  def curate(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minQuality: Double = 0.2,
      jaccardThreshold: Double = 0.8,
      clusterDedup: Boolean = true,
      substringDedup: Boolean = false,
      winnowK: Int = 5,
      winnowW: Int = 4,
      minSharedFp: Long = 2L,
      materialize: Materialize = Materialize.Checkpoint): DataFrame = {
    val stats = TextFunctions.qualityStats(col(textCol))
    // annotation (langid + quality regexes) is the pipeline's per-row CPU
    // floor and runs fused into the scan stage — spread an under-split
    // input first (Spread scaladoc; no-op at scale)
    val annotated = Spread.spread(docs, col(idCol))
      .withColumn("pred_lang", TextFunctions.langId(col(textCol)))
      .withColumns(stats.map { case (n, c) => n -> c }.toMap)
    val filtered = annotated.where(col("quality_score") >= minQuality)
    // EVERY consumer re-derives the annotate scan + dedup window otherwise:
    // the pair-generation paths (minhash signatures, each winnowing
    // self-join side, the component node set) AND the final survivor
    // anti-join. Materialize the filtered+deduped stage ONCE with its full
    // columns so k consumers cost one annotate+window pass, not k —
    // checkpointing only a narrow (id, text) projection would leave the
    // final anti-join re-paying the whole pipeline for the survivor rows.
    // At 100 TB this stage is corpus-sized: the checkpoint spills to
    // executor disk; when executor storage can't hold it, the Warehouse
    // mode writes the stage to durable parquet and reads it back (same
    // consumer plan shape, scan instead of block reads; same survivors).
    val exact = Materialize(Dedup.dedupExact(filtered, textCol, idCol), materialize)
    val base = exact.select(col(idCol), col(textCol))
    val pairs = curatePairs(base, idCol, textCol, jaccardThreshold,
      substringDedup, winnowK, winnowW, minSharedFp)
    val losers: DataFrame =
      if (clusterDedup)
        // components iterate only the edge-touching subgraph; losers = every
        // non-minimum member, a small frame that anti-joins (broadcast at
        // scale) against the corpus
        Dedup.connectedComponents(base.select(col(idCol)), pairs)
          .where(col(idCol) =!= col("component"))
          .select(col(idCol))
      else pairs.select(col("id_b").as(idCol)).distinct()
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** [[curate]]'s near-dup pair graph over the materialized stage:
    * MinHash-LSH pairs, optionally unioned with winnowing substring edges.
    * The union is NOT deduplicated here: each generator is
    * distinct-by-construction (both end in a groupBy), only cross-set
    * duplicates exist (a pair that is both a near-dup and shares
    * fingerprints), and every consumer dedups anyway — the closure's
    * symmetrized edge set runs one distinct, the non-cluster loser path
    * runs its own — so a union-level distinct was a pure extra shuffle of
    * the whole edge stream (measured 1.9 s of p03 at sf0.1; at 100 TB one
    * full exchange of the pair graph). Factored package-private so the
    * plan-quality spec pins the join shapes on the exact frame curate
    * feeds the closure.
    */
  private[graft] def curatePairs(
      base: DataFrame,
      idCol: String,
      textCol: String,
      jaccardThreshold: Double,
      substringDedup: Boolean,
      winnowK: Int,
      winnowW: Int,
      minSharedFp: Long): DataFrame = {
    val nearPairs = Dedup
      .minhashLshPairs(base, idCol, textCol, threshold = jaccardThreshold)
      .select("id_a", "id_b")
    if (substringDedup)
      nearPairs.union(
        Dedup.winnowingPairs(base, idCol, textCol, winnowK, winnowW, minSharedFp)
          .select("id_a", "id_b"))
    else nearPairs
  }

  /** Train DSIR importance log-ratios (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): bag-of-hashed-ngram
    * unigram distributions for the target domain and the raw corpus, both
    * add-one smoothed, returned as the per-bucket log-ratio
    * `ln p_target(b) − ln p_raw(b)`. Features are unigrams + bigrams
    * hashed into `nBuckets` buckets by the corpus-wide 28-bit md5
    * convention (`conv(substr(md5(f),1,7),16,10) % B` — bit-identical in
    * DuckDB, which is what lets the TRAINED array ride into an oracle as
    * a literal, the d21/t10 pattern). Training reads two bounded
    * deterministic samples (ordered by id, `sampleN` rows) — the same
    * determinism story as [[TextFunctions.trainUnigramLm]]; at 100 TB the
    * sample stays fixed-size while selection below scales with the corpus.
    */
  def trainDsirLogRatios(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: org.apache.spark.sql.Column,
      nBuckets: Int = 1024,
      sampleN: Int = 2048): Array[Double] = {
    def bucketCounts(sample: DataFrame): (Array[Long], Long) = {
      val texts = sample.select(col(idCol), col(textCol))
        .orderBy(idCol).limit(sampleN)
        .collect().map(r => Option(r.getString(1)).getOrElse(""))
      val counts = new Array[Long](nBuckets)
      var n = 0L
      texts.foreach { t =>
        val toks = t.split(" ", -1)
        val feats = toks.iterator ++
          toks.iterator.zip(toks.iterator.drop(1)).map { case (a, b) => s"$a $b" }
        val md = java.security.MessageDigest.getInstance("MD5")
        feats.foreach { f =>
          val d = md.digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 7 md5 hex chars = top 28 bits of the digest prefix
          val top32 = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
          counts(((top32 >>> 4) % nBuckets).toInt) += 1
          n += 1
        }
      }
      (counts, n)
    }
    val (tc, tn) = bucketCounts(df.where(targetPred))
    val (rc, rn) = bucketCounts(df)
    Array.tabulate(nBuckets) { b =>
      math.log((tc(b) + 1).toDouble / (tn + nBuckets)) -
        math.log((rc(b) + 1).toDouble / (rn + nBuckets))
    }
  }

  /** DSIR data selection: score every document with the summed hashed-ngram
    * importance log-weight under trained [[trainDsirLogRatios]] ratios and
    * keep the `topN` highest (deterministic resampling variant — rank by
    * weight instead of adding Gumbel noise, id tiebreak). The ratio array
    * rides into every task as a codegen reference object (no lookup join);
    * the weight is one tight codegen'd pass per row
    * ([[graft.functions.ShingleFunctions.dsirWeight]] — the interpreted
    * HOF formulation of the same ordered fold cost ~10x); selection is
    * sort+limit, which Spark compiles to TakeOrderedAndProject
    * (per-partition top-N, then a single bounded merge — no global sort
    * shuffle). The only full pass is the scan.
    */
  def dsirSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      logRatios: Array[Double],
      topN: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.ShingleFunctions.dsirWeight(col(textCol), logRatios)
        .as("dsir_weight"))
      .orderBy(col("dsir_weight").desc, col(idCol).asc)
      .limit(topN)

  /** Span-level ("surgical") decontamination: where [[decontaminate]] drops
    * every document sharing an n-gram with the benchmark, this removes ONLY
    * the tokens covered by a contaminated n-gram and keeps the rest of the
    * document — the right tool when benchmark overlap is a quoted sentence
    * inside an otherwise-clean document. Output keeps input cardinality:
    * `(doc_id, text_clean, n_kept, n_removed)` (fully-contaminated docs
    * survive with empty text, the [[Dedup.dedupLines]] contract).
    *
    * Spans join on their token STRINGS for oracle transparency (the c01
    * discipline); at 100 TB key both sides on `xxhash64(span)` — same plan,
    * 8-byte shuffle keys. Scale shape: benchmark spans are one bounded
    * distinct relation (broadcast); corpus spans and the token-level
    * coverage mask are map-side explodes; the only corpus-wide shuffle is
    * the per-doc reassembly.
    */
  def decontaminateSpans(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 8,
      benchTextCol: String = "text"): DataFrame = {
    require(n > 0, "decontaminateSpans: n must be positive")
    // NULL text = empty doc (the dedupLines guard rationale)
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(coalesce(c, lit("")), " "), t => length(t) > lit(0))
    val tok = Spread.spread(docs, col(idCol))
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"))
    def spans(df: DataFrame, w: String) =
      df.where(size(col(w)) >= n).select(col("*"),
        posexplode(transform(
          sequence(lit(0), size(col(w)) - n),
          i => array_join(slice(col(w), i + 1, lit(n)), " "))).as(Seq("pos", "s")))
    val bench = spans(
      benchmark.select(toks(col(benchTextCol)).as("bw")), "bw")
      .select("s").distinct()
    val matched = spans(tok, "w").join(broadcast(bench), Seq("s"))
      .select(col("doc_id"), col("pos"))
    val covered = matched
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val kept = tok.select(col("doc_id"), posexplode(col("w")).as(Seq("p", "tok")))
      .join(covered, Seq("doc_id", "p"), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    tok.select(col("doc_id"), size(col("w")).cast("long").as("n_toks"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Curriculum ordering: materialize the training ORDER — quality phases
    * first (clean data early, the curriculum-learning schedule), a
    * deterministic seeded shuffle within each phase (epoch-stable, the
    * property `ORDER BY rand()` loses across retries). Output
    * `(doc_id, phase, shuffle_key)` sorted by `(phase, shuffle_key, doc_id)`
    * — the row order IS the curriculum; writers keep it via Spark's
    * range-partitioned sort.
    *
    * Phases come from FIXED quality thresholds (descending): score >=
    * thresholds(0) → phase 1, >= thresholds(1) → phase 2, …, else phase
    * n+1. Fixed cutoffs keep the phase assignment a map-side expression;
    * quantile-based phases would need a cutoff-grid pass first (the c09
    * `approx_percentile` pattern) — by design, since a global ntile is a
    * single-partition window at corpus scale. No global rank column is
    * materialized for the same reason: the sort defines the order, and a
    * row_number over everything would serialize on one task.
    */
  def curriculumOrder(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholds: Seq[Double],
      seed: Long = 42L): DataFrame = {
    require(thresholds.nonEmpty, "curriculumOrder: need at least one threshold")
    require(thresholds.sliding(2).forall(w => w.size < 2 || w(0) > w(1)),
      s"curriculumOrder: thresholds must be strictly descending, got $thresholds")
    val score = TextFunctions.qualityStats(col(textCol))
      .collectFirst { case ("quality_score", c) => c }.get
    val phase = thresholds.zipWithIndex.reverse.foldLeft(lit(thresholds.size + 1)) {
      case (acc, (t, i)) => when(score >= t, lit(i + 1)).otherwise(acc)
    }
    df.select(col(idCol).as("doc_id"), phase.as("phase"),
        md5(concat(lit(s"$seed-"), col(idCol).cast("string"))).as("shuffle_key"))
      .orderBy(col("phase"), col("shuffle_key"), col("doc_id"))
  }

  /** Epoch-aware mixture MATERIALIZATION (the LLaMA/GPT-3 data-mixing
    * step): given target corpus shares per source and a total token budget,
    * each source's sampling rate is `share·budget / sourceTokens`; every
    * document is emitted `floor(rate)` times plus one more when the uniform
    * md5 hash of its id falls under `frac(rate)` — deterministic fractional
    * UPSAMPLING (rate > 1 ⇒ multiple epochs over that source, the
    * books/wiki case) and downsampling (rate < 1) in one operator.
    * [[sampleFraction]] is the rate ≤ 1 special case with given rather
    * than computed rates. Sources absent from `targetShares` are dropped.
    *
    * Scale shape: per-source token totals are one aggregation collapsing to
    * |sources| rows, broadcast back; copy emission is a map-side
    * sequence+explode; no other shuffle. Expected emitted tokens per source
    * = share·budget with binomial concentration (same trade as
    * [[sampleFraction]] — an exact quota would need a global sort).
    *
    * Returns one row per emitted copy: `(doc_id, source, rate, copy)` with
    * `copy` in 1..n_copies.
    */
  def materializeMixture(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      targetShares: Seq[(String, Double)],
      budgetTokens: Long,
      seed: Long = 42L): DataFrame = {
    require(targetShares.nonEmpty && targetShares.forall(_._2 > 0),
      "materializeMixture: shares must be positive")
    require(targetShares.map(_._1).distinct.size == targetShares.size,
      "materializeMixture: duplicate source in targetShares")
    require(budgetTokens > 0, "materializeMixture: budgetTokens must be positive")
    val tok = df.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      size(filter(split(coalesce(col(textCol), lit("")), " "), t => length(t) > lit(0)))
        .cast("long").as("n"))
    val totals = tok.groupBy("source").agg(sum(col("n")).as("toks"))
    val shareCol = targetShares.foldLeft(lit(-1.0)) { case (acc, (g, p)) =>
      when(col("source") === g, lit(p)).otherwise(acc)
    }
    val u = conv(substring(md5(concat(lit(s"$seed-"), col("doc_id").cast("string"))), 1, 7), 16, 10)
      .cast("double") / lit(268435456.0) // 16^7, the sampleFraction convention
    val rated = tok.join(broadcast(totals), Seq("source"))
      // a zero-token source would make rate = Infinity and ask for
      // Long.MaxValue copies — it can contribute no budget; drop it
      .where(col("toks") > 0)
      .withColumn("rate", shareCol * lit(budgetTokens.toDouble) / col("toks").cast("double"))
      .where(col("rate") >= 0) // absent sources carry share -1 ⇒ dropped
      .withColumn("n_copies", floor(col("rate")).cast("long") +
        when(u < col("rate") - floor(col("rate")), 1L).otherwise(0L))
    rated.where(col("n_copies") > 0) // filter BEFORE sequence: sequence(1,0) descends
      .select(col("doc_id"), col("source"), round(col("rate"), 6).as("rate"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  /** fastText-style linear quality classifier (the GPT-3/LLaMA "train a
    * simple classifier on heuristic labels, filter the corpus with it"
    * step): full-batch logistic regression over the SAME hashed
    * unigram+bigram buckets as [[trainDsirLogRatios]], L1-normalized per
    * document, trained driver-side on a bounded deterministic sample
    * (ordered by id, `sampleN` rows — the k-means/LM/DSIR discipline; the
    * sample stays fixed-size at any corpus scale). Fixed iteration order
    * and epoch count make the weights bit-deterministic, which is what lets
    * them ride into a DuckDB oracle as literals (t13).
    *
    * Returns `(weights[nBuckets], bias)` for [[qualityClassify]].
    */
  def trainQualityClassifier(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelPred: org.apache.spark.sql.Column,
      nBuckets: Int = 1024,
      sampleN: Int = 2048,
      epochs: Int = 50,
      lr: Double = 1.0): (Array[Double], Double) = {
    val rows = df.select(col(idCol), col(textCol), labelPred.cast("boolean").as("__y"))
      .orderBy(idCol).limit(sampleN)
      .collect().map(r => (Option(r.getString(1)).getOrElse(""), r.getBoolean(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def features(t: String): Array[(Int, Double)] = {
      val toks = t.split(" ", -1)
      val feats = toks.iterator ++
        toks.iterator.zip(toks.iterator.drop(1)).map { case (a, b) => s"$a $b" }
      val counts = new java.util.TreeMap[Int, Double]()
      var n = 0L
      feats.foreach { f =>
        val d = md.digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val top32 = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        val b = ((top32 >>> 4) % nBuckets).toInt
        counts.merge(b, 1.0, (x, y) => x + y)
        n += 1
      }
      import scala.jdk.CollectionConverters._
      counts.entrySet().asScala.map(e => (e.getKey.intValue, e.getValue / n)).toArray
    }
    val xs = rows.map { case (t, y) => (features(t), if (y) 1.0 else 0.0) }
      .filter(_._1.nonEmpty)
    val w = new Array[Double](nBuckets)
    var b0 = 0.0
    val m = xs.length.toDouble
    var e = 0
    while (e < epochs) {
      val gw = new Array[Double](nBuckets)
      var gb = 0.0
      xs.foreach { case (x, y) =>
        var dot = 0.0
        x.foreach { case (i, v) => dot += w(i) * v }
        val err = 1.0 / (1.0 + math.exp(-(dot + b0))) - y
        x.foreach { case (i, v) => gw(i) += err * v }
        gb += err
      }
      var i = 0
      while (i < nBuckets) { w(i) -= lr * gw(i) / m; i += 1 }
      b0 -= lr * gb / m
      e += 1
    }
    (w, b0)
  }

  /** Score every document under a [[trainQualityClassifier]] model: the
    * logit is the trained-weight sum over the doc's hashed features (the
    * codegen'd [[graft.functions.ShingleFunctions.dsirWeight]] kernel —
    * one tight map-side pass) divided by the feature count (`2n-1` for `n`
    * raw tokens: unigrams + bigrams, empty-token convention matching the
    * trainer), plus the bias. `keep` thresholds the ROUNDED logit at 0 —
    * no transcendental sits in any compared column, so cross-engine
    * equality is pure-arithmetic exact. Note the kernel rounds ITS sum to
    * 6 dp before this division (its own output contract) — an oracle must
    * mirror that inner round or one-in-a-thousand boundary rows drift.
    * Map-side only; no shuffle.
    */
  def qualityClassify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: Array[Double],
      bias: Double): DataFrame = {
    val nToks = size(split(col(textCol), " ")).cast("double")
    val logit = round(
      graft.functions.ShingleFunctions.dsirWeight(col(textCol), weights) /
        (lit(2.0) * nToks - lit(1.0)) + lit(bias), 6)
    Spread.spread(df, col(idCol)).select(col(idCol), logit.as("quality_logit"))
      .withColumn("keep", col("quality_logit") >= 0.0)
  }

  /** Score-calibration (reliability) table + expected calibration error
    * for a classifier's scores against boolean labels — the measurement
    * half of the quality-filter family (t13 scores documents; this says
    * whether those scores can be TRUSTED as thresholds, the question every
    * filter-tuning pass asks before sweeping a cutoff).
    *
    * Scores are min-max normalized to [0, 1] over [lo, hi] first (clamped;
    * a monotone, transcendental-free stand-in for a fitted link function —
    * `exp` would differ across engines in the last ulp), so `conf` and
    * `acc` compare like with like. Fixed equal-width bins over the
    * normalized range; per bin: count, mean normalized score (`conf`),
    * positive fraction (`acc`); `ece6` = Σ n·|acc − conf| / N on the 1e-6
    * grid, repeated on every row.
    *
    * Cross-engine exactness: normalized scores snap to the 1e-6 grid
    * before the per-bin sum, so it is a BIGINT sum — order-independent;
    * `acc` is an integer ratio; each bin's ECE contribution snaps to the
    * grid BEFORE the cross-bin sum, again BIGINT. Scale shape: one
    * map-side-combinable aggregate to bin-count rows; the ECE window runs
    * over ≤`bins` rows.
    */
  def calibrationTable(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int,
      lo: Double,
      hi: Double): DataFrame = {
    require(bins > 0 && hi > lo, s"calibrationTable: need bins>0 and hi>lo")
    import org.apache.spark.sql.expressions.Window
    val ns = least(greatest(
      (col(scoreCol) - lit(lo)) / lit(hi - lo), lit(0.0)), lit(1.0))
    val per = scored
      .withColumn("__ns", ns)
      .withColumn("bin",
        least(floor(col("__ns") * lit(bins.toDouble)), lit((bins - 1).toDouble)).cast("int"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        sum(floor(col("__ns") * lit(1000000.0) + lit(0.5)).cast("bigint")).as("ss"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("conf", col("ss").cast("double") / col("n") / lit(1000000.0))
      .withColumn("acc", col("n_pos").cast("double") / col("n"))
      .withColumn("cs", floor(abs(col("acc") - col("conf")) * col("n") *
        lit(1000000.0) + lit(0.5)).cast("bigint"))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("ece6",
        (sum("cs").over(w).cast("double") / sum("n").over(w)) / lit(1000000.0))
      .select(col("bin"), col("n"), col("n_pos"), col("conf"), col("acc"), col("ece6"))
  }
}
