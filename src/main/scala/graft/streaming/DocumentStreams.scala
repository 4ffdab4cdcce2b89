package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Streaming ingest for a document corpus — the live-path counterpart of
  * [[graft.operators.TrainingPipeline.curate]] (additive north-star scope;
  * the reference has no streaming surface). Input shape: (doc_id, ts, text)
  * where `ts` is ingest event time.
  *
  * Every transform works identically on a `readStream` frame and a batch
  * frame (backfill path): annotation is pure per-row Column expressions
  * (codegen'd, stateless), dedup and stats carry watermarks so state stays
  * bounded on an unbounded stream. Near-dup removal has no bounded-state
  * streaming form (a near-dup can arrive arbitrarily late); the intended
  * topology is annotate+filter+exact-dedup on the live path, with the
  * LSH near-dup pass running as a periodic batch compaction over the sink —
  * the standard lambda split for training-data ingest.
  */
object DocumentStreams {

  /** Per-row annotation: language, quality score, token counts, fingerprint —
    * stateless map, safe on any stream without a watermark.
    */
  def annotate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val stats = TextFunctions.qualityStats(col(textCol))
    docs
      .withColumn("pred_lang", TextFunctions.langId(col(textCol)))
      .withColumns(stats.map { case (n, c) => n -> c }.toMap)
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
  }

  /** Live curation: annotate, drop low-quality docs, and drop exact
    * duplicates whose fingerprint+length was already seen within the
    * watermark horizon. Dedup state is evicted past the watermark — the
    * property that makes this runnable indefinitely. (fp, n_chars_calc) is
    * the dedup key: 32+8 bytes of state per doc instead of the full text,
    * at a vanishing false-positive rate for the 31-bit rolling hash plus
    * exact length.
    */
  def curateStream(
      docs: DataFrame,
      watermark: String,
      minQuality: Double,
      textCol: String = "text"): DataFrame = {
    val filtered = annotate(docs, textCol).where(col("quality_score") >= minQuality)
    if (docs.isStreaming)
      filtered
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("fp", "n_chars_calc")
    else
      // batch backfill of the same pipeline (Spark rejects
      // dropDuplicatesWithinWatermark on batch frames): the horizon covers
      // the whole bounded input → plain dedup on the same keys
      filtered.dropDuplicates("fp", "n_chars_calc")
  }

  /** Tumbling-window corpus statistics per detected language: doc counts,
    * total/mean document length — the live monitoring aggregate for an
    * ingest pipeline (watch a crawl go bad in minutes, not after the batch
    * job). Windowed + watermarked, so state closes as time advances.
    */
  def corpusStats(docs: DataFrame, windowLen: String, watermark: String,
      textCol: String = "text"): DataFrame =
    annotate(docs, textCol)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("pred_lang"))
      // mean via an exact decimal sum + one double division: retry-stable
      // and engine-comparable regardless of partial-aggregation order (a
      // plain double avg drifts in the last ulps with partition order)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars_calc").as("total_chars"),
        (sum(col("quality_score").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("mean_quality"))
      .select(col("w.start").as("window_start"), col("pred_lang"),
        col("n_docs"), col("total_chars"), col("mean_quality"))

  /** Tumbling-window token counts — the heavy-hitter feed for live corpus
    * monitoring (what vocabulary is the crawl ingesting right now?).
    * Stateless explode + watermarked windowed count, so state closes as
    * event time advances. The per-window TOP-K cut is
    * [[topTokensPerWindow]], applied downstream: a rank needs the window
    * CLOSED — in streaming that's a `foreachBatch` over this aggregate's
    * append output, in batch it composes directly (same code both ways).
    * At 100 TB/day the exact per-(window, token) count is one shuffle on a
    * key whose cardinality is window × vocabulary — bounded — and the
    * SpaceSaving sketch (t05) is the fallback when even that is too wide.
    */
  def windowTokenCounts(docs: DataFrame, windowLen: String, watermark: String,
      textCol: String = "text"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(filter(split(col(textCol), " ", -1),
        t => length(t) > lit(0))).as("token"))
      .groupBy(window(col("ts"), windowLen).as("w"), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("token"), col("n"))

  /** Tumbling-window per-source token totals — the mixture-monitoring feed:
    * is the live crawl still delivering the data mix training expects?
    * Stateless per-row token count + watermarked windowed aggregate, the
    * [[corpusStats]] state story. Share/deviation need the window CLOSED
    * (they divide by the window total): that stage is [[mixtureDrift]],
    * a `foreachBatch` step in streaming, direct composition in batch.
    */
  def windowSourceTokens(docs: DataFrame, windowLen: String, watermark: String,
      textCol: String = "text", sourceCol: String = "source"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(filter(split(coalesce(col(textCol), lit("")), " ", -1),
          t => length(t) > lit(0))).cast("long")).as("toks"))
      .select(col("w.start").as("window_start"), col("source"),
        col("n_docs"), col("toks"))

  /** Mixture-drift verdicts over CLOSED windows: observed per-source token
    * share vs the target mixture, deviation, and an alert flag when the
    * share drifts past `tolerance` — or when a source absent from the
    * target spec appears at all (a new crawl source is always an alert).
    * Downstream of [[windowSourceTokens]]; the window total is one
    * partitioned window sum (cardinality = windows x sources, bounded), so
    * nothing corpus-sized shuffles here. Shares/deviations land on the
    * [[graft.operators.Fp.grid6]] exact-IEEE 6-decimal grid — `round(x, 6)`
    * is NOT cross-engine stable (see Fp's scaladoc), the grid is.
    */
  def mixtureDrift(
      sourceTokens: DataFrame,
      targetShares: Seq[(String, Double)],
      tolerance: Double): DataFrame = {
    require(targetShares.nonEmpty && targetShares.map(_._1).distinct.size == targetShares.size,
      "mixtureDrift: target shares must be non-empty and unique per source")
    require(tolerance > 0, s"mixtureDrift: tolerance must be positive, got $tolerance")
    val target = targetShares.foldLeft(lit(null).cast("double")) { case (acc, (g, p)) =>
      when(col("source") === g, lit(p)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("window_start")
    sourceTokens
      .withColumn("share",
        graft.operators.Fp.grid6(
          col("toks").cast("double") / sum(col("toks")).over(w).cast("double")))
      .withColumn("target_share", target)
      .withColumn("deviation",
        when(col("target_share").isNotNull,
          graft.operators.Fp.grid6(col("share") - col("target_share"))))
      .withColumn("drifted",
        col("target_share").isNull || abs(col("deviation")) > tolerance)
  }

  /** Per-window top-k by (count desc, token asc) over CLOSED windows —
    * the batch/foreachBatch rank stage downstream of
    * [[windowTokenCounts]]. */
  def topTokensPerWindow(counts: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"topTokensPerWindow: k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("n").desc, col("token").asc)
    counts.withColumn("rank", row_number().over(w).cast("int")).where(col("rank") <= k)
  }

  /** BOUNDED-HORIZON streaming near-dup pair detection — the live
    * counterpart of [[graft.operators.Dedup.minhashLshPairsMd5]], refining
    * the lambda split documented on this object: a near-dup arriving
    * arbitrarily late still belongs to the periodic batch compaction, but
    * the common case — the same article crawled twice within minutes — is
    * detectable live with bounded state, as pairs whose event times lie
    * within `horizon` of each other.
    *
    * Topology: one stream-stream self-join, no custom state.
    *   - the banded md5-MinHash frame (codegen'd kernels, string buckets)
    *     is the join key — the LSH blocking IS the equi-join, exactly the
    *     batch operator's plan streaming-ized;
    *   - the time-range condition (`ts_a <= ts_b <= ts_a + horizon`) plus
    *     the per-side watermark bound the join state to horizon-worth of
    *     banded rows per side (times `bands` copies, each carrying its
    *     signature and shingle-hash set for in-join verification — the
    *     documented state cost of avoiding a second stateful operator);
    *   - a pair that agrees in several bands would emit once per band, so
    *     the join keeps only the FIRST agreeing band — computable from the
    *     two signatures already in the joined row, which makes emission
    *     exactly-once per pair without chaining a streaming distinct;
    *   - verification is the exact rounded Jaccard on the md5 shingle-hash
    *     sets, the d19 arithmetic — so the batch face of this operator is
    *     fully DuckDB-statable.
    *
    * The SAME plan serves the batch backfill (`withWatermark` is a no-op
    * on batch frames), which is what the driver gate hash-checks.
    */
  def nearDupPairsStream(
      docs: DataFrame,
      watermark: String,
      horizon: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val frame = graft.operators.Dedup.md5MinhashFrame(
      docs, idCol, textCol, shingleSize, numHashes, keepCols = Seq("ts"))
    // hs/sig ride on every banded row (not re-joined post-banding — that
    // would be a second stateful join on a stream); this is the state-cost
    // trade the scaladoc documents
    val banded = graft.operators.Dedup.md5BandBuckets(
      frame, bands, rows, keepCols = Seq("ts", "hs", "sig"))
      .withWatermark("ts", watermark)
    // (earlier, later) orientation: ts order with id tiebreak; horizon caps
    // the lookback so state evicts
    val pairCond =
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("b.ts") >= col("a.ts") &&
        col("b.ts") <= col("a.ts") + expr(s"INTERVAL $horizon") &&
        (col("a.ts") < col("b.ts") ||
          (col("a.ts") === col("b.ts") && col("a.id") < col("b.id")))
    // exactly-once: emit only from the first band whose signature slices
    // agree (bucket equality ≡ slice equality, so the emitting band always
    // sees itself). Codegen'd early-exit kernel — the r9 first cut spelled
    // this as an interpreted filter(sequence, slice === slice) chain
    // re-evaluated per joined candidate and benched 3x slower.
    val firstBand = graft.functions.ShingleFunctions.firstAgreeingBand(
      col("a.sig"), col("b.sig"), rows)
    val inter = graft.functions.ShingleFunctions.intersectCount(col("a.hs"), col("b.hs"))
    banded.as("a").join(banded.as("b"), pairCond)
      .where(col("a.band") === firstBand)
      .withColumn("jaccard", round(inter.cast("double") /
        (size(col("a.hs")) + size(col("b.hs")) - inter), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jaccard"))
  }

  /** Streaming face of the PERSISTED dedup index
    * ([[graft.operators.Dedup.writeMinhashIndex]]): admit each micro-batch
    * of arriving documents that has no near-dup in the index, appending
    * survivors to a parquet sink. Runs through `foreachBatch` — the
    * documented Spark pattern for per-trigger logic the streaming planner
    * cannot express (the increment dedup needs a localCheckpoint and an
    * anti-join against a batch-derived aggregate). Each trigger is exactly
    * the batch [[graft.operators.Dedup.incrementalDedupMd5]], so stream
    * and backfill share one definition; `admitToIndex = true` additionally
    * [[graft.operators.Dedup.appendMinhashIndex]]es the survivors, making
    * LATER micro-batches dedup against EARLIER ones — the full operational
    * loop (corpus grows, index grows with it, nothing recomputes).
    *
    * Restart semantics: foreachBatch re-delivers an uncommitted batch with
    * the same batchId after a crash. The sink is IDEMPOTENT under that —
    * including with `admitToIndex = true`, where the crash window lands
    * AFTER the index append committed: the increment probe excludes index
    * candidates whose id is in the batch itself (see
    * [[graft.operators.Dedup.incrementalDedupMd5]]), so a re-delivered
    * survivor never self-matches its own admitted copy, the survivor set
    * is reproduced exactly, and the dynamic partition overwrite of
    * `batch_id=<id>` replaces the partition with identical content (spec
    * re-runs the batch body both ways and proves the sink unchanged). The
    * index append is re-delivery-SAFE rather than idempotent: duplicate
    * index rows cost storage, never correctness — candidates are
    * `.distinct()`ed and a duplicated hs row yields the identical verdict
    * for every candidate pair.
    */
  def incrementalDedupStream(
      docs: DataFrame,
      indexTable: String,
      sinkPath: String,
      checkpoint: String,
      admitToIndex: Boolean = false,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      buckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBatchBody(batch, batchId, indexTable, sinkPath, admitToIndex,
          idCol, textCol, shingleSize, numHashes, bands, threshold, buckets)
      }
      .start()

  /** The foreachBatch body, exposed so the idempotence spec can invoke it
    * directly with a repeated batchId (simulating crash re-delivery, which
    * a clean MemoryStream run never produces).
    */
  private[streaming] def dedupBatchBody(
      batch: DataFrame, batchId: Long,
      indexTable: String, sinkPath: String, admitToIndex: Boolean,
      idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int, threshold: Double,
      buckets: Int): Unit = {
    val spark = batch.sparkSession
    val survivors = graft.operators.Materialize(graft.operators.Dedup.incrementalDedupMd5(
      spark, batch, idCol, textCol, indexTable,
      shingleSize, numHashes, bands, threshold))
    survivors.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic") // replace ONLY this batch's partition
      .partitionBy("batch_id")
      .parquet(sinkPath)
    if (admitToIndex)
      graft.operators.Dedup.appendMinhashIndex(spark, survivors,
        idCol, textCol, indexTable, shingleSize, numHashes, bands, buckets)
  }
}
