package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Input-parallelism guard for CPU-heavy per-row stages (shingling, token
  * hashing, stemming, regex profiling).
  *
  * The problem (optimization guide §2.5, "input skew"): a scan whose input
  * arrives in fewer splits than the session has cores runs its ENTIRE
  * map-side stage — including every expensive expression fused above the
  * first exchange — at that split count. The bench's testdata is one
  * single-row-group parquet file per table, so every shingle/stem/regex
  * pass ran in ONE task while 31 cores idled; the same happens in
  * production whenever a corpus lands as a few big gzip/single-row-group
  * files.
  *
  * The fix is the guide's own: repartition immediately after the read —
  * but ONLY when the input is under-split. At real scale a corpus scan
  * arrives in >= cores splits and [[spread]] is a no-op (no extra
  * exchange); the branch is decided at plan time from the scan's actual
  * partition count, not from a constant, so the same code is right at
  * sf0.001 and at 100 TB.
  *
  * Hash-partitioning on the row id (not round-robin) keeps the move
  * deterministic under task retries (SPARK-38388 class of bugs) and avoids
  * round-robin's defensive per-partition sort. Every caller's result is
  * row-set identical under any partitioning (aggregates are commutative,
  * windows carry their own partition/order spec, outputs are re-sorted by
  * the query's ORDER BY), so spreading never changes what a query computes.
  */
object Spread {
  /** `df` hash-repartitioned across the session's cores when its planned
    * scan has fewer partitions; unchanged otherwise. Callers pass every
    * column that makes the hash key high-cardinality — an id alone is not
    * enough where a caller synthesizes a constant id (the decontaminate
    * benchmark side), so text columns ride along.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    // streaming frames can't be planned to an RDD up front (and micro-batches
    // arrive pre-partitioned by the source) — pass them through untouched
    if (df.isStreaming) return df
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (probePartitions(df) >= n) df else df.repartition(n, keys: _*)
  }

  def spread(df: DataFrame, key: String): DataFrame =
    spread(df, df.col(key))

  /** The partition count `df`'s scan will execute with — WITHOUT forcing
    * physical planning of `df` (r18; the r17 probe read
    * `df.rdd.getNumPartitions`, which runs the full optimizer+planner just
    * to read one int, discards that plan — the repartitioned frame replans
    * from scratch — and, with AQE on, `.rdd` on a frame containing an
    * Exchange would EXECUTE its query stages at probe time). Spread call
    * sites are scan-shaped (source, optionally wrapped in
    * project/filter/alias — none of which change the scan's split count),
    * so the count is read from the ANALYZED plan, which Dataset
    * construction has already produced:
    *   - file sources: Spark's own split arithmetic
    *     ([[org.apache.spark.sql.execution.datasources.FilePartition]]
    *     .maxSplitBytes + the getFilePartitions packing loop) over the
    *     relation's file listing — the listing comes from the relation's
    *     own cached FileIndex, which the later scan reuses;
    *   - RDD-backed frames (the test harness's `wellSplit`): the RDD's own
    *     partition count;
    *   - anything else (joins, aggregates, bucketed scans, non-file
    *     sources): fall back to the r17 probe — exact, just not free.
    */
  private[graft] def probePartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def walk(p: LogicalPlan): Option[Int] = p match {
      case l: LogicalRelation => l.relation match {
        // bucketed scans don't split by bytes (1 partition per bucket) —
        // leave them to the exact fallback
        case h: HadoopFsRelation if h.bucketSpec.isEmpty =>
          Some(fileScanPartitions(df, h))
        case _ => None
      }
      case r: LogicalRDD      => Some(r.rdd.getNumPartitions)
      case p: Project         => walk(p.child)
      case f: Filter          => walk(f.child)
      case s: SubqueryAlias   => walk(s.child)
      case v: View            => walk(v.child)
      case _                  => None
    }
    walk(df.queryExecution.analyzed)
      .getOrElse(df.rdd.getNumPartitions)
  }

  /** Replicates FileSourceScanExec's split count for an unbucketed file
    * relation: chop each file into maxSplitBytes ranges (parquet & co are
    * splittable; a compressed-text source over-counts here, which only
    * means spread stays a no-op — the conservative direction), then pack
    * ranges into partitions exactly as FilePartition.getFilePartitions
    * does (descending by size; close when size would overflow; each range
    * charged openCostInBytes).
    */
  private def fileScanPartitions(
      df: DataFrame,
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation): Int = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val session = df.sparkSession
    val dirs = rel.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(session, dirs)
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val splits = dirs.flatMap(_.files).map(_.getLen).filter(_ > 0L)
      .flatMap(len => (0L until len by maxSplit).map(off => math.min(maxSplit, len - off)))
      .sortBy(-_)
    var nParts = 0
    var cur = 0L
    var curFiles = 0
    splits.foreach { s =>
      if (cur + s > maxSplit && curFiles > 0) { nParts += 1; cur = 0L; curFiles = 0 }
      cur += s + openCost
      curFiles += 1
    }
    if (curFiles > 0) nParts += 1
    nParts
  }
}
