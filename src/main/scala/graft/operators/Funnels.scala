package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the `events` stream shape — the two
  * workhorse questions asked of any large behavioral corpus: "how far do
  * users get through an ordered step sequence?" (funnel) and "how many of
  * each arrival cohort come back k periods later?" (retention). Both are
  * pure integer/timestamp computations, so the gate rows carry full DuckDB
  * oracles.
  *
  * Scale shape (100 TB of events): every stage is a narrow per-user
  * aggregation or an equi-join on `user_id` — the natural hash-partition
  * key of an event store. The funnel's k steps cost k min-aggregations and
  * k−1 joins of ALREADY-AGGREGATED per-user frames (one row per user, not
  * per event — the event-sized frame is scanned once per step under a
  * pushed `event_type` filter); retention is two aggregations and one
  * join. Nothing is collected, broadcast beyond 1-row/step counts, or
  * quadratic.
  */
object Funnels {

  /** Ordered-funnel analysis: for each user, step i counts only if it
    * happens STRICTLY AFTER the user's completion of step i−1 (first
    * qualifying occurrence, the classic "unordered completions don't
    * count" rule). Returns one row per step — `(step, step_name, n_users,
    * conv_from_prev 6-dp)` — with step 1's denominator being every user
    * who performed it.
    */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      tsCol: String = "ts",
      userCol: String = "user_id",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel: need at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    // per-user first-completion time of each step, chained: one narrow
    // (user, t_i) frame per step; the event frame is re-scanned per step
    // with the type filter pushed to the source
    val firstFrames = steps.zipWithIndex.foldLeft(List.empty[DataFrame]) {
      case (acc, (step, i)) =>
        val stepEvents = events.where(col(typeCol) === step)
          .select(col(userCol).as("u"), col(tsCol).as("t"))
        val reached = acc match {
          case Nil => stepEvents.groupBy("u").agg(min(col("t")).as(s"t$i"))
          case prev :: _ =>
            stepEvents.join(prev.select(col("u"), col(s"t${i - 1}")), Seq("u"))
              .where(col("t") > col(s"t${i - 1}"))
              .groupBy("u").agg(min(col("t")).as(s"t$i"))
        }
        Materialize(reached) :: acc
    }.reverse
    val counts = firstFrames.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as("n")).select(lit(i + 1).as("step"),
        lit(steps(i)).as("step_name"), col("n").cast("long").as("n_users"))
    }.reduce(_ union _)
    val w = org.apache.spark.sql.expressions.Window.orderBy("step")
    counts
      .withColumn("prev_n", lag(col("n_users"), 1).over(w))
      .withColumn("conv_from_prev",
        when(col("prev_n").isNull || col("prev_n") === 0L, lit(null).cast("double"))
          .otherwise(Fp.grid6(col("n_users").cast("double") / col("prev_n"))))
      .select("step", "step_name", "n_users", "conv_from_prev")
  }

  /** Cohort retention: users cohort by the period (day-granularity bucket
    * of `periodDays` days since epoch) of their FIRST event; the matrix
    * counts distinct users of each cohort active again `offset` periods
    * later. Returns `(cohort_period, offset, n_users)` for offsets
    * `0..maxOffset` — offset 0 is the cohort size.
    */
  def retention(
      events: DataFrame,
      periodDays: Int = 7,
      maxOffset: Int = 8,
      tsCol: String = "ts",
      userCol: String = "user_id"): DataFrame = {
    require(periodDays >= 1 && maxOffset >= 0, "retention: bad period/offset")
    // integer period index: floor(days-since-epoch / periodDays) — the
    // same arithmetic is one expression in the oracle
    def period(c: org.apache.spark.sql.Column) =
      floor(datediff(to_date(c), lit("1970-01-01")) / periodDays).cast("long")
    val activity = events
      .select(col(userCol).as("u"), period(col(tsCol)).as("p"))
      .distinct()
    val firstP = activity.groupBy("u").agg(min(col("p")).as("cohort"))
    activity.join(firstP, Seq("u"))
      .withColumn("offset", (col("p") - col("cohort")).cast("long"))
      .where(col("offset") <= maxOffset)
      .groupBy("cohort", "offset")
      .agg(count(lit(1)).as("n_users")) // (u, p) distinct ⇒ count = distinct users
      .select(col("cohort").as("cohort_period"), col("offset"), col("n_users"))
  }
}
