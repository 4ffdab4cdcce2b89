package graft.operators

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object MaterializeSpec {
  /** Rows the counting UDFs evaluated, JVM-wide (the test session is local). */
  val evaluated = new AtomicLong

  /** Counts each row; row 0 also sleeps, so its partition is still being
    * computed when a concurrent job reaches it.
    */
  val countingId = udf { (x: Long) =>
    evaluated.incrementAndGet()
    if (x == 0L) Thread.sleep(300)
    x
  }.asNondeterministic()
  val countingText = udf { (t: String) => evaluated.incrementAndGet(); t }.asNondeterministic()
}

/** The guarantees of [[Materialize]]: a materialized frame's source rows
  * are evaluated once, however many concurrent jobs read the frame, and
  * [[Materialize.by]] returns a fully stored frame even after a partial
  * first pass.
  */
class MaterializeSpec extends SparkSpec {
  import MaterializeSpec._

  /** `n` rows in 2 partitions, each row evaluated through the counting UDF. */
  private def source(n: Int): DataFrame =
    spark.range(0, n, 1, 2).select(countingId(col("id")).as("id"), (col("id") % 7).as("g"))

  /** Source rows evaluated while `body` runs. */
  private def evaluations(body: => Unit): Long = {
    val before = evaluated.get
    body
    evaluated.get - before
  }

  test("eager: a self-join plus a union under AQE evaluates each source row once") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    var frame: DataFrame = null
    var rows = 0L
    // no broadcast: the join's two sides are two shuffle stages, which AQE
    // submits as concurrent jobs over the same frame
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val n = try evaluations {
      frame = Materialize(source(1000))
      val pairs = frame.as("a").join(frame.as("b"), col("a.g") === col("b.id"))
        .select(col("a.id").as("id"))
      rows = pairs.union(frame.select("id")).count()
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // each of the 1000 rows has g in 0..6, which matches exactly one id
    assert(rows == 2000L)
    assert(n == 1000L, s"source rows evaluated $n times for 1000 rows")
    assert(Materialize.isMaterialized(frame))
  }

  test("by: a partial first pass returns its result and leaves the frame fully stored") {
    val passes: Seq[(String, DataFrame => Any, Any)] = Seq(
      ("isEmpty", _.isEmpty, false),
      ("limit(1)", _.limit(1).collect().length, 1))
    for ((name, pass, expected) <- passes) {
      var frame: DataFrame = null
      val n = evaluations {
        val (f, result) = Materialize.by(source(1000))(pass)
        assert(result == expected, name)
        frame = f
      }
      assert(n == 1000L, s"$name: source rows evaluated $n times for 1000 rows")
      assert(Materialize.isMaterialized(frame), s"$name: frame not checkpointed")
      assert(evaluations(assert(frame.count() == 1000L)) == 0L, s"$name: second action recomputed")
    }
  }

  test("by: a pass that reads the frame only through a later checkpoint still stores it") {
    var outer: DataFrame = null
    val n = evaluations {
      val (o, (_, groups)) = Materialize.by(source(1000))(s =>
        Materialize.by(s.groupBy("g").count())(_.count()))
      assert(groups == 7L)
      outer = o
    }
    assert(n == 1000L, s"source rows evaluated $n times for 1000 rows")
    assert(Materialize.isMaterialized(outer))
    assert(evaluations(assert(outer.count() == 1000L)) == 0L)
  }

  test("curate on sf0.001 evaluates each input row's text once") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = docs.count()
    val n = evaluations {
      val out = TrainingPipeline.curate(docs.withColumn("text", countingText(col("text"))),
        minQuality = 0.2, jaccardThreshold = 0.8, clusterDedup = true).collect()
      assert(out.nonEmpty)
    }
    assert(n == rows, s"text evaluated $n times for $rows rows")
  }

  test("Warehouse mode: the parquet round trip keeps every row") {
    val dir = java.nio.file.Files.createTempDirectory("materialize_wh").toFile
    try {
      val df = spark.range(0, 200, 1, 4).select(col("id"), (col("id") * 3).as("v"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"))
      val back = Materialize(df, Materialize.Warehouse(s"$dir/stage"))
      assert(back.inputFiles.nonEmpty && back.inputFiles.forall(_.contains(dir.getName)))
      assert(back.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
      assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
      assert(!Materialize.isMaterialized(back))
      assert(Materialize.isMaterialized(Materialize(df, Materialize.Checkpoint)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
