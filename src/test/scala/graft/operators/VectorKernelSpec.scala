package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The vector expressions' interpreted eval and generated code call one
  * kernel each, so both evaluation modes return the same rows on the edge
  * inputs: NaN, ±inf, exact ties and NULL elements. The source is parquet,
  * not a local relation, which the optimizer would fold through the
  * interpreted path alone.
  */
class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  private def underMode(mode: String, wholeStage: Boolean)(f: => Seq[Row]): Seq[Row] = {
    spark.conf.set("spark.sql.codegen.factoryMode", mode)
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    try f
    finally Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      .foreach(spark.conf.unset)
  }

  test("top_centroids and dot_product return the same rows with and without codegen") {
    val inf = Double.PositiveInfinity
    val vecs: Seq[(Int, Seq[Option[Double]])] = Seq(
      0 -> Seq(Some(Double.NaN), Some(1.0)), // both scores NaN
      1 -> Seq(Some(-inf), Some(-inf)),      // both scores NaN (inf * 0)
      2 -> Seq(Some(inf), Some(1.0)),        // scores (inf, NaN)
      3 -> Seq(Some(-inf), Some(0.0)),       // scores (-inf, NaN)
      4 -> Seq(Some(1.0), Some(1.0)),        // exact tie
      5 -> Seq(Some(0.5), Some(2.0)),
      6 -> Seq(None, Some(1.0)))             // a NULL element counts as 0
    val dir = java.nio.file.Files.createTempDirectory("graft-vec-kernels").resolve("v").toString
    vecs.toDF("id", "v").write.parquet(dir)
    def rows(): Seq[Row] = spark.read.parquet(dir)
      .select(col("id"),
        VectorFunctions.topCentroids(col("v"), Array(Array(1.0, 0.0), Array(0.0, 1.0)), 2).as("top"),
        VectorFunctions.dotProduct(col("v"), col("v")).as("dot"))
      .collect().toSeq.sortBy(_.getInt(0))
    val generated = underMode("CODEGEN_ONLY", wholeStage = true)(rows())
    val interpreted = underMode("NO_CODEGEN", wholeStage = false)(rows())
    assert(generated == interpreted)
    // score descending, ties to the lowest id, NaN last
    assert(generated.map(_.getSeq[Int](1)) == Seq(
      Seq(0, 1), Seq(0, 1), Seq(0, 1), Seq(0, 1), Seq(0, 1), Seq(1, 0), Seq(1, 0)))
    assert(generated(4).getDouble(2) == 2.0 && generated(0).getDouble(2).isNaN &&
      generated(6).isNullAt(2))
  }
}
