package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.QueryDef
import graft.operators._
import graft.functions.{TextFunctions, TopKTokens}

/** Custom-operator query inventory: as-of/positional joins (SURVEY §2.C ⚠️
  * rows) and the north-star LLM-pipeline ops (dedup, similarity, text
  * analysis, multimodal). Exact/deterministic ops carry DuckDB oracles;
  * approximate ops (MinHash-LSH, SimHash, ANN-LSH) are rows-only here and
  * recall-checked against their exact counterparts in the specs.
  */
object OpsEntry {

  private def withTables(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => { Tables.register(s, dir); f(s, dir) }

  /** The documents table, spread across the session's cores before the
    * per-row CPU-heavy text batteries (regex profiling, token scoring):
    * the testdata corpus is one single-row-group parquet file, so without
    * this every map-side battery ran in ONE task ([[operators.Spread]]
    * scaladoc; a well-split corpus makes it a no-op). Used by the rows
    * whose dominant cost is map-side text work — thin projections don't
    * bother.
    */
  private def spreadDocs(s: SparkSession): DataFrame =
    Spread.spread(s.table("documents"), "doc_id")

  /** The session the fixed-model trainers below train on. Verify's JVM
    * always has one; a cold caller (e.g. the driver reading oracleSql in a
    * fresh JVM) gets a small local one rather than an exception — training
    * must succeed wherever the oracle map is materialized, or the whole
    * correctness gate would zero out.
    */
  private def trainingSession(): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false").getOrCreate())

  /** Trained centroids for the fixed-centroid oracle-parity family
    * (d21/d22), cached per sfDir: the SAME doubles must reach the Spark
    * query and the generated DuckDB SQL, and training is deterministic
    * given the data ([[Similarity.trainCentroids]] — fixed sample, init and
    * iteration count), so one training per (JVM, sfDir) serves both.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  private[graft] def fixedCentroids(sfDir: String): Array[Array[Double]] =
    centroidCache.computeIfAbsent(sfDir, dir => {
      Similarity.trainCentroids(
        trainingSession().read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", nCentroids = 16)
    })

  /** `(cid, cent)` VALUES rows for `{IVF_CENTROIDS}`: Double.toString is
    * the shortest round-trip decimal form, so DuckDB parses back the
    * bit-identical doubles Spark computes with.
    */
  private[graft] def centroidValuesSql(sfDir: String): String =
    fixedCentroids(sfDir).zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")

  /** d25's trained PQ codebooks (8 subspaces × 16 centroids at dim 64),
    * cached per sfDir — same determinism story as [[fixedCentroids]].
    */
  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()

  private[graft] def fixedPqCodebooks(sfDir: String): Array[Array[Array[Double]]] =
    pqCodebookCache.computeIfAbsent(sfDir, dir => {
      Similarity.trainPqCodebooks(
        trainingSession().read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", m = 8, kCent = 16)
    })

  /** `(s, c, cent)` VALUES rows for `{PQ_CODEBOOKS}`. */
  private[graft] def pqCodebookValuesSql(sfDir: String): String = {
    val cb = fixedPqCodebooks(sfDir)
    (for (s <- cb.indices; c <- cb(s).indices)
      yield s"($s, $c, [${cb(s)(c).mkString(", ")}]::DOUBLE[])").mkString(", ")
  }

  /** t10's trained unigram LM, cached per sfDir — same determinism story
    * as [[fixedCentroids]], applied to text.
    */
  private val lmCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Double)], Double)]()

  private[graft] def fixedUnigramLm(sfDir: String): (Seq[(String, Double)], Double) =
    lmCache.computeIfAbsent(sfDir, dir => {
      TextFunctions.trainUnigramLm(
        trainingSession().read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    })

  /** DuckDB `map(...)` literal for `{LM_VOCAB}` + the OOV log-prob for
    * `{LM_OOV}`: the SAME doubles the Spark map literal carries, so the
    * score arithmetic is term-identical in both engines.
    */
  private[graft] def lmVocabSql(sfDir: String): String = {
    val (v, _) = fixedUnigramLm(sfDir)
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    s"map([${v.map(t => q(t._1)).mkString(", ")}], [${v.map(_._2).mkString(", ")}])"
  }

  private[graft] def lmOovSql(sfDir: String): String =
    fixedUnigramLm(sfDir)._2.toString

  /** c10's trained DSIR log-ratio array, cached per sfDir — the
    * [[fixedUnigramLm]] determinism story applied to importance weights
    * (target = English docs, raw = whole corpus, both bounded ordered
    * samples).
    */
  private val dsirCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private[graft] def fixedDsirRatios(sfDir: String): Array[Double] =
    dsirCache.computeIfAbsent(sfDir, dir => {
      graft.operators.TrainingPipeline.trainDsirLogRatios(
        trainingSession().read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        targetPred = col("lang") === "en")
    })

  /** DuckDB `[...]::DOUBLE[]` literal for `{DSIR_RATIOS}` — the SAME
    * doubles the Spark array literal carries.
    */
  private[graft] def dsirRatiosSql(sfDir: String): String =
    s"[${fixedDsirRatios(sfDir).mkString(", ")}]::DOUBLE[]"

  /** t13's trained quality-classifier model, cached per sfDir — same
    * determinism story as [[fixedDsirRatios]]. The synthetic corpus draws
    * every language from one vocabulary, so the lang=en label is mostly
    * noise and the learned weights are small: the gate row pins the
    * train→score PATH bit-exactly, while TrainingPipelineSpec proves the
    * trainer actually learns on separable data.
    */
  private val qcCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Double], Double)]()

  private[graft] def fixedQualityModel(sfDir: String): (Array[Double], Double) =
    qcCache.computeIfAbsent(sfDir, dir => {
      graft.operators.TrainingPipeline.trainQualityClassifier(
        trainingSession().read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        labelPred = col("lang") === "en")
    })

  private[graft] def qcWeightsSql(sfDir: String): String =
    s"[${fixedQualityModel(sfDir)._1.mkString(", ")}]::DOUBLE[]"

  private[graft] def qcBiasSql(sfDir: String): String =
    fixedQualityModel(sfDir)._2.toString

  /** d23's probe frame: per query (vec_id < maxQueryId), the nProbe best
    * centroids under the same rounded ranking the assignment uses.
    */
  private def probesToFixedCentroids(
      s: SparkSession, dir: String, maxQueryId: Long, nProbe: Int): DataFrame = {
    import s.implicits._
    val centDf = fixedCentroids(dir).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cent")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cid").asc)
    s.table("embeddings")
      .where(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("sim", round(Similarity.cosine(col("qv"), col("cent")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= nProbe)
      .select(col("query_id"), col("cid"), col("qv"))
  }

  /** d24's hyperplanes: the SAME deterministic seeded planes the production
    * LSH kernel uses ([[Similarity.lshPlane]] — 8 tables × 4 planes at dim
    * 64), shared by the Spark query and the generated DuckDB VALUES rows.
    */
  private lazy val lshPlaneRows: Seq[(Int, Int, Seq[Double])] =
    for (t <- 0 until 8; p <- 0 until 4)
      yield (t, p, Similarity.lshPlane(t, p, 64))

  private lazy val lshPlanesSql: String =
    lshPlaneRows.map { case (t, p, plane) =>
      s"($t, $p, [${plane.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")

  /** Shared d24/d28 parity bucketing: per (id, table), the rounded-sign-bit
    * bucket under [[lshPlaneRows]] — ONE definition so the two parity rows
    * can never silently drift onto different rules.
    */
  private def lshSignBitBuckets(s: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import s.implicits._
    val planesDf = lshPlaneRows.toDF("tbl", "p", "plane")
    df.crossJoin(broadcast(planesDf))
      .groupBy(col(idCol), col("tbl"))
      .agg(sum(when(round(Similarity.cosine(col("v"), col("plane")), 6) > 0,
        expr("shiftleft(cast(1 as bigint), p)")).otherwise(0L)).as("bucket"))
  }

  /** Shared d21/d22 assignment frame: per vector, the 6-dp-rounded cosine
    * argmax centroid with the lowest-cid tiebreak — the SQL-statable
    * assignment rule (the production ANN ops use the full-precision
    * topCentroids kernel instead; ties below 1e-6 are the only possible
    * divergence, and the rounding makes both engines see the same ones).
    */
  private def assignedToFixedCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val centDf = fixedCentroids(dir).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cid", "cent")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("cid").asc)
    s.table("embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(centDf))
      .withColumn("sim", round(Similarity.cosine(col("v"), col("cent")), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("sim").as("cent_sim"), col("v"))
  }

  /** The d36/d41 probe: top-5 rounded-cosine neighbors of queries 0..9
    * over a PERSISTED partitioned index table — the broadcast probe side
    * seeds dynamic partition pruning on the cid directories (pinned in
    * PlanQualitySpec), so the scan touches only probed centroids no matter
    * how the index was built (one write or many appends).
    */
  private def ivfIndexProbe(s: SparkSession, dir: String, idxTable: String): DataFrame = {
    val idx = s.table(idxTable)
    val probes = probesToFixedCentroids(s, dir, maxQueryId = 10, nProbe = 4)
    val scored = idx.join(broadcast(probes), Seq("cid"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Similarity.cosine(col("qv"), col("v")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Shared d36/d41 oracle: the full-corpus IVF probe in SQL — d41's grown
    * (base + appended delta) index holds exactly the full corpus, so
    * append ≡ rebuild is checked by hashing both rows against the SAME
    * statement.
    */
  private val ivfIndexProbeOracleSql: String =
    """WITH cent_t(cid, cent) AS (VALUES {IVF_CENTROIDS}),
      |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |scored AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cent), 6) AS sim
      |           FROM v CROSS JOIN cent_t),
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      |    FROM scored) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      |    FROM scored WHERE vec_id < 10) WHERE rn <= 4),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.v, c.v), 6) AS sim
      |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
      |  JOIN v q ON q.vec_id = p.query_id JOIN v c ON c.vec_id = a.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM cand)
      |SELECT query_id, neighbor_id, sim, cast(rank AS int) AS rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB SQL mirroring [[TextFunctions.langId]] (stopword-hit argmax with
    * the same precedence order) — shared by the t01 and p01 oracles.
    */
  private lazy val langIdCaseSql: String = {
    def hits(l: String) = {
      val words = TextFunctions.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_intersect(string_split_regex(lower(text), '\\s+'), [$words]))"
    }
    s"""CASE WHEN ${hits("en")} >= ${hits("de")} AND ${hits("en")} >= ${hits("fr")} AND ${hits("en")} >= ${hits("es")} AND ${hits("en")} >= ${hits("zh")} THEN 'en'
       |     WHEN ${hits("de")} >= ${hits("fr")} AND ${hits("de")} >= ${hits("es")} AND ${hits("de")} >= ${hits("zh")} THEN 'de'
       |     WHEN ${hits("fr")} >= ${hits("es")} AND ${hits("fr")} >= ${hits("zh")} THEN 'fr'
       |     WHEN ${hits("es")} >= ${hits("zh")} THEN 'es'
       |     ELSE 'zh' END""".stripMargin
  }

  /** DuckDB SQL for [[TextFunctions.qualityStats]]' quality_score (the t02
    * oracle's formula) — shared by the p01 oracle.
    */
  private val qualityScoreSql: String =
    """least(1.0, len(string_split_regex(text, '\s+')) / 20.0)
      |  * (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE / length(text))
      |  * (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text))""".stripMargin

  /** DuckDB SQL replicating [[Dedup.minhashLshPairsMd5]]'s whole pipeline —
    * 28-bit md5 shingle hashes, the same 64 (a·h+b) mod p signature mins
    * (params stamped from the same seeded generator), string band buckets,
    * exact-Jaccard verify — so the d19 gate row hash-checks the ENTIRE
    * MinHash+LSH pipeline cross-engine, the d15 pattern for this family.
    */
  /** The 64 signature-min SQL expressions, stamped from the same seeded
    * params the engine uses — shared by the d19 and d20 oracles.
    */
  private lazy val md5SigSqlEntries: String = {
    val (a, b) = Dedup.hashParams(64)
    (0 until 64).map(j =>
      s"list_min(list_transform(hs, h -> (${a(j)}*h + ${b(j)}) % 2147483647))")
      .mkString(",\n    ")
  }

  private lazy val minhashMd5OracleSql: String = {
    val sigEntries = md5SigSqlEntries
    s"""WITH sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_distinct(list_transform(range(len(w) - 2),
       |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
       |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 3),
       |sig AS (SELECT doc_id, hs, [
       |    $sigEntries] AS sig FROM sh),
       |banded AS (
       |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
       |  FROM sig, unnest(range(32)) AS t(band)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id),
       |v AS (
       |  SELECT c.id_a, c.id_b,
       |    round(len(list_intersect(p.hs, q.hs))::DOUBLE /
       |      (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) AS jaccard
       |  FROM cand c JOIN sh p ON p.doc_id = c.id_a JOIN sh q ON q.doc_id = c.id_b)
       |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  def defs: Vector[QueryDef] = Vector(
    QueryDef(
      "a01_asof_join",
      withTables { (s, _) =>
        val events = s.table("events")
        val purchases = events.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        AsofJoin.backward(
          events.select("event_id", "user_id", "ts"),
          purchases,
          by = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          rightPayload = Seq("purchase_value"), joinType = "inner")
          .select(col("event_id"), col("user_id"), col("purchase_value"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, p.purchase_value
        |FROM events e ASOF JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef(
      "a04_asof_join_sql",
      withTables { (s, _) =>
        // the SQL-text face of a01: the `asof join` stage is parsed by
        // AsofSql and executed through the same union+window plan. Right
        // side pre-aggregated per (user_id, ts) like a01, time column
        // renamed so it survives as payload-adjacent rather than colliding
        s.table("events").where(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
          .withColumnRenamed("ts", "pts")
          .createOrReplaceTempView("purchases_v")
        Psqlish(s,
          """from events |> select event_id, user_id, ts |>
            |as e asof join purchases_v as p on e.user_id = p.user_id and e.ts >= p.pts |>
            |select event_id, user_id, purchase_value |>
            |order by event_id""".stripMargin)
      },
      Some("""WITH p AS (SELECT user_id, ts AS pts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, p.purchase_value
        |FROM events e ASOF JOIN p ON e.user_id = p.user_id AND e.ts >= p.pts
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef(
      "a06_asof_join_strict",
      withTables { (s, _) =>
        // strict backward as-of (`>` — equal-time right rows do NOT match),
        // through the SQL stage; DuckDB runs its native strict ASOF JOIN.
        // Right side unique per (user_id, pts) so the payload is determined.
        s.table("events").where(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
          .withColumnRenamed("ts", "pts")
          .createOrReplaceTempView("purchases_strict_v")
        Psqlish(s,
          """from events |> select event_id, user_id, ts |>
            |as e asof left join purchases_strict_v as p on e.user_id = p.user_id and e.ts > p.pts |>
            |select event_id, user_id, purchase_value |>
            |order by event_id""".stripMargin)
      },
      Some("""WITH p AS (SELECT user_id, ts AS pts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, p.purchase_value
        |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts > p.pts
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef(
      "a02_positional_join",
      withTables { (s, _) =>
        val l = s.table("customer").select("c_custkey").orderBy(col("c_custkey").asc).limit(100)
        val r = s.table("orders").select("o_orderkey").orderBy(col("o_orderkey").desc).limit(100)
        PositionalJoin.join(l, r)
      },
      Some("""SELECT c_custkey, o_orderkey
        |FROM (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 100)
        |POSITIONAL JOIN (SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 100)""".stripMargin)),

    QueryDef(
      "a05_positional_join_sql",
      withTables { (s, _) =>
        // SQL-text face of a02: the `positional join` stage zips the piped
        // result with the named view row-by-row
        s.table("customer").select("c_custkey").orderBy(col("c_custkey").asc).limit(100)
          .createOrReplaceTempView("pos_l_v")
        s.table("orders").select("o_orderkey").orderBy(col("o_orderkey").desc).limit(100)
          .createOrReplaceTempView("pos_r_v")
        Psqlish(s, "from pos_l_v |> order by c_custkey |> positional join pos_r_v")
      },
      Some("""SELECT c_custkey, o_orderkey
        |FROM (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 100)
        |POSITIONAL JOIN (SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 100)""".stripMargin)),

    QueryDef(
      "a24_asof_statement",
      withTables { (s, _) =>
        // the STATEMENT spelling of a04 (r17): `SELECT … FROM X ASOF JOIN
        // Y ON …` without pipes, lowered by AsofSql.lowerStatement onto
        // the same union+window plan. Loudness contract rides along:
        // before r17 Spark would parse ASOF as a relation alias and
        // theta-join every match silently.
        s.table("events").where(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
          .withColumnRenamed("ts", "pts")
          .createOrReplaceTempView("purchases_a24")
        graft.psql.Psql(s).sql(
          """SELECT event_id, purchase_value
            |FROM events ASOF JOIN purchases_a24 p
            |  ON events.user_id = p.user_id AND events.ts >= p.pts
            |ORDER BY event_id""".stripMargin)
      },
      Some("""WITH p AS (SELECT user_id, ts AS pts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT e.event_id, p.purchase_value
        |FROM events e ASOF JOIN p ON e.user_id = p.user_id AND e.ts >= p.pts
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef(
      "a25_positional_statement",
      withTables { (s, _) =>
        // the STATEMENT spelling of a05 (r17): parenthesized ordered left,
        // bare-view right (its ORDER BY survives the single-stage scan,
        // the a05 contract) — before r17 this statement silently
        // CROSS-joined (POSITIONAL parsed as an alias)
        s.table("orders").select("o_orderkey").orderBy(col("o_orderkey").desc).limit(100)
          .createOrReplaceTempView("pos_r_a25")
        graft.psql.Psql(s).sql(
          """SELECT c_custkey, o_orderkey
            |FROM (select c_custkey from customer order by c_custkey limit 100)
            |POSITIONAL JOIN pos_r_a25""".stripMargin)
      },
      Some("""SELECT c_custkey, o_orderkey
        |FROM (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 100)
        |POSITIONAL JOIN (SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 100)""".stripMargin)),

    QueryDef(
      "a03_range_join",
      withTables { (s, _) =>
        // events landing inside the 10-minute window after each purchase,
        // binned on 600s epoch buckets to avoid the n×m nested loop
        val ev = s.table("events")
          .select(col("event_id"), unix_timestamp(col("ts")).as("p"))
        val win = s.table("events").where(col("event_type") === "purchase")
          .where(col("event_id") % 50 === 0)
          .select(col("event_id").as("purchase_id"), unix_timestamp(col("ts")).as("lo"))
          .withColumn("hi", col("lo") + 600)
        RangeJoin.binned(ev, win, "p", "lo", "hi", binWidth = 600)
          .groupBy("purchase_id").agg(count(lit(1)).as("n_events"))
          .orderBy("purchase_id")
      },
      Some("""SELECT purchase_id, count(*) AS n_events
        |FROM (SELECT event_id AS purchase_id,
        |        CAST(floor(epoch(ts)) AS BIGINT) AS lo
        |      FROM events WHERE event_type = 'purchase' AND event_id % 50 = 0) w
        |JOIN (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS p
        |      FROM events) e
        |  ON e.p >= w.lo AND e.p <= w.lo + 600
        |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin)),

    QueryDef(
      "a07_gap_fill",
      withTables { (s, _) =>
        // dense 10-min spine over the two rarest event types: buckets with
        // no events surface as zero rows (the point of the operator)
        TimeSeries.gapFillCounts(
          s.table("events").where(col("event_type").isin("purchase", "refund")),
          "ts", "event_type", bucketSeconds = 600L)
          .orderBy("bucket_start", "event_type")
      },
      Some("""WITH ev AS (
        |  SELECT event_type AS g,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 AS b
        |  FROM events WHERE event_type IN ('purchase', 'refund')),
        |counts AS (SELECT g, b, count(*) AS n FROM ev GROUP BY g, b),
        |bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM ev),
        |spine AS (SELECT unnest(generate_series(lo, hi, 600)) AS b FROM bounds),
        |groups AS (SELECT DISTINCT g FROM ev)
        |SELECT cast(to_timestamp(s.b) as timestamp) AS bucket_start,
        |  gr.g AS event_type, coalesce(c.n, 0) AS n
        |FROM spine s CROSS JOIN groups gr
        |LEFT JOIN counts c ON c.g = gr.g AND c.b = s.b
        |ORDER BY bucket_start, event_type""".stripMargin)),

    QueryDef(
      "a08_asof_tolerance",
      withTables { (s, _) =>
        // backward as-of with a 30-minute tolerance (pandas merge_asof
        // `tolerance` semantics): a purchase older than 30 min does NOT
        // decorate the event. DuckDB's native ASOF has no tolerance, so the
        // oracle is the windowed-best-match formulation with the bound as a
        // join predicate.
        val events = s.table("events")
        val purchases = events.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        AsofJoin.backwardWithin(
          events.select("event_id", "user_id", "ts"),
          purchases,
          by = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          rightPayload = Seq("purchase_value"),
          tolerance = expr("INTERVAL 30 MINUTES"),
          joinType = "inner")
          .select(col("event_id"), col("user_id"), col("purchase_value"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT user_id, ts AS pts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |j AS (
        |  SELECT e.event_id, e.user_id, p.purchase_value,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY p.pts DESC) AS rn
        |  FROM events e JOIN p ON e.user_id = p.user_id
        |    AND p.pts <= e.ts AND p.pts >= e.ts - INTERVAL 30 MINUTE)
        |SELECT event_id, user_id, purchase_value FROM j WHERE rn = 1
        |ORDER BY event_id""".stripMargin)),

    QueryDef(
      "d01_dedup_exact",
      withTables { (s, _) =>
        Dedup.dedupExact(s.table("documents"), "text", "doc_id")
          .select("doc_id", "lang", "n_chars").orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d26_dedup_normalized",
      withTables { (s, _) =>
        // near-exact dedup: normalize (lower + collapse whitespace + trim)
        // BEFORE hashing, so case-changed / reflowed copies collapse too —
        // the cheap first pass before MinHash spends effort on real
        // near-dups. Inject deterministic case+whitespace variants (the
        // corpus has no natural ones) so the normalization is genuinely
        // exercised: even ids keep their text, odd ids get the UPPER +
        // double-spaced variant of the preceding even id's text, which
        // must dedup against it.
        val docs = s.table("documents")
        val variant = docs.select((col("doc_id") + 1).as("doc_id"),
          concat(lit("  "), upper(regexp_replace(col("text"), " ", "  "))).as("text"))
          .where(col("doc_id") % 2 === 1)
        val mixed = docs.where(col("doc_id") % 2 === 0).select("doc_id", "text")
          .union(variant)
        Dedup.dedupExactNormalized(mixed, "text", "doc_id")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH mixed AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1 AS doc_id,
        |    '  ' || upper(replace(text, ' ', '  ')) AS text
        |  FROM documents WHERE (doc_id + 1) % 2 = 1)
        |SELECT doc_id FROM (
        |  SELECT doc_id,
        |    row_number() OVER (
        |      PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |  FROM mixed) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d02_minhash_lsh_dedup",
      withTables { (s, _) =>
        // 64 hashes / 32 bands of 2 rows: collision prob at J=0.5 is
        // 1-(1-0.25)^32 ≈ 0.9999 — better recall than 128/32×4 at half the
        // signature width; the exact-Jaccard verify keeps precision at 1
        Dedup.minhashLshPairs(s.table("documents"), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      None),

    QueryDef(
      "d03_simhash_pairs",
      withTables { (s, _) =>
        Dedup.simhashPairs(s.table("documents"), "doc_id", "text", maxHamming = 6)
          .orderBy("id_a", "id_b")
      },
      None),

    QueryDef(
      "d04_ngram_jaccard",
      withTables { (s, _) =>
        Dedup.ngramJaccardPairs(s.table("documents"), "doc_id", "text", n = 3, threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM s a, s b WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "d10_neardup_clusters",
      withTables { (s, _) =>
        // transitive near-dup clusters: exact-Jaccard pairs → connected
        // components (min-label propagation); oracle closes the same pair
        // graph with a recursive CTE
        val docs = s.table("documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
          .select("id_a", "id_b")
        Dedup.connectedComponents(docs.select("doc_id"), pairs)
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT doc_id AS a, doc_id AS b FROM documents
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d12_cross_dedup",
      withTables { (s, _) =>
        // dedup the "new crawl" (odd doc ids) against the kept corpus (even
        // ids) at J >= 0.5 — exact bipartite inverted-index join
        val docs = s.table("documents")
        Dedup.crossDedup(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "doc_id", "text", n = 3, threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |bad AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM sh a JOIN sh b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5)
        |SELECT d.doc_id, d.lang FROM documents d
        |  LEFT JOIN bad USING (doc_id)
        |WHERE d.doc_id % 2 = 1 AND bad.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d13_cross_dedup_lsh",
      withTables { (s, _) =>
        // scale path of d12: banded-candidate bipartite join + exact verify;
        // approximate recall → rows-only (spec pins recall vs d12's exact)
        val docs = s.table("documents")
        Dedup.crossDedupLsh(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      None),

    QueryDef(
      "d20_cross_dedup_md5",
      withTables { (s, _) =>
        // the cross-corpus banded pipeline's oracle-parity variant: odd ids
        // (the "new crawl") deduped against even ids (the kept corpus),
        // candidates + verify fully SQL-statable — completes the md5
        // verification family (d15 simhash, d19 pairs, d20 cross)
        val docs = s.table("documents")
        Dedup.crossDedupLshMd5(
          docs.where(col("doc_id") % 2 === 1),
          docs.where(col("doc_id") % 2 === 0),
          "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, hs, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id, y.doc_id AS rid
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |  WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0),
        |bad AS (
        |  SELECT DISTINCT c.id AS doc_id
        |  FROM cand c JOIN sh p ON p.doc_id = c.id JOIN sh q ON q.doc_id = c.rid
        |  WHERE round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |    (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) >= 0.5)
        |SELECT d.doc_id, d.lang FROM documents d
        |LEFT JOIN bad USING (doc_id)
        |WHERE d.doc_id % 2 = 1 AND bad.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d34_incremental_dedup",
      withTables { (s, _) =>
        // PERSISTED dedup index + increment-only dedup: the base corpus
        // (3/4 of docs) is signed ONCE into bucketed warehouse tables, and
        // the increment (doc_id % 4 = 0, the "new crawl") dedups by probing
        // the index — no base text re-read, no base signature recompute
        // (plan isolation pinned in DedupSpec on separate files). The
        // oracle recomputes everything from scratch: identical survivors
        // prove the index path loses nothing.
        val docs = s.table("documents")
        Dedup.writeMinhashIndex(s, docs.where(col("doc_id") % 4 =!= 0),
          "doc_id", "text", "graft_minhash_idx",
          shingleSize = 3, numHashes = 64, bands = 32, buckets = 8)
        Dedup.incrementalDedupMd5(s, docs.where(col("doc_id") % 4 === 0),
          "doc_id", "text", "graft_minhash_idx",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, hs, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id, y.doc_id AS rid
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |  WHERE x.doc_id % 4 = 0 AND y.doc_id % 4 != 0),
        |bad AS (
        |  SELECT DISTINCT c.id AS doc_id
        |  FROM cand c JOIN sh p ON p.doc_id = c.id JOIN sh q ON q.doc_id = c.rid
        |  WHERE round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |    (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) >= 0.5)
        |SELECT d.doc_id, d.lang FROM documents d
        |LEFT JOIN bad USING (doc_id)
        |WHERE d.doc_id % 4 = 0 AND bad.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d35_index_append",
      withTables { (s, _) =>
        // the operational loop's other half: index built on HALF the base
        // (doc_id % 4 ∈ {1,2}), the other quarter (doc_id % 4 = 3) APPENDED
        // without recompute, then the increment (doc_id % 4 = 0) deduped
        // against the merged index. The oracle recomputes over the union
        // from scratch — identical survivors prove append ≡ rebuild.
        val docs = s.table("documents")
        Dedup.writeMinhashIndex(s, docs.where(col("doc_id") % 4 === 1 ||
            col("doc_id") % 4 === 2),
          "doc_id", "text", "graft_minhash_app",
          shingleSize = 3, numHashes = 64, bands = 32, buckets = 8)
        Dedup.appendMinhashIndex(s, docs.where(col("doc_id") % 4 === 3),
          "doc_id", "text", "graft_minhash_app",
          shingleSize = 3, numHashes = 64, bands = 32, buckets = 8)
        Dedup.incrementalDedupMd5(s, docs.where(col("doc_id") % 4 === 0),
          "doc_id", "text", "graft_minhash_app",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, hs, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id, y.doc_id AS rid
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |  WHERE x.doc_id % 4 = 0 AND y.doc_id % 4 != 0),
        |bad AS (
        |  SELECT DISTINCT c.id AS doc_id
        |  FROM cand c JOIN sh p ON p.doc_id = c.id JOIN sh q ON q.doc_id = c.rid
        |  WHERE round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |    (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) >= 0.5)
        |SELECT d.doc_id, d.lang FROM documents d
        |LEFT JOIN bad USING (doc_id)
        |WHERE d.doc_id % 4 = 0 AND bad.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d40_index_compaction",
      withTables { (s, _) =>
        // d35's append flow + compactMinhashIndex before the probe: after
        // many append waves the bucketed index accumulates one file per
        // bucket PER WAVE; compaction rewrites both tables to one file per
        // bucket (same bucket spec, so the probe's no-exchange plan
        // survives — spec-pinned). Same oracle as d35: survivors must be
        // untouched by the physical rewrite.
        val docs = s.table("documents")
        Dedup.writeMinhashIndex(s, docs.where(col("doc_id") % 4 === 1 ||
            col("doc_id") % 4 === 2),
          "doc_id", "text", "graft_minhash_cmp",
          shingleSize = 3, numHashes = 64, bands = 32, buckets = 8)
        Dedup.appendMinhashIndex(s, docs.where(col("doc_id") % 4 === 3),
          "doc_id", "text", "graft_minhash_cmp",
          shingleSize = 3, numHashes = 64, bands = 32, buckets = 8)
        // compact BOTH index tables to one file per bucket (b04 policy on
        // the bucketed layout), THEN probe: identical survivors prove the
        // compaction content-preserving and bucket-spec-preserving
        Dedup.compactMinhashIndex(s, "graft_minhash_cmp", buckets = 8)
        Dedup.incrementalDedupMd5(s, docs.where(col("doc_id") % 4 === 0),
          "doc_id", "text", "graft_minhash_cmp",
          shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, hs, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id, y.doc_id AS rid
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |  WHERE x.doc_id % 4 = 0 AND y.doc_id % 4 != 0),
        |bad AS (
        |  SELECT DISTINCT c.id AS doc_id
        |  FROM cand c JOIN sh p ON p.doc_id = c.id JOIN sh q ON q.doc_id = c.rid
        |  WHERE round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |    (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) >= 0.5)
        |SELECT d.doc_id, d.lang FROM documents d
        |LEFT JOIN bad USING (doc_id)
        |WHERE d.doc_id % 4 = 0 AND bad.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d21_ivf_assign_parity",
      withTables { (s, dir) =>
        // fixed-centroid ORACLE-PARITY family (d21/d22): k-means TRAINING is
        // not SQL-statable, but everything AFTER training is — embed the
        // trained centroids as SQL literals ({IVF_CENTROIDS}, bound per
        // sfDir in oracleSqlFor) and both engines compute assignment as
        // argmax of the 6-dp-rounded cosine with the lowest-cid tiebreak.
        // This hash-checks the IVF routing surface d06/d08/d16/d17 build on
        // (the d15/d19/d20 md5 pattern applied to vectors); the production
        // ANN ops keep their full-precision topCentroids kernel.
        assignedToFixedCentroids(s, dir).drop("v").orderBy("vec_id")
      },
      Some("""WITH cent_t(cid, cent) AS (VALUES {IVF_CENTROIDS}),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cent), 6) AS sim
        |           FROM v CROSS JOIN cent_t),
        |ranked AS (SELECT vec_id, cid, sim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM scored)
        |SELECT vec_id, cid, sim AS cent_sim FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    QueryDef(
      "d22_semdedup_parity",
      withTables { (s, dir) =>
        // SemDeDup with FIXED trained centroids, end to end: rounded-argmax
        // assignment, cluster-LOCAL cosine pairs at eps, and d18's grouped
        // pass (Dedup.clusterDupGroups: per-cluster union-find, the paper's
        // least-similar survivor) — every stage SQL-statable once the
        // centroids are literals, so the pipeline d18 runs gets a
        // hash-green sibling. The oracle's recursive CTE closure labels a
        // group by its min id; a node without a pair is its own group.
        val assigned = assignedToFixedCentroids(s, dir)
        val pairs = assigned.as("a").join(assigned.as("b"),
            col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
          .withColumn("psim", round(Similarity.cosine(col("a.v"), col("b.v")), 6))
          .where(col("psim") >= 0.4)
          .select(col("a.cid").as("cid"), col("a.vec_id").as("id_a"),
            col("a.cent_sim").as("cs_a"), col("b.vec_id").as("id_b"),
            col("b.cent_sim").as("cs_b"))
        val groups = Dedup.clusterDupGroups(pairs).withColumnRenamed("id", "vec_id")
        assigned.join(groups, Seq("vec_id"), "left")
          .where(coalesce(col("keep"), lit(true)))
          .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("component"),
            col("cent_sim"))
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE cent_t(cid, cent) AS (VALUES {IVF_CENTROIDS}),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cent), 6) AS sim
        |           FROM v CROSS JOIN cent_t),
        |assign AS (
        |  SELECT vec_id, cid, sim AS cent_sim FROM (
        |    SELECT vec_id, cid, sim,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        |    FROM scored) WHERE rn = 1),
        |av AS (SELECT a.vec_id, a.cid, a.cent_sim, v.v FROM assign a JOIN v USING (vec_id)),
        |pairs AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb
        |  FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
        |edges AS (SELECT ida, idb FROM pairs UNION SELECT idb, ida FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM assign
        |  UNION
        |  SELECT e.idb, rc.r FROM reach rc JOIN edges e ON e.ida = rc.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |ranked2 AS (
        |  SELECT c.id, c.component, a.cent_sim,
        |    row_number() OVER (PARTITION BY c.component ORDER BY a.cent_sim ASC, c.id ASC) AS rn
        |  FROM comp c JOIN assign a ON a.vec_id = c.id)
        |SELECT id AS vec_id, component, cent_sim FROM ranked2 WHERE rn = 1
        |ORDER BY vec_id""".stripMargin)),

    QueryDef(
      "d44_cross_semantic",
      withTables { (s, dir) =>
        // semantic CROSS-CORPUS contamination — the d12/d13/d20 cross-
        // corpus family lifted from text shingles to embeddings (the
        // benchmark-decontamination case exact n-gram matching misses:
        // paraphrased eval questions): corpus vectors (even vec_id) flag
        // when a benchmark vector (odd vec_id) in the SAME fixed centroid
        // scores cosine ≥ 0.2. Centroid blocking keeps the pair join
        // bucketed — never corpus × benchmark — and fixed centroids make
        // every stage SQL-statable → full oracle (recall bounded by
        // same-centroid blocking, the documented IVF nProbe=1 contract).
        // Top-1 match per corpus vector, (sim desc, ref asc) determinism.
        val assigned = Materialize(assignedToFixedCentroids(s, dir))
        val corpus = assigned.where(col("vec_id") % 2 === 0)
        val ref = assigned.where(col("vec_id") % 2 === 1)
        val pairs = corpus.as("a").join(ref.as("b"), col("a.cid") === col("b.cid"))
          .withColumn("sim", round(Similarity.cosine(col("a.v"), col("b.v")), 6))
          .where(col("sim") >= 0.2)
          .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("ref_id"), col("sim"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("ref_id").asc)
        pairs.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("vec_id"), col("ref_id"), col("sim"))
          .orderBy("vec_id")
      },
      Some("""WITH cent_t(cid, cent) AS (VALUES {IVF_CENTROIDS}),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cent), 6) AS sim
        |           FROM v CROSS JOIN cent_t),
        |assign AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, sim,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        |    FROM scored) WHERE rn = 1),
        |av AS (SELECT a.vec_id, a.cid, v.v FROM assign a JOIN v USING (vec_id)),
        |pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS ref_id,
        |    round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |  FROM av a JOIN av b ON a.cid = b.cid
        |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
        |    AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.2)
        |SELECT vec_id, ref_id, sim FROM (
        |  SELECT vec_id, ref_id, sim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ref_id) AS rn
        |  FROM pairs) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin)),

    QueryDef(
      "d38_corpus_diff",
      withTables { (s, _) =>
        // dataset-versioning diff between two derived corpus versions:
        // old = ids % 5 != 0, new = ids % 7 != 0 with every % 11 == 0 text
        // rewritten — so the diff holds all three classes. Digest-keyed
        // (md5) so the join shuffles narrow rows; unchanged ids never
        // appear.
        val docs = s.table("documents")
        val oldV = docs.where(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
        val newV = docs.where(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text")).as("text"))
        Dedup.corpusDiff(oldV, newV, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH oldv AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents WHERE doc_id % 5 != 0),
        |newv AS (
        |  SELECT doc_id, md5(coalesce(
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END, '')) AS h
        |  FROM documents WHERE doc_id % 7 != 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h != n.h THEN 'changed' END AS change
        |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
        |WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.h != n.h)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d37_record_linkage",
      withTables { (s, _) =>
        // blocked fuzzy entity resolution over DISTINCT part entities
        // (name + brand; dedupe-then-link — linking raw rows would explode
        // every block quadratically with exact copies): block on the part
        // noun, length-band prefilter, exact Levenshtein ≤ 2 verify. Brand
        // variants of the same part land at distance 1–2.
        val ents = s.table("part")
          .select(concat(col("p_name"), lit(" "), lower(col("p_brand"))).as("name"),
            element_at(split(col("p_name"), " "), 2).as("blk"),
            col("p_partkey"))
          .groupBy("name", "blk").agg(min("p_partkey").as("id"))
        Dedup.recordLinkagePairs(ents, "id", "name", "blk", maxDistance = 2)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ents AS (
        |  SELECT p_name || ' ' || lower(p_brand) AS name,
        |    string_split(p_name, ' ')[2] AS blk,
        |    min(p_partkey) AS id
        |  FROM part GROUP BY 1, 2)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  levenshtein(a.name, b.name)::BIGINT AS dist
        |FROM ents a JOIN ents b ON a.blk = b.blk AND a.id < b.id
        |  AND abs(length(a.name) - length(b.name)) <= 2
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "d36_ivf_index",
      withTables { (s, dir) =>
        // PERSISTED IVF index — the d34 pattern applied to vectors: the
        // corpus assignment is written ONCE as a hive-PARTITIONED
        // warehouse table (one directory per centroid), and the probe join
        // reads ONLY the probed cids via dynamic partition pruning (the
        // broadcast probe side seeds a runtime partition filter on the
        // scan — pinned in PlanQualitySpec). At 100 TB the query path
        // touches nProbe/nCentroids of the corpus directories and nothing
        // recomputes assignments. Semantics identical to d23 (fixed
        // centroids → SQL-statable), so the same oracle shape hash-checks
        // the persisted path end to end.
        val assigned = assignedToFixedCentroids(s, dir)
        Bucketing.writePartitioned(s,
          assigned.select(col("vec_id"), col("v"), col("cid")),
          "graft_ivf_idx", "cid")
        ivfIndexProbe(s, dir, "graft_ivf_idx")
      },
      Some(ivfIndexProbeOracleSql)),

    QueryDef(
      "d41_ivf_index_append",
      withTables { (s, dir) =>
        // GROW the persisted IVF index without rebuild — d35's
        // append≡rebuild contract applied to vectors: the base corpus
        // (vec_id % 10 != 0) is written partitioned-by-cid once; the delta
        // (vec_id % 10 == 0) is assigned against the SAME fixed centroids
        // and APPENDED — new files land only in the delta's cid
        // directories, base files are never rewritten or re-read, so
        // increment cost scales with |delta| while the probe path (DPP on
        // probed cids) is oblivious to how the table was built. The oracle
        // IS d36's full-corpus statement: base ∪ delta = corpus, so a
        // hash-equal answer proves append ≡ rebuild end to end.
        val assigned = assignedToFixedCentroids(s, dir)
          .select(col("vec_id"), col("v"), col("cid"))
        Bucketing.writePartitioned(s, assigned.where(col("vec_id") % 10 =!= 0),
          "graft_ivf_idx_grown", "cid")
        Bucketing.appendPartitioned(s, assigned.where(col("vec_id") % 10 === 0),
          "graft_ivf_idx_grown", "cid")
        ivfIndexProbe(s, dir, "graft_ivf_idx_grown")
      },
      Some(ivfIndexProbeOracleSql)),

    QueryDef(
      "d23_ivf_topk_parity",
      withTables { (s, dir) =>
        // the PROBED top-k half of the IVF bridge (d21 is assignment): each
        // query probes its nProbe=4 best centroids by the same rounded
        // ranking, candidates meet the corpus assignment on cid, and the
        // rounded cosine ranks top-5 — d08/d17's whole retrieval shape,
        // hash-checked. Production d08 keeps the full-precision kernel.
        val corpus = Materialize(assignedToFixedCentroids(s, dir))
        val probes = probesToFixedCentroids(s, dir, maxQueryId = 10, nProbe = 4)
        val scored = probes.join(corpus.select(col("cid"), col("vec_id").as("neighbor_id"),
            col("v").as("cv")), Seq("cid"))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Similarity.cosine(col("qv"), col("cv")), 6).as("sim"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
          .select(col("query_id"), col("neighbor_id"), col("sim"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH cent_t(cid, cent) AS (VALUES {IVF_CENTROIDS}),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cent), 6) AS sim
        |           FROM v CROSS JOIN cent_t),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        |    FROM scored) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        |    FROM scored WHERE vec_id < 10) WHERE rn <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS sim
        |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
        |  JOIN v q ON q.vec_id = p.query_id JOIN v c ON c.vec_id = a.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM cand)
        |SELECT query_id, neighbor_id, sim, cast(rank AS int) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QueryDef(
      "d24_lsh_topk_parity",
      withTables { (s, dir) =>
        // hyperplane-LSH bridge (d06/d09's banded machinery, hash-checked):
        // bucket bit p of table t is `round(cosine(v, plane_tp), 6) > 0` —
        // cosine has the dot's sign, its cross-engine equality is already
        // proven by d05/d07, and rounding makes the sign decision identical
        // in both engines. Candidates collide on (table, bucket), exact
        // rounded cosine ranks top-5. Production d06/d09 keep the codegen'd
        // sign-bit kernel (LshBucketsExpr).
        def buckets(df: DataFrame, id: String) = lshSignBitBuckets(s, df, id)
        val v = Materialize(s.table("embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
        val cb = buckets(v, "vec_id")
        val qb = buckets(v.where(col("vec_id") < 10), "vec_id")
          .withColumnRenamed("vec_id", "query_id")
        val cand = qb.join(cb.withColumnRenamed("vec_id", "neighbor_id"),
            Seq("tbl", "bucket"))
          .where(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id").distinct()
        val scored = cand
          .join(v.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
          .join(v.select(col("vec_id").as("neighbor_id"), col("v").as("cv")), Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Similarity.cosine(col("qv"), col("cv")), 6).as("sim"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id").asc)
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
          .select(col("query_id"), col("neighbor_id"), col("sim"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH planes(tbl, p, plane) AS (VALUES $lshPlanesSql),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |buckets AS (
        |  SELECT vec_id, tbl,
        |    sum(CASE WHEN round(list_cosine_similarity(v, plane), 6) > 0
        |        THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        |  FROM v CROSS JOIN planes GROUP BY vec_id, tbl),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM buckets q JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS sim
        |  FROM cand JOIN v q ON q.vec_id = cand.query_id
        |  JOIN v c ON c.vec_id = cand.neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, sim, cast(rank AS int) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QueryDef(
      "d25_pq_adc_parity",
      withTables { (s, dir) =>
        // PQ bridge (d16's ADC shape, hash-checked): with the trained
        // codebooks as literals, encode = per-subspace argmin of the
        // 9-dp-rounded squared distance (lowest-code tiebreak), and the ADC
        // score is ONE ordered dot product against the DECODED vector (the
        // chosen sub-centroids concatenated in subspace order) — summation
        // order pinned on both engines, so 6-dp rounding closes the gap.
        // Production d16/d17 keep the codegen'd int-code kernels.
        import s.implicits._
        val cb = fixedPqCodebooks(dir)
        val sub = cb(0)(0).length
        val cbDf = (for (si <- cb.indices; c <- cb(si).indices)
          yield (si, c, cb(si)(c).toSeq)).toDF("s", "c", "cent")
        val unit = Materialize(s.table("embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
          .where(col("nrm") > 0)
          .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("u")))
        val dists = unit.crossJoin(broadcast(cbDf))
          .withColumn("subv", slice(col("u"), col("s") * sub + 1, lit(sub)))
          .withColumn("d", round(aggregate(
            zip_with(col("subv"), col("cent"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, x) => a + x), 9))
        val wCode = org.apache.spark.sql.expressions.Window.partitionBy("vec_id", "s")
          .orderBy(col("d").asc, col("c").asc)
        val dv = dists.withColumn("rn", row_number().over(wCode)).where(col("rn") === 1)
          .groupBy("vec_id")
          .agg(flatten(transform(array_sort(collect_list(struct(col("s"), col("cent")))),
            x => x.getField("cent"))).as("dv"))
        // query side is 10 rows by construction — broadcast it explicitly
        // so no AQE change can turn the PQ linear scan into a shuffled
        // cartesian (plan pinned in PlanQualitySpec)
        val scored = broadcast(unit.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("u").as("qu")))
          .crossJoin(dv.select(col("vec_id").as("neighbor_id"), col("dv")))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(aggregate(zip_with(col("qu"), col("dv"), (x, y) => x * y),
              lit(0.0), (a, x) => a + x), 6).as("score"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id").asc)
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
          .select(col("query_id"), col("neighbor_id"), col("score"),
            col("rank").cast("int").as("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH cb(s, c, cent) AS (VALUES {PQ_CODEBOOKS}),
        |v0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v0),
        |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n WHERE nrm > 0),
        |dists AS (
        |  SELECT vec_id, s, c, cent,
        |    round(list_sum(list_transform(range(8),
        |      j -> (u[s*8 + j + 1] - cent[j + 1]) * (u[s*8 + j + 1] - cent[j + 1]))), 9) AS d
        |  FROM u CROSS JOIN cb),
        |codes AS (
        |  SELECT vec_id, s, cent FROM (
        |    SELECT vec_id, s, cent,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
        |    FROM dists) WHERE rn = 1),
        |dv AS (SELECT vec_id, flatten(list(cent ORDER BY s)) AS dv FROM codes GROUP BY vec_id),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(64), i -> q.u[i + 1] * c.dv[i + 1])), 6) AS score
        |  FROM u q CROSS JOIN dv c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, score, cast(rank AS int) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QueryDef(
      "d15_simhash_md5_pairs",
      withTables { (s, _) =>
        // oracle-parity simhash: md5 token hashes make the 60-bit
        // fingerprint, the pigeonhole-complete blocking, AND the exact
        // hamming verify all reproducible in DuckDB — the cross-engine
        // check d03's fast xxhash fingerprint can't have
        Dedup.simhashPairs(s.table("documents"), "doc_id", "text",
          maxHamming = 6, md5Tokens = true)
          .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, r.b, sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN range(60) r(b) GROUP BY doc_id, r.b),
        |fp AS (
        |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS f
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f))::BIGINT AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 6
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "d14_winnowing_pairs",
      withTables { (s, _) =>
        // substring-level dup pairs: winnowed k-gram fingerprints, docs
        // sharing >= 2 selected fingerprints. md5-driven selection is
        // engine-identical, so the whole operator is oracle-checked.
        Dedup.winnowingPairs(s.table("documents"), "doc_id", "text",
          k = 3, w = 4, minShared = 2L)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT doc_id,
        |    list_transform(range(len(w) - 2), i -> md5(array_to_string(w[i+1:i+3], ' '))) AS mds
        |  FROM words WHERE len(w) >= 6),
        |fp AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(mds) - 3), j -> list_min(mds[j+1:j+4])))) AS fp
        |  FROM sh),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT id_a, id_b, n_shared FROM pairs ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "d05_ann_cosine_topk",
      withTables { (s, _) =>
        val emb = s.table("embeddings")
        Similarity.bruteForceTopK(
          emb.where(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(list_cosine_similarity(qv, cv), 6) AS sim
        |  FROM q JOIN c ON query_id <> neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, sim, cast(rank as int) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QueryDef(
      "d06_ann_lsh_topk",
      withTables { (s, _) =>
        val emb = s.table("embeddings")
        Similarity.lshTopK(
          emb.where(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5, nPlanes = 4, nTables = 8,
          dimension = Some(64))
          .orderBy("query_id", "rank")
      },
      None),

    QueryDef(
      "d07_embedding_neardup",
      withTables { (s, _) =>
        Dedup.embeddingNearDupPairs(s.table("embeddings"), "vec_id", "embedding", threshold = 0.4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "d09_embedding_neardup_lsh",
      withTables { (s, _) =>
        // the 100 TB path for embedding near-dup: LSH-bucketed candidates +
        // exact-cosine verify (precision exact, recall spec-checked vs d07's
        // all-pairs baseline). rows-only: candidate recall is approximate.
        // 8 planes × 40 tables: ~1/6 of all pairs scored (vs 52% at 4×8),
        // banded/dedup shuffles carry no vectors (ADVICE r2).
        Dedup.embeddingNearDupPairsLsh(s.table("embeddings"), "vec_id", "embedding",
          threshold = 0.4, nPlanes = 8, nTables = 40, dim = Some(64))
          .orderBy("id_a", "id_b")
      },
      None),

    QueryDef(
      "d19_minhash_md5_pairs",
      withTables { (s, _) =>
        // the MinHash family's oracle-parity variant (cf. d15 for SimHash):
        // md5 28-bit shingle hashes + plain mod-p signature mins + string
        // band buckets make the whole banded pipeline DuckDB-statable
        Dedup.minhashLshPairsMd5(s.table("documents"), "doc_id", "text", threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(minhashMd5OracleSql)),

    QueryDef(
      "d45_lsh_recall_eval",
      withTables { (s, _) =>
        // recall/precision of the banded MinHash pipeline (d19) against the
        // EXACT all-pairs Jaccard ground truth (d04) — the measurement row
        // for the dedup family: every hot-bucket cap and banding choice
        // trades recall, and this row is where that trade is OBSERVED
        // rather than asserted. One-row output; the joins are
        // pair-set-sized, the 1-row aggregates broadcast.
        val docs = s.table("documents")
        val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
          .select("id_a", "id_b")
        val found = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", threshold = 0.5)
          .select("id_a", "id_b")
        val hit = truth.join(found, Seq("id_a", "id_b"))
        truth.select(count(lit(1)).as("n_truth"))
          .crossJoin(broadcast(found.select(count(lit(1)).as("n_found"))))
          .crossJoin(broadcast(hit.select(count(lit(1)).as("n_hit"))))
          .select(col("n_truth"), col("n_found"), col("n_hit"),
            Fp.grid6(col("n_hit").cast("double") / col("n_truth")).as("recall6"),
            Fp.grid6(col("n_hit").cast("double") / col("n_found")).as("precision6"))
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, hs, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.doc_id < y.doc_id),
        |found AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN sh p ON p.doc_id = c.id_a JOIN sh q ON q.doc_id = c.id_b
        |  WHERE round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |    (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) >= 0.5),
        |raw AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |truth AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM raw a, raw b WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |hit AS (SELECT count(*)::BIGINT AS n
        |  FROM found JOIN truth USING (id_a, id_b)),
        |tot AS (SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
        |  (SELECT count(*) FROM found)::BIGINT AS n_found, n AS n_hit FROM hit)
        |SELECT n_truth, n_found, n_hit,
        |  floor((n_hit::DOUBLE / n_truth) * 1000000.0 + 0.5) / 1000000.0 AS recall6,
        |  floor((n_hit::DOUBLE / n_found) * 1000000.0 + 0.5) / 1000000.0 AS precision6
        |FROM tot""".stripMargin)),

    QueryDef(
      "d46_decontaminate",
      withTables { (s, _) =>
        // benchmark DECONTAMINATION at the standard 13-gram rule
        // (Dedup.decontaminate) — the CORPUS-side audit (which training
        // docs leak eval content, with distinct-hit counts), complementing
        // c01 (the filter) and c08 (the bench-side report), both of which
        // run 3-gram inverted-index JOINS; this row exercises the other
        // scale shape — eval sets are orders of magnitude smaller than the
        // corpus, so the benchmark gram set BROADCASTS and the corpus is
        // scanned once map-side, only matched rows reaching the one
        // doc-keyed aggregate. The eval set is CONSTRUCTED from the data
        // (each %29 doc's first 13 tokens as its "benchmark question"), so
        // contamination is guaranteed and deterministic in both engines.
        // md5 gram keys → full oracle.
        val docs = s.table("documents")
        val toks = filter(split(coalesce(col("text"), lit("")), " "),
          w => length(w) > lit(0))
        val bench = docs.where(col("doc_id") % 29 === 0)
          .select(col("doc_id"), concat_ws(" ", slice(toks, 1, 13)).as("text"))
          .where(length(col("text")) > 0)
        Dedup.decontaminate(docs, bench, "doc_id", "text", n = 13)
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS w
        |  FROM documents),
        |benchtok AS (
        |  SELECT doc_id, w[1:13] AS w FROM tok WHERE doc_id % 29 = 0 AND len(w) > 0),
        |bench AS (
        |  SELECT DISTINCT md5(array_to_string(w[n.g:n.g+12], ' ')) AS h
        |  FROM benchtok, LATERAL (SELECT unnest(range(1, greatest(len(w) - 11, 2))) AS g) n),
        |grams AS (
        |  SELECT doc_id, md5(array_to_string(w[n.g:n.g+12], ' ')) AS h
        |  FROM tok, LATERAL (SELECT unnest(range(1, greatest(len(w) - 11, 2))) AS g) n),
        |hits AS (
        |  SELECT g.doc_id, count(DISTINCT g.h)::BIGINT AS n_hits
        |  FROM grams g JOIN bench b ON g.h = b.h GROUP BY g.doc_id)
        |SELECT doc_id, n_hits FROM hits ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d39_sig_jaccard_pairs",
      withTables { (s, _) =>
        // d19's banded pipeline with SIGNATURE-ONLY verification: the
        // MinHash matching-slot estimator replaces exact Jaccard, so the
        // verify join ships 64-slot signatures instead of full shingle-hash
        // sets — the bandwidth dial a 100 TB dedup turns. Unbiased, σ≈6%
        // at k=64; every stage SQL-statable.
        Dedup.minhashSigEstimatePairsMd5(s.table("documents"), "doc_id", "text",
          threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |  WHERE x.doc_id < y.doc_id)
        |SELECT c.id_a, c.id_b,
        |  round(len(list_filter(range(64),
        |    i -> sa.sig[i+1] = sb.sig[i+1]))::DOUBLE / 64, 6) AS jaccard_est
        |FROM cand c JOIN sig sa ON sa.doc_id = c.id_a JOIN sig sb ON sb.doc_id = c.id_b
        |WHERE round(len(list_filter(range(64),
        |    i -> sa.sig[i+1] = sb.sig[i+1]))::DOUBLE / 64, 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "d18_semdedup",
      withTables { (s, _) =>
        // SemDeDup: k-means-blocked semantic dedup, keep the least-typical
        // member of each duplicate group. Deterministic but k-means isn't
        // SQL-statable → rows-only; invariants pinned in DedupSpec
        // eps 0.4 = where this corpus's near-dups live (cf. d07); at 0.5
        // the corpus has no semantic dups at all
        Dedup.semDedup(s.table("embeddings"), "vec_id", "embedding",
          eps = 0.4, nCentroids = 16)
          .select("vec_id")
          .orderBy("vec_id")
      },
      None),

    QueryDef(
      "d08_ann_ivf_topk",
      withTables { (s, _) =>
        val emb = s.table("embeddings")
        Similarity.ivfTopK(
          emb.where(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5, nCentroids = 16, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      None),

    QueryDef(
      "d16_ann_pq_topk",
      withTables { (s, _) =>
        // product-quantization ANN: m-int codes + per-query LUT adds, the
        // memory-scale path; approximate (k-means codebooks) → rows-only,
        // recall pinned vs brute force in the spec
        val emb = s.table("embeddings")
        Similarity.pqTopK(
          emb.where(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5, m = 8, kCent = 16)
          .orderBy("query_id", "rank")
      },
      None),

    QueryDef(
      "d17_ann_ivfpq_topk",
      withTables { (s, _) =>
        // IVF routing composed with the PQ code scan (FAISS IVFPQ+refine):
        // probe 8/16 centroids per query, ADC-score only probed partitions
        // via broadcast LUTs, exact-cosine refine. Approximate → rows-only;
        // recall floor + plan pins in the spec
        val emb = s.table("embeddings")
        Similarity.ivfPqTopK(
          emb.where(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5, nCentroids = 16, nProbe = 8, m = 8, kCent = 16)
          .orderBy("query_id", "rank")
      },
      None),

    QueryDef(
      "d11_quantize_embeddings",
      withTables { (s, _) =>
        // int8 array stringified for the driver's canonicalizer (cf. m01);
        // scale compared as a raw double (canon = 9 significant digits)
        Similarity.quantizeEmbeddings(s.table("embeddings"), "vec_id", "embedding")
          .select(col("vec_id"), col("scale"),
            concat_ws(",", col("qvec").cast("array<string>")).as("qv"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, s AS scale,
        |  array_to_string(list_transform(v,
        |    x -> CASE WHEN s = 0 THEN 0 ELSE floor(x / s + 0.5)::BIGINT END), ',') AS qv
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
        |        list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin)),

    // the scale-safe exact-percentile operator's own gate row (global range
    // sort + zipWithIndex + broadcast rank-pick — nothing larger than a
    // partition anywhere). Since r9 the q37 dialect row runs this same plan;
    // this row keeps the operator independently gated under its own name.
    QueryDef(
      "q50_percentiles_scale",
      withTables { (s, _) =>
        val li = s.table("lineitem")
        // one multi-column distributed-selection pass (r17) — the q37 note
        Percentiles.exactByGroupMulti(li, "l_returnflag", Seq(
            "l_quantity" -> Seq("p50" -> 0.5, "p95" -> 0.95),
            "l_extendedprice" -> Seq("p25_price" -> 0.25)))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        |  cast(quantile_cont(l_quantity, 0.5) as double) AS p50,
        |  cast(quantile_cont(l_quantity, 0.95) as double) AS p95,
        |  cast(quantile_cont(l_extendedprice, 0.25) as double) AS p25_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "t01_langid",
      withTables { (s, _) =>
        spreadDocs(s)
          .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"))
          .orderBy("doc_id")
      },
      Some(s"SELECT doc_id, $langIdCaseSql AS pred_lang FROM documents ORDER BY doc_id")),

    QueryDef(
      "t02_quality_score",
      withTables { (s, _) =>
        val stats = TextFunctions.qualityStats(col("text"))
        spreadDocs(s)
          .select(col("doc_id") +: stats.map { case (n, c) => c.as(n) }: _*)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  length(text) AS n_chars_calc,
        |  len(string_split_regex(text, '\s+')) AS n_words,
        |  (length(text) - (length(text) - length(replace(text, ' ', ''))))::DOUBLE
        |    / len(string_split_regex(text, '\s+')) AS mean_word_len,
        |  (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
        |  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text) AS digit_ratio,
        |  least(1.0, len(string_split_regex(text, '\s+')) / 20.0)
        |    * (1.0 - (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE / length(text))
        |    * (1.0 - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t03_token_counts",
      withTables { (s, _) =>
        val counts = TextFunctions.tokenCounts(col("text"))
        spreadDocs(s)
          .select(col("doc_id") +: counts.map { case (n, c) => c.as(n) }: _*)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t04_fingerprint",
      withTables { (s, _) =>
        spreadDocs(s)
          .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id")
      },
      // list_sum returns HUGEINT in DuckDB; the driver's pandas path renders
      // int128 differently than Spark's int64 — cast to BIGINT for hash parity.
      Some("""SELECT doc_id,
        |  cast(list_sum(list_transform(range(len(w)),
        |    i -> ('0x' || substr(md5(w[i+1]), 1, 7))::BIGINT * (i + 1)))
        |    % 2147483647 AS BIGINT) AS fp
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t05_heavy_hitters",
      withTables { (s, _) =>
        // NOT spread: topK is a SpaceSaving sketch UDAF — its merge path is
        // sensitive to how partial sketches split, so the input layout stays
        // exactly as scanned
        val tokens = s.table("documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        tokens.groupBy("lang")
          .agg(TopKTokens.topK(col("tok"), k = 10).as("toks"))
          .select(col("lang"), posexplode(col("toks")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
            col("col._1").as("token"), col("col._2").as("cnt"))
          .orderBy("lang", "rank")
      },
      Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT lang, token, count(*) AS cnt FROM t GROUP BY lang, token),
        |r AS (SELECT lang, token, cnt,
        |        row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
        |      FROM c)
        |SELECT lang, CAST(rk AS INT) AS rank, token, cnt
        |FROM r WHERE rk <= 10 ORDER BY lang, rank""".stripMargin)),

    QueryDef(
      "m01_multimodal_features",
      withTables { (s, _) =>
        // MIXED modality column (PNG / WAV / animated GIF / opaque text by
        // id%4) through the dispatching default decoder: real codecs decode
        // the decodable rows, the stub only the opaque ones. Gate entry
        // stringifies the array<float> column: the driver's pandas
        // canonicalizer cannot sort/hash numpy arrays (round-1 harness err)
        Multimodal.extractFeatures(Multimodal.documentsAsMixedMedia(s.table("documents")))
          .withColumn("features", concat_ws(",", col("features").cast("array<string>")))
          .orderBy("media_id")
      },
      None),

    QueryDef(
      "m02_frame_sample",
      withTables { (s, _) =>
        // mixed payloads, dispatching decoder: GIF rows sample real stored
        // frames, WAV rows cut real PCM segments, opaque rows chunk bytes
        Multimodal.sampleFrames(Multimodal.documentsAsMixedMedia(s.table("documents")), 4)
          .select(col("media_id"), col("frame_idx"), length(col("frame")).as("n"), col("frame_checksum"))
          .orderBy("media_id", "frame_idx")
      },
      None),

    QueryDef(
      "m03_resize",
      withTables { (s, _) =>
        // mixed payloads, dispatching decoder: PNG rows downscale for real
        // (floor: ~70-byte 1×1 PNG container), WAV rows decimate PCM,
        // opaque rows stride-subsample — gate checks the plumbing, specs
        // pin each codec's semantics
        Multimodal.resize(Multimodal.documentsAsMixedMedia(s.table("documents")), 256)
          .select(col("media_id"), length(col("media")).as("n_bytes"),
            col("meta.width").as("w"), col("meta.height").as("h"))
          .orderBy("media_id")
      },
      None),

    QueryDef(
      "m04_image_features",
      withTables { (s, _) =>
        // REAL image decode in the gate: one deterministic PNG per doc_id
        // (Multimodal.ImageGen), decoded by the pure-JDK ImageIoDecoder.
        // Width/height are closed-form in doc_id, so the oracle can state
        // them without decoding anything — a hash-green row proves the
        // whole PNG encode→scan→ImageIO-decode path, not just plumbing.
        // Channel means / luma stats are float → spec-pinned instead.
        Multimodal.extractFeatures(
          Multimodal.documentsAsImages(s.table("documents")), ImageIoDecoder)
          .select(col("media_id"),
            element_at(col("features"), 1).cast("int").as("w"),
            element_at(col("features"), 2).cast("int").as("h"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, (8 + doc_id % 9)::INT AS w, (6 + doc_id % 5)::INT AS h
        |FROM documents ORDER BY media_id""".stripMargin)),

    QueryDef(
      "m05_image_resize",
      withTables { (s, _) =>
        // real nearest-neighbor downscale + PNG re-encode on image
        // payloads; output byte sizes are PNG-encoder-specific → rows-only
        // gate, with the ≤target/shrink/roundtrip semantics pinned in the
        // ImageIoDecoder spec
        Multimodal.resize(
          Multimodal.documentsAsImages(s.table("documents")), 120, ImageIoDecoder)
          .select(col("media_id"), length(col("media")).as("n_bytes"),
            col("meta.width").as("w"), col("meta.height").as("h"))
          .orderBy("media_id")
      },
      None),

    QueryDef(
      "m06_gif_frames",
      withTables { (s, _) =>
        // REAL temporal frame sampling: one animated GIF per doc (2–4
        // stored frames, closed-form), 2 frames sampled evenly, each
        // re-encoded PNG then re-DECODED for its dimensions. The composite
        // id (media·16 + frame_idx) keeps the oracle closed-form, so a
        // hash-green row proves GIF encode → multi-frame read → per-frame
        // PNG → decode end to end.
        val gifs = Multimodal.documentsAsGifs(s.table("documents"))
        val frames = Multimodal.sampleFrames(gifs, 2, ImageIoDecoder)
        val asMedia = frames.select(
          (col("media_id") * 16 + col("frame_idx")).as("media_id"),
          col("frame").as("media"))
        Multimodal.extractFeatures(asMedia, ImageIoDecoder)
          .select(col("media_id"),
            element_at(col("features"), 1).cast("int").as("w"),
            element_at(col("features"), 2).cast("int").as("h"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id * 16 + f.f AS media_id,
        |  (8 + doc_id % 9)::INT AS w, (6 + doc_id % 5)::INT AS h
        |FROM documents, unnest([0, 1]) AS f(f)
        |ORDER BY media_id""".stripMargin)),

    QueryDef(
      "m08_video_features",
      withTables { (s, _) =>
        // REAL video decode in the gate: one deterministic MJPEG-AVI clip
        // per doc (pure-JDK RIFF mux/demux + ImageIO JPEG frames), routed
        // by the DEFAULT sniffing decoder. Dims and frame count are
        // closed-form in doc_id, so a hash-green row proves the whole
        // AVI mux → scan → demux → JPEG-decode path end to end. Luma /
        // fps facts are codec floats → spec-pinned instead.
        Multimodal.extractFeatures(Multimodal.documentsAsVideos(s.table("documents")))
          .select(col("media_id"),
            element_at(col("features"), 1).cast("int").as("w"),
            element_at(col("features"), 2).cast("int").as("h"),
            element_at(col("features"), 3).cast("int").as("n_frames"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, (8 + doc_id % 9)::INT AS w,
        |  (6 + doc_id % 5)::INT AS h, (4 + doc_id % 3)::INT AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin)),

    QueryDef(
      "m09_video_frames",
      withTables { (s, _) =>
        // REAL temporal sampling of a true video container: 2 frames
        // sampled evenly from the 4–6 stored JPEGs, each re-encoded PNG
        // then re-DECODED for its dimensions (the m06 rule on AVI).
        val vids = Multimodal.documentsAsVideos(s.table("documents"))
        val frames = Multimodal.sampleFrames(vids, 2, AviMjpegDecoder)
        val asMedia = frames.select(
          (col("media_id") * 16 + col("frame_idx")).as("media_id"),
          col("frame").as("media"))
        Multimodal.extractFeatures(asMedia, ImageIoDecoder)
          .select(col("media_id"),
            element_at(col("features"), 1).cast("int").as("w"),
            element_at(col("features"), 2).cast("int").as("h"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id * 16 + f.f AS media_id,
        |  (8 + doc_id % 9)::INT AS w, (6 + doc_id % 5)::INT AS h
        |FROM documents, unnest([0, 1]) AS f(f)
        |ORDER BY media_id""".stripMargin)),

    QueryDef(
      "m07_audio_features",
      withTables { (s, _) =>
        // REAL audio decode (pure-JDK javax.sound.sampled): one generated
        // WAV clip per doc, parsed for its true sample rate / channel
        // count / PCM frame count — all closed-form in doc_id, so the
        // oracle states them without decoding and a hash-green row proves
        // the WAV encode→scan→decode path. Signal stats (rms, peak, zero
        // crossings) are float → spec-pinned instead.
        Multimodal.extractFeatures(
          Multimodal.documentsAsAudio(s.table("documents")), AudioWavDecoder)
          .select(col("media_id"),
            element_at(col("features"), 1).cast("int").as("sample_rate"),
            element_at(col("features"), 2).cast("int").as("channels"),
            element_at(col("features"), 3).cast("int").as("n_frames"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
        |  (400 + (doc_id % 5) * 80)::INT AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin)),

    QueryDef(
      "m12_tar_members",
      withTables { (s, _) =>
        // WebDataset-style tar shards: 64 samples per ustar shard, each
        // sample a .txt + real .png member pair sharing the zero-padded id
        // basename; shards parsed back with the validating ustar reader.
        // The .txt member names and byte sizes are closed-form in the
        // documents table, so the whole write→parse path hash-checks.
        val shards = TarShards.documentsAsTarShards(s.table("documents"), 64)
        TarShards.readMembers(shards)
          .where(col("member").endsWith(".txt"))
          .select(col("shard_id"), col("member"),
            length(col("payload")).cast("long").as("n_bytes"))
          .orderBy("member")
      },
      Some("""SELECT (doc_id // 64)::BIGINT AS shard_id,
        |  printf('%012d', doc_id) || '.txt' AS member,
        |  octet_length(encode(coalesce(text, '')))::BIGINT AS n_bytes
        |FROM documents ORDER BY member""".stripMargin)),

    QueryDef(
      "m13_tar_image_decode",
      withTables { (s, _) =>
        // the full multimodal ingestion path: tar shard → member explode →
        // REAL PNG decode of the .png members — dims are closed-form in
        // doc_id (ImageGen), so container parsing AND decode hash-check
        // end to end.
        val shards = TarShards.documentsAsTarShards(s.table("documents"), 64)
        val media = TarShards.readMembers(shards)
          .where(col("member").endsWith(".png"))
          .select(substring(col("member"), 1, 12).cast("long").as("media_id"),
            col("payload").as("media"),
            struct(lit("image/png").as("mime"), lit(null).cast("int").as("width"),
              lit(null).cast("int").as("height")).as("meta"))
        Multimodal.extractFeatures(media, ImageIoDecoder)
          .select(col("media_id"),
            element_at(col("features"), 1).cast("int").as("w"),
            element_at(col("features"), 2).cast("int").as("h"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
        |  (8 + doc_id % 9)::INT AS w, (6 + doc_id % 5)::INT AS h
        |FROM documents ORDER BY media_id""".stripMargin)),

    QueryDef(
      "m14_tar_gzip_roundtrip",
      withTables { (s, _) =>
        // compressed-member WebDataset shape: .txt.gz members gunzipped at
        // the codec boundary — the FULL text content round-trips through
        // gzip→tar→parse→gunzip and hash-checks against the raw table.
        val shards = TarShards.documentsAsGzipTarShards(s.table("documents"), 64)
        TarShards.gunzipPayloads(TarShards.readMembers(shards))
          .select(substring(col("member"), 1, 12).cast("long").as("doc_id"),
            decode(col("payload"), "UTF-8").as("text"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, coalesce(text, '') AS text
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t06_group_sample",
      withTables { (s, _) =>
        TrainingPipeline.groupSample(s.table("documents"), "lang", "doc_id", k = 5)
          .select("lang", "doc_id")
          .orderBy("lang", "doc_id")
      },
      Some("""SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('42-' || doc_id), doc_id) AS rn
        |  FROM documents) WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin)),

    QueryDef(
      "t07_redact_pii",
      withTables { (s, _) =>
        // deterministically inject an email, phone and IP per row so the
        // redaction regexes are genuinely exercised (the synthetic corpus
        // carries none), identically in both engines
        val aug = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 555 0100 from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 ok"))
        spreadDocs(s)
          .select(col("doc_id"), TextFunctions.redactPii(aug).as("clean"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id::VARCHAR ||
        |      '@example.com or +1 555 0100 from 10.0.' || (doc_id % 256)::VARCHAR || '.7 ok',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t09_strip_markup",
      withTables { (s, _) =>
        // deterministically wrap each text in HTML/markdown noise so the
        // stripping regexes are genuinely exercised (the synthetic corpus
        // is plain text), identically in both engines
        val aug = concat(lit("<div class=\"post\"><p>**"), col("text"),
          lit("**</p>&nbsp;<br/># footer_"), col("doc_id").cast("string"), lit("</div>"))
        spreadDocs(s)
          .select(col("doc_id"), TextFunctions.stripMarkup(aug).as("clean"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    '<div class="post"><p>**' || text || '**</p>&nbsp;<br/># footer_' ||
        |      doc_id::VARCHAR || '</div>',
        |    '<[^>]*>', ' ', 'g'),
        |    '&[A-Za-z]{2,8};|&#\d{1,6};', ' ', 'g'),
        |    '[*_~`#]+', '', 'g'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t10_lm_score",
      withTables { (s, dir) =>
        // CCNet-style LM quality scoring: a unigram LM trained on the
        // deterministic corpus sample, mean token NLL scored map-side.
        // Training isn't SQL-statable; the TRAINED log-probs are — the
        // d21-family parity pattern applied to text ({LM_VOCAB}/{LM_OOV}
        // bound per sfDir in oracleSqlFor), so the whole scoring path is
        // hash-checked. The fold is ORDERED on both engines (list
        // arithmetic, not a GROUP BY sum).
        val (v, oov) = fixedUnigramLm(dir)
        // NO spreadDocs here (r18 retraction): unigram NLL scoring is a
        // cheap map-lookup per token — the row ran 0.12 s single-task, and
        // r17's added exchange cost ~3x more than the parallelism bought
        // (the only confirmed _meta.cost_changed regression of that round).
        // Same reasoning as the c01/c03/c06 retractions.
        s.table("documents")
          .select(col("doc_id"),
            TextFunctions.lmScore(col("text"), v.toMap, oov).as("lm_nll"))
          .orderBy("doc_id")
      },
      Some("""WITH lm AS (SELECT {LM_VOCAB} AS m)
        |SELECT doc_id,
        |  round(list_sum(list_transform(string_split(text, ' '),
        |    t -> -coalesce(map_extract(m, t)[1], {LM_OOV})))
        |    / len(string_split(text, ' ')), 6) AS lm_nll
        |FROM documents CROSS JOIN lm ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t08_repetition_ratio",
      withTables { (s, _) =>
        spreadDocs(s)
          .select(col("doc_id"), TextFunctions.repetitionRatio(col("text"), 3).as("rep_ratio"))
          .orderBy("doc_id")
      },
      // oracle counts distinct n-gram STRINGS where the engine counts
      // distinct 64-bit hashes — equal absent collisions, like d04/c01
      Some("""SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    1.0 - len(list_distinct(list_transform(range(len(w)-2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])))::DOUBLE / (len(w)-2)
        |  ELSE 0.0 END AS rep_ratio
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "c03_chunk_documents",
      withTables { (s, _) =>
        TrainingPipeline.chunkDocuments(s.table("documents"), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
          .orderBy("doc_id", "chunk_id")
      },
      // stride = 64 - 16 = 48; DuckDB list slice is 1-based inclusive and
      // clamps at the end, exactly like Spark's slice(arr, start, length)
      Some("""SELECT doc_id, t.u // 48 AS chunk_id, t.u AS start,
        |  array_to_string(w[t.u+1 : t.u+64], ' ') AS chunk_text
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |  unnest(range(0, len(w), 48)) AS t(u)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    QueryDef(
      "c01_decontaminate",
      withTables { (s, _) =>
        // every 20th doc plays the benchmark/eval set; the rest is corpus
        val docs = s.table("documents")
        TrainingPipeline.decontaminate(
          docs.where(col("doc_id") % 20 =!= 0),
          docs.where(col("doc_id") % 20 === 0), n = 3)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      // oracle works on exact shingle STRINGS where the engine joins on
      // 64-bit shingle hashes — equal absent hash collisions, like d04
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
        |bsh AS (SELECT DISTINCT unnest(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 20 = 0)
        |  WHERE len(w) >= 3),
        |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
        |  WHERE len(w) >= 3),
        |bad AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b USING (s))
        |SELECT d.doc_id, d.lang FROM corpus d
        |  LEFT JOIN bad USING (doc_id) WHERE bad.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "c02_pack_sequences",
      withTables { (s, _) =>
        val docs = s.table("documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        TrainingPipeline.packSequences(
          docs, "doc_id", col("n_tokens"), pmod(col("doc_id"), lit(8)), budget = 2048L)
          .select("doc_id", "shard", "pack", "off")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, shard, (start // 2048)::BIGINT AS pack, (start % 2048)::BIGINT AS off
        |FROM (SELECT doc_id, shard,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
        |  FROM (SELECT doc_id, doc_id % 8 AS shard,
        |      len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents))
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "c04_sample_mixture",
      withTables { (s, _) =>
        // data-mixture sampling: 50% of en, all of de, 10% of fr, drop the
        // rest — deterministic md5-threshold, identical in both engines
        TrainingPipeline.sampleFraction(s.table("documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.1))
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5('42-' || doc_id), 1, 7))::BIGINT / 268435456.0 <
        |  CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 WHEN 'fr' THEN 0.1 ELSE -1.0 END
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "c05_budget_select",
      withTables { (s, _) =>
        // fill a 5000-token budget per language with the longest docs first
        val docs = s.table("documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        TrainingPipeline.selectUnderBudget(docs, "lang", "doc_id",
          col("n_tokens"), col("n_chars"), budget = 5000L)
          .select("doc_id", "lang", "n_tokens")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_tokens FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, lang, n_chars,
        |      len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents))
        |WHERE cum <= 5000 ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "c09_budget_select_pruned",
      withTables { (s, _) =>
        // c05's scale path: quantile pre-prune filters the input before the
        // per-group sort, at a budget where pruning really fires (slack
        // 3×1000 tokens ≪ per-lang token mass), with the exactness fallback
        // guarding the greedy prefix. The oracle is the plain windowed
        // formulation — a pruning bug fails the hash gate, not just a spec.
        val docs = s.table("documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        TrainingPipeline.selectUnderBudget(docs, "lang", "doc_id",
          col("n_tokens"), col("n_chars"), budget = 1000L,
          prePrune = true, pruneSlack = 3.0)
          .select("doc_id", "lang", "n_tokens")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_tokens FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM (SELECT doc_id, lang, n_chars,
        |      len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents))
        |WHERE cum <= 1000 ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "c06_decontaminate_bloom",
      withTables { (s, _) =>
        // every 10th doc plays the benchmark; the Bloom prune + exact verify
        // must return EXACTLY what c01's all-exact path would (no false
        // negatives by construction, false positives verified away)
        val docs = s.table("documents")
        TrainingPipeline.decontaminateBloom(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0), n = 4,
          expectedShingles = 100000L, fpp = 0.01)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      // same exact-string oracle shape as c01 (4-gram form): the sketch is
      // an engine-side pruning detail invisible in the result
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |bsh AS (SELECT DISTINCT unnest(list_transform(range(len(w)-3),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0)
        |  WHERE len(w) >= 4),
        |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w)-3),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
        |  WHERE len(w) >= 4),
        |bad AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b USING (s))
        |SELECT d.doc_id, d.lang FROM corpus d
        |  LEFT JOIN bad USING (doc_id) WHERE bad.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "c08_contamination_report",
      withTables { (s, _) =>
        // audit view of c01's split: per benchmark doc, how many corpus
        // docs share a 3-gram (0 for clean items)
        val docs = s.table("documents")
        TrainingPipeline.contaminationReport(
          docs.where(col("doc_id") % 20 =!= 0),
          docs.where(col("doc_id") % 20 === 0), n = 3)
          .orderBy("bench_id")
      },
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
        |bench AS (SELECT * FROM documents WHERE doc_id % 20 = 0),
        |bsh AS (SELECT doc_id AS bench_id, unnest(list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench)
        |  WHERE len(w) >= 3),
        |csh AS (SELECT doc_id AS corpus_id, unnest(list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
        |  WHERE len(w) >= 3),
        |m AS (SELECT DISTINCT bench_id, corpus_id FROM bsh JOIN csh USING (s)),
        |cnt AS (SELECT bench_id, count(*) AS n_contaminated FROM m GROUP BY bench_id)
        |SELECT b.doc_id AS bench_id, coalesce(cnt.n_contaminated, 0) AS n_contaminated
        |FROM bench b LEFT JOIN cnt ON b.doc_id = cnt.bench_id
        |ORDER BY bench_id""".stripMargin)),

    QueryDef(
      "c07_train_val_split",
      withTables { (s, _) =>
        // stable 80/10/10 holdout assignment — identical md5 interval
        // arithmetic in both engines, so the full assignment is gated
        TrainingPipeline.assignSplits(s.table("documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "lang", "split")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |    ('0x' || substr(md5('42-' || doc_id), 1, 7))::BIGINT / 268435456.0 AS u
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "p01_curation_pipeline",
      withTables { (s, _) =>
        // clusterDedup = false: this entry gates the keep-lowest
        // PAIR-pruning mode against its exact-pair oracle; p02 gates the
        // default connected-components cluster mode
        TrainingPipeline.curate(s.table("documents"), minQuality = 0.2, jaccardThreshold = 0.8,
          clusterDedup = false)
          .select(col("doc_id"), col("pred_lang"), round(col("quality_score"), 6).as("q"))
          .orderBy("doc_id")
      },
      // the full pipeline IS SQL-expressible: the engine's MinHash-LSH
      // candidate step is verified with exact Jaccard and its measured recall
      // at J>=0.8 equals the exact pair set on this corpus (DedupSpec), so
      // the exact-pair oracle hash-matches — a silent recall regression in
      // the LSH path now fails the gate, not just the spec
      Some(s"""WITH annotated AS (
        |  SELECT doc_id, text, $langIdCaseSql AS pred_lang, $qualityScoreSql AS quality_score
        |  FROM documents),
        |filtered AS (SELECT * FROM annotated WHERE quality_score >= 0.2),
        |exact AS (
        |  SELECT doc_id, text, pred_lang, quality_score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM filtered) WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
        |  WHERE len(w) >= 3),
        |losers AS (
        |  SELECT DISTINCT b.doc_id AS doc_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8)
        |SELECT doc_id, pred_lang, round(quality_score, 6) AS q
        |FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "p02_curation_clusters",
      withTables { (s, _) =>
        // default mode: near-dup pairs closed to transitive clusters via
        // connectedComponents, exactly one survivor (min id) per cluster —
        // the semantics pair-pruning (p01) only approximates. Oracle closes
        // the same pair graph with a recursive CTE (d10's shape) composed
        // with p01's annotate/filter/exact stages.
        TrainingPipeline.curate(s.table("documents"), minQuality = 0.2, jaccardThreshold = 0.8,
          clusterDedup = true)
          .select(col("doc_id"), col("pred_lang"), round(col("quality_score"), 6).as("q"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE annotated AS (
        |  SELECT doc_id, text, $langIdCaseSql AS pred_lang, $qualityScoreSql AS quality_score
        |  FROM documents),
        |filtered AS (SELECT * FROM annotated WHERE quality_score >= 0.2),
        |exact AS (
        |  SELECT doc_id, text, pred_lang, quality_score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM filtered) WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
        |  WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT doc_id AS a, doc_id AS b FROM exact
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
        |SELECT e.doc_id, e.pred_lang, round(e.quality_score, 6) AS q
        |FROM exact e JOIN comp c USING (doc_id)
        |WHERE c.component = e.doc_id
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "p03_curation_substring",
      withTables { (s, _) =>
        // substring-aware curation: winnowing edges (k=3, w=4, >=2 shared
        // fingerprints) join the near-dup pair graph before the cluster
        // closure, so docs sharing a lifted passage dedup to one survivor
        // even when whole-doc Jaccard stays below the 0.8 threshold
        TrainingPipeline.curate(s.table("documents"), minQuality = 0.2, jaccardThreshold = 0.8,
          clusterDedup = true, substringDedup = true, winnowK = 3, winnowW = 4, minSharedFp = 2L)
          .select(col("doc_id"), col("pred_lang"), round(col("quality_score"), 6).as("q"))
          .orderBy("doc_id")
      },
      // p02's oracle with the winnowing pair CTEs unioned into the edge set
      // (md5 windowed-min selection is engine-identical, so the combined
      // closure is exact in both engines)
      Some(s"""WITH RECURSIVE annotated AS (
        |  SELECT doc_id, text, $langIdCaseSql AS pred_lang, $qualityScoreSql AS quality_score
        |  FROM documents),
        |filtered AS (SELECT * FROM annotated WHERE quality_score >= 0.2),
        |exact AS (
        |  SELECT doc_id, text, pred_lang, quality_score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM filtered) WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
        |  WHERE len(w) >= 3),
        |jpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        |wsh AS (
        |  SELECT doc_id, list_transform(range(len(w) - 2),
        |      i -> md5(array_to_string(w[i+1:i+3], ' '))) AS mds
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
        |  WHERE len(w) >= 6),
        |wfp AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(mds) - 3),
        |      j -> list_min(mds[j+1:j+4])))) AS fp
        |  FROM wsh),
        |wpairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |pairs AS (SELECT * FROM jpairs UNION SELECT * FROM wpairs),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT doc_id AS a, doc_id AS b FROM exact
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
        |SELECT e.doc_id, e.pred_lang, round(e.quality_score, 6) AS q
        |FROM exact e JOIN comp c USING (doc_id)
        |WHERE c.component = e.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // streaming operators in batch mode: every EventStreams transform works
    // identically on a batch frame (watermarks are no-ops), so the SAME
    // function the streaming specs exercise gets a DuckDB-oracle gate row —
    // a semantics regression in the streaming ops now fails the driver gate,
    // not just the spec suites.
    QueryDef(
      "st01_stream_dedup",
      withTables { (s, _) =>
        // which physical row survives dedup is arrival-order-dependent (in
        // streaming: first arrival; in batch: partition order), so the gate
        // checks the deterministic contract — exactly the distinct key set
        // survives, no key lost, no duplicate kept
        graft.streaming.EventStreams.dedupWithinWatermark(
          s.table("events"), "1 hour", "user_id", "event_type")
          .select("user_id", "event_type")
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),

    QueryDef(
      "st02_purchase_attribution",
      withTables { (s, _) =>
        // fully deterministic in batch: an inner join on user + a bounded
        // event-time window (the stream-stream join's exact semantics)
        graft.streaming.EventStreams.purchaseAttribution(
          s.table("events"), "1 hour", windowSeconds = 600)
          .select("purchase_id", "user_id", "click_id", "value")
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id, p.value
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 600 SECONDS
        |ORDER BY purchase_id, click_id""".stripMargin)),

    QueryDef(
      "st07_attribution_outer",
      withTables { (s, _) =>
        // the OUTER attribution question — purchases with NO prior click
        // surface with null click columns. In streaming the null rows emit
        // once the click watermark passes the window; on a bounded frame
        // that is every unmatched purchase, so the batch face is a plain
        // left join on the same predicate. asc_nulls_first matches the
        // oracle's explicit NULLS FIRST.
        graft.streaming.EventStreams.purchaseAttribution(
          s.table("events"), "1 hour", windowSeconds = 600, joinType = "left_outer")
          .select("purchase_id", "user_id", "click_id", "value")
          .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
      },
      // event_type filters live in subselects, NOT the join condition —
      // in an outer join a condition-side filter would null-pad instead of
      // filtering
      Some("""SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id, p.value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 600 SECONDS
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin)),

    QueryDef(
      "st08_attribution_full",
      withTables { (s, _) =>
        // FULL-outer attribution completes the outer family: purchases with
        // no prior click AND clicks that never led to a purchase, each
        // null-padded on the missing side (in streaming, each emitted only
        // once the other side's watermark proves it unmatched). user_id is
        // coalesced from whichever side exists; batch face = FULL JOIN on
        // the same predicate.
        graft.streaming.EventStreams.purchaseAttribution(
          s.table("events"), "1 hour", windowSeconds = 600, joinType = "full_outer")
          .select("purchase_id", "user_id", "click_id", "value")
          .orderBy(col("purchase_id").asc_nulls_first, col("click_id").asc_nulls_first)
      },
      Some("""SELECT p.event_id AS purchase_id,
        |  coalesce(p.user_id, c.user_id) AS user_id,
        |  c.event_id AS click_id, p.value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 600 SECONDS
        |ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST""".stripMargin)),

    QueryDef(
      "st03_stream_curate",
      withTables { (s, _) =>
        // batch face of the live document-ingest curation; which physical
        // row survives the (fp, n_chars) dedup is arrival-order-dependent,
        // so the gate checks the deterministic contract: exactly the
        // distinct key set of quality-passing docs survives
        val docs = s.table("documents").withColumn("ts", col("doc_id").cast("timestamp"))
        graft.streaming.DocumentStreams.curateStream(docs, "1 hour", minQuality = 0.2)
          .select("fp", "n_chars_calc")
          .orderBy("fp", "n_chars_calc")
      },
      Some(s"""WITH annotated AS (
        |  SELECT doc_id, length(text) AS n_chars_calc,
        |    cast(list_sum(list_transform(range(len(string_split(text, ' '))),
        |      i -> ('0x' || substr(md5(string_split(text, ' ')[i+1]), 1, 7))::BIGINT * (i + 1)))
        |      % 2147483647 AS BIGINT) AS fp,
        |    $qualityScoreSql AS quality_score
        |  FROM documents)
        |SELECT DISTINCT fp, n_chars_calc FROM annotated
        |WHERE quality_score >= 0.2 ORDER BY fp, n_chars_calc""".stripMargin)),

    // stateful streaming ops in batch mode (r7): session_window aggregation,
    // mapGroupsWithState running totals and flatMapGroupsWithState
    // sessionization each get a DuckDB-oracle row, closing the last
    // spec-only streaming gap — a semantics regression in ANY streaming
    // operator now fails the driver gate.
    QueryDef(
      "st04_session_stats",
      withTables { (s, _) =>
        // decimal partials make the per-session sum exact/order-independent;
        // session_window end = last event ts + gap (Spark merge semantics)
        graft.streaming.EventStreams.sessionStats(
          s.table("events").withColumn("value", col("value").cast("decimal(18,2)")),
          "600 seconds", "1 hour")
          .select(col("session_start"), col("session_end"), col("user_id"),
            col("n_events"), col("total_value").cast("double").as("total_value"))
          .orderBy("user_id", "session_start")
      },
      // a new session starts when the gap since the previous event reaches
      // the 600s window (Spark merges only strictly-overlapping windows);
      // timestamps are continuous microseconds, so >= vs > never ties
      Some("""WITH o AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 600 SECONDS
        |      THEN 1 ELSE 0 END AS new_s FROM events),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT min(ts) AS session_start, max(ts) + INTERVAL 600 SECONDS AS session_end,
        |  user_id, count(*) AS n_events,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    QueryDef(
      "st05_running_totals",
      withTables { (s, _) =>
        import s.implicits._
        val ev = s.table("events")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.EventStreams.Event]
        // batch execution of mapGroupsWithState: one pass per group from
        // empty state → the final running totals = per-user aggregate. The
        // in-state double accumulates in row order, so the gate compares
        // ROUNDED sums (2dp inputs; accumulated fp error ≪ 0.005)
        graft.streaming.EventStreams.runningUserTotals(ev)
          .toDF()
          .select(col("user_id"), col("n_events"),
            round(col("total_value"), 2).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    QueryDef(
      "st06_sessionize",
      withTables { (s, _) =>
        import s.implicits._
        val ev = s.table("events")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.EventStreams.Event]
        // batch face of flatMapGroupsWithState sessionization (the
        // isStreaming branch inside sessionize): session_end here is the
        // LAST EVENT's ts, not +gap — the closed-session contract
        graft.streaming.EventStreams.sessionize(ev, gapMs = 600000L)
          .toDF()
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"), round(col("total_value"), 2).as("total_value"))
          .orderBy("user_id", "session_start")
      },
      // gap comparison at MILLISECOND resolution (epoch_ms), matching the
      // streaming path's Timestamp.getTime arithmetic; same-session iff
      // diff <= gap (sessionize's inclusive rule)
      Some("""WITH o AS (SELECT user_id, ts, value, epoch_ms(ts) AS tms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR tms - prev > 600000
        |  THEN 1 ELSE 0 END AS new_s FROM o),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // the 100 TB distinct-count path: HyperLogLog++ is a fixed-size
    // mergeable sketch (map-side partial + merge), where q15's exact
    // count(distinct) expands every distinct key through the shuffle.
    // Sketch estimates are engine-specific → rows-only gate; the spec
    // bounds the error against q15's exact counts and pins the
    // partial+merge plan shape.
    QueryDef(
      "q51_approx_distinct",
      SparkEntry.psql("""from lineitem |>
        |select l_returnflag,
        |  approx_count_distinct(l_partkey) as n_parts,
        |  approx_count_distinct(l_suppkey) as n_supps,
        |  count() as n_rows group by l_returnflag |>
        |order by l_returnflag""".stripMargin),
      None),

    // skew-mitigation operators on the deliberately skewed events.user_id:
    // semantics must equal the plain join / plain groupBy (the oracle), so a
    // salting regression (lost rows, double-counted partials) fails the gate
    QueryDef(
      "s01_salted_join",
      withTables { (s, _) =>
        val ev = s.table("events")
        val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_total"))
        SkewJoin.saltedEquiJoin(ev.select("event_id", "user_id"), dim, "user_id", saltFactor = 8)
          .select("event_id", "user_id", "user_total")
          .orderBy("event_id")
      },
      Some("""WITH dim AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, d.user_total
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |ORDER BY event_id""".stripMargin)),

    QueryDef(
      "s02_salted_agg",
      withTables { (s, _) =>
        // decimal partials keep the two-phase sum exact and order-independent
        val ev = s.table("events")
          .select(col("user_id"), col("value").cast("decimal(18,2)").as("v"))
        SkewJoin.saltedCountSum(ev, "user_id", "v", saltFactor = 8)
          .select(col("user_id"), col("n"), col("total").cast("double").as("total"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    QueryDef(
      "q53_parquet_path_scan",
      // quoted-PATH parquet scan (PathRelations format sniffing), not the
      // registered catalog table — the oracle reads the same file via the
      // {SF_DIR} placeholder, which Verify substitutes with the sfDir it was
      // invoked with, so engine and oracle stay on the same dataset at any
      // scale factor
      withTables { (s, dir) =>
        Psqlish(s,
          s"""from '$dir/documents.parquet' |>
             |where lang = 'en' |>
             |select doc_id, n_chars |>
             |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, n_chars FROM '{SF_DIR}/documents.parquet'
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q55_json_scan",
      // quoted-PATH JSONL scan (the remaining PathRelations format with an
      // offline-checkable oracle): the fn materializes nation as JSONL in a
      // stable location, both engines read the SAME file — Spark through the
      // PSQL path-scan front-end, DuckDB through read_json_auto
      withTables { (s, _) =>
        // a fixed same-host scratch path: the driver protocol runs Verify
        // and the DuckDB compare on one machine minutes apart, which is the
        // lifetime this file needs (re-written fresh on every invocation)
        val dir = new java.io.File("/tmp/graft_q55"); dir.mkdirs()
        val f = new java.io.File(dir, "nation.jsonl")
        val rows = s.table("nation")
          .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
          .collect() // 25 rows — a bounded dimension, not data
          .map { r =>
            s"""{"n_nationkey": ${r.get(0)}, "n_name": ${jsonStr(r.getString(1))}, "n_regionkey": ${r.get(2)}}"""
          }
        java.nio.file.Files.writeString(f.toPath, rows.mkString("", "\n", "\n"))
        Psqlish(s,
          """from '/tmp/graft_q55/nation.jsonl' |>
            |where n_regionkey >= 2 |>
            |select n_nationkey, n_name, n_regionkey |>
            |order by n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
        |FROM read_json_auto('/tmp/graft_q55/nation.jsonl')
        |WHERE n_regionkey >= 2 ORDER BY n_nationkey""".stripMargin)),

    QueryDef(
      "q52_hopping_window",
      withTables { (s, _) =>
        // batch face of the sliding-window aggregate: 1h windows every 30min,
        // each event in exactly 2 windows; decimal partials for exact sums
        graft.streaming.EventStreams.hoppingStats(
          s.table("events").withColumn("value", col("value").cast("decimal(18,2)")),
          "1 hour", "30 minutes", "1 hour")
          .select(col("window_start"), col("event_type"), col("n"),
            col("total").cast("double").as("total"))
          .orderBy("window_start", "event_type")
      },
      // window starts for (len 1h, slide 30min): the two 30-min grid points
      // at and before each event's timestamp, same epoch alignment as Spark
      Some("""SELECT cast(to_timestamp(s) as timestamp) AS window_start, event_type,
        |  count(*) AS n, cast(sum(cast(value as decimal(18,2))) as double) AS total
        |FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, event_type, value FROM events),
        |  unnest([(e // 1800) * 1800, (e // 1800) * 1800 - 1800]) AS t(s)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      "q32_tumbling_window",
      withTables { (s, _) =>
        Psqlish(s, """from events |>
          |select cast(date_trunc('hour', ts) as timestamp) as hour_start, event_type,
          |  count() as n, cast(sum(cast(value as decimal(18,2))) as double) as total
          |  group by 1, 2 |>
          |order by hour_start, event_type""".stripMargin)
      },
      Some("""SELECT cast(date_trunc('hour', ts) as timestamp) AS hour_start, event_type,
        |  count(*) AS n, cast(sum(cast(value as decimal(18,2))) as double) AS total
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    QueryDef(
      "st09_stream_neardup_pairs",
      withTables { (s, _) =>
        // batch face of the bounded-horizon streaming near-dup detector:
        // same plan (banded self-join, first-agreeing-band exactly-once,
        // exact rounded Jaccard) — withWatermark no-ops on batch. ts =
        // doc_id seconds, so the 240 s horizon is id_b - id_a <= 240 in
        // the oracle. Streaming face spec'd on MemoryStream against this
        // exact output (DocumentStreamsSpec).
        val docs = s.table("documents").withColumn("ts", col("doc_id").cast("timestamp"))
        graft.streaming.DocumentStreams.nearDupPairsStream(
          docs, watermark = "1 hour", horizon = "240 seconds", threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, hs, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.doc_id < y.doc_id AND y.doc_id - x.doc_id <= 240),
        |v AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |      (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) AS jaccard
        |  FROM cand c JOIN sh p ON p.doc_id = c.id_a JOIN sh q ON q.doc_id = c.id_b)
        |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "c10_dsir_select",
      withTables { (s, dir) =>
        // DSIR data selection (Xie et al. 2023): importance log-weights
        // from trained hashed-ngram distributions (target = English docs),
        // top-200 kept. Training isn't SQL-statable; the TRAINED ratio
        // array is — {DSIR_RATIOS} binds the same 1024 doubles into the
        // oracle (the d21/t10 parity pattern), and both engines fold the
        // unigrams-then-bigrams feature list in order, so the whole
        // selection path is hash-checked.
        graft.operators.TrainingPipeline.dsirSelect(
          s.table("documents"), "doc_id", "text",
          fixedDsirRatios(dir), topN = 200)
      },
      Some("""WITH rr AS (SELECT {DSIR_RATIOS} AS r),
        |f AS (
        |  SELECT doc_id,
        |    list_concat(w, CASE WHEN len(w) >= 2 THEN
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |      ELSE [] END) AS fs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |SELECT doc_id,
        |  round(list_sum(list_transform(fs,
        |    x -> r[(('0x' || substr(md5(x), 1, 7))::BIGINT % 1024)::INT + 1])), 6)
        |    AS dsir_weight
        |FROM f CROSS JOIN rr
        |ORDER BY dsir_weight DESC, doc_id LIMIT 200""".stripMargin)),

    QueryDef(
      "t12_ccnet_buckets",
      withTables { (s, dir) =>
        // CCNet's bucketing step (Wenzek et al. 2019): corpus-wide
        // perplexity terciles split documents into head/middle/tail. The
        // cutoffs come from the SAME scale-safe distributed selection the
        // q37/q50 gate rows prove byte-identical to quantile_cont —
        // nothing larger than a partition anywhere, then a 1-row broadcast
        // for the map-side bucket assignment. The tercile fractions are
        // the shortest-round-trip doubles of 1/3 and 2/3, spelled
        // identically in the oracle.
        val (v, oov) = fixedUnigramLm(dir)
        val scored = spreadDocs(s).select(col("doc_id"),
          graft.functions.TextFunctions.lmScore(col("text"), v.toMap, oov).as("lm_nll"))
        val cuts = graft.operators.Percentiles.exactByGroup(
          scored.withColumn("__one", lit(1)), "__one", "lm_nll",
          Seq("q1" -> (1.0 / 3), "q2" -> (2.0 / 3)))
          .select(col("q1"), col("q2"))
        scored.crossJoin(broadcast(cuts))
          .select(col("doc_id"), col("lm_nll"),
            when(col("lm_nll") < col("q1"), "head")
              .when(col("lm_nll") < col("q2"), "middle")
              .otherwise("tail").as("ppl_bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH lm AS (SELECT {LM_VOCAB} AS m),
        |scored AS (SELECT doc_id,
        |  round(list_sum(list_transform(string_split(text, ' '),
        |    t -> -coalesce(map_extract(m, t)[1], {LM_OOV})))
        |    / len(string_split(text, ' ')), 6) AS lm_nll
        |  FROM documents CROSS JOIN lm),
        |cuts AS (SELECT quantile_cont(lm_nll, 0.3333333333333333) AS q1,
        |  quantile_cont(lm_nll, 0.6666666666666666) AS q2 FROM scored)
        |SELECT doc_id, lm_nll, CASE WHEN lm_nll < q1 THEN 'head'
        |  WHEN lm_nll < q2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t11_gopher_rules",
      withTables { (s, _) =>
        // the Gopher quality-rule battery (Rae et al. 2021 §A1.1): all
        // metrics + the combined verdict from one map-side pass
        val cols = graft.functions.TextFunctions.gopherQuality(col("text"))
          .map { case (n, c) => c.as(n) }
        spreadDocs(s)
          .select((col("doc_id") +: cols): _*)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  len(w)::BIGINT AS n_words,
        |  CASE WHEN len(w) > 0 THEN
        |    round(list_sum(list_transform(w, t -> len(t)::DOUBLE)) / len(w), 6)
        |  ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN len(w) > 0 THEN
        |    round(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
        |      / len(w), 6)
        |  ELSE 0.0 END AS alpha_frac,
        |  len(list_filter(w,
        |    t -> list_contains(['the','be','to','of','and','that','have','with'], t)
        |    ))::BIGINT AS stop_hits,
        |  (len(w) BETWEEN 50 AND 100000
        |    AND (CASE WHEN len(w) > 0 THEN
        |      round(list_sum(list_transform(w, t -> len(t)::DOUBLE)) / len(w), 6)
        |      ELSE 0.0 END) BETWEEN 3.0 AND 10.0
        |    AND (CASE WHEN len(w) > 0 THEN
        |      round(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))::DOUBLE
        |        / len(w), 6) ELSE 0.0 END) >= 0.8
        |    AND len(list_filter(w,
        |      t -> list_contains(['the','be','to','of','and','that','have','with'], t)
        |      )) >= 2) AS gopher_pass
        |FROM (SELECT doc_id,
        |  list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t14_c4_filters",
      withTables { (s, _) =>
        // C4 cleaning battery (Raffel et al. 2020 §2.2). The synthetic
        // corpus is one flat line, so page structure is synthesized
        // identically in both engines: words re-wrapped into 8-word lines,
        // a line gains a terminal '.' when its md5 leads with an even hex
        // digit, and deterministic injections exercise the doc-level drops
        // (lorem ipsum at doc_id%7, a `{` line at %11, a blocklist hit at
        // %13) plus a short unterminated footer line for the line rules.
        val w = filter(split(col("text"), " ", -1), t => length(t) > lit(0))
        val nLines = floor((size(w) + lit(7)) / lit(8)).cast("int")
        val body = when(size(w) > lit(0),
          transform(sequence(lit(0), nLines - lit(1)), i => {
            val line = array_join(slice(w, i * lit(8) + lit(1), lit(8)), " ")
            concat(line,
              when(conv(substring(md5(line), 1, 1), 16, 10).cast("long") % 2 === 0, ".")
                .otherwise(""))
          })).otherwise(array().cast("array<string>"))
        def inj(m: Int, line: String) =
          when(col("doc_id") % m === 0, array(lit(line))).otherwise(array().cast("array<string>"))
        val aug = array_join(
          concat(inj(7, "Lorem ipsum dolor sit amet."), body,
            inj(11, "var f = function() { return 1; }"),
            inj(13, "win big at the casino today."),
            array(lit("thanks for reading"))), "\n")
        val cols = graft.functions.TextFunctions.c4Clean(col("__aug"))
          .map { case (n, c) => c.as(n) }
        spreadDocs(s)
          .withColumn("__aug", aug)
          .select((col("doc_id") +: cols): _*)
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |aug AS (
        |  SELECT doc_id, array_to_string(
        |    (CASE WHEN doc_id % 7 = 0 THEN ['Lorem ipsum dolor sit amet.'] ELSE [] END)
        |    || list_transform(range((len(w) + 7) // 8),
        |         i -> array_to_string(w[i*8+1 : i*8+8], ' ') ||
        |           CASE WHEN ('0x' || substr(md5(array_to_string(w[i*8+1 : i*8+8], ' ')), 1, 1))::BIGINT % 2 = 0
        |             THEN '.' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN ['var f = function() { return 1; }'] ELSE [] END)
        |    || (CASE WHEN doc_id % 13 = 0 THEN ['win big at the casino today.'] ELSE [] END)
        |    || ['thanks for reading'], chr(10)) AS a
        |  FROM base),
        |cl AS (
        |  SELECT doc_id, a,
        |    list_filter(string_split(a, chr(10)),
        |      l -> len(list_filter(string_split(l, ' '), t -> len(t) > 0)) >= 5
        |        AND list_contains(['.', '!', '?', '"'], right(l, 1))) AS kept
        |  FROM aug),
        |fin AS (
        |  -- array_to_string([]) is NULL in DuckDB but '' in Spark: coalesce
        |  SELECT doc_id, a, coalesce(array_to_string(kept, chr(10)), '') AS clean,
        |    len(kept)::BIGINT AS n_lines_kept
        |  FROM cl)
        |SELECT doc_id, clean, n_lines_kept,
        |  length(regexp_replace(clean, '[^.!?]', '', 'g'))::BIGINT AS n_sentences,
        |  (length(regexp_replace(clean, '[^.!?]', '', 'g')) >= 3
        |    AND NOT contains(lower(a), 'lorem ipsum')
        |    AND NOT contains(a, '{')
        |    AND NOT regexp_matches(lower(a), '\b(casino|viagra|xxx)\b')) AS c4_keep
        |FROM fin ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "g01_pagerank",
      withTables { (s, _) =>
        // link-graph authority scoring over the events click-graph
        // (user_id -> props.k, id spaces overlap so the graph is genuinely
        // connected). Fixed-point integer arithmetic makes all 10
        // iterations bit-identical to the oracle's unrolled CTEs.
        val edges = s.table("events").select(col("user_id").as("src"),
          get_json_object(col("props"), "$.k").cast("long").as("dst"))
        GraphOps.pageRankTopK(edges, "src", "dst", k = 20, iterations = 10)
      },
      Some(pageRankOracle(10))),

    QueryDef(
      "g05_pagerank_dangling",
      withTables { (s, _) =>
        // the textbook formulation: each iteration's sink (dangling) mass
        // is shared equally across all nodes instead of dropped — g01's
        // graph has genuine sinks (props.k ids that never click), so the
        // two rankings measurably differ. The per-iteration dangling sum is
        // one integer scalar, so the unrolled oracle stays hash-exact.
        val edges = s.table("events").select(col("user_id").as("src"),
          get_json_object(col("props"), "$.k").cast("long").as("dst"))
        GraphOps.pageRankTopK(edges, "src", "dst", k = 20, iterations = 10,
          redistributeDangling = true)
      },
      Some(pageRankDanglingOracle(10))),
  ) ++ retrievalDefs ++ closureDefs

  /** g01's oracle: the SAME fixed-point integer PageRank as
    * [[GraphOps.pageRank]] (scale 1e12, damping 85/100, base
    * 150000000000 // n, `div` everywhere) with the iteration loop unrolled
    * into CTEs r1..rN — integer arithmetic is order-independent, so the
    * hash comparison is exact.
    */
  private def pageRankOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT x.node, (150000000000 // nn.n) + (85 * coalesce(c.csum, 0)) // 100 AS rank
         |  FROM nodes x CROSS JOIN nc nn LEFT JOIN (
         |    SELECT e.dst AS node, sum(r${i - 1}.rank // od.outdeg) AS csum
         |    FROM e JOIN r${i - 1} ON r${i - 1}.node = e.src JOIN od ON od.src = e.src
         |    GROUP BY e.dst) c ON c.node = x.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT user_id AS src, CAST(json_extract(props, '$$.k') AS BIGINT) AS dst
       |  FROM events WHERE user_id IS NOT NULL AND json_extract(props, '$$.k') IS NOT NULL),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nc AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT node, 1000000000000 // nn.n AS rank FROM nodes CROSS JOIN nc nn),
       |$iters
       |SELECT node, CAST(rank AS BIGINT) AS rank
       |FROM r$iterations ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** g06's oracle: [[GraphOps.kCore]]'s peeling rounds unrolled as
    * MATERIALIZED CTEs — per round, in-subgraph degrees (both endpoints
    * surviving) then the ≥ k filter; all-integer, hash-exact.
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT u.src AS node, count(*) AS degree FROM und u
         |  JOIN n${i - 1} a ON a.node = u.src
         |  JOIN n${i - 1} b ON b.node = u.dst
         |  GROUP BY u.src),
         |n$i AS MATERIALIZED (SELECT node FROM d$i WHERE degree >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT l_orderkey * 2 AS s, l_partkey * 2 + 1 AS d FROM lineitem),
       |und AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT s AS src, d AS dst FROM raw WHERE s != d
       |    UNION ALL SELECT d, s FROM raw WHERE s != d)),
       |n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
       |$iters
       |SELECT node, degree FROM d$rounds WHERE degree >= $k ORDER BY node""".stripMargin
  }

  /** g05's oracle: [[pageRankOracle]] with the textbook dangling-mass
    * redistribution — each iteration adds a MATERIALIZED 1-row CTE summing
    * the previous round's sink ranks (nodes absent from `od`), and every
    * node's update gains `85 · (dsum // n) // 100` units. Still all-integer,
    * so the unrolled comparison stays hash-exact.
    */
  private def pageRankDanglingOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT coalesce(sum(rank), 0) AS dsum FROM r${i - 1}
         |  WHERE node NOT IN (SELECT src FROM od)),
         |r$i AS MATERIALIZED (
         |  SELECT x.node,
         |    (150000000000 // nn.n) +
         |    (85 * (coalesce(c.csum, 0) + (dd.dsum // nn.n))) // 100 AS rank
         |  FROM nodes x CROSS JOIN nc nn CROSS JOIN d$i dd LEFT JOIN (
         |    SELECT e.dst AS node, sum(r${i - 1}.rank // od.outdeg) AS csum
         |    FROM e JOIN r${i - 1} ON r${i - 1}.node = e.src JOIN od ON od.src = e.src
         |    GROUP BY e.dst) c ON c.node = x.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT user_id AS src, CAST(json_extract(props, '$$.k') AS BIGINT) AS dst
       |  FROM events WHERE user_id IS NOT NULL AND json_extract(props, '$$.k') IS NOT NULL),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nc AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT node, 1000000000000 // nn.n AS rank FROM nodes CROSS JOIN nc nn),
       |$iters
       |SELECT node, CAST(rank AS BIGINT) AS rank
       |FROM r$iterations ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  /** r01–r03's fixed query-term list: one rare term (df 25/500) among three
    * common ones (df ≈ 385–394) so the IDF weighting actually discriminates.
    */
  private val bm25Terms = Seq("spark", "dup", "vector", "merge")

  /** c11's target mixture: three named sources over-weighted (src0 rate ≈
    * 7 epochs at sf0.01 — real upsampling), the remaining 17 share the
    * rest (~1.2 epochs at sf0.01, sub-1 at sf0.1 — downsampling too). The
    * SAME Seq generates both the Spark when-chain and the oracle CASE.
    */
  private val mixtureShares: Seq[(String, Double)] =
    Seq("src0" -> 0.2, "src1" -> 0.15, "src2" -> 0.1) ++
      (3 to 19).map(i => s"src$i" -> 0.55 / 17)

  private def mixtureShareCaseSql: String =
    "CASE t.source " + mixtureShares.map { case (g, p) => s"WHEN '$g' THEN $p" }
      .mkString(" ") + " ELSE -1.0 END"

  /** Generated DuckDB CTEs computing the SAME BM25 path as
    * [[graft.operators.Retrieval.bm25TopK]] — stats recomputed in-SQL (not
    * bound literals), IDF rounded to 6 immediately, per-term products
    * parenthesized to match Spark's expression-tree association exactly,
    * score summed left-to-right over the literal term order.
    */
  /** `(rank, weight)` VALUES literals for DCG@k — rendered from the SAME
    * doubles the Spark plan uses (Retrieval.log2Weights) via shortest
    * round-trip repr, so both engines parse identical bits.
    */
  private def dcgWeightsValues(k: Int): String =
    Retrieval.log2Weights(k)
      .map { case (r, w) => s"($r, ${java.lang.Double.toString(w)})" }
      .mkString(", ")

  private def bm25ScoredCte(terms: Seq[String]): String = {
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN list_contains(w, '${terms(i)}') THEN 1 ELSE 0 END) AS df_$i")
      .mkString(", ")
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val score = terms.zipWithIndex.map { case (t, i) =>
      s"round(ln(1 + (n_docs::DOUBLE - df_$i::DOUBLE + 0.5) / (df_$i::DOUBLE + 0.5)), 6)" +
        s" * (len(list_filter(w, x -> x = '$t'))::DOUBLE * 2.2" +
        s" / (len(list_filter(w, x -> x = '$t'))::DOUBLE" +
        s" + 1.2 * (0.25 + 0.75 * len(w)::DOUBLE / avgdl)))"
    }.mkString("\n    + ")
    s"""tok AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
       |  FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(len(w)) AS sum_dl, $dfCols FROM tok),
       |scored AS (
       |  SELECT doc_id, round(0.0
       |    + $score, 6) AS bm25
       |  FROM (SELECT *, sum_dl::DOUBLE / n_docs::DOUBLE AS avgdl
       |        FROM tok CROSS JOIN stats)
       |  WHERE len(list_intersect(w, [$termList])) > 0)""".stripMargin
  }

  // -------------------------------------------------------------------
  // Retrieval family (r01–r03): sparse BM25, dense rerank, RRF fusion,
  // plus d27 line-level dedup (grouped here for registration order only).
  // -------------------------------------------------------------------
  private val retrievalDefs: Vector[QueryDef] = Vector(
    QueryDef(
      "d27_line_dedup",
      withTables { (s, _) =>
        Dedup.dedupLines(s.table("documents"), "doc_id", "text", spanWords = 10, minDocs = 2)
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS line
        |  FROM tok, unnest(range((len(w) + 9) // 10)) AS t(i)),
        |dup AS (SELECT line FROM spans GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT * FROM spans s WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.line = s.line)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, ' ' ORDER BY pos) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  ((len(w) + 9) // 10) - coalesce(a.n_kept, 0) AS n_removed
        |FROM tok t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    QueryDef(
      "q56_columns_regex",
      withTables { (s, _) =>
        // DuckDB COLUMNS('re') regex star-expansion through the pipe
        // front-end: shimmed to Spark's quoted-regex column (the conf is
        // set-and-restored by Psql.sql around analysis). Anchored pattern =
        // identical column set under Spark full-match and DuckDB
        // partial-match.
        Psqlish(s, """from lineitem |>
          |select columns('^l_(returnflag|linestatus)$'), l_quantity |>
          |select l_returnflag, l_linestatus, count() as n,
          |  sum(l_quantity) as sum_qty group by all |>
          |order by all""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM (SELECT COLUMNS('^l_(returnflag|linestatus)$'), l_quantity FROM lineitem)
        |GROUP BY ALL ORDER BY ALL""".stripMargin)),

    QueryDef(
      "q57_recursive_cte",
      withTables { (s, _) =>
        // WITH RECURSIVE conformance (Spark 4 native rCTE; DuckDB likewise):
        // ordered traversal building each region's nation chain — anchor =
        // rank-1 nation, recursive step joins rank+1. Passes through the
        // PSQL front-end's plain-SQL detector.
        Psqlish(s, """WITH RECURSIVE ranked AS (
          |  SELECT n_regionkey AS r, n_name,
          |    row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rk
          |  FROM nation),
          |walk AS (
          |  SELECT r, rk, n_name AS chain FROM ranked WHERE rk = 1
          |  UNION ALL
          |  SELECT x.r, x.rk, w.chain || '>' || x.n_name
          |  FROM walk w JOIN ranked x ON x.r = w.r AND x.rk = w.rk + 1)
          |SELECT r AS region_key, cast(max(rk) as bigint) AS n_nations,
          |  max_by(chain, rk) AS chain
          |FROM walk GROUP BY r ORDER BY r""".stripMargin)
      },
      Some("""WITH RECURSIVE ranked AS (
        |  SELECT n_regionkey AS r, n_name,
        |    row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rk
        |  FROM nation),
        |walk AS (
        |  SELECT r, rk, n_name AS chain FROM ranked WHERE rk = 1
        |  UNION ALL
        |  SELECT x.r, x.rk, w.chain || '>' || x.n_name
        |  FROM walk w JOIN ranked x ON x.r = w.r AND x.rk = w.rk + 1)
        |SELECT r AS region_key, cast(max(rk) as bigint) AS n_nations,
        |  max_by(chain, rk) AS chain
        |FROM walk GROUP BY r ORDER BY r""".stripMargin)),

    QueryDef(
      "q58_range_interval_window",
      withTables { (s, _) =>
        // time-based RANGE frame conformance: per-user 1-hour rolling
        // sum/count ordered by event time. RANGE + calendar interval is the
        // frame spec Spark compiles to a single window scan (no self-join
        // range probe); DECIMAL keeps the rolling sum cross-engine exact.
        Psqlish(s, """from events |>
          |select event_id, user_id, ts,
          |  cast(sum(cast(value as decimal(18,2))) over (
          |    partition by user_id order by ts
          |    range between interval 1 hour preceding and current row) as double) as sum_1h,
          |  count() over (
          |    partition by user_id order by ts
          |    range between interval 1 hour preceding and current row) as n_1h |>
          |order by event_id""".stripMargin)
      },
      Some("""SELECT event_id, user_id, ts,
        |  cast(sum(cast(value as decimal(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) as double) AS sum_1h,
        |  count(*) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_1h
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef(
      "q59_by_all_exclude",
      withTables { (s, _) =>
        // DuckDB dialect conveniences through the pipe front-end in one
        // pipeline: GROUP BY ALL (Spark 4 native), star EXCLUDE (shimmed to
        // Spark's * EXCEPT by PsqlRewriter.shims), ORDER BY ALL.
        Psqlish(s, """from lineitem |>
          |select l_returnflag, l_linestatus, count() as n_rows,
          |  sum(l_quantity) as sum_qty group by all |>
          |select * exclude (n_rows) |>
          |order by all""".stripMargin)
      },
      Some("""SELECT * EXCLUDE (n_rows) FROM (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |    sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY ALL) ORDER BY ALL""".stripMargin)),

    QueryDef(
      "c13_decontaminate_spans",
      withTables { (s, _) =>
        // surgical variant of c01 on the same corpus/benchmark split: the
        // contaminated 3-grams are cut out, the documents survive
        val docs = s.table("documents")
        graft.operators.TrainingPipeline.decontaminateSpans(
          docs.where(col("doc_id") % 20 =!= 0),
          docs.where(col("doc_id") % 20 === 0), n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents WHERE doc_id % 20 <> 0),
        |bsp AS (
        |  SELECT DISTINCT array_to_string(bw[i+1 : i+3], ' ') AS s
        |  FROM (SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS bw
        |        FROM documents WHERE doc_id % 20 = 0),
        |    unnest(range(len(bw) - 2)) AS t(i)),
        |msp AS (
        |  SELECT c.doc_id, i AS pos
        |  FROM corpus c, unnest(range(len(w) - 2)) AS t(i)
        |  WHERE array_to_string(w[i+1 : i+3], ' ') IN (SELECT s FROM bsp)),
        |cov AS (SELECT DISTINCT doc_id, p FROM msp, unnest(range(pos, pos + 3)) AS u(p)),
        |tokens AS (
        |  SELECT doc_id, j AS p, w[j+1] AS tok
        |  FROM corpus, unnest(range(len(w))) AS u(j)),
        |kept AS (SELECT t.* FROM tokens t WHERE NOT EXISTS (
        |  SELECT 1 FROM cov WHERE cov.doc_id = t.doc_id AND cov.p = t.p)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, coalesce(a.text_clean, '') AS text_clean,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  len(w) - coalesce(a.n_kept, 0) AS n_removed
        |FROM corpus c LEFT JOIN agg a ON c.doc_id = a.doc_id
        |ORDER BY c.doc_id""".stripMargin)),

    QueryDef(
      "st11_stream_static_enrich",
      withTables { (s, _) =>
        // batch face of the stream-static enrichment topology: events
        // decorated with the static customer dim (broadcast per batch),
        // rolled up per market segment x event type. Unmatched users keep
        // their events under a NULL segment (left-join miss visibility).
        val enriched = graft.streaming.EventStreams.enrichWithDim(
          s.table("events"), s.table("customer"),
          "user_id", "c_custkey", Seq("c_mktsegment"))
        enriched.groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
          .orderBy("c_mktsegment", "event_type")
      },
      Some("""SELECT c_mktsegment, event_type, count(*) AS n,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS total_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin)),

    QueryDef(
      "d28_lsh_neardup_parity",
      withTables { (s, _) =>
        // d09's LSH-blocked embedding near-dup PAIRS, hash-checked — the
        // d24 bridge applied to the pair form: candidates collide on
        // (table, rounded-sign bucket), exact rounded cosine >= threshold
        // verifies. Production d09 keeps the codegen'd sign-bit kernel.
        val v = Materialize(s.table("embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
        val b = lshSignBitBuckets(s, v, "vec_id")
        val cand = b.select(col("vec_id").as("id_a"), col("tbl"), col("bucket"))
          .join(b.select(col("vec_id").as("id_b"), col("tbl"), col("bucket")),
            Seq("tbl", "bucket"))
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        cand
          .join(v.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
          .join(v.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            round(Similarity.cosine(col("va"), col("vb")), 6).as("sim"))
          .where(col("sim") >= 0.4)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH planes(tbl, p, plane) AS (VALUES $lshPlanesSql),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |buckets AS (
        |  SELECT vec_id, tbl,
        |    sum(CASE WHEN round(list_cosine_similarity(v, plane), 6) > 0
        |        THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        |  FROM v CROSS JOIN planes GROUP BY vec_id, tbl),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
        |  WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(list_cosine_similarity(p.v, q.v), 6) AS sim
        |FROM cand JOIN v p ON p.vec_id = cand.id_a JOIN v q ON q.vec_id = cand.id_b
        |WHERE round(list_cosine_similarity(p.v, q.v), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "st10_corpus_stats",
      withTables { (s, _) =>
        // batch face of the live ingest-monitoring aggregate (tumbling
        // 1-min windows per detected language; watermark no-ops on batch).
        // ts = doc_id seconds, the st09 convention.
        val docs = s.table("documents").withColumn("ts", col("doc_id").cast("timestamp"))
        graft.streaming.DocumentStreams.corpusStats(docs, "60 seconds", "1 hour")
          .select(col("window_start"), col("pred_lang"), col("n_docs"),
            col("total_chars"), Fp.grid6(col("mean_quality")).as("mean_quality"))
          .orderBy("window_start", "pred_lang")
      },
      Some(s"""WITH ann AS (
        |  SELECT cast(to_timestamp((doc_id // 60) * 60) as timestamp) AS window_start,
        |    $langIdCaseSql AS pred_lang,
        |    length(text) AS n_chars_calc,
        |    $qualityScoreSql AS quality_score
        |  FROM documents)
        |SELECT window_start, pred_lang, count(*) AS n_docs,
        |  CAST(sum(n_chars_calc) AS BIGINT) AS total_chars,
        |  ${Fp.grid6Sql("cast(sum(cast(quality_score as decimal(18,9))) as double) / count(*)")} AS mean_quality
        |FROM ann GROUP BY window_start, pred_lang
        |ORDER BY window_start, pred_lang""".stripMargin)),

    QueryDef(
      "st12_window_topk_tokens",
      withTables { (s, _) =>
        // batch face of the live heavy-hitter topology: windowed token
        // counts (streaming aggregate) + the per-closed-window top-k rank
        // (foreachBatch stage). ts = doc_id seconds, the st09 convention.
        val docs = s.table("documents").withColumn("ts", col("doc_id").cast("timestamp"))
        val counts = graft.streaming.DocumentStreams.windowTokenCounts(docs, "60 seconds", "1 hour")
        graft.streaming.DocumentStreams.topTokensPerWindow(counts, 5)
          .orderBy("window_start", "rank")
      },
      Some("""WITH tok AS (
        |  SELECT cast(to_timestamp((doc_id // 60) * 60) as timestamp) AS window_start,
        |    t.tok AS token
        |  FROM documents, unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS t(tok)),
        |counts AS (SELECT window_start, token, count(*) AS n FROM tok GROUP BY window_start, token),
        |ranked AS (SELECT window_start, token, n,
        |  cast(row_number() OVER (PARTITION BY window_start ORDER BY n DESC, token) as int) AS rank
        |  FROM counts)
        |SELECT window_start, token, n, rank FROM ranked WHERE rank <= 5
        |ORDER BY window_start, rank""".stripMargin)),

    QueryDef(
      "c11_mixture_epochs",
      withTables { (s, _) =>
        graft.operators.TrainingPipeline.materializeMixture(
          s.table("documents"), "doc_id", "text", "source",
          mixtureShares, budgetTokens = 50000L)
          .orderBy("doc_id", "copy")
      },
      Some(s"""WITH tok AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(text, ' '), t -> len(t) > 0))::BIGINT AS n
        |  FROM documents),
        |tot AS (SELECT source, sum(n) AS toks FROM tok GROUP BY source),
        |rated AS (
        |  SELECT t.doc_id, t.source,
        |    ${mixtureShareCaseSql} * 50000.0 / tot.toks::DOUBLE AS rate
        |  FROM tok t JOIN tot ON t.source = tot.source WHERE tot.toks > 0),
        |cop AS (
        |  SELECT doc_id, source, rate,
        |    floor(rate)::BIGINT + CASE WHEN
        |      ('0x' || substr(md5('42-' || doc_id), 1, 7))::BIGINT / 268435456.0
        |        < rate - floor(rate) THEN 1 ELSE 0 END AS n_copies
        |  FROM rated WHERE rate >= 0)
        |SELECT doc_id, source, round(rate, 6) AS rate, c AS copy
        |FROM cop, unnest(range(1, n_copies + 1)) AS t(c)
        |ORDER BY doc_id, copy""".stripMargin)),

    QueryDef(
      "st13_mixture_drift",
      withTables { (s, _) =>
        // batch face of the live mixture-drift monitor: windowed per-source
        // token totals (streaming aggregate) + closed-window share/deviation
        // verdicts (foreachBatch stage). Target spec covers src0..src2 only,
        // so every other source raises the unexpected-source alert.
        // ts = doc_id seconds, the st09 convention.
        val docs = s.table("documents").withColumn("ts", col("doc_id").cast("timestamp"))
        val counts = graft.streaming.DocumentStreams.windowSourceTokens(
          docs, "60 seconds", "1 hour")
        graft.streaming.DocumentStreams.mixtureDrift(
          counts, Seq("src0" -> 0.2, "src1" -> 0.15, "src2" -> 0.1), tolerance = 0.05)
          .orderBy("window_start", "source")
      },
      Some(s"""WITH tok AS (
        |  SELECT cast(to_timestamp((doc_id // 60) * 60) as timestamp) AS window_start,
        |    source,
        |    len(list_filter(string_split(text, ' '), t -> len(t) > 0))::BIGINT AS n
        |  FROM documents),
        |agg AS (
        |  SELECT window_start, source, count(*) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS toks
        |  FROM tok GROUP BY window_start, source),
        |sh AS (
        |  SELECT *,
        |    ${Fp.grid6Sql("toks::DOUBLE / (sum(toks) OVER (PARTITION BY window_start))::DOUBLE")} AS share,
        |    (CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.15
        |      WHEN 'src2' THEN 0.1 ELSE NULL END)::DOUBLE AS target_share
        |  FROM agg)
        |SELECT window_start, source, n_docs, toks, share, target_share,
        |  CASE WHEN target_share IS NOT NULL
        |    THEN ${Fp.grid6Sql("share - target_share")} END AS deviation,
        |  (target_share IS NULL
        |    OR abs(${Fp.grid6Sql("share - target_share")}) > 0.05) AS drifted
        |FROM sh ORDER BY window_start, source""".stripMargin)),

    QueryDef(
      "c12_curriculum_order",
      withTables { (s, _) =>
        // curriculum materialization: quality phases by fixed thresholds,
        // md5-seeded deterministic shuffle within phase — the row order IS
        // the training order (no global rank column by design: at corpus
        // scale that is a single-partition window; the range-partitioned
        // sort carries the order instead)
        graft.operators.TrainingPipeline.curriculumOrder(
          s.table("documents"), "doc_id", "text", thresholds = Seq(0.5, 0.25))
      },
      Some(s"""SELECT doc_id,
        |  CASE WHEN q >= 0.5 THEN 1 WHEN q >= 0.25 THEN 2 ELSE 3 END AS phase,
        |  md5('42-' || doc_id) AS shuffle_key
        |FROM (SELECT doc_id, $qualityScoreSql AS q FROM documents)
        |ORDER BY phase, shuffle_key, doc_id""".stripMargin)),

    QueryDef(
      "t13_quality_classifier",
      withTables { (s, dir) =>
        // fastText-style linear filter: weights trained driver-side on the
        // bounded sample (lang=en heuristic label), scored map-side with
        // the codegen'd dsirWeight kernel; {QC_WEIGHTS}/{QC_BIAS} bind the
        // SAME doubles into the oracle (the c10/t10 parity pattern)
        val (w, b) = fixedQualityModel(dir)
        graft.operators.TrainingPipeline.qualityClassify(
          s.table("documents"), "doc_id", "text", w, b)
          .orderBy("doc_id")
      },
      Some("""WITH wv AS (SELECT {QC_WEIGHTS} AS r),
        |f AS (
        |  SELECT doc_id,
        |    list_concat(w, CASE WHEN len(w) >= 2 THEN
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |      ELSE [] END) AS fs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |scored AS (
        |  SELECT doc_id,
        |    round(round(list_sum(list_transform(fs,
        |      x -> r[(('0x' || substr(md5(x), 1, 7))::BIGINT % 1024)::INT + 1])), 6)
        |      / len(fs) + {QC_BIAS}, 6) AS quality_logit
        |  FROM f CROSS JOIN wv)
        |SELECT doc_id, quality_logit, quality_logit >= 0 AS keep
        |FROM scored ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "t15_score_calibration",
      withTables { (s, dir) =>
        // reliability table + ECE for the t13 classifier against its own
        // training heuristic label (TrainingPipeline.calibrationTable):
        // fixed bins over the logit range, per-bin mean score vs positive
        // fraction, grid-snapped ECE contributions so every aggregate is a
        // BIGINT sum. The filter-tuning question t13 raises — "can this
        // score be thresholded?" — answered as a gate row.
        val (w, b) = fixedQualityModel(dir)
        val scored = graft.operators.TrainingPipeline.qualityClassify(
            s.table("documents"), "doc_id", "text", w, b)
          .join(s.table("documents")
            .select(col("doc_id"), (col("lang") === "en").as("label")), "doc_id")
        // bin range = the gate corpus's observed logit spread (clamping
        // keeps other SFs valid); the oracle states width as the SAME
        // (hi-lo)/bins expression — a decimal literal would differ in ulps
        graft.operators.TrainingPipeline.calibrationTable(
            scored, "quality_logit", "label", bins = 10, lo = -0.264, hi = -0.247)
          .orderBy("bin")
      },
      Some("""WITH wv AS (SELECT {QC_WEIGHTS} AS r),
        |f AS (
        |  SELECT doc_id,
        |    list_concat(w, CASE WHEN len(w) >= 2 THEN
        |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |      ELSE [] END) AS fs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |scored AS (
        |  SELECT doc_id,
        |    round(round(list_sum(list_transform(fs,
        |      x -> r[(('0x' || substr(md5(x), 1, 7))::BIGINT % 1024)::INT + 1])), 6)
        |      / len(fs) + {QC_BIAS}, 6) AS score
        |  FROM f CROSS JOIN wv),
        |lab AS (
        |  SELECT s.doc_id,
        |    least(greatest((s.score - (-0.264)) / ((-0.247) - (-0.264)), 0.0), 1.0) AS ns,
        |    (d.lang = 'en') AS label
        |  FROM scored s JOIN documents d USING (doc_id)),
        |per AS (
        |  SELECT least(floor(ns * 10.0), 9.0)::INT AS bin,
        |    count(*)::BIGINT AS n,
        |    sum(floor(ns * 1000000.0 + 0.5)::BIGINT)::BIGINT AS ss,
        |    sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS n_pos
        |  FROM lab GROUP BY 1),
        |m AS (
        |  SELECT bin, n, n_pos,
        |    (ss::DOUBLE / n) / 1000000.0 AS conf,
        |    n_pos::DOUBLE / n AS acc
        |  FROM per),
        |c AS (SELECT *, floor(abs(acc - conf) * n * 1000000.0 + 0.5)::BIGINT AS cs FROM m)
        |SELECT bin, n, n_pos, conf, acc,
        |  ((sum(cs) OVER ())::DOUBLE / (sum(n) OVER ())) / 1000000.0 AS ece6
        |FROM c ORDER BY bin""".stripMargin)),

    QueryDef(
      "r01_bm25_topk",
      withTables { (s, _) =>
        Retrieval.bm25TopK(s.table("documents"), "doc_id", "text", bm25Terms, k = 50)
          .orderBy("rank")
      },
      Some(s"""WITH ${bm25ScoredCte(bm25Terms)}
        |SELECT doc_id, bm25, cast(row_number() OVER (ORDER BY bm25 DESC, doc_id) as int) AS rank
        |FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50)
        |ORDER BY rank""".stripMargin)),

    QueryDef(
      "r09_fts_default_porter",
      withTables { (s, _) =>
        // the DEFAULTED create_fts_index — the form every real user writes —
        // applies DuckDB's documented default normalization: porter
        // stemming + english stopword removal + lower + strip_accents +
        // the ignore pattern (FtsTokenizer; stemmers spec'd against the
        // published Porter/porter2 vectors). The query string normalizes
        // through the INDEX'S recorded options, so 'Merging Windows!'
        // probes the stemmed postings. No SQL oracle can stem (the fts
        // extension cannot load in the driver's DuckDB) -> rows-only, with
        // hash-green siblings r10 (same pipeline minus the stem step, full
        // oracle) and r07 (exact-token contract, full oracle).
        val psql = graft.psql.Psql(s)
        Seq("fts_main_documents_terms", "fts_main_documents_docfreq",
          "fts_main_documents_stats").foreach(Bucketing.dropTableAndLocation(s, _))
        psql.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text')")
        val out = Materialize(psql.sql("""from documents
          ||> select doc_id,
          |    fts_main_documents.match_bm25(doc_id, 'Merging the Windows!') as score
          ||> where score is not null
          ||> order by score desc, doc_id
          ||> limit 20""".stripMargin))
        psql.sql("PRAGMA drop_fts_index('documents')")
        out
      },
      None),

    QueryDef(
      "r10_fts_normalized_tokens",
      withTables { (s, _) =>
        // the default pipeline MINUS the stem step (stemmer := 'none',
        // everything else defaulted): stopword removal, lower,
        // strip_accents and the ignore-pattern tokenization are all
        // SQL-expressible, so DuckDB replicates the WHOLE chain as a plain
        // query - dl counts post-stopword tokens, df/tf over normalized
        // terms, the same grid-snapped BM25. This pins every stage of the
        // conformant tokenizer except stem() (spec'd against published
        // vectors; r09 runs the full default).
        val psql = graft.psql.Psql(s)
        Seq("fts_main_documents_terms", "fts_main_documents_docfreq",
          "fts_main_documents_stats").foreach(Bucketing.dropTableAndLocation(s, _))
        psql.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text', stemmer := 'none')")
        val out = Materialize(psql.sql("""from documents
          ||> select doc_id,
          |    fts_main_documents.match_bm25(doc_id, 'merge window scan') as score
          ||> where score is not null
          ||> order by score desc, doc_id
          ||> limit 20""".stripMargin))
        psql.sql("PRAGMA drop_fts_index('documents')")
        out
      },
      Some("""WITH toks AS (
        |  SELECT s.doc_id, u.t AS term
        |  FROM (SELECT doc_id, string_split_regex(regexp_replace(lower(
        |          strip_accents(text)), '(\.|[^a-z])+', ' ', 'g'), '\s+') AS w
        |        FROM documents) s, unnest(s.w) AS u(t)
        |  WHERE len(u.t) > 0 AND u.t NOT IN (
        |    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves', 'you',
        |    'your', 'yours', 'yourself', 'yourselves', 'he', 'him', 'his',
        |    'himself', 'she', 'her', 'hers', 'herself', 'it', 'its', 'itself',
        |    'they', 'them', 'their', 'theirs', 'themselves', 'what', 'which',
        |    'who', 'whom', 'this', 'that', 'these', 'those', 'am', 'is', 'are',
        |    'was', 'were', 'be', 'been', 'being', 'have', 'has', 'had',
        |    'having', 'do', 'does', 'did', 'doing', 'would', 'should', 'could',
        |    'ought', 'cannot', 'a', 'an', 'the', 'and', 'but', 'if', 'or',
        |    'because', 'as', 'until', 'while', 'of', 'at', 'by', 'for', 'with',
        |    'about', 'against', 'between', 'into', 'through', 'during',
        |    'before', 'after', 'above', 'below', 'to', 'from', 'up', 'down',
        |    'in', 'out', 'on', 'off', 'over', 'under', 'again', 'further',
        |    'then', 'once', 'here', 'there', 'when', 'where', 'why', 'how',
        |    'all', 'any', 'both', 'each', 'few', 'more', 'most', 'other',
        |    'some', 'such', 'no', 'nor', 'not', 'only', 'own', 'same', 'so',
        |    'than', 'too', 'very', 's', 't', 'd', 'm', 'll', 're', 've', 'don',
        |    'isn', 'aren', 'wasn', 'weren', 'hasn', 'haven', 'hadn', 'doesn',
        |    'didn', 'won', 'wouldn', 'shan', 'shouldn', 'can', 'couldn',
        |    'mustn', 'let', 'will', 'just', 'now'
        |  )),
        |dl0 AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
        |dl AS (SELECT d.doc_id, coalesce(dl0.dl, 0)::BIGINT AS dl
        |       FROM documents d LEFT JOIN dl0 USING (doc_id)),
        |posting AS (
        |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
        |  WHERE term IN ('merge', 'window', 'scan') GROUP BY doc_id, term),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY term),
        |scored AS (
        |  SELECT p.doc_id,
        |    sum(floor(round(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)), 6)
        |      * (p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.sum_dl::DOUBLE / s.n_docs))))
        |      * 1000000.0 + 0.5)::BIGINT)::BIGINT AS s6
        |  FROM posting p JOIN dl l USING (doc_id) CROSS JOIN stats s
        |  JOIN dfreq d ON d.term = p.term
        |  GROUP BY p.doc_id)
        |SELECT doc_id, s6::DOUBLE / 1000000.0 AS score
        |FROM (SELECT * FROM scored ORDER BY s6 DESC, doc_id LIMIT 20)
        |ORDER BY score DESC, doc_id""".stripMargin)),


    QueryDef(
      "r02_hybrid_rerank",
      withTables { (s, _) =>
        // sparse candidate generation → dense cosine rerank against the
        // query document's own embedding (vec_id 0 ↔ doc_id 0)
        val cands = Retrieval.bm25TopK(s.table("documents"), "doc_id", "text", bm25Terms, k = 100)
        Retrieval.denseRerank(cands, s.table("embeddings"), "vec_id", "embedding",
          queryVecId = 0L, k = 10)
          .orderBy("rank")
      },
      Some(s"""WITH ${bm25ScoredCte(bm25Terms)},
        |cand AS (SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id LIMIT 100),
        |qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |reranked AS (
        |  SELECT c.doc_id, round(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 6) AS sim
        |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id CROSS JOIN qv
        |  WHERE c.doc_id <> 0)
        |SELECT doc_id, sim, cast(row_number() OVER (ORDER BY sim DESC, doc_id) as int) AS rank
        |FROM (SELECT * FROM reranked ORDER BY sim DESC, doc_id LIMIT 10)
        |ORDER BY rank""".stripMargin)),

    QueryDef(
      "r03_rrf_fusion",
      withTables { (s, _) =>
        // reciprocal-rank fusion of the sparse (BM25) and dense (brute
        // cosine, query vec 0) top-50 lists
        val sparse = Retrieval.bm25TopK(s.table("documents"), "doc_id", "text", bm25Terms, k = 50)
        val emb = s.table("embeddings")
        val dense = Similarity.bruteForceTopK(
          emb.where(col("vec_id") === 0), emb, "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(sparse, dense, k = 20).orderBy("rank")
      },
      Some(s"""WITH ${bm25ScoredCte(bm25Terms)},
        |sparse AS (
        |  SELECT doc_id, cast(row_number() OVER (ORDER BY bm25 DESC, doc_id) as int) AS rank_a
        |  FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50)),
        |qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |densescore AS (
        |  SELECT vec_id AS doc_id, round(list_cosine_similarity(qv, embedding::DOUBLE[]), 6) AS sim
        |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
        |dense AS (
        |  SELECT doc_id, cast(row_number() OVER (ORDER BY sim DESC, doc_id) as int) AS rank_b
        |  FROM (SELECT * FROM densescore ORDER BY sim DESC, doc_id LIMIT 50)),
        |fused AS (
        |  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
        |    round(coalesce(1.0 / (60.0 + s.rank_a::DOUBLE), 0.0)
        |      + coalesce(1.0 / (60.0 + d.rank_b::DOUBLE), 0.0), 6) AS rrf
        |  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id)
        |SELECT doc_id, rrf, cast(row_number() OVER (ORDER BY rrf DESC, doc_id) as int) AS rank
        |FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20)
        |ORDER BY rank""".stripMargin)),

    QueryDef(
      "r04_maxsim_topk",
      withTables { (s, _) =>
        // ColBERT-style late interaction over hashed 32-word-chunk
        // embeddings: per query token take the best chunk cosine, sum over
        // the (literal) token list, top-10 docs. The query vectors are the
        // driver-side twin of the hashed embedding — the oracle embeds the
        // SAME doubles as literals (the trained-literal parity pattern).
        Retrieval.maxSimTopK(s.table("documents"), "doc_id", "text", bm25Terms, k = 10)
          .orderBy("rank")
      },
      Some(maxSimOracle(bm25Terms, k = 10))),

    QueryDef(
      "d29_exact_substr_dedup",
      withTables { (s, _) =>
        // ExactSubstr-style sliding-span dedup, first occurrence kept: the
        // min-id doc containing a duplicated 8-token span keeps its copy,
        // every other doc has the covered tokens cut (vs d27's fixed-block
        // remove-everywhere)
        Dedup.dedupSpansKeepFirst(s.table("documents"), "doc_id", "text",
          spanTokens = 8, minDocs = 2)
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, i AS pos, array_to_string(w[i+1 : i+8], ' ') AS s
        |  FROM tok, unnest(range(len(w) - 7)) AS t(i)
        |  WHERE len(w) >= 8),
        |dup AS (
        |  SELECT s, min(doc_id) AS owner
        |  FROM (SELECT DISTINCT doc_id, s FROM spans)
        |  GROUP BY s HAVING count(*) >= 2),
        |msp AS (
        |  SELECT sp.doc_id, sp.pos FROM spans sp JOIN dup d ON d.s = sp.s
        |  WHERE sp.doc_id <> d.owner),
        |cov AS (SELECT DISTINCT doc_id, p FROM msp, unnest(range(pos, pos + 8)) AS u(p)),
        |tokens AS (
        |  SELECT doc_id, j AS p, w[j+1] AS tok
        |  FROM tok, unnest(range(len(w))) AS u(j)),
        |kept AS (SELECT t.* FROM tokens t WHERE NOT EXISTS (
        |  SELECT 1 FROM cov WHERE cov.doc_id = t.doc_id AND cov.p = t.p)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.text_clean, '') AS text_clean,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  len(w) - coalesce(a.n_kept, 0) AS n_removed
        |FROM tok t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    QueryDef(
      "m10_image_phash",
      withTables { (s, _) =>
        // perceptual dHash over REAL decoded PNGs. ImageGen pixels are
        // closed-form in (id, x, y) and the hash is all-integer, so the
        // oracle computes the expected 9x8-grid hash WITHOUT decoding —
        // a hash-green row checks every sampled pixel of the
        // encode→scan→ImageIO-decode path, far past m04's dims-only check.
        Multimodal.imagePhash(Multimodal.documentsAsImages(s.table("documents")))
          .orderBy("media_id")
      },
      Some("""WITH g AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h FROM documents),
        |cells AS (
        |  SELECT doc_id, gy, gx,
        |    (gx * w) // 9 AS sx0, ((gx + 1) * w) // 9 AS sx1, (gy * h) // 8 AS sy
        |  FROM g, unnest(range(8)) AS a(gy), unnest(range(8)) AS b(gx)),
        |lums AS (
        |  SELECT doc_id, gy * 8 + gx AS k,
        |    (299*((sx0*7 + sy*13 + doc_id*31) % 256)
        |     + 587*((sx0*3 + sy*5 + doc_id*17) % 256)
        |     + 114*((sx0*11 + sy*2 + doc_id*7) % 256)) // 1000 AS l0,
        |    (299*((sx1*7 + sy*13 + doc_id*31) % 256)
        |     + 587*((sx1*3 + sy*5 + doc_id*17) % 256)
        |     + 114*((sx1*11 + sy*2 + doc_id*7) % 256)) // 1000 AS l1
        |  FROM cells),
        |bits AS (SELECT doc_id, k FROM lums WHERE l1 > l0)
        |SELECT d.doc_id AS media_id,
        |  coalesce(sum(CASE WHEN b.k >= 32 THEN (1::BIGINT << (b.k - 32)) ELSE 0 END), 0)::BIGINT AS phash_hi,
        |  coalesce(sum(CASE WHEN b.k < 32 THEN (1::BIGINT << b.k) ELSE 0 END), 0)::BIGINT AS phash_lo
        |FROM documents d LEFT JOIN bits b ON b.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY media_id""".stripMargin)),

    QueryDef(
      "d31_phash_dedup",
      withTables { (s, _) =>
        // perceptual image dedup over REAL decoded PNGs: radius-0 dHash
        // groups, min-id keeper. The synthetic pattern repeats with id
        // periodicity, so the corpus genuinely contains perceptual dups
        // (2 509 cross-id hash collisions at sf0.01) — the verdict rows
        // are non-trivial, and the oracle derives every hash closed-form.
        Multimodal.phashDedup(Multimodal.documentsAsImages(s.table("documents")))
          .orderBy("media_id")
      },
      Some("""WITH g AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 5 AS h FROM documents),
        |cells AS (
        |  SELECT doc_id, gy, gx,
        |    (gx * w) // 9 AS sx0, ((gx + 1) * w) // 9 AS sx1, (gy * h) // 8 AS sy
        |  FROM g, unnest(range(8)) AS a(gy), unnest(range(8)) AS b(gx)),
        |lums AS (
        |  SELECT doc_id, gy * 8 + gx AS k,
        |    (299*((sx0*7 + sy*13 + doc_id*31) % 256)
        |     + 587*((sx0*3 + sy*5 + doc_id*17) % 256)
        |     + 114*((sx0*11 + sy*2 + doc_id*7) % 256)) // 1000 AS l0,
        |    (299*((sx1*7 + sy*13 + doc_id*31) % 256)
        |     + 587*((sx1*3 + sy*5 + doc_id*17) % 256)
        |     + 114*((sx1*11 + sy*2 + doc_id*7) % 256)) // 1000 AS l1
        |  FROM cells),
        |bits AS (SELECT doc_id, k FROM lums WHERE l1 > l0),
        |ph AS (
        |  SELECT d.doc_id AS media_id,
        |    coalesce(sum(CASE WHEN b.k >= 32 THEN (1::BIGINT << (b.k - 32)) ELSE 0 END), 0)::BIGINT AS phash_hi,
        |    coalesce(sum(CASE WHEN b.k < 32 THEN (1::BIGINT << b.k) ELSE 0 END), 0)::BIGINT AS phash_lo
        |  FROM documents d LEFT JOIN bits b ON b.doc_id = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT media_id, phash_hi, phash_lo,
        |  min(media_id) OVER (PARTITION BY phash_hi, phash_lo) AS keeper,
        |  count(*) OVER (PARTITION BY phash_hi, phash_lo) AS group_size,
        |  media_id <> min(media_id) OVER (PARTITION BY phash_hi, phash_lo) AS is_dup
        |FROM ph ORDER BY media_id""".stripMargin)),

    QueryDef(
      "q60_grouping_id",
      withTables { (s, _) =>
        // GROUPING SETS metadata conformance: grouping_id mask (Spark)
        // vs multi-arg GROUPING (DuckDB) — same mask semantics, cast to
        // int on both sides.
        Psqlish(s, """from lineitem |>
          |select l_returnflag, l_linestatus,
          |  cast(grouping_id(l_returnflag, l_linestatus) as int) as gid,
          |  count() as n, sum(l_quantity) as sum_qty
          |  group by grouping sets ((l_returnflag, l_linestatus), (l_returnflag), ()) |>
          |order by gid, l_returnflag nulls first, l_linestatus nulls first""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    QueryDef(
      "q61_partitioned_copy",
      withTables { (s, _) =>
        // partitioned sink: DuckDB's COPY ... (PARTITION_BY ...) becomes a
        // path-based partitioned CTAS (hive layout — the 100 TB warehouse
        // write shape). The gate row writes the projection partitioned by
        // l_returnflag and reads the directory back.
        val dir = java.nio.file.Files.createTempDirectory("graft_pcopy")
          .toFile.getAbsolutePath
        Psqlish(s, s"""copy (| from lineitem |>
          |select l_orderkey, l_quantity, l_returnflag |) to '$dir/out'
          |(format parquet, partition_by (l_returnflag))""".stripMargin)
        s.read.parquet(s"$dir/out")
          .select("l_orderkey", "l_quantity", "l_returnflag")
          .orderBy("l_orderkey", "l_quantity", "l_returnflag")
      },
      Some("""SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
        |ORDER BY l_orderkey, l_quantity, l_returnflag""".stripMargin)),

    QueryDef(
      "q62_variant_json",
      withTables { (s, _) =>
        // Spark 4 VARIANT semi-structured path: parse_json into a variant,
        // typed variant_get extraction, null on a missing path — DuckDB
        // answers the same questions through its JSON type.
        Psqlish(s, """from events |>
          |select event_id, parse_json(props) as v |>
          |select event_id, cast(variant_get(v, '$.k', 'long') as bigint) as vk,
          |  variant_get(v, '$.missing', 'string') as vmiss |>
          |order by event_id""".stripMargin)
      },
      Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS vk,
        |  json_extract_string(props, '$.missing') AS vmiss
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef(
      "q66_stats_moments",
      withTables { (s, _) =>
        // correlation / covariance / least-squares regression per group,
        // via EXACT decimal moments: n, Σx, Σy, Σx², Σy², Σxy accumulate
        // as decimals (order-independent — the c14 discipline applied to
        // second-order statistics), the closed forms evaluate in double
        // over identical casts and the identical expression tree, and the
        // outputs land on the Fp grid. The builtin corr()/regr_slope()
        // would be order- and algorithm-dependent across engines; this is
        // the moments formulation both engines can state bit-identically.
        val x = col("l_quantity").cast("decimal(18,4)")
        val y = col("l_extendedprice").cast("decimal(18,4)")
        val m = s.table("lineitem").groupBy("l_returnflag").agg(
          count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
          sum(x * x).cast("double").as("sxx"), sum(y * y).cast("double").as("syy"),
          sum(x * y).cast("double").as("sxy"))
        val covN = col("n") * col("sxy") - col("sx") * col("sy")
        val varX = col("n") * col("sxx") - col("sx") * col("sx")
        val varY = col("n") * col("syy") - col("sy") * col("sy")
        val corr = covN / (sqrt(varX) * sqrt(varY))
        val slope = covN / varX
        m.select(col("l_returnflag"),
            Fp.grid6(covN / (col("n") * col("n"))).as("covar_pop"),
            Fp.grid6(corr).as("corr"),
            Fp.grid6(slope).as("slope"),
            Fp.grid6((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
            Fp.grid6(corr * corr).as("r2"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH m AS (
        |  SELECT l_returnflag,
        |    count(*)::DOUBLE AS n,
        |    sum(l_quantity::DECIMAL(18,4))::DOUBLE AS sx,
        |    sum(l_extendedprice::DECIMAL(18,4))::DOUBLE AS sy,
        |    sum(l_quantity::DECIMAL(19,4) * l_quantity::DECIMAL(18,4))::DOUBLE AS sxx,
        |    sum(l_extendedprice::DECIMAL(19,4) * l_extendedprice::DECIMAL(18,4))::DOUBLE AS syy,
        |    sum(l_quantity::DECIMAL(19,4) * l_extendedprice::DECIMAL(18,4))::DOUBLE AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  ${Fp.grid6Sql("(n*sxy - sx*sy) / (n*n)")} AS covar_pop,
        |  ${Fp.grid6Sql("(n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))")} AS corr,
        |  ${Fp.grid6Sql("(n*sxy - sx*sy) / (n*sxx - sx*sx)")} AS slope,
        |  ${Fp.grid6Sql("(sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n")} AS intercept,
        |  ${Fp.grid6Sql("((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))) * ((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)))")} AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "q67_window_battery",
      withTables { (s, _) =>
        // distribution-window conformance: ntile / percent_rank /
        // cume_dist / nth_value over the unique (ts, event_id) ordering.
        // percent_rank and cume_dist are single divisions of exact
        // integers — identical bits cross-engine, no grid needed.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("ts"), col("event_id"))
        s.table("events")
          .where(col("event_id") % 97 === 0) // thin deterministic slice
          .select(col("event_type"), col("ts"), col("event_id"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"),
            nth_value(col("value"), 2).over(w).as("second_v"))
          .orderBy("event_type", "ts", "event_id")
      },
      Some("""SELECT event_type, ts, event_id,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(value, 2) OVER w AS second_v
        |FROM events WHERE event_id % 97 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        |ORDER BY event_type, ts, event_id""".stripMargin)),

    QueryDef(
      "q68_orc_roundtrip",
      withTables { (s, _) =>
        // ORC source/sink round-trip (Spark ships the ORC reader/writer in
        // core): project+filter lineitem into an ORC warehouse table, read
        // it BACK and aggregate. The oracle aggregates the parquet
        // original — a hash match proves the ORC encode→scan path loses
        // nothing (types, nulls, values). Decimal sums keep the float
        // discipline.
        Bucketing.dropTableAndLocation(s, "graft_orc_lineitem")
        s.table("lineitem")
          .where(col("l_shipdate") >= lit(java.sql.Date.valueOf("1996-01-01")))
          .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
          .write.format("orc").saveAsTable("graft_orc_lineitem")
        s.table("graft_orc_lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
            max("l_orderkey").as("max_key"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
        |  cast(sum(l_quantity::DECIMAL(18,2)) as double) AS sum_qty,
        |  cast(sum(l_extendedprice::DECIMAL(18,2)) as double) AS sum_price,
        |  max(l_orderkey) AS max_key
        |FROM lineitem WHERE l_shipdate >= DATE '1996-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "q70_star_replace",
      withTables { (s, _) =>
        // DuckDB `SELECT * REPLACE (expr AS col)` mapped to Spark's native
        // pipe SET (identical in-place-replacement semantics, positions
        // preserved); composes with later stages like any select
        Psqlish(s, """from lineitem |>
          |where l_orderkey % 31 = 0 |>
          |select * replace (l_quantity * 2 as l_quantity, upper(l_returnflag) as l_returnflag) |>
          |select l_orderkey, l_linenumber, l_quantity, l_returnflag |>
          |order by l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity * 2 AS l_quantity,
        |  upper(l_returnflag) AS l_returnflag
        |FROM lineitem WHERE l_orderkey % 31 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "q71_median",
      withTables { (s, _) =>
        // median conformance: both engines interpolate the two middle
        // values for even counts on DOUBLE input ((a+b)/2 is exact IEEE on
        // identical bits, so no grid needed); count rides along to pin the
        // group sizes the interpolation depends on.
        s.table("lineitem").groupBy("l_returnflag")
          .agg(median(col("l_quantity")).as("med_qty"),
            median(col("l_extendedprice")).as("med_price"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, median(l_quantity) AS med_qty,
        |  median(l_extendedprice) AS med_price, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "q72_setops_all",
      withTables { (s, _) =>
        // multiset set-op conformance: EXCEPT ALL subtracts row
        // MULTIPLICITIES (the projected (flag, lineno) pairs repeat
        // heavily, so ALL vs DISTINCT genuinely differ here); the
        // hash-compare counts duplicate rows, pinning the multiset.
        // statement-level set op between scoped-block operands (the form
        // the front-end's set-op splitter owns; a bare trailing `except
        // all from t |> …` binds the set-op inside the stage under
        // reference semantics)
        Psqlish(s, """(| from lineitem |> where l_quantity > 10 |>
          |   select l_returnflag, l_linenumber |)
          |except all
          |(| from lineitem |> where l_quantity > 30 |>
          |   select l_returnflag, l_linenumber |)
          |order by all""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linenumber FROM lineitem WHERE l_quantity > 10
        |EXCEPT ALL
        |SELECT l_returnflag, l_linenumber FROM lineitem WHERE l_quantity > 30
        |ORDER BY ALL""".stripMargin)),

    QueryDef(
      "q73_window_exclude",
      withTables { (s, _) =>
        // window-frame EXCLUDE conformance (delegated DuckDB grammar Spark
        // lacks; graft.psql.WindowExclude rewrites to frame arithmetic):
        // leave-one-out rolling sum/mean/min over a bounded ROWS frame —
        // the canonical use (min via the frame-split path, sum/avg via
        // subtraction) — plus EXCLUDE GROUP / TIES over a RANGE frame
        // (peer-group subtraction) against DuckDB's native EXCLUDE. All
        // sums are exact BIGINT arithmetic; the leave-one-out mean is one
        // exact-integer division — identical bits cross-engine, no grid.
        Psqlish(s, """from documents |>
          |select doc_id, lang, n_chars,
          |  sum(n_chars) over (partition by lang order by doc_id
          |    rows between 3 preceding and 3 following exclude current row) as loo_sum,
          |  avg(n_chars) over (partition by lang order by doc_id
          |    rows between 3 preceding and 3 following exclude current row) as loo_mean,
          |  min(n_chars) over (partition by lang order by doc_id
          |    rows between 3 preceding and 3 following exclude current row) as loo_min,
          |  sum(n_chars) over (partition by lang order by n_chars
          |    range between unbounded preceding and current row exclude group) as grp_sum,
          |  count(*) over (partition by lang order by n_chars
          |    range between unbounded preceding and current row exclude ties) as ties_cnt |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, lang, n_chars,
        |  CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS loo_sum,
        |  avg(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS loo_mean,
        |  min(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS loo_min,
        |  CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS grp_sum,
        |  count(*) OVER (PARTITION BY lang ORDER BY n_chars
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS ties_cnt
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q74_copy_roundtrip",
      withTables { (s, _) =>
        // COPY family round-trip — the load direction joins the sink
        // direction in the gate: COPY TO writes nation as headered CSV
        // (INSERT OVERWRITE DIRECTORY), COPY FROM ingests it back into a
        // typed warehouse table (INSERT INTO … SELECT FROM the path scan,
        // positional with widening casts — CSV inference says INT, the
        // table says BIGINT). The oracle is the ORIGINAL rows: a full
        // content match proves the round trip lossless end to end.
        val psql = graft.psql.Psql(s)
        val dir = java.nio.file.Files.createTempDirectory("graft-copy-rt").toString
        psql.sql(s"""copy (| from nation |>
          |  select n_nationkey, n_name, n_regionkey |)
          |to '$dir/nation.csv' (format csv, header)""".stripMargin)
        graft.operators.Bucketing.dropTableAndLocation(s, "graft_copy_rt")
        s.sql("""CREATE TABLE graft_copy_rt
          |(n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
          |USING parquet""".stripMargin)
        psql.sql(s"copy graft_copy_rt from '$dir/nation.csv' (format csv, header)")
        psql.sql("from graft_copy_rt |> order by n_nationkey")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin)),

    QueryDef(
      "q75_hash_sample",
      withTables { (s, _) =>
        // deterministic sampling stage — the reproducible alternative to
        // q31's TABLESAMPLE (engine-private PRNG, permanently rows-only):
        // `USING SAMPLE hash(frac, key [, seed])` keeps a row iff the top
        // 28 md5 bits of the seeded key land below frac. A pure row
        // predicate: same rows on any engine / partitioning / retry, so
        // this row is FULL-ORACLE — and composes with WHERE (hash sampling
        // commutes with deterministic filters).
        Psqlish(s, """from lineitem |>
          |where l_shipdate >= date '1995-01-01' |>
          |using sample hash(10%, concat(l_orderkey, '-', l_linenumber)) |>
          |select l_orderkey, l_linenumber, l_quantity |>
          |order by l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= DATE '1995-01-01'
        |  AND ('0x' || substr(md5('42-' || l_orderkey || '-' || l_linenumber), 1, 7))::BIGINT
        |      / 268435456.0 < (10 / 100.0)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "q76_groups_frame",
      withTables { (s, _) =>
        // GROUPS-mode frames (SQL standard): neither engine has them
        // natively at these versions — Spark lacks the mode, DuckDB 1.0.0
        // parses it "not implemented yet" — so graft rewrites to RANGE over
        // a hidden dense_rank (GroupsFrames) and the ORACLE states the same
        // peer-group definition through its own independent dense_rank +
        // RANGE computation. The EXCLUDE GROUP column additionally proves
        // the GroupsFrames → WindowExclude composition end to end.
        Psqlish(s, """from documents |>
          |select doc_id, lang, n_chars,
          |  sum(n_chars) over (partition by lang order by n_chars
          |    groups between 1 preceding and current row) as grp_sum,
          |  count(*) over (partition by lang order by n_chars
          |    groups between unbounded preceding and 1 preceding) as grp_cnt,
          |  sum(n_chars) over (partition by lang order by n_chars
          |    groups between 1 preceding and 1 following exclude group) as grp_ex |>
          |order by doc_id""".stripMargin)
      },
      Some("""WITH r AS (SELECT doc_id, lang, n_chars,
        |  dense_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS dr
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY dr
        |    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS grp_sum,
        |  count(*) OVER (PARTITION BY lang ORDER BY dr
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS grp_cnt,
        |  CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY dr
        |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS BIGINT) AS grp_ex
        |FROM r ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q77_window_filter",
      withTables { (s, _) =>
        // FILTER on WINDOW aggregates (DuckDB-legal, Spark rejects the
        // window form): graft folds the predicate into a conditional
        // argument (WindowFilter); the oracle is DuckDB's NATIVE window
        // FILTER. The third column composes FILTER with a frame EXCLUDE —
        // the filter folds first, then WindowExclude rewrites the frame.
        Psqlish(s, """from documents |>
          |select doc_id, lang, n_chars,
          |  sum(n_chars) filter (where n_chars % 2 = 0)
          |    over (partition by lang order by doc_id
          |      rows between unbounded preceding and current row) as even_sum,
          |  count(*) filter (where n_chars > 200)
          |    over (partition by lang) as big_cnt,
          |  sum(n_chars) filter (where n_chars % 2 = 1)
          |    over (partition by lang order by doc_id
          |      rows between 3 preceding and 3 following exclude current row) as odd_loo |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, lang, n_chars,
        |  CAST(sum(n_chars) FILTER (WHERE n_chars % 2 = 0)
        |    OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS even_sum,
        |  count(*) FILTER (WHERE n_chars > 200)
        |    OVER (PARTITION BY lang) AS big_cnt,
        |  CAST(sum(n_chars) FILTER (WHERE n_chars % 2 = 1)
        |    OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS odd_loo
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q78_window_distinct",
      withTables { (s, _) =>
        // DISTINCT aggregates in window position (DuckDB-legal, Spark has
        // no windowed DISTINCT): count(DISTINCT) rewrites exactly to
        // size(collect_set) over the same window (WindowDistinct) —
        // set size is order-independent, so the form is retry-stable and
        // full-oracle vs DuckDB's native windowed DISTINCT. min(DISTINCT)
        // drops the keyword (order statistics are duplicate-insensitive).
        Psqlish(s, """from documents |>
          |select doc_id, lang, source,
          |  count(distinct source) over (partition by lang) as src_kinds,
          |  count(distinct n_chars) over (partition by lang order by doc_id
          |    rows between unbounded preceding and current row) as len_kinds,
          |  min(distinct n_chars) over (partition by lang) as min_len |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, lang, source,
        |  count(DISTINCT source) OVER (PARTITION BY lang) AS src_kinds,
        |  count(DISTINCT n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS len_kinds,
        |  min(DISTINCT n_chars) OVER (PARTITION BY lang) AS min_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q79_bracket_syntax",
      withTables { (s, _) =>
        // DuckDB bracket syntax through the front-end: 1-BASED subscripts
        // (bare x[i] in Spark is 0-based GetArrayItem — a silent
        // off-by-one without the shim), negative-from-end, open-ended
        // slices with clamping, and list literals. Oracle runs the
        // IDENTICAL bracket spellings natively. List outputs ship as
        // to_json VARCHAR — the gate's compare hashes scalar cells only
        // (complex pandas cells are unsortable), and both engines render
        // the same compact JSON.
        Psqlish(s, """from documents |>
          |select doc_id, string_split(text, ' ')[1] as first_word,
          |  cast(to_json(string_split(text, ' ')[2:4]) as varchar) as w24,
          |  [n_chars, n_chars * 2][-1] as dbl |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, string_split(text, ' ')[1] AS first_word,
        |  cast(to_json(string_split(text, ' ')[2:4]) AS varchar) AS w24,
        |  [n_chars, n_chars * 2][-1] AS dbl
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q80_pct_limit",
      withTables { (s, _) =>
        // DuckDB percentage limit: keep floor(25% of count) rows under the
        // stage ordering (Spark's LIMIT takes literals only — rewritten to
        // a row_number/count window pair). Ordering covers every output
        // column, so boundary ties are identical rows and the kept
        // multiset is engine-independent; oracle runs DuckDB's native
        // LIMIT 25%.
        Psqlish(s, """from lineitem |>
          |where l_shipdate >= date '1996-01-01' |>
          |select l_orderkey, l_linenumber, l_quantity |>
          |order by l_orderkey, l_linenumber, l_quantity limit 25%""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01'
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 25%""".stripMargin)),

    QueryDef(
      "q81_pivot_statement",
      withTables { (s, _) =>
        // DuckDB simplified statement-level PIVOT with DYNAMIC value
        // discovery (no IN list): values of l_returnflag are probed with a
        // bounded distributed DISTINCT, then lowered to Spark's PIVOT
        // clause (PivotStatement.scala). Empty COUNT cells are DuckDB-0
        // (Spark's NULL coalesced); multi-agg naming `<value>_<alias>`
        // matches DuckDB. Oracle is the IDENTICAL statement — DuckDB runs
        // its native dynamic pivot.
        Psqlish(s, """PIVOT lineitem ON l_returnflag
          |USING count(*) AS n, sum(l_quantity) AS qty
          |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
      },
      Some("""PIVOT lineitem ON l_returnflag
        |USING count(*) AS n, sum(l_quantity) AS qty
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    QueryDef(
      "q82_unpivot_statement",
      withTables { (s, _) =>
        // DuckDB simplified statement-level UNPIVOT (ON cols INTO NAME/
        // VALUE) over a subquery source, lowered to Spark's UNPIVOT clause;
        // NULL cells excluded on both engines. Ordering carries the full
        // output tuple (duplicate (l_orderkey, l_linenumber) pairs exist in
        // the synthetic data, cf q46) so the LIMIT boundary is stable.
        // Oracle is the IDENTICAL statement.
        Psqlish(s, """UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
          |  FROM lineitem) ON l_quantity, l_discount, l_tax
          |INTO NAME measure VALUE val
          |ORDER BY l_orderkey, l_linenumber, measure, val LIMIT 300""".stripMargin)
      },
      Some("""UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        |  FROM lineitem) ON l_quantity, l_discount, l_tax
        |INTO NAME measure VALUE val
        |ORDER BY l_orderkey, l_linenumber, measure, val LIMIT 300""".stripMargin)),

    QueryDef(
      "q83_macro",
      withTables { (s, _) =>
        // DuckDB CREATE MACRO (scalar + table): session-registered, inlined
        // at use time (Macros.scala) so the macro body stays inside
        // whole-stage codegen and the WHERE in the table macro pushes into
        // the scan. Oracle is the single expanded statement; the macro
        // spelling itself is DuckDB-1.0-verified equal to that expansion
        // (MacrosSpec + dev parity check).
        val p = graft.psql.Psql(s)
        p.sql("CREATE OR REPLACE MACRO net_price(p, d) AS " +
          "cast(p as decimal(18,2)) * cast(1 - d as decimal(18,2))")
        p.sql("CREATE OR REPLACE MACRO flagged(minq) AS TABLE " +
          "(from lineitem |> where l_quantity >= minq)")
        p.sql("""from flagged(30) |>
          |select l_returnflag,
          |  cast(sum(net_price(l_extendedprice, l_discount)) as double) as net,
          |  count() as n
          |  group by l_returnflag |>
          |order by l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) *
        |    cast(1 - l_discount as decimal(18,2))) as double) AS net,
        |  count(*) AS n
        |FROM lineitem WHERE l_quantity >= 30
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "q84_list_comprehension",
      withTables { (s, _) =>
        // DuckDB list comprehensions `[expr FOR v IN list [IF cond]]` —
        // rewritten to transform/filter higher-order lambdas (python-style
        // filter-then-map order, PsqlRewriter.tryComprehension); composes
        // with 1-based bracket slicing on the result. Same spellings run
        // natively on DuckDB; list outputs ship as to_json VARCHAR (the
        // gate hashes scalar cells only — both engines render identical
        // compact JSON).
        Psqlish(s, """from documents |>
          |select doc_id,
          |  cast(to_json([upper(w) for w in string_split(text, ' ') if length(w) > 3]) as varchar) as longw,
          |  cast(to_json([cast(length(w) as int) for w in string_split(text, ' ')][1:3]) as varchar) as l3 |>
          |order by doc_id |>
          |limit 200""".stripMargin)
      },
      Some("""SELECT doc_id,
        |  cast(to_json([upper(w) FOR w IN string_split(text, ' ') IF length(w) > 3]) AS varchar) AS longw,
        |  cast(to_json([cast(length(w) AS int) FOR w IN string_split(text, ' ')][1:3]) AS varchar) AS l3
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin)),

    QueryDef(
      "q85_ordered_aggs",
      withTables { (s, _) =>
        // DuckDB inline ordered aggregates `agg(args ORDER BY keys)` —
        // Spark's parser rejects the form; rewritten per aggregate class
        // (OrderedAggs.scala): string_agg → WITHIN GROUP, array_agg →
        // post-aggregation comparator sort (no extra shuffle), first →
        // null-rank-aware min_by. Unique tiebreak key (o_orderkey) keeps
        // sequences engine-deterministic; same spellings run natively on
        // DuckDB.
        Psqlish(s, """from orders |>
          |select o_custkey,
          |  string_agg(cast(o_orderkey as varchar), ',' order by o_orderdate, o_orderkey) as okeys,
          |  cast(to_json(array_agg(cast(cast(o_totalprice as decimal(18,2)) as varchar) order by o_orderdate desc, o_orderkey)) as varchar) as prices_desc,
          |  first(o_orderstatus order by o_orderdate, o_orderkey) as first_status
          |  group by o_custkey |>
          |order by o_custkey |>
          |limit 500""".stripMargin)
      },
      Some("""SELECT o_custkey,
        |  string_agg(cast(o_orderkey AS varchar), ',' ORDER BY o_orderdate, o_orderkey) AS okeys,
        |  cast(to_json(array_agg(cast(cast(o_totalprice AS decimal(18,2)) AS varchar) ORDER BY o_orderdate DESC, o_orderkey)) AS varchar) AS prices_desc,
        |  first(o_orderstatus ORDER BY o_orderdate, o_orderkey) AS first_status
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 500""".stripMargin)),

    QueryDef(
      "q86_similar_to",
      withTables { (s, _) =>
        // DuckDB SIMILAR TO — lowered to regexp_full_match with the
        // pattern taken VERBATIM as a regex (`%`/`_` are NOT translated,
        // deviating from the SQL standard; probed against DuckDB).
        // Rewritten to anchored RLIKE (PsqlRewriter.shims); NOT stays in
        // place. Alternation `|` inside the literal must survive the
        // pipe tokenizer. Same spellings run natively on DuckDB.
        Psqlish(s, """from part |>
          |where p_name similar to '.*(green|blue).*'
          |  and p_name not similar to '.*almond.*' |>
          |select p_partkey, p_name, p_type |>
          |order by p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name SIMILAR TO '.*(green|blue).*'
        |  AND p_name NOT SIMILAR TO '.*almond.*'
        |ORDER BY p_partkey""".stripMargin)),

    QueryDef(
      "q87_arith_ops",
      withTables { (s, _) =>
        // DuckDB arithmetic operators: `^`/`**` = power (Spark parses `^`
        // as XOR — silent wrong answer without the shim), `//` = integer
        // division at the `*` tier. Precedence corners exercised: unary
        // minus inside the right operand, `^` tighter than `*`/binary `-`.
        // Integer-exact or power-of-two results keep pow() cross-engine
        // bit-stable; the one fractional column goes through the grid6
        // contract. Same spellings run natively on DuckDB.
        Psqlish(s, s"""from lineitem |>
          |where l_orderkey <= 1000 |>
          |select l_orderkey, l_linenumber,
          |  cast(round(cast(l_quantity as int) ^ 2) as bigint) as qty_sq,
          |  cast(round(2 ^ l_linenumber) as bigint) as pow2,
          |  floor((2.0 ** (-l_linenumber)) * 1e6 + 0.5) / 1e6 as inv_pow,
          |  l_orderkey // 3 as ok_div3,
          |  cast(l_linenumber // 2 as bigint) as ln_half,
          |  cast(round(2 * l_linenumber ^ 2 - l_linenumber) as bigint) as prec_mix,
          |  xor(l_linenumber, 3) as lx,
          |  xor(l_orderkey, 255) as okx |>
          |order by l_orderkey, l_linenumber""".stripMargin)
      },
      Some(s"""SELECT l_orderkey, l_linenumber,
        |  cast(round(cast(l_quantity AS int) ^ 2) AS bigint) AS qty_sq,
        |  cast(round(2 ^ l_linenumber) AS bigint) AS pow2,
        |  floor((2.0 ** (-l_linenumber)) * 1e6 + 0.5) / 1e6 AS inv_pow,
        |  l_orderkey // 3 AS ok_div3,
        |  cast(l_linenumber // 2 AS bigint) AS ln_half,
        |  cast(round(2 * l_linenumber ^ 2 - l_linenumber) AS bigint) AS prec_mix,
        |  xor(l_linenumber, 3) AS lx,
        |  xor(l_orderkey, 255) AS okx
        |FROM lineitem WHERE l_orderkey <= 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "q88_glob_regex_ops",
      withTables { (s, _) =>
        // DuckDB GLOB operator (`*`/`?`/`[…]` with `!` negation, regex
        // metachars literal) and Postgres-style `~` / `!~` regex operators
        // — DuckDB 1.0 lowers `~` to regexp_full_match (probed), so both
        // families rewrite to anchored RLIKE. Booleans surface as output
        // columns to pin the operator in select position too. Same
        // spellings run natively on DuckDB.
        Psqlish(s, """from part |>
          |where p_name glob '*l[ua]*' and p_name !~ '.*blue.*' |>
          |select p_partkey, p_name,
          |  (p_type ~ 'ECONOMY.*') as is_econ,
          |  (p_brand glob 'Brand#?3') as b3 |>
          |order by p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey, p_name,
        |  (p_type ~ 'ECONOMY.*') AS is_econ,
        |  (p_brand GLOB 'Brand#?3') AS b3
        |FROM part
        |WHERE p_name GLOB '*l[ua]*' AND p_name !~ '.*blue.*'
        |ORDER BY p_partkey""".stripMargin)),

    QueryDef(
      "q89_dot_chaining",
      withTables { (s, _) =>
        // DuckDB function chaining (method/dot syntax): `expr.f(args)` ≡
        // `f(expr, args)`, chains left-to-right, works on columns, call
        // results and parenthesized expressions. Rewritten by
        // PsqlRewriter.rewriteDotCalls; function-name aliases (e.g.
        // string_split → split) apply before the chain unfolds. Same
        // spellings run natively on DuckDB.
        Psqlish(s, """from documents |>
          |where doc_id <= 500 |>
          |select doc_id,
          |  text.substr(1, 24).upper() as head,
          |  lang.upper() as lang_u,
          |  (lang || '-' || source).upper() as tag,
          |  text.lower().contains('data') as has_data |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
        |  text.substr(1, 24).upper() AS head,
        |  lang.upper() AS lang_u,
        |  (lang || '-' || source).upper() AS tag,
        |  text.lower().contains('data') AS has_data
        |FROM documents WHERE doc_id <= 500
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q90_struct_map_literals",
      withTables { (s, _) =>
        // DuckDB struct literals `{'k': v, …}` (nested) → named_struct and
        // map literals `MAP {'k': v}` → map() (PsqlRewriter.rewriteBraces);
        // field access and dot-chaining compose on the rewritten literal.
        // Map VALUES stay out of the output (DuckDB 1.0 map extraction
        // returns a LIST — engine-divergent); cardinality is the common
        // surface. Same spellings run natively on DuckDB.
        Psqlish(s, """from customer |>
          |where c_custkey <= 300 |>
          |select c_custkey,
          |  cast(to_json({'name': c_name, 'seg': c_mktsegment,
          |    'flags': {'neg': c_acctbal < 0}}) as varchar) as info,
          |  {'k': c_custkey, 'u': c_name.upper()}.u as uname,
          |  cast(cardinality(map {'a': 1, 'b': 2}) as bigint) as mn |>
          |order by c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey,
        |  cast(to_json({'name': c_name, 'seg': c_mktsegment,
        |    'flags': {'neg': c_acctbal < 0}}) AS varchar) AS info,
        |  {'k': c_custkey, 'u': c_name.upper()}.u AS uname,
        |  cast(cardinality(MAP {'a': 1, 'b': 2}) AS bigint) AS mn
        |FROM customer WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q91_summarize_stmt",
      withTables { (s, _) =>
        // DuckDB SUMMARIZE statement (SummarizeStatement + Profile
        // .duckSummarize): full DuckDB output shape, one aggregate pass.
        // The oracle compares the deterministic face — name/type/min/max/
        // count/null_percentage — with float min/max masked (engine-local
        // shortest-repr rendering); approx_unique and the quartiles are
        // estimates in BOTH engines and stay out of the oracle by design.
        val prof = graft.psql.Psql(s).sql("summarize part")
        val isFloat = col("column_type").isin("DOUBLE", "FLOAT")
        prof.select(
          col("column_name"), col("column_type"),
          when(isFloat, lit(null).cast("string")).otherwise(col("min")).as("min_s"),
          when(isFloat, lit(null).cast("string")).otherwise(col("max")).as("max_s"),
          col("count").as("n_rows"),
          // DOUBLE, not the native DECIMAL(9,2): pandas materializes a
          // parquet decimal as decimal.Decimal but a DuckDB decimal as
          // float64 — equal values, different reprs, hash-red (r11 q91)
          col("null_percentage").cast("double").as("null_pct"))
          .orderBy("column_name")
      },
      Some("""SELECT column_name, column_type,
        |  CASE WHEN column_type IN ('DOUBLE','FLOAT') THEN NULL ELSE "min" END AS min_s,
        |  CASE WHEN column_type IN ('DOUBLE','FLOAT') THEN NULL ELSE "max" END AS max_s,
        |  "count" AS n_rows, CAST(null_percentage AS DOUBLE) AS null_pct
        |FROM (SUMMARIZE part) ORDER BY column_name""".stripMargin)),

    QueryDef(
      "q92_read_csv_fn",
      withTables { (s, _) =>
        // DuckDB reader table functions (read_csv/read_parquet/read_json*)
        // — rewritten to the engine's quoted-path scan with a #graft:
        // option fragment (PathRelations resolves it to an option-keyed
        // reader view). Explicit casts neutralize the known sniffer seam
        // (Spark infers int32 where DuckDB says int64). Same spelling runs
        // natively on DuckDB against the same reference file.
        Psqlish(s, """from read_csv('/root/reference/example/invoices.csv', header=true) |>
          |where total > 10 |>
          |select cast(invoice_id as bigint) as invoice_id,
          |  cast(customer_id as bigint) as customer_id,
          |  cast(invoice_date as date) as d,
          |  billing_country, cast(total as double) as total |>
          |order by invoice_id""".stripMargin)
      },
      Some("""SELECT cast(invoice_id AS bigint) AS invoice_id,
        |  cast(customer_id AS bigint) AS customer_id,
        |  cast(invoice_date AS date) AS d,
        |  billing_country, cast(total AS double) AS total
        |FROM read_csv('/root/reference/example/invoices.csv', header=true)
        |WHERE total > 10 ORDER BY invoice_id""".stripMargin)),

    QueryDef(
      "q93_string_subscripts",
      withTables { (s, _) =>
        // DuckDB STRING subscripts/slices through the same bracket
        // spellings as lists — the graft_at/graft_slice expressions
        // dispatch on the base type at bind time (SubscriptExpressions),
        // so `text[2:12]` works exactly like `'abcde'[2:4]` in DuckDB
        // (1-based inclusive, negative from end, 0 → '', clamping).
        // Same spellings run natively on DuckDB.
        Psqlish(s, """from documents |>
          |where doc_id <= 400 |>
          |select doc_id,
          |  text[2:12] as mid,
          |  text[-6:] as tail6,
          |  text[:5] as head5,
          |  text[3] as third,
          |  text[-1] as last_ch,
          |  string_split(text, ' ')[2] as w2,
          |  cast(to_json(string_split(text, ' ')[2:3]) as varchar) as w23 |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
        |  text[2:12] AS mid,
        |  text[-6:] AS tail6,
        |  text[:5] AS head5,
        |  text[3] AS third,
        |  text[-1] AS last_ch,
        |  string_split(text, ' ')[2] AS w2,
        |  cast(to_json(string_split(text, ' ')[2:3]) AS varchar) AS w23
        |FROM documents WHERE doc_id <= 400
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q94_generate_series",
      withTables { (s, _) =>
        // DuckDB generate_series: table form (FROM position, inclusive,
        // column named generate_series) and scalar form (a list). The
        // scalar bound depends on a column, so rows where the direction
        // mismatches (n % 4 = 0 < 1) exercise DuckDB's EMPTY-list edge —
        // Spark's own sequence() THROWS there (functions.GraftSeries).
        // Same spellings run natively on DuckDB.
        Psqlish(s, """from generate_series(1, 40, 3) |>
          |select generate_series as n,
          |  cast(to_json(generate_series(1, generate_series % 4)) as varchar) as lst,
          |  cast(to_json(generate_series(generate_series, 1, -2)) as varchar) as back |>
          |order by n""".stripMargin)
      },
      Some("""SELECT generate_series AS n,
        |  cast(to_json(generate_series(1, generate_series % 4)) AS varchar) AS lst,
        |  cast(to_json(generate_series(generate_series, 1, -2)) AS varchar) AS back
        |FROM generate_series(1, 40, 3) ORDER BY n""".stripMargin)),

    QueryDef(
      "q95_list_fn_battery",
      withTables { (s, _) =>
        // DuckDB list-function surface: polymorphic len (strings AND
        // lists → BIGINT, GraftLen), inclusive array_slice on both types,
        // list_element/-extract (1-based, negative from end), list_value,
        // list_append, list_prepend (DuckDB's (value, list) arg order —
        // registered with swapped args, an alias can't reorder),
        // list_position (0 when missing in both engines; width differs →
        // cast). Same spellings run natively on DuckDB.
        Psqlish(s, """from documents |>
          |where doc_id <= 300 |>
          |select doc_id,
          |  len(text) as n_chars2,
          |  len(string_split(text, ' ')) as n_words,
          |  array_slice(text, 3, 8) as mid,
          |  cast(to_json(array_slice(string_split(text, ' '), 2, 4)) as varchar) as w24,
          |  list_element(string_split(text, ' '), -1) as last_word,
          |  cast(to_json(list_value(lang, source)) as varchar) as tags,
          |  cast(to_json(list_append(list_value(lang), source)) as varchar) as tags2,
          |  cast(to_json(list_prepend(lang, list_value(source))) as varchar) as tags3,
          |  cast(list_position(string_split(text, ' '), 'the') as bigint) as pos_the |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
        |  len(text) AS n_chars2,
        |  len(string_split(text, ' ')) AS n_words,
        |  array_slice(text, 3, 8) AS mid,
        |  cast(to_json(array_slice(string_split(text, ' '), 2, 4)) AS varchar) AS w24,
        |  list_element(string_split(text, ' '), -1) AS last_word,
        |  cast(to_json(list_value(lang, source)) AS varchar) AS tags,
        |  cast(to_json(list_append(list_value(lang), source)) AS varchar) AS tags2,
        |  cast(to_json(list_prepend(lang, list_value(source))) AS varchar) AS tags3,
        |  cast(list_position(string_split(text, ' '), 'the') AS bigint) AS pos_the
        |FROM documents WHERE doc_id <= 300
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q96_date_diff_parts",
      withTables { (s, _) =>
        // DuckDB 3-arg date_diff('part', a, b): PART-BOUNDARY-CROSSING
        // counts (probed: year '12-31'→'01-01' = 1; week boundary Monday)
        // — not Spark's fractional months_between — rewritten per part to
        // explicit boundary arithmetic (dateDiffSql). datediff alias and
        // strftime/epoch ride along. Same spellings run natively on DuckDB.
        Psqlish(s, """from events |>
          |where event_id <= 2000 |>
          |select event_id,
          |  date_diff('year', timestamp '2024-06-15 12:00:00', ts) as dy,
          |  date_diff('quarter', timestamp '2024-06-15 12:00:00', ts) as dq,
          |  date_diff('month', timestamp '2024-06-15 12:00:00', ts) as dmo,
          |  date_diff('week', timestamp '2024-06-15 12:00:00', ts) as dw,
          |  datediff('day', timestamp '2024-06-15 12:00:00', ts) as dd,
          |  date_diff('hour', timestamp '2024-06-15 12:00:00', ts) as dh,
          |  date_diff('minute', timestamp '2024-06-15 12:00:00', ts) as dmi,
          |  date_diff('second', timestamp '2024-06-15 12:00:00', ts) as ds,
          |  strftime(ts, '%Y-%m-%dT%H:%M') as iso_min,
          |  epoch(ts) as ep |>
          |order by event_id""".stripMargin)
      },
      Some("""SELECT event_id,
        |  date_diff('year', timestamp '2024-06-15 12:00:00', ts) AS dy,
        |  date_diff('quarter', timestamp '2024-06-15 12:00:00', ts) AS dq,
        |  date_diff('month', timestamp '2024-06-15 12:00:00', ts) AS dmo,
        |  date_diff('week', timestamp '2024-06-15 12:00:00', ts) AS dw,
        |  datediff('day', timestamp '2024-06-15 12:00:00', ts) AS dd,
        |  date_diff('hour', timestamp '2024-06-15 12:00:00', ts) AS dh,
        |  date_diff('minute', timestamp '2024-06-15 12:00:00', ts) AS dmi,
        |  date_diff('second', timestamp '2024-06-15 12:00:00', ts) AS ds,
        |  strftime(ts, '%Y-%m-%dT%H:%M') AS iso_min,
        |  epoch(ts) AS ep
        |FROM events WHERE event_id <= 2000
        |ORDER BY event_id""".stripMargin)),

    QueryDef(
      "a20_cusum_changepoints",
      withTables { (s, _) =>
        // one-sided CUSUM level-shift detection per event_type
        // (TimeSeries.cusumChangepoints): the Page recursion re-expressed
        // as running-sum − running-min (two windows over ONE per-group
        // sort), mean-centering kept integer-exact by scaling the whole
        // inequality by n (the d42 trick). Oracle states the identical
        // closed form; every output cell is BIGINT/bool/timestamp.
        TimeSeries.cusumChangepoints(s.table("events"),
            "ts", "event_type", "value", "event_id",
            slack = 5.0, threshold = 500.0)
          .orderBy("event_type", "ts", "event_id")
      },
      Some("""WITH base AS (
        |  SELECT event_type AS g, ts, event_id,
        |    floor(value * 1000000.0 + 0.5)::BIGINT AS x
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx FROM base GROUP BY g),
        |dev AS (
        |  SELECT b.g, b.ts, b.event_id, st.n,
        |    st.n * b.x - st.sx - st.n * floor(5.0 * 1000000.0 + 0.5)::BIGINT AS d
        |  FROM base b JOIN st USING (g)),
        |rs AS (SELECT g, ts, event_id, n,
        |    sum(d) OVER (PARTITION BY g ORDER BY ts, event_id)::BIGINT AS rs
        |  FROM dev),
        |s AS (SELECT g, ts, event_id, n,
        |    (rs - least(0::BIGINT, min(rs) OVER (PARTITION BY g ORDER BY ts, event_id)))::BIGINT AS cusum_scaled
        |  FROM rs)
        |SELECT g AS event_type, ts, event_id, cusum_scaled,
        |  cusum_scaled > n * floor(500.0 * 1000000.0 + 0.5)::BIGINT AS is_change
        |FROM s ORDER BY event_type, ts, event_id""".stripMargin)),

    QueryDef(
      "a21_robust_outliers",
      withTables { (s, _) =>
        // Hampel identifier per event_type (TimeSeries.robustOutliers):
        // |x − median| > 3·MAD — the resistant outlier flag a mean/σ
        // z-score can't give (extremes inflate σ and mask themselves).
        // Interpolated medians are a cross-engine hash seam, so both
        // medians run on the 1e-6 integer grid where midpoints are exact
        // (the d42/a20 discipline, two grids deep). Two narrow aggregates
        // broadcast back; the frame itself never shuffles.
        TimeSeries.robustOutliers(s.table("events").where(col("value").isNotNull),
            "event_id", "event_type", "value", k = 3.0)
          .orderBy("event_id")
      },
      Some("""WITH base AS (
        |  SELECT event_id, event_type AS g, value,
        |    floor(value * 1000000.0 + 0.5)::BIGINT AS vs
        |  FROM events WHERE value IS NOT NULL),
        |med AS (SELECT g, median(vs)::DOUBLE AS med FROM base GROUP BY g),
        |dev AS (SELECT b.event_id, b.g, b.value, m.med, abs(b.vs - m.med) AS ad
        |        FROM base b JOIN med m USING (g)),
        |mad AS (SELECT g, median(ad)::DOUBLE AS mad FROM dev GROUP BY g)
        |SELECT d.event_id, d.g AS event_type, d.value,
        |  d.med / 1000000.0 AS med, m2.mad / 1000000.0 AS mad,
        |  CASE WHEN m2.mad = 0.0 THEN NULL
        |       ELSE floor((d.ad / m2.mad) * 1000000.0 + 0.5) / 1000000.0 END AS score6
        |FROM dev d JOIN mad m2 USING (g)
        |WHERE d.ad > 3.0 * m2.mad
        |ORDER BY event_id""".stripMargin)),

    QueryDef(
      "a22_m4_downsample",
      withTables { (s, _) =>
        // M4 downsampling (TimeSeries.m4Downsample; Jugel et al. VLDB'14):
        // per (event_type, hour) the four pixel-exact extremes — first/
        // last by (ts, event_id), min/max by value. ONE map-side-combined
        // hash aggregate, no window, no sort; values pass through with
        // zero float arithmetic. The oracle states first/last via a
        // row_number (DuckDB 1.0 arg_min takes no composite key) — same
        // answer, different spelling.
        TimeSeries.m4Downsample(s.table("events").where(col("value").isNotNull),
            "ts", "event_type", "value", "event_id", bucket = "hour")
          .orderBy("event_type", "bucket_start")
      },
      Some("""WITH base AS (
        |  SELECT event_type AS g, date_trunc('hour', ts) AS bucket_start,
        |    ts, event_id, value AS v
        |  FROM events WHERE value IS NOT NULL),
        |rn AS (SELECT *, row_number() OVER (
        |    PARTITION BY g, bucket_start ORDER BY ts, event_id) AS rn
        |  FROM base)
        |SELECT g AS event_type, bucket_start,
        |  arg_min(v, rn) AS v_first, arg_max(v, rn) AS v_last,
        |  min(v) AS v_min, max(v) AS v_max, count(*)::BIGINT AS n
        |FROM rn GROUP BY g, bucket_start
        |ORDER BY event_type, bucket_start""".stripMargin)),

    QueryDef(
      "a23_seasonal_decompose",
      withTables { (s, _) =>
        // classical additive decomposition per event_type
        // (TimeSeries.seasonalDecompose): hourly exact-decimal means →
        // centered 24-bucket MA trend (ordered window fold, the a14/a15
        // device) → per-hour-of-day seasonal means on the 1e-6 grid
        // (BIGINT sums — order-independent) → residual. One full-data
        // aggregate; everything downstream is bucket-count sized.
        TimeSeries.seasonalDecompose(s.table("events"), "ts", "event_type", "value")
          .orderBy("event_type", "bucket_start")
      },
      Some("""WITH hourly AS (
        |  SELECT event_type AS g, date_trunc('hour', ts) AS b,
        |    count(*)::BIGINT AS n,
        |    cast(sum(cast(value AS decimal(18,2))) AS double) AS sv
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT g, b, n, sv / n AS m FROM hourly),
        |tr AS (SELECT g, b, n, m,
        |    array_agg(m) OVER (PARTITION BY g ORDER BY b
        |      ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS arr
        |  FROM m),
        |t2 AS (SELECT g, b, n, m,
        |    list_reduce(arr, (a, x) -> a + x) / len(arr) AS trend FROM tr),
        |d AS (SELECT g, b, n, m, trend, m - trend AS dtr,
        |    floor((m - trend) * 1000000.0 + 0.5)::BIGINT AS ds, hour(b) AS ph FROM t2),
        |seas AS (SELECT g, ph, sum(ds)::BIGINT AS ss, count(*)::BIGINT AS np
        |  FROM d GROUP BY g, ph)
        |SELECT d.g AS event_type, d.b AS bucket_start, d.n, d.m AS hourly_mean,
        |  d.trend, (seas.ss::DOUBLE / seas.np) / 1000000.0 AS seasonal,
        |  d.dtr - (seas.ss::DOUBLE / seas.np) / 1000000.0 AS resid
        |FROM d JOIN seas ON d.g = seas.g AND d.ph = seas.ph
        |ORDER BY event_type, bucket_start""".stripMargin)),

    QueryDef(
      "a19_seasonal_profile",
      withTables { (s, _) =>
        // seasonal profile + threshold anomalies: per (event_type,
        // hour-of-day) the exact-decimal-sum mean is the seasonal baseline,
        // then events are scored against 2× their own bucket's baseline.
        // Two-pass shape that scales: the profile is OUTPUT-sized (|types|
        // × 24 rows) and broadcasts back over the fact scan — no fact
        // shuffle for the scoring pass. Float discipline: the mean comes
        // from an exact DECIMAL(18,2) sum divided by an exact count, so
        // both engines hold identical bits and the 2×-threshold comparison
        // is deterministic (the Fp.scala contract); only the REPORTED mean
        // lands on the 1e-6 grid.
        val ev = s.table("events").where(col("value").isNotNull)
          .select(col("event_type"), hour(col("ts")).cast("bigint").as("hod"),
            col("value"))
        val prof = ev.groupBy("event_type", "hod")
          .agg(count(lit(1)).as("n"),
            expr("cast(sum(cast(value as decimal(18,2))) as double)").as("sv"))
          .withColumn("mu", col("sv") / col("n"))
        val hot = ev
          .join(broadcast(prof.select("event_type", "hod", "mu")),
            Seq("event_type", "hod"))
          .where(col("value") > lit(2.0) * col("mu"))
          .groupBy("event_type", "hod").agg(count(lit(1)).as("n_hot"))
        prof.join(hot, Seq("event_type", "hod"), "left")
          .select(col("event_type"), col("hod"), col("n"),
            Fp.grid6(col("mu")).as("mean6"),
            coalesce(col("n_hot"), lit(0L)).as("n_hot"))
          .orderBy("event_type", "hod")
      },
      Some("""WITH ev AS (
        |  SELECT event_type, hour(ts)::BIGINT AS hod, value FROM events
        |  WHERE value IS NOT NULL),
        |prof AS (
        |  SELECT event_type, hod, count(*)::BIGINT AS n,
        |    sum(value::DECIMAL(18,2))::DOUBLE / count(*) AS mu
        |  FROM ev GROUP BY 1, 2),
        |hot AS (
        |  SELECT e.event_type, e.hod, count(*)::BIGINT AS n_hot
        |  FROM ev e JOIN prof p ON p.event_type = e.event_type AND p.hod = e.hod
        |  WHERE e.value > 2.0 * p.mu GROUP BY 1, 2)
        |SELECT p.event_type, p.hod, p.n,
        |  floor(mu * 1000000.0 + 0.5) / 1000000.0 AS mean6,
        |  coalesce(h.n_hot, 0)::BIGINT AS n_hot
        |FROM prof p LEFT JOIN hot h
        |  ON h.event_type = p.event_type AND h.hod = p.hod
        |ORDER BY p.event_type, p.hod""".stripMargin)),

    QueryDef(
      "d42_label_centroids",
      withTables { (s, _) =>
        // per-label embedding centroids (class centroids — the SemDedup/
        // IVF seeding primitive as a standalone op): elementwise mean over
        // the label's vectors. Float discipline: each element lands on the
        // 1e-6 grid as an exact BIGINT first, sums are integer-exact (no
        // double-summation order sensitivity — the reason a naive avg()
        // can never hash cross-engine), and the mean is one exact division.
        // Scale shape: posexplode → narrow (label, dim, long) shuffle with
        // map-side partial sums; output is |labels| × dim rows. 1-based
        // DuckDB subscripts align via dim = i - 1.
        val e = s.table("embeddings")
          .select(col("label").cast("bigint").as("label"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "el")))
          .select(col("label"), col("dim").cast("bigint").as("dim"),
            floor(col("el") * lit(1000000.0) + lit(0.5)).cast("long").as("s6"))
        e.groupBy("label", "dim")
          .agg(count(lit(1)).as("n"), sum("s6").as("sum6"))
          .select(col("label"), col("dim"), col("n"), col("sum6"),
            (col("sum6").cast("double") / col("n") / lit(1000000.0)).as("mean6"))
          .orderBy("label", "dim")
      },
      Some("""SELECT label::BIGINT AS label, (i - 1)::BIGINT AS dim,
        |  count(*)::BIGINT AS n,
        |  cast(sum(floor(embedding[i]::DOUBLE * 1000000.0 + 0.5)::BIGINT) AS BIGINT) AS sum6,
        |  cast(sum(floor(embedding[i]::DOUBLE * 1000000.0 + 0.5)::BIGINT) AS BIGINT)::DOUBLE
        |    / count(*) / 1000000.0 AS mean6
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      "q99_timezone_convert",
      withTables { (s, _) =>
        // time-zone conversion parity (both sessions pinned UTC): Spark's
        // from_utc_timestamp(ts, tz) ≡ DuckDB timezone(tz, ts::TIMESTAMPTZ)
        // (UTC instant → tz wall clock) and to_utc_timestamp(ts, tz) ≡
        // (timezone(tz, ts))::TIMESTAMP (tz wall clock → UTC) — probed
        // directly, including the DST boundary (July EDT −4 vs January EST
        // −5), so both engines' Olson tables and offset arithmetic are
        // hash-checked; epoch_ms/unix_millis rides along.
        // ts is TIMESTAMP_NTZ in the parquet; the conversions take/return
        // session-local TIMESTAMP — cast in (UTC session: wall ≡ instant)
        // and cast back out to NTZ so the written parquet carries naive
        // timestamps, exactly what DuckDB's TIMESTAMP outputs are
        val t = col("ts").cast("timestamp")
        def ntz(c: org.apache.spark.sql.Column) = c.cast("timestamp_ntz")
        s.table("events")
          .where(col("event_id") <= 2000)
          .select(col("event_id"),
            ntz(from_utc_timestamp(t, "America/New_York")).as("ny_wall"),
            ntz(from_utc_timestamp(t, "Asia/Tokyo")).as("tokyo_wall"),
            ntz(from_utc_timestamp(t, "Asia/Kolkata")).as("kolkata_wall"),
            ntz(to_utc_timestamp(t, "America/New_York")).as("utc_if_ny"),
            unix_millis(t).as("ems"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
        |  timezone('America/New_York', ts::TIMESTAMPTZ) AS ny_wall,
        |  timezone('Asia/Tokyo', ts::TIMESTAMPTZ) AS tokyo_wall,
        |  timezone('Asia/Kolkata', ts::TIMESTAMPTZ) AS kolkata_wall,
        |  (timezone('America/New_York', ts))::TIMESTAMP AS utc_if_ny,
        |  epoch_ms(ts) AS ems
        |FROM events WHERE event_id <= 2000
        |ORDER BY event_id""".stripMargin)),

    QueryDef(
      "q97_regexp_replace_semantics",
      withTables { (s, _) =>
        // DuckDB regexp_replace: 3-arg = FIRST match only, 'g' = global,
        // 'i' = case-insensitive, '$' LITERAL in the replacement — all
        // four inverses/absences in Spark, routed through
        // GraftRegexpReplace (runtime RE2→Java replacement translation).
        // Backslash group refs stay out of shared text (the literal-escape
        // seam) — they are spec-covered engine-side. Same spellings run
        // natively on DuckDB.
        Psqlish(s, """from documents |>
          |where doc_id <= 300 |>
          |select doc_id,
          |  regexp_replace(text, 'e', '3') as first_e,
          |  regexp_replace(text, '[aeiou]', '_', 'g') as no_vowels,
          |  regexp_replace(lang, 'E', 'X', 'gi') as lang_x,
          |  regexp_replace(text, ' ', '$', 'g') as dollar_sep |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
        |  regexp_replace(text, 'e', '3') AS first_e,
        |  regexp_replace(text, '[aeiou]', '_', 'g') AS no_vowels,
        |  regexp_replace(lang, 'E', 'X', 'gi') AS lang_x,
        |  regexp_replace(text, ' ', '$', 'g') AS dollar_sep
        |FROM documents WHERE doc_id <= 300
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "q98_format_like_ops",
      withTables { (s, _) =>
        // DuckDB printf (% codes shared with Spark's format_string — pure
        // alias), fmt-style format() with {} / positional {N} placeholders
        // (fmtToPrintf translation; specs like {:d} throw), and the
        // Postgres LIKE-operator spellings ~~ / ~~* / !~~ / !~~* → LIKE /
        // ILIKE keyword swaps. Same spellings run natively on DuckDB.
        Psqlish(s, """from part |>
          |where p_name ~~ '%blue%' and p_type ~~* '%economy%'
          |  and p_name !~~ '%anvil%' |>
          |select p_partkey,
          |  printf('%d:%s', p_partkey, p_name) as tag,
          |  format('{}-{}', p_brand, p_size) as bs,
          |  format('{1}/{0}', p_name, p_brand) as swapped |>
          |order by p_partkey""".stripMargin)
      },
      Some("""SELECT p_partkey,
        |  printf('%d:%s', p_partkey, p_name) AS tag,
        |  format('{}-{}', p_brand, p_size) AS bs,
        |  format('{1}/{0}', p_name, p_brand) AS swapped
        |FROM part
        |WHERE p_name ~~ '%blue%' AND p_type ~~* '%economy%'
        |  AND p_name !~~ '%anvil%'
        |ORDER BY p_partkey""".stripMargin)),

    QueryDef(
      "q100_range_battery",
      withTables { (s, _) =>
        // DuckDB range(): generate_series' EXCLUSIVE-stop sibling, table
        // form (FROM position, column named range) and scalar form (a
        // BIGINT list). Probed DuckDB 1.0 edges all exercised: range(1,1)
        // = [] (exclusive empty), direction mismatch = [] where Spark's
        // sequence() throws, step 0 = [], 1-arg = [0..n), and 1-arg
        // generate_series (inclusive) rides along. functions.GraftSeries
        // re-expresses the exclusive stop as an inclusive stop-minus-
        // signum(step) bound, so the plan stays one codegen'd Sequence.
        // Same spellings run natively on DuckDB.
        Psqlish(s, """from range(2, 41, 3) |>
          |select range as n,
          |  cast(to_json(range(1, range % 5)) as varchar) as lst,
          |  cast(to_json(range(range, 1, -4)) as varchar) as back,
          |  cast(to_json(range(range % 7)) as varchar) as one_arg,
          |  cast(to_json(range(1, range % 6, 0)) as varchar) as zstep,
          |  cast(to_json(generate_series(range % 6)) as varchar) as gs1 |>
          |order by n""".stripMargin)
      },
      Some("""SELECT range AS n,
        |  cast(to_json(range(1, range % 5)) AS varchar) AS lst,
        |  cast(to_json(range(range, 1, -4)) AS varchar) AS back,
        |  cast(to_json(range(range % 7)) AS varchar) AS one_arg,
        |  cast(to_json(range(1, range % 6, 0)) AS varchar) AS zstep,
        |  cast(to_json(generate_series(range % 6)) AS varchar) AS gs1
        |FROM range(2, 41, 3) ORDER BY n""".stripMargin)),

    QueryDef(
      "q101_cast_semantics",
      withTables { (s, _) =>
        // DuckDB numeric-cast semantics battery (functions.GraftCast):
        // every column is a probed SILENT cross-engine divergence —
        // double→int rounds HALF-EVEN where Spark truncates, decimal→int
        // rounds HALF-AWAY, string→int takes DuckDB's grammar (fractional
        // strings round, 0x hex, 0b binary, _ digit separators — Spark
        // NULLs all four), boolean strings are an untrimmed member set
        // ('O' → NULL, 'F' → false where Spark accepts more spellings).
        // l_quantity is integer-valued 1..50, so +0.5 lands EXACTLY on
        // the rounding boundary in both engines. Same spellings run
        // natively on DuckDB.
        Psqlish(s, """from lineitem |>
          |where l_orderkey <= 600 |>
          |select l_orderkey, l_linenumber,
          |  cast(cast(cast(l_quantity as double) + 0.5 as int) as int) as half_even,
          |  cast(cast(l_quantity as decimal(12,2)) + 0.5 as int) as half_away,
          |  cast(-(cast(l_quantity as double) + 0.5) as int) as neg_even,
          |  cast(cast(cast(l_quantity as bigint) as varchar) || '.5' as int) as str_round,
          |  cast(concat('0x', printf('%x', l_partkey)) as bigint) as hex_rt,
          |  cast(concat('0b', bin(l_linenumber)) as bigint) as bin_rt,
          |  cast(cast(l_orderkey as varchar) || '_' || '00' as bigint) as under_sep,
          |  cast(try_cast(l_linestatus as boolean) as varchar) as ls_bool,
          |  try_cast(l_extendedprice as tinyint) as overflow_null,
          |  try_cast(l_quantity as tinyint) as qty_i8 |>
          |order by l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber,
        |  cast(cast(cast(l_quantity AS double) + 0.5 AS int) AS int) AS half_even,
        |  cast(cast(l_quantity AS decimal(12,2)) + 0.5 AS int) AS half_away,
        |  cast(-(cast(l_quantity AS double) + 0.5) AS int) AS neg_even,
        |  cast(cast(cast(l_quantity AS bigint) AS varchar) || '.5' AS int) AS str_round,
        |  cast(concat('0x', printf('%x', l_partkey)) AS bigint) AS hex_rt,
        |  cast(concat('0b', bin(l_linenumber)) AS bigint) AS bin_rt,
        |  cast(cast(l_orderkey AS varchar) || '_' || '00' AS bigint) AS under_sep,
        |  cast(try_cast(l_linestatus AS boolean) AS varchar) AS ls_bool,
        |  try_cast(l_extendedprice AS tinyint) AS overflow_null,
        |  try_cast(l_quantity AS tinyint) AS qty_i8
        |FROM lineitem WHERE l_orderkey <= 600
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "q102_colon_cast_semantics",
      withTables { (s, _) =>
        // `x::T` is the SAME operation as CAST(x AS T) in DuckDB — the two
        // spellings must not diverge. Without rewriteColonCasts the `::`
        // forms fell through to Spark's truncating Cast ('3.9'::int = NULL
        // while cast('3.9' as int) = 4); every column here is the q101
        // battery re-spelled double-colon, plus a left-to-right chain
        // (::int::varchar casts the INT result) and a fractional
        // underscore string. Non-target types in the chains (::double,
        // ::decimal(12,2), ::varchar) ride Spark's native `::` untouched.
        Psqlish(s, """from lineitem |>
          |where l_orderkey <= 600 |>
          |select l_orderkey, l_linenumber,
          |  ((l_quantity::double + 0.5)::int)::int as half_even,
          |  (l_quantity::decimal(12,2) + 0.5)::int as half_away,
          |  (-(l_quantity::double + 0.5))::int as neg_even,
          |  ((l_quantity::bigint)::varchar || '.5')::int as str_round,
          |  concat('0x', printf('%x', l_partkey))::bigint as hex_rt,
          |  ((l_orderkey)::varchar || '_' || '00')::bigint as under_sep,
          |  ((l_quantity::bigint)::varchar || '_' || '25.5')::int as under_frac,
          |  ((l_quantity::double + 0.5)::int)::varchar as chain_str,
          |  ((l_linenumber % 2)::boolean)::varchar as par_bool |>
          |order by l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber,
        |  ((l_quantity::double + 0.5)::int)::int AS half_even,
        |  (l_quantity::decimal(12,2) + 0.5)::int AS half_away,
        |  (-(l_quantity::double + 0.5))::int AS neg_even,
        |  ((l_quantity::bigint)::varchar || '.5')::int AS str_round,
        |  concat('0x', printf('%x', l_partkey))::bigint AS hex_rt,
        |  ((l_orderkey)::varchar || '_' || '00')::bigint AS under_sep,
        |  ((l_quantity::bigint)::varchar || '_' || '25.5')::int AS under_frac,
        |  ((l_quantity::double + 0.5)::int)::varchar AS chain_str,
        |  ((l_linenumber % 2)::boolean)::varchar AS par_bool
        |FROM lineitem WHERE l_orderkey <= 600
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "q103_prepared_statements",
      withTables { (s, _) =>
        // PREPARE/EXECUTE (PreparedStatements): the body is a PSQL pipeline
        // with $1/$2 positional parameters; EXECUTE inlines the argument
        // text and re-enters the normal rewrite, so the bound literals
        // reach the parquet scan as pushed filters. Oracle: DuckDB's OWN
        // prepared execution of the same statement (plain-SQL body — the
        // oracle engine has no pipe dialect), same arguments.
        val psql = graft.psql.Psql(s)
        psql.sql("""PREPARE graft_q103 AS from lineitem |>
          |where l_orderkey <= $1 and l_quantity >= $2 |>
          |select l_orderkey, l_linenumber, l_quantity, l_extendedprice |>
          |order by l_orderkey, l_linenumber""".stripMargin)
        psql.sql("EXECUTE graft_q103(500, 25)")
      },
      Some("""PREPARE graft_q103 AS SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_extendedprice FROM lineitem WHERE l_orderkey <= $1 AND l_quantity >= $2
        |  ORDER BY l_orderkey, l_linenumber;
        |EXECUTE graft_q103(500, 25)""".stripMargin)),

    QueryDef(
      "q104_lateral_join",
      withTables { (s, _) =>
        // LATERAL correlated derived tables — a delegated join form both
        // engines parse natively (Spark ≥ 3.2, DuckDB 1.0), exercised as a
        // pipeline head relation: per nation, a correlated aggregate over
        // its customers plus a correlated top-1 (ORDER BY … LIMIT 1 inside
        // the lateral — the classic per-group argmax spelling).
        Psqlish(s, """from nation n,
          |lateral (select count(*) as n_cust,
          |         coalesce(cast(sum(cast(c.c_acctbal as decimal(18,2))) as double), 0.0) as bal_sum
          |         from customer c where c.c_nationkey = n.n_nationkey) agg,
          |lateral (select c.c_custkey as top_cust
          |         from customer c where c.c_nationkey = n.n_nationkey
          |         order by c.c_acctbal desc, c.c_custkey limit 1) top |>
          |select n_nationkey, n_name, n_cust, bal_sum, top_cust |>
          |order by n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey, n_name, n_cust, bal_sum, top_cust
        |FROM nation n,
        |LATERAL (SELECT count(*) AS n_cust,
        |         coalesce(cast(sum(cast(c_acctbal AS decimal(18,2))) AS double), 0.0) AS bal_sum
        |         FROM customer c WHERE c.c_nationkey = n.n_nationkey) agg,
        |LATERAL (SELECT c.c_custkey AS top_cust
        |         FROM customer c WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT 1) top
        |ORDER BY n_nationkey""".stripMargin)),

    QueryDef(
      "q105_union_by_name",
      withTables { (s, _) =>
        // DuckDB `UNION [ALL] BY NAME` (Psql.byNamePlan — a Catalyst
        // byName Union; no Spark SQL text form exists): columns match by
        // NAME not position, sides missing a column NULL-fill, the
        // left-assoc chain dedups through the plain UNION link (25 nation
        // rows → 5 distinct) and keeps duplicates through UNION ALL; the
        // trailing ORDER BY binds to the whole set operation. Oracle:
        // DuckDB executing the SAME statement natively.
        // sides after the first link are pipe-free on purpose: the dialect
        // splits pipes BEFORE set ops (reference rewrite order), so a `|>`
        // after a link is a stage over the WHOLE set operation
        Psqlish(s, """from nation |> select n_regionkey as k, 'r' || n_regionkey as name
          |union by name
          |select r_name as name, r_regionkey + 100 as k from region
          |union all by name
          |select s_suppkey + 1000 as k from supplier where s_suppkey % 10 = 0
          ||> order by k nulls first, name nulls first""".stripMargin)
      },
      Some("""SELECT n_regionkey AS k, 'r' || n_regionkey AS name FROM nation
        |UNION BY NAME
        |SELECT r_name AS name, r_regionkey + 100 AS k FROM region
        |UNION ALL BY NAME
        |SELECT s_suppkey + 1000 AS k FROM supplier WHERE s_suppkey % 10 = 0
        |ORDER BY k NULLS FIRST, name NULLS FIRST""".stripMargin)),

    QueryDef(
      "q106_ignore_nulls",
      withTables { (s, _) =>
        // window null-treatment modifiers (rewriteIgnoreNulls): DuckDB
        // spells IGNORE/RESPECT NULLS INSIDE the call, Spark immediately
        // after it, and each parser rejects the other's form (probed) —
        // the rewriter moves the modifier across the closing paren. The
        // oracle executes the SAME DuckDB-spelled text natively; values
        // pass through with zero arithmetic.
        Psqlish(s, """from events |>
          |select event_id, event_type, ts,
          |  case when event_id % 5 = 0 then null else value end as v |>
          |as e select event_id, event_type, v,
          |  lag(v ignore nulls) over (partition by event_type order by ts, event_id) as prev_nn,
          |  lag(v respect nulls) over (partition by event_type order by ts, event_id) as prev_raw,
          |  lead(v ignore nulls) over (partition by event_type order by ts, event_id) as next_nn,
          |  first_value(v ignore nulls) over (partition by event_type order by ts, event_id
          |    rows between unbounded preceding and current row) as first_nn,
          |  last_value(v ignore nulls) over (partition by event_type order by ts, event_id
          |    rows between unbounded preceding and current row) as last_nn |>
          |order by event_id""".stripMargin)
      },
      Some("""SELECT event_id, event_type, v,
        |  lag(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_nn,
        |  lag(v RESPECT NULLS) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_raw,
        |  lead(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_nn,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_nn,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nn
        |FROM (SELECT event_id, event_type, ts,
        |        CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        |      FROM events) e
        |ORDER BY event_id""".stripMargin)),

    QueryDef(
      "q107_session_variables",
      withTables { (s, _) =>
        // DuckDB session variables (SessionVariables): SET VARIABLE
        // evaluates its expression EAGERLY (decimal-exact mean, so the
        // captured double is cross-engine deterministic), getvariable
        // inlines the value's literal at bind time — constant per
        // statement, so the inlining IS the semantics, FROM-queries
        // included; unset reads as NULL. The local oracle (DuckDB 1.0)
        // predates SET VARIABLE (1.1), so it states the
        // documented-equivalent inlined form: the same scalar derived in
        // SQL, the same literals in place.
        val psql = graft.psql.Psql(s)
        psql.sql("""set variable gv_thresh = (select
          |cast(cast(sum(cast(o_totalprice as decimal(18,2))) as double) / count(*) as double)
          |from orders)""".stripMargin)
        psql.sql("set variable gv_label = 'hi-' || 'value'")
        psql.sql("set variable gv_k = cast(7 as bigint)")
        psql.sql("""from orders
          ||> where o_totalprice > getvariable('gv_thresh')
          |    and o_orderkey % getvariable('gv_k') = 0
          ||> select o_orderkey, o_totalprice, getvariable('gv_label') as tag,
          |    cast(getvariable('gv_unset') as string) as missing
          ||> order by o_orderkey""".stripMargin)
      },
      Some("""WITH t AS (SELECT
        |  cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) / count(*) AS double) AS thr
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice, 'hi-value' AS tag,
        |  cast(NULL AS VARCHAR) AS missing
        |FROM orders, t
        |WHERE o_totalprice > t.thr AND o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "q108_recursive_cte",
      withTables { (s, _) =>
        // WITH RECURSIVE — identical text in BOTH engines (Spark 4 grew
        // native recursive CTEs; DuckDB has always had them). A binary-heap
        // ancestry walk over nation: each key chases parent (k-1)/2 down
        // to the root, floor-then-cast spelled explicitly so integer
        // division is identical in both dialects.
        graft.psql.Psql(s).sql("""WITH RECURSIVE anc(k, anc_k, depth) AS (
          |  SELECT n_nationkey, n_nationkey, 0 FROM nation
          |  UNION ALL
          |  SELECT a.k, cast(floor((a.anc_k - 1) / 2.0) as integer), a.depth + 1
          |  FROM anc a WHERE a.anc_k > 0)
          |SELECT k, anc_k, depth FROM anc ORDER BY k, depth""".stripMargin)
      },
      Some("""WITH RECURSIVE anc(k, anc_k, depth) AS (
        |  SELECT n_nationkey, n_nationkey, 0 FROM nation
        |  UNION ALL
        |  SELECT a.k, cast(floor((a.anc_k - 1) / 2.0) as integer), a.depth + 1
        |  FROM anc a WHERE a.anc_k > 0)
        |SELECT k, anc_k, depth FROM anc ORDER BY k, depth""".stripMargin)),

    QueryDef(
      "q109_plain_dialect",
      withTables { (s, _) =>
        // the DuckDB expression dialect on a PLAIN (non-pipe) statement:
        // in the reference plain SQL executes on DuckDB itself, so
        // `count()`, `^` (power, Spark would XOR), `//`, SIMILAR TO,
        // 1-based subscripts and GROUP BY ALL all carry DuckDB semantics
        // without pipes. The library path routes query-headed statements
        // through the same shims pipe stages get (Psql.rewriteOnly) —
        // this row pins the routed path with the IDENTICAL text as oracle.
        // Decimal-exact sum so the ^0.5 double is cross-engine stable.
        graft.psql.Psql(s).sql("""SELECT o_orderpriority,
          |  count() AS n,
          |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double) ^ 0.5, 6) AS root_rev,
          |  (string_split(min(o_orderpriority), '-'))[1] AS prio_code,
          |  min(o_orderkey) // 2 AS half_key
          |FROM orders
          |WHERE o_orderpriority SIMILAR TO '[123].*'
          |GROUP BY ALL
          |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority,
        |  count() AS n,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double) ^ 0.5, 6) AS root_rev,
        |  (string_split(min(o_orderpriority), '-'))[1] AS prio_code,
        |  min(o_orderkey) // 2 AS half_key
        |FROM orders
        |WHERE o_orderpriority SIMILAR TO '[123].*'
        |GROUP BY ALL
        |ORDER BY o_orderpriority""".stripMargin)),

    QueryDef(
      "q110_plain_distinct_on",
      withTables { (s, _) =>
        // plain-statement DISTINCT ON (Postgres pick semantics, which
        // DuckDB follows): first row per group under the statement's ORDER
        // BY, ties broken deterministically by c_custkey — restructured by
        // PsqlRewriter.plainSelectRewrite into the same row_number lowering
        // the pipe stage uses; oracle is the IDENTICAL text.
        graft.psql.Psql(s).sql("""SELECT DISTINCT ON (c_mktsegment) c_mktsegment, c_custkey, c_acctbal
          |FROM customer
          |WHERE c_acctbal > 0
          |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin)
      },
      Some("""SELECT DISTINCT ON (c_mktsegment) c_mktsegment, c_custkey, c_acctbal
        |FROM customer
        |WHERE c_acctbal > 0
        |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin)),

    QueryDef(
      "q111_plain_qualify",
      withTables { (s, _) =>
        // QUALIFY as a plain-statement clause (DuckDB clause order: after
        // HAVING, before ORDER BY), lowered to the hidden-column filter the
        // pipe stage uses; oracle is the IDENTICAL text.
        graft.psql.Psql(s).sql("""SELECT c_mktsegment, c_custkey, c_acctbal,
          |  cast(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) as bigint) AS rn
          |FROM customer
          |QUALIFY rn <= 3
          |ORDER BY c_mktsegment, rn""".stripMargin)
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
        |  cast(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) as bigint) AS rn
        |FROM customer
        |QUALIFY rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin)),

    QueryDef(
      "q112_at_time_zone",
      withTables { (s, _) =>
        // DuckDB `AT TIME ZONE` + timezone() (rewriteAtTimeZone): the
        // engine's type model makes the operand dispatch decidable from
        // text (parquet timestamps are naive; awareness = TIMESTAMPTZ
        // literal or a chain-produced instant), so the wall-to-wall
        // conversion chain and the function spelling both land on
        // from/to_utc_timestamp with DuckDB's exact semantics — DST
        // transitions included (events spans a year of timestamps).
        // Oracle is the IDENTICAL text. Every column ends on a WALL
        // conversion (naive in both engines): a bare instant column would
        // be TIMESTAMPTZ in DuckDB and the driver canon is type-faithful
        // (the +00:00 offset rides into the hash).
        graft.psql.Psql(s).sql("""SELECT event_id,
          |  ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS ny_wall,
          |  timezone('Asia/Kolkata', timezone('UTC', ts)) AS kolkata_wall
          |FROM events
          |WHERE event_id % 199 = 0
          |ORDER BY event_id
          |LIMIT 200""".stripMargin)
      },
      Some("""SELECT event_id,
        |  ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS ny_wall,
        |  timezone('Asia/Kolkata', timezone('UTC', ts)) AS kolkata_wall
        |FROM events
        |WHERE event_id % 199 = 0
        |ORDER BY event_id
        |LIMIT 200""".stripMargin)),

    QueryDef(
      "q65_native_pipe",
      withTables { (s, _) =>
        // Spark 4's NATIVE pipe syntax through the PSQL entry point: the
        // `AGGREGATE … GROUP BY` stage is not a PSQL stage, so the rewrite
        // produces unparseable SQL and Psql.sql's documented fallback
        // (Psql.scala) re-runs the ORIGINAL text natively — this row pins
        // that delegation end to end against the DuckDB oracle. Delegating
        // forms: AGGREGATE/EXTEND/SET/DROP (no PSQL equivalent spelling);
        // FROM/WHERE/SELECT/ORDER BY parse under both dialects.
        Psqlish(s, """FROM lineitem
          ||> WHERE l_shipdate >= DATE '1995-01-01'
          ||> EXTEND cast(l_extendedprice as decimal(18,2)) *
          |     cast(1 - l_discount as decimal(18,2)) AS net
          ||> AGGREGATE sum(l_quantity) AS sum_qty, cast(sum(net) as double) AS net_rev,
          |     count(*) AS n GROUP BY l_returnflag
          ||> ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) *
        |    cast(1 - l_discount as decimal(18,2))) as double) AS net_rev,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate >= DATE '1995-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "q64_list_lambdas",
      withTables { (s, _) =>
        // higher-order array lambdas as pipe stages (q36/q42 cover
        // construction/access; this row covers transform/filter/
        // aggregate/zip_with vs DuckDB's list_* lambda family). Arrays
        // flattened to CSV strings for the canonicalizer; all-integer
        // arithmetic, ordered fold. Conformance seam pinned by the oracle's
        // coalesce: DuckDB's array_to_string over an EMPTY list is NULL
        // where Spark's array_join is '' — the oracle states Spark's
        // (SQL-standard concat-of-nothing) answer.
        Psqlish(s, """from documents |>
          |select doc_id, sequence(1L, 1L + doc_id % 4) as arr |>
          |select doc_id,
          |  array_join(transform(arr, x -> cast(x * x + 1 as string)), ',') as sq,
          |  array_join(transform(filter(arr, x -> x % 2 = 0),
          |    x -> cast(x as string)), ',') as ev,
          |  aggregate(arr, 0L, (a, x) -> a + x) as tot,
          |  array_join(zip_with(arr, reverse(arr),
          |    (a, b) -> cast(a + b as string)), ',') as zp |>
          |order by doc_id""".stripMargin)
      },
      Some("""SELECT doc_id,
        |  array_to_string(list_transform(arr, x -> (x * x + 1)::VARCHAR), ',') AS sq,
        |  coalesce(array_to_string(list_transform(list_filter(arr, x -> x % 2 = 0),
        |    x -> x::VARCHAR), ','), '') AS ev,
        |  list_reduce(list_prepend(0::BIGINT, arr), (a, x) -> a + x) AS tot,
        |  array_to_string(list_transform(range(1, len(arr) + 1),
        |    i -> (arr[i] + arr[len(arr) + 1 - i])::VARCHAR), ',') AS zp
        |FROM (SELECT doc_id, range(1::BIGINT, 2 + doc_id % 4) AS arr FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "a10_interval_overlap",
      withTables { (s, _) =>
        // interval x interval overlap join (temporal intersection): 1-hour
        // activity windows around same-user clicks and purchases that
        // overlap. Binned-grid equi-join with first-shared-bin dedup — the
        // a03 economics for the two-interval case; oracle is the plain
        // theta join.
        val ev = s.table("events")
        def side(t: String, id: String, lo: String, hi: String) =
          ev.where(col("event_type") === t).select(
            col("user_id"),
            col("event_id").as(id),
            unix_millis(col("ts").cast("timestamp")).as(lo),
            (unix_millis(col("ts").cast("timestamp")) + 3600000L).as(hi))
        RangeJoin.binnedOverlap(
          side("click", "a_id", "a_lo", "a_hi"),
          side("purchase", "b_id", "b_lo", "b_hi"),
          "a_lo", "a_hi", "b_lo", "b_hi",
          binWidth = 3600000L, extraKeys = Seq("user_id"))
          .select("user_id", "a_id", "b_id")
          .orderBy("user_id", "a_id", "b_id")
      },
      Some("""WITH c AS (
        |  SELECT event_id AS a_id, user_id, epoch_ms(ts) AS a_lo,
        |    epoch_ms(ts) + 3600000 AS a_hi
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS b_id, user_id, epoch_ms(ts) AS b_lo,
        |    epoch_ms(ts) + 3600000 AS b_hi
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, a_id, b_id
        |FROM c JOIN p ON c.user_id = p.user_id AND a_lo <= b_hi AND b_lo <= a_hi
        |ORDER BY c.user_id, a_id, b_id""".stripMargin)),

    QueryDef(
      "b01_bucketed_join",
      withTables { (s, _) =>
        // co-located fact-fact join: both sides written bucketed+sorted by
        // the join key, so the join plan carries NO exchange on either side
        // (pinned with broadcast disabled in PlanQualitySpec) — the
        // amortize-the-shuffle warehouse layout for repeated joins.
        val li = s.table("lineitem").select("l_orderkey", "l_quantity")
        val ord = s.table("orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
        Bucketing.coLocatedJoin(s, li, ord, "l_orderkey", buckets = 8,
          "graft_b01_lineitem", "graft_b01_orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      "a09_asof_nearest",
      withTables { (s, _) =>
        // NEAREST as-of (merge_asof direction='nearest'): each event takes
        // the purchase closest in time either direction, backward winning
        // ties. One hash exchange, two window sorts; oracle is the two
        // windowed best-match CTEs + the distance CASE.
        val events = s.table("events")
        val purchases = events.where(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        AsofJoin.nearest(
          events.select("event_id", "user_id", "ts"),
          purchases,
          by = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          rightPayload = Seq("purchase_value"),
          joinType = "inner")
          .select(col("event_id"), col("user_id"), col("purchase_value"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT user_id, ts AS pts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (
        |  SELECT e.event_id, p.purchase_value, p.pts,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY p.pts DESC) AS rn
        |  FROM events e JOIN p ON e.user_id = p.user_id AND p.pts <= e.ts),
        |bb AS (SELECT event_id, purchase_value, pts FROM b WHERE rn = 1),
        |f AS (
        |  SELECT e.event_id, p.purchase_value, p.pts,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY p.pts ASC) AS rn
        |  FROM events e JOIN p ON e.user_id = p.user_id AND p.pts >= e.ts),
        |ff AS (SELECT event_id, purchase_value, pts FROM f WHERE rn = 1)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN bb.pts IS NOT NULL AND (ff.pts IS NULL OR (e.ts - bb.pts) <= (ff.pts - e.ts))
        |    THEN bb.purchase_value ELSE ff.purchase_value END AS purchase_value
        |FROM events e
        |LEFT JOIN bb ON bb.event_id = e.event_id
        |LEFT JOIN ff ON ff.event_id = e.event_id
        |WHERE bb.pts IS NOT NULL OR ff.pts IS NOT NULL
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef(
      "d30_containment_pairs",
      withTables { (s, _) =>
        // asymmetric near-dup: directed containment C(A→B) = |A∩B|/|A| —
        // quoted/embedded documents that symmetric Jaccard misses when the
        // host is much larger. Same inverted-index join as d04, both
        // directions derived map-side from one intersection count.
        Dedup.containmentPairs(s.table("documents"), "doc_id", "text",
          n = 3, threshold = 0.9)
          .orderBy("id_src", "id_sup")
      },
      Some("""WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
        |    len(a.sh)::BIGINT AS sz_a, len(b.sh)::BIGINT AS sz_b
        |  FROM s a, s b
        |  WHERE a.doc_id < b.doc_id AND len(list_intersect(a.sh, b.sh)) > 0),
        |d AS (
        |  SELECT id_a AS id_src, id_b AS id_sup, inter::DOUBLE / sz_a AS containment FROM p
        |  UNION ALL
        |  SELECT id_b, id_a, inter::DOUBLE / sz_b FROM p)
        |SELECT id_src, id_sup, containment FROM d WHERE containment >= 0.9
        |ORDER BY id_src, id_sup""".stripMargin)),

    QueryDef(
      "g02_triangle_count",
      withTables { (s, _) =>
        // per-node triangle counts on the same events click-graph as g01.
        // Spark runs the degree-oriented wedge plan (bounded intermediates);
        // the oracle states the naive id-ordered 3-way join — the triangle
        // set is orientation-independent, so the hashes match exactly.
        val edges = s.table("events").select(col("user_id").as("src"),
          get_json_object(col("props"), "$.k").cast("long").as("dst"))
        GraphOps.triangleTopK(edges, "src", "dst", k = 20)
      },
      Some("""WITH raw AS (
        |  SELECT DISTINCT user_id AS s, CAST(json_extract(props, '$.k') AS BIGINT) AS d
        |  FROM events
        |  WHERE user_id IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL),
        |e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM raw WHERE s <> d),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (
        |  SELECT node, count(*) AS n_tri
        |  FROM tri, unnest([x, y, z]) AS t(node)
        |  GROUP BY node)
        |SELECT node, n_tri FROM pn ORDER BY n_tri DESC, node LIMIT 20""".stripMargin))
  )

  // -------------------------------------------------------------------
  // Transitive-closure + time-series interpolation family (late r9).
  // -------------------------------------------------------------------
  private val closureDefs: Vector[QueryDef] = Vector(
    QueryDef(
      "g03_connected_components",
      withTables { (s, _) =>
        // connected components over the sparse orders↔parts co-purchase
        // bipartite graph (qty-1 lines only: 822 components of size ≤ 7 at
        // sf0.01 — real multi-hop closure structure, unlike the dense
        // click graph whose answer is one giant component). Node ids
        // disambiguate the two key spaces arithmetically (2k / 2k+1) so
        // the oracle can state the same graph. The engine runs min-label
        // propagation + pointer jumping; the oracle unrolls the SAME
        // propagate+jump rounds as CTEs — both converge to the identical
        // fixpoint (component = min node id), so hashes match exactly.
        val edges = s.table("lineitem").where(col("l_quantity") === 1)
          .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        GraphOps.connectedComponents(edges, "src", "dst")
          .orderBy("node")
      },
      Some(connectedComponentsOracle(6))),

    QueryDef(
      "a11_interpolate",
      withTables { (s, _) =>
        // linear time-weighted interpolation of hourly event values onto a
        // dense per-type spine: observed buckets keep max(value) (exact,
        // order-independent), interior gaps take the time-weighted blend of
        // nearest observed neighbors — identical double arithmetic stated
        // on both engines, so the row hash-checks despite float interp.
        TimeSeries.interpolateLinear(s.table("events"), "ts", "event_type", "value",
          bucketSeconds = 3600L)
          .orderBy("event_type", "bucket_start")
      },
      Some("""WITH ev AS (
        |  SELECT event_type AS g,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS b, value AS v
        |  FROM events),
        |obs AS (SELECT g, b, max(v) AS v FROM ev GROUP BY g, b),
        |sp AS (SELECT g, unnest(generate_series(lo, hi, 3600)) AS b
        |       FROM (SELECT g, min(b) AS lo, max(b) AS hi FROM obs GROUP BY g)),
        |j AS (SELECT sp.g, sp.b, obs.v FROM sp LEFT JOIN obs ON obs.g = sp.g AND obs.b = sp.b),
        |w AS (SELECT g, b, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY g ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (
        |    PARTITION BY g ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY g ORDER BY b
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER (
        |    PARTITION BY g ORDER BY b
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |  FROM j)
        |SELECT g AS event_type, cast(to_timestamp(b) as timestamp) AS bucket_start,
        |  round(CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) * ((b - pb)::DOUBLE / (nb - pb)) END, 6) AS v,
        |  (v IS NOT NULL) AS observed
        |FROM w ORDER BY event_type, bucket_start""".stripMargin)),

    QueryDef(
      "m11_audio_fingerprint",
      withTables { (s, _) =>
        // REAL audio DSP in the gate: one WAV clip per doc, decoded to raw
        // integer PCM, cut into 64-sample windows, each yielding its Haar
        // band energies + the Haitsma-Kalker delta bit. All-integer
        // arithmetic makes the row hash-green: the oracle recomputes every
        // sample closed-form from the generator formula WITHOUT decoding,
        // so a match proves the WAV encode -> scan -> decode -> window ->
        // energy path sample-exactly, not just metadata.
        Multimodal.audioFingerprint(
          Multimodal.documentsAsAudio(s.table("documents")), windowSamples = 64)
          .orderBy("media_id", "window_idx")
      },
      Some("""WITH d AS (
        |  SELECT doc_id, (400 + (doc_id % 5) * 80)::INT AS n,
        |    (20 + doc_id % 7)::INT AS p
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, i, ((i % p) * 40000) // p - 20000 AS v,
        |    i // 64 AS w, (i % 64) // 2 AS pr, i % 2 AS par
        |  FROM d, unnest(range(n)) AS t(i) WHERE i < (n // 64) * 64),
        |pairs AS (
        |  SELECT doc_id, w, pr, sum(CASE WHEN par = 0 THEN v ELSE -v END) AS diff,
        |    sum(v) AS tot
        |  FROM s GROUP BY doc_id, w, pr),
        |en AS (
        |  SELECT doc_id, w, sum(diff * diff)::BIGINT AS d_energy,
        |    sum(tot * tot)::BIGINT AS a_energy
        |  FROM pairs GROUP BY doc_id, w)
        |SELECT doc_id AS media_id, w::INT AS window_idx, d_energy, a_energy,
        |  (d_energy > lag(d_energy) OVER (PARTITION BY doc_id ORDER BY w))::INT AS bit
        |FROM en ORDER BY media_id, window_idx""".stripMargin)),

    QueryDef(
      "d32_oph_minhash_pairs",
      withTables { (s, _) =>
        // one-permutation MinHash (OPH + rotation densification): one hash
        // mod per shingle instead of 64 affine transforms — the cheap-
        // signature scale path for banded LSH dedup. The md5 parity base
        // makes bins, densified signature, band buckets and the exact-
        // Jaccard verify all SQL-statable, so the WHOLE pipeline is
        // hash-checked cross-engine (the d19 discipline on the OPH
        // variant).
        Dedup.ophLshPairsMd5(s.table("documents"), "doc_id", "text", threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |bins AS (
        |  SELECT doc_id, h % 64 AS bin, min(h) AS mn
        |  FROM (SELECT doc_id, unnest(hs) AS h FROM sh)
        |  GROUP BY doc_id, h % 64),
        |sig AS (
        |  SELECT b.doc_id, t.j,
        |    min(((b.bin - t.j + 64) % 64) * 268435456 + b.mn) AS sv
        |  FROM bins b, unnest(range(64)) AS t(j)
        |  GROUP BY b.doc_id, t.j),
        |banded AS (
        |  SELECT doc_id, j // 2 AS band,
        |    string_agg(sv::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 2),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.doc_id < y.doc_id),
        |v AS (
        |  SELECT c.id_a, c.id_b,
        |    round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |      (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) AS jaccard
        |  FROM cand c JOIN sh p ON p.doc_id = c.id_a JOIN sh q ON q.doc_id = c.id_b)
        |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "b02_partition_pruned_scan",
      withTables { (s, _) =>
        // hive-layout partitioned warehouse + pruned read: orders written
        // partitioned by month (80 directories), then a 3-month query —
        // the scan's PartitionFilters prune 77/80 directories at planning
        // time (pinned). The oracle states the same filter over the raw
        // table: the layout changes the PLAN, never the answer.
        // hash-cluster on the partition column before the write (guide §6
        // write distribution, r17): each task owns whole months and writes
        // one file per directory IN PARALLEL — the unclustered form wrote
        // all 80 directories from the scan's single task. Layout per
        // directory: 1 file either way; the answer never changes.
        val ord = s.table("orders")
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
          .repartition(col("o_month"))
        Bucketing.writePartitioned(s, ord, "graft_b02_orders", "o_month")
          .where(col("o_month").between("1995-03", "1995-05"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-03' AND '1995-05'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QueryDef(
      "b04_compaction",
      withTables { (s, _) =>
        // small-file compaction: events written partitioned by type with
        // DELIBERATE fragmentation (32 files per directory — the shape a
        // micro-batch ingest leaves), compacted to one file per partition
        // (spec pins the file counts), then aggregated. The oracle states
        // the same aggregate over the raw table: compaction changes the
        // LAYOUT, never the answer.
        val frag = s.table("events").repartition(32)
        Bucketing.writePartitioned(s, frag, "graft_b04_frag", "event_type")
        Bucketing.compactPartitioned(s, "graft_b04_frag", "graft_b04_compact", "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            expr("cast(sum(cast(value as decimal(18,2))) as double)").as("sum_value"),
            max("event_id").as("max_id"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
        |  cast(sum(cast(value as decimal(18,2))) as double) AS sum_value,
        |  max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef(
      "b07_zorder_layout",
      withTables { (s, _) =>
        // Z-order (Morton-curve) clustering — MULTI-column data skipping:
        // lineitem laid out on the interleaved bits of two bucket codes
        // (ZOrder.writeZOrdered: one range exchange + in-partition sort),
        // so a box predicate on EITHER key touches few files via parquet
        // min/max stats (file-disjointness pinned in PlanQualitySpec).
        // The row reads the written table BACK, recomputes the curve, and
        // the oracle states the same integer bit arithmetic over the raw
        // table (ZOrder.zValueSql — the exact fragment the operator's
        // codegen expression mirrors): layout changed, answer didn't, and
        // the curve math is bit-identical cross-engine.
        val codes = s.table("lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            (col("l_orderkey") % 256).cast("bigint").as("xk"),
            (col("l_partkey") % 256).cast("bigint").as("yk"))
        ZOrder.writeZOrdered(s, codes, "graft_b07_z", Seq("xk", "yk"),
          bits = 8, files = 16)
        s.table("graft_b07_z")
          .where(col("xk") < 16 && col("yk") < 16)
          .withColumn("zv", ZOrder.zValue(Seq(col("xk"), col("yk")), 8))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("xk"), col("yk"), col("zv"))
          .orderBy("zv", "l_orderkey", "l_linenumber", "l_quantity")
      },
      Some(s"""SELECT l_orderkey, l_linenumber, l_quantity,
        |  (l_orderkey % 256)::BIGINT AS xk,
        |  (l_partkey % 256)::BIGINT AS yk,
        |  ${graft.operators.ZOrder.zValueSql(
               Seq("(l_orderkey % 256)", "(l_partkey % 256)"), 8)}::BIGINT AS zv
        |FROM lineitem
        |WHERE l_orderkey % 256 < 16 AND l_partkey % 256 < 16
        |ORDER BY zv, l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    QueryDef(
      "q69_datetime_battery",
      withTables { (s, _) =>
        // date/time function conformance where the engines' spellings (and
        // DOW conventions) genuinely differ: trunc-to-month, ISO week,
        // extract family, Sunday-0 day-of-week (Spark dayofweek is 1-based
        // Sunday; DuckDB dow is 0-based Sunday — the row pins the mapping),
        // last day of month, add-months.
        s.table("orders")
          .where(col("o_orderkey") % 53 === 0)
          .select(col("o_orderkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
            weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
            year(col("o_orderdate")).cast("long").as("y"),
            quarter(col("o_orderdate")).cast("long").as("q"),
            dayofmonth(col("o_orderdate")).cast("long").as("dom"),
            (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow_sun0"),
            dayofyear(col("o_orderdate")).cast("long").as("doy"),
            last_day(col("o_orderdate")).as("month_end"),
            add_months(col("o_orderdate"), 2).as("plus2m"),
            datediff(lit(java.sql.Date.valueOf("1998-12-31")), col("o_orderdate"))
              .cast("long").as("days_to_end"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
        |  date_trunc('month', o_orderdate)::DATE AS month_start,
        |  week(o_orderdate)::BIGINT AS iso_week,
        |  year(o_orderdate)::BIGINT AS y,
        |  quarter(o_orderdate)::BIGINT AS q,
        |  day(o_orderdate)::BIGINT AS dom,
        |  dayofweek(o_orderdate)::BIGINT AS dow_sun0,
        |  dayofyear(o_orderdate)::BIGINT AS doy,
        |  last_day(o_orderdate) AS month_end,
        |  (o_orderdate + INTERVAL 2 MONTH)::DATE AS plus2m,
        |  date_diff('day', o_orderdate, DATE '1998-12-31')::BIGINT AS days_to_end
        |FROM orders WHERE o_orderkey % 53 = 0
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "b06_upsert",
      withTables { (s, _) =>
        // keyed upsert (DuckDB INSERT OR REPLACE semantics, explicit key):
        // an incremental batch of changed rows (doubled value, restamped
        // type) plus brand-new rows replaces/appends into a warehouse
        // table in one anti-join + overwrite (Bucketing.upsert); the
        // updates' key set broadcasts, the target never shuffles. Oracle
        // states the same NOT IN + UNION ALL algebra over the raw table.
        Bucketing.dropTableAndLocation(s, "graft_b06_base")
        s.table("events").where(col("event_id") % 7 === 0)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b06_base")
        val upd = s.table("events").where(col("event_id") % 21 === 0)
          .withColumn("value", col("value") * 2)
          .withColumn("event_type", lit("updated"))
        val fresh = s.table("events").where(col("event_id") % 35 === 0)
          .withColumn("event_id", col("event_id") + 10000000L)
        Bucketing.upsert(s, "graft_b06_base", upd.unionByName(fresh),
            Seq("event_id"), "graft_b06_upserted")
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("""WITH base AS (SELECT * FROM events WHERE event_id % 7 = 0),
        |upd AS (
        |  SELECT event_id, ts, user_id, 'updated' AS event_type, value * 2 AS value, props
        |  FROM events WHERE event_id % 21 = 0
        |  UNION ALL
        |  SELECT event_id + 10000000, ts, user_id, event_type, value, props
        |  FROM events WHERE event_id % 35 = 0)
        |SELECT event_id, user_id, event_type, value FROM (
        |  SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |ORDER BY event_id""".stripMargin)),

    QueryDef(
      "b08_dml_statements",
      withTables { (s, _) =>
        // DuckDB statement-level DML (DmlStatements): seed a managed table,
        // DELETE with a compound predicate, UPDATE two columns behind a
        // WHERE — each lowered to one scan + copy-on-write shadow swap, no
        // shuffle. The oracle is DuckDB EXECUTING THE SAME STATEMENTS on a
        // temp copy of the same parquet — statement-for-statement parity,
        // not an algebraic restatement. The Count result shape (probed
        // DuckDB 1.0) is asserted inline; the gate hashes the final table.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b08_dml")
        Bucketing.dropTableAndLocation(s, "graft_b08_dml__graft_cow")
        s.table("orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b08_dml")
        val del = psql.sql(
          "delete from graft_b08_dml where o_totalprice < 50000 or o_orderstatus = 'F'")
        require(del.columns.toSeq == Seq("Count") && del.count() == 1,
          "DELETE must return DuckDB's one-row Count shape")
        psql.sql("""update graft_b08_dml
          |set o_orderstatus = 'X' || o_orderstatus, o_totalprice = o_totalprice + 1
          |where o_custkey % 10 = 0""".stripMargin)
        s.table("graft_b08_dml").orderBy("o_orderkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b08_dml AS
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders;
        |DELETE FROM graft_b08_dml WHERE o_totalprice < 50000 OR o_orderstatus = 'F';
        |UPDATE graft_b08_dml SET o_orderstatus = 'X' || o_orderstatus,
        |  o_totalprice = o_totalprice + 1 WHERE o_custkey % 10 = 0;
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM graft_b08_dml ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "b09_alter_statements",
      withTables { (s, _) =>
        // DuckDB ALTER TABLE column forms + TRUNCATE (DmlStatements.alter):
        // ADD COLUMN DEFAULT / RENAME COLUMN / ALTER TYPE (the double→bigint
        // retype exercises GraftCast's half-even — probed identical to
        // DuckDB's ALTER cast) / ALTER TYPE USING / DROP COLUMN, then a
        // metadata-only ADD (NULL-fill, no rewrite). Oracle: DuckDB
        // executing the SAME statements on a temp copy.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b09_alter")
        Bucketing.dropTableAndLocation(s, "graft_b09_alter__graft_cow")
        s.table("part").select("p_partkey", "p_name", "p_retailprice", "p_size")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b09_alter")
        psql.sql("alter table graft_b09_alter add column tier varchar default 'base'")
        psql.sql("alter table graft_b09_alter rename column p_size to sz")
        psql.sql("alter table graft_b09_alter alter p_retailprice type bigint")
        psql.sql("alter table graft_b09_alter alter tier type varchar using tier || '-' || (sz % 10)")
        psql.sql("alter table graft_b09_alter drop column p_name")
        psql.sql("alter table graft_b09_alter add column note varchar")
        s.table("graft_b09_alter").orderBy("p_partkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b09_alter AS
        |  SELECT p_partkey, p_name, p_retailprice, p_size FROM part;
        |ALTER TABLE graft_b09_alter ADD COLUMN tier VARCHAR DEFAULT 'base';
        |ALTER TABLE graft_b09_alter RENAME COLUMN p_size TO sz;
        |ALTER TABLE graft_b09_alter ALTER p_retailprice TYPE bigint;
        |ALTER TABLE graft_b09_alter ALTER tier TYPE varchar USING tier || '-' || (sz % 10);
        |ALTER TABLE graft_b09_alter DROP COLUMN p_name;
        |ALTER TABLE graft_b09_alter ADD COLUMN note VARCHAR;
        |SELECT p_partkey, p_retailprice, sz, tier, note
        |FROM graft_b09_alter ORDER BY p_partkey""".stripMargin)),

    QueryDef(
      "b10_insert_statements",
      withTables { (s, _) =>
        // INSERT INTO statement forms over a managed table — VALUES rows
        // (incl. expression values) and INSERT … SELECT — through the
        // Psql entry's pass-through to Spark's native DML (delegation is
        // the design: Spark executes INSERT on managed parquet natively;
        // the front-end only owns what Spark refuses — b08's DELETE/
        // UPDATE). Oracle: DuckDB executing the same statements.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b10_ins")
        s.table("region").select("r_regionkey", "r_name")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b10_ins")
        psql.sql("insert into graft_b10_ins values (100, 'NEWLAND'), (101, upper('borders'))")
        psql.sql("""insert into graft_b10_ins
          |select n_nationkey + 200, n_name from nation where n_nationkey < 5""".stripMargin)
        s.table("graft_b10_ins").orderBy("r_regionkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b10_ins AS
        |  SELECT r_regionkey, r_name FROM region;
        |INSERT INTO graft_b10_ins VALUES (100, 'NEWLAND'), (101, upper('borders'));
        |INSERT INTO graft_b10_ins
        |  SELECT n_nationkey + 200, n_name FROM nation WHERE n_nationkey < 5;
        |SELECT r_regionkey, r_name FROM graft_b10_ins ORDER BY r_regionkey""".stripMargin)),

    QueryDef(
      "b11_create_or_replace",
      withTables { (s, _) =>
        // CREATE OR REPLACE TABLE … AS (DmlStatements.createOrReplace):
        // Spark v1 rejects REPLACE TABLE AS SELECT; the lowering
        // materializes shadow-first, so the SELF-REFERENCING replacement
        // here reads the OLD content — DuckDB's probed semantics — and a
        // failing query can never destroy the original. Block-form
        // pipeline body exercises the CTAS rewrite path.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b11_cor")
        Bucketing.dropTableAndLocation(s, "graft_b11_cor__graft_cow")
        psql.sql("""create table graft_b11_cor as
          |(| from nation |> select n_nationkey, n_name |)""".stripMargin)
        psql.sql("""create or replace table graft_b11_cor as
          |(| from graft_b11_cor |> where n_nationkey < 10 |)""".stripMargin)
        s.table("graft_b11_cor").orderBy("n_nationkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b11_cor AS
        |  SELECT n_nationkey, n_name FROM nation;
        |CREATE OR REPLACE TEMP TABLE graft_b11_cor AS
        |  SELECT * FROM graft_b11_cor WHERE n_nationkey < 10;
        |SELECT n_nationkey, n_name FROM graft_b11_cor ORDER BY n_nationkey""".stripMargin)),

    QueryDef(
      "b12_merge_statement",
      withTables { (s, _) =>
        // DuckDB v1.4 MERGE INTO (MergeStatement): conditional DELETE,
        // fall-through UPDATE (the NULL flag exercises three-valued clause
        // skipping), conditional INSERT — one statement, copy-on-write.
        // The local oracle (DuckDB 1.0) predates MERGE, so it executes the
        // DOCUMENTED-EQUIVALENT sequence: DELETE USING (matched + cond),
        // UPDATE FROM (remaining matched = fell-through), INSERT of
        // source rows unmatched against the ORIGINAL key set — the
        // first-clause-wins algebra spelled out statement by statement.
        // All arithmetic integer-derived (count(*), max(linenumber)), the
        // one double add is a single IEEE op — exact cross-engine.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b12_tgt")
        Bucketing.dropTableAndLocation(s, "graft_b12_tgt__graft_cow")
        s.table("orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .where(col("o_orderkey") % 4 === 0)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b12_tgt")
        psql.sql("""from lineitem |> where l_orderkey % 2 = 0 |>
          |select l_orderkey as okey, count() as qty,
          |  case when max(l_linenumber) >= 4 then max(l_linenumber) else null end as flag
          |  group by l_orderkey""".stripMargin)
          .createOrReplaceTempView("graft_b12_src")
        val r = psql.sql("""merge into graft_b12_tgt t using graft_b12_src s
          |  on t.o_orderkey = s.okey
          |when matched and s.flag > 4 then delete
          |when matched then update set o_totalprice = t.o_totalprice + s.qty,
          |  o_orderstatus = 'M' || t.o_orderstatus
          |when not matched and s.qty <= 2 then
          |  insert (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
          |  values (s.okey, -1, 'N', s.qty * 100)""".stripMargin)
        require(r.columns.toSeq == Seq("Count") && r.count() == 1,
          "MERGE must return DuckDB's one-row Count shape")
        s.table("graft_b12_tgt").orderBy("o_orderkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b12_tgt AS
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 0;
        |CREATE OR REPLACE TEMP TABLE graft_b12_src AS
        |  SELECT l_orderkey AS okey, count(*) AS qty,
        |    CASE WHEN max(l_linenumber) >= 4 THEN max(l_linenumber) ELSE NULL END AS flag
        |  FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY l_orderkey;
        |CREATE OR REPLACE TEMP TABLE graft_b12_keys AS
        |  SELECT o_orderkey FROM graft_b12_tgt;
        |DELETE FROM graft_b12_tgt USING graft_b12_src s
        |  WHERE graft_b12_tgt.o_orderkey = s.okey AND s.flag > 4;
        |UPDATE graft_b12_tgt SET o_totalprice = o_totalprice + s.qty,
        |  o_orderstatus = 'M' || o_orderstatus
        |  FROM graft_b12_src s WHERE graft_b12_tgt.o_orderkey = s.okey;
        |INSERT INTO graft_b12_tgt
        |  SELECT s.okey, -1, 'N', s.qty * 100 FROM graft_b12_src s
        |  WHERE s.qty <= 2 AND s.okey NOT IN (SELECT o_orderkey FROM graft_b12_keys);
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM graft_b12_tgt ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "b13_partitioned_dml",
      withTables { (s, _) =>
        // Partition-pruned DML (DmlStatements pruned path): the target is
        // PARTITIONED by event_type, the DELETE's predicate isolates two
        // partitions and the UPDATE's one — each statement finds the
        // affected partitions with one aggregate, then dynamic-partition-
        // overwrites ONLY those directories; the other partitions' files
        // stay byte-identical (asserted in DmlStatementsSpec via file
        // listings). At 100 TB: rewrite one day, not the warehouse.
        // Oracle: DuckDB executing the SAME statements (partitioning is
        // physical layout only — the logical result is identical).
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b13_part")
        Bucketing.dropTableAndLocation(s, "graft_b13_part__graft_cow")
        s.table("events")
          .select("event_id", "user_id", "value", "event_type")
          .where(col("event_id") % 3 === 0)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").partitionBy("event_type")
          .saveAsTable("graft_b13_part")
        psql.sql("""delete from graft_b13_part
          |where event_type in ('click', 'view') and value < 0.7""".stripMargin)
        psql.sql("""update graft_b13_part
          |set user_id = user_id + 1000000, value = -value
          |where event_type = 'purchase' and user_id % 5 = 0""".stripMargin)
        s.table("graft_b13_part")
          .select("event_id", "user_id", "value", "event_type")
          .orderBy("event_id")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b13_part AS
        |  SELECT event_id, user_id, value, event_type FROM events
        |  WHERE event_id % 3 = 0;
        |DELETE FROM graft_b13_part
        |  WHERE event_type IN ('click', 'view') AND value < 0.7;
        |UPDATE graft_b13_part SET user_id = user_id + 1000000, value = -value
        |  WHERE event_type = 'purchase' AND user_id % 5 = 0;
        |SELECT event_id, user_id, value, event_type
        |FROM graft_b13_part ORDER BY event_id""".stripMargin)),

    QueryDef(
      "b14_attach_catalog",
      withTables { (s, dir) =>
        // ATTACH/DETACH (AttachStatement): the sf directory attaches as a
        // second catalog namespace; qualified scans resolve through
        // Spark's analyzer (full pushdown/pruning), and the query joins
        // ACROSS catalogs — an attached table against a session view. The
        // attachment registers EXTERNAL tables only, so DETACH never
        // touches data. Oracle: the same join over the same parquet (the
        // namespace is physical catalog layout, not logical content).
        val psql = graft.psql.Psql(s)
        psql.sql("detach if exists graft_att") // idempotent re-runs
        psql.sql(s"attach '$dir' as graft_att (READ_ONLY)")
        psql.sql("""from graft_att.nation |>
          |as n join region r on n.n_regionkey = r.r_regionkey |>
          |join graft_att.supplier sup on n_nationkey = sup.s_nationkey |>
          |select r_name, n_name, count() as n_suppliers,
          |  min(s_name) as first_supplier group by r_name, n_name |>
          |order by r_name, n_name""".stripMargin)
      },
      Some("""SELECT r_name, n_name, count(*) AS n_suppliers,
        |  min(s_name) AS first_supplier
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |JOIN supplier sup ON n.n_nationkey = sup.s_nationkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    QueryDef(
      "b15_dml_returning",
      withTables { (s, _) =>
        // DML RETURNING (DmlStatements): DELETE returns the deleted rows,
        // UPDATE the post-update values, INSERT the inserted rows — each
        // materialized BEFORE the copy-on-write mutation so the returned
        // snapshot is exact. Oracle: DuckDB executing the SAME statements;
        // its last relation IS the final UPDATE's RETURNING set, compared
        // directly (statement-for-statement parity, b08 style).
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b15_ret")
        Bucketing.dropTableAndLocation(s, "graft_b15_ret__graft_cow")
        s.table("part").select("p_partkey", "p_name", "p_size")
          .where(col("p_partkey") % 5 === 0)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b15_ret")
        val del = psql.sql("""delete from graft_b15_ret where p_size > 40
          |returning p_partkey, p_size * 2 as dbl""".stripMargin)
        require(del.columns.toSeq == Seq("p_partkey", "dbl"),
          s"DELETE RETURNING shape: ${del.columns.mkString(",")}")
        val ins = psql.sql("""insert into graft_b15_ret (p_partkey, p_size)
          |values (9000001, 7), (9000002, 8) returning p_partkey, p_name""".stripMargin)
        require(ins.count() == 2, "INSERT RETURNING must return the inserted rows")
        psql.sql("""update graft_b15_ret set p_size = p_size + 100
          |where p_partkey % 10 = 0
          |returning p_partkey, p_size, p_name""".stripMargin)
          .orderBy("p_partkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b15_ret AS
        |  SELECT p_partkey, p_name, p_size FROM part WHERE p_partkey % 5 = 0;
        |DELETE FROM graft_b15_ret WHERE p_size > 40
        |  RETURNING p_partkey, p_size * 2 AS dbl;
        |INSERT INTO graft_b15_ret (p_partkey, p_size)
        |  VALUES (9000001, 7), (9000002, 8) RETURNING p_partkey, p_name;
        |UPDATE graft_b15_ret SET p_size = p_size + 100 WHERE p_partkey % 10 = 0
        |  RETURNING p_partkey, p_size, p_name""".stripMargin)),

    QueryDef(
      "b16_export_database",
      withTables { (s, _) =>
        // EXPORT/IMPORT DATABASE (ExportStatement): a scratch database's
        // managed tables export as <dir>/<t>.parquet + schema/load
        // scripts, then IMPORT re-registers them in a fresh database and
        // the query joins the imported copies. Oracle: DuckDB EXPORTing
        // its own database and reading the exported files back — both
        // engines round-trip their own export, same logical content.
        val psql = graft.psql.Psql(s)
        s.sql("DROP DATABASE IF EXISTS graft_b16db CASCADE")
        s.sql("DROP DATABASE IF EXISTS graft_b16imp CASCADE")
        // physical cleanup too: a crashed prior run can leave orphan
        // managed-table locations under <db>.db that block re-creation
        locally {
          val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
          val fs = wh.getFileSystem(s.sessionState.newHadoopConf())
          Seq("graft_b16db.db", "graft_b16imp.db").foreach { d =>
            fs.delete(new org.apache.hadoop.fs.Path(wh, d), true)
          }
        }
        s.sql("CREATE DATABASE graft_b16db")
        s.sql("CREATE DATABASE graft_b16imp")
        val prev = s.catalog.currentDatabase
        try {
          s.catalog.setCurrentDatabase("graft_b16db")
          psql.sql("""create table bexp_n as
            |(| from nation |> where n_nationkey < 15 |> select n_nationkey, n_name |)""".stripMargin)
          psql.sql("""create table bexp_r as
            |(| from region |> select r_regionkey, r_name |)""".stripMargin)
          psql.sql("export database '/tmp/graft_b16_export'")
          s.catalog.setCurrentDatabase("graft_b16imp")
          psql.sql("import database '/tmp/graft_b16_export'")
          psql.sql("""from bexp_n |>
            |as n join bexp_r r on n.n_nationkey % 5 = r.r_regionkey |>
            |select r_name, count() as cnt, min(n_name) as first_nation
            |  group by r_name |> order by r_name""".stripMargin)
        } finally s.catalog.setCurrentDatabase(prev)
      },
      Some("""CREATE OR REPLACE TABLE bexp_n AS
        |  SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 15;
        |CREATE OR REPLACE TABLE bexp_r AS SELECT r_regionkey, r_name FROM region;
        |EXPORT DATABASE '/tmp/duck_b16_export' (FORMAT PARQUET);
        |SELECT r_name, count(*) AS cnt, min(n_name) AS first_nation
        |FROM '/tmp/duck_b16_export/bexp_n.parquet' n
        |JOIN '/tmp/duck_b16_export/bexp_r.parquet' r
        |  ON n.n_nationkey % 5 = r.r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    QueryDef(
      "b17_join_dml",
      withTables { (s, _) =>
        // Join DML (r14): DELETE USING (correlated-EXISTS lowering — a
        // target row deletes once however many source rows match) and
        // UPDATE FROM (MERGE-pipeline lowering — SET reads the joined
        // row; source deduped per key so both engines are deterministic).
        // Oracle: DuckDB executing the SAME statements natively.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b17_t")
        Bucketing.dropTableAndLocation(s, "graft_b17_t__graft_cow")
        s.table("customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b17_t")
        // multi-row-per-key source for the delete (EXISTS dedups);
        // unique-key aggregate for the update
        psql.sql("""create or replace table graft_b17_src as
          |(| from orders |> where o_orderkey % 3 = 0 |>
          |   select o_custkey, o_orderkey, o_totalprice |)""".stripMargin)
        psql.sql("""delete from graft_b17_t using graft_b17_src s
          |where graft_b17_t.c_custkey = s.o_custkey
          |  and s.o_totalprice > 300000""".stripMargin)
        psql.sql("""create or replace table graft_b17_agg as
          |(| from graft_b17_src |> select o_custkey, count() as n_ord
          |   group by o_custkey |)""".stripMargin)
        psql.sql("""update graft_b17_t set c_acctbal = c_acctbal + a.n_ord,
          |  c_name = c_name || '#'
          |from graft_b17_agg a where graft_b17_t.c_custkey = a.o_custkey
          |  and a.n_ord >= 3""".stripMargin)
        s.table("graft_b17_t").orderBy("c_custkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b17_t AS
        |  SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer;
        |CREATE OR REPLACE TEMP TABLE graft_b17_src AS
        |  SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0;
        |DELETE FROM graft_b17_t USING graft_b17_src s
        |  WHERE graft_b17_t.c_custkey = s.o_custkey
        |  AND s.o_totalprice > 300000;
        |CREATE OR REPLACE TEMP TABLE graft_b17_agg AS
        |  SELECT o_custkey, count(*) AS n_ord FROM graft_b17_src
        |  GROUP BY o_custkey;
        |UPDATE graft_b17_t SET c_acctbal = c_acctbal + a.n_ord,
        |  c_name = c_name || '#'
        |  FROM graft_b17_agg a WHERE graft_b17_t.c_custkey = a.o_custkey
        |  AND a.n_ord >= 3;
        |SELECT c_custkey, c_name, c_acctbal, c_nationkey
        |FROM graft_b17_t ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "b18_on_conflict",
      withTables { (s, _) =>
        // INSERT … ON CONFLICT (DmlStatements.insertOnConflict → MERGE
        // pipeline): a DO UPDATE batch folds re-inserted orders into the
        // target — bare names read the TARGET row, excluded.* the proposed
        // row, the WHERE gates on the pre-update value (all probed DuckDB
        // scoping) — then a DO NOTHING batch with a partial column list
        // appends only genuinely-new keys (insert-only merge: anti-join +
        // APPEND, the target's files never rewritten). Oracle: DuckDB
        // executing the SAME statements against a PRIMARY KEY temp table
        // (its ON CONFLICT needs a unique index; the Spark side takes the
        // explicit conflict target instead — documented seam). The one
        // double add / halving are single IEEE ops — exact cross-engine.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b18_t")
        Bucketing.dropTableAndLocation(s, "graft_b18_t__graft_cow")
        s.table("orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .where(col("o_orderkey") % 5 === 0)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").saveAsTable("graft_b18_t")
        val r = psql.sql("""insert into graft_b18_t
          |select o_orderkey, o_custkey, o_orderstatus, o_totalprice from orders
          |where o_orderkey % 3 = 0
          |on conflict (o_orderkey) do update set
          |  o_totalprice = o_totalprice + excluded.o_totalprice,
          |  o_orderstatus = 'U' || o_orderstatus
          |where o_totalprice < 200000""".stripMargin)
        require(r.columns.toSeq == Seq("Count") && r.count() == 1,
          "ON CONFLICT must return DuckDB's one-row Count shape")
        psql.sql("""insert into graft_b18_t (o_orderkey, o_custkey, o_totalprice)
          |select o_orderkey + 9000000, o_custkey, o_totalprice / 2 from orders
          |where o_orderkey % 7 = 0
          |on conflict (o_orderkey) do nothing""".stripMargin)
        s.table("graft_b18_t").orderBy("o_orderkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b18_t (
        |  o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT,
        |  o_orderstatus VARCHAR, o_totalprice DOUBLE);
        |INSERT INTO graft_b18_t
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0;
        |INSERT INTO graft_b18_t
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0
        |  ON CONFLICT (o_orderkey) DO UPDATE SET
        |    o_totalprice = o_totalprice + excluded.o_totalprice,
        |    o_orderstatus = 'U' || o_orderstatus
        |  WHERE o_totalprice < 200000;
        |INSERT INTO graft_b18_t (o_orderkey, o_custkey, o_totalprice)
        |  SELECT o_orderkey + 9000000, o_custkey, o_totalprice / 2 FROM orders
        |  WHERE o_orderkey % 7 = 0
        |  ON CONFLICT (o_orderkey) DO NOTHING;
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM graft_b18_t ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "b19_sequences",
      withTables { (s, _) =>
        // DuckDB sequences (SequenceStatements): CREATE SEQUENCE with
        // start/step, per-OCCURRENCE nextval in VALUES rows (the
        // surrogate-key insert pattern), currval arithmetic, a FROM-less
        // INSERT..SELECT — all inlined to dispensed literals at bind time.
        // Per-row nextval over a scanned relation throws instead (session
        // counter state does not distribute; asserted inline). Oracle:
        // DuckDB executing the SAME statements with its native sequences.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b19_t")
        psql.sql("create or replace sequence graft_b19_seq start 1000 increment 3")
        psql.sql("""create or replace table graft_b19_t as
          |select cast(0 as bigint) as id, 'x' as name where 1 = 0""".stripMargin)
        psql.sql("""insert into graft_b19_t values (nextval('graft_b19_seq'), 'a'),
          |(nextval('graft_b19_seq'), 'b'), (nextval('graft_b19_seq'), 'c')""".stripMargin)
        psql.sql("""insert into graft_b19_t values (currval('graft_b19_seq') + 100, 'd'),
          |(nextval('graft_b19_seq'), 'e')""".stripMargin)
        psql.sql("insert into graft_b19_t select nextval('graft_b19_seq'), 'f'")
        val threw =
          try { psql.sql("select nextval('graft_b19_seq') from region"); false }
          catch { case e: IllegalArgumentException => e.getMessage.contains("row_number") }
        require(threw, "per-row nextval must throw with the scalable recipe")
        psql.sql("from graft_b19_t |> order by id")
      },
      Some("""CREATE OR REPLACE SEQUENCE graft_b19_seq START 1000 INCREMENT 3;
        |CREATE OR REPLACE TEMP TABLE graft_b19_t AS
        |  SELECT cast(0 AS BIGINT) AS id, 'x' AS name WHERE 1 = 0;
        |INSERT INTO graft_b19_t VALUES (nextval('graft_b19_seq'), 'a'),
        |  (nextval('graft_b19_seq'), 'b'), (nextval('graft_b19_seq'), 'c');
        |INSERT INTO graft_b19_t VALUES (currval('graft_b19_seq') + 100, 'd'),
        |  (nextval('graft_b19_seq'), 'e');
        |INSERT INTO graft_b19_t SELECT nextval('graft_b19_seq'), 'f';
        |SELECT id, name FROM graft_b19_t ORDER BY id""".stripMargin)),

    QueryDef(
      "b20_create_constraints",
      withTables { (s, _) =>
        // CREATE TABLE constraint clauses (TableConstraints): PRIMARY KEY /
        // NOT NULL / DEFAULT / CHECK parse-and-record over a Spark parquet
        // table, DEFAULT fill on a column-list insert, then the PK-inferring
        // upsert family — INSERT OR REPLACE (every non-key column from
        // excluded), INSERT OR IGNORE (DO NOTHING), and bare ON CONFLICT —
        // all reading the recorded key. NOT NULL/CHECK guards are map-side
        // raise_error filters fused into each write; PK uniqueness on the
        // plain INSERTs is one batch aggregate + a key-pruned broadcast-semi
        // probe. Oracle: DuckDB executes the SAME statements with native
        // constraints. The one double add is a single IEEE op — exact.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b20_t")
        Bucketing.dropTableAndLocation(s, "graft_b20_t__graft_cow")
        psql.sql("""create or replace table graft_b20_t (
          |  o_orderkey bigint primary key,
          |  o_custkey bigint not null,
          |  o_orderstatus varchar default 'N',
          |  o_totalprice double,
          |  check (o_totalprice >= 0))""".stripMargin)
        psql.sql("""insert into graft_b20_t select o_orderkey, o_custkey,
          |o_orderstatus, o_totalprice from orders where o_orderkey % 5 = 0""".stripMargin)
        // DEFAULT fill: the column list omits o_orderstatus → 'N'
        psql.sql("""insert into graft_b20_t (o_orderkey, o_custkey, o_totalprice)
          |select o_orderkey + 9000000, o_custkey, o_totalprice from orders
          |where o_orderkey % 11 = 0""".stripMargin)
        psql.sql("""insert or replace into graft_b20_t
          |select o_orderkey, o_custkey, 'R', o_totalprice + 1 from orders
          |where o_orderkey % 10 = 0""".stripMargin)
        psql.sql("""insert or ignore into graft_b20_t
          |select o_orderkey, o_custkey, 'I', o_totalprice from orders
          |where o_orderkey % 3 = 0""".stripMargin)
        psql.sql("""insert into graft_b20_t select o_orderkey, o_custkey, 'C',
          |o_totalprice from orders where o_orderkey % 7 = 2
          |on conflict do update set
          |  o_totalprice = o_totalprice + excluded.o_totalprice""".stripMargin)
        // enforcement probes (DuckDB errors the same way; asserted inline
        // because a thrown statement produces no comparable rows)
        val nnThrew =
          try { psql.sql("insert into graft_b20_t values (1, null, 'x', 1.0)"); false }
          catch { case e: Exception =>
            e.getMessage.contains("NOT NULL constraint failed: graft_b20_t.o_custkey") }
        require(nnThrew, "NOT NULL violation must fail with DuckDB's message")
        val ckThrew =
          try { psql.sql("insert into graft_b20_t values (98765431, 1, 'x', -5.0)").collect(); false }
          catch { case e: Exception => e.getMessage.contains("CHECK constraint failed") }
        require(ckThrew, "CHECK violation must fail with DuckDB's message")
        s.table("graft_b20_t").orderBy("o_orderkey")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_b20_t (
        |  o_orderkey BIGINT PRIMARY KEY,
        |  o_custkey BIGINT NOT NULL,
        |  o_orderstatus VARCHAR DEFAULT 'N',
        |  o_totalprice DOUBLE,
        |  CHECK (o_totalprice >= 0));
        |INSERT INTO graft_b20_t SELECT o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 5 = 0;
        |INSERT INTO graft_b20_t (o_orderkey, o_custkey, o_totalprice)
        |  SELECT o_orderkey + 9000000, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 11 = 0;
        |INSERT OR REPLACE INTO graft_b20_t
        |  SELECT o_orderkey, o_custkey, 'R', o_totalprice + 1 FROM orders
        |  WHERE o_orderkey % 10 = 0;
        |INSERT OR IGNORE INTO graft_b20_t
        |  SELECT o_orderkey, o_custkey, 'I', o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0;
        |INSERT INTO graft_b20_t SELECT o_orderkey, o_custkey, 'C',
        |  o_totalprice FROM orders WHERE o_orderkey % 7 = 2
        |  ON CONFLICT DO UPDATE SET
        |    o_totalprice = o_totalprice + excluded.o_totalprice;
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM graft_b20_t ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "b21_enum_type",
      withTables { (s, _) =>
        // CREATE TYPE … AS ENUM (TableConstraints): the statement every
        // DuckDB schema dump opens with. Enum columns lower to STRING + a
        // membership CHECK (enforced map-side on every front-end write)
        // + the dependency marker DROP TYPE honors. Out-of-domain inserts
        // error in both engines (probed; message class differs —
        // conversion vs CHECK — documented). ORDER BY the enum column
        // sorts by DECLARATION order exactly like DuckDB (the front-end
        // rewrites the bare reference to an array_position key; the
        // members are deliberately NON-alphabetical and the LIMIT crosses
        // the P→F boundary, so a lexical sort would change the CONTENT).
        // The final select casts to VARCHAR so both engines emit
        // identical string columns.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_b21_t")
        Bucketing.dropTableAndLocation(s, "graft_b21_t__graft_cow")
        psql.sql("drop type if exists graft_b21_status")
        psql.sql("create type graft_b21_status as enum ('P', 'F', 'O')")
        psql.sql("""create or replace table graft_b21_t (
          |o_orderkey bigint primary key, st graft_b21_status, total double)""".stripMargin)
        psql.sql("""insert into graft_b21_t select o_orderkey, o_orderstatus,
          |o_totalprice from orders where o_orderkey % 6 = 0""".stripMargin)
        psql.sql("""insert or replace into graft_b21_t select o_orderkey, 'P',
          |o_totalprice + 1 from orders where o_orderkey % 12 = 0""".stripMargin)
        val bad =
          try { psql.sql("insert into graft_b21_t values (999999991, 'Z', 1.0)").collect(); false }
          catch { case e: Exception => e.getMessage.contains("CHECK constraint failed") }
        require(bad, "out-of-domain enum value must fail the membership check")
        // two content-visible sorts (LIMIT under each): the FIRST order by
        // st sees the enum column — DECLARATION order (P, F, O) — while
        // the SECOND sees the same-named OUTPUT ALIAS of the varchar cast,
        // which shadows the enum in both engines (probed DuckDB 1.0) —
        // LEXICAL order (F, O, P). The 900-row cut lands inside different
        // member groups under each ordering, so either rewrite misfiring
        // (missing declaration order, or wrongly declaration-ordering the
        // alias) changes the CONTENT.
        psql.sql("""from graft_b21_t
          ||> order by st, o_orderkey
          ||> limit 1800
          ||> select o_orderkey, cast(st as varchar) as st, total
          ||> order by st, o_orderkey
          ||> limit 900
          ||> order by o_orderkey""".stripMargin)
      },
      Some("""DROP TABLE IF EXISTS graft_b21_t;
        |DROP TYPE IF EXISTS graft_b21_status;
        |CREATE TYPE graft_b21_status AS ENUM ('P', 'F', 'O');
        |CREATE OR REPLACE TEMP TABLE graft_b21_t (
        |  o_orderkey BIGINT PRIMARY KEY, st graft_b21_status, total DOUBLE);
        |INSERT INTO graft_b21_t SELECT o_orderkey, o_orderstatus,
        |  o_totalprice FROM orders WHERE o_orderkey % 6 = 0;
        |INSERT OR REPLACE INTO graft_b21_t SELECT o_orderkey, 'P',
        |  o_totalprice + 1 FROM orders WHERE o_orderkey % 12 = 0;
        |SELECT o_orderkey, st, total FROM (
        |  SELECT o_orderkey, cast(st AS VARCHAR) AS st, total
        |  FROM (SELECT * FROM graft_b21_t ORDER BY st, o_orderkey LIMIT 1800)
        |  ORDER BY st, o_orderkey LIMIT 900)
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "b22_schema_qualified_dml",
      withTables { (s, _) =>
        // Schema-qualified DML targets (DmlStatements.resolveTarget): every
        // schema-organized DuckDB dump spells `CREATE SCHEMA s; INSERT INTO
        // s.t …` and the default-namespace prefix `main.t`. The front-end
        // resolves `main.` to Spark's default database and routes REAL
        // database qualifiers (`gsch.t`) through the same constraint-aware
        // lowerings — enforcement, upserts, copy-on-write UPDATE/DELETE and
        // the catalog-property round-trip all run on the qualified target.
        // Oracle: DuckDB executes the SAME script (its main schema is the
        // default namespace natively).
        val psql = graft.psql.Psql(s)
        psql.sql("create schema if not exists gsch")
        Bucketing.dropTableAndLocation(s, "gsch.t__graft_cow")
        Bucketing.dropTableAndLocation(s, "graft_b22_t2__graft_cow")
        psql.sql("""create or replace table gsch.t (
          |  o_orderkey bigint primary key,
          |  o_custkey bigint not null,
          |  status varchar default 'N',
          |  total double,
          |  check (total >= 0))""".stripMargin)
        psql.sql("""insert into gsch.t select o_orderkey, o_custkey,
          |o_orderstatus, o_totalprice from orders where o_orderkey % 6 = 0""".stripMargin)
        psql.sql("""insert into gsch.t (o_orderkey, o_custkey, total)
          |select o_orderkey + 9000000, o_custkey, o_totalprice from orders
          |where o_orderkey % 13 = 0""".stripMargin)
        psql.sql("create or replace table main.graft_b22_t2 (o_orderkey bigint primary key, tag varchar)")
        psql.sql("insert into main.graft_b22_t2 select o_orderkey, 'k' from orders where o_orderkey % 9 = 0")
        psql.sql("update gsch.t set total = total + 1 where o_orderkey % 12 = 0")
        psql.sql("delete from main.graft_b22_t2 where o_orderkey % 18 = 0")
        psql.sql("""insert into gsch.t select o_orderkey, o_custkey, 'C',
          |o_totalprice from orders where o_orderkey % 8 = 4
          |on conflict (o_orderkey) do update set status = excluded.status""".stripMargin)
        // qualified targets enforce exactly like bare ones (advisor case:
        // `INSERT INTO main.t` must not bypass the NOT NULL guard)
        val nnThrew =
          try { psql.sql("insert into gsch.t values (1, null, 'x', 1.0)"); false }
          catch { case e: Exception => e.getMessage.contains("NOT NULL constraint failed") }
        require(nnThrew, "qualified-target NOT NULL violation must fail")
        psql.sql("""from gsch.t
          ||> as g left join graft_b22_t2 on graft_b22_t2.o_orderkey = g.o_orderkey
          |   select g.o_orderkey, g.o_custkey, g.status, g.total, graft_b22_t2.tag
          ||> order by o_orderkey""".stripMargin)
      },
      Some("""CREATE SCHEMA IF NOT EXISTS gsch;
        |CREATE OR REPLACE TABLE gsch.t (
        |  o_orderkey BIGINT PRIMARY KEY,
        |  o_custkey BIGINT NOT NULL,
        |  status VARCHAR DEFAULT 'N',
        |  total DOUBLE,
        |  CHECK (total >= 0));
        |INSERT INTO gsch.t SELECT o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 6 = 0;
        |INSERT INTO gsch.t (o_orderkey, o_custkey, total)
        |  SELECT o_orderkey + 9000000, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 13 = 0;
        |CREATE OR REPLACE TABLE main.graft_b22_t2 (o_orderkey BIGINT PRIMARY KEY, tag VARCHAR);
        |INSERT INTO main.graft_b22_t2 SELECT o_orderkey, 'k' FROM orders WHERE o_orderkey % 9 = 0;
        |UPDATE gsch.t SET total = total + 1 WHERE o_orderkey % 12 = 0;
        |DELETE FROM main.graft_b22_t2 WHERE o_orderkey % 18 = 0;
        |INSERT INTO gsch.t SELECT o_orderkey, o_custkey, 'C', o_totalprice
        |  FROM orders WHERE o_orderkey % 8 = 4
        |  ON CONFLICT (o_orderkey) DO UPDATE SET status = excluded.status;
        |SELECT g.o_orderkey, g.o_custkey, g.status, g.total, graft_b22_t2.tag
        |FROM gsch.t g LEFT JOIN graft_b22_t2 ON graft_b22_t2.o_orderkey = g.o_orderkey
        |ORDER BY g.o_orderkey""".stripMargin)),

    QueryDef(
      "b23_foreign_key_enforce",
      withTables { (s, _) =>
        // opt-in FOREIGN KEY enforcement, full referential surface
        // (TableConstraints.WriteGuards: checkInserts / checkStillReferenced):
        // `SET graft_enforce_foreign_keys = true` makes (a) every INSERT
        // and FK-assigning UPDATE anti-join its rows' non-NULL FK tuples
        // against the referenced table's key (key-pruned scan,
        // AQE-broadcast dim) and (b) every parent-side DELETE / key UPDATE
        // probe the children for surviving references. DuckDB enforces
        // FKs natively, so the oracle is the SAME script minus the SET;
        // the four REJECTED statements are asserted inline (a thrown
        // statement produces no comparable rows; the oracle runner cannot
        // tolerate a failing script statement) with DuckDB 1.0's exact
        // wording, probed: orphan inserts/updates name the REFERENCED
        // column ("does not exist in the referenced table"), parent-side
        // violations name the CHILD column ("is still referenced by a
        // foreign key in a different table"). The child carries no
        // PRIMARY KEY: DuckDB 1.0's documented ART limitation rejects any
        // UPDATE of a PK+FK table with a spurious duplicate-key error.
        val psql = graft.psql.Psql(s)
        Seq("graft_b23_par", "graft_b23_chi").foreach { t =>
          Bucketing.dropTableAndLocation(s, t)
          Bucketing.dropTableAndLocation(s, t + "__graft_cow")
        }
        psql.sql("create or replace table graft_b23_par (k bigint primary key, seg varchar)")
        psql.sql("insert into graft_b23_par select c_custkey, c_mktsegment from customer")
        psql.sql("set graft_enforce_foreign_keys = true")
        try {
          psql.sql("""create or replace table graft_b23_chi (
            |  id bigint,
            |  k bigint references graft_b23_par (k),
            |  total double)""".stripMargin)
          psql.sql("""insert into graft_b23_chi select o_orderkey, o_custkey,
            |o_totalprice from orders where o_orderkey % 7 = 0""".stripMargin)
          // NULL FK values pass (SQL MATCH SIMPLE — probed DuckDB)
          psql.sql("insert into graft_b23_chi values (999999988, null, 1.0)")
          val fkThrew =
            try { psql.sql("insert into graft_b23_chi values (999999989, -5, 1.0)"); false }
            catch { case e: Exception =>
              e.getMessage.contains("Violates foreign key constraint") &&
                e.getMessage.contains("does not exist in the referenced table") }
          require(fkThrew, "an orphan FK insert must fail the statement")
          // child UPDATE to an existing parent passes (both engines)
          psql.sql("update graft_b23_chi set k = 1 where id % 35 = 0")
          // child UPDATE to an orphan fails, nothing written
          val updThrew =
            try { psql.sql("update graft_b23_chi set k = -7 where id % 7 = 0"); false }
            catch { case e: Exception =>
              e.getMessage.contains("does not exist in the referenced table") }
          require(updThrew, "an orphan FK update must fail the statement")
          // parent non-key UPDATE passes even on referenced rows (probed)
          psql.sql("update graft_b23_par set seg = 'Z' where k % 100 = 7")
          // parent DELETE of unreferenced keys passes (both engines).
          // NOT EXISTS, not NOT IN: Spark plans NOT-IN as a null-aware
          // anti join (BroadcastNestedLoop); the correlated NOT EXISTS is
          // a plain broadcast-hash anti join on k
          psql.sql("""delete from graft_b23_par where not exists
            |(select 1 from graft_b23_chi c2 where c2.k = graft_b23_par.k)""".stripMargin)
          // parent DELETE of a referenced key fails, nothing deleted
          val delThrew =
            try { psql.sql("delete from graft_b23_par where k = 1"); false }
            catch { case e: Exception => e.getMessage.contains(
              "is still referenced by a foreign key in a different table") }
          require(delThrew, "deleting a referenced parent key must fail")
          // parent key UPDATE fails while referenced — even a no-op
          // reassignment (probed: DuckDB rejects `SET k = k`)
          val keyThrew =
            try { psql.sql("update graft_b23_par set k = k where k = 1"); false }
            catch { case e: Exception => e.getMessage.contains(
              "is still referenced by a foreign key in a different table") }
          require(keyThrew, "reassigning a referenced parent key must fail")
          Materialize(psql.sql("""from graft_b23_chi
            ||> as c left join graft_b23_par on graft_b23_par.k = c.k
            |   select c.id, c.k, graft_b23_par.seg, c.total
            ||> order by id""".stripMargin))
        } finally psql.sql("reset graft_enforce_foreign_keys")
      },
      Some("""CREATE OR REPLACE TABLE graft_b23_par (k BIGINT PRIMARY KEY, seg VARCHAR);
        |INSERT INTO graft_b23_par SELECT c_custkey, c_mktsegment FROM customer;
        |CREATE OR REPLACE TABLE graft_b23_chi (
        |  id BIGINT,
        |  k BIGINT REFERENCES graft_b23_par (k),
        |  total DOUBLE);
        |INSERT INTO graft_b23_chi SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0;
        |INSERT INTO graft_b23_chi VALUES (999999988, NULL, 1.0);
        |UPDATE graft_b23_chi SET k = 1 WHERE id % 35 = 0;
        |UPDATE graft_b23_par SET seg = 'Z' WHERE k % 100 = 7;
        |DELETE FROM graft_b23_par WHERE NOT EXISTS
        |  (SELECT 1 FROM graft_b23_chi c2 WHERE c2.k = graft_b23_par.k);
        |SELECT c.id, c.k, p.seg, c.total
        |FROM graft_b23_chi c LEFT JOIN graft_b23_par p ON p.k = c.k
        |ORDER BY c.id""".stripMargin)),

    QueryDef(
      "b05_scd2_history",
      withTables { (s, _) =>
        // SCD2 dimension history from the events change log: each user's
        // observed (event_type, value) states become interval versions
        // valid until the next change; current rows carry a null valid_to.
        // One exchange + one window sort; all values/timestamps exact.
        Bucketing.scd2(
          s.table("events").where(col("event_id") % 17 === 0)
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type"), col("value")),
          "user_id", "ts", "event_id", Seq("event_type", "value"))
          .orderBy("user_id", "valid_from", "is_current")
      },
      Some("""SELECT user_id, event_type, value,
        |  ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
        |FROM events WHERE event_id % 17 = 0
        |ORDER BY user_id, valid_from, is_current""".stripMargin)),

    QueryDef(
      "a18_point_in_time",
      withTables { (s, _) =>
        // the SCD2 history consumed: every purchase event enriched with
        // the user's dimension version AS OF the purchase time (interval
        // containment against b05's history — the fact×dimension-history
        // join SCD2 exists to serve). Equi-join on the key + interval
        // filter: per-key version counts are small, so no binned grid is
        // needed — the join stays a plain hash join on user_id.
        val hist = Bucketing.scd2(
          s.table("events").where(col("event_id") % 17 === 0)
            .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type"), col("value")),
          "user_id", "ts", "event_id", Seq("event_type", "value"))
          .select(col("user_id"), col("event_type").as("dim_state"),
            col("valid_from"), col("valid_to"))
        s.table("events").where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
          .join(hist, Seq("user_id"))
          .where(col("valid_from") <= col("ts") &&
            (col("valid_to").isNull || col("valid_to") > col("ts")))
          .select(col("event_id"), col("user_id"), col("ts"), col("dim_state"))
          .orderBy("event_id")
      },
      Some("""WITH hist AS (
        |  SELECT user_id, event_type AS dim_state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM events WHERE event_id % 17 = 0)
        |SELECT e.event_id, e.user_id, e.ts, h.dim_state
        |FROM events e JOIN hist h ON h.user_id = e.user_id
        |WHERE e.event_type = 'purchase'
        |  AND h.valid_from <= e.ts AND (h.valid_to IS NULL OR h.valid_to > e.ts)
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef(
      "q63_summarize",
      withTables { (s, _) =>
        // SUMMARIZE-analogue table profile: one scan, long-format row per
        // column with fill/null/exact-distinct/min/max. min/max as strings
        // so mixed column types share the schema; doubles render through
        // the Fp.fmt6 exact-IEEE split, stable at ANY magnitude the BIGINT
        // contract covers (not just below 1e7). exact distincts are this
        // gate row's explicit opt-in — the library default is the
        // single-pass HLL profile (the 100 TB posture).
        Profile.summarize(s.table("lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"),
          exact = true)
          .orderBy("col_name")
      },
      Some(s"""WITH a AS (
        |  SELECT
        |    count(l_quantity) AS q_n,
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
        |    count(DISTINCT l_quantity) AS q_d,
        |    ${Fp.fmt6Sql("min(l_quantity)")} AS q_min,
        |    ${Fp.fmt6Sql("max(l_quantity)")} AS q_max,
        |    count(l_extendedprice) AS p_n,
        |    CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
        |    count(DISTINCT l_extendedprice) AS p_d,
        |    ${Fp.fmt6Sql("min(l_extendedprice)")} AS p_min,
        |    ${Fp.fmt6Sql("max(l_extendedprice)")} AS p_max,
        |    count(l_returnflag) AS r_n,
        |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_nulls,
        |    count(DISTINCT l_returnflag) AS r_d,
        |    min(l_returnflag)::VARCHAR AS r_min, max(l_returnflag)::VARCHAR AS r_max,
        |    count(l_shipdate) AS s_n,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nulls,
        |    count(DISTINCT l_shipdate) AS s_d,
        |    min(l_shipdate)::VARCHAR AS s_min, max(l_shipdate)::VARCHAR AS s_max
        |  FROM lineitem)
        |SELECT col_name, n_filled, n_nulls, n_distinct, min_s, max_s FROM (
        |  SELECT 'l_quantity' AS col_name, q_n AS n_filled, q_nulls AS n_nulls,
        |    q_d AS n_distinct, q_min AS min_s, q_max AS max_s FROM a
        |  UNION ALL
        |  SELECT 'l_extendedprice', p_n, p_nulls, p_d, p_min, p_max FROM a
        |  UNION ALL
        |  SELECT 'l_returnflag', r_n, r_nulls, r_d, r_min, r_max FROM a
        |  UNION ALL
        |  SELECT 'l_shipdate', s_n, s_nulls, s_d, s_min, s_max FROM a)
        |ORDER BY col_name""".stripMargin)),

    QueryDef(
      "c14_temperature_mixture",
      withTables { (s, _) =>
        // T=2 temperature mixture over the skewed lang distribution (en is
        // 44% of the corpus; sqrt weights flatten it to ~29%): rates are
        // DERIVED from group counts — sqrt is IEEE-exact cross-engine and
        // the share denominator folds the group-sorted weight list in
        // order, so the data-driven doubles hash-match.
        TrainingPipeline.temperatureMixture(s.table("documents"), "lang", "doc_id",
          budgetFrac = 0.5)
          .withColumn("rate", round(col("rate"), 6))
          .select("doc_id", "lang", "rate")
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT lang AS g, count(*)::BIGINT AS n FROM documents GROUP BY lang),
        |t AS (SELECT cast(sum(n) as double) AS n_total,
        |        list_reduce(array_agg(sqrt(cast(n as double)) ORDER BY g),
        |          (a, b) -> a + b) AS w_total
        |      FROM c),
        |r AS (SELECT c.g,
        |        least(1.0, 0.5 * t.n_total * sqrt(cast(c.n as double)) / t.w_total /
        |          cast(c.n as double)) AS rate
        |      FROM c CROSS JOIN t)
        |SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
        |FROM documents d JOIN r ON r.g = d.lang
        |WHERE ('0x' || substr(md5('42-' || d.doc_id), 1, 7))::BIGINT / 268435456.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin)),

    QueryDef(
      "a13_twap",
      withTables { (s, _) =>
        // hourly time-weighted average of event values per type: each
        // observation holds until the next (last to bucket end), integer-
        // microsecond durations, value x duration folded in (ts, id) order
        // — irregular-sampling-fair means, bit-identical cross-engine.
        TimeSeries.twap(s.table("events"), "ts", "event_type", "value",
          tiebreakCol = "event_id", bucketSeconds = 3600L)
          .orderBy("event_type", "bucket_start")
      },
      Some("""WITH ev AS (
        |  SELECT event_type AS g,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS b,
        |    epoch_us(ts) AS t_us, event_id AS tb, value AS v
        |  FROM events),
        |d AS (
        |  SELECT g, b, t_us, tb, v,
        |    coalesce(lead(t_us) OVER (PARTITION BY g, b ORDER BY t_us, tb),
        |      b + 3600000000) - t_us AS dur
        |  FROM ev)
        |SELECT g AS event_type,
        |  cast(to_timestamp(b // 1000000) as timestamp) AS bucket_start,
        |  round(list_reduce(array_agg(v * dur::DOUBLE ORDER BY t_us, tb),
        |      (a, x) -> a + x) / sum(dur)::DOUBLE, 6) AS twap,
        |  count(*) AS n
        |FROM d GROUP BY g, b
        |ORDER BY event_type, bucket_start""".stripMargin)),

    QueryDef(
      "p04_mixture_pack_pipeline",
      withTables { (s, _) =>
        // capstone composition of the late-r9 ops: d26's variant-injected
        // corpus -> T=2 temperature mixture (data-derived rates) ->
        // normalized exact dedup (variants collapse onto their even-id
        // sources when both survive sampling) -> stable 80/10/10 split ->
        // train-shard sequence packing. Every stage is the SAME operator
        // its own gate row runs; the oracle chains their CTEs, so the
        // hash proves the stages compose without contract drift.
        val docs = s.table("documents")
        val variant = docs.select((col("doc_id") + 1).as("doc_id"),
          concat(lit("  "), upper(regexp_replace(col("text"), " ", "  "))).as("text"),
          col("lang"))
          .where(col("doc_id") % 2 === 1)
        val corpus = docs.where(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang").union(variant)
        val mixed = TrainingPipeline.temperatureMixture(corpus, "lang", "doc_id",
          budgetFrac = 0.7)
        val deduped = Dedup.dedupExactNormalized(mixed, "text", "doc_id")
        val split = TrainingPipeline.assignSplits(deduped, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val train = split.where(col("split") === "train")
          .withColumn("n_tokens", size(org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"))
        TrainingPipeline.packSequences(train, "doc_id", col("n_tokens"),
          pmod(col("doc_id"), lit(8)), budget = 2048L)
          .select("doc_id", "shard", "pack", "off")
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1 AS doc_id, '  ' || upper(replace(text, ' ', '  ')) AS text, lang
        |  FROM documents WHERE (doc_id + 1) % 2 = 1),
        |c AS (SELECT lang AS g, count(*)::BIGINT AS n FROM corpus GROUP BY lang),
        |t AS (SELECT cast(sum(n) as double) AS n_total,
        |        list_reduce(array_agg(sqrt(cast(n as double)) ORDER BY g),
        |          (a, b) -> a + b) AS w_total
        |      FROM c),
        |r AS (SELECT c.g,
        |        least(1.0, 0.7 * t.n_total * sqrt(cast(c.n as double)) / t.w_total /
        |          cast(c.n as double)) AS rate
        |      FROM c CROSS JOIN t),
        |mix AS (SELECT d.doc_id, d.text FROM corpus d JOIN r ON r.g = d.lang
        |  WHERE ('0x' || substr(md5('42-' || d.doc_id), 1, 7))::BIGINT / 268435456.0 < r.rate),
        |ded AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, row_number() OVER (
        |    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    ORDER BY doc_id) AS rn FROM mix) WHERE rn = 1),
        |tr AS (SELECT doc_id, text FROM ded
        |  WHERE ('0x' || substr(md5('42-' || doc_id), 1, 7))::BIGINT / 268435456.0 < 0.8),
        |base AS (SELECT doc_id, doc_id % 8 AS shard,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens FROM tr)
        |SELECT doc_id, shard, (start // 2048)::BIGINT AS pack, (start % 2048)::BIGINT AS off
        |FROM (SELECT doc_id, shard,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
        |  FROM base)
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "d33_prefix_filter_pairs",
      withTables { (s, _) =>
        // lossless prefix-filtered Jaccard join (PPJoin scheme): only each
        // set's (1-t)-prefix under the global hash order is indexed, plus
        // the length filter in the join — ~2x less exploded index volume
        // at t=0.5 (5x at t=0.8) and NO lost pairs, unlike the
        // stop-shingle cap. Oracle = the naive O(n^2) formulation (same
        // answer, pathological at scale — exactly why this operator
        // exists).
        Dedup.prefixFilterPairs(s.table("documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(w)-2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM s a, s b WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef(
      "st15_incremental_loop",
      withTables { (s, _) =>
        // the full grow-the-index loop (the streaming foreachBatch body's
        // batch face, staged twice): build the index on the base corpus,
        // dedup wave 1 against it, ADMIT wave-1 survivors into the index,
        // dedup wave 2 against the grown index — wave-2 survivors have no
        // near-dup in base OR admitted wave 1. The oracle recomputes both
        // stages from scratch; a hash match proves the persisted loop
        // (build → probe → append → probe) loses nothing across waves.
        val docs = s.table("documents")
        val base = docs.where(col("doc_id") % 4 =!= 0)
        val w1 = docs.where(col("doc_id") % 8 === 0)
        val w2 = docs.where(col("doc_id") % 8 === 4)
        Dedup.writeMinhashIndex(s, base, "doc_id", "text", "graft_loop_idx",
          shingleSize = 3, numHashes = 64, bands = 32, buckets = 8)
        val s1 = Materialize(
          Dedup.incrementalDedupMd5(s, w1, "doc_id", "text", "graft_loop_idx"))
        Dedup.appendMinhashIndex(s, s1, "doc_id", "text", "graft_loop_idx",
          shingleSize = 3, numHashes = 64, bands = 32, buckets = 8)
        val s2 = Dedup.incrementalDedupMd5(s, w2, "doc_id", "text", "graft_loop_idx")
        s1.select("doc_id", "lang").union(s2.select("doc_id", "lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])),
        |    s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |sig AS (SELECT doc_id, hs, [
        |    $md5SigSqlEntries] AS sig FROM sh),
        |banded AS (
        |  SELECT doc_id, t.band, array_to_string(sig[t.band*2+1 : t.band*2+2], ',') AS bucket
        |  FROM sig, unnest(range(32)) AS t(band)),
        |bad1 AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |  JOIN sh p ON p.doc_id = x.doc_id JOIN sh q ON q.doc_id = y.doc_id
        |  WHERE x.doc_id % 8 = 0 AND y.doc_id % 4 != 0
        |    AND round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |      (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) >= 0.5),
        |s1 AS (
        |  SELECT d.doc_id, d.lang FROM documents d LEFT JOIN bad1 USING (doc_id)
        |  WHERE d.doc_id % 8 = 0 AND bad1.doc_id IS NULL),
        |bad2 AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
        |  JOIN sh p ON p.doc_id = x.doc_id JOIN sh q ON q.doc_id = y.doc_id
        |  WHERE x.doc_id % 8 = 4
        |    AND (y.doc_id % 4 != 0 OR y.doc_id IN (SELECT doc_id FROM s1))
        |    AND round(len(list_intersect(p.hs, q.hs))::DOUBLE /
        |      (len(p.hs) + len(q.hs) - len(list_intersect(p.hs, q.hs))), 6) >= 0.5),
        |s2 AS (
        |  SELECT d.doc_id, d.lang FROM documents d LEFT JOIN bad2 USING (doc_id)
        |  WHERE d.doc_id % 8 = 4 AND bad2.doc_id IS NULL)
        |SELECT doc_id, lang FROM s1 UNION ALL SELECT doc_id, lang FROM s2
        |ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "st16_stream_cusum",
      withTables { (s, _) =>
        import s.implicits._
        // streaming face of a20: online CUSUM with a FIXED trained
        // reference level (an online detector can't know the stream's own
        // mean), two Longs of state per key via flatMapGroupsWithState.
        // Batch execution runs each group once from empty state = the
        // closed form RS − min(0, running-min RS) the oracle states; the
        // MemoryStream spec proves split-replay ≡ one-batch.
        // NULL filter mirrors the oracle's WHERE value IS NOT NULL — the
        // Event case class has a primitive Double, which would otherwise
        // crash at deserialization if a regenerated events table ever
        // carries NULL values (the st06 regeneration lesson)
        val ev = s.table("events")
          .where(col("value").isNotNull)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.EventStreams.Event]
        graft.streaming.EventStreams.streamCusum(ev,
            target = 245.0, slack = 5.0, threshold = 500.0)
          .toDF()
          .orderBy("event_type", "ts", "event_id")
      },
      Some("""WITH base AS (
        |  SELECT event_type AS g, ts, event_id,
        |    floor(value * 1000000.0 + 0.5)::BIGINT AS x
        |  FROM events WHERE value IS NOT NULL),
        |d AS (SELECT g, ts, event_id,
        |    x - floor(245.0 * 1000000.0 + 0.5)::BIGINT
        |      - floor(5.0 * 1000000.0 + 0.5)::BIGINT AS d
        |  FROM base),
        |rs AS (SELECT g, ts, event_id,
        |    sum(d) OVER (PARTITION BY g ORDER BY ts, event_id)::BIGINT AS rs
        |  FROM d),
        |s AS (SELECT g, ts, event_id,
        |    (rs - least(0::BIGINT, min(rs) OVER (PARTITION BY g ORDER BY ts, event_id)))::BIGINT
        |      AS cusum_scaled
        |  FROM rs)
        |SELECT g AS event_type, ts, event_id, cusum_scaled,
        |  cusum_scaled > floor(500.0 * 1000000.0 + 0.5)::BIGINT AS is_change
        |FROM s ORDER BY event_type, ts, event_id""".stripMargin)),

    QueryDef(
      "st17_stream_upsert",
      withTables { (s, _) =>
        // streaming AGGREGATION MAINTENANCE of a keyed warehouse table —
        // the foreachBatch body of a CDC/metrics pipeline, staged three
        // times (the batch face, st15's pattern): each micro-batch upserts
        // its per-user partials via bare ON CONFLICT (the PRIMARY KEY
        // infers the target), folding counts additively and maxima
        // monotonically. The per-wave upsert is the insert-only APPEND /
        // pruned-rewrite MERGE pipeline, so the maintained table never
        // fully rewrites for a small batch on a partitioned layout.
        // Inline invariant: after all waves, the folded totals equal the
        // one-shot whole-table aggregation (nothing lost or double-counted
        // across batch boundaries). Oracle: DuckDB executes the SAME
        // statements on a PK temp table.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "graft_st17_t")
        Bucketing.dropTableAndLocation(s, "graft_st17_t__graft_cow")
        psql.sql("""create or replace table graft_st17_t (
          |user_id bigint primary key, n_events bigint not null, v_max double)""".stripMargin)
        for (w <- 0 to 2)
          psql.sql(s"""insert into graft_st17_t
            |select user_id, count(*), max(coalesce(value, 0)) from events
            |where event_id % 3 = $w group by user_id
            |on conflict do update set n_events = n_events + excluded.n_events,
            |  v_max = greatest(v_max, excluded.v_max)""".stripMargin)
        val total = s.table("graft_st17_t")
          .agg(sum("n_events")).collect()(0).getLong(0)
        require(total == s.table("events").count(),
          "maintained totals must equal the one-shot aggregation")
        psql.sql("from graft_st17_t |> order by user_id")
      },
      Some("""CREATE OR REPLACE TEMP TABLE graft_st17_t (
        |  user_id BIGINT PRIMARY KEY, n_events BIGINT NOT NULL, v_max DOUBLE);
        |INSERT INTO graft_st17_t SELECT user_id, count(*), max(coalesce(value, 0))
        |  FROM events WHERE event_id % 3 = 0 GROUP BY user_id
        |  ON CONFLICT DO UPDATE SET n_events = n_events + excluded.n_events,
        |    v_max = greatest(v_max, excluded.v_max);
        |INSERT INTO graft_st17_t SELECT user_id, count(*), max(coalesce(value, 0))
        |  FROM events WHERE event_id % 3 = 1 GROUP BY user_id
        |  ON CONFLICT DO UPDATE SET n_events = n_events + excluded.n_events,
        |    v_max = greatest(v_max, excluded.v_max);
        |INSERT INTO graft_st17_t SELECT user_id, count(*), max(coalesce(value, 0))
        |  FROM events WHERE event_id % 3 = 2 GROUP BY user_id
        |  ON CONFLICT DO UPDATE SET n_events = n_events + excluded.n_events,
        |    v_max = greatest(v_max, excluded.v_max);
        |SELECT user_id, n_events, v_max FROM graft_st17_t ORDER BY user_id""".stripMargin)),

    QueryDef(
      "st14_window_ohlc",
      withTables { (s, _) =>
        // streaming face of a12: the SAME windowed min_by/max_by plan the
        // stream runs (watermark + tumbling window + associative aggs, one
        // narrow state row per open bar), exercised on its batch backfill
        // face for the oracle; the MemoryStream spec proves late-drop and
        // cross-micro-batch bar stability.
        graft.streaming.EventStreams.windowOhlc(s.table("events"),
          "1 hour", "1 hour")
          .orderBy("event_type", "window_start")
      },
      Some("""WITH ev AS (
        |  SELECT event_type AS g,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS b,
        |    ts, event_id, value AS v,
        |    row_number() OVER (PARTITION BY event_type,
        |      (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type,
        |      (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT g AS event_type, cast(to_timestamp(b) as timestamp) AS window_start,
        |  max(CASE WHEN rn_a = 1 THEN v END) AS o,
        |  max(v) AS h, min(v) AS l,
        |  max(CASE WHEN rn_d = 1 THEN v END) AS c,
        |  count(*) AS n
        |FROM ev GROUP BY g, b
        |ORDER BY event_type, window_start""".stripMargin)),

    QueryDef(
      "a12_ohlc_bars",
      withTables { (s, _) =>
        // resample-to-bars: hourly OHLC of event values per type. Open and
        // close pick on the UNIQUE (ts, event_id) ordering, so the oracle's
        // windowed first/last rows match bit-for-bit — no arg_min tie
        // ambiguity between engines.
        TimeSeries.ohlcBars(s.table("events"), "ts", "event_type", "value",
          tiebreakCol = "event_id", bucketSeconds = 3600L)
          .orderBy("event_type", "bucket_start")
      },
      Some("""WITH ev AS (
        |  SELECT event_type AS g,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS b,
        |    ts, event_id, value AS v,
        |    row_number() OVER (PARTITION BY event_type,
        |      (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type,
        |      (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT g AS event_type, cast(to_timestamp(b) as timestamp) AS bucket_start,
        |  max(CASE WHEN rn_a = 1 THEN v END) AS o,
        |  max(v) AS h, min(v) AS l,
        |  max(CASE WHEN rn_d = 1 THEN v END) AS c,
        |  count(*) AS n
        |FROM ev GROUP BY g, b
        |ORDER BY event_type, bucket_start""".stripMargin)),

    QueryDef(
      "r05_prf_topk",
      withTables { (s, _) =>
        // pseudo-relevance feedback (Rocchio/RM3): literal-query BM25 picks
        // 10 feedback docs, their 2 hottest non-query terms join the query
        // at half weight, and the expanded DYNAMIC-term query rescoures the
        // corpus — contributions folded in term order per doc, so the
        // data-derived score hash-checks (the c14 float discipline applied
        // to retrieval).
        Retrieval.prfTopK(s.table("documents"), "doc_id", "text", bm25Terms,
          k = 10, fbK = 10, expand = 2, beta = 0.5)
          .orderBy("rank")
      },
      Some(prfOracleSql)),

    QueryDef(
      "r06_ranking_eval",
      withTables { (s, _) =>
        // ranking-quality evaluation (Retrieval.evalRanking): nDCG@10 /
        // MRR / hit counts for a term-frequency ranking scored against
        // graded labels drawn from a DIFFERENT signal (term count in the
        // first 50 tokens, capped at 3) — so the metrics exercise real
        // rank/label disagreement, not a tautology. Exactness: gains are
        // integers, the 1/log2(r+1) weights are SHARED literals
        // (Retrieval.log2Weights — engines' log2 differ in the last ulp),
        // each contribution is one multiply snapped to the 1e-6 grid, and
        // DCG/IDCG are order-independent BIGINT sums; ndcg is one division
        // of those integers.
        import org.apache.spark.sql.expressions.Window
        val docs = s.table("documents")
        val perTerm = bm25Terms.map { t =>
          docs.select(lit(t).as("query"), col("doc_id"),
            expr(s"cast(size(filter(split(text, ' '), x -> x = '$t')) as bigint)").as("tf"),
            expr(s"cast(least(size(filter(slice(split(text, ' '), 1, 50), x -> x = '$t')), 3) as bigint)")
              .as("rel"))
        }.reduce(_ unionAll _).where(col("tf") > 0)
        val ranked = perTerm.withColumn("rank", row_number().over(
            Window.partitionBy("query").orderBy(col("tf").desc, col("doc_id"))))
          .where(col("rank") <= 10).select("query", "doc_id", "rank")
        val qrels = perTerm.select("query", "doc_id", "rel")
        Retrieval.evalRanking(ranked, qrels, "query", "doc_id", k = 10)
          .orderBy("query")
      },
      Some(s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |terms(query) AS (VALUES ${bm25Terms.map(t => s"('$t')").mkString(", ")}),
        |nz AS (
        |  SELECT t.query, k.doc_id,
        |    len(list_filter(k.w, x -> x = t.query))::BIGINT AS tf,
        |    least(len(list_filter(k.w[1:50], x -> x = t.query)), 3)::BIGINT AS rel
        |  FROM tok k CROSS JOIN terms t
        |  WHERE len(list_filter(k.w, x -> x = t.query)) > 0),
        |weights(wr, wv) AS (VALUES ${dcgWeightsValues(10)}),
        |ranked AS (
        |  SELECT query, doc_id, tf,
        |    row_number() OVER (PARTITION BY query ORDER BY tf DESC, doc_id) AS rank
        |  FROM nz QUALIFY rank <= 10),
        |qrels AS (SELECT query, doc_id, rel FROM nz WHERE rel > 0),
        |sys AS (
        |  SELECT r.query,
        |    sum(floor(((1::BIGINT << coalesce(q.rel, 0))::BIGINT - 1)::DOUBLE * w.wv * 1000000.0 + 0.5)::BIGINT)::BIGINT AS dcg_s,
        |    sum(CASE WHEN coalesce(q.rel, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS n_rel_at_k,
        |    min(CASE WHEN q.rel > 0 THEN r.rank END) AS first_rel
        |  FROM ranked r LEFT JOIN qrels q USING (query, doc_id)
        |  JOIN weights w ON w.wr = r.rank
        |  GROUP BY r.query),
        |ideal AS (
        |  SELECT query,
        |    sum(floor(((1::BIGINT << rel)::BIGINT - 1)::DOUBLE * w.wv * 1000000.0 + 0.5)::BIGINT)::BIGINT AS idcg_s
        |  FROM (SELECT query, doc_id, rel,
        |          row_number() OVER (PARTITION BY query ORDER BY rel DESC, doc_id) AS rn
        |        FROM qrels) i
        |  JOIN weights w ON w.wr = i.rn
        |  WHERE i.rn <= 10 GROUP BY query),
        |totals AS (SELECT query, count(*)::BIGINT AS n_rel FROM qrels GROUP BY query)
        |SELECT s.query, coalesce(t.n_rel, 0)::BIGINT AS n_rel, s.n_rel_at_k,
        |  coalesce(1000000 // s.first_rel, 0)::BIGINT AS mrr_scaled,
        |  s.dcg_s, i.idcg_s, s.dcg_s::DOUBLE / i.idcg_s::DOUBLE AS ndcg
        |FROM sys s LEFT JOIN ideal i ON i.query = s.query
        |LEFT JOIN totals t ON t.query = s.query
        |ORDER BY s.query""".stripMargin)),

    QueryDef(
      "r07_fts_match",
      withTables { (s, _) =>
        // DuckDB fts surface (FtsIndex): PRAGMA create_fts_index builds ONE
        // PERSISTED postings table (term, id, dl, tf, df — dl and df
        // denormalized; term-partitioned + sorted by term so the query's
        // `term IN` prunes row groups) in one write, with n_docs/sum_dl and
        // the tokenizer options held in its table properties;
        // fts_main_<t>.match_bm25(id, 'q') lowers to a correlated scalar
        // subquery over a scores view — scoring touches ONLY the query
        // terms' postings, never re-reads the corpus. Per-term BM25
        // contributions snap to the 1e-6 grid and sum as BIGINTs
        // (order-independent). Oracle: the same formula in plain DuckDB SQL
        // (the real fts extension cannot load offline), with the
        // exact-token options spelled out; r09/r10 cover the DEFAULT
        // porter+stopword normalization pipeline.
        val psql = graft.psql.Psql(s)
        Bucketing.dropTableAndLocation(s, "fts_main_documents_terms")
        Bucketing.dropTableAndLocation(s, "fts_main_documents_docfreq")
        Bucketing.dropTableAndLocation(s, "fts_main_documents_stats")
        psql.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text', " +
          "stemmer := 'none', stopwords := 'none', ignore := '', " +
          "lower := 0, strip_accents := 0)")
        psql.sql("""from documents
          ||> select doc_id,
          |    fts_main_documents.match_bm25(doc_id, 'merge window scan') as score
          ||> where score is not null
          ||> order by score desc, doc_id
          ||> limit 20""".stripMargin)
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
        |posting AS (
        |  SELECT doc_id, u.t AS term, count(*)::BIGINT AS tf
        |  FROM tok, unnest(w) AS u(t)
        |  WHERE u.t IN ('merge', 'window', 'scan')
        |  GROUP BY doc_id, u.t),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY term),
        |scored AS (
        |  SELECT p.doc_id,
        |    sum(floor(round(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)), 6)
        |      * (p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.sum_dl::DOUBLE / s.n_docs))))
        |      * 1000000.0 + 0.5)::BIGINT)::BIGINT AS s6
        |  FROM posting p JOIN dl l USING (doc_id) CROSS JOIN stats s
        |  JOIN dfreq d ON d.term = p.term
        |  GROUP BY p.doc_id)
        |SELECT doc_id, s6::DOUBLE / 1000000.0 AS score
        |FROM (SELECT * FROM scored ORDER BY s6 DESC, doc_id LIMIT 20)
        |ORDER BY score DESC, doc_id""".stripMargin)),

    QueryDef(
      "r08_hybrid_index_search",
      withTables { (s, _) =>
        // the persisted indexes COMPOSE: the sparse half probes the r07
        // FTS index through the statement surface (match_bm25 — only the
        // query terms' postings are read), the dense half is brute cosine
        // against query vector 0, and RRF fuses the two top-50 lists. The
        // r03 pipeline with its sparse side swapped from an in-query scan
        // to a PERSISTED index probe — the shape a serving layer runs.
        val psql = graft.psql.Psql(s)
        Seq("fts_main_documents_terms", "fts_main_documents_docfreq",
          "fts_main_documents_stats").foreach(Bucketing.dropTableAndLocation(s, _))
        psql.sql("PRAGMA create_fts_index('documents', 'doc_id', 'text', " +
          "stemmer := 'none', stopwords := 'none', ignore := '', " +
          "lower := 0, strip_accents := 0)")
        val sparse = psql.sql("""from documents
          ||> select doc_id,
          |    fts_main_documents.match_bm25(doc_id, 'merge window scan') as score
          ||> where score is not null
          ||> order by score desc, doc_id |> limit 50""".stripMargin)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
        val emb = s.table("embeddings")
        val dense = Similarity.bruteForceTopK(
          emb.where(col("vec_id") === 0), emb, "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(sparse, dense, k = 20).orderBy("rank")
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS w
        |  FROM documents),
        |dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
        |posting AS (
        |  SELECT doc_id, u.t AS term, count(*)::BIGINT AS tf
        |  FROM tok, unnest(w) AS u(t)
        |  WHERE u.t IN ('merge', 'window', 'scan')
        |  GROUP BY doc_id, u.t),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY term),
        |scored AS (
        |  SELECT p.doc_id,
        |    sum(floor(round(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)), 6)
        |      * (p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.sum_dl::DOUBLE / s.n_docs))))
        |      * 1000000.0 + 0.5)::BIGINT)::BIGINT AS s6
        |  FROM posting p JOIN dl l USING (doc_id) CROSS JOIN stats s
        |  JOIN dfreq d ON d.term = p.term
        |  GROUP BY p.doc_id),
        |sparse AS (
        |  SELECT doc_id, cast(row_number() OVER (ORDER BY s6 DESC, doc_id) as int) AS rank_a
        |  FROM (SELECT * FROM scored ORDER BY s6 DESC, doc_id LIMIT 50)),
        |qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |densescore AS (
        |  SELECT vec_id AS doc_id, round(list_cosine_similarity(qv, embedding::DOUBLE[]), 6) AS sim
        |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
        |dense AS (
        |  SELECT doc_id, cast(row_number() OVER (ORDER BY sim DESC, doc_id) as int) AS rank_b
        |  FROM (SELECT * FROM densescore ORDER BY sim DESC, doc_id LIMIT 50)),
        |fused AS (
        |  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
        |    round(coalesce(1.0 / (60.0 + s.rank_a::DOUBLE), 0.0)
        |      + coalesce(1.0 / (60.0 + d.rank_b::DOUBLE), 0.0), 6) AS rrf
        |  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id)
        |SELECT doc_id, rrf, cast(row_number() OVER (ORDER BY rrf DESC, doc_id) as int) AS rank
        |FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20)
        |ORDER BY rank""".stripMargin)),

    QueryDef(
      "a14_ewma",
      withTables { (s, _) =>
        // truncated EWMA per event type: trailing-32 ordered fold seeded
        // with the oldest frame value — the non-associative recurrence made
        // exact and bounded (dropped tail weight 2^-32, far below the
        // 6-decimal grid). Both engines fold identical doubles in identical
        // order, so the row is full-oracle despite being FP.
        TimeSeries.ewma(s.table("events"), "ts", "event_type", "value", "event_id",
          alpha = 0.5, lookback = 32)
          .orderBy("event_type", "ts", "event_id")
      },
      Some("""WITH ev AS (
        |  SELECT event_type AS g, ts, event_id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL),
        |w AS (
        |  SELECT g, ts, event_id, v,
        |    array_agg(v) OVER (PARTITION BY g ORDER BY ts, event_id
        |      ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS arr
        |  FROM ev)
        |SELECT g AS event_type, ts, event_id, v AS value,
        |  floor(list_reduce(arr, (a, x) -> a * 0.5 + x * 0.5) * 1000000.0 + 0.5)
        |    / 1000000.0 AS ewma
        |FROM w ORDER BY event_type, ts, event_id""".stripMargin)),

    QueryDef(
      "a15_rolling_zscore",
      withTables { (s, _) =>
        // out-of-sample rolling z-score anomalies per event type: each
        // value scored against the mean/population-sigma of its 64
        // PRECEDING observations (ordered left-fold sums → bit-stable
        // doubles), |z| > 2.5 with a 16-row warm-up flagged.
        TimeSeries.rollingZscore(s.table("events"), "ts", "event_type", "value",
          "event_id", lookback = 64, minObs = 16, threshold = 2.5)
          .orderBy("event_type", "ts", "event_id")
      },
      Some("""WITH ev AS (
        |  SELECT event_type AS g, ts, event_id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL),
        |w AS (
        |  SELECT g, ts, event_id, v,
        |    array_agg(v) OVER (PARTITION BY g ORDER BY ts, event_id
        |      ROWS BETWEEN 64 PRECEDING AND 1 PRECEDING) AS arr
        |  FROM ev),
        |st AS (
        |  SELECT g, ts, event_id, v,
        |    list_reduce(arr, (a, x) -> a + x) / len(arr)::DOUBLE AS mu,
        |    sqrt(list_reduce(list_transform(arr, x -> x * x), (a, x) -> a + x) /
        |        len(arr)::DOUBLE -
        |      (list_reduce(arr, (a, x) -> a + x) / len(arr)::DOUBLE) *
        |      (list_reduce(arr, (a, x) -> a + x) / len(arr)::DOUBLE)) AS sigma
        |  FROM w WHERE len(arr) >= 16)
        |SELECT g AS event_type, ts, event_id, v AS value,
        |  floor(mu * 1000000.0 + 0.5) / 1000000.0 AS mu,
        |  floor(sigma * 1000000.0 + 0.5) / 1000000.0 AS sigma,
        |  floor((v - mu) / sigma * 1000000.0 + 0.5) / 1000000.0 AS z
        |FROM st
        |WHERE sigma > 0.0 AND abs((v - mu) / sigma) > 2.5
        |ORDER BY event_type, ts, event_id""".stripMargin)),

    QueryDef(
      "a16_funnel",
      withTables { (s, _) =>
        // ordered funnel view → click → purchase: step i counts only
        // strictly after the user's first completion of step i−1. Integer
        // counts; the conversion ratio is one exact division on the grid.
        Funnels.funnel(s.table("events"), Seq("view", "click", "purchase"))
          .orderBy("step")
      },
      Some("""WITH s0 AS (
        |  SELECT user_id AS u, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t1 FROM events e
        |  JOIN s0 ON s0.u = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY e.user_id),
        |s2 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON s1.u = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id),
        |c AS (
        |  SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s0)::BIGINT AS n_users
        |  UNION ALL
        |  SELECT 2, 'click', (SELECT count(*) FROM s1)::BIGINT
        |  UNION ALL
        |  SELECT 3, 'purchase', (SELECT count(*) FROM s2)::BIGINT)
        |SELECT step, step_name, n_users,
        |  CASE WHEN lag(n_users) OVER (ORDER BY step) IS NULL
        |         OR lag(n_users) OVER (ORDER BY step) = 0 THEN NULL
        |       ELSE floor(n_users::DOUBLE / lag(n_users) OVER (ORDER BY step)
        |         * 1000000.0 + 0.5) / 1000000.0 END AS conv_from_prev
        |FROM c ORDER BY step""".stripMargin)),

    QueryDef(
      "a17_retention",
      withTables { (s, _) =>
        // weekly cohort retention: users cohort by the 7-day period of
        // their first event; the matrix counts distinct users active again
        // k periods later. All-integer — full-oracle.
        Funnels.retention(s.table("events"), periodDays = 7, maxOffset = 8)
          .orderBy("cohort_period", "offset")
      },
      Some("""WITH act AS (
        |  SELECT DISTINCT user_id AS u,
        |    floor(date_diff('day', DATE '1970-01-01', ts::DATE) / 7)::BIGINT AS p
        |  FROM events),
        |f AS (SELECT u, min(p) AS cohort FROM act GROUP BY u)
        |SELECT f.cohort AS cohort_period, (a.p - f.cohort)::BIGINT AS "offset",
        |  count(*)::BIGINT AS n_users
        |FROM act a JOIN f ON f.u = a.u
        |WHERE a.p - f.cohort <= 8
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      "g06_kcore",
      withTables { (s, _) =>
        // 3-core of the full co-purchase bipartite graph: peeling drops
        // nodes of in-subgraph degree < 3 — the dense-core extraction that
        // separates cohesive neighborhoods from tendrils. Converges by
        // round 3 on this graph (6 rounds leave margin; the spec pins the
        // fixpoint); all-integer, the unrolled oracle recomputes every
        // round.
        val edges = s.table("lineitem")
          .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        GraphOps.kCore(edges, "src", "dst", k = 3, rounds = 6)
          .orderBy("node")
      },
      Some(kCoreOracle(3, 6))),

    QueryDef(
      "g07_bfs_hops",
      withTables { (s, _) =>
        // single-source BFS shortest paths on the co-purchase bipartite
        // graph (g06's graph), bounded at 4 hops, seeded at the smallest
        // order node — the reachability/radius primitive (contamination
        // spread, link-farm neighborhoods). Frontier-filtered rounds: each
        // join carries only the nodes FIRST discovered last round, so work
        // tracks the BFS wavefront; all-integer distances, unrolled
        // level-set oracle (min hop per node) hash-exact.
        val li = s.table("lineitem")
        val edges = li.select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        val seed = li.agg((min("l_orderkey") * 2).cast("long").as("node"))
        GraphOps.shortestPaths(edges, "src", "dst", seed, maxHops = 4)
          .select(col("node"), col("dist").cast("bigint").as("dist"))
          .orderBy("node")
      },
      Some("""WITH raw AS (
        |  SELECT l_orderkey * 2 AS s, l_partkey * 2 + 1 AS d FROM lineitem),
        |und AS (
        |  SELECT s AS src, d AS dst FROM raw UNION SELECT d, s FROM raw),
        |l0 AS (SELECT (SELECT min(l_orderkey) * 2 FROM lineitem)::BIGINT AS node),
        |l1 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM und e JOIN l0 ON l0.node = e.src),
        |l2 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM und e JOIN l1 ON l1.node = e.src),
        |l3 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM und e JOIN l2 ON l2.node = e.src),
        |l4 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM und e JOIN l3 ON l3.node = e.src)
        |SELECT node, cast(min(dist) AS BIGINT) AS dist FROM (
        |  SELECT node, 0 AS dist FROM l0
        |  UNION ALL SELECT node, 1 FROM l1
        |  UNION ALL SELECT node, 2 FROM l2
        |  UNION ALL SELECT node, 3 FROM l3
        |  UNION ALL SELECT node, 4 FROM l4)
        |GROUP BY node ORDER BY node""".stripMargin)),

    QueryDef(
      "g08_weighted_paths",
      withTables { (s, _) =>
        // bounded weighted shortest paths (GraphOps.weightedPaths —
        // distributed Bellman-Ford, 3 min-plus rounds) on g07's bipartite
        // graph with integer edge weights 1 + l_linenumber % 5; parallel
        // edges keep the cheapest. Frontier-sized expansion per round,
        // reach-sized merge (the honest BF trade); all-integer distances,
        // unrolled min-plus oracle hash-exact.
        val li = s.table("lineitem")
        val edges = li.select((col("l_orderkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"),
          (lit(1) + col("l_linenumber") % 5).as("w"))
        val seed = li.agg((min("l_orderkey") * 2).cast("long").as("node"))
        GraphOps.weightedPaths(edges, "src", "dst", "w", seed, rounds = 3)
          .orderBy("node")
      },
      Some("""WITH raw AS (
        |  SELECT l_orderkey * 2 AS s, l_partkey * 2 + 1 AS d,
        |         (1 + l_linenumber % 5)::BIGINT AS w
        |  FROM lineitem),
        |und AS (
        |  SELECT src, dst, min(w)::BIGINT AS w FROM (
        |    SELECT s AS src, d AS dst, w FROM raw
        |    UNION ALL SELECT d, s, w FROM raw) GROUP BY src, dst),
        |d0 AS (SELECT (SELECT min(l_orderkey) * 2 FROM lineitem)::BIGINT AS node,
        |              0::BIGINT AS dist),
        |r1 AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
        |  SELECT node, dist FROM d0
        |  UNION ALL SELECT e.dst, d0.dist + e.w FROM und e JOIN d0 ON d0.node = e.src)
        |  GROUP BY node),
        |r2 AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
        |  SELECT node, dist FROM r1
        |  UNION ALL SELECT e.dst, r1.dist + e.w FROM und e JOIN r1 ON r1.node = e.src)
        |  GROUP BY node),
        |r3 AS (SELECT node, min(dist)::BIGINT AS dist FROM (
        |  SELECT node, dist FROM r2
        |  UNION ALL SELECT e.dst, r2.dist + e.w FROM und e JOIN r2 ON r2.node = e.src)
        |  GROUP BY node)
        |SELECT node, dist FROM r3 ORDER BY node""".stripMargin)),

    QueryDef(
      "g04_label_propagation",
      withTables { (s, _) =>
        // deterministic sync LPA on the sparse co-purchase bipartite graph
        // (g03's graph): 4 simultaneous mode-adoption rounds, smallest-label
        // tiebreak — communities finer than g03's components wherever a
        // component has local hubs. All-integer, so the unrolled-CTE oracle
        // hash-matches exactly.
        val edges = s.table("lineitem").where(col("l_quantity") === 1)
          .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        GraphOps.labelPropagation(edges, "src", "dst", iterations = 4)
          .orderBy("node")
      },
      Some(labelPropagationOracle(4))),
  )

  /** g04's oracle: [[GraphOps.labelPropagation]]'s synchronous rounds
    * unrolled as MATERIALIZED CTEs (each round is referenced twice — by the
    * next round's count join AND its keep-old fallback — so DuckDB would
    * otherwise inline it exponentially). Mode pick = row_number over
    * (count desc, label asc), the same total tiebreak the engine uses;
    * all-integer, so the hash comparison is exact.
    */
  private def labelPropagationOracle(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""c$i AS (
         |  SELECT e.src AS node, l.lbl, count(*) AS c
         |  FROM und e JOIN l${i - 1} l ON l.node = e.dst GROUP BY e.src, l.lbl),
         |b$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (
         |  SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
         |  FROM l${i - 1} p LEFT JOIN b$i b ON b.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT DISTINCT l_orderkey * 2 AS s, l_partkey * 2 + 1 AS d
       |  FROM lineitem WHERE l_quantity = 1),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT s AS src, d AS dst FROM raw UNION SELECT d, s FROM raw)
       |  WHERE src <> dst),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS lbl FROM und),
       |$iters
       |SELECT node, lbl AS label FROM l$iterations ORDER BY node""".stripMargin
  }

  /** r05's oracle: r01's literal-term CTE for the feedback pass, then the
    * expansion pick, the dynamic-term tf/df joins and the ORDERED
    * per-document contribution fold — every arithmetic shape mirrors
    * [[Retrieval.prfTopK]] term by term.
    */
  private lazy val prfOracleSql: String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString(", ")
    val valuesRows = bm25Terms.map(t => s"('$t')").mkString(", ")
    s"""WITH ${bm25ScoredCte(bm25Terms)},
       |fb AS (SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10),
       |ft AS (
       |  SELECT t.tok AS term, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(w) AS tok FROM tok) t JOIN fb USING (doc_id)
       |  WHERE t.tok NOT IN ($termList)
       |  GROUP BY t.tok),
       |ex AS (SELECT term FROM ft ORDER BY cnt DESC, term LIMIT 2),
       |qt AS (SELECT term, 1.0 AS wt FROM (VALUES $valuesRows) v(term)
       |       UNION ALL SELECT term, 0.5 FROM ex),
       |tfx AS (
       |  SELECT e.doc_id, e.dl, q.term, q.wt, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, len(w)::BIGINT AS dl, unnest(w) AS tok FROM tok) e
       |  JOIN qt q ON q.term = e.tok
       |  GROUP BY e.doc_id, e.dl, q.term, q.wt),
       |dfx AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tfx GROUP BY term),
       |st AS (SELECT count(*)::BIGINT AS n_docs, sum(len(w))::BIGINT AS sum_dl FROM tok),
       |sc AS (
       |  SELECT f.doc_id, f.term,
       |    f.wt * round(ln(1.0 + (st.n_docs::DOUBLE - dfx.df::DOUBLE + 0.5) /
       |        (dfx.df::DOUBLE + 0.5)), 6) *
       |      (f.tf::DOUBLE * 2.2 / (f.tf::DOUBLE + 1.2 * (0.25 + 0.75 * f.dl::DOUBLE /
       |        (st.sum_dl::DOUBLE / st.n_docs::DOUBLE)))) AS c
       |  FROM tfx f JOIN dfx USING (term) CROSS JOIN st),
       |agg AS (
       |  SELECT doc_id, round(list_reduce(array_agg(c ORDER BY term), (a, b) -> a + b), 6) AS prf
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, prf, cast(row_number() OVER (ORDER BY prf DESC, doc_id) as int) AS rank
       |FROM (SELECT * FROM agg ORDER BY prf DESC, doc_id LIMIT 10)
       |ORDER BY rank""".stripMargin
  }

  /** g03's oracle: the engine's propagate+jump rounds unrolled as
    * MATERIALIZED CTEs (DuckDB would otherwise inline each doubly-
    * referenced round twice — exponential plan blowup). Per round: p_i
    * takes min(own, neighbors' labels); r_i pointer-jumps (label := that
    * label's label), so `rounds` rounds cover components of diameter far
    * beyond 2^rounds — validated against union-find at sf0.01 and sf0.1.
    * Both engines converge to the same fixpoint (component = min node
    * id), which is what the hash compares.
    */
  private def connectedComponentsOracle(rounds: Int): String = {
    val iters = (1 to rounds).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT n.id, least(n.comp, coalesce(m.mn, n.comp)) AS comp
         |  FROM r${i - 1} n LEFT JOIN (
         |    SELECT e.src, min(r.comp) AS mn FROM e JOIN r${i - 1} r ON r.id = e.dst
         |    GROUP BY e.src) m
         |    ON m.src = n.id),
         |r$i AS MATERIALIZED (
         |  SELECT a.id, least(a.comp, b.comp) AS comp
         |  FROM p$i a JOIN p$i b ON a.comp = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst
       |  FROM lineitem WHERE l_quantity = 1),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS comp FROM e),
       |$iters
       |SELECT id AS node, comp AS component FROM r$rounds ORDER BY node""".stripMargin
  }

  /** r04's oracle: hashed chunk embeddings + per-token best-chunk cosine,
    * mirroring [[Retrieval.maxSimTopK]] term by term (same md5 bucket/sign
    * arithmetic, same zero-norm guard, same round-6 cut, same fixed
    * left-to-right token sum). Query vectors are generated by the same
    * Scala code the Spark side uses and inlined as DOUBLE[] literals.
    */
  private def maxSimOracle(tokens: Seq[String], k: Int, dim: Int = 16, cw: Int = 32): String = {
    val terms = tokens.map { t =>
      val qv = Retrieval.hashedQueryVec(t, dim)
      if (qv.forall(_ == 0.0)) "0.0"   // fully-cancelled query vector: Spark's guard yields 0 everywhere
      else {
        val qvSql = "[" + qv.mkString(", ") + "]::DOUBLE[]"
        s"""coalesce(list_max(list_transform(cvs, v ->
           |      CASE WHEN list_sum(list_transform(v, x -> x*x)) = 0.0 THEN 0.0
           |        ELSE round(list_cosine_similarity($qvSql, v), 6) END)), 0.0)""".stripMargin
      }
    }.mkString("\n    + ")
    s"""WITH dw AS (
       |  SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '), t -> len(t) > 0) AS w
       |  FROM documents),
       |cv AS (
       |  SELECT doc_id, CASE WHEN len(w) > 0 THEN
       |    list_transform(range((len(w) + ${cw - 1}) // $cw), i ->
       |      list_transform(range($dim), j -> coalesce(list_sum(list_transform(
       |        flatten(list_transform(w[i*$cw+1 : i*$cw+$cw], x -> [x, 'p:' || substr(x, 1, 3)])),
       |        f -> CASE WHEN ('0x' || substr(md5(f), 1, 7))::BIGINT % $dim = j
       |          THEN CASE WHEN ('0x' || substr(md5(f), 8, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END
       |          ELSE 0.0 END)), 0.0)))
       |    ELSE []::DOUBLE[][] END AS cvs
       |  FROM dw),
       |scored AS (
       |  SELECT doc_id, round($terms, 6) AS maxsim FROM cv)
       |SELECT doc_id, maxsim, cast(row_number() OVER (ORDER BY maxsim DESC, doc_id) as int) AS rank
       |FROM (SELECT * FROM scored ORDER BY maxsim DESC, doc_id LIMIT $k)
       |ORDER BY rank""".stripMargin
  }

  private def Psqlish(s: SparkSession, q: String): DataFrame = graft.psql.Psql(s).sql(q)

  /** Minimal JSON string literal (q55's 25-row dimension dump). */
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
