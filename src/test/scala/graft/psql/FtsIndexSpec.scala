package graft.psql

import graft.SparkSpec

/** DuckDB fts surface (FtsIndex): PRAGMA create_fts_index persists one
  * postings table carrying df, with n_docs/sum_dl and the tokenization
  * options in its table properties; match_bm25 lowers to a scalar subquery
  * with NULL for non-matching ids, conjunctive mode, overwrite semantics,
  * drop_fts_index, and the honest errors for stemmer/stopword requests the
  * engine cannot satisfy.
  */
class FtsIndexSpec extends SparkSpec {

  import spark.implicits._
  private lazy val psql = Psql(spark)

  private def cleanup(): Unit =
    graft.operators.Bucketing.dropTableAndLocation(spark, "fts_main_graft_fts_d_terms")

  /** (n_docs, sum_dl) as recorded in the postings table's properties. */
  private def stats(): (Long, Long) = {
    val props = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("fts_main_graft_fts_d_terms")).properties
    (props("graft.fts.n_docs").toLong, props("graft.fts.sum_dl").toLong)
  }

  private def seed(): Unit = {
    cleanup()
    Seq(
      (1L, "hello world hello"),
      (2L, "world peace"),
      (3L, "goodbye cruel world"),
      (4L, ""), // zero-token doc: counts toward N, never scores
      (5L, "hello hello hello hello"))
      .toDF("id", "content").createOrReplaceTempView("graft_fts_d")
  }

  test("index build + match_bm25: tf weighting, NULL for no-match, stable values") {
    seed()
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content')")
    // postings carry denormalized dl and df; stats count ALL 5 docs
    assert(stats() == ((5L, 12L)))
    val postings = spark.table("fts_main_graft_fts_d_terms").collect()
    val dfs = postings.map(r => (r.getAs[String]("term"), r.getAs[Long]("df"))).toMap
    val docsPerTerm = postings.groupBy(_.getAs[String]("term")).view.mapValues(_.length.toLong).toMap
    assert(dfs == docsPerTerm && dfs("world") == 3L, dfs)
    val r = psql.sql("select id, fts_main_graft_fts_d.match_bm25(id, 'hello') as s " +
      "from graft_fts_d order by id").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) null else x.getDouble(1)))
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(r(1)._2 == null && r(2)._2 == null && r(3)._2 == null)
    val s1 = r(0)._2.asInstanceOf[Double]
    val s5 = r(3 + 1)._2.asInstanceOf[Double]
    assert(s1 > 0 && s5 > 0)
    // doc 5 has higher tf but is longer; both positive, doc 5 saturates higher
    assert(s5 > s1, s"expected tf=4 (dl 4) to outscore tf=2 (dl 3): $s5 vs $s1")
  }

  test("multi-term scoring sums per-term contributions; conjunctive filters") {
    seed()
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content', overwrite := 1)")
    val rows = psql.sql("select id, " +
      "fts_main_graft_fts_d.match_bm25(id, 'hello world') as s, " +
      "fts_main_graft_fts_d.match_bm25(id, 'hello world', conjunctive := 1) as c " +
      "from graft_fts_d order by id").collect()
    // disjunctive: docs 1,2,3,5 score; conjunctive: only doc 1 has both
    assert(!rows(0).isNullAt(1) && !rows(1).isNullAt(1) &&
      !rows(2).isNullAt(1) && rows(3).isNullAt(1) && !rows(4).isNullAt(1))
    assert(!rows(0).isNullAt(2))
    assert((1 to 4).filter(i => !rows(i).isNullAt(2)).isEmpty,
      "conjunctive must score only documents containing every term")
  }

  test("overwrite guard, drop_fts_index, and missing-index error") {
    seed()
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content')")
    val dup = intercept[IllegalArgumentException] {
      psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content')")
    }
    assert(dup.getMessage.contains("overwrite"))
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content', overwrite := 1)")
    psql.sql("PRAGMA drop_fts_index('graft_fts_d')")
    assert(!spark.catalog.tableExists("fts_main_graft_fts_d_terms"))
    val miss = intercept[IllegalArgumentException] {
      psql.sql("select fts_main_graft_fts_d.match_bm25(id, 'hello') as s from graft_fts_d")
    }
    assert(miss.getMessage.contains("create_fts_index"))
  }

  test("DEFAULT tokenization is DuckDB's: porter + stopwords + lower + strip_accents + ignore") {
    cleanup()
    Seq(
      (1L, "The RUNNING föxes ran quickly!"),
      (2L, "a fox is not a dog; the dogs were running."),
      (3L, "nothing relevant here at all"))
      .toDF("id", "content").createOrReplaceTempView("graft_fts_d")
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content')")
    // dl counts POST-stopword tokens: doc1 = running foxes ran quickly (4),
    // doc2 = fox dog dogs running (4), doc3 = nothing relevant (2)
    assert(stats() == ((3L, 10L)), stats())
    // the index holds STEMS: running→run, foxes→fox (accent stripped), dogs→dog
    val terms = spark.table("fts_main_graft_fts_d_terms")
      .select("term").distinct().collect().map(_.getString(0)).toSet
    assert(terms.contains("run") && terms.contains("fox") && terms.contains("dog"), terms.mkString(","))
    assert(!terms.contains("running") && !terms.contains("the"), terms.mkString(","))
    // QUERY terms normalize with the index's own options: "Running FOX!"
    // probes run+fox — both docs 1 and 2 score, doc 1 higher (2 hits incl. ran? no: run once, fox once each)
    val r = psql.sql("select id, fts_main_graft_fts_d.match_bm25(id, 'Running FOX!') as s " +
      "from graft_fts_d order by id").collect()
    assert(!r(0).isNullAt(1) && !r(1).isNullAt(1) && r(2).isNullAt(1), r.mkString(";"))
    // an all-stopword query yields NULL for every document (no error)
    val allStop = psql.sql("select id, fts_main_graft_fts_d.match_bm25(id, 'the is of') as s " +
      "from graft_fts_d order by id").collect()
    assert(allStop.forall(_.isNullAt(1)), allStop.mkString(";"))
    psql.sql("PRAGMA drop_fts_index('graft_fts_d')")
    cleanup()
  }

  test("stemmer := 'english' (porter2) and the stem() scalar are available") {
    seed()
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content', stemmer := 'english')")
    assert(spark.catalog.tableExists("fts_main_graft_fts_d_terms"))
    psql.sql("PRAGMA drop_fts_index('graft_fts_d')")
    // unknown stemmers still throw honestly
    val e1 = intercept[IllegalArgumentException] {
      psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content', stemmer := 'arabic')")
    }
    assert(e1.getMessage.contains("stemmer"), e1.getMessage)
    // DuckDB fts stem() scalar, always available here
    val s = psql.sql("select stem('consistency', 'porter') as a, " +
      "stem('running', 'english') as b, stem('fox', 'none') as c").collect()(0)
    assert((s.getString(0), s.getString(1), s.getString(2)) == (("consist", "run", "fox")))
    // the exact-token spelling keeps the r07 contract
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content', " +
      "stemmer := 'none', stopwords := 'none', ignore := '', lower := 0, " +
      "strip_accents := 0, overwrite := 1)")
    assert(stats() == ((5L, 12L)))
    cleanup()
  }

  test("match_bm25 scores views are statement-scoped: catalog stays stable") {
    seed()
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content')")
    def viewCount: Int = spark.catalog.listTables().collect()
      .count(_.name.startsWith("graft_fts_scores_"))
    val before = viewCount
    // N distinct queries — each registers a distinct-keyed view during the
    // rewrite; all must be dropped once the statement is analyzed
    (1 to 5).foreach { i =>
      val r = psql.sql(s"select id, fts_main_graft_fts_d.match_bm25(id, 'hello q$i') as s " +
        "from graft_fts_d order by id").collect()
      assert(r.length == 5)
    }
    assert(viewCount == before,
      s"scores views leaked: $viewCount registered vs $before before")
    psql.sql("PRAGMA drop_fts_index('graft_fts_d')")
    cleanup()
  }

  test("the reference-style fts script runs end-to-end after LOAD fts") {
    seed()
    psql.sql("install fts")
    psql.sql("load fts")
    psql.sql("PRAGMA create_fts_index('graft_fts_d', 'id', 'content', overwrite := 1)")
    val top = psql.sql("from graft_fts_d " +
      "|> select id, fts_main_graft_fts_d.match_bm25(id, 'hello world') as score " +
      "|> where score is not null |> order by score desc, id |> limit 2").collect()
    assert(top.length == 2)
    cleanup()
  }
}
