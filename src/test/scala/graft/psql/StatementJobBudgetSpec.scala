package graft.psql

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBusDrain
import org.apache.spark.sql.util.QueryExecutionListener

/** Job budget of the write-statement lowerings — the keyed upsert (`INSERT
  * … ON CONFLICT DO UPDATE` and `INSERT OR REPLACE` into a PRIMARY KEY
  * table), plain INSERT and `INSERT … RETURNING`, plain UPDATE with and
  * without a key-touching SET, `UPDATE … FROM`, MERGE, DELETE under
  * foreign-key enforcement, DELETE and UPDATE on a partitioned table, a
  * MERGE inserting into a NULL partition, the FTS index build (`PRAGMA
  * create_fts_index`) — and of the SemDeDup, kCore, pageRank, curate and
  * funnel operators. Each test counts the query executions
  * and Spark jobs one statement or operator starts and pins them at their
  * current values: a change that adds a job or a query execution fails
  * here, and must lower the pin again or justify raising it in the same
  * change.
  */
class StatementJobBudgetSpec extends SparkSpec {

  private lazy val psql = Psql(spark)

  /** (query executions, jobs) started while `body` runs. */
  private def counted(body: => Unit): (Int, Int) = {
    val qes = new AtomicInteger
    val jobs = new AtomicInteger
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qes.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        qes.incrementAndGet()
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    info(s"query executions: ${qes.get}, jobs: ${jobs.get}")
    (qes.get, jobs.get)
  }

  test("keyed ON CONFLICT DO UPDATE: one guard-and-count aggregate, then one write") {
    val t = "graft_jb_upsert"
    Seq(t, t + "__graft_cow").foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    psql.sql(s"create table $t (k bigint primary key, v double not null, s varchar)")
    psql.sql(s"insert into $t values (1, 10.0, 'a'), (2, 20.0, 'b'), (3, 30.0, 'c')")
    // one update (k = 2) and one insert (k = 9): the copy-on-write path
    val (qes, jobs) = counted {
      val n = psql.sql(s"""insert into $t values (2, 5.0, 'x'), (9, 90.0, 'z')
        |on conflict do update set v = v + excluded.v, s = excluded.s""".stripMargin)
        .collect()(0).getLong(0)
      assert(n == 2L)
    }
    assert(spark.table(t).orderBy("k").collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq((1L, 10.0, "a"), (2L, 25.0, "x"), (3L, 30.0, "c"), (9L, 90.0, "z")))
    assert(qes <= 12, s"query executions rose to $qes (pinned at 12)")
    assert(jobs <= 7, s"jobs rose to $jobs (pinned at 7)")
  }

  test("create_fts_index: one postings write carrying df, stats in table properties") {
    import spark.implicits._
    graft.operators.Bucketing.dropTableAndLocation(spark, "fts_main_graft_jb_docs_terms")
    (1 to 200).map(i => (i.toLong, s"doc $i mentions term${i % 17} and word${i % 5}"))
      .toDF("id", "content").createOrReplaceTempView("graft_jb_docs")
    val (qes, jobs) = counted {
      psql.sql("PRAGMA create_fts_index('graft_jb_docs', 'id', 'content')")
    }
    val props = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("fts_main_graft_jb_docs_terms")).properties
    assert(props("graft.fts.n_docs") == "200", props)
    // AQE sizes the term-partitioned postings from the data: one file here
    assert(spark.table("fts_main_graft_jb_docs_terms").inputFiles.length == 1)
    // match_bm25 reads the statistics from the catalog: no job
    val (_, scoreJobs) = counted {
      psql.sql("select id, fts_main_graft_jb_docs.match_bm25(id, 'term3') as s from graft_jb_docs")
    }
    assert(scoreJobs == 0, s"building a match_bm25 query ran $scoreJobs jobs")
    psql.sql("PRAGMA drop_fts_index('graft_jb_docs')")
    assert(qes <= 5, s"query executions rose to $qes (pinned at 5; 13 with the docfreq/stats tables)")
    assert(jobs <= 3, s"jobs rose to $jobs (pinned at 3; 8 with the docfreq/stats tables)")
  }

  test("plain INSERT: a GROUP BY source skips the in-batch duplicate aggregate") {
    val t = "graft_jb_insert"
    graft.operators.Bucketing.dropTableAndLocation(spark, t)
    psql.sql(s"create table $t (k bigint primary key, v double)")
    spark.range(0, 50).selectExpr("id % 10 as k", "cast(id as double) as v")
      .createOrReplaceTempView("graft_jb_insert_src")
    // the plan proves k unique, so the in-batch duplicate aggregate does
    // not run; only the table probe does
    val (qes, jobs) = counted {
      psql.sql(s"insert into $t select k, max(v) as v from graft_jb_insert_src group by k")
    }
    assert(spark.table(t).count() == 10L)
    assert(qes <= 5, s"query executions rose to $qes (pinned at 5)")
    assert(jobs <= 6, s"jobs rose to $jobs (pinned at 6)")
    // a VALUES batch proves nothing: its duplicate key still fails the
    // statement with the batch-duplicate message, and nothing is written
    val e = intercept[IllegalArgumentException] {
      psql.sql(s"insert into $t values (100, 1.0), (100, 2.0)")
    }
    assert(e.getMessage == s"""INSERT into $t: Duplicate key "k: 100" violates primary """ +
      "key constraint (proposed twice in one batch)", e.getMessage)
    assert(spark.table(t).count() == 10L)
  }

  /** Fresh table `t` (and its copy-on-write shadow) built by `ddl`, then
    * filled by `rows`.
    */
  private def fresh(t: String, ddl: String, rows: String): Unit = {
    Seq(t, t + "__graft_cow").foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    psql.sql(ddl)
    psql.sql(s"insert into $t $rows")
  }

  private def pinned(what: String, got: (Int, Int), qes: Int, jobs: Int): Unit = {
    assert(got._1 <= qes, s"$what: query executions rose to ${got._1} (pinned at $qes)")
    assert(got._2 <= jobs, s"$what: jobs rose to ${got._2} (pinned at $jobs)")
  }

  private def ks(t: String): Seq[Long] =
    spark.table(t).orderBy("k").collect().map(_.getLong(0)).toSeq

  test("plain UPDATE: a non-key SET and a key-touching SET") {
    val t = "graft_jb_update"
    fresh(t, s"create table $t (k bigint primary key, v double not null)",
      "values (1, 1.0), (2, 2.0), (3, 3.0)")
    val plain = counted {
      assert(psql.sql(s"update $t set v = v + 1 where k = 2").collect()(0).getLong(0) == 1L)
    }
    val keyed = counted {
      assert(psql.sql(s"update $t set k = k + 100 where k = 1").collect()(0).getLong(0) == 1L)
    }
    assert(ks(t) == Seq(2L, 3L, 101L))
    assert(spark.table(t).where("k = 2").collect()(0).getDouble(1) == 3.0)
    pinned("UPDATE SET v", plain, 9, 3)
    pinned("UPDATE SET k", keyed, 10, 5)
  }

  test("DELETE with foreign-key enforcement on: the parent-side probe, then the swap") {
    val (p, c) = ("graft_jb_fkdel_p", "graft_jb_fkdel_c")
    fresh(p, s"create table $p (k bigint primary key)", "values (1), (2), (3)")
    fresh(c, s"create table $c (id bigint, k bigint references $p (k))", "values (10, 1)")
    psql.sql("set graft_enforce_foreign_keys = true")
    try {
      val got = counted {
        assert(psql.sql(s"delete from $p where k = 3").collect()(0).getLong(0) == 1L)
      }
      assert(ks(p) == Seq(1L, 2L))
      pinned("DELETE, FK on", got, 10, 6)
    } finally psql.sql("reset graft_enforce_foreign_keys")
  }

  test("MERGE with update, insert and delete clauses") {
    val t = "graft_jb_merge"
    fresh(t, s"create table $t (k bigint primary key, v double not null)",
      "values (1, 1.0), (2, 2.0), (3, 3.0)")
    val got = counted {
      val n = psql.sql(s"""merge into $t using (select * from values (1, 10.0), (2, 0.0), (7, 7.0)
        |as s(k, v)) s on $t.k = s.k
        |when matched and s.v = 0 then delete
        |when matched then update set v = s.v
        |when not matched then insert values (s.k, s.v)""".stripMargin)
        .collect()(0).getLong(0)
      assert(n == 3L)
    }
    assert(ks(t) == Seq(1L, 3L, 7L))
    pinned("MERGE", got, 11, 10)
  }

  test("UPDATE … FROM rides the MERGE pipeline") {
    val t = "graft_jb_updfrom"
    fresh(t, s"create table $t (k bigint primary key, v double not null)",
      "values (1, 1.0), (2, 2.0), (3, 3.0)")
    val got = counted {
      val n = psql.sql(s"""update $t set v = s.nv
        |from (select 2 as k, 20.0 as nv) as s where $t.k = s.k""".stripMargin)
        .collect()(0).getLong(0)
      assert(n == 1L)
    }
    assert(spark.table(t).where("k = 2").collect()(0).getDouble(1) == 20.0)
    pinned("UPDATE … FROM", got, 9, 7)
  }

  test("INSERT OR REPLACE: the keyed upsert with every non-key column replaced") {
    val t = "graft_jb_replace"
    fresh(t, s"create table $t (k bigint primary key, v double not null)",
      "values (1, 1.0), (2, 2.0)")
    val got = counted {
      assert(psql.sql(s"insert or replace into $t values (2, 20.0), (5, 5.0)")
        .collect()(0).getLong(0) == 2L)
    }
    assert(ks(t) == Seq(1L, 2L, 5L))
    pinned("INSERT OR REPLACE", got, 12, 7)
  }

  test("INSERT … RETURNING: the batch feeds the append and the projection") {
    val t = "graft_jb_returning"
    fresh(t, s"create table $t (k bigint primary key, v double not null)", "values (1, 1.0)")
    val got = counted {
      assert(psql.sql(s"insert into $t values (2, 2.0), (3, 3.0) returning k * 10 as k10")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(20L, 30L))
    }
    assert(ks(t) == Seq(1L, 2L, 3L))
    pinned("INSERT … RETURNING", got, 8, 9)
  }

  test("DELETE and UPDATE on a partitioned table take the pruned path") {
    val t = "graft_jb_part"
    fresh(t, s"create table $t (k bigint, v double, d date) using parquet partitioned by (d)",
      "values (1, 1.0, date '2024-01-01'), (2, 2.0, date '2024-01-01'), " +
        "(3, 3.0, date '2024-01-02'), (4, 4.0, date '2024-01-03')")
    val upd = counted {
      assert(psql.sql(s"update $t set v = v * 10 where d = date '2024-01-01' and k = 1")
        .collect()(0).getLong(0) == 1L)
    }
    // k = 3 empties partition 2024-01-02, which the statement drops
    val del = counted {
      assert(psql.sql(s"delete from $t where k in (2, 3)").collect()(0).getLong(0) == 2L)
    }
    assert(ks(t) == Seq(1L, 4L))
    assert(spark.table(t).where("k = 1").collect()(0).getDouble(1) == 10.0)
    assert(spark.sql(s"show partitions $t").collect().map(_.getString(0)).toSeq ==
      Seq("d=2024-01-01", "d=2024-01-03"))
    pinned("partitioned UPDATE", upd, 3, 3)
    pinned("partitioned DELETE", del, 5, 5)
  }

  test("MERGE inserting into a NULL partition: the inserts are materialized once") {
    val t = "graft_jb_merge_nullpart"
    fresh(t, s"create table $t (k bigint, v double, p int) using parquet partitioned by (p)",
      "values (1, 1.0, 1), (2, 2.0, 2)")
    // the insert lands in the NULL partition, which no partition literal
    // names: the statement leaves the pruned path for the full rewrite
    val got = counted {
      val n = psql.sql(s"""merge into $t using (select * from values (1, 10.0, 1), (5, 5.0, null)
        |as s(k, v, p)) s on $t.k = s.k
        |when matched then update set v = s.v
        |when not matched then insert values (s.k, s.v, s.p)""".stripMargin)
        .collect()(0).getLong(0)
      assert(n == 2L)
    }
    assert(ks(t) == Seq(1L, 2L, 5L))
    assert(spark.table(t).where("k = 1").collect()(0).getDouble(1) == 10.0)
    assert(spark.table(t).where("k = 5").collect()(0).isNullAt(2))
    pinned("MERGE into a NULL partition", got, 13, 18) // 15, 22 with the inserts counted twice
  }

  /** (query executions, jobs) of building `build`'s frame and collecting
    * it, with the collected rows.
    */
  private def operatorRun(build: => org.apache.spark.sql.DataFrame)
      : ((Int, Int), Seq[org.apache.spark.sql.Row]) = {
    var rows: Seq[org.apache.spark.sql.Row] = Nil
    val got = counted { rows = build.collect().toSeq }
    (got, rows)
  }

  private def sf(table: String) =
    spark.read.parquet(s"/root/testdata/sf0.001/$table.parquet")

  test("kCore on the g06 graph: build and collect") {
    import org.apache.spark.sql.functions.col
    val (got, rows) = operatorRun {
      val edges = sf("lineitem")
        .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      graft.operators.GraphOps.kCore(edges, "src", "dst", k = 3, rounds = 6).orderBy("node")
    }
    assert(rows.size == 1337)
    pinned("kCore", got, 6, 14)
  }

  test("pageRank with redistributeDangling: build and collect") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    val (got, rows) = operatorRun {
      val edges = sf("events").select(col("user_id").as("src"),
        get_json_object(col("props"), "$.k").cast("long").as("dst"))
      graft.operators.GraphOps.pageRankTopK(edges, "src", "dst", k = 20, iterations = 10,
        redistributeDangling = true)
    }
    assert(rows.size == 20)
    pinned("pageRank, dangling", got, 6, 59)
  }

  test("curate with clusterDedup: build and collect") {
    val (got, rows) = operatorRun {
      graft.operators.TrainingPipeline.curate(sf("documents"), minQuality = 0.2,
        jaccardThreshold = 0.8, clusterDedup = true)
    }
    assert(rows.size == 476)
    pinned("curate", got, 8, 36)
  }

  test("funnel: build and collect") {
    val (got, rows) = operatorRun {
      graft.operators.Funnels.funnel(sf("events"), Seq("view", "click", "purchase"))
    }
    assert(rows.size == 3)
    pinned("funnel", got, 4, 13)
  }

  test("semDedup: the scale guard and the centroid sample are its only eager jobs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    var out: org.apache.spark.sql.DataFrame = null
    val (buildQes, buildJobs) = counted {
      out = graft.operators.Dedup.semDedup(emb, "vec_id", "embedding", eps = 0.4)
    }
    val (_, runJobs) = counted { assert(out.count() > 0) }
    assert(buildQes <= 2, s"build query executions rose to $buildQes (pinned at 2)")
    assert(buildJobs <= 3, s"build jobs rose to $buildJobs (pinned at 3)")
    assert(runJobs <= 8, s"execution jobs rose to $runJobs (pinned at 8)")
  }
}
