package graft.psql

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBusDrain
import org.apache.spark.sql.util.QueryExecutionListener

/** Job budget of two write-statement lowerings: the keyed upsert (`INSERT
  * … ON CONFLICT DO UPDATE` into a PRIMARY KEY table) and the FTS index
  * build (`PRAGMA create_fts_index`). Each test counts the query
  * executions and Spark jobs one statement starts and pins them at their
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

  test("create_fts_index: AQE-sized postings, one stats aggregate, one docfreq aggregate") {
    import spark.implicits._
    Seq("fts_main_graft_jb_docs_terms", "fts_main_graft_jb_docs_docfreq",
      "fts_main_graft_jb_docs_stats").foreach(
      graft.operators.Bucketing.dropTableAndLocation(spark, _))
    (1 to 200).map(i => (i.toLong, s"doc $i mentions term${i % 17} and word${i % 5}"))
      .toDF("id", "content").createOrReplaceTempView("graft_jb_docs")
    val (qes, jobs) = counted {
      psql.sql("PRAGMA create_fts_index('graft_jb_docs', 'id', 'content')")
    }
    val st = spark.table("fts_main_graft_jb_docs_stats").collect()(0)
    assert(st.getLong(0) == 200L, st.toString)
    // AQE sizes the range-partitioned postings from the data: one file here
    assert(spark.table("fts_main_graft_jb_docs_terms").inputFiles.length == 1)
    psql.sql("PRAGMA drop_fts_index('graft_jb_docs')")
    assert(qes <= 13, s"query executions rose to $qes (pinned at 13)")
    assert(jobs <= 8, s"jobs rose to $jobs (pinned at 8)")
  }
}
