package graft.psql

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parser-injection path: `spark.sql` itself understands PSQL when the
  * session is built with [[PsqlSparkExtension]] — the analog of the
  * reference's `LOAD psql` (`test/sql/psql.test:15`).
  */
class PsqlSparkExtensionSpec extends SparkSpec {

  private def withExtendedSession[T](f: SparkSession => T): T = {
    spark // force the shared base session (and its SparkContext) first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new PsqlSparkExtension)
        .getOrCreate() // reuses the JVM's SparkContext, new SessionState
      f(s)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  /** `f` over `q` through both front doors — `spark.sql` with the
    * extension and [[Psql.sql]] — which share one query path: the two
    * results must be equal.
    */
  private def bothDoors[T](s: SparkSession, q: String)(f: DataFrame => T): T = {
    val viaParser = f(s.sql(q))
    val viaLibrary = f(Psql(s).sql(q))
    assert(viaParser == viaLibrary, q)
    viaParser
  }

  test("spark.sql runs pipe queries directly with the extension installed") {
    withExtendedSession { s =>
      import s.implicits._
      Seq((1, "a"), (2, "b"), (3, "a")).toDF("i", "g").createOrReplaceTempView("ext_t")
      // the bare pipe query, the same behind a leading comment, and Spark's
      // own `|> AGGREGATE` stage (the rewrite's native-pipe fallback)
      Seq("from ext_t |> where i > 1 |> select g, count() as n group by g |> order by g",
        "-- note\nfrom ext_t |> where i > 1 |> select g, count() as n group by g |> order by g",
        "from ext_t |> where i > 1 |> aggregate count(*) as n group by g |> order by g")
        .foreach { q =>
          val out = bothDoors(s, q)(_.collect().map(r => (r.getString(0), r.getLong(1))).toList)
          assert(out == List(("a", 1L), ("b", 1L)), q)
        }
    }
  }

  test("bare FROM-first works; plain SQL and expressions pass through") {
    withExtendedSession { s =>
      import s.implicits._
      Seq(5, 6).toDF("i").createOrReplaceTempView("ext_t2")
      assert(s.sql("from ext_t2").count() == 2)
      assert(s.sql("SELECT 41 + 1 AS x").collect().head.getInt(0) == 42)
      // non-plan parser paths still work (expression / identifier parsing)
      assert(s.table("ext_t2").filter("i > 5").count() == 1)
    }
  }

  test("quoted-path scan works through spark.sql") {
    withExtendedSession { s =>
      val n = s.sql("from '/root/reference/example/customers.csv' |> select count() as n")
        .collect().head.getLong(0)
      assert(n == 59L)
    }
  }

  test("DDL statements are never cut at a by-name union (clear error, not a mangled plan)") {
    withExtendedSession { s =>
      import s.implicits._
      Seq(1).toDF("i").createOrReplaceTempView("ext_ddl_t")
      // plain DDL keeps working through the injected parser
      s.sql("create temporary view ext_ddl_v as select i from ext_ddl_t")
      assert(s.table("ext_ddl_v").count() == 1)
      s.catalog.dropTempView("ext_ddl_v")
      // DDL containing a top-level by-name union must raise the explicit
      // unsupported error, not split mid-command into Union(CreateView, …)
      val e = intercept[IllegalArgumentException] {
        s.sql("create view ext_bad_v as select 1 as i union by name select 2 as i")
      }
      assert(e.getMessage.contains("UNION BY NAME"), e.getMessage)
    }
  }

  test("asof join stage works through the injected parser") {
    withExtendedSession { s =>
      import s.implicits._
      Seq((1L, "u1", 10L), (2L, "u1", 25L)).toDF("id", "k", "t")
        .createOrReplaceTempView("ext_asof_l")
      Seq(("u1", 10L, "a"), ("u1", 20L, "b")).toDF("k", "rt", "v")
        .createOrReplaceTempView("ext_asof_r")
      val out = bothDoors(s,
        "from ext_asof_l |> as l asof join ext_asof_r as r on l.k = r.k and l.t >= r.rt |> order by id")(
        _.select("id", "v").as[(Long, String)].collect().toList)
      assert(out == List((1L, "a"), (2L, "b")), out)
    }
  }

  test("version() resolves to the engine version through spark.sql") {
    withExtendedSession { s =>
      assert(s.sql("select version() as v").head.getString(0) == Psql.versionString)
    }
  }

  test("union by name and plain-paren CTE heads work through spark.sql") {
    withExtendedSession { s =>
      import s.implicits._
      Seq((1, 10), (2, 20)).toDF("i", "j").createOrReplaceTempView("ext_t3")
      // by-name: reordered projections meet by name and dedup
      // the trailing `|> select j, i` is a pipe tail over the whole union
      assert(bothDoors(s, "from ext_t3 |> select i, j union by name from ext_t3 |> select j, i")(
        _.collect().map(_.toString).sorted.toList) == List("[10,1]", "[20,2]"))
      assert(bothDoors(s, "from ext_t3 |> select i, j union all by name from ext_t3 |> select j, i")(
        _.count()) == 4)
      // plain-paren CTE head with a pipe tail
      val r = s.sql("with x as (select * from ext_t3) from x |> where i = 2 |> select j").collect()
      assert(r.length == 1 && r.head.getInt(0) == 20)
    }
  }
}
