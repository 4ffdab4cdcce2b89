package graft.psql

import graft.SparkSpec
import org.apache.spark.sql.Row

/** DuckDB inline ordered aggregates `agg(args ORDER BY keys)`
  * (OrderedAggs.scala). Expected values below were pinned by running the
  * same statements on DuckDB 1.0 (including the NULL-sort-key rows that a
  * naive min_by/max_by mapping drops); cross-engine equality over real
  * data is gate row q85.
  */
class OrderedAggsSpec extends SparkSpec {

  private lazy val psql = {
    import spark.implicits._
    Seq((1, Option("b"), 2), (1, Option("a"), 3), (2, Option("c"), 1), (1, None, 9))
      .toDF("k", "s", "n").createOrReplaceTempView("oa")
    Psql(spark)
  }

  test("string_agg ORDER BY becomes WITHIN GROUP (exact ordered concat)") {
    val r = PsqlRewriter.rewrite("from t |> select string_agg(s, ',' order by s desc) as a")
    assert(r.contains("string_agg(s, ',') WITHIN GROUP (ORDER BY s DESC)"))
    assert(psql.sql("from oa |> select k, string_agg(s, ',' order by s desc) as a group by k |> order by k")
      .collect().toSeq == Seq(Row(1, "b,a"), Row(2, "c")))
  }

  test("array_agg ORDER BY sorts with NULL keys last by default (DuckDB default_null_order)") {
    val df = psql.sql("from oa |> select k, array_agg(n order by s) as a group by k |> order by k")
    assert(df.collect().map(_.getSeq[Int](1).toList).toList == List(List(3, 2, 9), List(1)))
  }

  test("array_agg ORDER BY DESC keeps NULL keys last; NULLS FIRST overrides") {
    val d = psql.sql("from oa |> select k, array_agg(n order by s desc) as a group by k |> order by k")
    assert(d.collect().head.getSeq[Int](1).toList == List(2, 3, 9))
    val nf = psql.sql("from oa |> select k, array_agg(n order by s nulls first) as a group by k |> order by k")
    assert(nf.collect().head.getSeq[Int](1).toList == List(9, 3, 2))
  }

  test("first/last ORDER BY: NULL-key rows participate exactly as in DuckDB (8-case table)") {
    // DuckDB 1.0: f=3 l=9 fd=2 ld=9 fnf=9 on group k=1
    val df = psql.sql("""from oa |>
      |select k, first(n order by s) as f, last(n order by s) as l,
      |  first(n order by s desc) as fd, last(n order by s desc) as ld,
      |  first(n order by s nulls first) as fnf
      |  group by k |> order by k""".stripMargin)
    assert(df.collect().toSeq == Seq(Row(1, 3, 9, 2, 9, 9), Row(2, 1, 1, 1, 1, 1)))
  }

  test("order-insensitive aggregates drop the ORDER BY tail") {
    val r = PsqlRewriter.rewrite("from t |> select sum(n order by s) as x")
    assert(r.contains("sum(n)") && !r.toLowerCase.contains("order by s"))
  }

  test("multi-key ordering with mixed directions") {
    val df = psql.sql(
      "from oa |> select array_agg(n order by k desc, s asc) as a")
    assert(df.collect().head.getSeq[Int](0).toList == List(1, 3, 2, 9))
  }

  test("first/last with mixed-direction keys fall back to the sorted-array route") {
    val r = PsqlRewriter.rewrite("from t |> select first(n order by a desc, b asc) as f")
    assert(r.contains("element_at") && r.contains("array_sort"))
    // order: k desc then s asc (nulls last) → k=1 group first: (2,a)->3 … last: (1,null)->9?
    val df = psql.sql("from oa |> select first(n order by k desc, s asc) as f, last(n order by k desc, s asc) as l")
    assert(df.collect().toSeq == Seq(Row(1, 9)))
  }

  test("ORDER BY inside a nested subquery argument is untouched") {
    val q = "select sum(x) from (select n as x from t order by n) z"
    assert(OrderedAggs.rewrite(q) == q)
  }

  test("window OVER(ORDER BY ...) is not an inline ordered aggregate") {
    val q = "select sum(n) over (order by s) from t"
    assert(OrderedAggs.rewrite(q) == q)
  }

  test("every ordered aggregate is rewritten, however many the statement holds") {
    val n = 101
    val cols = (1 to n).map(i => s"array_agg(n order by s) as a$i").mkString(", ")
    val r = OrderedAggs.rewrite(s"select $cols from oa")
    assert("array_sort".r.findAllMatchIn(r).size == n)
    assert(!r.toLowerCase.contains("order by s)"))
    val row = psql.sql(s"from oa |> select $cols").collect().head
    assert((0 until n).forall(i => row.getSeq[Int](i).toList == List(3, 2, 1, 9)))
  }
}
