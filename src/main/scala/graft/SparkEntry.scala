package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.psql.Psql

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with an equivalent DuckDB oracle SQL where the semantics
  * are SQL-expressible (driver hash-compares both at sf0.01).
  *
  * Numeric determinism notes (cross-engine hash matching):
  *   - money columns (2-decimal doubles) are summed as DECIMAL(18,2) — exact,
  *     order-independent — then cast back to double for a common result type;
  *   - every ORDER BY feeding a LIMIT carries a unique tiebreak key;
  *   - count()/aliases match between Spark and oracle columns by name.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The README
    * pipeline shape (reference README.md:7-33) over the TPC-H-ish tables.
    */
  def entry(spark: SparkSession): DataFrame = {
    Tables.register(spark, "/root/testdata/sf0.001")
    Psql(spark).sql(
      """from lineitem |>
        |where l_shipdate >= date '1995-01-01' |>
        |select *, 0.05 as fee_rate, l_extendedprice * (1 - l_discount) as net |>
        |select l_orderkey, sum(net) as revenue, count() as n_items group by l_orderkey |>
        |as big join orders on big.l_orderkey = orders.o_orderkey |>
        |select o_custkey, revenue, n_items, o_orderdate |>
        |order by revenue desc |>
        |limit 100""".stripMargin)
  }

  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private[graft] def psql(text: String): (SparkSession, String) => DataFrame =
    (s, dir) => { Tables.register(s, dir); Psql(s).sql(text) }

  /** Exact money aggregation: DECIMAL(18,2) keeps cross-engine sums
    * bit-identical regardless of partitioning / add order.
    */
  private def dsum(col: String, alias: String): String =
    s"cast(sum(cast($col as decimal(18,2))) as double) as $alias"

  // ---------------------------------------------------------------------
  // Core SQL surface (SURVEY §2.B / §2.C), expressed as PSQL pipelines.
  // ---------------------------------------------------------------------
  private val coreDefs: Vector[QueryDef] = Vector(
    QueryDef(
      "q01_pricing_summary",
      psql(s"""from lineitem |>
        |where l_shipdate <= date '1998-09-02' |>
        |select l_returnflag, l_linestatus,
        |  sum(l_quantity) as sum_qty,
        |  ${dsum("l_extendedprice", "sum_base_price")},
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2))) as double) as sum_disc_price,
        |  cast(avg(l_quantity) as double) as avg_qty,
        |  count() as count_order
        |  group by l_returnflag, l_linestatus |>
        |order by l_returnflag, l_linestatus""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2))) as double) AS sum_disc_price,
        |  cast(avg(l_quantity) as double) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= date '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef(
      "q02_lateral_project",
      psql("""from lineitem |>
        |select l_orderkey, l_linenumber, l_extendedprice, 0.9 as rate,
        |  cast(l_extendedprice * rate as double) as discounted |>
        |where discounted > 1000 |>
        |select l_orderkey, l_linenumber, discounted |>
        |order by discounted desc, l_orderkey, l_linenumber |>
        |limit 100""".stripMargin),
      Some("""SELECT l_orderkey, l_linenumber, discounted FROM (
        |  SELECT l_orderkey, l_linenumber, cast(l_extendedprice * 0.9 as double) AS discounted
        |  FROM lineitem) WHERE discounted > 1000
        |ORDER BY discounted DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    QueryDef(
      "q03_join_revenue",
      psql(s"""from customer |>
        |as c join orders on c.c_custkey = orders.o_custkey |>
        |join lineitem on o_orderkey = l_orderkey |>
        |select c_custkey, c_name,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2))) as double) as revenue,
        |  count() as n_items
        |  group by c_custkey, c_name |>
        |order by revenue desc, c_custkey |>
        |limit 20""".stripMargin),
      Some("""SELECT c_custkey, c_name,
        |  cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2))) as double) AS revenue,
        |  count(*) AS n_items
        |FROM customer c JOIN orders ON c.c_custkey = orders.o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    QueryDef(
      "q04_multi_join_dims",
      psql(s"""from supplier |>
        |as s join nation on s.s_nationkey = nation.n_nationkey |>
        |join region on n_regionkey = r_regionkey |>
        |select r_name, n_name, count() as n_suppliers, ${dsum("s_acctbal", "total_bal")}
        |  group by r_name, n_name |>
        |order by r_name, n_name""".stripMargin),
      Some("""SELECT r_name, n_name, count(*) AS n_suppliers,
        |  cast(sum(cast(s_acctbal as decimal(18,2))) as double) AS total_bal
        |FROM supplier s JOIN nation ON s.s_nationkey = nation.n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    QueryDef(
      "q05_left_join",
      psql("""from customer |>
        |as c left join orders on c.c_custkey = orders.o_custkey |>
        |select c_custkey, count(o_orderkey) as n_orders group by c_custkey |>
        |order by c_custkey""".stripMargin),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer c LEFT JOIN orders ON c.c_custkey = orders.o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q06_semi_join_in",
      psql("""from customer |>
        |where c_custkey in (select o_custkey from orders where o_orderstatus = 'F') |>
        |select c_custkey, c_name |>
        |order by c_custkey""".stripMargin),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q07_anti_join_exists",
      psql("""from customer |>
        |where not exists (select 1 from orders where o_custkey = c_custkey) |>
        |select c_custkey, c_acctbal |>
        |order by c_custkey""".stripMargin),
      Some("""SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q08_window_rank_qualify",
      psql("""from orders |>
        |select o_custkey, o_orderkey, o_totalprice
        |  qualify row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey) <= 3 |>
        |order by o_custkey, o_totalprice desc, o_orderkey""".stripMargin),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin)),

    QueryDef(
      "q09_window_running_sum",
      psql("""from events |>
        |select user_id, event_id,
        |  cast(sum(cast(value as decimal(18,2))) over (partition by user_id order by ts, event_id rows between unbounded preceding and current row) as double) as running_total |>
        |order by user_id, event_id |>
        |limit 1000""".stripMargin),
      Some("""SELECT user_id, event_id,
        |  cast(sum(cast(value as decimal(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_total
        |FROM events ORDER BY user_id, event_id LIMIT 1000""".stripMargin)),

    QueryDef(
      "q10_window_lead_lag",
      psql("""from events |>
        |select user_id, event_id,
        |  lag(event_type) over (partition by user_id order by ts, event_id) as prev_type,
        |  lead(event_type) over (partition by user_id order by ts, event_id) as next_type |>
        |order by user_id, event_id |>
        |limit 1000""".stripMargin),
      Some("""SELECT user_id, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |FROM events ORDER BY user_id, event_id LIMIT 1000""".stripMargin)),

    QueryDef(
      "q11_grouping_sets",
      psql(s"""from orders |>
        |select o_orderstatus, o_orderpriority, count() as cnt, ${dsum("o_totalprice", "total")}
        |  group by grouping sets ((o_orderstatus), (o_orderpriority), ()) |>
        |order by o_orderstatus, o_orderpriority, cnt""".stripMargin),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus, o_orderpriority, cnt""".stripMargin)),

    QueryDef(
      "q12_rollup",
      psql("""from lineitem |>
        |select l_returnflag, l_linestatus, count() as cnt
        |  group by rollup (l_returnflag, l_linestatus) |>
        |order by l_returnflag, l_linestatus, cnt""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus, cnt""".stripMargin)),

    QueryDef(
      "q13_cube",
      psql("""from lineitem |>
        |select l_returnflag, l_linestatus, sum(l_quantity) as qty
        |  group by cube (l_returnflag, l_linestatus) |>
        |order by l_returnflag, l_linestatus, qty""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus, qty""".stripMargin)),

    // ROLLUP over EMPTY input must still emit the `()` grand-total row (SQL
    // standard; DuckDB conforms). Vanilla Spark returns zero rows — the
    // dialect's empty-guard rewrite (PsqlRewriter.emptyGroupingKeys) unions
    // a HAVING count(*)=0 global-aggregate branch to restore it. The filter
    // is empty at every scale factor (quantities are positive).
    QueryDef(
      "q54_rollup_empty",
      psql("""from lineitem |>
        |where l_quantity < 0 |>
        |select l_returnflag, l_linestatus, count() as c,
        |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as s,
        |  cast(grouping(l_returnflag) as int) as g1, cast(grouping(l_linestatus) as int) as g2
        |  group by rollup (l_returnflag, l_linestatus) |>
        |order by g1, g2, l_returnflag, l_linestatus""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS c,
        |  cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS s,
        |  cast(grouping(l_returnflag) as int) AS g1, cast(grouping(l_linestatus) as int) AS g2
        |FROM lineitem WHERE l_quantity < 0
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g1, g2, l_returnflag, l_linestatus""".stripMargin)),

    QueryDef(
      "q14_distinct",
      psql("from lineitem |> select distinct l_returnflag, l_linestatus |> order by 1, 2"),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2")),

    QueryDef(
      "q15_count_distinct",
      psql("""from lineitem |>
        |select count(distinct l_partkey) as n_parts, count(distinct l_suppkey) as n_supps, count() as n_rows""".stripMargin),
      Some("SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows FROM lineitem")),

    QueryDef(
      "q16_having",
      psql("""from lineitem |>
        |select l_partkey, sum(l_quantity) as qty group by l_partkey having sum(l_quantity) > 100 |>
        |order by qty desc, l_partkey |>
        |limit 50""".stripMargin),
      Some("""SELECT l_partkey, sum(l_quantity) AS qty FROM lineitem
        |GROUP BY l_partkey HAVING sum(l_quantity) > 100
        |ORDER BY qty DESC, l_partkey LIMIT 50""".stripMargin)),

    QueryDef(
      "q17_setops",
      psql("""(| from orders |> where o_orderstatus = 'F' |> select o_custkey |)
        |union
        |(| from orders |> where o_totalprice > 100000 |> select o_custkey |)
        |order by o_custkey""".stripMargin),
      Some("""(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION
        |(SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        |ORDER BY o_custkey""".stripMargin)),

    QueryDef(
      "q18_intersect_except",
      psql("""(| (| from orders |> where o_orderstatus = 'F' |> select o_custkey |)
        |intersect
        |(| from orders |> where o_orderstatus = 'O' |> select o_custkey |) |)
        |except
        |(| from orders |> where o_totalprice > 200000 |> select o_custkey |)
        |order by o_custkey""".stripMargin),
      Some("""((SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |INTERSECT
        |(SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
        |EXCEPT
        |(SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |ORDER BY o_custkey""".stripMargin)),

    QueryDef(
      "q19_case_string_funcs",
      psql("""from customer |>
        |select c_custkey, upper(c_name) as uname,
        |  case when c_acctbal < 0 then 'neg' when c_acctbal < 5000 then 'mid' else 'high' end as seg,
        |  substr(c_mktsegment, 1, 3) as seg3,
        |  length(c_name) as name_len,
        |  c_name || '#' || c_mktsegment as tagged |>
        |order by c_custkey""".stripMargin),
      Some("""SELECT c_custkey, upper(c_name) AS uname,
        |  CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS seg,
        |  substr(c_mktsegment, 1, 3) AS seg3,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  c_name || '#' || c_mktsegment AS tagged
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q20_date_funcs",
      psql("""from orders |>
        |select cast(date_trunc('month', o_orderdate) as date) as month,
        |  cast(extract(year from o_orderdate) as int) as yr,
        |  count() as cnt group by 1, 2 |>
        |order by month, yr""".stripMargin),
      Some("""SELECT cast(date_trunc('month', o_orderdate) as date) AS month,
        |  cast(extract(year from o_orderdate) as int) AS yr,
        |  count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY month, yr""".stripMargin)),

    QueryDef(
      "q21_math_funcs",
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem
      // (11.8k dup groups at sf0.01), so the LIMIT boundary needs the full
      // output tuple as tiebreaker or the two engines pick different rows.
      // ceil/floor: Spark returns BIGINT, DuckDB DOUBLE — cast both to bigint.
      psql("""from lineitem |>
        |select l_orderkey, l_linenumber,
        |  cast(round(cast(l_extendedprice as decimal(18,2)), 1) as double) as r1,
        |  abs(l_discount - 0.05) as ad,
        |  cast(ceil(l_quantity / 7.0) as bigint) as c7,
        |  cast(floor(l_tax * 100) as bigint) as f100,
        |  mod(l_linenumber, 3) as m3 |>
        |order by l_orderkey, l_linenumber, r1, ad, c7, f100, m3 |>
        |limit 500""".stripMargin),
      Some("""SELECT l_orderkey, l_linenumber,
        |  cast(round(cast(l_extendedprice as decimal(18,2)), 1) as double) AS r1,
        |  abs(l_discount - 0.05) AS ad,
        |  cast(ceil(l_quantity / 7.0) as bigint) AS c7,
        |  cast(floor(l_tax * 100) as bigint) AS f100,
        |  mod(l_linenumber, 3) AS m3
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, r1, ad, c7, f100, m3 LIMIT 500""".stripMargin)),

    QueryDef(
      "q22_topk",
      psql("from orders |> order by o_totalprice desc, o_orderkey |> limit 10"),
      Some("SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    QueryDef(
      "q23_limit_offset",
      psql("from customer |> order by c_custkey |> limit 20 offset 5"),
      Some("SELECT * FROM customer ORDER BY c_custkey LIMIT 20 OFFSET 5")),

    QueryDef(
      "q24_cte_union_blocks",
      psql("""with x as (| from lineitem |> where l_returnflag = 'A' |> select l_orderkey |),
        |y as (| from lineitem |> where l_returnflag = 'R' |> select l_orderkey |)
        |from x union from y order by l_orderkey""".stripMargin),
      Some("""WITH x AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'),
        |y AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT * FROM x UNION SELECT * FROM y ORDER BY l_orderkey""".stripMargin)),

    QueryDef(
      "q25_scalar_subquery",
      psql("""from orders |>
        |where o_totalprice > (select avg(cast(o_totalprice as decimal(18,2))) from orders) |>
        |select count() as n_above""".stripMargin),
      Some("""SELECT count(*) AS n_above FROM orders
        |WHERE o_totalprice > (SELECT avg(cast(o_totalprice as decimal(18,2))) FROM orders)""".stripMargin)),

    QueryDef(
      "q26_unnest_wordcount",
      psql("""from documents |>
        |select explode(split(text, ' ')) as word |>
        |select word, count() as cnt group by word |>
        |order by cnt desc, word |>
        |limit 100""".stripMargin),
      Some("""SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin)),

    QueryDef(
      "q27_list_agg",
      psql("""from nation |>
        |select n_regionkey, array_join(sort_array(collect_list(n_name)), ',') as names
        |  group by n_regionkey |>
        |order by n_regionkey""".stripMargin),
      Some("""SELECT n_regionkey, array_to_string(list_sort(list(n_name)), ',') AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    QueryDef(
      "q28_theta_join",
      psql("""from nation |>
        |as n1 join nation as n2 on n1.n_regionkey < n2.n_regionkey |>
        |select count() as pairs""".stripMargin),
      Some("SELECT count(*) AS pairs FROM nation n1 JOIN nation n2 ON n1.n_regionkey < n2.n_regionkey")),

    QueryDef(
      "q29_qualify_latest",
      psql("""from events |>
        |select user_id, event_id, event_type, value
        |  qualify row_number() over (partition by user_id order by ts desc, event_id desc) = 1 |>
        |order by user_id""".stripMargin),
      Some("""SELECT user_id, event_id, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin)),

    QueryDef(
      "q30_filter_agg_clause",
      psql("""from lineitem |>
        |select l_returnflag,
        |  count(*) filter (where l_quantity > 25) as big_cnt,
        |  count(*) filter (where l_discount > 0.05) as disc_cnt,
        |  count() as total group by l_returnflag |>
        |order by l_returnflag""".stripMargin),
      Some("""SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS big_cnt,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS disc_cnt,
        |  count(*) AS total
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // sampling is engine-specific randomness: rows-only check (no oracle)
    QueryDef(
      "q31_sample",
      psql("from lineitem |> using sample 10% |> select l_orderkey, l_quantity"),
      None),

    // files-as-tables (reference README.md:8): the README pipeline shape over
    // the reference's own example CSVs, scanned by quoted path with schema
    // inference — exercises PathRelations end-to-end inside the gate
    QueryDef(
      "q33_csv_scan",
      psql("""from '/root/reference/example/invoices.csv' |>
        |where invoice_date >= date '2010-01-01' |>
        |select *, 0.8 as transaction_fees, total - transaction_fees as income |>
        |select customer_id, cast(avg(total) as double) as avg_total,
        |  cast(sum(income) as double) as sum_income, count() as ct
        |  group by customer_id |>
        |order by sum_income desc, customer_id |>
        |limit 10""".stripMargin),
      Some("""WITH inv AS (SELECT * FROM read_csv_auto('/root/reference/example/invoices.csv')),
        |base AS (SELECT CAST(customer_id AS INT) AS customer_id, total, total - 0.8 AS income
        |  FROM inv WHERE invoice_date >= DATE '2010-01-01')
        |SELECT customer_id, cast(avg(total) as double) AS avg_total,
        |  cast(sum(income) as double) AS sum_income, count(*) AS ct
        |FROM base GROUP BY customer_id
        |ORDER BY sum_income DESC, customer_id LIMIT 10""".stripMargin)),

    QueryDef(
      "q34_json_funcs",
      psql("""from documents |>
        |select doc_id, concat('{"lang":"', lang, '","n":', cast(n_chars as string), '}') as j |>
        |select doc_id, get_json_object(j, '$.lang') as jlang,
        |  cast(get_json_object(j, '$.n') as bigint) as jn |>
        |order by doc_id""".stripMargin),
      Some("""WITH j AS (SELECT doc_id, '{"lang":"' || lang || '","n":' || n_chars || '}' AS j
        |  FROM documents)
        |SELECT doc_id, json_extract_string(j, '$.lang') AS jlang,
        |  CAST(json_extract(j, '$.n') AS BIGINT) AS jn
        |FROM j ORDER BY doc_id""".stripMargin)),

    // table function as pipeline head (DuckDB range/generate_series)
    QueryDef(
      "q35_range_series",
      psql("""from range(1, 11) |>
        |select range as n, range * range as sq |>
        |order by n""".stripMargin),
      Some("SELECT range AS n, range * range AS sq FROM range(1, 11) ORDER BY n")),

    // struct/array construction + field access (dialect-specific builders,
    // same relational result)
    QueryDef(
      "q36_struct_array",
      psql("""from documents |>
        |select doc_id, named_struct('l', lang, 'n', n_chars) as s,
        |  array(n_chars, n_chars + 1) as arr |>
        |select doc_id, s.l as sl, s.n as sn,
        |  element_at(arr, 2) as a2, size(arr) as alen |>
        |order by doc_id""".stripMargin),
      Some("""SELECT doc_id, s.l AS sl, s.n AS sn, arr[2] AS a2,
        |  CAST(len(arr) AS INT) AS alen
        |FROM (SELECT doc_id, struct_pack(l := lang, n := n_chars) AS s,
        |        [n_chars, n_chars + 1] AS arr
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // exact interpolated percentiles (≡ DuckDB quantile_cont). The gate plan
    // is the scale-safe distributed selection (Percentiles.exactByGroup):
    // Spark's `percentile` is a TypedImperativeAggregate whose final buffer
    // holds EVERY group value on one executor — identical answers, but a
    // single-machine bottleneck at 100 TB with low-cardinality groups. The
    // dialect form (`percentile(...)` as a pipe stage) stays covered as a
    // spec-only cross-check in PlanQualitySpec, which also pins the absence
    // of the unbounded buffer from this gate plan.
    QueryDef(
      "q37_percentiles",
      (s, dir) => {
        Tables.register(s, dir)
        import org.apache.spark.sql.functions.col
        val li = s.table("lineitem")
        // both value columns in ONE distributed-selection pass (r17): one
        // global sort + one row-index job + one rank-pick join instead of
        // a full pipeline per column joined at the end — same exact values
        operators.Percentiles.exactByGroupMulti(li, "l_returnflag", Seq(
            "l_quantity" -> Seq("p50" -> 0.5, "p95" -> 0.95),
            "l_extendedprice" -> Seq("p25_price" -> 0.25)))
          .orderBy("l_returnflag")
          .select(col("l_returnflag"), col("p50"), col("p95"), col("p25_price"))
      },
      Some("""SELECT l_returnflag,
        |  cast(quantile_cont(l_quantity, 0.5) as double) AS p50,
        |  cast(quantile_cont(l_quantity, 0.95) as double) AS p95,
        |  cast(quantile_cont(l_extendedprice, 0.25) as double) AS p25_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // the 100 TB percentile path: approx_percentile is a bounded mergeable
    // sketch (map-side partial + merge), unlike q37's exact percentile whose
    // final-stage buffer holds every value of a group. Sketch outputs are
    // engine-specific (Spark GK vs DuckDB t-digest) → rows-only gate check;
    // PlanQualitySpec bounds the error against the exact result and pins the
    // partial-merge plan shape.
    QueryDef(
      "q43_approx_percentiles",
      psql("""from lineitem |>
        |select l_returnflag,
        |  cast(approx_percentile(l_quantity, 0.5, 10000) as double) as p50,
        |  cast(approx_percentile(l_quantity, 0.95, 10000) as double) as p95,
        |  cast(approx_percentile(l_extendedprice, 0.25, 10000) as double) as p25_price
        |  group by l_returnflag |>
        |order by l_returnflag""".stripMargin),
      None),

    // distribution window functions + a named WINDOW clause (B12 stage form):
    // ntile/percent_rank/cume_dist over a unique ordering are deterministic
    QueryDef(
      "q44_window_dist",
      psql("""from orders |>
        |select o_custkey, o_orderkey,
        |  cast(ntile(4) over w as int) as quartile,
        |  cast(percent_rank() over w as double) as pr,
        |  cast(cume_dist() over w as double) as cd
        |  window w as (partition by o_orderstatus order by o_totalprice, o_orderkey) |>
        |order by o_orderkey""".stripMargin),
      Some("""SELECT o_custkey, o_orderkey,
        |  cast(ntile(4) OVER w as int) AS quartile,
        |  cast(percent_rank() OVER w as double) AS pr,
        |  cast(cume_dist() OVER w as double) AS cd
        |FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // PIVOT as a pipe stage: the clause legally follows `FROM (sub)`, so the
    // stage assembler emits it as a from-suffix; oracle is the equivalent
    // conditional aggregation (DuckDB 1.0 PIVOT syntax differs — the manual
    // form is the portable one)
    QueryDef(
      "q45_pivot",
      psql("""from lineitem |>
        |select l_returnflag, l_linestatus |>
        |pivot (count(l_linestatus) for l_linestatus in ('O' as n_open, 'F' as n_filled)) |>
        |select l_returnflag, coalesce(n_open, 0) as n_open, coalesce(n_filled, 0) as n_filled |>
        |order by l_returnflag""".stripMargin),
      // Spark PIVOT yields NULL for empty cells (even under count) — the
      // coalesce stage normalizes to the conditional-aggregation oracle's 0
      Some("""SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_linestatus = 'O') AS n_open,
        |  count(*) FILTER (WHERE l_linestatus = 'F') AS n_filled
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // UNPIVOT stage (wide → long); oracle via UNION ALL
    QueryDef(
      "q46_unpivot",
      psql("""from lineitem |>
        |select l_orderkey, l_linenumber, l_quantity, l_discount, l_tax |>
        |unpivot include nulls (val for measure in (l_quantity, l_discount, l_tax)) |>
        |order by l_orderkey, l_linenumber, measure, val |>
        |limit 300""".stripMargin),
      // (l_orderkey, l_linenumber) duplicates exist in the synthetic data, so
      // the LIMIT boundary carries the full output tuple as tiebreak (cf q21)
      Some("""SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, measure, val LIMIT 300""".stripMargin)),

    // LATERAL correlated subquery in a join stage (per-customer top order)
    QueryDef(
      "q47_lateral_join",
      // LEFT lateral: INNER `join lateral (scalar agg)` diverges between the
      // engines when the correlated set is empty (a customer with no orders,
      // first seen at sf0.1) — Spark keeps the standard's one NULL aggregate
      // row, DuckDB's decorrelation drops the empty group (the classic
      // COUNT-bug shape). LEFT makes both engines keep the row with NULL.
      psql("""from customer |>
        |as c left join lateral (select max(o_totalprice) as max_price
        |  from orders where o_custkey = c.c_custkey) as t on true |>
        |select c_custkey, cast(max_price as double) as max_price |>
        |order by c_custkey""".stripMargin),
      Some("""SELECT c_custkey, cast(max_price as double) AS max_price
        |FROM customer c LEFT JOIN LATERAL (SELECT max(o_totalprice) AS max_price
        |  FROM orders WHERE o_custkey = c.c_custkey) t ON true
        |ORDER BY c_custkey""".stripMargin)),

    // DuckDB DISTINCT ON (no Spark equivalent — rewritten to a row_number
    // window over unprojected rows); oracle runs the native DuckDB form
    QueryDef(
      "q48_distinct_on",
      psql("""from events |>
        |select distinct on (user_id) user_id, event_id, event_type
        |  order by user_id, ts desc, event_id desc""".stripMargin),
      Some("""SELECT DISTINCT ON (user_id) user_id, event_id, event_type
        |FROM events ORDER BY user_id, ts DESC, event_id DESC""".stripMargin)),

    // DuckDB arg_max/arg_min → Spark max_by/min_by (function-name shim);
    // event_id is unique so the argmax picks are deterministic
    QueryDef(
      "q49_arg_max",
      psql("""from events |>
        |select user_id, arg_max(event_type, event_id) as last_type,
        |  arg_min(event_type, event_id) as first_type,
        |  count() as n group by user_id |>
        |order by user_id""".stripMargin),
      Some("""SELECT user_id, arg_max(event_type, event_id) AS last_type,
        |  arg_min(event_type, event_id) AS first_type, count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // outer-join variants beyond LEFT (q05): right, full, cross — delegated
    // semantics, gated so a dialect-shim regression (e.g. dedupJoinOn firing
    // on an outer join) cannot pass silently
    QueryDef(
      "q38_right_join",
      psql("""from orders |>
        |as o right join customer on o.o_custkey = customer.c_custkey |>
        |select c_custkey, o_orderkey |>
        |order by c_custkey, o_orderkey""".stripMargin),
      Some("""SELECT c_custkey, o_orderkey
        |FROM orders o RIGHT JOIN customer ON o.o_custkey = customer.c_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin)),

    QueryDef(
      "q39_full_join",
      psql("""from orders |>
        |as o full join customer on o.o_custkey = customer.c_custkey |>
        |select c_custkey, count(o_orderkey) as n_orders,
        |  count() as n_rows group by c_custkey |>
        |order by c_custkey""".stripMargin),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders, count(*) AS n_rows
        |FROM orders o FULL JOIN customer ON o.o_custkey = customer.c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q40_cross_join",
      psql("""from region |>
        |as r cross join nation |>
        |select r_name, n_name |>
        |order by r_name, n_name""".stripMargin),
      Some("""SELECT r_name, n_name FROM region r CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin)),

    // explicit NULLS FIRST under a LIMIT: null placement decides which rows
    // survive the cut (Spark's ASC default is nulls-first, DuckDB's is
    // nulls-last — only the explicit form is portable)
    QueryDef(
      "q41_nulls_ordering",
      psql("""from customer |>
        |select c_custkey,
        |  case when c_custkey % 7 = 0 then null else cast(c_acctbal as double) end as bal |>
        |order by bal desc nulls first, c_custkey |>
        |limit 250""".stripMargin),
      Some("""SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE cast(c_acctbal as double) END AS bal
        |FROM customer ORDER BY bal DESC NULLS FIRST, c_custkey LIMIT 250""".stripMargin)),

    // map construction + lookup + keys (flattened to scalars/strings: the
    // driver's canonicalizer hashes strings, not nested objects). DuckDB 1.0
    // map extraction returns a single-element LIST — hence [1].
    QueryDef(
      "q42_map_funcs",
      psql("""from documents |>
        |select doc_id, map('l', lang, 'n', cast(n_chars as string)) as m |>
        |select doc_id, element_at(m, 'l') as ml,
        |  concat_ws(',', map_keys(m)) as mk, cast(size(m) as int) as msz |>
        |order by doc_id""".stripMargin),
      Some("""SELECT doc_id, m['l'][1] AS ml,
        |  array_to_string(map_keys(m), ',') AS mk, cast(cardinality(m) as int) AS msz
        |FROM (SELECT doc_id, map(['l','n'], [lang, n_chars::VARCHAR]) AS m FROM documents)
        |ORDER BY doc_id""".stripMargin))
  )

  def defs: Vector[QueryDef] = coreDefs ++ OpsEntry.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap

  /** Hash-green PARITY SIBLING(s) for every `no_oracle` gate entry — the
    * machine-checkable record of why a row without a DuckDB oracle is
    * still covered. Each no-oracle row is approximate/stochastic by
    * design (LSH collision curves, k-means codebooks, PNG encoder bytes,
    * reservoir sampling); its siblings run the SAME kernels with fixed,
    * SQL-statable parameters (trained-literal pattern) or closed-form
    * inputs and ARE hash-checked against DuckDB. Verify dumps this map as
    * `parity_siblings.json`; tools/compare.py fails a rows-only entry
    * whose sibling RAN and is not green, and fails a no-oracle row with no
    * declared sibling — adding an unchecked operator now fails the gate
    * instead of quietly widening the weak set. Siblings absent from a
    * subset run or skipped by the at-scale pathological-oracle list are
    * ANNOTATED, not failed — the full sf0.01 gate run (where every
    * sibling executes) is the enforcing one.
    */
  val paritySiblings: Map[String, Seq[String]] = Map(
    "d02_minhash_lsh_dedup"   -> Seq("d19_minhash_md5_pairs"),
    "d03_simhash_pairs"       -> Seq("d15_simhash_md5_pairs"),
    "d06_ann_lsh_topk"        -> Seq("d24_lsh_topk_parity"),
    "d08_ann_ivf_topk"        -> Seq("d21_ivf_assign_parity", "d23_ivf_topk_parity"),
    "d09_embedding_neardup_lsh" -> Seq("d24_lsh_topk_parity", "d28_lsh_neardup_parity"),
    "d13_cross_dedup_lsh"     -> Seq("d20_cross_dedup_md5"),
    "d16_ann_pq_topk"         -> Seq("d25_pq_adc_parity"),
    "d17_ann_ivfpq_topk"      -> Seq("d21_ivf_assign_parity", "d23_ivf_topk_parity", "d25_pq_adc_parity"),
    "d18_semdedup"            -> Seq("d22_semdedup_parity"),
    "m01_multimodal_features" -> Seq("m04_image_features"),
    "m02_frame_sample"        -> Seq("m06_gif_frames"),
    "m03_resize"              -> Seq("m04_image_features", "m06_gif_frames"),
    "m05_image_resize"        -> Seq("m04_image_features", "m06_gif_frames"),
    "q31_sample"              -> Seq("q75_hash_sample"),
    "r09_fts_default_porter"  -> Seq("r10_fts_normalized_tokens", "r07_fts_match"),
    "q43_approx_percentiles"  -> Seq("q37_percentiles"),
    "q51_approx_distinct"     -> Seq("q15_count_distinct"))

  /** Driver-contract form: oracles at the gate's fixed sf0.01 dataset. */
  def oracleSql: Map[String, String] = oracleSqlFor("/root/testdata/sf0.01")

  /** Oracles with the `{SF_DIR}` placeholder bound to the given data dir —
    * keeps path-scanning oracles (q53) on the SAME dataset as the engine
    * side at any scale factor instead of silently pinning sf0.01.
    */
  def oracleSqlFor(sfDir: String): Map[String, String] = oracleSqlFor(sfDir, None)

  /** As above, restricted to `only` when given — binding happens AFTER the
    * filter, so a subset debug run doesn't train the excluded entries'
    * models (quality classifier, DSIR, centroids, LM) just to discard them.
    */
  def oracleSqlFor(sfDir: String, only: Option[Set[String]]): Map[String, String] = {
    // `{IVF_CENTROIDS}` / `{PQ_CODEBOOKS}` bind the fixed-centroid family's
    // trained parameters for THIS sfDir as SQL literals (lazy: only trains
    // when some oracle uses them — i.e. in the Verify JVM, with a session)
    lazy val centroids = OpsEntry.centroidValuesSql(sfDir)
    lazy val codebooks = OpsEntry.pqCodebookValuesSql(sfDir)
    lazy val lmVocab = OpsEntry.lmVocabSql(sfDir)
    lazy val lmOov = OpsEntry.lmOovSql(sfDir)
    lazy val dsirRatios = OpsEntry.dsirRatiosSql(sfDir)
    lazy val qcWeights = OpsEntry.qcWeightsSql(sfDir)
    lazy val qcBias = OpsEntry.qcBiasSql(sfDir)
    defs.filter(d => only.forall(_.contains(d.name))).flatMap(d => d.oracle.map { o =>
      var bound = o.replace("{SF_DIR}", sfDir)
      if (bound.contains("{IVF_CENTROIDS}"))
        bound = bound.replace("{IVF_CENTROIDS}", centroids)
      if (bound.contains("{PQ_CODEBOOKS}"))
        bound = bound.replace("{PQ_CODEBOOKS}", codebooks)
      if (bound.contains("{LM_VOCAB}"))
        bound = bound.replace("{LM_VOCAB}", lmVocab).replace("{LM_OOV}", lmOov)
      if (bound.contains("{DSIR_RATIOS}"))
        bound = bound.replace("{DSIR_RATIOS}", dsirRatios)
      if (bound.contains("{QC_WEIGHTS}"))
        bound = bound.replace("{QC_WEIGHTS}", qcWeights).replace("{QC_BIAS}", qcBias)
      d.name -> bound
    }).toMap
  }
}
