package graft.psql

import graft.SparkSpec

/** End-to-end port of the reference test corpus
  * (ywelsch/duckdb-psql `test/sql/psql.test`) plus the README golden result
  * (`README.md:37-53`), executed on Spark via [[Psql]].
  */
class PsqlEndToEndSpec extends SparkSpec {

  lazy val psql = Psql(spark)

  override def beforeAll(): Unit = {
    super.beforeAll()
    // fixture: CREATE TABLE t1(i INTEGER, j INTEGER) — psql.test:6
    spark.sql("SELECT CAST(id AS INT) AS i, CAST(id * 2 AS INT) AS j FROM range(5)")
      .createOrReplaceTempView("t1")
  }

  test("from t1 |> order by i (psql.test:19)") {
    val rows = psql.sql("from t1 |> order by i").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3, 4))
  }

  test("trailing semicolon (psql.test:22-23)") {
    assert(psql.sql("from t1 |> order by i;").count() == 5)
  }

  test("bad stage raises a parse/analysis error (psql.test:26-29)") {
    intercept[Exception] { psql.sql("from t1 |> srt j").collect() }
  }

  test("without the front-end, PSQL-only syntax is a plain syntax error (psql.test:9-12)") {
    // the reference's pre-LOAD behavior: DuckDB reports `syntax error at or
    // near "|>"`. Spark 4 natively parses `|>` pipe stages, so the
    // dialect-only shapes — scoped `(| … |)` blocks and DuckDB-isms like
    // zero-arg count() — are what must fail in vanilla spark.sql (no Psql,
    // no injected parser), proving nothing leaks into stock SQL.
    val e = intercept[Exception] { spark.sql("(| from t1 |> order by i |)") }
    assert(e.getMessage.toLowerCase.contains("syntax"), e.getMessage)
    val e2 = intercept[Exception] { spark.sql("from t1 |> select count() as n").collect() }
    assert(e2.getMessage.toLowerCase.contains("count"), e2.getMessage)
  }

  test("in-stage garbage surfaces the offending token, like the reference (psql.test:26-29)") {
    // DuckDB: `Parser Error: syntax error at or near "j"` — the rewritten
    // statement must fail at the same token, not somewhere misleading
    val e = intercept[Exception] { psql.sql("from t1 |> srt j").collect() }
    assert(e.getMessage.contains("'j'"), e.getMessage)
  }

  test("|| not split (psql.test:31-33)") {
    val rows = psql.sql("from t1 |> select i || ',' || j").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(0)).contains("1,2"))
  }

  test("as stage for named access (psql.test:35-37)") {
    val rows = psql.sql("from t1 |> select i || ',' || j as bar |> as foo select foo.bar").collect()
    assert(rows.length == 5)
  }

  test("scoped transform in CTAS (psql.test:39-41) via temp view") {
    // Spark temp-view variant of CREATE TABLE ... AS (no warehouse in tests)
    psql.sql("create temporary view t2_view as (| from t1 |> select i || ',' || j as bar |> as foo select foo.bar |)")
    assert(spark.table("t2_view").count() == 5)
    spark.catalog.dropTempView("t2_view")
  }

  test("CREATE TABLE AS scoped transform executes against the warehouse (psql.test:39-41)") {
    spark.sql("DROP TABLE IF EXISTS ctas_t2")
    psql.sql("create table ctas_t2 as (| from t1 |> select i || ',' || j as bar |> as foo select foo.bar |)")
    try {
      // read back through the catalog (a real parquet table in the warehouse
      // dir, not a temp view), both via the catalog API and fresh SQL
      assert(spark.catalog.tableExists("ctas_t2"))
      val vals = spark.table("ctas_t2").collect().map(_.getString(0)).toSet
      assert(vals == Set("0,0", "1,2", "2,4", "3,6", "4,8"))
      assert(spark.sql("SELECT count(*) FROM ctas_t2").head.getLong(0) == 5)
    } finally spark.sql("DROP TABLE IF EXISTS ctas_t2")
  }

  test("CREATE VIEW over a scoped block (README.md:59-66)") {
    // a persistent view may not reference temp views, so source from a
    // catalog table (same constraint exists in any warehouse deployment)
    spark.sql("DROP VIEW IF EXISTS block_view")
    spark.sql("DROP TABLE IF EXISTS view_src")
    psql.sql("create table view_src as (| from t1 |> select i, j |)")
    try {
      psql.sql("create view block_view as (| from view_src |> where i > 2 |> select i, j |)")
      assert(spark.table("block_view").count() == 2)
      assert(spark.sql("SELECT max(j) FROM block_view").head.getInt(0) == 8)
    } finally {
      spark.sql("DROP VIEW IF EXISTS block_view")
      spark.sql("DROP TABLE IF EXISTS view_src")
    }
  }

  test("multiple scoped transforms + CTE + union (psql.test:43-45)") {
    val rows = psql.sql(
      "with x as (| from t1 |> select i || ',' || j as bar |> as foo |), " +
      "y as (| from t1 |> select i || ',' || j as bar |> as foo |) " +
      "from x union from y").collect()
    assert(rows.length == 5) // UNION dedups; x and y identical
  }

  test("plain SQL passes through untouched") {
    assert(psql.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
  }

  test("path scans resolve parquet, orc, and json by extension") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("psql_scan").toFile
    val df = Seq((1, "a"), (2, "b")).toDF("i", "s")
    for (fmt <- Seq("parquet", "orc", "json")) {
      val p = new java.io.File(dir, s"t.$fmt").getAbsolutePath
      df.write.format(fmt).save(p)
      val n = psql.sql(s"from '$p' |> where i > 0 |> select count() as n")
        .collect().head.getLong(0)
      assert(n == 2, fmt)
    }
    // glob patterns pass straight through to the reader (multi-file scans)
    val g = new java.io.File(dir, "parts")
    df.write.parquet(new java.io.File(g, "a.parquet").getAbsolutePath)
    df.write.parquet(new java.io.File(g, "b.parquet").getAbsolutePath)
    val n = psql.sql(s"from '${g.getAbsolutePath}/*.parquet' |> select count() as n")
      .collect().head.getLong(0)
    assert(n == 4, "glob scan")
  }

  test("unterminated scoped block raises a clear error") {
    val e = intercept[IllegalArgumentException] {
      psql.sql("with x as (| from t1 |> select i from x")
    }
    assert(e.getMessage.contains("unterminated"), e.getMessage)
  }

  test("SUMMARIZE profiles a table or a pipeline (DuckDB output shape)") {
    import spark.implicits._
    Seq(1, 2, 3, 4).toDF("v").createOrReplaceTempView("sum_t")
    val byTable = psql.sql("summarize sum_t").collect()
    assert(byTable.length == 1 && byTable(0).getString(0) == "v")
    assert(byTable(0).getString(3) == "4") // max
    val byPipe = psql.sql("summarize from sum_t |> where v > 1").collect()
    assert(byPipe(0).getString(2) == "2" && byPipe(0).getString(3) == "4")
    assert(byPipe(0).getLong(10) == 3L) // count = total rows
  }

  test("read_csv options reach the Spark reader (delim, nullstr, header)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-readcsv")
    val f = dir.resolve("pipe.csv")
    java.nio.file.Files.writeString(f, "a|b|c\n1|NA|x\n2|y|NA\n")
    val rows = psql.sql(
      s"from read_csv('$f', header=true, delim='|', nullstr='NA') |> order by a")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(1) && rows(0).getString(2) == "x")
    assert(rows(1).getString(1) == "y" && rows(1).isNullAt(2))
    // join position works too (the from-suffix path, not the shims path)
    val j = psql.sql(s"from read_csv('$f', header=true, delim='|') " +
      s"|> as l join read_csv('$f', header=true, delim='|') r on l.a = r.a " +
      s"|> select a |> order by a").collect()
    assert(j.map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("USING SAMPLE with seed is deterministic across runs (REPEATABLE)") {
    val q = "from lineitem_small |> using sample 50% (bernoulli, 42) |> select l_orderkey"
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("lineitem_small")
    val a = psql.sql(q).collect().length
    val b = psql.sql(q).collect().length
    assert(a == b && a > 0)
  }

  test("COPY pipeline TO parquet/csv writes files readable back") {
    import spark.implicits._
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("i", "s").createOrReplaceTempView("copy_t")
    val dir = java.nio.file.Files.createTempDirectory("psql_copy").toFile
    val pq = new java.io.File(dir, "out.parquet").getAbsolutePath
    psql.sql(s"copy (| from copy_t |> where i > 1 |) to '$pq'")
    assert(spark.read.parquet(pq).as[(Int, String)].collect().toSet == Set((2, "y"), (3, "z")))
    val csv = new java.io.File(dir, "out.csv").getAbsolutePath
    psql.sql(s"copy copy_t to '$csv' (format csv, header)")
    val back = spark.read.option("header", true).option("inferSchema", true).csv(csv)
    assert(back.as[(Int, String)].collect().toSet == Set((1, "x"), (2, "y"), (3, "z")))
  }

  test("COPY ... PARTITION_BY writes a hive-partitioned layout readable back") {
    import spark.implicits._
    Seq((1, "x"), (2, "y"), (3, "x")).toDF("i", "s").createOrReplaceTempView("pcopy_t")
    val dir = java.nio.file.Files.createTempDirectory("psql_pcopy").toFile
    val p = new java.io.File(dir, "out").getAbsolutePath
    psql.sql(s"copy pcopy_t to '$p' (format parquet, partition_by (s))")
    // hive directory layout on disk
    assert(new java.io.File(p, "s=x").isDirectory, new java.io.File(p).list().toSeq)
    assert(new java.io.File(p, "s=y").isDirectory)
    val back = spark.read.parquet(p).select("i", "s").as[(Int, String)].collect().toSet
    assert(back == Set((1, "x"), (2, "y"), (3, "x")))
    // pipe-source form partitions too
    val p2 = new java.io.File(dir, "out2").getAbsolutePath
    psql.sql(s"copy (| from pcopy_t |> where i > 1 |) to '$p2' (format parquet, partition_by (s))")
    assert(spark.read.parquet(p2).select("i", "s").as[(Int, String)].collect().toSet ==
      Set((2, "y"), (3, "x")))
  }

  test("Dataset.pipe extension applies stages like Psql.sql") {
    import graft.psql.implicits._
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("i", "g")
    val out = df.pipe("where i > 1")
      .pipe("select g, count() as n group by g |> order by g")
      .as[(String, Long)].collect().toList
    assert(out == List(("a", 1L), ("b", 1L)))
  }

  test("DuckDB function aliases resolve in stages (list_*/regexp_matches/string_split)") {
    import spark.implicits._
    Seq("a b c b").toDF("s").createOrReplaceTempView("alias_t")
    val row = psql.sql(
      "from alias_t |> select list_distinct(string_split(s, ' ')) as d, " +
        "list_contains(string_split(s, ' '), 'c') as has_c, " +
        "regexp_matches(s, '^a') as starts_a").collect().head
    assert(row.getSeq[String](0).sorted == Seq("a", "b", "c"))
    assert(row.getBoolean(1) && row.getBoolean(2))
  }

  test("multi-statement input is rejected with a clear error (trailing ; stays legal)") {
    val e = intercept[IllegalArgumentException] {
      psql.sql("select 1; select 2")
    }
    assert(e.getMessage.contains("multi-statement"))
    // semicolons inside literals are not statement separators
    assert(psql.sql("select 'a;b' as s").collect().head.getString(0) == "a;b")
  }

  test("full README pipeline matches golden result (README.md:37-53)") {
    val inv = "/root/reference/example/invoices.csv"
    val cus = "/root/reference/example/customers.csv"
    val q =
      s"""from '$inv' |>
         |where invoice_date >= date '1970-01-16' |>
         |select
         |  *,
         |  0.8 as transaction_fees,
         |  total - transaction_fees as income |>
         |where income > 1 |>
         |select
         |  customer_id,
         |  avg(total),
         |  sum(income) as sum_income,
         |  count() as ct
         |  group by customer_id |>
         |order by sum_income desc |>
         |limit 10 |>
         |as invoices
         |  join '$cus'
         |    as customers
         |  on invoices.customer_id = customers.customer_id |>
         |select
         |  customer_id,
         |  last_name || ', ' || first_name as name,
         |  sum_income""".stripMargin
    val got = psql.sql(q).collect()
      .map(r => (r.get(0).toString.toLong, r.getString(1),
        math.rint(BigDecimal(r.get(2).toString).toDouble * 100) / 100))
      .sortBy(_._1)
    val expected = Seq( // README.md:41-50 golden rows
      (6L, "Holý, Helena", 43.83),
      (7L, "Gruber, Astrid", 36.83),
      (24L, "Ralston, Frank", 37.83),
      (25L, "Stevens, Victor", 36.83),
      (26L, "Cunningham, Richard", 41.83),
      (28L, "Barnett, Julia", 37.83),
      (37L, "Zimmermann, Fynn", 37.83),
      (45L, "Kovács, Ladislav", 39.83),
      (46L, "O'Reilly, Hugh", 39.83),
      (57L, "Rojas, Luis", 40.83)
    )
    assert(got.toSeq == expected)
  }

  test("DISTINCT ON keeps the first row per group under the stage's ORDER BY") {
    // groups by parity: evens {4,2,0} pick 4 (i desc), odds {3,1} pick 3
    val r = psql.sql("from t1 |> select distinct on (i % 2) i, j order by i % 2, i desc")
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(r == Seq((4, 8), (3, 6)), r)
    // ON exprs / pick order may reference columns outside the select list
    val r2 = psql.sql("from t1 |> select distinct on (i % 2) j order by i % 2, j asc")
      .collect().map(_.getInt(0)).toSeq
    assert(r2 == Seq(0, 2), r2)
    // GROUP BY in the same stage is rejected with a clear error
    val e = intercept[IllegalArgumentException] {
      psql.sql("from t1 |> select distinct on (i) i, count(*) as c group by i")
    }
    assert(e.getMessage.contains("DISTINCT ON"), e.getMessage)
  }

  test("asof join as a pipe stage (backward, forward, left, errors)") {
    import spark.implicits._
    Seq((1L, "u1", 10L), (2L, "u1", 20L), (3L, "u1", 30L), (4L, "u2", 15L))
      .toDF("id", "k", "t").createOrReplaceTempView("asof_l")
    Seq(("u1", 10L, "a"), ("u1", 25L, "b"), ("u2", 99L, "x"))
      .toDF("k", "rt", "v").createOrReplaceTempView("asof_r")
    // backward: latest right <= left time, ties match
    val back = psql.sql(
      "from asof_l |> as l asof join asof_r as r on l.k = r.k and l.t >= r.rt |> order by id")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(back == Map(1L -> "a", 2L -> "a", 3L -> "b"), back)
    // forward + left keeps unmatched rows with null payload
    val fwd = psql.sql(
      "from asof_l |> as l asof left join asof_r as r on l.k = r.k and l.t <= r.rt |> order by id")
      .select("id", "v").collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(fwd == Map(1L -> Some("a"), 2L -> Some("b"), 3L -> None, 4L -> Some("x")), fwd)
    // stages after the asof stage keep folding through the front-end
    val n = psql.sql("from asof_l |> as l asof join asof_r as r on l.k = r.k and l.t >= r.rt |> " +
      "select k, count() as n group by k |> order by k")
      .as[(String, Long)].collect().toList
    assert(n == List(("u1", 3L)), n)
    // strict inequality: the equal-time row no longer matches (id=1 drops
    // under inner; id=2/3 unchanged) — DuckDB's `>` ASOF semantics
    val strict = psql.sql(
      "from asof_l |> as l asof join asof_r as r on l.k = r.k and l.t > r.rt |> order by id")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(strict == Map(2L -> "a", 3L -> "b"), strict)
    val e2 = intercept[IllegalArgumentException] {
      psql.sql("from asof_l |> as l asof join asof_r as r on l.t >= r.rt")
    }
    assert(e2.getMessage.contains("key equality"), e2.getMessage)
  }

  test("asof join: quoted-path right side requires an explicit alias") {
    import spark.implicits._
    Seq((1L, "u1", 10L)).toDF("id", "k", "t").createOrReplaceTempView("asof_l2")
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-path").toString
    Seq(("u1", 5L, "a")).toDF("k", "rt", "v").write.mode("overwrite").parquet(s"$dir/r.parquet")
    val e = intercept[IllegalArgumentException] {
      psql.sql(s"from asof_l2 |> as l asof join '$dir/r.parquet' on l.k = r.k and l.t >= r.rt")
    }
    assert(e.getMessage.contains("explicit alias"), e.getMessage)
    // with the alias it executes
    val ok = psql.sql(
      s"from asof_l2 |> as l asof join '$dir/r.parquet' as r on l.k = r.k and l.t >= r.rt")
    assert(ok.select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("asof join: key-rename collision on the right raises a clear error") {
    import spark.implicits._
    Seq((1L, "u1", 10L)).toDF("id", "k", "t").createOrReplaceTempView("asof_l3")
    // right has BOTH `rk` (the key to align to `k`) and its own `k` — the
    // blind rename would produce two `k` columns and an opaque
    // ambiguous-column failure later
    Seq(("u1", "zzz", 5L, "a")).toDF("rk", "k", "rt", "v").createOrReplaceTempView("asof_r3")
    val e = intercept[IllegalArgumentException] {
      psql.sql("from asof_l3 |> as l asof join asof_r3 as r on l.k = r.rk and l.t >= r.rt")
    }
    assert(e.getMessage.contains("already has a column named 'k'"), e.getMessage)
  }

  test("Spark-native pipe stages (|> AGGREGATE) still work via the parse fallback") {
    // not a PSQL stage shape — the rewrite produces unparseable SQL, and the
    // fallback hands the original text to Spark's own pipe-syntax grammar
    val out = psql.sql("from t1 |> where i > 0 |> aggregate count(*) as n")
      .collect().head.getLong(0)
    assert(out == 4L, out)
    // genuinely-bad stages still surface the PSQL-path error token
    val e = intercept[Exception] { psql.sql("from t1 |> srt j").collect() }
    assert(e.getMessage.contains("'j'"), e.getMessage)
  }

  test("qualify end-to-end") {
    val rows = psql.sql("from t1 |> select i, j qualify row_number() over (order by i desc) = 1").collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 4)
  }

  test("set ops between pipelines via scoped blocks") {
    assert(psql.sql("(| from t1 |> select i |) intersect (| from t1 |> where i > 2 |> select i |)").count() == 2)
    assert(psql.sql("(| from t1 |> select i |) except (| from t1 |> where i > 2 |> select i |)").count() == 3)
    assert(psql.sql("from t1 except from t1").count() == 0) // pipe-free set-op, FROM-first both sides
  }

  test("plain-paren CTE head: with x as (select …) from x |> …") {
    val rows = psql.sql("with x as (select 1 as i union all select 2 as i) from x |> where i > 1").collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 2)
    // two CTEs, pipe tail referencing both (join suffix + select in one stage)
    val r2 = psql.sql(
      "with a as (select 1 as i), b as (select 2 as k) from a |> join b on i < k select i, k").collect()
    assert(r2.length == 1)
    // CTE + FROM-first tail without pipes also normalizes
    assert(psql.sql("with x as (select 1 as i) from x").count() == 1)
  }

  test("union by name: reorders columns, null-fills missing, dedups unless ALL") {
    // reordered columns meet by name, not position
    val r = psql.sql(
      "from t1 |> select i, j union by name from t1 |> select j, i").collect()
    assert(r.length == 5) // identical by name => dedup to 5
    // ALL keeps duplicates
    val rAll = psql.sql(
      "from t1 |> select i, j union all by name from t1 |> select j, i").collect()
    assert(rAll.length == 10)
    // missing column null-fills (DuckDB BY NAME semantics)
    val rMiss = psql.sql("from t1 |> select i union by name from t1 |> select i, j")
    assert(rMiss.columns.toSeq == Seq("i", "j"))
    val nulls = rMiss.collect().count(_.isNullAt(1))
    assert(nulls == 5)
    // chain with PIPELINE sides: the reference splits pipes BEFORE set ops,
    // so each `|> select i` stage applies to the union built so far and the
    // bare `from t1` right sides carry BOTH columns into the by-name merge —
    // DuckDB returns 10 under its own rewrite (verified), not 5
    assert(psql.sql(
      "from t1 |> select i union by name from t1 |> select i union by name from t1 |> select i")
      .count() == 10)
    // chain of three pipe-free sides dedups to the 5 distinct values
    assert(psql.sql(
      "select i from t1 union by name select i from t1 union by name select i from t1")
      .count() == 5)
  }

  test("by-name union inside a pipeline: trailing order/limit binds to the WHOLE union") {
    // fuzz-found (r6 seed 101): the reference's nested-FROM rewrite puts the
    // union inside the FROM parens, so a pure sort/limit tail after the
    // scoped block limits the UNION result — not the right side alone
    // (which would return all left rows plus k right rows)
    val df = psql.sql(
      "from t1 |> select i, j union all by name (| from t1 |> select j, i |) order by i, j limit 7")
    assert(df.count() == 7)
    // same tail on an unparenthesized right pipeline — equivalent to a final
    // `|> order by … limit …` stage over the union under the pipe rewrite
    val df2 = psql.sql(
      "from t1 |> select i union all by name from t1 |> select i order by i limit 3")
    assert(df2.count() == 3)
    // a clause with a FOLLOWING pipe stage is NOT a statement tail — the
    // in-block limit stays the right side's stage (5 left + 2 right rows)
    val df3 = psql.sql(
      "from t1 |> select i union all by name (| from t1 |> select i |> limit 2 |) |> where i >= 0")
    assert(df3.count() == 7, df3.count().toString)
  }

  test("pipe stages after a by-name union apply to the WHOLE union (reference pipe-first split)") {
    // the reference rewrites `A union … B |> S` to `FROM ( A union … B ) S`
    // (pipes split before the set op), so EVERY tail stage — not just pure
    // sort/limit — binds to the whole union. A WHERE tail distinguishes the
    // bindings: whole-union → 4 rows (3,4 twice); right-side-only → 7.
    val w = psql.sql(
      "from t1 |> select i union all by name (| from t1 |> select i |) |> where i >= 3")
    assert(w.count() == 4, w.count().toString)
    // multi-stage pipe tail: order then limit over the whole union
    val ml = psql.sql(
      "from t1 |> select i union all by name (| from t1 |> select i |) |> order by i |> limit 3")
      .collect().map(_.getInt(0)).toSeq
    assert(ml == Seq(0, 0, 1), ml)
    // the ADVICE shape: a single pure order-by pipe stage after an
    // unparenthesized by-name union — cut at the pipe, no dangling token
    val rows = psql.sql("select 2 as i union by name select 1 as i |> order by i")
      .collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(1, 2), rows)
    // projection tail narrows the UNION's columns, not the right side's
    assert(psql.sql(
      "from t1 |> select i, j union all by name from t1 |> select i").columns.toSeq == Seq("i"))
  }

  test("by-name union: a qualified column spelling a clause keyword is not cut") {
    // `t.offset` after the by-name link spells the OFFSET keyword at top
    // level; cutting there would split the right side mid-select into an
    // unparseable fragment
    val r = psql.sql(
      "select 1 as i, 0 as o union by name " +
        "select i, t.offset as o from (select 2 as i, 7 as offset) t order by i")
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(r == Seq((1, 0), (2, 7)), r.toString)
  }

  test("mixed set-op chains with by-name associate left, like DuckDB") {
    // a UNION BY NAME b UNION ALL c = (a ∪ b) ∪ᵃˡˡ c: dedup happens BEFORE
    // the ALL link, so identical singletons yield 2 rows, not 1
    assert(psql.sql(
      "select 1 as i union by name select 1 as i union all select 1 as i").count() == 2)
    // (a ∪ᵇʸⁿᵃᵐᵉ b) EXCEPT c over identical singletons is empty
    assert(psql.sql(
      "select 1 as i union by name select 1 as i except select 1 as i").count() == 0)
    // by-name on the RIGHT of a plain link: (a ∪ᵃˡˡ b) ∪ᵇʸⁿᵃᵐᵉ c dedups at
    // the end — three identical singletons collapse to 1
    assert(psql.sql(
      "select 1 as i union all select 1 as i union by name select 1 as i").count() == 1)
    // INTERSECT binds tighter than UNION (SQL precedence): this is
    // 1 ∪ᵇʸⁿᵃᵐᵉ ({2} ∩ {2}) = {1, 2}, not ({1} ∪ {2}) ∩ {2}
    assert(psql.sql(
      "select 1 as i union by name select 2 as i intersect select 2 as i").count() == 2)
  }

  test("trailing ORDER BY / LIMIT after a by-name union binds to the whole union") {
    val rows = psql.sql(
      "select 2 as i union by name select 1 as i union by name select 3 as i order by i")
      .collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(1, 2, 3), rows)
    val lim = psql.sql(
      "select 2 as i union all by name select 1 as i order by i desc limit 1")
      .collect().map(_.getInt(0)).toSeq
    assert(lim == Seq(2), lim)
  }

  test("version() returns the engine's own version string (README.md:31)") {
    val v = psql.sql("select version() as db_version").head.getString(0)
    assert(v == Psql.versionString, v)
    // also inside a pipeline stage
    val p = psql.sql("from t1 |> select i, version() as db_version |> limit 1").head.getString(1)
    assert(p == Psql.versionString, p)
  }

  test("a column or alias named `exclude` survives; `* exclude (…)` still rewrites") {
    import spark.implicits._
    Seq((1, 2, 3)).toDF("a", "exclude", "c").createOrReplaceTempView("excl_t")
    // bare column reference named exclude must NOT become EXCEPT
    val r = psql.sql("from excl_t |> select a, exclude |> order by a").collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == 2)
    // alias position
    assert(psql.sql("from excl_t |> select a as exclude").columns.toSeq == Seq("exclude"))
    // the legal DuckDB star-exclude context still translates
    val cols = psql.sql("from excl_t |> select * exclude (c)").columns.toSeq
    assert(cols == Seq("a", "exclude"))
  }

  test("COLUMNS('re') regex star-expansion: expands, conf restored, literal/ident unaffected") {
    import spark.implicits._
    Seq((1, 2, 3, "x")).toDF("aa_one", "aa_two", "bb_one", "columns")
      .createOrReplaceTempView("colre_t")
    val prev = spark.conf.getOption("spark.sql.parser.quotedRegexColumnNames")
    val cols = psql.sql("from colre_t |> select columns('^aa_.*$')").columns.toSeq
    assert(cols == Seq("aa_one", "aa_two"), cols.toString)
    // expansion composes with further columns and stages
    val r = psql.sql(
      "from colre_t |> select columns('^aa_.*$'), bb_one |> select aa_one + aa_two + bb_one as s")
      .head.getInt(0)
    assert(r == 6)
    // COLUMNS(*) is a plain star
    assert(psql.sql("from colre_t |> select columns(*)").columns.length == 4)
    // the conf was restored after each statement
    assert(spark.conf.getOption("spark.sql.parser.quotedRegexColumnNames") == prev)
    // a bare column named `columns` (no following paren) is untouched
    assert(psql.sql("from colre_t |> select columns").head.getString(0) == "x")
    // a string literal containing columns( is not rewritten
    assert(psql.sql("select 'columns(''^x$'')' as s").head.getString(0) == "columns('^x$')")
  }

  test("group by all / order by all flow through pipe stages") {
    import spark.implicits._
    Seq(("a", 1), ("a", 2), ("b", 5)).toDF("g", "v").createOrReplaceTempView("ball_t")
    val r = psql.sql(
      "from ball_t |> select g, count() as n, sum(v) as s group by all |> order by all")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq(("a", 2L, 3L), ("b", 1L, 5L)), r.toString)
    // order by all over a plain projection too
    val o = psql.sql("from ball_t |> select g, v |> order by all")
      .collect().map(x => (x.getString(0), x.getInt(1))).toSeq
    assert(o == Seq(("a", 1), ("a", 2), ("b", 5)), o.toString)
  }

  test("by-name edge shapes: leading comment, statement-level CTE scope, alias spelling an op") {
    // leading comment must not defeat the query-head check
    assert(psql.sql("-- daily rollup\nselect 1 as i union by name select 2 as i").count() == 2)
    // a statement-level WITH scopes its CTEs over the whole set operation
    val r = psql.sql(
      "with t as (select 1 as i) select * from t union by name select i + 1 as i from t")
      .collect().map(_.getInt(0)).toSet
    assert(r == Set(1, 2), r)
    // an alias that merely spells a set-op keyword is not an operator —
    // including when trailed by further clauses
    assert(psql.sql("select 1 as minus union by name select 2 as minus").count() == 2)
    assert(psql.sql("select 1 as i union by name select 2 as minus order by 1").count() == 2)
  }

  test("DDL head never routes through the asof pipeline path (no side effects)") {
    spark.sql("DROP TABLE IF EXISTS asof_ddl_t")
    intercept[Exception] {
      psql.sql("create table asof_ddl_t as from t1 |> as l asof join t1 as r on l.i = r.i and l.j >= r.j")
    }
    // the failed statement must not have created (or partially filled) the table
    assert(!spark.catalog.tableExists("asof_ddl_t"))
  }

  test("union by name nested in a scoped block raises a clear unsupported error") {
    val e = intercept[IllegalArgumentException] {
      psql.sql("with x as (| from t1 union by name from t1 |) from x |> select i").collect()
    }
    assert(e.getMessage.contains("UNION BY NAME"))
  }

  test("rollup/cube/grouping-sets over EMPTY input emit the () grand-total row (fuzz f040)") {
    // DuckDB (SQL standard): the empty grouping set is a GLOBAL aggregate —
    // one row even over zero input rows. Vanilla Spark emits none; the
    // dialect's empty-guard rewrite restores it.
    val r = psql.sql(
      "from t1 |> where i < 0 |> select i, j, count() as c, sum(j) as s group by rollup(i, j)").collect()
    assert(r.length == 1)
    assert(r(0).isNullAt(0) && r(0).isNullAt(1) && r(0).getLong(2) == 0L && r(0).isNullAt(3))
    // cube over empty: same single row
    assert(psql.sql("from t1 |> where i < 0 |> select i, count() as c group by cube(i)").count() == 1)
    // grouping sets WITH (): the guard applies; grouping() reports 1
    val g = psql.sql(
      "from t1 |> where i < 0 |> select i, cast(grouping(i) as int) as gr, count() as c " +
        "group by grouping sets ((i), ())").collect()
    assert(g.length == 1 && g(0).getInt(1) == 1 && g(0).getLong(2) == 0L)
    // grouping sets WITHOUT (): every set has a key → 0 rows in both engines
    assert(psql.sql(
      "from t1 |> where i < 0 |> select i, count() as c group by grouping sets ((i))").count() == 0)
    // HAVING filters the grand-total row too (count(*)=0 fails count(*) > 2)
    assert(psql.sql(
      "from t1 |> where i < 0 |> select i, count() as c group by rollup(i) having count() > 2").count() == 0)
    // NON-empty input: the guard branch contributes nothing (3 + 1 rollup rows)
    assert(psql.sql("from t1 |> where i < 3 |> select i, count() as c group by rollup(i)").count() == 4)
    // aggregate aliased to a key name survives the guard surgery
    val a = psql.sql(
      "from t1 |> where i < 0 |> select i, sum(j) as j group by rollup(i)").collect()
    assert(a.length == 1 && a(0).isNullAt(0) && a(0).isNullAt(1))
  }

  test("recursive CTE prefixes a pipe pipeline (Spark 4 native WITH RECURSIVE)") {
    val out = psql.sql(
      """with recursive t(n) as (select 1 union all select n+1 from t where n < 10)
        |from t |> where n > 2 |> select sum(n) as s""".stripMargin).collect()
    assert(out.length == 1 && out(0).getLong(0) == 52L, out.toSeq) // 3+4+...+10
  }

  test("recursive steps must be TYPE-STABLE (documented divergence from DuckDB)") {
    // DuckDB casts each recursive step to the ANCHOR's column types;
    // Spark requires exact types across the recursion — `x / 2` widens
    // BIGINT to DOUBLE and fails analysis. Pinned so the divergence (and
    // its explicit-cast fix) stays documented behavior, not a surprise.
    val e = intercept[Exception] {
      psql.sql(
        """with recursive c(i, x) as (select 0 as i, cast(21 as bigint) as x
          |union all select i + 1, case when x % 2 = 0 then x / 2
          |  else 3 * x + 1 end from c where x > 1 and i < 40)
          |select i, x from c order by i""".stripMargin).collect()
    }
    assert(e.getMessage.contains("INCOMPATIBLE") || e.getMessage.contains("DOUBLE"),
      e.getMessage)
    // the explicit-cast form runs and matches DuckDB's orbit exactly
    val orbit = psql.sql(
      """with recursive c(i, x) as (select 0 as i, cast(21 as bigint) as x
        |union all select i + 1, case when x % 2 = 0 then cast(x / 2 as bigint)
        |  else 3 * x + 1 end from c where x > 1 and i < 40)
        |select i, x from c order by i""".stripMargin)
      .collect().map(_.getLong(1)).toSeq
    assert(orbit == Seq(21L, 64L, 32L, 16L, 8L, 4L, 2L, 1L), orbit)
  }

  test("a leading comment routes a statement like its bare spelling") {
    // each case runs its statement behind a prefix against its own table
    // `t` and observes the outcome: rows, or the error's class
    val cases: Seq[(String, (String, String) => Seq[Any])] = Seq(
      "create with PRIMARY KEY" -> { (pre, t) =>
        psql.sql(s"${pre}create table $t (a int primary key, b int)")
        psql.sql(s"describe $t").collect().toSeq
      },
      "delete" -> { (pre, t) =>
        psql.sql(s"create table $t (a int, b int)")
        psql.sql(s"insert into $t values (1, 10), (2, 20)")
        psql.sql(s"${pre}delete from $t where a = 1").collect().toSeq ++
          spark.table(t).collect()
      },
      "DuckDB SET option" -> { (pre, _) =>
        try {
          psql.sql(s"${pre}set threads = 3")
          Seq(spark.conf.get("spark.sql.shuffle.partitions"), spark.conf.getOption("threads"))
        } finally {
          psql.sql("reset threads")
          spark.conf.unset("threads")
        }
      },
      "DuckDB list subscript" -> { (pre, _) =>
        psql.sql(s"${pre}select [1,2,3][1] as x").collect().toSeq
      })
    val prefixes = Seq("", "-- note\n", "/* c */ ")
    cases.zipWithIndex.foreach { case ((name, run), ci) =>
      val outcomes = prefixes.zipWithIndex.map { case (pre, pi) =>
        val t = s"lead_comment_${ci}_$pi"
        graft.operators.Bucketing.dropTableAndLocation(spark, t)
        try run(pre, t).map(_.toString)
        catch { case e: Exception => Seq(s"error ${e.getClass.getName}") }
        finally graft.operators.Bucketing.dropTableAndLocation(spark, t)
      }
      assert(!outcomes.head.exists(_.startsWith("error")), s"$name: ${outcomes.head}")
      prefixes.zip(outcomes).tail.foreach { case (pre, o) =>
        assert(o == outcomes.head, s"$name behind ${pre.trim}: $o vs bare ${outcomes.head}")
      }
    }
  }
}

/** Spark 4 NATIVE pipe syntax through the PSQL entry point (q65's seam):
  * stages PSQL cannot spell (`AGGREGATE`, `EXTEND`, `SET`, `DROP`) make the
  * rewrite unparseable and [[Psql.sql]]'s fallback re-runs the original
  * text natively — these pins document exactly which forms delegate and
  * that the two dialects agree where they overlap.
  */
class NativePipeConformanceSpec extends SparkSpec {

  lazy val psql = Psql(spark)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
  }

  test("AGGREGATE/EXTEND delegate native; result equals the PSQL spelling of the same query") {
    val native = psql.sql("""FROM lineitem
      ||> WHERE l_shipdate >= DATE '1995-01-01'
      ||> EXTEND l_quantity * 2 AS q2
      ||> AGGREGATE sum(q2) AS s, count(*) AS n GROUP BY l_returnflag
      ||> ORDER BY l_returnflag""".stripMargin)
    val viaPsql = psql.sql("""from lineitem |>
      |where l_shipdate >= date '1995-01-01' |>
      |select l_returnflag, l_quantity * 2 as q2 |>
      |select l_returnflag, sum(q2) as s, count() as n group by l_returnflag |>
      |order by l_returnflag""".stripMargin)
    assert(native.columns.toSeq == Seq("l_returnflag", "s", "n"))
    assert(native.collect().toSeq == viaPsql.collect().toSeq)
  }

  test("SET and DROP stages delegate native through the fallback") {
    val out = psql.sql("""FROM lineitem
      ||> SET l_quantity = l_quantity + 100
      ||> DROP l_tax
      ||> WHERE l_orderkey = 1
      ||> SELECT l_orderkey, l_linenumber, l_quantity
      ||> ORDER BY l_linenumber""".stripMargin).collect()
    assert(out.nonEmpty && out.forall(_.getDouble(2) > 100))
  }

  test("overlapping forms (FROM/WHERE/SELECT/ORDER BY/LIMIT) parse identically in both dialects") {
    val q = """from lineitem |> where l_orderkey = 1 |>
      |select l_orderkey, l_linenumber |> order by l_linenumber |> limit 3""".stripMargin
    // the PSQL path REWRITES this (no fallback needed): prove it by the
    // rewrite being parseable standard SQL
    val rewritten = psql.rewriteOnly(q)
    assert(!rewritten.contains("|>"))
    assert(psql.sql(q).collect().toSeq == spark.sql(rewritten).collect().toSeq)
  }
}

/** EXPLAIN/DESCRIBE over pipelines — the REPL workflow the reference gets
  * for free from its regex (the keyword survives outside the rewritten
  * FROM); our scanner needs the explicit prefix handling these pins cover.
  */
class ExplainDescribeSpec extends SparkSpec {
  lazy val psql = Psql(spark)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
  }

  test("explain over a pipeline returns the rewritten query's plan") {
    val p = psql.sql(
      "explain from lineitem |> where l_quantity > 30 |> select l_returnflag, count() as c group by l_returnflag")
      .collect().head.getString(0)
    assert(p.contains("Physical Plan") || p.contains("AdaptiveSparkPlan"), p.take(200))
    assert(p.contains("l_returnflag"), p.take(400))
  }

  test("explain modifiers: formatted/extended/codegen/cost; DuckDB analyze maps to extended") {
    for (m <- Seq("formatted", "extended", "cost", "analyze")) {
      val p = psql.sql(s"explain $m from lineitem |> select l_orderkey |> limit 3")
        .collect().head.getString(0)
      assert(p.nonEmpty, s"modifier $m")
    }
  }

  test("explain shares the execute path's fallback and conf: native stages and COLUMNS explain") {
    // AGGREGATE is not a PSQL stage → rewrite unparseable → the explain
    // path must fall back to the original text like execution does
    val p = psql.sql(
      "explain from lineitem |> AGGREGATE count(*) AS n GROUP BY l_returnflag")
      .collect().head.getString(0)
    assert(p.contains("l_returnflag"), p.take(300))
    // COLUMNS('re') needs the quoted-regex conf during analysis
    val p2 = psql.sql("explain from lineitem |> select columns('l_order.*') |> limit 3")
      .collect().head.getString(0)
    assert(p2.contains("l_orderkey"), p2.take(300))
  }

  test("describe over a pipeline yields the pipeline's schema, not the table's") {
    val rows = psql.sql("describe from lineitem |> select l_orderkey, l_quantity")
      .collect().map(_.getString(0)).toSet
    assert(rows == Set("l_orderkey", "l_quantity"))
  }
}

/** Scoped blocks INSIDE statements — shapes the reference's two-pass regex
  * supports implicitly (blocks are substituted before the surrounding text
  * is rewritten) and the placeholder rewrite now matches: a block as a
  * scalar subquery inside a select stage, as an IN-list subquery inside a
  * where stage, and as an INSERT INTO source.
  */
class BlockInStatementSpec extends SparkSpec {
  lazy val psql = Psql(spark)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sql("SELECT CAST(id AS INT) AS i, CAST(id * 2 AS INT) AS j FROM range(5)")
      .createOrReplaceTempView("bt")
  }

  test("block as a scalar subquery inside a select stage") {
    val rows = psql.sql(
      "from bt |> select i, (| from bt |> select max(j) as m |) as mx |> order by i")
      .collect()
    assert(rows.length == 5 && rows.forall(_.getInt(1) == 8))
  }

  test("block as an IN-list subquery inside a where stage") {
    val rows = psql.sql(
      "from bt |> where i in (| from bt |> where j > 4 |> select i |) |> select i")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(rows == Seq(3, 4))
  }

  test("block as an INSERT INTO source") {
    spark.sql("DROP TABLE IF EXISTS block_ins")
    spark.sql("CREATE TABLE block_ins (i INT, j INT) USING parquet")
    try {
      psql.sql("insert into block_ins (| from bt |> where i > 2 |> select i, j |)")
      assert(spark.table("block_ins").count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS block_ins")
  }
}

/** DuckDB cast-operator and type-name idioms through the pipe front-end. */
class CastIdiomSpec extends SparkSpec {
  lazy val psql = Psql(spark)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sql("SELECT CAST(id AS INT) AS i FROM range(3)").createOrReplaceTempView("ct")
  }

  test("bare ::VARCHAR shims to STRING; VARCHAR(n) and other types pass natively") {
    val r = psql.sql("from ct |> select i::VARCHAR as s, i::DOUBLE as d, cast(i as varchar) as s2 |> order by s")
    assert(r.schema("s").dataType.typeName == "string")
    assert(r.schema("s2").dataType.typeName == "string")
    assert(r.schema("d").dataType.typeName == "double")
    val rn = psql.sql("from ct |> select cast(i as varchar(10)) as s |> limit 1")
    assert(rn.collect().head.getString(0) == "0")
    // a column literally named varchar is untouched when followed by '('…
    // and the word inside strings/comments is opaque
    val lit = psql.sql("from ct |> select 'varchar stays' as s |> limit 1")
    assert(lit.collect().head.getString(0) == "varchar stays")
  }
}
