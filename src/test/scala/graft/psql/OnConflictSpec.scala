package graft.psql

import graft.SparkSpec
import org.apache.spark.sql.SaveMode

/** DuckDB `INSERT … ON CONFLICT` lowering (DmlStatements.insertOnConflict →
  * the keyed upsert, MergeStatement.onConflict): DO UPDATE / DO NOTHING
  * semantics, bare-name scoping (target row) vs `excluded.*` (proposed
  * row), DO UPDATE WHERE fall-through, Count parity with the probed DuckDB
  * counts, duplicate-key and NULL-key batch errors, OR REPLACE/IGNORE
  * pointer error, append-only plan for DO NOTHING.
  *
  * Job shape under test: ONE guard-and-count aggregate (batch left-joined
  * to the target on the keys), then ONE write — an append when no row is
  * updated, else a copy-on-write swap of the target FULL JOIN batch
  * post-image. Every case runs twice: on an unconstrained table (explicit
  * conflict targets) and on the same rows under a declared PRIMARY KEY.
  */
class OnConflictSpec extends SparkSpec {

  import spark.implicits._
  private lazy val psql = Psql(spark)

  private def seed(name: String, pk: Boolean): Unit = {
    graft.operators.Bucketing.dropTableAndLocation(spark, name)
    graft.operators.Bucketing.dropTableAndLocation(spark, name + "__graft_cow")
    if (pk) {
      psql.sql(s"create table $name (k bigint primary key, v double, s varchar)")
      psql.sql(s"insert into $name values (1, 10.0, 'a'), (2, 20.0, 'b')")
    } else
      Seq((1L, 10.0, "a"), (2L, 20.0, "b"))
        .toDF("k", "v", "s")
        .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(name)
  }

  /** Run `body` on a freshly seeded unconstrained table `base` and on a
    * PRIMARY KEY table `base_pk` holding the same rows.
    */
  private def forEachInput(base: String)(body: (String, Boolean) => Unit): Unit =
    Seq(false, true).foreach { pk =>
      val t = if (pk) base + "_pk" else base
      seed(t, pk)
      withClue(s"[${if (pk) "PRIMARY KEY" else "unconstrained"} table $t] ") {
        body(t, pk)
      }
    }

  private def rows(name: String): Seq[(Long, Double, String)] =
    spark.table(name).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq

  test("DO UPDATE: bare names = target row, excluded.* = proposed row; count = ins+upd") {
    forEachInput("graft_oc_t1") { (t, _) =>
      // probed DuckDB 1.0: result [(2,)], table (1,15.0,'ax'),(2,20.0,'b'),(3,30.0,'c')
      val r = psql.sql(s"""insert into $t values (1, 5.0, 'x'), (3, 30.0, 'c')
        |on conflict (k) do update set v = v + excluded.v, s = s || excluded.s
        |where v < 100""".stripMargin)
      assert(r.columns.toSeq == Seq("Count"))
      assert(r.collect()(0).getLong(0) == 2L)
      assert(rows(t) ==
        Seq((1L, 15.0, "ax"), (2L, 20.0, "b"), (3L, 30.0, "c")))
    }
  }

  test("DO NOTHING: conflicting rows skipped, count = inserted only") {
    forEachInput("graft_oc_t2") { (t, _) =>
      val r = psql.sql(
        s"insert into $t values (2, 99.0, 'z'), (4, 40.0, 'd') " +
          "on conflict (k) do nothing")
      assert(r.collect()(0).getLong(0) == 1L)
      assert(rows(t) ==
        Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (4L, 40.0, "d")))
    }
  }

  test("DO UPDATE WHERE false: row unchanged, count 0 (probed DuckDB)") {
    forEachInput("graft_oc_t3") { (t, _) =>
      val r = psql.sql(s"""insert into $t values (1, 1.0, 'q')
        |on conflict (k) do update set v = excluded.v where excluded.v > 100""".stripMargin)
      assert(r.collect()(0).getLong(0) == 0L)
      assert(rows(t) == Seq((1L, 10.0, "a"), (2L, 20.0, "b")))
    }
  }

  test("DO UPDATE WHERE NULL: row unchanged, count 0 (three-valued logic)") {
    // DuckDB 1.0 is INTERNALLY INCONSISTENT on this edge: its small-batch
    // conflict path leaves the row unchanged (probed: WHERE nullif(v,55)>24
    // on a 5-row insert) while its bulk path UPDATES the same row (probed:
    // identical predicate, 7500-row insert — found by fuzz seed 9101).
    // Graft pins the small-batch/Postgres semantics — a NULL condition
    // never applies — matching every other NULL-cond statement here
    // (DELETE/UPDATE/MERGE clause guards).
    forEachInput("graft_oc_t9") { (t, _) =>
      val r = psql.sql(s"""insert into $t values (1, 4.0, 'q')
        |on conflict (k) do update set v = excluded.v
        |where nullif(v, 10.0) > 100""".stripMargin) // target v = 10 → NULL
      assert(r.collect()(0).getLong(0) == 0L)
      assert(rows(t) == Seq((1L, 10.0, "a"), (2L, 20.0, "b")))
    }
  }

  test("column-list + query source: unlisted columns NULL into inserts, kept on updates") {
    Seq((1L, 77.0), (5L, 55.0)).toDF("kk", "vv").createOrReplaceTempView("graft_oc_s4")
    forEachInput("graft_oc_t4") { (t, _) =>
      psql.sql(s"""insert into $t (k, v) select kk, vv from graft_oc_s4
        |on conflict (k) do update set v = excluded.v""".stripMargin)
      val got = spark.table(t).orderBy("k").collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSeq
      assert(got == Seq((1L, 77.0, Some("a")), (2L, 20.0, Some("b")), (5L, 55.0, None)))
    }
  }

  test("duplicate conflict key in the batch errors on both forms; NULL key errors") {
    forEachInput("graft_oc_t5") { (t, _) =>
      val e1 = intercept[IllegalArgumentException] {
        psql.sql(s"insert into $t values (7, 1.0, 'x'), (7, 2.0, 'y') " +
          "on conflict (k) do update set v = excluded.v")
      }
      assert(e1.getMessage.contains("twice"))
      val e2 = intercept[IllegalArgumentException] {
        psql.sql(s"insert into $t values (7, 1.0, 'x'), (7, 2.0, 'y') " +
          "on conflict (k) do nothing")
      }
      assert(e2.getMessage.contains("twice"))
      val e3 = intercept[IllegalArgumentException] {
        psql.sql(s"insert into $t (v, s) values (1.0, 'x') " +
          "on conflict (k) do nothing")
      }
      assert(e3.getMessage.contains("NULL"))
      assert(rows(t) == Seq((1L, 10.0, "a"), (2L, 20.0, "b")))
    }
  }

  test("OR REPLACE / OR IGNORE / bare ON CONFLICT without a PRIMARY KEY / RETURNING fail loudly") {
    forEachInput("graft_oc_t6") { (t, pk) =>
      if (!pk) {
        // no PRIMARY KEY: the inferring forms have no conflict target
        val e1 = intercept[IllegalArgumentException] {
          psql.sql(s"insert or replace into $t values (1, 2.0, 'z')")
        }
        assert(e1.getMessage.contains("PRIMARY KEY"))
        val e2 = intercept[IllegalArgumentException] {
          psql.sql(s"insert into $t values (1, 2.0, 'z') on conflict do nothing")
        }
        assert(e2.getMessage.contains("PRIMARY KEY"))
      } else {
        // the declared PRIMARY KEY is the inferred conflict target
        assert(psql.sql(s"insert or replace into $t values (1, 2.0, 'z')")
          .collect()(0).getLong(0) == 1L)
        assert(psql.sql(s"insert into $t values (1, 3.0, 'y') on conflict do nothing")
          .collect()(0).getLong(0) == 0L)
        assert(rows(t) == Seq((1L, 2.0, "z"), (2L, 20.0, "b")))
      }
      val e3 = intercept[IllegalArgumentException] {
        psql.sql(s"insert into $t values (9, 2.0, 'z') " +
          "on conflict (k) do nothing returning k")
      }
      assert(e3.getMessage.contains("RETURNING"))
    }
  }

  test("DO NOTHING is insert-only: target files untouched (append, no rewrite)") {
    forEachInput("graft_oc_t7") { (t, _) =>
      val loc = new java.net.URI(spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .where("col_name = 'Location'").collect()(0).getString(1)).getPath
      def listing(): Set[(String, Long)] = {
        val d = new java.io.File(loc)
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet
      }
      val before = listing()
      psql.sql(s"insert into $t values (1, 9.0, 'dup'), (8, 80.0, 'h') " +
        "on conflict (k) do nothing")
      assert(listing().intersect(before) == before,
        "DO NOTHING must append — pre-existing data files must survive byte-identical")
      assert(rows(t) ==
        Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (8L, 80.0, "h")))
    }
  }

  test("BY NAME source composes with ON CONFLICT") {
    Seq(("up", 2L, 222.0)).toDF("s", "k", "v").createOrReplaceTempView("graft_oc_s8")
    forEachInput("graft_oc_t8") { (t, _) =>
      psql.sql(s"""insert into $t by name (from graft_oc_s8)
        |on conflict (k) do update set v = excluded.v, s = excluded.s""".stripMargin)
      assert(rows(t) == Seq((1L, 10.0, "a"), (2L, 222.0, "up")))
    }
  }
}
