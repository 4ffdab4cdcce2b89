package graft.psql

import graft.SparkSpec

/** The error surface of the write statements, byte for byte: for each
  * violation kind and statement form, the exact message a rejected
  * statement raises, and the target's rows unchanged afterwards. Covers
  * NOT NULL and CHECK on INSERT, UPDATE, MERGE and the keyed upsert;
  * PRIMARY KEY duplicates within a batch and against the table; existing
  * duplicates at CREATE UNIQUE INDEX; key collapses through UPDATE,
  * UPDATE … FROM and MERGE; FK orphans on INSERT, UPDATE, MERGE, the
  * upsert and UPDATE … FROM; and a still-referenced key after DELETE,
  * UPDATE or MERGE. Every message names the statement the user wrote.
  */
class DmlErrorSurfaceSpec extends SparkSpec {

  private lazy val psql = Psql(spark)

  private def fresh(t: String, ddl: String, rows: String): Unit = {
    Seq(t, t + "__graft_cow").foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    psql.sql(ddl)
    psql.sql(s"insert into $t $rows")
  }

  private def rows(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).sorted.toSeq

  /** The message `stmt` fails with — the innermost cause's, so a guard
    * raised inside a task reads without the job-abort wrapper — after
    * asserting that no table in `tables` changed.
    */
  private def rejected(tables: String*)(stmt: String): String = {
    val before = tables.map(rows)
    val e = intercept[Exception](psql.sql(stmt).collect())
    assert(tables.map(rows) == before, s"rows changed under a rejected statement: $stmt")
    var c: Throwable = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c.getMessage
  }

  // ---- NOT NULL and CHECK -------------------------------------------------

  private val C = "graft_es_c"
  private def seedC(): Unit =
    fresh(C, s"create table $C (k int primary key, v varchar not null, n int, check (n >= 0))",
      "values (1, 'a', 1), (2, 'b', 2)")
  private val notNull =
    s"[USER_RAISED_EXCEPTION] NOT NULL constraint failed: $C.v SQLSTATE: P0001"
  private val check =
    s"[USER_RAISED_EXCEPTION] CHECK constraint failed: $C: n >= 0 SQLSTATE: P0001"

  test("INSERT: NOT NULL and CHECK") {
    seedC()
    assert(rejected(C)(s"insert into $C values (3, null, 1)") == notNull)
    assert(rejected(C)(s"insert into $C values (3, 'c', -1)") == check)
  }

  test("UPDATE: NOT NULL and CHECK") {
    seedC()
    assert(rejected(C)(s"update $C set v = null where k = 1") == notNull)
    assert(rejected(C)(s"update $C set n = -1 where k = 1") == check)
  }

  test("MERGE: NOT NULL on the update clause, CHECK on the insert clause") {
    seedC()
    assert(rejected(C)(s"""merge into $C using (select 1 as k) s on $C.k = s.k
      |when matched then update set v = null""".stripMargin) == notNull)
    assert(rejected(C)(s"""merge into $C using (select 7 as k) s on $C.k = s.k
      |when not matched then insert values (s.k, 'g', -5)""".stripMargin) == check)
  }

  test("upsert: NOT NULL and CHECK on DO UPDATE, NOT NULL on the inserted row") {
    seedC()
    assert(rejected(C)(s"insert into $C values (1, 'x', 1) on conflict do update set v = null") ==
      notNull)
    assert(rejected(C)(s"insert into $C values (1, 'x', 1) on conflict do update set n = -9") ==
      check)
    assert(rejected(C)(s"insert or ignore into $C values (8, null, 1)") == notNull)
  }

  // ---- PRIMARY KEY / UNIQUE -----------------------------------------------

  test("INSERT: a key proposed twice in one batch, and a key already in the table") {
    seedC()
    assert(rejected(C)(s"insert into $C values (5, 'e', 1), (5, 'f', 1)") ==
      s"""INSERT into $C: Duplicate key "k: 5" violates primary key constraint """ +
        "(proposed twice in one batch)")
    assert(rejected(C)(s"insert into $C values (1, 'z', 1)") ==
      s"""INSERT into $C: Duplicate key "k: 1" violates primary key constraint — use """ +
        "INSERT OR REPLACE/IGNORE or INSERT … ON CONFLICT to upsert")
  }

  test("CREATE UNIQUE INDEX over existing duplicates") {
    val u = "graft_es_u"
    fresh(u, s"create table $u (k int, u int, w int)", "values (1, 10, 7), (2, 10, 7), (3, 30, 8)")
    assert(rejected(u)(s"create unique index graft_es_u_idx on $u (u, w)") ==
      s"""Duplicate key "u: 10, w: 7" violates unique constraint — existing rows in $u """ +
        "are not unique on (u, w)")
  }

  test("UPDATE: a SET that collapses two keys into one") {
    seedC()
    assert(rejected(C)(s"update $C set k = 1 where k = 2") ==
      s"""UPDATE $C: Duplicate key "k: 1" violates primary key constraint""")
  }

  test("MERGE: an update clause that collapses two keys into one") {
    seedC()
    assert(rejected(C)(s"""merge into $C using (select 2 as k) s on $C.k = s.k
      |when matched then update set k = 1""".stripMargin) ==
      s"""MERGE into $C: Duplicate key "k: 1" violates primary key constraint""")
  }

  test("UPDATE … FROM: a key collapse names UPDATE") {
    seedC()
    assert(rejected(C)(s"""update $C set k = s.nk from (select 2 as k, 1 as nk) as s
      |where $C.k = s.k""".stripMargin) ==
      s"""UPDATE $C: Duplicate key "k: 1" violates primary key constraint""")
  }

  // ---- FOREIGN KEY (opt-in enforcement) -----------------------------------

  private val P = "graft_es_p"
  private val F = "graft_es_f"

  /** Parent keys 1, 2; child row 10 references 1 through `pk`. */
  private def withFks(body: => Unit): Unit = {
    fresh(P, s"create table $P (k int primary key, s varchar)", "values (1, 'a'), (2, 'b')")
    fresh(F, s"create table $F (id int primary key, pk int references $P (k))", "values (10, 1)")
    psql.sql("set graft_enforce_foreign_keys = true")
    try body finally psql.sql("reset graft_enforce_foreign_keys")
  }

  // an orphan names the REFERENCED column (k), a still-referenced key the
  // child's (pk) — DuckDB 1.0's wording
  private def orphan(verb: String) =
    s"""$verb $F: Violates foreign key constraint because key "k: 99" does not exist """ +
      "in the referenced table"
  private def stillReferenced(verb: String) =
    s"""$verb $P: Violates foreign key constraint because key "pk: 1" is still """ +
      "referenced by a foreign key in a different table"

  test("FK orphan on INSERT, UPDATE and MERGE") {
    withFks {
      assert(rejected(P, F)(s"insert into $F values (11, 99)") == orphan("INSERT into"))
      assert(rejected(P, F)(s"update $F set pk = 99 where id = 10") == orphan("UPDATE"))
      assert(rejected(P, F)(s"""merge into $F using (select 12 as id, 99 as pk) s on $F.id = s.id
        |when not matched then insert values (s.id, s.pk)""".stripMargin) ==
        orphan("MERGE into"))
      assert(rejected(P, F)(s"""merge into $F using (select 10 as id, 99 as pk) s on $F.id = s.id
        |when matched then update set pk = s.pk""".stripMargin) == orphan("MERGE into"))
    }
  }

  test("FK orphan on the upsert names INSERT: inserted and replaced rows") {
    withFks {
      assert(rejected(P, F)(s"insert into $F values (12, 99) on conflict do nothing") ==
        orphan("INSERT into"))
      assert(rejected(P, F)(s"insert or replace into $F values (10, 99)") ==
        orphan("INSERT into"))
    }
  }

  test("FK orphan on UPDATE … FROM names UPDATE") {
    withFks {
      assert(rejected(P, F)(s"""update $F set pk = s.npk from (select 10 as id, 99 as npk) as s
        |where $F.id = s.id""".stripMargin) == orphan("UPDATE"))
    }
  }

  test("FK still referenced after DELETE, UPDATE or MERGE of the parent key") {
    withFks {
      assert(rejected(P, F)(s"delete from $P where k = 1") == stillReferenced("DELETE from"))
      // a referenced `SET k = k` is rejected too (DuckDB 1.0)
      assert(rejected(P, F)(s"update $P set k = k where k = 1") == stillReferenced("UPDATE"))
      assert(rejected(P, F)(s"""merge into $P using (select 1 as k) s on $P.k = s.k
        |when matched then delete""".stripMargin) == stillReferenced("MERGE into"))
    }
  }
}
