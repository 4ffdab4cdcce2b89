package graft

import graft.psql.Psql
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Per-session state is registered once per session — not once per
  * `Psql(spark)` instance, and not once per JVM.
  */
class SessionScopeSpec extends SparkSpec {

  test("engine functions register once per session; a new session gets its own") {
    val registry = spark.sessionState.functionRegistry
    Psql(spark).sql("select xor(5, 3) as x").collect()
    val xor = registry.lookupFunction(FunctionIdentifier("xor")).get
    val version = registry.lookupFunction(FunctionIdentifier("version")).get
    // a second instance on the same session re-registers nothing: the
    // registry still holds the very same entries
    assert(Psql(spark).sql("select xor(6, 3) as x").collect()(0).getInt(0) == 5)
    assert(registry.lookupFunction(FunctionIdentifier("xor")).get eq xor)
    assert(registry.lookupFunction(FunctionIdentifier("version")).get eq version)
    // newSession() starts from the builtins and registers its own
    val other = spark.newSession()
    assert(!other.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_cast")))
    assert(Psql(other).sql("select xor(5, 3) as x").collect()(0).getInt(0) == 6)
    assert(other.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_cast")))
  }

  test("Tables.register keys per session: two sessions in one JVM both resolve lineitem") {
    import spark.implicits._
    // a one-row stand-in for every table Tables.register reads
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Tables.all.foreach { n =>
      val df =
        if (n == "events") Seq((1L, new java.sql.Timestamp(0L))).toDF("event_id", "ts")
        else Seq((1L, n)).toDF("id", "name")
      df.write.parquet(s"$dir/$n.parquet")
    }
    // two fresh sessions, so the shared session's views stay untouched
    val (first, second) = (spark.newSession(), spark.newSession())
    Tables.register(first, dir)
    Tables.register(second, dir)
    Seq(first, second).foreach { s =>
      assert(s.table("lineitem").collect().map(_.getString(1)).toSeq == Seq("lineitem"))
    }
  }
}
