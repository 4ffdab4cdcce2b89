package graft

import graft.psql.Psql

/** Differential-fuzz executor: reads `<outDir>/queries.json` (written by
  * `tools/fuzz.py`) with entries `{"name": …, "psql": …}`, runs each
  * pipeline through the PSQL front-end, and writes `<outDir>/out/<name>
  * .parquet` (or `<name>.error` with the message). The python side then runs
  * the reference's own nested-FROM rewrite of the same text in DuckDB and
  * hash-compares — fuzzing the whole front-end+engine stack, not just the
  * fixed inventory. Runs under the bench's session ([[Bench.session]]), so
  * the fuzzer tests the configuration the bench measures.
  */
object FuzzRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = Bench.session()
    Tables.register(spark, sfDir)
    // auxiliary deterministic views for the asof/positional fuzz shapes —
    // tools/fuzz.py creates the SAME views in DuckDB, so both engines join
    // against identical relations (right sides need unique (key, time) rows
    // for asof-payload determinism and a total order for positional zip)
    locally {
      import org.apache.spark.sql.functions._
      spark.table("events").where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
        .withColumnRenamed("ts", "pts")
        .createOrReplaceTempView("purchases_f")
      spark.table("orders").select("o_orderkey")
        .orderBy(col("o_orderkey").desc).limit(100)
        .createOrReplaceTempView("pos_r")
    }
    val psql = Psql(spark)
    // real JSON parsing (the earlier regex extraction StackOverflowed on
    // long statement scripts — java.util.regex recurses per alternation
    // iteration); entries may carry extra fields (duck_psql/duck_script)
    // that only the python side reads
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outDir, "queries.json")), "UTF-8")
    val queries: List[(String, String)] = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(text) match {
        case JArray(items) => items.collect {
          case JObject(fields) =>
            val m = fields.toMap
            (m.get("name"), m.get("psql")) match {
              case (Some(JString(n)), Some(JString(q))) => (n, q)
              case _ => throw new IllegalArgumentException(
                "queries.json entry without name/psql string fields")
            }
        }
        case _ => throw new IllegalArgumentException("queries.json is not a JSON array")
      }
    }
    queries.foreach { case (name, q) =>
      val target = java.nio.file.Paths.get(outDir, "out", name + ".parquet").toString
      // statement-script entries: statements separated by a `;;` line run
      // in order (DDL/DML execute eagerly inside sql()); the LAST
      // statement's result is the comparable output. A statement whose
      // first line is `--expect-error` MUST throw (the FK-enforcement
      // family's rejected writes) — succeeding is the failure.
      def runStmt(s: String): Unit =
        if (s.startsWith("--expect-error")) {
          val body = s.stripPrefix("--expect-error").trim
          val threw =
            try { psql.sql(body); false }
            catch { case _: Throwable => true }
          if (!threw) throw new IllegalStateException(
            s"expected failure but statement succeeded: ${body.take(120)}")
        } else psql.sql(s): Unit
      try {
        val stmts = q.split("\n;;\n").map(_.trim).filter(_.nonEmpty)
        stmts.init.foreach(runStmt)
        psql.sql(stmts.last).coalesce(1).write.mode("overwrite").parquet(target)
      } catch {
        case e: Throwable =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir, "out"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, "out", name + ".error"),
            String.valueOf(e.getMessage).getBytes("UTF-8"))
      } finally {
        // script-scoped session options must not leak into the next
        // fuzz query (the FK-enforcement family SETs this)
        spark.conf.unset(graft.psql.TableConstraints.FkEnforceConf)
      }
    }
    println(s"fuzz: executed ${queries.size} queries")
    spark.stop()
  }
}
