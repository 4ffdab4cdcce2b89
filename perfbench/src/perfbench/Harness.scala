package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.psql.Psql

/** JVM side of the benchmark. `run.py` generates the operation stream and
  * starts this main; it reads the stream, sets up the session several
  * times, runs timed passes until `--seconds` of measured time, checks every
  * output outside the timed spans and writes one `result.json` (plus
  * `spans.jsonl` when traced) into `--out`. It calls only the program's
  * public entry points: `Tables.register`, `Psql.sql`, `Psql.rewriteOnly`
  * and the `SparkEntry.defs` row functions.
  *
  * Usage: Harness --ops <ops.jsonl> --out <dir> --sf <sfDir> --small-sf <dir>
  *   --cpus <n> --seconds <s> --trace <0|1> --spawn-ms <epoch ms> --setups <k>
  */
object Harness {
  final case class Op(
      id: String, phase: String, pass: Int, kind: String, text: String,
      row: String, expectError: Boolean, small: Boolean)

  private val mapper = new ObjectMapper()

  private def now: Long = System.nanoTime()
  private def ms(ns: Long): Double = ns / 1e6

  /** Builds a JSON object for Jackson from Scala values. */
  private[perfbench] def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, jv(v)) }
    m
  }
  private def jv(v: Any): Any = v match {
    case None                => null
    case Some(x)             => jv(x)
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, jv(x)) }
      out
    case s: Iterable[_]      => s.map(jv).toSeq.asJava
    case a: Array[_]         => a.toSeq.map(jv).asJava
    case x                   => x
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def readOps(path: String): Vector[Op] = {
    val lines = Files.readAllLines(new File(path).toPath, StandardCharsets.UTF_8).asScala
    lines.filter(_.trim.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      def s(k: String) = Option(n.get(k)).filterNot(_.isNull).map(_.asText).orNull
      Op(s("id"), s("phase"), Option(n.get("pass")).map(_.asInt).getOrElse(0), s("kind"),
        s("text"), s("row"), Option(n.get("expect_error")).exists(_.asBoolean),
        Option(n.get("small")).exists(_.asBoolean))
    }.toVector
  }

  /** The DuckDB name of the type DuckDB reports for a Spark column written
    * to parquet, so the output check compares types as well as values.
    * Spark writes both timestamp types as parquet INT96 by default, which
    * DuckDB reads as TIMESTAMP. */
  def duckType(t: DataType): String = t match {
    case ByteType            => "TINYINT"
    case ShortType           => "SMALLINT"
    case IntegerType         => "INTEGER"
    case LongType            => "BIGINT"
    case FloatType           => "FLOAT"
    case DoubleType          => "DOUBLE"
    case d: DecimalType      => s"DECIMAL(${d.precision},${d.scale})"
    case StringType          => "VARCHAR"
    case BooleanType         => "BOOLEAN"
    case DateType            => "DATE"
    case TimestampType       => "TIMESTAMP"
    case TimestampNTZType    => "TIMESTAMP"
    case BinaryType          => "BLOB"
    case ArrayType(e, _)     => duckType(e) + "[]"
    case MapType(k, v, _)    => s"MAP(${duckType(k)}, ${duckType(v)})"
    case StructType(fs)      => fs.map(f => s"${f.name} ${duckType(f.dataType)}").mkString("STRUCT(", ", ", ")")
    case other               => other.simpleString.toUpperCase
  }

  private def cell(v: Any): Any = v match {
    case null                         => null
    case d: java.math.BigDecimal      => d.toPlainString
    case d: java.sql.Date             => d.toString
    case d: java.time.LocalDate       => d.toString
    case t: java.sql.Timestamp        => t.toInstant.toString
    case t: java.time.Instant         => t.toString
    case t: java.time.LocalDateTime   => t.toString
    case b: Array[Byte]               => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_]   => s.map(cell).asJava
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(String.valueOf(k), cell(x)) }
      out
    case r: Row =>
      val out = new java.util.LinkedHashMap[String, Any]()
      r.schema.fieldNames.zipWithIndex.foreach { case (n, i) => out.put(n, cell(r.get(i))) }
      out
    case x => x
  }

  /** Output as the check compares it: column names, DuckDB type names, rows. */
  private def output(schema: StructType, rows: Array[Row]): java.util.Map[String, Any] =
    obj("columns" -> schema.fieldNames.toSeq,
      "types" -> schema.fields.map(f => duckType(f.dataType)).toSeq,
      "rows" -> rows.map(r => (0 until r.length).map(i => cell(r.get(i))).asJava).toSeq)

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val ops = readOps(a("ops"))
    val out = new File(a("out"))
    val sfDir = a("sf")
    val smallSf = a("small-sf")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val setups = a.getOrElse("setups", "3").toInt
    val jvmStartMs = (mainEntryMs - a("spawn-ms").toLong).toDouble

    val defsByName = SparkEntry.defs.map(d => d.name -> d).toMap
    val warmupOps = ops.filter(_.phase == "warmup")
    val finalOps = ops.filter(_.phase == "final")
    val passes: Vector[(Int, Vector[Op])] =
      ops.filter(_.phase == "timed").groupBy(_.pass).toVector.sortBy(_._1)

    def newSession(i: Int): SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      // keep every file the session writes inside the run directory
      .config("spark.sql.warehouse.dir", new File(out, s"warehouse-$i").getAbsolutePath)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .getOrCreate()

    val failures = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val outputs = new File(out, "outputs")
    outputs.mkdirs()

    // ---- set-up: session and Tables.register, repeated; then one warm-up ----
    // Tables.register remembers the last directory per JVM, not per
    // session, so a fresh session would find its views missing. Each
    // repetition therefore names the same directory with a different
    // number of trailing slashes, which Hadoop's Path normalises away.
    val setupSamples = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    var spark: SparkSession = null
    var sfAlias = sfDir
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = now
      spark = newSession(i)
      spark.sparkContext.setLogLevel("WARN")
      val t1 = now
      sfAlias = sfDir + "/" * i
      Tables.register(spark, sfAlias)
      val t2 = now
      setupSamples += obj("session_ms" -> ms(t1 - t0), "register_ms" -> ms(t2 - t1),
        "total_ms" -> ms(t2 - t0))
    }
    // the untimed warm-up runs once, on the session the passes use
    val w0 = now
    val psql = Psql(spark)
    val warmupOpMs = mutable.LinkedHashMap.empty[String, Double]
    warmupOps.foreach { op =>
      val o0 = now
      try {
        val df = build(op, spark, psql, defsByName, if (op.small) smallSf else sfAlias)
        if (op.kind == "dml") df.collect() else df.write.format("noop").mode("overwrite").save()
        if (op.expectError) failures += obj("id" -> op.id, "phase" -> "warmup",
          "error" -> "expected an error, statement succeeded")
      } catch {
        case e: Throwable if !op.expectError =>
          failures += obj("id" -> op.id, "phase" -> "warmup", "error" -> short(e))
        case _: Throwable => ()
      }
      warmupOpMs(op.id) = ms(now - o0)
    }
    // a row run on the small tables re-registered them; register the
    // measured ones again before the timed passes
    Tables.register(spark, sfAlias)
    val warmupMs = ms(now - w0)
    val sc = spark.sparkContext

    // ---- timed passes ----
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val opRecords = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    val passRecords = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
    var measuredNs = 0L
    var retained: java.util.Map[String, Any] = null
    var nUntraced = 0
    var nTraced = 0
    val passIt = passes.iterator
    def more: Boolean =
      passIt.hasNext && (measuredNs < seconds * 1e9 || (trace && (nUntraced == 0 || nTraced == 0)))
    while (more) {
      val (passNo, passOps) = passIt.next()
      // a traced run traces its first pass (the pass an untraced run
      // measures first), then alternates untraced and traced passes
      val traced = trace && (nUntraced + nTraced) % 2 == 0
      if (traced) tracer.foreach(_.attach())
      val gc0 = gcMs
      var passNs = 0L
      passOps.foreach { op =>
        val r = runOp(op, spark, psql, defsByName, sfAlias, outputs, if (traced) tracer else None)
        passNs += r._1
        opRecords += r._2
        r._3.foreach(failures += _)
      }
      if (traced) tracer.foreach(_.detach())
      passRecords += obj("pass" -> passNo, "traced" -> traced, "ops" -> passOps.size,
        "wall_ms" -> ms(passNs), "gc_ms" -> (gcMs - gc0))
      measuredNs += passNs
      if (traced) nTraced += 1 else nUntraced += 1
      // retained memory after the first pass, whose work the seed fixes;
      // later passes would add Spark's per-job status records
      if (retained == null) {
        // Spark's ContextCleaner frees broadcast and shuffle blocks only
        // after a GC has queued their references, so collect, let it run,
        // and collect again
        for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
        retained = obj(
          "heap_bytes" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed,
          "disk_block_bytes" -> sc.getRDDStorageInfo.map(_.diskSize).sum,
          "mem_block_bytes" -> sc.getRDDStorageInfo.map(_.memSize).sum)
      }
    }

    // ---- final table state of every pass that ran (untimed) ----
    val ranPasses = passRecords.map(_.get("pass").asInstanceOf[Int]).toSet
    val finalRecords = finalOps.filter(o => ranPasses.contains(o.pass)).map { op =>
      sc.addJobTag("pb-check")
      try {
        val df = psql.sql(op.text)
        obj("id" -> op.id, "pass" -> op.pass,
          "output_file" -> saveOutput(outputs, op.id, output(df.schema, df.collect())))
      } catch {
        case e: Throwable => obj("id" -> op.id, "pass" -> op.pass, "error" -> short(e))
      } finally sc.removeJobTag("pb-check")
    }

    val result = obj(
      "jvm_start_ms" -> jvmStartMs,
      "setups" -> setupSamples,
      "warmup_ms" -> warmupMs,
      "warmup_op_ms" -> warmupOpMs,
      "passes" -> passRecords,
      "ops" -> opRecords,
      "final" -> finalRecords,
      "failures" -> failures,
      "oracles" -> passes.flatMap(_._2).filter(_.kind == "row").map(_.row).distinct
        .map(r => r -> defsByName(r).oracle.map(_.replace("{SF_DIR}", sfDir))).toMap,
      "retained" -> retained,
      "host" -> obj("spark_version" -> spark.version,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory))
    tracer.foreach(_.writeSpans(new File(out, "spans.jsonl")))
    val w = new PrintWriter(new File(out, "result.json"), "UTF-8")
    try w.write(mapper.writeValueAsString(result)) finally w.close()
    spark.stop()
  }

  private def short(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    s"${e.getClass.getSimpleName}: ${m.take(400)}"
  }

  private def build(op: Op, spark: SparkSession, psql: Psql,
      defs: Map[String, SparkEntry.QueryDef], sf: String): DataFrame = op.kind match {
    case "pipe" | "dml" => psql.sql(op.text)
    case "row"          => defs(op.row).fn(spark, sf)
    case k              => throw new IllegalArgumentException(s"unknown operation kind $k")
  }

  /** Writes an output to `dir/<id>.json` so the harness holds no result
    * rows while it measures retained memory; returns the file name. */
  private def saveOutput(dir: File, id: String, out: java.util.Map[String, Any]): String = {
    val f = new File(dir, s"$id.json")
    mapper.writeValue(f, out)
    f.getName
  }

  /** Runs one operation: build, then the noop write (or collect for a DML
    * statement). Returns its measured wall time, its record and a failure
    * record if it threw or accepted a statement that must error. The check
    * read of a pipeline or row output happens after the timed span. */
  private def runOp(op: Op, spark: SparkSession, psql: Psql,
      defs: Map[String, SparkEntry.QueryDef], sf: String, outputs: File,
      tracer: Option[Tracer]): (Long, java.util.Map[String, Any], Option[java.util.Map[String, Any]]) = {
    val sc = spark.sparkContext
    val buildTag = s"pb-${op.id}-build"
    val finalTag = s"pb-${op.id}-final"
    tracer.foreach(_.beginOp(op.id))
    val t0 = now
    var tBuilt = t0
    var tEnd = t0
    var rewriteNs = 0L
    var error: String = null
    var out: java.util.Map[String, Any] = null
    var df: DataFrame = null
    try {
      if (tracer.isDefined && op.text != null) {
        val r0 = now
        psql.rewriteOnly(op.text)
        rewriteNs = now - r0
        tracer.foreach(_.span("rewrite", r0, r0 + rewriteNs))
      }
      sc.addJobTag(buildTag)
      tracer.foreach(_.phase("build"))
      val b0 = now
      df = build(op, spark, psql, defs, sf)
      tBuilt = now
      tracer.foreach { t => t.span("build", b0, tBuilt); t.built(df) }
      sc.removeJobTag(buildTag)
      sc.addJobTag(finalTag)
      tracer.foreach(_.phase("final"))
      if (op.kind == "dml") out = output(df.schema, df.collect())
      else df.write.format("noop").mode("overwrite").save()
      tEnd = now
      tracer.foreach(_.span("final", tBuilt, tEnd))
    } catch {
      case e: Throwable =>
        tEnd = now
        error = short(e)
    } finally {
      sc.removeJobTag(buildTag)
      sc.removeJobTag(finalTag)
    }
    val wall = tEnd - t0
    val traceRec = tracer.map(_.endOp(t0, tEnd))
    // the output check reads the same DataFrame again, untimed and untraced
    if (error == null && out == null && df != null) {
      sc.addJobTag("pb-check")
      try out = output(df.schema, df.collect())
      catch { case e: Throwable => error = "check read failed: " + short(e) }
      finally sc.removeJobTag("pb-check")
    }
    val failure =
      if (op.expectError && error == null)
        Some(obj("id" -> op.id, "error" -> "expected an error, statement succeeded"))
      else if (!op.expectError && error != null) Some(obj("id" -> op.id, "error" -> error))
      else None
    val rec = obj("id" -> op.id, "pass" -> op.pass, "kind" -> op.kind, "row" -> Option(op.row),
      "wall_ms" -> ms(wall), "build_ms" -> ms(tBuilt - t0 - rewriteNs),
      "rewrite_ms" -> ms(rewriteNs), "errored" -> (error != null), "error" -> Option(error),
      "output_file" -> Option(out).map(saveOutput(outputs, op.id, _)), "trace" -> traceRec)
    (wall, rec, failure)
  }
}
