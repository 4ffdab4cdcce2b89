package graft.psql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import SqlScanner.{matchesWord, nextCode, scan}

/** DuckDB `DESCRIBE <table>` — the exact six-column shape a reference user
  * reads (probed 1.0): `(column_name, column_type, null, key, default,
  * extra)`, with DuckDB type SPELLINGS (VARCHAR/BIGINT/`T[]`…), `NO` null
  * markers for NOT NULL + key columns, `PRI`/`UNI` key flags (single-column
  * uniques only — DuckDB's own display rule) and the recorded default
  * expression text.
  *
  * Scope: the BARE single-identifier form only. `DESCRIBE TABLE [EXTENDED]`
  * (Spark's own spelling), DESCRIBE over a query/pipeline, and qualified
  * names all keep Spark's native output — tooling written against Spark
  * depends on that shape, and the reference user types the bare form.
  */
object DescribeStatement {

  /** `stmt` starts with `kw`, the DESCRIBE or DESC keyword. */
  def run(spark: SparkSession, stmt: String, kw: String): Option[DataFrame] = {
    val sc = scan(stmt)
    val p = nextCode(stmt, sc, kw.length)
    if (p < 0) return None
    // Spark's own spellings keep Spark's shape
    if (matchesWord(stmt, p, "table") || matchesWord(stmt, p, "extended") ||
        matchesWord(stmt, p, "formatted") || matchesWord(stmt, p, "query"))
      return None
    val (name, after) =
      try DmlStatements.identifierAt(stmt, p)
      catch { case _: IllegalArgumentException => return None }
    if (stmt.substring(after).trim.nonEmpty) return None // query/pipeline form
    if (name.contains('.') || !spark.catalog.tableExists(name)) return None
    val cons = TableConstraints.load(spark, name)
    def in(cols: Seq[String], c: String) = cols.exists(_.equalsIgnoreCase(c))
    val singleUniques = cons.uniques.filter(_.size == 1).map(_.head)
    val rows = spark.table(name).schema.fields.toSeq.map { f =>
      val lower = f.name.toLowerCase(java.util.Locale.ROOT)
      val notNull = in(cons.notNull, f.name) || in(cons.primaryKey, f.name) || !f.nullable
      val key =
        if (in(cons.primaryKey, f.name)) "PRI"
        else if (in(singleUniques, f.name)) "UNI"
        else null
      val typ = cons.enumCols.get(lower)
        .map(_.toUpperCase(java.util.Locale.ROOT))
        .getOrElse(duckTypeName(f.dataType))
      (f.name, typ, if (notNull) "NO" else "YES", key,
        cons.defaults.get(lower).orNull, null.asInstanceOf[String])
    }
    import spark.implicits._
    Some(rows.toDF("column_name", "column_type", "null", "key", "default", "extra"))
  }

  /** Spark DataType → DuckDB type spelling (probed display names). */
  private[psql] def duckTypeName(t: DataType): String = t match {
    case StringType              => "VARCHAR"
    case IntegerType             => "INTEGER"
    case LongType                => "BIGINT"
    case ShortType               => "SMALLINT"
    case ByteType                => "TINYINT"
    case DoubleType              => "DOUBLE"
    case FloatType               => "FLOAT"
    case BooleanType             => "BOOLEAN"
    case DateType                => "DATE"
    case TimestampType           => "TIMESTAMP"
    case TimestampNTZType        => "TIMESTAMP"
    case BinaryType              => "BLOB"
    case d: DecimalType          => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _)         => s"${duckTypeName(e)}[]"
    case MapType(k, v, _)        => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
    case StructType(fs)          =>
      fs.map(f => s"${f.name} ${duckTypeName(f.dataType)}").mkString("STRUCT(", ", ", ")")
    case other                   => other.sql
  }
}
