package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import java.io.{BufferedWriter, File, FileWriter}
import java.time.format.DateTimeFormatter

/** The reference engine's typed-CSV I/O contract, Spark-first.
  *
  * Input files are self-describing: line 1 is a typed header
  * `Name (N) (P), Other (T), When (D)` — `(N)` numeric, `(T)` text,
  * `(D)` date/timestamp, `(P)` primary-key flag (reference parser:
  * `duckdb_manager.cpp:52-140`). One table per `*.csv` file in a
  * directory, table name = file stem (`duckdb_manager.cpp:188-210`).
  *
  * Divergences from the reference, per SURVEY.md §7.2: numerics load
  * as DOUBLE (reference narrows to float32), strings are not truncated
  * to 50 chars, and parsing is Spark's distributed CSV datasource —
  * the typed header costs one driver-side line read per file; the data
  * itself never funnels through the driver.
  */
object TypedCsv {

  /** Split one CSV line into cells honoring double-quote escaping —
    * the same dialect the data path (Spark's CSV reader) and
    * [[saveSingleFile]]'s `csvQuote` speak, so a quoted header cell
    * containing a comma round-trips instead of mis-splitting. Leading
    * whitespace before a cell is skipped (the reference sink separates
    * header cells with `", "`, `table.cpp:540-575`). */
  private[sources] def splitCsvLine(line: String): Seq[String] = {
    val cells = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    var started = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
          else inQ = false
        } else sb += c
      } else c match {
        case '"' => inQ = true; started = true
        case ',' => cells += sb.result(); sb.clear(); started = false
        case ' ' | '\t' if !started && sb.isEmpty => // skip pre-cell padding
        case _ => sb += c; started = true
      }
      i += 1
    }
    cells += sb.result()
    cells.result()
  }

  private val TagSuffix = "((?:\\s*\\([NTDP]\\))+)\\s*$".r
  private val Tag = "\\(([NTDP])\\)".r

  /** Parse a typed header line into a Spark schema. The `(P)` flag is
    * kept as StructField metadata (Spark has no PK enforcement).
    * Header cells are tokenized with the quote-aware [[splitCsvLine]]
    * (names containing commas arrive quoted from [[typedHeader]]); the
    * trailing `(N)/(T)/(D)/(P)` tags are stripped off the end, so a
    * parenthesis inside the name itself is left alone. */
  def schemaOf(headerLine: String): StructType = StructType(
    splitCsvLine(headerLine).map { field =>
      val (name, tags) = TagSuffix.findFirstMatchIn(field) match {
        case Some(m) =>
          (field.substring(0, m.start).trim,
            Tag.findAllMatchIn(m.group(1)).map(_.group(1)).toSet)
        case None => (field.trim, Set.empty[String])
      }
      val dt: DataType =
        if (tags.contains("N")) DoubleType
        else if (tags.contains("D")) TimestampType
        else StringType
      val meta = if (tags.contains("P"))
        new MetadataBuilder().putBoolean("primaryKey", true).build()
      else Metadata.empty
      StructField(name, dt, nullable = true, meta)
    })

  /** `yyyy-MM-dd H:mm:ss` with optional time — matches the reference's
    * accepted forms (`table.cpp:50-81`), including single-digit hours
    * seen in its own fixtures (`SalesOrders.csv`: `9:15:00`). */
  val TimestampFormat = "yyyy-MM-dd[ H:mm:ss]"

  /** Load one typed-CSV file. Header is read driver-side (one line);
    * the body is parsed by Spark's distributed CSV scan with the
    * derived schema, so filter/projection pushdown applies as usual. */
  def loadFile(spark: SparkSession, path: String): DataFrame = {
    val header = scala.io.Source.fromFile(path)
    val schema = try schemaOf(header.getLines().next()) finally header.close()
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", TimestampFormat)
      .csv(path)
  }

  /** Directory-as-catalog: every `*.csv` becomes a temp view named by
    * its file stem. Returns the loaded tables. */
  def loadDirectory(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val d = new File(dir)
    require(d.isDirectory, s"typed-CSV catalog path is not a directory: $dir")
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".csv"))
    files.map { f =>
      val name = f.getName.stripSuffix(".csv")
      val df = loadFile(spark, f.getPath)
      df.createOrReplaceTempView(name)
      name -> df
    }.toMap
  }

  /** CSV field quoting: wrap iff the value contains a delimiter,
    * quote, or line break (\n or \r — a bare carriage return corrupts
    * the row just as surely). */
  private def csvQuote(s: String): String =
    if (s.contains(",") || s.contains("\"") || s.contains("\n") || s.contains("\r"))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Typed header for a schema (the reference's sink re-emits it,
    * `table.cpp:540-575`). Field names get the same quoting as data
    * cells (a column name containing a comma must not split). */
  def typedHeader(schema: StructType): String =
    schema.fields.map { f =>
      val tag = f.dataType match {
        case DoubleType | FloatType | IntegerType | LongType => "(N)"
        case TimestampType | DateType => "(D)"
        case _ => "(T)"
      }
      val pk = if (f.metadata.contains("primaryKey")) " (P)" else ""
      csvQuote(s"${f.name} $tag$pk")
    }.mkString(",")

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** Single-file CSV sink — the reference-compatibility shim for FINAL
    * results (its CLI emits one `<name>_result.csv`). Rows stream
    * through `toLocalIterator` (one partition in memory at a time, not
    * a full collect); at scale, results should instead stay distributed
    * via `df.write.csv`/parquet — this sink exists to match the
    * reference's observable contract, not as the scale path. */
  def saveSingleFile(df: DataFrame, path: String, typed: Boolean = false): Unit = {
    val file = new File(path)
    Option(file.getParentFile).foreach(_.mkdirs())
    val w = new BufferedWriter(new FileWriter(file))
    try {
      val header =
        if (typed) typedHeader(df.schema)
        else df.schema.fieldNames.map(csvQuote).mkString(",")
      w.write(header); w.newLine()
      val fields = df.schema.fields
      df.toLocalIterator().forEachRemaining { row =>
        val cells = fields.indices.map { i =>
          if (row.isNullAt(i)) ""
          else fields(i).dataType match {
            case TimestampType => tsFmt.format(row.getTimestamp(i).toInstant)
            case _ => csvQuote(row.get(i).toString)
          }
        }
        w.write(cells.mkString(",")); w.newLine()
      }
    } finally w.close()
  }
}
