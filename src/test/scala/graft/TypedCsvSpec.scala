package graft

import java.io.{File, FileOutputStream}
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

import graft.sources.TypedCsv

/** End-to-end golden suite: the reference's own SampleTest fixtures
  * (its ONLY correctness contract, SURVEY.md §5) run through the
  * typed-CSV catalog + Spark SQL and compare against the shipped
  * result CSVs. Numeric compare with tolerance — the goldens' float
  * formatting is inconsistent (`15.50` vs `220.0`), so byte equality
  * is not the contract; values are. */
class TypedCsvSpec extends SparkSuite {

  private lazy val base: File = {
    val dest = new File("target/sampletest-spec")
    if (!new File(dest, "SampleTest/query1.txt").exists()) {
      dest.mkdirs()
      val zip = new ZipFile("/root/reference/src/SampleTest.zip")
      zip.entries().asScala.foreach { e =>
        val out = new File(dest, e.getName)
        if (e.isDirectory) out.mkdirs()
        else {
          out.getParentFile.mkdirs()
          val in = zip.getInputStream(e)
          val os = new FileOutputStream(out)
          try in.transferTo(os) finally { in.close(); os.close() }
        }
      }
      zip.close()
    }
    new File(dest, "SampleTest")
  }

  /** In-repo typed-CSV catalog (`Employees.csv`, 4 rows) for the
    * round-trip tests, which use the reference fixture only as input. */
  private lazy val employeesDir: File =
    new File(getClass.getResource("/typedcsv").toURI)

  private def readCsv(f: File): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(f)
    try src.getLines().map(_.split(",", -1)).toList finally src.close()
  }

  private def assertGolden(queryFile: String, resultFile: String): Unit = {
    TypedCsv.loadDirectory(spark, new File(base, "data").getPath)
    val sql = {
      val src = scala.io.Source.fromFile(new File(base, queryFile))
      try src.mkString.trim.stripSuffix(";") finally src.close()
    }
    val out = new File(s"target/sampletest-spec/out_$resultFile")
    TypedCsv.saveSingleFile(spark.sql(sql), out.getPath)
    val got = readCsv(out)
    val want = readCsv(new File(base, resultFile))
    assert(got.head.toSeq === want.head.toSeq, "header mismatch")
    assert(got.size === want.size, s"row count ${got.size} vs ${want.size}")
    got.tail.zip(want.tail).zipWithIndex.foreach { case ((g, w), i) =>
      g.zip(w).foreach { case (gv, wv) =>
        val eq = (gv.toDoubleOption, wv.toDoubleOption) match {
          case (Some(a), Some(b)) => math.abs(a - b) < 1e-2
          case _ => gv == wv
        }
        assert(eq, s"row $i: ${g.mkString(",")} vs ${w.mkString(",")}")
      }
    }
  }

  test("schemaOf parses typed header with PK flag") {
    val st = TypedCsv.schemaOf("Employees_id (N) (P),Name (T),Salary (N),JoinedDate (D)")
    assert(st.fieldNames.toSeq === Seq("Employees_id", "Name", "Salary", "JoinedDate"))
    assert(st("Employees_id").dataType.typeName === "double")
    assert(st("Employees_id").metadata.getBoolean("primaryKey"))
    assert(st("Name").dataType.typeName === "string")
    assert(st("JoinedDate").dataType.typeName === "timestamp")
  }

  test("query1 golden: comma join + pushed filter + ungrouped AVG") {
    assertGolden("query1.txt", "result1.csv")
  }

  test("query2 golden: timestamp filter + projection + ORDER BY ASC") {
    assertGolden("query2.txt", "result2.csv")
  }

  test("query3 golden: correlated scalar subquery + ORDER BY DESC") {
    assertGolden("query3.txt", "result3.csv")
  }

  test("CLI-path query result round-trips typed through the catalog") {
    // Same pipeline as Cli.main (which now writes typed = true), minus
    // the session lifecycle: catalog → SQL → typed sink → reload must
    // preserve column names AND types, like the reference sink
    // (`table.cpp:540-575`).
    TypedCsv.loadDirectory(spark, employeesDir.getPath)
    val result = spark.sql(
      "SELECT Name, Salary * 2 AS doubled, JoinedDate FROM Employees ORDER BY Name")
    val out = new File("target/sampletest-spec/cli_roundtrip.csv")
    TypedCsv.saveSingleFile(result, out.getPath, typed = true)
    val reloaded = TypedCsv.loadFile(spark, out.getPath)
    assert(reloaded.schema.fieldNames.toSeq === Seq("Name", "doubled", "JoinedDate"))
    assert(reloaded.schema("doubled").dataType.typeName === "double")
    assert(reloaded.schema("JoinedDate").dataType.typeName === "timestamp")
    assert(reloaded.count() === result.count())
  }

  test("quoting guards carriage returns and header commas") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a,b", StringType), StructField("v", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row("x\ry", "plain"), Row("q\"z", "c,d")), schema)
    val out = new File("target/sampletest-spec/quoting.csv")
    TypedCsv.saveSingleFile(df, out.getPath)
    val lines = {
      val src = scala.io.Source.fromFile(out.getPath)
      try src.mkString finally src.close()
    }
    assert(lines.startsWith("\"a,b\",v"), lines)
    assert(lines.contains("\"x\ry\""), "bare CR must be quoted: " + lines)
    assert(lines.contains("\"q\"\"z\""), lines)
    // Spark's own CSV reader parses it back intact (multiLine: quoted
    // line breaks span physical lines)
    val back = spark.read.option("header", "true")
      .option("multiLine", "true").csv(out.getPath)
    assert(back.columns.toSeq === Seq("a,b", "v"))
    assert(back.count() === 2)
  }

  test("schemaOf parses quoted header cells and reference-style ', ' separators") {
    // a quoted name containing a comma must not split (the sink quotes
    // it; the parser must speak the same dialect)...
    val st = TypedCsv.schemaOf("\"a,b (T)\",v (N)")
    assert(st.fieldNames.toSeq === Seq("a,b", "v"))
    assert(st("a,b").dataType.typeName === "string")
    assert(st("v").dataType.typeName === "double")
    // ...escaped quotes inside a name survive...
    val stq = TypedCsv.schemaOf("\"q\"\"z (T)\",w (D)")
    assert(stq.fieldNames.toSeq === Seq("q\"z", "w"))
    // ...and the reference sink's ', ' cell separator parses clean
    // (table.cpp:540-575 joins header cells with a comma+space)
    val sp = TypedCsv.schemaOf("Employees_id (N) (P), Name (T), JoinedDate (D)")
    assert(sp.fieldNames.toSeq === Seq("Employees_id", "Name", "JoinedDate"))
    assert(sp("Employees_id").metadata.getBoolean("primaryKey"))
  }

  test("typed sink with comma-bearing column name round-trips through schemaOf") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a,b", DoubleType), StructField("v", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(Double.box(1.5), "x"), Row(Double.box(2.5), "y")), schema)
    val out = new File("target/sampletest-spec/comma_name_typed.csv")
    TypedCsv.saveSingleFile(df, out.getPath, typed = true)
    val reloaded = TypedCsv.loadFile(spark, out.getPath)
    assert(reloaded.schema.fieldNames.toSeq === Seq("a,b", "v"))
    assert(reloaded.schema("a,b").dataType.typeName === "double")
    assert(reloaded.count() === 2)
  }

  test("typed-header sink round-trips") {
    val df = TypedCsv.loadFile(spark, new File(employeesDir, "Employees.csv").getPath)
    val out = new File("target/sampletest-spec/roundtrip.csv")
    TypedCsv.saveSingleFile(df, out.getPath, typed = true)
    val reloaded = TypedCsv.loadFile(spark, out.getPath)
    assert(reloaded.schema("Employees_id").dataType.typeName === "double")
    assert(reloaded.count() === df.count())
    assert(reloaded.schema.fieldNames.toSeq === df.schema.fieldNames.toSeq)
  }
}
