package graft

import graft.sources.Layout
import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

class LayoutListingSpec extends SparkSuite {

  test("parquetBytes sizes a directory of 3 files without starting a process") {
    val dir = "target/layout-listing-spec/three"
    spark.range(0, 300, 1, 3).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 3)
    // a listing that reads each file's permission forks `ls -ld` per
    // file on a local FS without libhadoop; JFR records every fork
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val bytes = try Layout.parquetBytes(spark, dir) finally rec.stop()
    val jfr = Files.createTempFile("layout-listing", ".jfr")
    try {
      rec.dump(jfr)
      val starts = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      assert(bytes === files.map(_.length).sum)
      assert(starts.isEmpty, starts.map(_.getString("command")).mkString("started: ", "; ", ""))
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
    }
  }
}
