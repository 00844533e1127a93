package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout management for co-located joins — the lever that
  * deletes the biggest shuffle in a recurring big×big join.
  *
  * A join between two tables bucketed by the join key into the same
  * bucket count is planned WITHOUT an Exchange on either side (and
  * without a Sort, if `sortBy` matches): every executor joins bucket i
  * against bucket i locally. At 100 TB this converts the nightly
  * fact×fact join from a full-cluster shuffle into a metadata-only
  * plan decision — the write-side cost is paid once, at layout time.
  *
  * Spark's bucketing rides the session catalog (`saveAsTable`), not
  * bare parquet paths — bucket metadata lives in the table definition.
  */
object Layout {

  /** Write `df` bucketed (and sorted) by `key` into `buckets` buckets
    * as a catalog-managed parquet table. Drops any previous table AND
    * its location first — an in-memory catalog forgets tables across
    * JVMs while their directories persist, and `saveAsTable` refuses
    * to adopt an orphaned location. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    deleteRecursively(new java.io.File(warehouse, table))
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Equi join of two same-bucketed tables on `leftKey = rightKey` —
    * shuffle-free by construction (asserted in LayoutSpec). */
  def bucketedEquiJoin(spark: SparkSession, left: String, right: String,
                       leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** Hive-style partitioned layout (`dir/col=value/part-*.parquet`) —
    * the other physical-layout lever: a filter on the partition column
    * becomes directory pruning at PLANNING time, so a per-language (or
    * per-source, per-date) query over a 100-TB corpus opens only the
    * matching directories and never lists, let alone reads, the rest.
    * LayoutSpec asserts the executed plan's `PartitionFilters` carries
    * the predicate and the data filters list does NOT — pruning, not
    * row-level filtering. Choose low-cardinality columns: one dir (and
    * ≥1 file) per value is exactly the small-files trap for
    * high-cardinality keys. */
  def writePartitioned(df: DataFrame, dir: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(dir)

  def readPartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Small-files compaction — the lake-maintenance pass every
    * streaming/incremental ingest needs: thousands of tiny part files
    * (one per micro-batch per partition) degrade scans (footer reads,
    * scheduling overhead, no vectorized run length) until someone
    * rewrites them at a sane target size. Rewrites `srcDir` into
    * `destDir` targeting ⌈bytes / targetBytes⌉ files and returns the
    * output file count. Compact into a NEW directory then swap — an
    * in-place overwrite that fails mid-write loses data.
    *
    * Sizing and listing go through the Hadoop FileSystem API,
    * RECURSIVELY — a `java.io.File` top-level listing works only on
    * the local FS and sees zero bytes under a Hive-partitioned or
    * nested layout, which would silently coalesce the whole lake into
    * one file. Two layouts, two shapes:
    *  - flat source → `coalesce` — a NARROW dependency (no shuffle):
    *    each output file concatenates whole input files, so the
    *    rewrite moves every byte exactly once;
    *  - Hive-partitioned source (`col=value` directories, detected
    *    from the layout) → the partitioned layout is PRESERVED (its
    *    pruning is why it exists) via a `partitionBy` rewrite with a
    *    hash repartition on the partition columns — one shuffle, the
    *    price of re-clustering each partition's scattered micro-batch
    *    files into few writers (a coalesce would interleave partition
    *    values across tasks and re-fragment the output). */
  def compact(spark: SparkSession, srcDir: String, destDir: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val srcPath = new Path(srcDir)
    val fs = srcPath.getFileSystem(spark.sessionState.newHadoopConf())
    // Hive partition columns, outermost first: each level of a
    // partitioned layout is a rank of `col=value` directories
    def partitionCols(p: Path): List[String] =
      fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath).find(_.getName.contains("=")) match {
        case Some(child) => child.getName.takeWhile(_ != '=') :: partitionCols(child)
        case None => Nil
      }
    val totalBytes = parquetBytes(spark, srcDir)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(srcDir)
    val parts = partitionCols(srcPath)
    if (parts.isEmpty)
      df.coalesce(nFiles).write.mode("overwrite").parquet(destDir)
    else
      df.repartition(nFiles, parts.map(df.col): _*)
        .write.mode("overwrite").partitionBy(parts: _*).parquet(destDir)
    parquetFileSizes(spark, destDir).size
  }

  /** Total bytes of the `.parquet` files at `path` — one file, or a
    * directory listed RECURSIVELY through the Hadoop FileSystem (a
    * `java.io.File` length is a directory inode's size there, and
    * works on the local FS only). */
  def parquetBytes(spark: SparkSession, path: String): Long =
    parquetFileSizes(spark, path).sum

  private def parquetFileSizes(spark: SparkSession, path: String): Seq[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // A walk over listStatus, not listFiles(p, true): listFiles builds a
    // LocatedFileStatus per file, which reads the file's permission, and
    // without libhadoop the local FS forks `ls -ld` for every such read.
    def walk(s: FileStatus): Seq[Long] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk) // partitioned/nested dirs
      else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getLen)
      else Nil
    walk(fs.getFileStatus(p))
  }

  /** 2-D Morton (Z-order) interleave: bit i of `a` lands at position
    * 2i, bit i of `b` at 2i+1, so sorting by the result clusters rows
    * that are close in BOTH dimensions. Inputs must already be
    * non-negative and < 2^bits (see [[writeZOrdered]] for the scaling).
    * A fold of shift/and/or columns — entirely codegen'd, no UDF. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Multi-dimensional clustering rewrite (the `OPTIMIZE ZORDER BY`
    * lake-maintenance pass): range-partition and sort the table by the
    * Morton code of two columns so a 2-D range predicate touches few
    * files — file/row-group min-max stats stay narrow on BOTH columns,
    * where a single-column sort leaves the second column scattered
    * across every file. Each dimension is min-max scaled onto the
    * bits-wide grid first (one cheap 4-value aggregate); the rewrite
    * itself is one range shuffle — the same price as any sorted-layout
    * maintenance pass, paid once per compaction window.
    * LayoutSpec measures the claim: files touched by a quarter×quarter
    * predicate drop vs an unclustered layout of the same file count. */
  def writeZOrdered(df: DataFrame, destDir: String, c1: String, c2: String,
                    nFiles: Int, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    def scaled(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit((1L << bits) - 1),
        floor((col(c).cast("double") - lo) / (hi - lo) * ((1L << bits) - 1)).cast("long"))
    df.withColumn("_z", zValue(
        scaled(c1, r.getDouble(0), r.getDouble(1)),
        scaled(c2, r.getDouble(2), r.getDouble(3)), bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(destDir)
  }

  /** Registered query (HARD oracle): the Morton codes themselves, over
    * a deterministic 8-bit grid (`key % 256` per dimension) — DuckDB
    * replays the interleave with plain integer bit ops, pinning the
    * arithmetic [[writeZOrdered]]'s clustering rides on. */
  def layoutZorderQ(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_linenumber"),
        zValue(pmod(col("l_partkey"), lit(256)),
          pmod(col("l_suppkey"), lit(256)), 8).as("z"))
      .orderBy("l_orderkey", "l_linenumber")
}
