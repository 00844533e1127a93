package graft.tools

import org.apache.spark.sql.functions._
import graft.Bench
import graft.streaming.{CorpusIngest, CrawlIngest, EmbedIngest, NearDupIngest}

/** Streaming-tier throughput at scale: drive the BigBenchLlm document
  * corpus through the ingest stages as a real file-source stream
  * (`maxFilesPerTrigger` slices the 32 part files into micro-batches)
  * and report docs/sec end to end — checkpointing, ledger/index reads,
  * Bloom maintenance and all sink writes included. Usage:
  *
  *   runMain graft.tools.IngestBench <rows> <exact|near|embed|crawl|crawlledger> [filesPerTrigger] [sourceFiles]
  *
  * `crawl` packs the corpus into multi-record WARC blobs FIRST (an
  * untimed batch prep), then streams the blobs through the full
  * front end - framing, extraction, robots, canonical-URL ledger -
  * so docs/sec prices exactly the arrival-time pipeline.
  *
  * `crawlledger` is the STANDING-LEDGER growth probe: arrivals are
  * synthesized directly (short texts — the ledger, not payload bytes,
  * is the measurement) into ~1M-doc micro-batches, a
  * StreamingQueryListener records per-batch trigger durations so the
  * probe-latency-vs-ledger-size curve is visible (the anti-join reads
  * the whole standing ledger each batch, and the ledger accumulates
  * both rows AND small files), and after the run the ledger is
  * compacted via [[graft.streaming.IndexMaintenance.compactIndex]]
  * with the probe read timed before/after — the compaction-cadence
  * answer at 100M arrivals.
  *
  * Emits one JSON line; results recorded in BIGBENCH.md. */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val mode = args.lift(1).getOrElse("exact")
    val filesPerTrigger = args.lift(2).map(_.toInt).getOrElse(8)
    val srcDir =
      if (mode == "embed") s"target/bigbench/llm_$rows/embeddings.parquet"
      else s"target/bigbench/llm_$rows/documents.parquet"
    require(mode == "crawlledger" || new java.io.File(srcDir).exists(),
      s"run BigBenchLlm $rows first ($srcDir)")
    val base = s"target/ingestbench/${mode}_$rows"
    val spark = Bench.localSession()
    // fresh run each invocation: ledger/index state is the measurement
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(basePath)) fs.delete(basePath, true)

    // crawl prep (untimed): ~1000-doc WARC blobs with refetch variants
    // (id % 200: a tracking-param duplicate the ledger must drop),
    // robots-blocked paths (id % 11) and corrupt records (id % 97)
    val crawlBlobDir = s"$base/warc"
    if (mode == "crawl") {
      import spark.implicits._
      spark.read.parquet(srcDir).select("doc_id", "lang", "text")
        .as[(Long, String, String)]
        .mapPartitions { it =>
          it.grouped(1000).map { grp =>
            val recs = grp.iterator.flatMap { case (id, lang, text) =>
              val path = if (id % 11 == 0) s"/blocked/$id" else s"/d/$id"
              val uri = s"https://$lang.example.com$path"
              val page = "<body><nav><a href=\"/\">Home</a></nav><p>" + text + "</p></body>"
              val rec = Seq((uri, page, id % 97 == 0))
              if (id % 200 == 0 && id % 11 != 0)
                rec :+ ((uri + "?utm_source=bench", page, false))
              else rec
            }
            graft.operators.Crawl.warcBlobRecords(recs)
          }
        }.toDF("blob")
        .write.mode("overwrite").parquet(crawlBlobDir)
    }
    // crawlledger prep (untimed): synthesized short-text arrivals in
    // ~250k-doc blob files so `filesPerTrigger` slices ~1M-doc batches
    // — ~100 ledger-growth samples at 100M; refetch variants (% 200)
    // exercise the ledger drop path the whole way up
    if (mode == "crawlledger") {
      import spark.implicits._
      val nFiles = math.max(32L, rows / 250000L).toInt
      spark.range(0, rows, 1, nFiles)
        .select(col("id"), concat(lit("l"), pmod(col("id"), lit(5))).as("lang"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.grouped(1000).map { grp =>
            val recs = grp.iterator.flatMap { case (id, lang) =>
              val path = if (id % 11 == 0) s"/blocked/$id" else s"/d/$id"
              val uri = s"https://$lang.example.com$path"
              val page = s"<body><p>doc $id</p></body>"
              val rec = Seq((uri, page, false))
              if (id % 200 == 0 && id % 11 != 0)
                rec :+ ((uri + "?utm_source=bench", page, false))
              else rec
            }
            graft.operators.Crawl.warcBlobRecords(recs)
          }
        }.toDF("blob")
        .write.mode("overwrite").parquet(crawlBlobDir)
    }
    // optional 4th arg: reshard the source into N part files (untimed
    // prep) — the corpus generator writes 32, which at filesPerTrigger=1
    // is only 32 micro-batches, too few to cross the ingests' 32-batch
    // auto-compaction cadence even once; the standing-index growth
    // curve needs ~100+ batches to show the cadence holding the line
    val sourceFiles = args.lift(3).map(_.toInt).getOrElse(0)
    val reshardDir = s"$base/src"
    if (sourceFiles > 0 && mode != "crawl" && mode != "crawlledger")
      spark.read.parquet(srcDir).repartition(sourceFiles)
        .write.mode("overwrite").parquet(reshardDir)
    val streamSrc =
      if (mode == "crawl" || mode == "crawlledger") crawlBlobDir
      else if (sourceFiles > 0) reshardDir
      else srcDir
    val schema = spark.read.parquet(streamSrc).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(streamSrc)

    // per-batch trigger durations: the ledger-growth curve. Registered
    // BEFORE the ingest call below — the call starts the query, and a
    // listener added after start can miss the earliest micro-batches,
    // skewing first_decile_batch_ms toward later (slower) batches.
    val batchMs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ms = e.progress.durationMs.getOrDefault("triggerExecution", 0L)
        if (e.progress.numInputRows > 0) batchMs.put(e.progress.batchId, ms)
      }
    }
    spark.streams.addListener(listener)

    val t0 = System.nanoTime()
    val q = mode match {
      case "exact" =>
        CorpusIngest.ingestWithLedger(
          stream.select("doc_id", "text"),
          s"$base/ledger", s"$base/corpus", s"$base/ckpt",
          bloomCapacity = 1L << 25) // sized for the corpus, like production
      case "near" =>
        // deterministic event times spread over a day — the stream's
        // watermark column (stateless projection, no data dependency)
        NearDupIngest.ingestNearDedup(
          stream.select(col("doc_id"),
            timestamp_seconds(lit(1704067200L) + pmod(col("doc_id"), lit(86400)))
              .as("ts"),
            col("text")),
          s"$base/index", s"$base/corpus", s"$base/ckpt")
      case "embed" =>
        // semantic dedup over the embeddings stream: sign sketch +
        // band probe + gated exact verify per micro-batch
        EmbedIngest.ingestEmbedDedup(
          stream.select(col("vec_id").as("doc_id"),
            timestamp_seconds(lit(1704067200L) + pmod(col("vec_id"), lit(86400)))
              .as("ts"),
            col("embedding")),
          s"$base/index", s"$base/corpus", s"$base/ckpt")
      case "crawl" | "crawlledger" =>
        import spark.implicits._
        val robots = Seq.tabulate(5)(i => (s"l$i.example.com",
          "User-agent: *\nDisallow: /blocked\n")).toDF("host", "robots_txt")
        CrawlIngest.ingestWarc(stream, robots,
          s"$base/ledger", s"$base/corpus", s"$base/ckpt")
      case other => sys.error(s"unknown mode $other")
    }
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(listener)
    val secs = (System.nanoTime() - t0) / 1e9
    val kept = spark.read.parquet(s"$base/corpus").count()
    val total =
      if (mode == "crawlledger") rows else spark.read.parquet(srcDir).count()
    val curve = {
      import scala.jdk.CollectionConverters._
      val byId = batchMs.asScala.toSeq.sortBy(_._1).map(_._2)
      if (byId.size >= 4) {
        def med(xs: Seq[Long]) = xs.sorted.apply(xs.size / 2)
        val k = math.max(1, byId.size / 10)
        s""","batches":${byId.size},"first_decile_batch_ms":${med(byId.take(k))},"last_decile_batch_ms":${med(byId.takeRight(k))}"""
      } else ""
    }
    val compaction =
      if (mode == "crawlledger") {
        // probe read before/after compaction: the anti-join's standing
        // read is what every future batch pays
        def probe(): (Double, Long) = {
          val t = System.nanoTime()
          val n = spark.read.parquet(s"$base/ledger")
            .select("canonical_url").count()
          ((System.nanoTime() - t) / 1e9, n)
        }
        val (preS, n) = probe()
        val files = fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$base/ledger")).getFileCount
        val tC = System.nanoTime()
        // the bench stream is stopped — decommissioned semantics, so
        // EVERY run consolidates (currentToken = None)
        graft.streaming.IndexMaintenance.compactIndex(spark, s"$base/ledger", None)
        val compactS = (System.nanoTime() - tC) / 1e9
        val (postS, n2) = probe()
        require(n == n2, s"compaction changed the ledger row set: $n -> $n2")
        val files2 = fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$base/ledger")).getFileCount
        f""","ledger_rows":$n,"ledger_files_pre":$files,"ledger_files_post":$files2,"probe_pre_s":$preS%.2f,"probe_post_s":$postS%.2f,"compact_s":$compactS%.1f"""
      } else ""
    // in-stream auto-compaction evidence for the standing indexes:
    // end-of-run file count stays bounded with ZERO manual calls
    val indexFiles =
      if (mode == "near" || mode == "embed")
        s""","index_files":${fs.getContentSummary(
          new org.apache.hadoop.fs.Path(s"$base/index")).getFileCount}"""
      else ""
    println(f"""{"mode":"$mode","rows":$total,"kept":$kept,"secs":$secs%.1f,"docs_per_sec":${total / secs}%.0f,"files_per_trigger":$filesPerTrigger$curve$indexFiles$compaction}""")
    spark.stop()
  }
}
