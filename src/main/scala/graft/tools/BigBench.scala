package graft.tools

import org.apache.spark.sql.functions._
import graft.{Bench, Caches, SparkEntry}

/** Same-scale comparison against BASELINE.md: the reference's published
  * numbers are at 10M rows (README.md:44-62); the driver's sf0.1 data
  * is 600K. This main synthesizes a DETERMINISTIC 10M-row table with
  * the three reference column types (float measure, timestamp, short
  * string), then times the exact baseline query shapes END-TO-END
  * (cold parquet read included, like the reference's "query total"
  * which includes its CSV parse) and warm (input cached — comparable
  * to the reference's "total CUDA/CPU-only" compute numbers).
  *
  * Emits one JSON line; results are recorded in BIGBENCH.md.
  */
object BigBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val dir = s"target/bigbench/rows_$rows"
    val spark = Bench.localSession()

    // deterministic synthesis: hash-derived columns, 32 partitions
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      spark.range(0, rows, 1, 32)
        .select(
          col("id"),
          (pmod(xxhash64(col("id")), lit(1000000)) / lit(100.0)).as("price"),
          timestamp_seconds(lit(631152000L) + pmod(xxhash64(col("id"), lit(1)), lit(315360000L))).as("ship_ts"),
          concat(lit("cust#"), lpad(pmod(xxhash64(col("id"), lit(2)), lit(3000000)).cast("string"), 7, "0")).as("name"))
        .write.mode("overwrite").parquet(dir)
    }

    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val queries: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "avg_float" -> (df => df.agg(avg("price"))),
      "max_date" -> (df => df.agg(max("ship_ts"))),
      "sort_float" -> (df => df.select("price", "id").orderBy(col("price").asc)),
      "sort_date" -> (df => df.select("ship_ts", "id").orderBy(col("ship_ts").asc)),
      "sort_string" -> (df => df.select("name", "id").orderBy(col("name").asc)))

    // WARM first: input cached in memory, median of 3 — compute-only
    // (also pays all JIT/codegen before the end-to-end pass, so e2e
    // numbers measure read+execute, not classloading).
    val cached = spark.read.parquet(dir).cache()
    cached.count()
    val warm = queries.map { case (name, q) =>
      timeIt(noop(q(cached))) // jit warm-up
      val ts = Seq.fill(3)(timeIt(noop(q(cached)))).sorted
      name -> ts(1)
    }
    cached.unpersist(blocking = true)
    // END-TO-END: fresh read each time (disk -> result), like the
    // reference's query-total which re-parses CSV per query.
    val cold = queries.map { case (name, q) =>
      name -> timeIt(noop(q(spark.read.parquet(dir))))
    }
    println(s"""{"rows":$rows,"end_to_end":${jmap(cold)},"warm_median3":${jmap(warm)}}""")
    spark.stop()
  }

  /** The optional comma-separated query subset in `args(1)`, else every
    * name in `allNames`; an unknown name, in the subset or in
    * `allNames` itself, fails the run before any data is generated
    * instead of silently dropping out of the printed line. */
  private[tools] def selected(args: Array[String], allNames: Seq[String]): Seq[String] = {
    val all = SparkEntry.lookup(allNames).map(_.name)
    args.lift(1).fold(all) { arg =>
      val names = arg.split(",").toSeq
      val unknown = names.filterNot(all.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      names
    }
  }

  /** `{"name":seconds,...}` with 3-decimal values, in `xs` order. */
  private[tools] def jmap(xs: Seq[(String, Double)]): String =
    xs.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
}

/** Scale proof for the events/time tier: synthesizes N events with the
  * driver table's exact shape (150 users per 10k events, 30-day span,
  * five event types, `{"k": n}` props — measured from
  * /root/testdata/sf0.01) and times each registered events query
  * END-TO-END from parquet. The tier's heavy hitters are
  * window-function shapes (sessionize/funnel/asof are one shuffle on
  * user_id + an ordered partition scan) and the banded range join —
  * this is the measurement that says whether those stay linear-ish
  * when events go 1000× past sf0.1's 60k.
  *
  * Emits one JSON line; results are recorded in BIGBENCH.md.
  */
object BigBenchEvents {
  def main(args: Array[String]): Unit = {
    val allNames = Seq("events_window", "events_json_props", "events_sessionize",
      "events_funnel", "events_retention", "events_anomaly", "events_resample",
      "events_active_users", "events_markov", "events_paths",
      "events_attribution", "events_dedup_window", "group_percentile",
      "events_ewma", "group_approx_distinct", "events_window_sliding",
      "join_asof", "join_range", "join_range_capped")
    val names = BigBench.selected(args, allNames)
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val dir = s"target/bigbench/events_$rows"
    val spark = Bench.localSession()

    if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").exists()) {
      val users = math.max(rows / 67, 1L) // ~67 events/user, like sf0.01
      val baseUs = 1704067200000000L // 2024-01-01 UTC
      val spanUs = 30L * 86400 * 1000000 // 30 days
      spark.range(0, rows, 1, 32).select(
        col("id").as("event_id"),
        timestamp_micros(lit(baseUs) + pmod(xxhash64(col("id")), lit(spanUs))).as("ts"),
        pmod(xxhash64(col("id"), lit(1)), lit(users)).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error")),
          (pmod(xxhash64(col("id"), lit(2)), lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("id"), lit(3)), lit(10000)) / lit(100.0)).as("value"),
        concat(lit("{\"k\": "),
          pmod(xxhash64(col("id"), lit(4)), lit(100)).cast("string"),
          lit("}")).as("props"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }

    val results = names.map { n =>
      val t = Bench.runOnce(spark, dir, n)
      Caches.release(spark)
      n -> t
    }
    println(s"""{"rows":$rows,"events_end_to_end":${BigBench.jmap(results)}}""")
    spark.stop()
  }
}

/** Scale proof for the LLM-pipeline tier: synthesizes 1M documents
  * (40 tokens each, 5k vocab) and 1M 64-dim embeddings —
  * deterministic, hash-derived — then times each dedup/ANN/text
  * operator END-TO-END from parquet (no preload cache; the operators'
  * own persist() calls are part of what's measured). The sf0.1 corpus
  * is 5k docs / 2k vectors, so this is the 200–500× step that tells us
  * whether the candidate-generation designs actually bend linearly.
  *
  * Emits one JSON line; results are recorded in BIGBENCH.md.
  */
object BigBenchLlm {
  def main(args: Array[String]): Unit = {
    val allNames = Seq("dedup_exact", "dedup_url", "dedup_simhash", "dedup_simhash_wide",
      "dedup_ngram_jaccard",
      "dedup_minhash", "dedup_embed_cosine", "embed_ann_lsh", "embed_ann_ivf",
      "embed_knn", "text_langid", "text_stats", "doc_fingerprint",
      "text_quality", "doc_sample_hash", "doc_pack_sequences", "doc_decontaminate",
      "dedup_clusters", "text_normalize", "text_repetition", "doc_chunk", "text_tfidf",
      "corpus_stats", "dedup_cluster_keep", "text_surprisal", "corpus_mix", "embed_pq",
      "dedup_incremental",
      "text_dup_passages", "dedup_substr_strip", "text_pmi", "text_boilerplate",
      "pipeline_curate", "corpus_upsample", "corpus_shuffle", "dedup_semantic",
      "corpus_histogram", "doc_overlap_report", "corpus_quality_sample",
      "dedup_containment", "dedup_containment_capped", "corpus_upsert",
      "text_bigram_surprisal", "corpus_dsir", "corpus_dsir_select",
      "text_heavy_hitters", "doc_decontaminate_fuzzy",
      "text_gopher_rules", "corpus_reservoir", "corpus_topk_per_lang",
      "embed_matryoshka", "text_langid_confusion", "embed_pca",
      "corpus_temperature_sample", "corpus_token_budget", "embed_ann_auto",
      "embed_bitext_mine", "corpus_epoch_schedule", "corpus_length_buckets",
      "dedup_source_matrix", "corpus_shard_manifest",
      "embed_ann_ivfpq", "text_quality_model", "corpus_release_diff",
      "text_bpe_merges", "text_bpe_train", "text_bpe_encode",
      "text_bpe_vocab", "corpus_split_leakage", "corpus_split_leakfree",
      "dedup_cluster_stats", "corpus_dedup_savings", "text_unigram_train",
      "text_unigram_encode", "text_unigram_vocab",
      "multimodal_dedup_phash", "multimodal_dedup_ahash",
      "multimodal_dedup_phash_png", "multimodal_dedup_phash_jpeg",
      "multimodal_dedup_vhash", "multimodal_video_sample",
      "multimodal_dedup_video_rescale",
      "dedup_ngram_jaccard_staged",
      "multimodal_dedup_png_palette", "multimodal_dedup_jpeg_progressive",
      "multimodal_dedup_gif", "multimodal_dedup_video_mjpeg",
      "multimodal_dedup_webp", "multimodal_dedup_webp_lossy",
      "crawl_warc_ingest", "crawl_html_extract", "crawl_robots_filter",
      "crawl_pipeline",
      "text_wordpiece_train", "text_wordpiece_vocab", "text_wordpiece_encode",
      "multimodal_audio_features")
    // optional 2nd arg: comma-separated query subset (re-measuring one
    // operator shouldn't cost a full sweep)
    val names = BigBench.selected(args, allNames)
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dir = s"target/bigbench/llm_$rows"
    val spark = Bench.localSession()

    // embed-tier queries read only embeddings.parquet; an embed-only
    // subset must not pay (or re-create — the 100M release run
    // reclaims it) the 15 GB document corpus
    val embedOnlyNames = Set("dedup_embed_cosine", "dedup_semantic",
      "dedup_embed_cosine_exact")
    def needsDocs(n: String): Boolean =
      !n.startsWith("embed_") && !embedOnlyNames.contains(n)
    if (names.exists(needsDocs) &&
        !new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists()) {
      // 40-token docs over a 5k-word vocab; ~0.5% of docs get a planted
      // near-dup (2 tokens changed) so the dedup outputs are non-empty.
      val base = spark.range(0, rows, 1, 32).select(col("id").as("doc_id"),
        array_join(expr(
          "transform(sequence(0, 39), i -> concat('w', pmod(xxhash64(doc_id, i), 5000)))"),
          " ").as("text"),
        concat(lit("l"), pmod(col("id"), lit(5)).cast("string")).as("lang"),
        concat(lit("s"), pmod(col("id"), lit(50)).cast("string")).as("source"))
      val dups = base.filter(pmod(col("doc_id"), lit(200)) === 0)
        .select((col("doc_id") + rows).as("doc_id"),
          regexp_replace(col("text"), "^w[0-9]+ w[0-9]+ ", "wx wy ").as("text"),
          col("lang"), col("source"))
      base.unionAll(dups)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }

    // embeddings cost as much disk as the documents (64 floats/row);
    // generate them only when the selected subset reads them, with
    // their OWN _SUCCESS gate so a later full run backfills them
    if (names.exists(n => n.contains("embed") || n == "dedup_semantic") &&
        !new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists()) {
      spark.range(0, rows, 1, 32).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> CAST(pmod(xxhash64(vec_id, j), 2000) / 1000.0 - 1.0 AS FLOAT))")
          .as("embedding"),
        pmod(col("id"), lit(64)).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    // The pair-riding family shares one pair+CC pass per release in
    // production; benched with per-row release its numbers were
    // ORDER-sensitive across sweeps (round-13 BIGBENCH.md note). Same
    // discipline as graft.Bench: the family runs LAST in fixed order,
    // dedup_clusters pays the shared floor, riders report net cost,
    // one release closes the family. Every other query is a fresh-plan
    // end-to-end run followed by a release of the operator-internal
    // persists, so the next query starts cold.
    val ordered = names.filterNot(Bench.pairFamily.contains) ++
      Bench.pairFamily.filter(names.contains)
    val results = ordered.map { n =>
      val t = Bench.runOnce(spark, dir, n)
      if (!Bench.pairFamily.contains(n)) Caches.release(spark)
      n -> t
    }
    Caches.release(spark)
    println(s"""{"rows":$rows,"llm_end_to_end":${BigBench.jmap(results)}}""")
    spark.stop()
  }
}
