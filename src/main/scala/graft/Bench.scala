package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — prints ONE JSON line per the driver contract.
  *
  * Methodology (BASELINE.md §"Our target" promised load/compute
  * split):
  *  - `load_s`: one-time read+cache of every input table (the analogue
  *    of the reference's CSV parse, which dominates its "query total"
  *    numbers, README.md:44-62). [[Tables.preload]] loads the tables
  *    as one concurrent wave, one cache-filling job each, so their
  *    loads overlap instead of queuing one behind another.
  *  - per-query: one untimed warm run (plan compilation + codegen JIT,
  *    paid once per JVM in any real deployment), then timed runs.
  *    `cold` records each query's first-run time so the JIT cost
  *    stays visible instead of polluting the steady-state number. A
  *    query that fails after its warm-up is reported in `errors`
  *    only — never half-present in `cold`.
  *  - ADAPTIVE run count (round 11, bench-wall hygiene): the middle
  *    band gets the median of 3 timed runs as before; sub-200 ms rows
  *    (absolute jitter floor — a ±40% swing is ±40 MILLIseconds) and
  *    heavy rows (cold > 0.5 s, where a 4th execution costs real wall
  *    for no extra signal) get 2 timed runs reported as their MIN —
  *    the steady-state floor, within noise of a 3-run median on both
  *    bands (measured: the r10 sweep's 3-run spreads on those bands
  *    sit inside the cross-round jitter documented in BIGBENCH.md).
  *    This trims ~80 s of pure re-execution from a 190+-query sweep.
  *  - Queries are forced through the `noop` sink, not `.count()`:
  *    count() lets Catalyst's EliminateSorts drop the very Sort being
  *    measured, and noop also exercises full result production.
  *  - `documents`/`embeddings` are NOT preloaded into the table cache
  *    (since round 4): their pipelines scan array columns, and a
  *    row-based InMemoryRelation scan forfeits the vectorized parquet
  *    reader — the bench was measuring the cache pathology, not the
  *    operator ("cache aggregates, not sort inputs", BIGBENCH.md).
  *    Cross-round caveat: r3's `total` included that penalty; compare
  *    per-query medians, not totals, across the methodology change.
  */
object Bench {
  /** The scale-factor directory the runners read when none is given. */
  def envSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, logging at WARN. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The runners' shared session: [[localSession]] with every table but
    * the corpus preloaded. Returns it with the preload seconds (the
    * bench's `load_s`). */
  def session(sfDir: String): (SparkSession, Double) = {
    val spark = localSession()
    val t0 = System.nanoTime()
    Tables.preload(spark, sfDir)
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds for one run of a registered query into the `noop` sink. */
  def runOnce(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** JSON string literal: quote, backslash and every control char escaped. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** The PAIR-RIDING family shares one pair+CC pass per release in
    * production. Benched in isolation each row re-pays the shared
    * floor in its warm-up run, and per-row numbers proved
    * ORDER-sensitive across sweeps (round-13 note in BIGBENCH.md:
    * dedup_containment swung 0.4 ↔ 3.5 s with identical code). Charge
    * the floor EXPLICITLY instead: the family runs LAST in this fixed
    * order with NO release between members — dedup_clusters goes
    * first and pays the pair pass + connected components (its number
    * IS the shared floor), every other rider reports its NET cost
    * against the standing frames, and one release closes the family.
    * Sweep order can no longer move the floor between rows. `main`
    * and `tools.BigBenchLlm` both run the family this way. */
  val pairFamily: Seq[String] = SparkEntry.lookup(Seq("dedup_clusters",
    "dedup_ngram_jaccard", "dedup_containment", "dedup_source_matrix",
    "dedup_keep_list", "dedup_cluster_keep", "dedup_cluster_stats",
    "corpus_dedup_savings", "corpus_split_leakage", "corpus_split_leakfree")).map(_.name)

  /** The rows swept one by one, with a release after each: every
    * registered query in [[SparkEntry.registry]] order (moving a record
    * moves its row), minus the pair family, which runs last. EVERY
    * registered query gets a bench row — round 7 shipped 19
    * registered-but-unbenched queries and their regressions were
    * invisible; deriving the rows from the registry makes that gap
    * structurally impossible. */
  def soloRows: Seq[String] = SparkEntry.registry.map(_.name).filterNot(pairFamily.contains)

  def main(args: Array[String]): Unit = {
    val sfDir = envSfDir
    val (spark, loadS) = session(sfDir)

    var errors = List.empty[(String, String)]
    var cold = List.empty[(String, Double)]
    def sweep(names: Seq[String], releaseEach: Boolean,
              beforeRun: String => Unit = _ => ()): Seq[(String, Double)] =
      names.flatMap { name =>
        try {
          beforeRun(name)
          val coldT = runOnce(spark, sfDir, name) // warm-up; JIT + plan cost
          beforeRun(name)
          val t1 = runOnce(spark, sfDir, name)
          def timed() = { beforeRun(name); runOnce(spark, sfDir, name) }
          val med =
            if (t1 < 0.2 || coldT > 0.5) math.min(t1, timed()) // 2 runs, floor
            else Seq(t1, timed(), timed()).sorted.apply(1) // 3 runs, median
          cold ::= (name, coldT) // recorded only once the timed runs succeed
          Some(name -> med)
        } catch {
          case e: Throwable =>
            errors ::= (name, Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            None
        } finally {
          // Runs of the SAME query share operator-internal persists
          // (that reuse is the warm steady state being measured);
          // across queries they are dead weight — dropped so the cache
          // manager holds only the preloaded tables plus one query's
          // working set at a time. The pair family is the exception:
          // its members share the pass by CONTRACT, so release waits
          // for the family to finish.
          if (releaseEach) Caches.release(spark)
        }
      }
    val results = sweep(soloRows, releaseEach = true) ++ {
      // The floor row's runs must each CONTAIN the connected-components
      // pass: the CC memo (Caches.memoFrame) would otherwise serve the
      // warm-up's labeling to every timed run and the reported median
      // would be rider-net, not the family floor. Clearing only the
      // memo (inputs stay persisted) makes each run re-pay exactly the
      // pass the row is chartered to charge; the last run re-populates
      // the memo, so the riders still measure net against it.
      val fam = sweep(pairFamily, releaseEach = false,
        beforeRun = n => if (n == pairFamily.headOption.getOrElse("")) Caches.clearMemoFrames(spark))
      Caches.release(spark)
      fam
    }
    val (isolated, isolatedSkipped) =
      BenchIsolate.classify(results, errors.map(_._1).toSet, pairFamily.toSet, sfDir)

    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // `runs` stays NUMERIC (minimum timed runs — r11 briefly shipped the
    // string "2-3", breaking int-parsing consumers); the adaptive
    // scheme is named in `run_scheme` instead.
    // `isolated` self-contains the placement classification the warm
    // gate used to do by hand: rows whose in-sweep median breached the
    // gate ratio vs the previous record were re-run in a FRESH JVM
    // (TimeQuery, median of 3 warm runs) and both values are recorded —
    // no prose needed to tell a plan regression from a sweep-position
    // artifact.
    val isoJson = isolated.map { case (k, (sweepV, isoV)) =>
      s"${jstr(k)}:{\"sweep\":$sweepV,\"isolated\":$isoV}"
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results)},"cold":${jmap(cold.reverse)},"isolated":$isoJson,"isolated_skipped":$isolatedSkipped,"load_s":$loadS,"runs":2,"run_scheme":"adaptive_min2_med3","errors":$errJson,"sf":${jstr(sfDir)}}"""
    println(line)
    // Stdout-tail capture truncated round 6's line mid-JSON, losing the
    // per-query timings; persist the full line so round-over-round
    // regression diffs survive any output clipping.
    try {
      new java.io.File("target").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_latest.json"), line + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not persist bench_latest.json: ${e.getMessage}")
    }
    // The round driver snapshots only the LAST ~2000 chars of stdout,
    // so with 150+ queries the full line above is decapitated in its
    // record (rounds 6-8 carried "parsed": null). Emit a second,
    // compact line LAST that fits that window and still carries the
    // FULL per-query map: query NAMES are the bulk (~3 KB), so the
    // medians go out as "values_by_name" — 3-decimal seconds over ALL
    // ATTEMPTED names sorted (= the sorted registry keys = the
    // CORRECTNESS record's keys), with `null` at each errored query's
    // slot so a nonzero error count can never misalign the zip.
    // Budget: ~6 chars/query + ~200 fixed ≈ 1.35 KB at 190 queries —
    // ≥500 chars of window headroom (the r9 line with its redundant
    // 10-entry headline map measured 1,428 chars at 174; the map is
    // dropped, the full file has the names). If an outlier run ever
    // pushes past the window, degrade to as many named entries as fit.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val fixed = s""""n_queries":${results.length},"errors":${errors.size},"load_s":${f3(loadS)},"runs":2,"run_scheme":"adaptive_min2_med3","full":"target/bench_latest.json","sf":${jstr(sfDir)}}"""
    val medians = results.toMap
    val valuesByName = SparkEntry.registry.map(_.name).sorted
      .map(n => medians.get(n).map(f3).getOrElse("null"))
      .mkString("[", ",", "]")
    val withValues = s"""{"metric":"total","value":${f3(total)},"unit":"sec","values_by_name":$valuesByName,$fixed"""
    val compact =
      if (withValues.length <= 1800) withValues
      else {
        val kept = new scala.collection.mutable.ArrayBuffer[String]
        var used = 0
        results.map { case (k, v) => s"${jstr(k)}:${f3(v)}" }.foreach { e =>
          if (used + e.length + 1 <= 1500) { used += e.length + 1; kept += e }
        }
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${kept.mkString("{", ",", "}")},"omitted":${results.length - kept.length},$fixed"""
      }
    println(compact)
    spark.stop()
  }
}

/** The in-sweep vs isolated classification, automated (round-15 judge
  * item): a bench row whose median moved against the previous round's
  * record can be a real plan regression or a sweep-placement artifact
  * (JIT/page-cache/GC state from whatever ran before it — the r13/r14
  * records both carried hand-run TimeQuery triples to tell the two
  * apart). This module finds the breaching rows and re-runs each in a
  * FRESH JVM so the artifact carries both numbers.
  */
object BenchIsolate {
  /** Gate: in-sweep median > ratio × previous AND the delta clears an
    * absolute floor (sub-second swings are jitter nobody classifies —
    * same doctrine as tools/bench_diff.py --warm's 2 s floor, scaled to
    * this sweep's mostly sub-second rows). */
  private val Ratio = 1.5
  private val FloorSeconds = 1.0
  /** Each isolated run forks a JVM (~30 s session startup at sf0.1);
    * cap the pass so one bad host day can't double the bench wall. The
    * artifact reports how many breaches were left unclassified. */
  private val MaxIsolated = 6

  /** Returns (name -> (inSweepMedian, isolatedMedian), breaches left
    * unclassified by the cap). Pair-family rows are excluded by
    * contract: their in-sweep numbers are net-of-shared-floor, and an
    * isolated run re-pays the floor — the two are incomparable. */
  def classify(results: Seq[(String, Double)], errored: Set[String],
               pairFamily: Set[String], sfDir: String): (Seq[(String, (Double, Double))], Int) = {
    if (sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("0")) return (Nil, 0)
    val prev = previousMedians(sfDir)
    if (prev.isEmpty) return (Nil, 0)
    val breaches = results.filter { case (name, v) =>
      !pairFamily.contains(name) && !errored.contains(name) &&
        prev.get(name).exists(old => v > Ratio * old && v - old > FloorSeconds)
    }
    val (run, skipped) = breaches.splitAt(MaxIsolated)
    val classified = run.flatMap { case (name, sweepV) =>
      isolatedMedian(name, sfDir).map(iso => name -> (sweepV, iso))
    }
    (classified, skipped.size + (run.size - classified.size))
  }

  /** Previous record: SPARK_GRAFT_BENCH_PREV if set, else the
    * highest-round BENCH_LOCAL_rN / BENCH_rN artifact in cwd whose sf
    * basename matches this run's. Jackson (on the Spark classpath)
    * handles both the raw bench line and the driver's "parsed"
    * wrapper. */
  private def previousMedians(sfDir: String): Map[String, Double] = try {
    val explicit = sys.env.get("SPARK_GRAFT_BENCH_PREV").map(new java.io.File(_))
    val candidates: Seq[java.io.File] = explicit match {
      case Some(f) => Seq(f)
      case None =>
        val rx = "BENCH(?:_LOCAL)?_r(\\d+).*\\.json".r
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(f => f.getName match {
            case rx(n) => Some((n.toInt, f))
            case _     => None
          }).sortBy(-_._1).map(_._2)
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val sfName = new java.io.File(sfDir).getName
    candidates.iterator.flatMap { f =>
      try {
        var node = om.readTree(f)
        if (node.has("parsed") && !node.get("parsed").isNull) node = node.get("parsed")
        val sfOk = !node.has("sf") ||
          new java.io.File(node.get("sf").asText("")).getName == sfName
        val qs = node.get("queries")
        if (sfOk && qs != null && qs.isObject && qs.size() > 0) {
          val it = qs.fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
          Some(b.result())
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }.nextOption().getOrElse(Map.empty)
  } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Fork graft.tools.TimeQuery in a fresh JVM (same classpath,
    * module opens and -Xmx as this one), 4 runs; return the median of
    * the 3 warm runs. None if the fork fails — the breach then counts
    * as unclassified rather than silently passing. */
  private def isolatedMedian(name: String, sfDir: String): Option[Double] = try {
    import scala.jdk.CollectionConverters._
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
    val keep = new scala.collection.mutable.ArrayBuffer[String]
    var i = 0
    while (i < jvm.length) {
      val a = jvm(i)
      if (a == "--add-opens" || a == "--add-exports") {
        if (i + 1 < jvm.length) { keep += a; keep += jvm(i + 1); i += 1 }
      } else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=") ||
                 a.startsWith("-Xmx") || a.startsWith("-Dspark.")) keep += a
      i += 1
    }
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cmd = Seq(javaBin) ++ keep ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.tools.TimeQuery", name, "4", sfDir)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    // stdout goes to a temp file, not a pipe: we wait with a TIMEOUT (a
    // hung TimeQuery — e.g. a plan regression that also hangs — must not
    // block the whole bench sweep), and a timed wait can't also be the
    // pipe drain without a reader thread. On expiry the fork is killed
    // and the breach stays unclassified (None) rather than silently
    // passing or wedging.
    val outFile = java.io.File.createTempFile("graft-isolate-", ".out")
    outFile.deleteOnExit()
    pb.redirectOutput(outFile)
    val p = pb.start()
    val finished = p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) { p.destroyForcibly(); p.waitFor(); outFile.delete(); return None }
    val ok = p.exitValue() == 0
    val out = new String(java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
    outFile.delete()
    val times = "run \\d+: ([0-9.]+) s".r
      .findAllMatchIn(out).map(_.group(1).toDouble).toSeq
    if (ok && times.size >= 4) {
      val warm = times.drop(1).sorted
      Some(warm(warm.size / 2))
    } else None
  } catch { case scala.util.control.NonFatal(_) => None }
}
