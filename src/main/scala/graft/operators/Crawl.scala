package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Layout

/** The crawl FRONT END — the stages a web corpus passes through
  * before it ever becomes the `documents` table the rest of the
  * LLM-pipeline tier operates on:
  *
  *   WARC records → HTTP payloads → HTML text extraction →
  *   robots.txt compliance → URL canonicalization+dedup
  *   ([[Documents.urlCanonical]]) → content dedup (everything else).
  *
  * None of this exists in the reference (its surface is purely
  * relational, SURVEY.md §2.6); it is the beyond-parity tier at the
  * pipeline's mouth. Design rules are the house rules: parsing that
  * fits relational form (robots.txt group scoping, rule matching) is
  * windows + codegen'd string functions — zero UDFs; parsing that is
  * genuinely byte-cursor work (WARC record walking) is a
  * partition-batched map with the media tier's hostile-input posture
  * (bounds-checked, resyncing, quarantine-don't-throw). Everything is
  * embarrassingly parallel or a broadcast join — nothing here
  * shuffles a corpus-sized key.
  */
object Crawl {

  // ------------------------------------------------------------------
  // robots.txt
  // ------------------------------------------------------------------

  /** Parse robots.txt texts into per-host (allow, prefix) rules,
    * scoped to the `User-agent: *` groups — entirely relational
    * (posexplode + two windows + codegen'd string ops, no UDF).
    *
    * Group semantics per the public robots.txt RFC (9309): a group is
    * a maximal run of consecutive `User-agent:` lines followed by its
    * rules; a group applies to us iff ANY of its agent lines is `*`;
    * comments (`#…`) and unknown directives (Crawl-delay, Sitemap) are
    * ignored; an empty Disallow value allows everything (dropped — it
    * can never be a longest match against a non-empty Allow).
    *
    * Input: (host, robots_txt). Output: (host, allow: boolean,
    * prefix, plen) — plen precomputed because longest-match is the
    * match rule downstream. */
  def robotsRules(robots: DataFrame,
                  broadcastBudget: Long = Ops.DefaultBroadcastBudget): DataFrame = {
    val lines = robots
      .select(col("host"),
        posexplode(split(col("robots_txt"), "\n")).as(Seq("pos", "raw")))
      .select(col("host"), col("pos"),
        trim(regexp_replace(col("raw"), "#.*", "")).as("line"))
      // blank (and comment-only) lines are dropped BEFORE the group
      // window: RFC 9309's grammar allows them between stacked
      // user-agent lines of ONE group, so a lag over raw lines would
      // split "User-agent: *<blank>User-agent: x" into two groups and
      // silently detach the rules from *
      .filter(length(col("line")) > 0)
    val classified = lines
      .withColumn("isUa", lower(col("line")).startsWith("user-agent:"))
      .withColumn("uaVal",
        when(col("isUa"), trim(regexp_extract(col("line"), "(?i)^user-agent:(.*)$", 1))))
      .withColumn("kind",
        when(lower(col("line")).startsWith("allow:"), lit("allow"))
          .when(lower(col("line")).startsWith("disallow:"), lit("disallow")))
    // a group STARTS at a UA line whose previous surviving line is not
    // a UA line
    val byPos = Window.partitionBy("host").orderBy("pos")
    val grouped = classified
      .withColumn("newGroup",
        (col("isUa") && !coalesce(lag(col("isUa"), 1).over(byPos), lit(false)))
          .cast("int"))
      .withColumn("groupId", sum(col("newGroup")).over(byPos))
    val starGroups = grouped
      .filter(col("isUa"))
      .groupBy("host", "groupId")
      .agg(max((col("uaVal") === "*").cast("int")).as("isStar"))
      .filter(col("isStar") === 1)
      .select("host", "groupId")
    val withPrefix = grouped
      .filter(col("kind").isNotNull)
      // keep * groups only. starGroups is ~1 row per distinct host, so
      // at production crawl scale (millions of hosts) an unconditional
      // broadcast ships a hundreds-of-MB frame to every executor one
      // stage before the verdict join that already degrades gracefully
      // — route it through the same measured decision: equi-join on
      // (host, groupId), a shuffled join is correct past the budget.
      .join(Ops.broadcastIfFits(starGroups, broadcastBudget), Seq("host", "groupId"))
      .select(col("host"), (col("kind") === "allow").as("allow"),
        trim(regexp_extract(col("line"), "(?i)^(?:allow|disallow):(.*)$", 1)).as("prefix"))
      .filter(length(col("prefix")) > 0) // empty Disallow = allow all
    // RFC 9309 wildcards compiled to a per-rule anchored regex: `*`
    // matches any span, a TRAILING `$` anchors the end, everything
    // else is literal (regex metacharacters escaped — a hostile
    // robots.txt must not inject syntax). Specificity (plen) stays the
    // RAW rule length, the convention Google's matcher uses.
    val anchored = col("prefix").endsWith("$")
    val core = when(anchored,
      expr("substring(prefix, 1, length(prefix) - 1)")).otherwise(col("prefix"))
    val escaped = regexp_replace(core,
      "([\\\\.\\[\\]\\{\\}\\(\\)\\+\\?\\^\\$\\|])", "\\\\$1")
    withPrefix
      .withColumn("plen", length(col("prefix")))
      .withColumn("rx", concat(lit("^"),
        regexp_replace(escaped, "\\*", ".*"),
        when(anchored, lit("$")).otherwise(lit(""))))
      // wild marks the rules that genuinely need the regex engine; the
      // rest (the overwhelming majority of real robots rules) are
      // plain prefixes the verdict join matches with startswith — a
      // codegen'd byte compare instead of a per-row Pattern.compile
      .withColumn("wild", col("prefix").contains("*") || anchored)
      .select("host", "allow", "prefix", "plen", "rx", "wild")
  }

  /** The deterministic robots fixture behind [[crawlRobotsFilter]]:
    * one robots.txt per lang-host, with a decoy `BadBot` group (its
    * blanket Disallow must NOT apply to us), a `*` group whose
    * Disallow prefix varies per host (`/r{k}`, k = ascii(lang[0]) mod
    * 5) plus a longest-match Allow exception (`/r{k}/p3`), an ignored
    * Crawl-delay, and a trailing non-star group — so agent scoping,
    * comment stripping, and the longest-match/allow-wins precedence
    * all sit on the oracle-verified path. */
  private[graft] def robotsTxtExpr(lang: Column): Column = {
    val k = (ascii(substring(lang, 1, 1)) % 5).cast("string")
    concat(
      lit("# robots for "), lang, lit(".example.com\n"),
      lit("User-agent: BadBot\nDisallow: /\n\n"),
      lit("User-agent: *\nDisallow: /r"), k,
      lit(" # trailing comment\nAllow: /r"), k,
      lit("/p3\nCrawl-delay: 1\nDisallow:\n\n"),
      lit("User-agent: Other\nDisallow: /p\n"))
  }

  /** Registered query (HARD oracle): robots.txt COMPLIANCE — the
    * crawl stage upstream of even URL dedup. Each doc's URL
    * (`/r{doc_id%5}/p{doc_id%7}` on its lang host) is checked against
    * its host's parsed rules under RFC 9309 precedence: the
    * longest-matching rule wins, Allow wins ties, no match = allowed.
    * Rules ride the measured-broadcast decision (KBs per host, but
    * the frame scales with distinct hosts — see [[robotsVerdict]]);
    * the URL side stays a pure map + one join, no corpus-keyed
    * shuffle. The oracle replays the whole outcome in
    * closed form (k = ascii(lang[0]) mod 5 against the path
    * arithmetic), so the windowed group-scoping parse, the decoy
    * groups, and the precedence logic are all hash-verified at every
    * sf. */
  def crawlRobotsFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val urls = docs.select(
      col("doc_id"),
      concat(col("lang"), lit(".example.com")).as("host"),
      concat(lit("/r"), (col("doc_id") % 5).cast("string"),
        lit("/p"), (col("doc_id") % 7).cast("string")).as("url_path"))
    val robots = docs.select(col("lang")).distinct()
      .select(concat(col("lang"), lit(".example.com")).as("host"),
        robotsTxtExpr(col("lang")).as("robots_txt"))
    robotsVerdict(urls, robotsRules(robots))
      .select("doc_id", "url_path", "allowed", "matched_rule")
      .orderBy("doc_id")
  }

  /** Attach RFC 9309 verdicts to URL rows carrying (host, url_path):
    * every input column survives, plus `allowed` and `matched_rule`.
    * The prefix predicate lives IN the left join (a URL whose host
    * rules all miss must survive with a null rule, not vanish behind a
    * post-join filter); precedence is longest-rule-wins, Allow beats
    * Disallow on ties (struct ordering is lexicographic, boolean
    * false < true) — reduced by max_by instead of a window so the
    * winner pre-aggregates MAP-SIDE: at crawl scale the per-URL
    * shuffle carries one reduced row, not every matched rule.
    *
    * The rule side goes through [[Ops.broadcastIfFits]], not an
    * unconditional broadcast hint: rules are KBs per host, but the
    * frame scales with DISTINCT hosts, and a production crawl has
    * millions of them — past the measured budget the host-equality
    * key degrades to a shuffled join instead of OOMing the executors.
    * Matching takes the codegen'd `startswith` fast path for plain
    * prefix rules; only rules carrying `*`/`$` (rare in real robots
    * files) pay the per-row regex. */
  private[graft] def robotsVerdict(urls: DataFrame, rules: DataFrame,
                                   broadcastBudget: Long = Ops.DefaultBroadcastBudget): DataFrame = {
    // rename BEFORE the hint: a Project stacked on top of the hint
    // node would hide it from the join's hint extraction
    val r = Ops.broadcastIfFits(rules.withColumnRenamed("host", "rhost"), broadcastBudget)
    val keyCols = urls.columns.map(urls(_))
    val ruleMatches = when(col("wild"),
      expr("url_path rlike rx")) // per-rule compiled RFC 9309 pattern
      .otherwise(expr("startswith(url_path, prefix)"))
    urls.join(r,
        urls("host") === col("rhost") && ruleMatches,
        "left")
      .groupBy(keyCols: _*)
      .agg(max_by(struct(col("allow"), col("prefix")),
        struct(coalesce(col("plen"), lit(-1)), col("allow"), col("prefix"))).as("w"))
      .select(keyCols :+ coalesce(col("w.allow"), lit(true)).as("allowed")
        :+ coalesce(col("w.prefix"), lit("")).as("matched_rule"): _*)
  }

  // ------------------------------------------------------------------
  // HTML text extraction
  // ------------------------------------------------------------------

  /** Deterministic HTML wrapper behind [[crawlHtmlExtract]]: page
    * chrome (head with title/style, a script whose BODY CONTAINS
    * MARKUP — the classic tag-stripper trap — nav, h1, footer with an
    * entity) around the doc text, entity-ESCAPED like a real
    * generator would emit it. Extraction must invert this exactly. */
  private[graft] def htmlWrapExpr(id: Column, text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<html><head><title>SKIP Doc "), id.cast("string"),
      lit("</title></head>\n<body><style>body { color: #333; }</style>"),
      lit("<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>\n"),
      lit("""<script type="text/javascript">var x = "<div>not text</div>";</script>"""),
      lit("<h1>Doc "), id.cast("string"), lit("</h1>\n<p>"), esc,
      lit("</p>\n<footer>&copy; 2024 Example</footer></body></html>"))
  }

  /** HTML → text extraction as a codegen'd projection (the C4-style
    * rule chain, no UDF): drop `<head>` wholesale, drop `<script>` and
    * `<style>` BLOCKS (content included — a naive tag-strip leaks
    * script bodies into the corpus), replace remaining tags with
    * spaces, decode the core entities (amp LAST, so escaped text
    * round-trips exactly), collapse whitespace. */
  def htmlExtract(html: Column): Column = {
    val noHead = regexp_replace(html, "(?s)<head>.*?</head>", " ")
    val noScript = regexp_replace(noHead, "(?si)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?si)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&copy;" -> "©",
      "&amp;" -> "&") // amp strictly last
    val decoded = entities.foldLeft(noTags) { case (c, (from, to)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Registered query (HARD oracle): HTML TEXT EXTRACTION — the stage
    * between the HTTP payload and the `documents` table. Each doc's
    * text is wrapped in deterministic page chrome (including the
    * markup-inside-script trap and entity escaping) and extracted
    * back; because extraction exactly inverts the wrapper, the oracle
    * states the result in closed form over the raw text — a leaked
    * script body, surviving tag, head-title leak, or entity
    * mis-decode breaks the hash compare on every row. */
  def crawlHtmlExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        htmlExtract(htmlWrapExpr(col("doc_id"), col("text"))).as("extracted"))
      .orderBy("doc_id")

  // ------------------------------------------------------------------
  // WARC ingestion
  // ------------------------------------------------------------------

  /** Build one WARC blob for a slice of docs in the MIXED framing the
    * parser must survive in the wild: a plain `warcinfo` record, then a
    * `response` record per doc — even doc_ids written as individual
    * gzip members (the `.warc.gz` convention: one RFC 1952 member per
    * record, so readers can split and seek), odd ones as plain
    * WARC/1.0 bytes. Two independent corruption fixtures ride along:
    * doc_id % 97 == 0 records LIE about Content-Length (the WARC-level
    * quarantine fixture, inside whichever wrapper), and gzip members
    * for doc_id % 202 == 0 get a deflate byte flipped (the gzip-level
    * quarantine fixture — the member must be skipped whole without
    * eating its neighbors). */
  private[graft] def warcBlob(docs: Iterator[(Long, String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(warcinfoBytes)
    docs.foreach { case (id, lang, text) =>
      val rec = recordBytes(s"https://$lang.example.com/warc/$id", text, id % 97 == 0)
      if (id % 2 == 0) {
        val gz = gzMember(rec)
        // flip one byte mid-deflate-stream: CRC/inflate must reject it
        if (id % 202 == 0) gz(gz.length / 2) = (gz(gz.length / 2) ^ 0x5a).toByte
        out.write(gz)
      } else out.write(rec)
    }
    out.toByteArray
  }

  private def warcinfoBytes: Array[Byte] =
    ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 17\r\n\r\n" +
      "software: graft\r\n" + "\r\n\r\n").getBytes("UTF-8")

  /** One plain `response` record: WARC headers + nested HTTP/1.1
    * response, Content-Length in BYTES over the HTTP block; `corrupt`
    * makes the stated length overrun into the next record. */
  private[graft] def recordBytes(uri: String, payload: String, corrupt: Boolean): Array[Byte] = {
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + payload
    val httpLen = http.getBytes("UTF-8").length
    val stated = if (corrupt) httpLen + 7 else httpLen // lying length fixture
    (s"WARC/1.0\r\n" +
      s"WARC-Type: response\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: $stated\r\n\r\n" + http + "\r\n\r\n").getBytes("UTF-8")
  }

  /** The all-plain record writer (used by [[crawlPipeline]] and the
    * streaming fixtures): one `response` per (target-uri, payload,
    * corrupt) triple, after a `warcinfo`. */
  private[graft] def warcBlobRecords(recs: Iterator[(String, String, Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(warcinfoBytes)
    recs.foreach { case (uri, payload, corrupt) =>
      out.write(recordBytes(uri, payload, corrupt))
    }
    out.toByteArray
  }

  /** The all-gzip record writer — a spec-conformant `.warc.gz` blob
    * (every record its own gzip member), for fixtures exercising the
    * pure-gzip arrival path end-to-end. */
  private[graft] def warcBlobRecordsGz(recs: Iterator[(String, String, Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(gzMember(warcinfoBytes))
    recs.foreach { case (uri, payload, corrupt) =>
      out.write(gzMember(recordBytes(uri, payload, corrupt)))
    }
    out.toByteArray
  }

  /** Compress one record into one RFC 1952 gzip member. */
  private[graft] def gzMember(rec: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec); gz.close()
    bos.toByteArray
  }

  /** Walk one gzip member starting at `off`: full RFC 1952 header
    * (FEXTRA / FNAME / FCOMMENT / FHCRC optional fields), raw-deflate
    * inflate bounded by `maxOut` (decompression-bomb guard), then
    * CRC32 + ISIZE trailer verification — the checks a real archive
    * reader performs, so a flipped byte anywhere in the member is
    * caught even when the deflate stream still "inflates". Returns
    * (decompressed bytes, offset past the member's trailer) or None on
    * ANY malformation; the caller quarantines and resyncs — this
    * function never throws. */
  private[graft] def gunzipMember(blob: Array[Byte], off: Int,
                                  maxOut: Int = 64 << 20): Option[(Array[Byte], Int)] = {
    val n = blob.length
    if (off + 10 > n || blob(off) != 0x1f || blob(off + 1) != 0x8b.toByte ||
        blob(off + 2) != 0x08) return None
    val flg = blob(off + 3) & 0xff
    if ((flg & 0xe0) != 0) return None // RFC 1952 reserved bits must be 0
    var p = off + 10
    if ((flg & 0x04) != 0) { // FEXTRA: 2-byte little-endian length + data
      if (p + 2 > n) return None
      p += 2 + ((blob(p) & 0xff) | ((blob(p + 1) & 0xff) << 8))
      if (p > n) return None
    }
    def skipZeroTerminated(): Boolean = {
      while (p < n && blob(p) != 0) p += 1
      if (p >= n) false else { p += 1; true }
    }
    if ((flg & 0x08) != 0 && !skipZeroTerminated()) return None // FNAME
    if ((flg & 0x10) != 0 && !skipZeroTerminated()) return None // FCOMMENT
    if ((flg & 0x02) != 0) { p += 2; if (p > n) return None }   // FHCRC
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(blob, p, n - p)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val w = try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (w > 0) {
          if (out.size() + w > maxOut) return None // bomb: quarantine whole member
          out.write(buf, 0, w)
        } else if (!inf.finished() && inf.needsInput()) return None // truncated
      }
      val data = out.toByteArray
      val tOff = p + inf.getBytesRead.toInt
      if (tOff + 8 > n) return None
      def le32(o: Int): Long =
        (blob(o) & 0xffL) | ((blob(o + 1) & 0xffL) << 8) |
          ((blob(o + 2) & 0xffL) << 16) | ((blob(o + 3) & 0xffL) << 24)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      if (crc.getValue != le32(tOff)) return None
      if ((data.length.toLong & 0xffffffffL) != le32(tOff + 4)) return None
      Some((data, tOff + 8))
    } finally inf.end()
  }

  /** Parse a WARC blob into (url, status, payload) response records —
    * REAL byte-cursor record walking, the media tier's hostile-input
    * posture: headers are read case-insensitively up to the blank
    * line, Content-Length (mandatory) jumps over the payload — never
    * a split on a separator string, because payloads may contain
    * anything — and the `\r\n\r\n` record terminator is verified. A
    * record whose stated length lies (terminator missing), whose
    * headers are malformed, or whose Content-Length is absent is
    * QUARANTINED: the cursor resyncs to the next sync point and
    * parsing continues. Non-response records (warcinfo, request,
    * metadata) parse and skip.
    *
    * Framing is sniffed PER SYNC POINT, not per blob: production crawl
    * archives ship `.warc.gz` with one gzip member per record (Common
    * Crawl's convention), so a sync point is either the plain
    * `WARC/1.0\r\n` magic or a gzip member header (`1f 8b 08`). A gzip
    * member is walked with [[gunzipMember]] (full RFC 1952 header,
    * CRC32+ISIZE verified, output bounded) and its decompressed bytes
    * parsed with this same walker — so a member holding several
    * records, or a whole-file single-member archive, both work. A
    * member that fails to inflate or verify is quarantined whole and
    * the cursor resyncs past it without eating its neighbors. Nesting
    * depth is capped at 2: gzip-in-gzip is not an archive format, and
    * an unbounded recursion on crafted input is exactly the
    * hostile-input class this walker exists to refuse. */
  private[graft] def warcParse(blob: Array[Byte]): Seq[(String, Int, String)] =
    warcParseAt(blob, 0)

  private def warcParseAt(blob: Array[Byte], depth: Int): Seq[(String, Int, String)] = {
    val n = blob.length
    val magic = "WARC/1.0\r\n".getBytes("UTF-8")
    def at(off: Int, pat: Array[Byte]): Boolean =
      off + pat.length <= n && pat.indices.forall(i => blob(off + i) == pat(i))
    def atGz(off: Int): Boolean =
      depth < 2 && off + 3 <= n && blob(off) == 0x1f &&
        blob(off + 1) == 0x8b.toByte && blob(off + 2) == 0x08
    def findMagic(from: Int): Int = {
      var p = math.max(from, 0)
      while (p < n && !at(p, magic) && !atGz(p)) p += 1
      if (p < n) p else -1
    }
    /** Read CRLF header lines from `off` until the blank line; returns
      * (headers lowercased-key map, offset past the blank line) or
      * null on malformed/unterminated headers. */
    def headers(off: Int): (Map[String, String], Int) = {
      var p = off
      val m = Map.newBuilder[String, String]
      while (p < n) {
        var e = p
        while (e + 1 < n && !(blob(e) == '\r' && blob(e + 1) == '\n')) e += 1
        if (e + 1 >= n) return null // unterminated line
        if (e == p) return (m.result(), e + 2) // blank line: headers done
        val line = new String(blob, p, e - p, "UTF-8")
        val ci = line.indexOf(':')
        if (ci > 0) m += line.substring(0, ci).trim.toLowerCase -> line.substring(ci + 1).trim
        p = e + 2
      }
      null
    }
    val outRows = Seq.newBuilder[(String, Int, String)]
    var cursor = findMagic(0)
    while (cursor >= 0 && cursor < n) {
      if (atGz(cursor)) {
        gunzipMember(blob, cursor) match {
          case Some((data, nxt)) =>
            outRows ++= warcParseAt(data, depth + 1)
            cursor = if (nxt < n && (at(nxt, magic) || atGz(nxt))) nxt
                     else findMagic(nxt)
          case None => // corrupt/truncated member: quarantine + resync
            cursor = findMagic(cursor + 3)
        }
      } else {
        var next = -2 // -2: fall through to resync
        val h = headers(cursor + magic.length)
        if (h != null) {
          val (hdr, bodyOff) = h
          hdr.get("content-length").flatMap(s => scala.util.Try(s.toLong).toOption) match {
            case Some(len) if len >= 0 && bodyOff + len + 4 <= n.toLong =>
              val end = (bodyOff + len).toInt
              if (blob(end) == '\r' && blob(end + 1) == '\n' &&
                  blob(end + 2) == '\r' && blob(end + 3) == '\n') {
                if (hdr.get("warc-type").contains("response")) {
                  // nested HTTP block: status line, headers, blank, payload
                  val body = new String(blob, bodyOff, (end - bodyOff), "UTF-8")
                  val split = body.indexOf("\r\n\r\n")
                  val statusOk = body.startsWith("HTTP/")
                  if (split >= 0 && statusOk) {
                    val status = scala.util.Try(
                      body.substring(0, split).split(" ")(1).toInt).getOrElse(-1)
                    val url = hdr.getOrElse("warc-target-uri", "")
                    if (status > 0 && url.nonEmpty)
                      outRows += ((url, status, body.substring(split + 4)))
                  }
                  // a response without a valid HTTP block is quarantined
                  // by omission; the record itself framed correctly
                }
                next = end + 4
              }
            case _ => // missing/absurd Content-Length: quarantine + resync
          }
        }
        cursor = if (next >= 0) { if (at(next, magic) || atGz(next)) next else findMagic(next) }
        else findMagic(cursor + magic.length) // lying record: resync
      }
    }
    outRows.result()
  }

  /** Registered query (HARD oracle): the WHOLE crawl front end
    * composed end-to-end — the flagship of this tier. Per partition
    * the docs are written into a real WARC blob whose response
    * payloads are the HTML-wrapped texts and whose target URIs cycle
    * three crawl-surface variants (plain / tracking-params /
    * http+UPPERCASE-host+trailing-slash), ~1/97 corrupt; then the
    * pipeline runs exactly as production would:
    *
    *   WARC framing → HTTP status gate → HTML text extraction (the
    *   doc id is recovered FROM the extracted text, so extraction is
    *   load-bearing, not decorative) → robots.txt compliance on the
    *   parsed host/path → URL canonicalization → canonical-URL dedup
    *   (keep min doc_id, count variants).
    *
    * The oracle states the survivors in closed form (WARC-ok ∧
    * robots-allowed, grouped by the canonical resource), so a bug in
    * ANY stage — framing, extraction inversion, group scoping,
    * precedence, canonical equivalences, or the dedup key — changes
    * rows and breaks the hash. Shape: partition-batched maps and one
    * broadcast join until the single canonical-key aggregate. */
  /** Canonical-URL first-fetch winner WITHOUT shuffling document
    * text — the scale shape for a release pipeline's canonical-dedup
    * reduce. Input: (canonical_url, url, text). Output: ONE row per
    * canonical_url, the group's lexicographic-min (url, text) row —
    * byte-identical to the classic
    * `groupBy(canonical_url).agg(min_by(struct(url, text), …))`.
    *
    * The classic form carries every document's body through its
    * exchange to pick winners that keep ~99.5% of rows — the measured
    * disk-floor pinch of the composed 100M release (BIGBENCH.md r15:
    * free space bottomed at 11.4 GB in exactly this stage vs 23–47 GB
    * everywhere else). The slim form reduces on (canonical_url, url)
    * ONLY, in ONE exchange: a `canonical_url`-partitioned window
    * computes each row's group winner (`min(url)`), and a second
    * window keyed on (canonical_url, url) — satisfied by the SAME
    * hash partitioning, so it costs a re-sort, not a shuffle — flags
    * rows whose url repeats (only a repeated url can need the text
    * tie-break). The EXCEPTION set — loser urls, plus the ambiguous
    * groups resolved by the classic reduce over just their rows —
    * then falls out by per-row filter, no anti-join. (The first cut
    * of this slim form aggregated with `countDistinct` and derived
    * losers via a corpus×corpus left-anti join: four slim exchanges
    * including a distinct-expand — measured to out-spill the classic
    * text shuffle it replaced and kill the composed 100M run on
    * disk. One window exchange is the whole point.) The text stream
    * takes two broadcast anti-joins
    * and never enters an exchange. The measured-broadcast gate
    * ([[graft.Caches.decideOnce]], the [[Ops.broadcastIfFits]]
    * machinery) decides per corpus: a boilerplate-heavy crawl where
    * most fetches are duplicates outgrows the budget, and there the
    * classic reduce IS the honest cost — the operator degrades to it.
    * CrawlSpec proves the regimes byte-identical, including the
    * multi-fetch tie-break rows. */
  def canonicalReduce(docs: DataFrame,
                      broadcastBudget: Long = Ops.DefaultBroadcastBudget): DataFrame = {
    val spark = docs.sparkSession
    def classic(d: DataFrame): DataFrame = d
      .groupBy("canonical_url")
      .agg(min_by(struct(col("url"), col("text")),
        struct(col("url"), col("text"))).as("w"))
      .select(col("canonical_url"), col("w.url").as("url"), col("w.text").as("text"))
    val slim = docs.select(col("canonical_url"), col("url"))
    // winner + ambiguity in ONE slim exchange: the group window
    // shuffles on canonical_url; the per-url count window's
    // (canonical_url, url) clustering is satisfied by that same
    // partitioning, so it adds a sort, never a second shuffle. A url
    // maps to exactly one canonical (urlCanonical is a function of
    // the url), so a repeated (canonical_url, url) pair is exactly a
    // repeated fetch.
    val marked = slim
      .withColumn("win", min(col("url")).over(Window.partitionBy("canonical_url")))
      .withColumn("amb",
        count(lit(1)).over(Window.partitionBy("canonical_url", "url")) > 1)
    // one persisted frame carries both exception kinds so the fit
    // decision measures their COMBINED broadcast cost; rows enter it
    // by per-row filter (exception-volume, not corpus-volume), and
    // the distinct runs over that small set only
    val exceptions = graft.Caches.persist(
      marked.filter(col("url") =!= col("win") || col("amb"))
        .select(explode(array(
          when(col("url") =!= col("win"),
            struct(col("url").as("k"), lit(true).as("is_url"))),
          when(col("amb"),
            struct(col("canonical_url").as("k"), lit(false).as("is_url"))))).as("e"))
        .filter(col("e").isNotNull)
        .select(col("e.k").as("k"), col("e.is_url").as("is_url"))
        .distinct())
    val fits = graft.Caches.decideOnce(spark,
      exceptions.queryExecution.analyzed.semanticHash(), broadcastBudget) {
      exceptions.count()
      exceptions.select("*").queryExecution.optimizedPlan.stats.sizeInBytes < broadcastBudget
    }
    if (!fits) classic(docs)
    else {
      val loserUrls = exceptions.filter(col("is_url")).select(col("k").as("url"))
      val ambC = exceptions.filter(!col("is_url")).select(col("k").as("canonical_url"))
      // unambiguous winners: the rows that survive both anti-joins are
      // exactly one per group (every url in such a group is unique,
      // and all non-winners are in the loser set)
      val clean = docs
        .join(broadcast(loserUrls), Seq("url"), "left_anti")
        .join(broadcast(ambC), Seq("canonical_url"), "left_anti")
        .select("canonical_url", "url", "text")
      // ambiguous groups: classic reduce over their rows only — text
      // shuffles for this (typically empty) sliver, nothing else
      val resolved = classic(docs.join(broadcast(ambC), Seq("canonical_url"), "left_semi"))
      clean.unionAll(resolved)
    }
  }

  /** Registered query (HARD oracle): [[canonicalReduce]] end-to-end on
    * the crawl-shaped URL fixture ([[Documents.urlExpr]] — the same
    * seven-variant surface behind `dedup_url`, here keeping each
    * resource's full winning row instead of just its id). The fixture
    * exercises BOTH exactness hazards at real sf: distinct docs whose
    * ids collide mod lcm(500,7) emit the SAME url with different
    * texts (the multi-fetch tie-break), and the dominant-loser shape
    * (~6 of 7 variants lose) sizes the exception set. The oracle
    * replays the canonicalization and picks each group's min
    * (url, text) row with a window — so the winner choice, the
    * anti-join complement, and the ambiguous-group resolution are all
    * hash-verified at every sf. */
  def crawlCanonicalReduce(spark: SparkSession, dir: String): DataFrame = {
    val withUrl = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .select(Documents.urlExpr().as("url"), col("text"))
      .withColumn("canonical_url", Documents.urlCanonical(col("url")))
      .select("canonical_url", "url", "text")
    canonicalReduce(withUrl).orderBy("canonical_url")
  }

  /** Size-gated round-robin spread for the WARC generator seam. The
    * blob encode+parse runs at ~6 MB/s/core (gzip-dominated, measured
    * ~100 ms for the 0.6 MB sf0.1 corpus), so the spread width targets
    * ~1 MiB of corpus per task, clamped to the session's parallelism
    * — scale-adaptive per guide §2, derived from the input file like
    * Tables.preload's cutoff, never a local[32] constant. Below one
    * task's worth the repartition is SKIPPED outright: the r16
    * unconditional `repartition(defaultParallelism)` added an exchange
    * that cost more than the parallelism bought at the bench SFs
    * (driver 32c: crawl_pipeline 0.84→1.13 s, crawl_warc_ingest
    * 0.36→0.57 s), while a synthesized multi-GB corpus still fans out
    * to every core. Partitioning never changes the output — records
    * are self-contained and blobs are bounded per chunk. */
  private def seamSpread(spark: SparkSession, dir: String)(
      df: DataFrame): DataFrame = {
    val bytes = Layout.parquetBytes(spark, s"$dir/documents.parquet")
    val width = math.min(spark.sparkContext.defaultParallelism.toLong,
      bytes >> 20).toInt
    if (width > 1) df.repartition(width) else df
  }

  def crawlPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val hostE = concat(col("lang"), lit(".example.com"))
    val pathE = concat(lit("/r"), (col("doc_id") % 5).cast("string"),
      lit("/p"), (col("doc_id") % 7).cast("string"))
    val v = col("doc_id") % 3
    val uriE = when(v === 0, concat(lit("https://"), hostE, pathE))
      .when(v === 1, concat(lit("https://"), hostE, pathE, lit("?utm_source=x&gclid=1")))
      .otherwise(concat(lit("http://"), upper(hostE), pathE, lit("/")))
    val parsed = docs
      .select(uriE.as("uri"), htmlWrapExpr(col("doc_id"), col("text")).as("payload"),
        (col("doc_id") % 97 === 0).as("corrupt"))
      // generator seam: the test corpus is one scan split, so the
      // gzip-encode + WARC-parse below ran on one core however wide
      // the session; spread it like the media tier's mediaIds. At
      // cluster scale the arrival format is many .warc.gz files and
      // the scan parallelizes by itself — this exchange exists only
      // where the corpus is being SYNTHESIZED into blobs, and it is
      // GATED on input size (r17): the r16 unconditional spread cost
      // more than it bought at the bench SFs (driver 32c bench
      // 0.84→1.13 s), so the width derives from the corpus file size
      // and the exchange disappears when one task's worth remains.
      .transform(seamSpread(spark, dir))
      .as[(String, String, Boolean)]
      // bounded blobs (~1000 records), not one per partition: a 10M-doc
      // corpus puts ~300k docs in a partition, and 32 concurrent
      // multi-hundred-MB ByteArrayOutputStreams is a heap blowout —
      // records are self-contained, so chunking never changes a row
      .mapPartitions(_.grouped(1000).flatMap(g =>
        warcParse(warcBlobRecords(g.iterator))))
      .toDF("url", "status", "payload")
    val extracted = parsed
      .filter(col("status") === 200)
      .select(col("url"), htmlExtract(col("payload")).as("extracted"))
      .withColumn("doc_id",
        regexp_extract(col("extracted"), "Doc (\\d+) ", 1).cast("long"))
      .withColumn("host",
        lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]*).*", 1)))
      .withColumn("url_path",
        regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]*([^?#]*).*", 1))
      // the document body has served its purpose (the id proves
      // extraction ran) — drop it BEFORE the verdict aggregate so the
      // only corpus-keyed shuffle carries ids and short URLs, not page
      // text riding a group-by key
      .drop("extracted")
    val robots = docs.select(col("lang")).distinct()
      .select(concat(col("lang"), lit(".example.com")).as("host"),
        robotsTxtExpr(col("lang")).as("robots_txt"))
    robotsVerdict(extracted, robotsRules(robots))
      .filter(col("allowed"))
      .select(col("doc_id"), Documents.urlCanonical(col("url")).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("canonical_url")
  }

  /** Registered query (HARD oracle): WARC INGESTION — the pipeline's
    * actual arrival format (Common Crawl ships `.warc.gz`). Each
    * chunk's docs are written into one MIXED blob: even doc_ids as
    * individual gzip members (the real `.warc.gz` convention), odd
    * ones as plain WARC/1.0 records — so both framing paths are on
    * the oracle-verified path at every sf. Two corruption fixtures
    * ride along: ~1/97 records lie about Content-Length (WARC-level
    * quarantine, inside either wrapper) and ~1/202 gzip members get a
    * flipped deflate byte (gzip-level quarantine — CRC32 rejects the
    * member whole). Output is (url, status, n_chars) per
    * successfully-framed response. The oracle states the survivors in
    * closed form — doc_id % 97 != 0 AND doc_id % 202 != 0, URL
    * arithmetic, status 200, payload length = n_chars — so framing,
    * gzip member walking, header parsing, both quarantine classes,
    * AND resync (each corrupt record/member sits immediately before a
    * good one it must not eat) are all hash-verified at every sf.
    * Partitioning never changes the result: records are
    * self-contained, blobs are per-chunk. */
  def crawlWarcIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      // same size-gated generator-seam spread as crawlPipeline
      .transform(seamSpread(spark, dir))
      .as[(Long, String, String)]
      // the same bounded-blob discipline as crawlPipeline: memory per
      // task stays ~1 MB at ANY corpus size
      .mapPartitions(_.grouped(1000).flatMap(g =>
        warcParse(warcBlob(g.iterator)).map { case (url, status, payload) =>
          (url, status, payload.length.toLong)
        }))
      .toDF("url", "status", "n_chars")
      .orderBy("url")
  }
}
