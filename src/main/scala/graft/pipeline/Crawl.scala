package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.UrlOps
import graft.streaming.{IncrementalStream, SnapshotStore}
import graft.text.HtmlExtract

/** The assembled crawl front door: WARC records → URL gate → HTML
  * extraction → per-doc text stats — the chain every crawl-sourced
  * curation pipeline (C4, RefinedWeb, FineWeb) runs before the text
  * gates ([[Curation.curate]], c4Clean, gopher rules) take over.
  * Composes [[graft.sources.Warc]], [[UrlOps]] and [[HtmlExtract]]
  * without adding machinery of its own — the value is the contract:
  * one call from crawl bytes to gated, extracted, domain-annotated
  * documents.
  *
  * Scale shape: inherits its pieces' shapes — WARC parse is
  * one-task-per-file, the URL gate is a broadcast anti-join, the HTML
  * extraction is zero-shuffle per-row array expressions, and the
  * domain annotation recomputes from the url (cheap codegen'd string
  * ops) instead of joining anything back. The corpus never shuffles
  * inside this chain.
  */
object Crawl {

  /** records (warc_type, target_uri, payload) → docs (url, domain,
    * text, n_blocks_kept, n_blocks_dropped, n_tokens). Only
    * `response`/`resource` records carry page content (warcinfo /
    * request / metadata records drop); blocked registered domains
    * drop; boilerplate blocks drop inside the extraction. Rows whose
    * extraction keeps nothing survive with empty text and n_tokens 0 —
    * dropping empty docs is the NEXT gate's decision, not ingestion's.
    *
    * Optional compliance gates, all zero-extra-corpus-shuffle:
    * `robots` = a (host, robots_txt) snapshot retroactively applied
    * for `agent` ([[graft.ops.Robots]] — one host-keyed join);
    * `dropNoindex` honors the page-level opt-outs (`<meta
    * name=robots … noindex>` and `X-Robots-Tag`, checked BEFORE
    * extraction so opted-out pages cost nothing); percent-encoding
    * normalization runs before canonicalization so `%61`-class URL
    * variants collapse ([[UrlOps.normalizePercentEncoding]]).
    *
    * `psl` = an optional public-suffix snapshot (one `suffix` column,
    * [[UrlOps.registeredDomainWithPsl]]'s shape): when supplied, BOTH
    * the blocklist gate key and the emitted `domain` column are
    * PSL-exact (github.io user sites stay distinct domains, co.uk
    * resolves by rule) — broadcast-class, zero extra corpus shuffles.
    */
  def curate(records: DataFrame, blockedDomains: DataFrame,
             maxLinkDensity: Double = 0.2, minChars: Int = 20,
             stopwords: Seq[String] = Nil,
             minStopwordFrac: Double = 0.0,
             passthrough: Seq[String] = Nil,
             robots: Option[DataFrame] = None,
             agent: String = "graftbot",
             dropNoindex: Boolean = false,
             psl: Option[DataFrame] = None): DataFrame = {
    // response records capture the full HTTP message — split the
    // status line + header block (everything up to the FIRST CRLF
    // CRLF, the codegen'd mirror of Warc.httpBody: empty when the
    // payload isn't HTTP or has no blank line; non-greedy .*?, NOT a
    // per-line grammar — real crawls carry header blocks with bare
    // LFs and httpBody strips those the same way) from the body
    // BYTES, then decode the body with the page's own charset: the
    // HTTP Content-Type header wins, a <meta charset> / http-equiv
    // tag is the fallback, UTF-8 (with U+FFFD replacement) the
    // default. The split point is computed in BYTES
    // (functions.HttpHeaderLen — httpBody's first-CRLFCRLF scan as a
    // codegen kernel), so a header carrying bytes >= 0x80 (UTF-8
    // filenames, legacy-charset Content-Disposition values) can never
    // shift the body slice the way a char-length regex on the
    // pseudo-UTF-8 cast did. The ASCII meta tag stays findable in the
    // pseudo-UTF-8 view even when the body bytes are legacy-charset
    // (every supported legacy charset is ASCII-compatible; UTF-16
    // pages are out of scope).
    val payloadStr = col("payload").cast("string")
    // header split point computed in BYTES by a codegen kernel (one
    // linear scan to the blank line — byte-exact whatever the header
    // bytes decode to, and cheaper than the full-payload regex this
    // replaces); the charset regex then runs over the SMALL header
    // slice only
    val headerByteLen = graft.functions.Charsets.http_header_len(col("payload"))
    val headerStr = col("payload").substr(lit(1), headerByteLen).cast("string")
    val headerCs = regexp_extract(headerStr,
      "(?i)content-type:[^\r\n]*?charset\\s*=\\s*[\"']?([A-Za-z0-9_\\-.:]+)", 1)
    val metaCs = regexp_extract(payloadStr,
      "(?is)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_\\-.:]+)", 1)
    val charset = lower(when(headerCs =!= "", headerCs)
      .when(metaCs =!= "", metaCs).otherwise(lit("utf-8")))
    val bodyBytes = col("payload").substr(
      headerByteLen + 1, lit(Int.MaxValue))
    val noindexGate =
      if (!dropNoindex) lit(true)
      else !graft.ops.Robots.headerNoindex(payloadStr)
    val pages = records
      .filter(col("warc_type").isin("response", "resource") && noindexGate)
      .select(UrlOps.normalizePercentEncoding(col("target_uri")).as("url") +:
        graft.functions.Charsets.decode_charset(bodyBytes, charset).as("html") +:
        passthrough.map(col): _*)
    val indexable =
      if (!dropNoindex) pages
      else pages.filter(!graft.ops.Robots.metaNoindex(col("html")))
    val preGate = UrlOps.urlFilter(indexable, blockedDomains, psl = psl)
    val gated = robots match {
      case Some(r) => graft.ops.Robots.applyRobots(preGate, r, agent)
      case None => preGate
    }
    val extracted = HtmlExtract.extract(gated, htmlCol = "html",
      idCol = "url", maxLinkDensity = maxLinkDensity, minChars = minChars,
      stopwords = stopwords, minStopwordFrac = minStopwordFrac)
    // domain recomputed from the canonical url — zero-shuffle, no join
    // back against the gated frame (heuristic path); with a PSL
    // snapshot the same broadcast-join annotation runs on the
    // extracted frame, still corpus-shuffle-free
    val core = extracted.select(Seq(
      col("url"), col("text"), col("n_blocks_kept"), col("n_blocks_dropped"),
      when(col("text") === "", lit(0L))
        .otherwise(size(split(col("text"), "\\s+")).cast("long")).as("n_tokens"))
      ++ passthrough.map(col): _*)
    val annotated = psl match {
      case Some(p) => UrlOps.registeredDomainWithPsl(
          core.withColumn("__rd_host", UrlOps.hostOf(col("url"))), p,
          hostCol = "__rd_host", out = "domain")
        .drop("__rd_host")
      case None => core.withColumn("domain",
        UrlOps.registeredDomain(UrlOps.hostOf(col("url"))))
    }
    annotated.select(Seq(
      col("url"), col("domain"), col("text"),
      col("n_blocks_kept"), col("n_blocks_dropped"), col("n_tokens"))
      ++ passthrough.map(col): _*)
  }

  /** One streaming-ingest micro-batch: gate + extract the batch's
    * (url, html, fetchCol) pages, then merge into the SnapshotStore
    * target keeping the LATEST fetch per canonical url — a continuous
    * crawl converges to the same corpus a one-shot [[curate]] +
    * [[UrlOps.dedupByUrl]] over all raw fetches produces. At-least-once
    * safe: it is [[IncrementalStream.mergeUpsertBatch]] over the
    * curated pages (committed batch ids skip, the store swaps
    * snapshots atomically). Run it as
    * `IncrementalStream.sink(df, ckpt)(crawlBatch(_, _, targetDir, blocked))`
    * and read the corpus back with [[IncrementalStream.readUpsertTarget]].
    */
  def crawlBatch(batch: DataFrame, batchId: Long, targetDir: String,
                 blockedDomains: DataFrame,
                 fetchCol: String = "fetched_at"): Unit = {
    val gated = UrlOps.urlFilter(
      batch.select(col("url"), col("html"), col(fetchCol)), blockedDomains)
    val extracted = HtmlExtract.extract(gated, htmlCol = "html", idCol = "url")
    val curated = extracted.select(
      col("url"),
      UrlOps.registeredDomain(UrlOps.hostOf(col("url"))).as("domain"),
      col("text"),
      when(col("text") === "", lit(0L))
        .otherwise(size(split(col("text"), "\\s+")).cast("long")).as("n_tokens"),
      col(fetchCol))
    IncrementalStream.mergeUpsertBatch(curated, batchId, targetDir,
      Seq("url"), fetchCol, tieBreak = "text")
  }

  /** One WARC-layer ingest micro-batch: `files` is a bounded frame of
    * `.warc(.gz)` file paths (one micro-batch of arrivals); each file
    * streams through [[graft.sources.Warc.read]]'s bounded-heap
    * walker, the records run the full [[curate]] chain carrying their
    * `warc_date` (ISO-8601 UTC — string order is fetch order), and
    * the result merges into the SnapshotStore keeping the LATEST
    * capture per canonical url. At-least-once safe: committed batch
    * ids replay as no-ops, before any file is listed. The collect is
    * of PATHS only — bounded by files-per-trigger, never
    * corpus-shaped.
    *
    * Oversized archives fan out: a file larger than
    * `targetSplitBytes` routes through
    * [[graft.sources.Warc.readSplit]] — its gzip-member runs
    * decompress on MANY tasks instead of straggling the whole batch
    * behind one core (the record multiset is bit-identical to
    * [[graft.sources.Warc.read]]'s; specs pin it). Files at or under
    * the threshold keep the one-task-per-file walker with no extra
    * scan pass; 0 disables routing entirely. File sizes come from the
    * frame's `length` column when present (the streaming binaryFile
    * source ships it) and a driver-side status probe of the bounded
    * path list otherwise.
    */
  def crawlWarcBatch(files: DataFrame, batchId: Long, targetDir: String,
                     blockedDomains: DataFrame,
                     targetSplitBytes: Long = 128L << 20): Unit = {
    val spark = files.sparkSession
    SnapshotStore.merge(files, batchId, targetDir) { prev =>
      val hasLen = files.columns.contains("length")
      val pathCols: Seq[org.apache.spark.sql.Column] =
        if (hasLen) Seq(col("path"), col("length")) else Seq(col("path"))
      val listed = files.select(pathCols: _*).distinct().collect()
      val sized: Array[(String, Long)] =
        if (targetSplitBytes <= 0) listed.map(r => (r.getString(0), 0L))
        else if (hasLen) listed.map(r => (r.getString(0), r.getLong(1)))
        else {
          val conf = spark.sparkContext.hadoopConfiguration
          listed.map { r =>
            val p = new org.apache.hadoop.fs.Path(r.getString(0))
            (r.getString(0), p.getFileSystem(conf).getFileStatus(p).getLen)
          }
        }
      val (big, small) = sized.partition(
        f => targetSplitBytes > 0 && f._2 > targetSplitBytes)
      val parts = Seq(
        if (small.isEmpty) None
        else Some(graft.sources.Warc.read(
          spark, small.map(_._1).mkString(","))),
        if (big.isEmpty) None
        else Some(graft.sources.Warc.readSplit(
            spark, big.map(_._1).mkString(","),
            targetSplitBytes = targetSplitBytes)
          .drop("split_start"))).flatten
      // no files: no records (the columns curate reads, no rows)
      val records = parts.reduceOption(_.unionByName(_)).getOrElse(
        files.limit(0).select(lit("").as("warc_type"), lit("").as("target_uri"),
          lit(Array.emptyByteArray).as("payload"), lit("").as("warc_date")))
      val curated = curate(records, blockedDomains,
          passthrough = Seq("warc_date"))
        .select("url", "domain", "text", "n_tokens", "warc_date")
      IncrementalStream.keepLatest(prev, curated, Seq("url"), "warc_date",
        tieBreak = "text")
    }
  }

  /** Streaming crawl ingest at the ARRIVAL format: tail a directory
    * of `.warc(.gz)` files (the file-arrival stream a fetcher fleet
    * produces) and accumulate the curated latest-capture-per-url
    * corpus in `targetDir` (read it back with
    * [[IncrementalStream.readUpsertTarget]]). The file listing rides
    * Structured Streaming's file source (checkpointed, exactly-once
    * file discovery); only PATHS (+ sizes) flow through the stream —
    * the bytes stream through [[graft.sources.Warc.read]] inside each
    * batch, so a multi-GiB member never materializes as a row.
    * Archives larger than `targetSplitBytes` fan out across tasks via
    * [[graft.sources.Warc.readSplit]] (see [[crawlWarcBatch]]); the
    * source's own `length` column feeds the routing, so no extra
    * filesystem probe runs per trigger.
    */
  def sinkCrawlWarc(spark: org.apache.spark.sql.SparkSession,
                    warcDir: String, targetDir: String,
                    checkpointDir: String, blockedDomains: DataFrame,
                    maxFilesPerTrigger: Int = 16,
                    targetSplitBytes: Long = 128L << 20): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    IncrementalStream.sink(spark.readStream.format("binaryFile")
      // the binaryFile source's FIXED schema (streaming sources
      // require it stated up front); only `path` is selected below,
      // so column pruning keeps file bytes out of the stream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("path", org.apache.spark.sql.types.StringType)
        .add("modificationTime", org.apache.spark.sql.types.TimestampType)
        .add("length", org.apache.spark.sql.types.LongType)
        .add("content", org.apache.spark.sql.types.BinaryType))
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(warcDir)
      .select(col("path"), col("length")), checkpointDir)(
      crawlWarcBatch(_, _, targetDir, blockedDomains, targetSplitBytes))

  /** Frontier discovery — the step that closes the crawl loop:
    * extracted out-links that are NOT yet in the fetched corpus, with
    * their in-link support, ready to rank into the next fetch queue
    * (the Mercator-class frontier every crawler maintains; in-link
    * count is the classic admission signal, a domain-rank join the
    * upgraded one). `edges` is
    * [[graft.text.HtmlExtract.extractLinks]]-shaped (`hrefCol` +
    * optional `nofollow`, excluded by default — no endorsement, no
    * discovery); `fetched` is any frame of already-crawled urls. Both
    * sides canonicalize ([[UrlOps.canonicalizeUrl]]) so tracking-param
    * and fragment variants of a fetched page can't re-enter the queue.
    *
    * Scale shape: edge-shaped throughout — one href-keyed partial-agg
    * exchange (in-link counts), one url-keyed anti-join against the
    * fetched urls (sort-merge at corpus scale; the frontier never
    * joins page CONTENT, only urls), domain recomputed per-row, the
    * optional rank join broadcast (node-shaped). No global sort —
    * consumers TakeOrdered their fetch batch (rank, then in-links).
    */
  def frontier(edges: DataFrame, fetched: DataFrame,
               hrefCol: String = "href",
               fetchedUrlCol: String = "url",
               followNofollow: Boolean = false,
               ranks: Option[DataFrame] = None,
               psl: Option[DataFrame] = None): DataFrame = {
    val followed =
      if (!followNofollow && edges.columns.contains("nofollow"))
        edges.filter(!col("nofollow"))
      else edges
    val candidates = followed
      .select(UrlOps.canonicalizeUrl(col(hrefCol)).as("url"))
      .groupBy("url").agg(count(lit(1)).as("n_inlinks"))
    // no distinct on the fetched side: left_anti ignores right-side
    // multiplicity, so pre-deduping would only add an exchange
    val seen = fetched.select(
      UrlOps.canonicalizeUrl(col(fetchedUrlCol)).as("url"))
    val anti = candidates.join(seen, Seq("url"), "left_anti")
    // frontier grouping/politeness keys are PSL-exact when a snapshot
    // is supplied (github.io user sites are separate sites; co.uk
    // resolves by rule) — still a broadcast-class annotation
    val unseen = psl match {
      case Some(p) => UrlOps.registeredDomainWithPsl(
          anti.withColumn("__rd_host", UrlOps.hostOf(col("url"))), p,
          hostCol = "__rd_host", out = "domain")
        .drop("__rd_host")
      case None => anti.withColumn("domain",
        UrlOps.registeredDomain(UrlOps.hostOf(col("url"))))
    }
    ranks match {
      case Some(r) =>
        unseen.join(broadcast(r.select(col("n").as("domain"), col("rank"))),
            Seq("domain"), "left")
          .select(col("url"), col("domain"), col("n_inlinks"),
            coalesce(col("rank"), lit(0.0)).as("rank"))
      case None => unseen.select("url", "domain", "n_inlinks")
    }
  }

  /** Politeness-aware fetch scheduling — turn a ranked frontier into
    * fetch WAVES no host is hit too hard within: each host's
    * candidates rank by (priority desc, url), and wave k takes each
    * host's next `perHostPerWave` urls — the per-host rate cap every
    * polite crawler enforces (RFC 9309 crawl-delay is the same
    * constraint stated as seconds; waves are its batch form). A fetch
    * fleet drains wave 0 across ALL hosts in parallel, then wave 1…
    * so per-host pressure is bounded while fleet-wide throughput
    * stays full.
    *
    * Scale shape: one host-keyed window (rank within host) — the
    * single exchange ANY per-host policy pays; no global sort, no
    * driver state. Output adds `host`, `wave` (0-based) and `slot`
    * (position within the host+wave) to the frontier row.
    */
  def fetchSchedule(frontier: DataFrame, perHostPerWave: Int = 4,
                    urlCol: String = "url",
                    priorityCol: String = "n_inlinks"): DataFrame = {
    require(perHostPerWave >= 1, s"perHostPerWave >= 1: $perHostPerWave")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(desc(priorityCol), col(urlCol))
    val rn = row_number().over(w) - 1
    frontier.withColumn("host", UrlOps.hostOf(col(urlCol)))
      .withColumn("wave", floor(rn / lit(perHostPerWave)))
      .withColumn("slot", (rn % perHostPerWave).cast("long"))
  }

  /** [[fetchSchedule]] with per-host POLITENESS TIMING: each host's
    * waves are `crawl_delay` seconds apart (the site's own robots.txt
    * `Crawl-delay`, extracted by [[graft.ops.Robots.crawl_delay]];
    * hosts that declare none get `defaultDelaySeconds`), so
    * `fetch_at_sec` = wave × delay is the earliest offset a polite
    * fetcher may dispatch the slot. `delays` is (hostCol, delayCol)
    * — host-bounded, the blocklist class, hence the explicit
    * broadcast: the frontier never shuffles for it.
    */
  def fetchScheduleWithDelay(frontier: DataFrame, delays: DataFrame,
                             defaultDelaySeconds: Double,
                             perHostPerWave: Int = 4,
                             urlCol: String = "url",
                             priorityCol: String = "n_inlinks",
                             hostCol: String = "host",
                             delayCol: String = "crawl_delay"): DataFrame = {
    require(defaultDelaySeconds > 0,
      s"defaultDelaySeconds must be positive, got $defaultDelaySeconds")
    fetchSchedule(frontier, perHostPerWave, urlCol, priorityCol)
      .join(broadcast(delays.select(col(hostCol).as("host"),
        col(delayCol).as("__delay"))), Seq("host"), "left")
      .withColumn("crawl_delay", coalesce(col("__delay"), lit(defaultDelaySeconds)))
      .withColumn("fetch_at_sec", col("wave").cast("double") * col("crawl_delay"))
      .drop("__delay")
  }

  /** Snapshot diff — the incremental-recrawl primitive: classify every
    * canonical url across two crawl snapshots as `added` (new only),
    * `gone` (prev only), `changed` (both, fingerprints differ) or
    * `unchanged`. The fingerprint is whatever content digest the
    * corpus carries (md5/xxhash of extracted text — cheap and
    * order-insensitive to re-fetch timing); downstream, `changed` +
    * `added` is the re-process set and `gone` drives tombstones — the
    * crawl-front analogue of [[graft.sync.SyncOps]]'s reconcile.
    * Caller contract: one row per url per snapshot (run
    * [[UrlOps.dedupByUrl]] first — this function diffs corpora, it
    * does not adjudicate duplicate fetches).
    *
    * Scale shape: one full-outer sort-merge join keyed on url — one
    * exchange per side, carrying only (url, fingerprint), never page
    * content; at 100 TB both snapshots are url-bucketable so repeated
    * diffs against a bucketed prior snapshot skip its exchange.
    */
  def snapshotDiff(prev: DataFrame, curr: DataFrame,
                   urlCol: String = "url",
                   fpCol: String = "fingerprint"): DataFrame = {
    val p = prev.select(col(urlCol).as("url"), col(fpCol).as("fp_prev"))
    val c = curr.select(col(urlCol).as("url"), col(fpCol).as("fp_curr"))
    p.join(c, Seq("url"), "full_outer")
      .select(col("url"),
        when(col("fp_prev").isNull, lit("added"))
          .when(col("fp_curr").isNull, lit("gone"))
          .when(col("fp_prev") === col("fp_curr"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("fp_prev"), col("fp_curr"))
  }

  /** Change-frequency estimation over a FETCH HISTORY — the recrawl
    * scheduler's core question ("how often does this page actually
    * change?") answered from the snapshots a crawler already has.
    * Input is (url, wave, fingerprint) rows: `waveCol` orders a url's
    * fetches, consecutive fetches are `interval` time units apart,
    * and a change is observed when consecutive fingerprints differ
    * (null-safe). Per url with n fetches (m = n−1 comparisons) and X
    * observed changes, the estimator is Cho & Garcia-Molina 2003
    * ("Estimating Frequency of Change", ACM TOIT 3(3)) — a Poisson
    * change process observed by sampling undercounts (two changes
    * between fetches look like one), so the naive X/m is biased; the
    * bias-reduced form is
    *   rate = ln((m + 0.5) / (m − X + 0.5)) / interval
    * (X ≤ m keeps the argument finite and ≥ 1; X = 0 → rate 0).
    * `next_fetch` = 1/rate capped at `maxInterval` (an unchanged page
    * still gets revisited) — the number a fetch scheduler feeds back
    * into its wave assignment.
    *
    * Scale shape: ONE url-keyed exchange — the change-detection lag
    * window and the per-url count/sum aggregate share the url
    * partitioning, and only (url, 2 longs) survive the window. All
    * arithmetic after the agg is per-row codegen; ln sits on the
    * 9 dp exact-decimal contract (the pageRank/logprob convention).
    */
  def recrawlRate(fetches: DataFrame, interval: Double, maxInterval: Double,
                  urlCol: String = "url", waveCol: String = "wave",
                  fpCol: String = "fingerprint"): DataFrame = {
    require(interval > 0, s"interval must be positive, got $interval")
    require(maxInterval > 0, s"maxInterval must be positive, got $maxInterval")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(urlCol)).orderBy(col(waveCol))
    val prev = lag(col(fpCol), 1).over(w)
    // first-fetch detection must not key off prev's nullness — a null
    // fingerprint is a value, and null -> "x" is a real change; lag of
    // a constant is null exactly on the first row
    val hasPrev = lag(lit(1), 1).over(w).isNotNull
    fetches
      .withColumn("__chg",
        when(hasPrev && !(prev <=> col(fpCol)), 1L).otherwise(0L))
      .groupBy(col(urlCol).as("url"))
      .agg(count(lit(1)).as("n_fetches"), sum(col("__chg")).as("n_changes"))
      .withColumn("__m", col("n_fetches").cast("double") - 1.0)
      .withColumn("__r",
        log((col("__m") + 0.5) / (col("__m") - col("n_changes") + 0.5)))
      .select(col("url"), col("n_fetches"), col("n_changes"),
        round(col("__r") / interval, 9).as("change_rate"),
        when(col("n_changes") === 0, lit(maxInterval))
          .otherwise(least(lit(maxInterval),
            round(lit(interval) / col("__r"), 6))).as("next_fetch"))
  }
}
