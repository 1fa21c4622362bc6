package graft

import graft.pipeline.Crawl
import graft.streaming.IncrementalStream

class CrawlSpec extends SparkSpec {
  import spark.implicits._

  test("curate: warcinfo dropped, blocked domain dropped, boilerplate stripped, tokens counted") {
    val page = "<html><body><div><a href=\"/\">home</a> <a href=\"/b\">more</a></div>" +
      "<p>the extracted article body has exactly nine tokens</p></body></html>"
    val records = Seq(
      ("warcinfo", "", "software: graft".getBytes("UTF-8")),
      ("response", "HTTPS://WWW.Good.COM/a?utm_x=1",
        ("HTTP/1.1 200 OK\r\n\r\n" + page).getBytes("UTF-8")),
      ("resource", "http://evil.example.net/x", page.getBytes("UTF-8")),
    ).toDF("warc_type", "target_uri", "payload")
    val block = Seq("example.net").toDF("domain")
    val got = Crawl.curate(records, block).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("url") == "https://good.com/a")
    assert(r.getAs[String]("domain") == "good.com")
    assert(r.getAs[String]("text") == "the extracted article body has exactly nine tokens")
    assert(r.getAs[Long]("n_tokens") == 8L) // "exactly nine" is a lie the count catches
    assert(r.getAs[Long]("n_blocks_kept") == 1L)
    assert(r.getAs[Long]("n_blocks_dropped") == 1L) // the link-dense nav
  }

  test("streaming crawl ingest == one-shot curate + url-dedup; replay idempotent") {
    import org.apache.spark.sql.functions._
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    // 3 fetch waves of 2 pages, with url-shape noise and re-fetches:
    // page A fetched 3x (noisy url first, updated text last), page B
    // 2x, page C once on a blocked domain
    def page(body: String) =
      s"<html><body><p>$body content long enough to clear the minimum</p></body></html>"
    val fetches = Seq(
      (1L, "HTTPS://WWW.Site-a.COM/p?utm_x=1", page("a v1")),
      (2L, "http://site-b.org/q", page("b v1")),
      (3L, "https://site-a.com/p", page("a v2")),
      (4L, "http://blocked.net/x", page("c v1")),
      (5L, "https://Site-a.com:443/p", page("a v3")),
      (6L, "HTTP://site-b.org:80/q#frag", page("b v2")),
    ).map { case (t, u, h) => (u, h, t) }
    val in = tmp("graft_crawl_in")
    val raw = fetches.toDF("url", "html", "fetched_at")
    raw.write.mode("overwrite").parquet(in)
    val block = Seq("blocked.net").toDF("domain")
    val target = tmp("graft_crawl_t") + "/t"
    val ckpt = tmp("graft_crawl_ck")

    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(
      Crawl.crawlBatch(_, _, target, block)).start()
    try q.processAllAvailable() finally q.stop()

    val got = IncrementalStream.readUpsertTarget(spark, target).get
      .select("url", "text", "n_tokens", "domain")
      .as[(String, String, Long, String)].collect().toSet
    assert(got == Set(
      ("https://site-a.com/p", "a v3 content long enough to clear the minimum", 9L, "site-a.com"),
      ("http://site-b.org/q", "b v2 content long enough to clear the minimum", 9L, "site-b.org")))

    // direct replay of an already-committed batch id changes nothing
    Crawl.crawlBatch(raw.limit(2), batchId = 0L, target, block)
    val again = IncrementalStream.readUpsertTarget(spark, target).get
      .select("url", "text").as[(String, String)].collect().toSet
    assert(again == got.map(r => (r._1, r._2)))

    // one-shot reference: curate-shape over ALL raw fetches, newest per
    // canonical url — the streaming target must equal it exactly
    val oneShot = graft.ops.UrlOps.dedupByUrl(
      graft.text.HtmlExtract.extract(
        graft.ops.UrlOps.urlFilter(raw, block), htmlCol = "html", idCol = "url"),
      scoreCol = "fetched_at", tieCol = "url")
      .select(col("url"), col("text")).as[(String, String)].collect().toSet
    assert(oneShot == got.map(r => (r._1, r._2)))
  }

  test("curate: charset-aware decode — header charset, meta fallback, utf-8 default, bare-LF headers") {
    // handmade legacy-charset pages: the extracted text must
    // round-trip EXACTLY (the é arrives as Latin-1 0xE9, the テ as
    // Shift-JIS 0x83 0x65 — both mojibake under a blind UTF-8 cast)
    def http(headers: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$headers\r\n").getBytes("US-ASCII") ++ body
    val latin1Body =
      "<html><body><p>le café est ouvert toute la journée ici</p></body></html>"
        .getBytes("ISO-8859-1")
    val sjisBody =
      ("<html><head><meta charset=\"shift_jis\"></head><body>" +
        "<p>this page carries katakana テ inside prose text</p></body></html>")
        .getBytes("Shift_JIS")
    val utf8Body =
      "<html><body><p>plain utf-8 default applies to this page ✓</p></body></html>"
        .getBytes("UTF-8")
    // a bare-LF line inside the header block: the strip still runs to
    // the first CRLF CRLF (httpBody's contract), headers never leak
    val bareLf = ("HTTP/1.1 200 OK\r\nX-Odd: broken\nheader\r\n\r\n" +
      "<p>body after a bare-LF header block stays intact</p>").getBytes("UTF-8")
    val records = Seq(
      ("response", "http://l1.example/a",
        http("Content-Type: text/html; charset=ISO-8859-1\r\n", latin1Body)),
      ("response", "http://sj.example/b",
        http("Content-Type: text/html\r\n", sjisBody)),
      ("response", "http://u8.example/c", http("", utf8Body)),
      ("response", "http://lf.example/d", bareLf),
    ).toDF("warc_type", "target_uri", "payload")
    val got = Crawl.curate(records, Seq.empty[String].toDF("domain"),
        minChars = 10)
      .select("url", "text").as[(String, String)].collect().toMap
    assert(got("http://l1.example/a") ==
      "le café est ouvert toute la journée ici")
    assert(got("http://sj.example/b") ==
      "this page carries katakana テ inside prose text")
    assert(got("http://u8.example/c") ==
      "plain utf-8 default applies to this page ✓")
    assert(got("http://lf.example/d") ==
      "body after a bare-LF header block stays intact")
  }

  test("curate/frontier: a PSL snapshot makes gate and grouping keys PSL-exact") {
    val psl = Some(Seq("com", "io", "uk", "co.uk", "github.io").toDF("suffix"))
    def page(url: String) = ("response", url,
      ("HTTP/1.1 200 OK\r\n\r\n<html><body><p>a page with enough prose " +
        "to clear the minimum character gate</p></body></html>").getBytes("UTF-8"))
    val records = Seq(
      page("http://alice.github.io/site"),
      page("http://bob.github.io/site"),
      page("http://news.bbc.co.uk/story"),
    ).toDF("warc_type", "target_uri", "payload")
    // PSL-exact: github.io user sites are SEPARATE registrable
    // domains — blocking bob's site cannot take alice's down with it
    val blocked = Seq("bob.github.io").toDF("domain")
    val got = Crawl.curate(records, blocked, minChars = 10, psl = psl)
      .select("url", "domain").as[(String, String)].collect().toMap
    assert(got == Map(
      "http://alice.github.io/site" -> "alice.github.io",
      "http://news.bbc.co.uk/story" -> "bbc.co.uk"))
    // the heuristic path collapses both user sites into one
    // "github.io" key, so the same blocklist entry blocks NEITHER
    val heur = Crawl.curate(records, blocked, minChars = 10)
      .select("domain").as[String].collect().toSet
    assert(heur == Set("github.io", "bbc.co.uk"))
    // frontier grouping keys ride the same snapshot
    val edges = Seq(
      ("http://a.github.io/p1", false), ("http://a.github.io/p2", false),
      ("http://b.github.io/p", false)).toDF("href", "nofollow")
    val fr = Crawl.frontier(edges, Seq.empty[String].toDF("url"), psl = psl)
      .select("domain").as[String].collect()
    assert(fr.toSet == Set("a.github.io", "b.github.io"))
  }

  test("curate: non-ASCII header bytes don't shift the body slice") {
    // a UTF-8 'café.html' filename in the header: 0xC3 0xA9 is TWO
    // bytes but ONE char in the pseudo-UTF-8 view — a char-length
    // slice would start the body one byte early (corrupting the
    // first tag); the byte-exact slice point keeps it intact. Same
    // for a legacy-charset header where a malformed 2-byte prefix
    // collapses to one U+FFFD.
    val utf8Hdr = ("HTTP/1.1 200 OK\r\n" +
      "Content-Disposition: inline; filename=\"café.html\"\r\n" +
      "Content-Type: text/html; charset=ISO-8859-1\r\n\r\n").getBytes("UTF-8")
    val latin1Body =
      "<html><body><p>le café est ouvert toute la journée ici</p></body></html>"
        .getBytes("ISO-8859-1")
    // 0xE9 0xA9: a truncated 3-byte UTF-8 sequence -> ONE U+FFFD for
    // two bytes in the decoded view
    val malformedHdr = "HTTP/1.1 200 OK\r\nX-Raw: ab".getBytes("US-ASCII") ++
      Array(0xE9.toByte, 0xA9.toByte) ++ "\r\n\r\n".getBytes("US-ASCII")
    val utf8Body =
      "<html><body><p>body bytes survive a malformed header intact</p></body></html>"
        .getBytes("UTF-8")
    val records = Seq(
      ("response", "http://hd.example/a", utf8Hdr ++ latin1Body),
      ("response", "http://hd.example/b", malformedHdr ++ utf8Body),
    ).toDF("warc_type", "target_uri", "payload")
    val got = Crawl.curate(records, Seq.empty[String].toDF("domain"),
        minChars = 10)
      .select("url", "text").as[(String, String)].collect().toMap
    assert(got("http://hd.example/a") ==
      "le café est ouvert toute la journée ici")
    assert(got("http://hd.example/b") ==
      "body bytes survive a malformed header intact")
  }

  test("curate: unknown charset falls back to utf-8; malformed bytes become U+FFFD, never throw") {
    val body = "<p>unknown charset page still extracts this sentence</p>".getBytes("UTF-8")
    val bad = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=x-nonsense\r\n\r\n")
      .getBytes("US-ASCII") ++ body
    val mojibake = ("HTTP/1.1 200 OK\r\n\r\n<p>broken byte here " ).getBytes("UTF-8") ++
      Array(0x83.toByte, 0x65.toByte) ++ " rest of the sentence survives</p>".getBytes("UTF-8")
    val records = Seq(
      ("response", "http://nc.example/a", bad),
      ("response", "http://mb.example/b", mojibake),
    ).toDF("warc_type", "target_uri", "payload")
    val got = Crawl.curate(records, Seq.empty[String].toDF("domain"), minChars = 10)
      .select("url", "text").as[(String, String)].collect().toMap
    assert(got("http://nc.example/a") ==
      "unknown charset page still extracts this sentence")
    // 0x83 0x65: 0x83 is a bare continuation byte -> U+FFFD; 0x65 is 'e'
    assert(got("http://mb.example/b") ==
      "broken byte here �e rest of the sentence survives")
  }

  test("streaming WARC-layer ingest: files arriving across triggers == one-shot; replay idempotent") {
    import org.apache.spark.sql.functions._
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def page(body: String) =
      s"<html><body><p>$body content long enough to clear the minimum</p></body></html>"
    def rec(url: String, date: String, body: String): Array[Byte] =
      graft.sources.Warc.writeRecord("response", url, "text/html",
        ("HTTP/1.1 200 OK\r\n\r\n" + page(body)).getBytes("UTF-8"),
        extraHeaders = Seq("WARC-Date" -> date))
    // 3 warc.gz files = 3 fetch waves; page A captured in all three
    // (latest date must win), B in two, C once on a blocked domain
    val waves = Seq(
      Seq(rec("HTTPS://WWW.Site-a.COM/p?utm_x=1", "2026-01-01T00:00:00Z", "a v1"),
        rec("http://site-b.org/q", "2026-01-01T00:05:00Z", "b v1")),
      Seq(rec("https://site-a.com/p", "2026-01-02T00:00:00Z", "a v2"),
        rec("http://blocked.net/x", "2026-01-02T00:01:00Z", "c v1")),
      Seq(rec("https://Site-a.com:443/p", "2026-01-03T00:00:00Z", "a v3"),
        rec("HTTP://site-b.org:80/q#frag", "2026-01-03T00:02:00Z", "b v2")))
    val in = tmp("graft_warcstream_in")
    waves.zipWithIndex.foreach { case (recs, i) =>
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(
          java.nio.file.Paths.get(in, f"wave$i%02d.warc.gz")))
      try recs.foreach(out.write) finally out.close()
    }
    val block = Seq("blocked.net").toDF("domain")
    val target = tmp("graft_warcstream_t") + "/t"
    val ckpt = tmp("graft_warcstream_ck")

    val q = Crawl.sinkCrawlWarc(spark, in, target, ckpt, block,
      maxFilesPerTrigger = 1).start()
    try q.processAllAvailable() finally q.stop()

    val got = IncrementalStream.readUpsertTarget(spark, target).get
      .select("url", "text", "n_tokens", "domain", "warc_date")
      .as[(String, String, Long, String, String)].collect().toSet
    assert(got == Set(
      ("https://site-a.com/p", "a v3 content long enough to clear the minimum",
        9L, "site-a.com", "2026-01-03T00:00:00Z"),
      ("http://site-b.org/q", "b v2 content long enough to clear the minimum",
        9L, "site-b.org", "2026-01-03T00:02:00Z")))

    // replay of an already-committed batch id is a no-op
    Crawl.crawlWarcBatch(
      Seq(s"$in/wave00.warc.gz").toDF("path"), batchId = 0L, target, block)
    val again = IncrementalStream.readUpsertTarget(spark, target).get
      .select("url", "text").as[(String, String)].collect().toSet
    assert(again == got.map(r => (r._1, r._2)))
    // a batch with no files leaves the corpus as it was
    Crawl.crawlWarcBatch(Seq.empty[String].toDF("path"), batchId = 9L, target, block)
    assert(IncrementalStream.readUpsertTarget(spark, target).get
      .select("url", "text").as[(String, String)].collect().toSet == again)

    // one-shot reference over ALL files at once: Warc.read -> curate
    // (warc_date riding through) -> keep-latest per canonical url
    val oneShot = graft.ops.UrlOps.dedupByUrl(
      Crawl.curate(graft.sources.Warc.read(spark, in), block,
        passthrough = Seq("warc_date")),
      scoreCol = "warc_date", tieCol = "url")
      .select(col("url"), col("text"), col("warc_date"))
      .as[(String, String, String)].collect().toSet
    assert(oneShot == got.map(r => (r._1, r._2, r._5)))
  }

  test("crawlWarcBatch: oversized archive fans through readSplit, corpus identical") {
    import org.apache.spark.sql.functions._
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def page(body: String) =
      s"<html><body><p>$body content long enough to clear the minimum</p></body></html>"
    def rec(url: String, date: String, body: String): Array[Byte] =
      graft.sources.Warc.writeRecord("response", url, "text/html",
        ("HTTP/1.1 200 OK\r\n\r\n" + page(body)).getBytes("UTF-8"),
        extraHeaders = Seq("WARC-Date" -> date))
    def gz(b: Array[Byte]) = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val in = tmp("graft_warcsplit_in")
    // one member-per-record archive well past the 4 KiB threshold…
    val bigPath = java.nio.file.Paths.get(in, "big.warc.gz")
    java.nio.file.Files.write(bigPath, (1 to 40).flatMap(i =>
      gz(rec(s"http://big.example/$i", f"2026-02-$i%02dT00:00:00Z",
        s"big page $i"))).toArray)
    // …and one under it (stays on the one-task walker)
    val smallPath = java.nio.file.Paths.get(in, "small.warc.gz")
    java.nio.file.Files.write(smallPath,
      gz(rec("http://small.example/1", "2026-02-01T00:00:00Z", "small page")))
    val block = Seq("blocked.net").toDF("domain")
    val split = 4096L
    assert(java.nio.file.Files.size(bigPath) > split)
    assert(java.nio.file.Files.size(smallPath) <= split)
    // the routed reader genuinely fans the big archive out
    assert(graft.sources.Warc.memberSplits(spark, bigPath.toString,
      targetSplitBytes = split).count() > 1)

    def corpus(target: String) = IncrementalStream.readUpsertTarget(spark, target).get
      .select("url", "domain", "text", "n_tokens", "warc_date")
      .as[(String, String, String, Long, String)].collect().toSet
    // routed via the stream's length column
    val tA = tmp("graft_warcsplit_a") + "/t"
    Crawl.crawlWarcBatch(
      Seq((bigPath.toString, java.nio.file.Files.size(bigPath)),
        (smallPath.toString, java.nio.file.Files.size(smallPath)))
        .toDF("path", "length"),
      0L, tA, block, targetSplitBytes = split)
    // routed via the driver-side status probe (path-only frame)
    val tB = tmp("graft_warcsplit_b") + "/t"
    Crawl.crawlWarcBatch(
      Seq(bigPath.toString, smallPath.toString).toDF("path"),
      0L, tB, block, targetSplitBytes = split)
    // routing disabled: the single-walker reference
    val tC = tmp("graft_warcsplit_c") + "/t"
    Crawl.crawlWarcBatch(
      Seq(bigPath.toString, smallPath.toString).toDF("path"),
      0L, tC, block, targetSplitBytes = 0L)
    val ref = corpus(tC)
    assert(ref.size == 41)
    assert(corpus(tA) == ref)
    assert(corpus(tB) == ref)
  }

  test("curate: robots + noindex + percent gates compose in one call") {
    def http(html: String) =
      ("HTTP/1.1 200 OK\r\n\r\n" + html).getBytes("UTF-8")
    val body = "<p>a sentence long enough to clear the block minimum</p>"
    val records = Seq(
      // %61 -> a: survives, url canonicalizes to /page/1
      ("response", "https://ok.example/p%61ge/1", http(body)),
      // robots disallows /private/ on this host
      ("response", "https://ok.example/private/2", http(body)),
      // page-level meta noindex
      ("response", "https://ok.example/page/3",
        http("<meta name=\"robots\" content=\"noindex\">" + body)),
      // header-level opt-out
      ("response", "https://ok.example/page/4",
        ("HTTP/1.1 200 OK\r\nX-Robots-Tag: noindex\r\n\r\n" + body).getBytes("UTF-8")),
      // blocked domain
      ("response", "https://bad.example/page/5", http(body)),
    ).toDF("warc_type", "target_uri", "payload")
    val robots = Seq(("ok.example", "User-agent: *\nDisallow: /private/\n"))
      .toDF("host", "robots_txt")
    val got = Crawl.curate(records, Seq("bad.example").toDF("domain"),
        robots = Some(robots), dropNoindex = true)
      .select("url").as[String].collect().toSet
    assert(got == Set("https://ok.example/page/1"))
    // gates off: only the domain blocklist applies
    val loose = Crawl.curate(records, Seq("bad.example").toDF("domain"))
      .select("url").as[String].collect().toSet
    assert(loose.size == 4 && loose.contains("https://ok.example/private/2"))
  }

  test("curate: all-boilerplate page survives with empty text and zero tokens") {
    val records = Seq(
      ("response", "http://empty.org/",
        ("HTTP/1.1 200 OK\r\n\r\n<div><a href=\"/x\">only links here</a></div>")
          .getBytes("UTF-8")),
    ).toDF("warc_type", "target_uri", "payload")
    val got = Crawl.curate(records, Seq.empty[String].toDF("domain")).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("text") == "")
    assert(got.head.getAs[Long]("n_tokens") == 0L)
    assert(got.head.getAs[Long]("n_blocks_kept") == 0L)
  }

  test("frontier: unseen links counted, fetched variants anti-joined, nofollow excluded, ranks join") {
    val edges = Seq(
      // two raw variants of ONE unseen page: counts merge under
      // canonicalization (case host + tracking param)
      ("https://new.site-x.com/a?utm_source=f", "x", false),
      ("https://NEW.site-x.com/a", "x", false),
      // a fetched page seen through a tracking variant must NOT
      // re-enter the queue
      ("https://site-a.com/p?utm_x=1", "seen", false),
      // nofollow: no endorsement, no discovery (by default)
      ("https://no.example/f", "n", true),
      ("https://other.org/b", "o", false),
    ).toDF("href", "anchor_text", "nofollow")
    val fetched = Seq("HTTPS://WWW.site-a.com/p").toDF("url")
    val got = Crawl.frontier(edges, fetched).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("https://new.site-x.com/a", "site-x.com", 2L),
      ("https://other.org/b", "other.org", 1L)))
    // followNofollow flips discovery of the nofollow target
    val withNf = Crawl.frontier(edges, fetched, followNofollow = true)
      .collect().map(_.getString(0)).toSet
    assert(withNf.contains("https://no.example/f"))
    // a domain-rank join orders the fetch queue; unranked domains
    // coalesce to 0
    val ranks = Seq(("other.org", 0.9), ("site-x.com", 0.2)).toDF("n", "rank")
    val ranked = Crawl.frontier(edges, fetched, ranks = Some(ranks))
      .orderBy(org.apache.spark.sql.functions.desc("rank")).collect()
    assert(ranked.head.getString(0) == "https://other.org/b" &&
      ranked.head.getDouble(3) == 0.9)
    assert(ranked.map(_.getDouble(3)).min == 0.2)
  }

  test("frontier(ranks = seeded pageRank): trust flows to reachable domains, zero elsewhere") {
    import org.apache.spark.sql.functions._
    // seeded component t1 <-> t2 -> mid -> t1 (all reachable from the
    // seed) plus an isolated 2-cycle iso1 <-> iso2 the seed can't
    // reach: in drop mode unreachable nodes hold rank EXACTLY 0 — the
    // TrustRank property a crawl frontier keys on
    val domEdges = Seq(
      ("t1.com", "t2.com"), ("t2.com", "t1.com"),
      ("t2.com", "mid.com"), ("mid.com", "t1.com"),
      ("iso1.com", "iso2.com"), ("iso2.com", "iso1.com")).toDF("src", "dst")
    val pr = graft.ops.LinkGraph.pageRank(domEdges, iters = 6,
      seeds = Some(Seq("t1.com").toDF("n")))
    val prMap = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // one unfetched candidate per domain, plus one on an off-graph host
    val edges = Seq(
      "https://t1.com/new", "https://t2.com/new", "https://mid.com/new",
      "https://iso1.com/new", "https://offgraph.org/new")
      .toDF("href")
    val got = Crawl.frontier(edges, Seq.empty[String].toDF("url"),
        ranks = Some(pr))
      .select("url", "domain", "n_inlinks", "rank")
      .collect().map(r => (r.getString(1), r.getDouble(3))).toMap
    // seed-reachable domains carry their exact pageRank; unreachable
    // and off-graph domains are 0 (drop mode / coalesce respectively)
    assert(got("t1.com") == prMap("t1.com") && got("t1.com") > 0.0)
    assert(got("t2.com") == prMap("t2.com") && got("t2.com") > 0.0)
    assert(got("mid.com") == prMap("mid.com") && got("mid.com") > 0.0)
    assert(got("iso1.com") == 0.0)
    assert(got("offgraph.org") == 0.0)
    // the queue a fetcher drains: rank desc puts trusted-reachable
    // pages ahead of unranked ones
    val order = Crawl.frontier(edges, Seq.empty[String].toDF("url"),
        ranks = Some(pr))
      .orderBy(desc("rank"), asc("url")).select("domain")
      .collect().map(_.getString(0)).toSeq
    assert(order.takeRight(2).toSet == Set("iso1.com", "offgraph.org"))
    assert(order.take(3).toSet == Set("t1.com", "t2.com", "mid.com"))
  }

  test("fetchSchedule: per-host waves by priority, slots bounded, single-url hosts at wave 0") {
    val front = Seq(
      ("https://big.example/p1", 5L), ("https://big.example/p2", 4L),
      ("https://big.example/p3", 3L), ("https://big.example/p4", 3L),
      ("https://big.example/p5", 1L),
      ("https://solo.org/x", 9L),
    ).toDF("url", "n_inlinks")
    val got = Crawl.fetchSchedule(front, perHostPerWave = 2).collect()
      .map(r => r.getAs[String]("url") ->
        ((r.getAs[String]("host"), r.getAs[Long]("wave"), r.getAs[Long]("slot")))).toMap
    // priority desc, url asc within host; waves of 2
    assert(got("https://big.example/p1") == (("big.example", 0L, 0L)))
    assert(got("https://big.example/p2") == (("big.example", 0L, 1L)))
    assert(got("https://big.example/p3") == (("big.example", 1L, 0L)))
    assert(got("https://big.example/p4") == (("big.example", 1L, 1L)))
    assert(got("https://big.example/p5") == (("big.example", 2L, 0L)))
    assert(got("https://solo.org/x") == (("solo.org", 0L, 0L)))
    // no host exceeds the cap in any wave
    val byHostWave = got.values.groupBy(v => (v._1, v._2)).map(_._2.size)
    assert(byHostWave.forall(_ <= 2))
  }

  test("snapshotDiff: added / gone / changed / unchanged from fingerprints") {
    val prev = Seq(("u1", "fa"), ("u2", "fb"), ("u3", "fc"))
      .toDF("url", "fingerprint")
    val curr = Seq(("u1", "fa"), ("u2", "fb2"), ("u4", "fd"))
      .toDF("url", "fingerprint")
    val got = Crawl.snapshotDiff(prev, curr).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(got.size == 4)
    assert(got("u1") == (("unchanged", "fa", "fa")))
    assert(got("u2") == (("changed", "fb", "fb2")))
    assert(got("u3") == (("gone", "fc", null)))
    assert(got("u4") == (("added", null, "fd")))
  }

  test("recrawlRate: CGM estimator, caps, null-safe change detection, one exchange") {
    val fetches = Seq(
      // u1: never changes -> rate 0, next capped at max
      ("u1", 0, "a"), ("u1", 1, "a"), ("u1", 2, "a"),
      // u2: changes every wave (X = m = 2)
      ("u2", 0, "a"), ("u2", 1, "b"), ("u2", 2, "c"),
      // u3: one change in two comparisons; null fp is a VALUE
      ("u3", 0, null.asInstanceOf[String]), ("u3", 1, null.asInstanceOf[String]),
      ("u3", 2, "x"),
      // u4: single fetch -> m = 0, rate 0
      ("u4", 0, "z"),
    ).toDF("url", "wave", "fingerprint")
    val got = Crawl.recrawlRate(fetches, interval = 7.0, maxInterval = 100.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    def rate(m: Int, x: Int) =
      BigDecimal(math.log((m + 0.5) / (m - x + 0.5)) / 7.0)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def next(m: Int, x: Int) =
      BigDecimal(7.0 / math.log((m + 0.5) / (m - x + 0.5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("u1") == ((3L, 0L, 0.0, 100.0)))
    assert(got("u2") == ((3L, 2L, rate(2, 2), next(2, 2))))
    assert(got("u3") == ((3L, 1L, rate(2, 1), next(2, 1))))
    assert(got("u4") == ((1L, 0L, 0.0, 100.0)))
    // a frequently-changing page is revisited sooner
    assert(got("u2")._4 < got("u3")._4 && got("u3")._4 < got("u1")._4)
    // window + agg share the url partitioning: one exchange total
    val plan = Crawl.recrawlRate(fetches, 7.0, 100.0)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }
}
