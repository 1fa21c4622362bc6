package graft

import org.apache.spark.sql.functions._

import graft.mm.Multimodal
import graft.text.TextAnalysis

class TextMmSpec extends SparkSpec {
  import spark.implicits._

  test("langId picks the marker-dominant language deterministically") {
    val df = Seq(
      (1L, "x the y and z the w"),
      (2L, "x der y und z der w"),
      (3L, "no markers here at all"),
    ).toDF("doc_id", "text")
    val m = TextAnalysis.langId(df).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "en" && m(2L) == "de" && m(3L) == "en") // tie → priority order
  }

  test("tokenCounts: ws vs bpe-ish counts") {
    val r = TextAnalysis.tokenCounts(Seq((1L, "Hello, world 42!")).toDF("doc_id", "text"))
      .select("ws_tokens", "bpe_tokens").as[(Int, Int)].head()
    assert(r == ((3, 6))) // Hello , world 4 2 !
  }

  test("fingerprint is whitespace/case canonical") {
    val df = Seq((1L, "A  B\tC"), (2L, "a b c"), (3L, "a b d")).toDF("doc_id", "text")
    val m = TextAnalysis.fingerprint(df).select("doc_id", "fp_md5")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == m(2L) && m(1L) != m(3L))
  }

  test("repetitionSignals: duplicate word/3-gram fractions, hand-computed") {
    val docs = Seq(
      (1L, "a b c d e f"),      // all distinct: dup fracs 0
      (2L, "a a a a a a"),      // 6 words 1 distinct; 4 grams 1 distinct
      (3L, "a b a b a b"),      // 6 words 2 distinct; grams: "a b a","b a b","a b a","b a b" -> 2/4
      (4L, "x"),                // single word: 1 gram ("x"), no dups
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.repetitionSignals(docs)
      .select("doc_id", "n_words", "dup_word_frac", "n_grams", "dup_3gram_frac")
      .as[(Long, Int, Double, Int, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 6, 0.0, 4, 0.0),
      (2L, 6, round6(1 - 1.0 / 6), 4, 0.75),
      (3L, 6, round6(1 - 2.0 / 6), 4, 0.5),
      (4L, 1, 0.0, 1, 0.0)))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("charEntropy: hand-computed bits/char, degenerate and empty docs") {
    val docs = Seq(
      (1L, "aabb"),   // p=.5/.5 -> 1 bit
      (2L, "aaaa"),   // single symbol -> 0 bits
      (3L, "abcd"),   // uniform over 4 -> 2 bits
      (4L, ""),       // empty -> 0 by convention
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.charEntropy(docs)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 2L, 1.0),
      (2L, 4L, 1L, 0.0),
      (3L, 4L, 4L, 2.0),
      (4L, 0L, 0L, 0.0)))
    // non-dyadic distribution: "aab" -> -(2/3·log2(2/3) + 1/3·log2(1/3)),
    // with each term rounded to 9dp before the exact sum
    val t1 = BigDecimal((2.0 / 3) * (math.log(2.0 / 3) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val t2 = BigDecimal((1.0 / 3) * (math.log(1.0 / 3) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val want = (-(t1 + t2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val aab = graft.text.TextAnalysis.charEntropy(
        Seq((9L, "aab")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double)].head()
    assert(aab == ((9L, 3L, 2L, want)))
  }

  test("gopherRules: each gate trips on its own signal, hand-computed") {
    val docs = Seq(
      // 6 words, all gates clean except word count (minWords = 5 passes)
      (1L, "the cat sat with the dog."),
      // symbol spam: hashes blow the symbol ratio
      (2L, "the cat ### sat with ## dogs."),
      // ellipsis-ended lines beyond 30%
      (3L, "the cat sat...\nwith the dog...\nplain line here"),
      // bullet-started lines beyond 90%
      (4L, "- the cat\n- the dog\n- with them"),
      // numeric spam: alpha-word fraction under 80%
      (5L, "the 1 2 3 4 5 6 7 with 9"),
      // no required stopwords
      (6L, "cats sit near dogs quite often today"),
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.gopherRules(docs, minWords = 5)
      .select("doc_id", "n_words", "symbol_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac", "n_stopwords_present", "pass")
      .as[(Long, Long, Double, Double, Double, Double, Long, Boolean)]
      .collect().toSeq
    assert(got.map(r => r._1 -> r._8).toMap ==
      Map(1L -> true, 2L -> false, 3L -> false, 4L -> false,
        5L -> false, 6L -> false))
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(2L)._3 == round6(5.0 / 7))         // 5 hashes / 7 words
    assert(byId(3L)._5 == round6(2.0 / 3))         // 2 of 3 lines ellipsis-ended
    assert(byId(4L)._4 == 1.0)                     // all lines bulleted
    assert(byId(5L)._6 == 0.2)                     // 2 alpha words of 10
    assert(byId(6L)._7 == 0L && byId(1L)._7 >= 2L) // stopword presence
  }

  test("charEntropy matches an independent JVM reference on 100 pseudo-random docs") {
    // deterministic LCG strings over a small alphabet (forces repeats)
    val alpha = "abcde xyz.,!"
    var seed = 42L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val docs = (1L to 100L).map { i =>
      val len = 1 + nextInt(60)
      (i, (0 until len).map(_ => alpha(nextInt(alpha.length))).mkString)
    }
    def ref(s: String): Double = {
      val n = s.length.toDouble
      val terms = s.groupBy(identity).values.map { g =>
        val p = g.length / n
        BigDecimal(p * math.log(p) / math.log(2.0))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }
      (-terms.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = graft.text.TextAnalysis.charEntropy(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    docs.foreach { case (id, s) =>
      val (nChars, nUnique, e) = got(id)
      assert(nChars == s.length.toLong && nUnique == s.distinct.length.toLong)
      assert(e == ref(s), s"doc $id '$s': got $e want ${ref(s)}")
    }
  }

  test("gopherRules matches an independent JVM reference on 60 pseudo-random docs") {
    val words = Vector("the", "cat", "runs", "with", "dogs", "##", "a1",
      "...", "12", "lorem", "-", "*")
    var seed = 7L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val docs = (1L to 60L).map { i =>
      val nLines = 1 + nextInt(4)
      val t = (0 until nLines).map { _ =>
        (0 until (1 + nextInt(9))).map(_ => words(nextInt(words.length)))
          .mkString(" ")
      }.mkString("\n")
      (i, t)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def ref(t: String): (Long, Double, Double, Double, Double, Double, Long) = {
      val w = t.split(" ", -1)
      val l = t.split("\n", -1)
      val nHash = t.count(_ == '#')
      val nEll = (t.length - t.replace("...", "").length) / 3
      val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .count(w.contains)
      (w.length.toLong,
        r6(w.map(_.length).sum.toDouble / w.length),
        r6((nHash + nEll).toDouble / w.length),
        r6(l.count(x => x.startsWith("- ") || x.startsWith("* ") ||
          x.startsWith("• ")).toDouble / l.length),
        r6(l.count(_.endsWith("...")).toDouble / l.length),
        r6(w.count(_.exists(_.isLetter)).toDouble / w.length),
        stop.toLong)
    }
    val got = graft.text.TextAnalysis.gopherRules(docs.toDF("doc_id", "text"),
        minWords = 3)
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "n_stopwords_present")
      .as[(Long, Long, Double, Double, Double, Double, Double, Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6, r._7, r._8))
      .toMap
    docs.foreach { case (id, t) =>
      assert(got(id) == ref(t), s"doc $id: '$t'")
    }
  }

  test("vocabTopK: exact counts, (cnt desc, token asc) ties, cumulative coverage") {
    val docs = Seq((1L, "a a a b b c"), (2L, "y y x x")).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.vocabTopK(docs, 3)
      .as[(Long, String, Long, Double)].collect().toSeq
    // a=3, b=2, x=2, y=2, c=1 over 10 tokens; b<x<y breaks the 2-way tie
    assert(got == Seq(
      (1L, "a", 3L, 0.3),
      (2L, "b", 2L, 0.5),
      (3L, "x", 2L, 0.7)))
    // v larger than the vocab returns the whole vocabulary, coverage 1
    val all = graft.text.TextAnalysis.vocabTopK(docs, 100)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(all.size == 5 && all.last._4 == 1.0)
  }

  test("dedupLinesWithinDoc: first occurrence kept in order, uniques untouched") {
    val docs = Seq(
      (1L, "nav menu\nreal content\nnav menu\nmore text\nnav menu"),
      (2L, "a\nb\nc"),          // no repeats: identity
      (3L, "x\nx\nx\nx"),       // all same: one survivor
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.dedupLinesWithinDoc(docs)
      .select("doc_id", "n_lines", "n_lines_kept", "text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 3L, "nav menu\nreal content\nmore text"),
      (2L, 3L, 3L, "a\nb\nc"),
      (3L, 4L, 1L, "x")))
  }

  test("chunkDocs: stride windows, overlap carry, short-doc identity, tail never empty") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b c"),                          // <= maxTokens -> itself
      (3L, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"), // 11 -> ragged tail
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(docs, 4, 2)
      .select("doc_id", "chunk_id", "chunk").as[(Long, Int, String)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // stride 2: starts 0,2,4,6 cover 10 tokens exactly
    assert(got(1L) == Seq("t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6 t7", "t6 t7 t8 t9"))
    assert(got(2L) == Seq("a b c"))
    // 11 tokens: last chunk is the 3-token tail, never empty
    assert(got(3L).last == "x8 x9 x10" && got(3L).size == 5)
    // overlap 0: chunks partition the doc exactly
    val noOv = TextAnalysis.chunkDocs(docs.filter($"doc_id" === 1L), 4, 0)
      .orderBy("chunk_id").select("chunk").as[String].collect()
    assert(noOv.mkString(" ") == "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")
  }

  test("multimodal: payload round-trips, stub features deterministic, batch shape per partition") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val media = Multimodal.mediaTable(docs)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == docs.count())
    val one = feats.filter(col("doc_id") === 0).head()
    assert(one.feature_hash.length == 32)
    val frames = Multimodal.frameSampleOffsets(media)
    assert(frames.select(max(col("n_frames"))).as[Int].head() <= 30)
  }

  // handmade animated GIF: one solid-gray frame per entry, with an
  // EXPLICIT indexed palette per frame so the writer quantizes nothing
  // — gray g decodes to mean luma exactly g (299+587+114 = 1000)
  private def animatedGif(grays: Seq[Int], w: Int, h: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    grays.foreach { g =>
      val cm = new java.awt.image.IndexColorModel(8, 2,
        Array(g.toByte, 0.toByte), Array(g.toByte, 0.toByte), Array(g.toByte, 0.toByte))
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    baos.toByteArray
  }

  test("real GIF frame decode: per-frame pixels from a handmade 3-frame animation") {
    val gif = animatedGif(Seq(255, 0, 128), 8, 6)
    // every frame decoded
    val Some((n, all)) = Multimodal.decodeFrames(gif, 1)
    assert(n == 3)
    assert(all.map(_._1) == Seq(0, 1, 2))
    assert(all.map(_._2.feature) ==
      Seq("luma:255.000000", "luma:0.000000", "luma:128.000000"))
    assert(all.forall { case (_, f) => f.width == 8 && f.height == 6 })
    // step = 2: frames 1 is SKIPPED (never read), count still 3
    val Some((n2, sampled)) = Multimodal.decodeFrames(gif, 2)
    assert(n2 == 3 && sampled.map(_._1) == Seq(0, 2))
    assert(sampled.map(_._2.feature) == Seq("luma:255.000000", "luma:128.000000"))
    // non-media bytes: None
    assert(Multimodal.decodeFrames("not a gif".getBytes("UTF-8"), 1).isEmpty)
  }

  test("frameSampleDecoded: sampled frame rows per payload, stills n=1, undecodable dropped") {
    val gif = animatedGif(Seq(10, 20, 30, 40, 50), 4, 3)
    val png = {
      val img = new java.awt.image.BufferedImage(2, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 2; y <- 0 until 2) img.setRGB(x, y, 0xffffff)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "video", gif, 4, 3, 5000),
      Multimodal.MediaRow(2L, "image", png, 2, 2, 0),
      Multimodal.MediaRow(3L, "video", "opaque".getBytes("UTF-8"), 0, 0, 1000),
    ).toDS()
    val got = Multimodal.frameSampleDecoded(media, step = 2)
      .collect().sortBy(r => (r.doc_id, r.frame_idx))
    assert(got.map(r => (r.doc_id, r.frame_idx, r.n_frames)).toSeq ==
      Seq((1L, 0L, 5L), (1L, 2L, 5L), (1L, 4L, 5L), (2L, 0L, 1L)))
    assert(got.filter(_.doc_id == 1L).map(_.feature).toSeq ==
      Seq("luma:10.000000", "luma:30.000000", "luma:50.000000"))
    assert(got.last.feature == "luma:255.000000")
  }

  test("real image decode: handmade PNG yields decoder dimensions + exact mean luma; undecodable falls back to md5") {
    // handmade 3x2 PNG via the same JDK codec family (write side):
    // two known colors — white (luma 255) on row 0, pure red
    // (luma .299*255 = 76.245) on row 1
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 3) {
      img.setRGB(x, 0, 0xffffff)
      img.setRGB(x, 1, 0xff0000)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray

    // metadata dims deliberately WRONG (9x9): decoded output must carry
    // the decoder's 3x2, proving dimensions come from pixels
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png, 9, 9, 0),
      Multimodal.MediaRow(2L, "image", "not an image".getBytes("UTF-8"), 7, 5, 0),
      Multimodal.MediaRow(3L, "audio", png, 4, 4, 1000), // non-image: never decoded
    ).toDS()
    val got = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap

    // mean luma = (3*255000 + 3*(299*255)) / (1000 * 6) = 165.6225
    assert(got(1L).width == 3 && got(1L).height == 2)
    assert(got(1L).feature_hash == "luma:165.622500")
    // undecodable payload: metadata dims + 32-hex md5 fallback
    assert(got(2L).width == 7 && got(2L).height == 5)
    assert(got(2L).feature_hash.matches("[0-9a-f]{32}"))
    // audio rows never enter the image decoder even if bytes are a PNG
    assert(got(3L).width == 4 && got(3L).height == 4)
    assert(got(3L).feature_hash.matches("[0-9a-f]{32}"))
  }

  test("real audio decode: handmade 16-bit PCM WAV yields format facts + exact RMS; video never decoded") {
    // 16-bit mono 8000 Hz WAV via the JDK codec (write side): a square
    // wave at amplitude 16384 = exactly 0.5 of full scale
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val samples = Array[Short](16384, -16384, 16384, -16384)
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array()), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray

    val media = Seq(
      // metadata duration deliberately wrong (999 ms vs the true 0.5 ms):
      // the decoded feature must come from the samples, not the metadata
      Multimodal.MediaRow(1L, "audio", wav, 3, 3, 999),
      Multimodal.MediaRow(2L, "audio", "not audio".getBytes("UTF-8"), 1, 1, 0),
      Multimodal.MediaRow(3L, "video", wav, 2, 2, 5000), // video: never decoded
    ).toDS()
    val got = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(got(1L).feature_hash == "pcm:8000hz:1ch:16bit:rms:0.500000")
    assert(got(2L).feature_hash.matches("[0-9a-f]{32}"))
    assert(got(3L).feature_hash.matches("[0-9a-f]{32}"))

    val d = Multimodal.decodeAudio(wav).get
    assert(d.sampleRate == 8000 && d.channels == 1 &&
      d.bitsPerSample == 16 && d.nFrames == 4L)
  }

  test("audioFrameEnergy: hand-computed RMS per frame, ragged tail, non-audio filtered") {
    import graft.mm.Multimodal
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", "aaaa".getBytes("UTF-8"), 0, 0, 1000),
      // 5 chars at frame size 4: frames "abab" + ragged "c"
      Multimodal.MediaRow(2L, "audio", "ababc".getBytes("UTF-8"), 0, 0, 1000),
      Multimodal.MediaRow(3L, "image", "zzzz".getBytes("UTF-8"), 8, 8, 0),
    ).toDS()
    val got = Multimodal.audioFrameEnergy(media, frameSamples = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq
    def rms(cs: Int*): Double =
      BigDecimal(math.sqrt(cs.map(c => c.toLong * c).sum.toDouble / cs.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 0L, 4L, rms(97, 97, 97, 97)),      // constant signal: rms = 97
      (2L, 0L, 4L, rms(97, 98, 97, 98)),
      (2L, 1L, 1L, rms(99))))                  // ragged tail frame
  }

  test("redactPii replaces emails, phones, SSNs, IPs with typed placeholders") {
    val df = Seq(
      (1L, "mail a.b+c@sub.example.org then +1-555-0042 ssn 123-45-6789 host 10.0.3.1 end"),
      (2L, "no pii here"),
      (3L, "version 1.2.3.4 is an ip-shaped string"), // documented false positive
    ).toDF("doc_id", "text")
    val m = TextAnalysis.redactPii(df).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(m(1L) == "mail <EMAIL> then <PHONE> ssn <SSN> host <IP> end")
    assert(m(2L) == "no pii here")
    assert(m(3L) == "version <IP> is an ip-shaped string")
  }

  test("decontaminate flags docs sharing an n-gram with the eval set, with counts") {
    val eval = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x alpha beta gamma y"),          // shares "alpha beta gamma"
      (11L, "one two three four five"),       // full leak: 3 distinct 3-grams
      (12L, "clean text nothing shared"),
      (13L, "alpha beta gamma alpha beta gamma"), // dup grams count ONCE
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(corpus, eval, 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L), (11L, 3L), (13L, 1L)))
  }

  test("unigramLogProb: hand-computed corpus-unigram scores, partition-invariant") {
    // corpus: "a a b" + "a c" → freq a=3, b=1, c=1, total=5
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    def lp(p: Double) = BigDecimal(math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val exp1 = ((lp(0.6) * 2 + lp(0.2)) / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val exp2 = ((lp(0.6) + lp(0.2)) / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val got = TextAnalysis.unigramLogProb(docs)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 3L), (2L, 2L)))
    assert(math.abs(got(0)._3 - exp1.toDouble) < 2e-6)
    assert(math.abs(got(1)._3 - exp2.toDouble) < 2e-6)
    // deterministic under repartitioning (decimal sum, no double-order drift)
    val again = TextAnalysis.unigramLogProb(docs.repartition(7))
      .as[(Long, Long, Double)].collect().toSeq
    assert(again == got)
  }

  test("compressionRatio: repetition compresses, noise doesn't, deterministic on any partitioning") {
    val rnd = new scala.util.Random(3)
    val noise = (0 until 400).map(_ => (33 + rnd.nextInt(90)).toChar).mkString
    val docs = Seq(
      (1L, "spam " * 80),                 // pure repetition -> tiny ratio
      (2L, noise),                        // near-incompressible
      (3L, ""),                           // empty: ratio 1.0 by contract
      (4L, "the quick brown fox jumps over the lazy dog while the slow red " +
        "hen watches from the fence and considers whether the grass beyond " +
        "the gate is worth the walk on such a warm afternoon in late summer " +
        "when the shade under the oak is deep and the water trough is full " +
        "and nothing in particular needs doing before the evening comes"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L)._3 < 0.1, s"repetition must compress hard: ${got(1L)}")
    assert(got(2L)._3 > 0.8, s"noise must not compress: ${got(2L)}")
    assert(got(3L) == ((0L, got(3L)._2, 1.0)))
    assert(got(4L)._3 > got(1L)._3 && got(4L)._3 < got(2L)._3,
      "prose sits between repetition and noise")
    assert(got(1L)._1 == 400L) // raw utf-8 byte count
    // bit-identical on any partitioning (one Deflater per partition,
    // reset between rows — no cross-row state leaks)
    val again = TextAnalysis.compressionRatio(docs.repartition(3)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(again == got)
  }

  test("perplexityBuckets: thirds by threshold, ties to the better bucket, no global sort") {
    // 6 docs engineered so the unigram scores form 3 clear tiers: docs
    // made of the corpus-frequent word score high (head), mixed docs
    // middle, rare-word docs low (tail)
    val docs = Seq(
      (1L, "x x x x"), (2L, "x x x x"),          // all-frequent -> head
      (3L, "x x q1 x"), (4L, "x x q2 x"),        // one rare word -> middle
      (5L, "q3 q4 q5 q6"), (6L, "q7 q8 q9 q0"),  // all-rare -> tail
    ).toDF("doc_id", "text")
    val got = TextAnalysis.perplexityBuckets(docs)
      .select("bucket", "n_docs").as[(String, Long)].collect().toSeq
    assert(got == Seq(("head", 2L), ("middle", 2L), ("tail", 2L)))
    // identical scores all land in ONE bucket (threshold semantics,
    // not row-count splitting): a uniform corpus is all head
    val same = Seq((1L, "w w"), (2L, "w w"), (3L, "w w")).toDF("doc_id", "text")
    val uniform = TextAnalysis.perplexityBuckets(same)
      .select("bucket", "n_docs").as[(String, Long)].collect().toSeq
    assert(uniform == Seq(("head", 3L)))
    // the bounded-memory scale path: approx_percentile is nearest-RANK
    // (no interpolation), so assert rank-tolerant thirds over a corpus
    // of 30 strictly graded scores rather than exact tier counts
    val graded = (1 to 30).map(i =>
      (i.toLong, ("x " * i).trim + s" rare$i")).toDF("doc_id", "text")
    val approx = TextAnalysis.perplexityBuckets(graded, exactCuts = false)
      .select("bucket", "n_docs").as[(String, Long)].collect().toMap
    assert(approx.values.sum == 30L)
    assert(approx.keySet == Set("head", "middle", "tail"))
    assert(approx.values.forall(n => n >= 8 && n <= 12))
  }

  test("bigramLogProb: hand-computed interpolated model, short docs absent, partition-invariant") {
    // corpus bigrams: doc1 "a b a" → (a,b),(b,a); doc2 "a b" → (a,b);
    // doc3 "x" → none (absent from output)
    // big: (a,b)=2, (b,a)=1; ctx: a·=2, b·=1; nxt: ·b=2, ·a=1; T=3
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    def lp(p: Double) = BigDecimal(math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val pAB = 0.75 * (2.0 / 2) + 0.25 * (2.0 / 3) // p(b|a)
    val pBA = 0.75 * (1.0 / 1) + 0.25 * (1.0 / 3) // p(a|b)
    val exp1 = ((lp(pAB) + lp(pBA)) / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val exp2 = lp(pAB).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val got = TextAnalysis.bigramLogProb(docs)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 2L), (2L, 1L)))
    assert(math.abs(got(0)._3 - exp1.toDouble) < 2e-6)
    assert(math.abs(got(1)._3 - exp2.toDouble) < 2e-6)
    val again = TextAnalysis.bigramLogProb(docs.repartition(7))
      .as[(Long, Long, Double)].collect().toSeq
    assert(again == got)
  }

  test("kneserNeyLogProb: hand-computed KN model, continuation counts, partition-invariant") {
    // corpus bigrams: doc1 "a b a" -> (a,b),(b,a); doc2 "a b" -> (a,b);
    // doc3 "x" -> none (absent)
    // big: (a,b)=2, (b,a)=1; C(a.)=2, C(b.)=1
    // type counts: N1+(a.)=1 (only b follows a), N1+(b.)=1;
    // N1+(.b)=1 (b follows only a), N1+(.a)=1; N1+(..)=2
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    def lp(p: Double) = BigDecimal(math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val d = 0.75
    val pAB = (2.0 - d) / 2 + d * (1.0 / 2) * (1.0 / 2) // p(b|a)
    val pBA = (1.0 - d) / 1 + d * (1.0 / 1) * (1.0 / 2) // p(a|b)
    val exp1 = ((lp(pAB) + lp(pBA)) / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val exp2 = lp(pAB).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val got = TextAnalysis.kneserNeyLogProb(docs)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 2L), (2L, 1L)))
    assert(math.abs(got(0)._3 - exp1.toDouble) < 2e-6)
    assert(math.abs(got(1)._3 - exp2.toDouble) < 2e-6)
    // the continuation signal: a word frequent ONLY after one context
    // ("francisco") scores below an equally-frequent word with many
    // contexts when both are scored in a fresh context
    val kn = Seq(
      (1L, "san francisco"), (2L, "san francisco"), (3L, "san francisco"),
      (4L, "red door"), (5L, "blue door"), (6L, "old door"),
      (7L, "new francisco"), (8L, "new door")).toDF("doc_id", "text")
    val scores = TextAnalysis.kneserNeyLogProb(kn)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scores(8L) > scores(7L)) // "new door" beats "new francisco"
    val again = TextAnalysis.kneserNeyLogProb(docs.repartition(7))
      .as[(Long, Long, Double)].collect().toSeq
    assert(again == got)
  }

  test("kneserNeyTrigramLogProb: hand-computed recursive backoff, short docs absent, partition-invariant") {
    // doc1 "a b c a b d" -> trigrams (a,b,c),(b,c,a),(c,a,b),(a,b,d);
    // doc2 "a b c" -> (a,b,c); doc3 "x y" -> none (absent)
    // tri types: (a,b,c):2 (b,c,a):1 (c,a,b):1 (a,b,d):1
    // ctx: C(ab.)=3 N1+(ab.)=2; C(bc.)=1 N1+=1; C(ca.)=1 N1+=1
    // bt (continuation): (b,c):1 (c,a):1 (a,b):1 (b,d):1
    // mid: b: N1+(.b.)=2 N1+(b.)=2; c: 1,1; a: 1,1
    // uni: N1+(.c)=N1+(.a)=N1+(.b)=N1+(.d)=1; N1+(..)=4
    val docs = Seq((1L, "a b c a b d"), (2L, "a b c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val d = 0.75
    def lp9(p: Double) = BigDecimal(math.log(p))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val p2cb = (1 - d) / 2 + d * (2.0 / 2) * (1.0 / 4)  // p2(c|b) = p2(d|b)
    val p2one = (1 - d) / 1 + d * (1.0 / 1) * (1.0 / 4) // p2 over 1-type contexts
    val pABC = (2 - d) / 3 + d * (2.0 / 3) * p2cb
    val pBCA = (1 - d) / 1 + d * (1.0 / 1) * p2one
    val pCAB = pBCA
    val pABD = (1 - d) / 3 + d * (2.0 / 3) * p2cb
    val exp1 = ((lp9(pABC) + lp9(pBCA) + lp9(pCAB) + lp9(pABD)) / 4)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val exp2 = lp9(pABC).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val got = TextAnalysis.kneserNeyTrigramLogProb(docs)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 4L), (2L, 1L)))
    assert(math.abs(got(0)._3 - exp1.toDouble) < 2e-6)
    assert(math.abs(got(1)._3 - exp2.toDouble) < 2e-6)
    val again = TextAnalysis.kneserNeyTrigramLogProb(docs.repartition(7))
      .as[(Long, Long, Double)].collect().toSeq
    assert(again == got)
  }

  test("LinkGraph.stats: hand graph counts, reciprocity, dangling, self-loops") {
    import graft.ops.LinkGraph
    // a<->b reciprocal pair, b->c, c->c self-loop, c->d (d dangling),
    // plus a duplicate a->b that must collapse
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"),
      ("c", "c"), ("c", "d")).toDF("src", "dst")
    val r = LinkGraph.stats(edges).collect().head
    assert(r.getLong(0) == 4L) // nodes a b c d
    assert(r.getLong(1) == 5L) // distinct edges
    assert(r.getLong(2) == 1L) // c->c
    assert(r.getLong(3) == 1L) // d has no out-edges
    // reciprocated: a->b and b->a, of 4 non-loop edges -> 0.5
    assert(r.getDouble(4) == 0.5)
    assert(r.getDouble(5) == 1.25) // 5 edges / 4 nodes
    // partition-invariant
    val r2 = LinkGraph.stats(edges.repartition(7)).collect().head
    assert(r2.toSeq == r.toSeq)
    // an edge with a null endpoint is dropped, as the gated kernels drop it
    val withNulls = Seq(("a", null), (null, "b"), ("b", "a"), ("b", "c")).toDF("src", "dst")
    val rn = LinkGraph.stats(withNulls).collect().head
    assert(rn.getLong(0) == 3L && rn.getLong(1) == 2L) // nodes a b c; b->a, b->c
  }

  test("dedupLines strips corpus-frequent lines, keeps order, drops all-boilerplate docs") {
    val docs = Seq(
      (1L, "BANNER\nalpha beta\nBANNER\ngamma"),
      (2L, "BANNER\ndelta"),
      (3L, "BANNER\nepsilon zeta"),
      (4L, "BANNER"), // all boilerplate → vanishes
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.dedupLines(docs, maxDocFrequency = 2)
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "alpha beta\ngamma"), // both BANNER copies removed, order kept
      (2L, "delta"),
      (3L, "epsilon zeta")))
  }

  test("c4Clean: terminal punctuation, min words, boilerplate markers, empty docs dropped") {
    val docs = Seq(
      (1L, "good clean line here.\nno terminal punctuation\ntoo short.\nanother fine sentence!"),
      (2L, "this has javascript inside.\nlorem ipsum dolor sit.\nbraces { are code.\nsurvivor line stays."),
      (3L, "everything here fails"), // no punctuation → doc vanishes
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Clean(docs)
      .as[(Long, String, Int)].collect().toSeq
    assert(got == Seq(
      (1L, "good clean line here.\nanother fine sentence!", 2),
      (2L, "survivor line stays.", 1)))
  }

  test("resizePlan: aspect-preserving box fit, floor division") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val plan = Multimodal.resizePlan(Multimodal.mediaTable(docs), 128, 96)
    val rows = plan.select("width", "height", "out_w", "out_h")
      .as[(Int, Int, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (w, h, ow, oh) =>
      assert(ow <= 128 && oh <= 96)
      assert(ow == 128 || oh == 96) // always fills one box side
      // aspect preserved under floor: ow/oh within 1 unit of w/h scale
      assert(math.abs(ow.toDouble / oh - w.toDouble / h) < 0.1)
    }
  }

  test("real-audio frame energy: per-frame RMS from decoded samples, ragged tail, non-PCM dropped") {
    // 6 samples at amplitudes 16384 (0.5 FS) then 32767-ish: frames of 4
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val samples = Array[Short](16384, -16384, 16384, -16384, 16384, 16384)
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array()), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav, 0, 0, 0),
      Multimodal.MediaRow(2L, "audio", "not audio".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()
    val got = Multimodal.audioFrameEnergyDecoded(media, frameSamples = 4)
      .collect().sortBy(_.frame_id)
    // doc 2 undecodable -> absent; doc 1: frame 0 has 4 samples at
    // |s| = 16384 -> rms 0.5; frame 1 is the ragged 2-sample tail
    assert(got.map(_.doc_id).toSet == Set(1L))
    assert(got.length == 2)
    assert(got(0).n_samples == 4 && got(0).rms == 0.5)
    assert(got(1).n_samples == 2 && got(1).rms == 0.5)
  }

  test("audioClipping: stub peak/clip/rms fold; decoded rails, normalized stats") {
    // stub path: "ab" = codes 97,98 plus two pinned 254s
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", "abþþ".getBytes("UTF-8"), 0, 0, 0),
      Multimodal.MediaRow(2L, "audio", "ab".getBytes("UTF-8"), 0, 0, 0),
      Multimodal.MediaRow(3L, "video", "ignored".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()
    val got = Multimodal.audioClipping(media, clipLevel = 250).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(!got.contains(3L))
    def r6(d: Double) = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((4L, 254L, 2L, 0.5,
      r6(math.sqrt((97.0 * 97 + 98 * 98 + 2 * 254 * 254) / 4)))))
    assert(got(2L) == ((2L, 98L, 0L, 0.0,
      r6(math.sqrt((97.0 * 97 + 98 * 98) / 2)))))
    // decoded path: 16-bit PCM with both rails pinned
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val samples = Array[Short](32767, -32768, 16384, 0)
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array()), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val dm = Seq(
      Multimodal.MediaRow(5L, "audio", baos.toByteArray, 0, 0, 0),
      Multimodal.MediaRow(6L, "audio", "not audio".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()
    val dec = Multimodal.audioClippingDecoded(dm, clipFrac = 0.99).collect()
    assert(dec.map(_.doc_id).toSet == Set(5L))
    val r = dec.head
    // rails 32767 and -32768 both clip at 0.99 FS (32768·0.99 = 32440.3)
    assert(r.n_samples == 4L && r.peak == 32768L && r.n_clipped == 2L)
    assert(r.clip_frac == 0.5)
    val fs = 32768.0
    assert(r.rms == r6(math.sqrt(
      (32767.0 * 32767 + 32768.0 * 32768 + 16384.0 * 16384) / 4) / fs))
  }

  test("real image resample: exact nearest-neighbor pixels, box-fit dims, undecodable dropped") {
    // 4x2 source with distinct per-pixel colors
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4; y <- 0 until 2) img.setRGB(x, y, (x + 1) * 0x10 + y * 0x8000)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png, 0, 0, 0),
      Multimodal.MediaRow(2L, "image", "not an image".getBytes("UTF-8"), 0, 0, 0),
      Multimodal.MediaRow(3L, "audio", png, 0, 0, 0), // non-image skipped
    ).toDS()
    val got = Multimodal.resizeImages(media, 2, 2).collect()
      .map(r => r.doc_id -> r).toMap
    // only the decodable image row survives
    assert(got.keySet == Set(1L))
    // width-bound fit: 4x2 -> out_w=2, out_h = floor(2*2/4) = 1
    assert(got(1L).out_w == 2 && got(1L).out_h == 1)
    val out = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(got(1L).payload))
    assert(out.getWidth == 2 && out.getHeight == 1)
    // NN source map: out(0,0)=in(0,0), out(1,0)=in(2,0) — exact pixels
    assert((out.getRGB(0, 0) & 0xffffff) == (img.getRGB(0, 0) & 0xffffff))
    assert((out.getRGB(1, 0) & 0xffffff) == (img.getRGB(2, 0) & 0xffffff))
  }

  test("real video container parse: handmade MP4 yields mvhd duration + tkhd dims; non-BMFF falls back to md5") {
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, content: Array[Byte]): Array[Byte] =
      be32(content.length + 8) ++ typ.getBytes("US-ASCII") ++ content
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32(0) ++ "isom".getBytes("US-ASCII"))
    // mvhd v0: ver+flags, creation, modification, timescale=1000, duration=7500
    val mvhd = box("mvhd",
      be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(7500))
    // tkhd v0: 76 bytes of header/matrix, then width/height as 16.16 fixed
    val tkhd = box("tkhd",
      Array.fill[Byte](76)(0) ++ be32(320L << 16) ++ be32(240L << 16))
    // an audio track (0x0 dims) FIRST: the parser must skip to the video track
    val tkhdAudio = box("tkhd",
      Array.fill[Byte](76)(0) ++ be32(0) ++ be32(0))
    val moov = box("moov", mvhd ++ box("trak", tkhdAudio) ++ box("trak", tkhd))
    val mp4 = ftyp ++ moov

    // declared metadata deliberately WRONG (1x2, 999 ms): parsed facts
    // must come from the container bytes
    val media = Seq(
      Multimodal.MediaRow(1L, "video", mp4, 1, 2, 999),
      Multimodal.MediaRow(2L, "video", "plain text bytes".getBytes("UTF-8"), 3, 4, 5),
      Multimodal.MediaRow(3L, "video", mp4.take(20), 6, 7, 8), // truncated
    ).toDS()
    val got = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(got(1L).feature_hash == "mp4:7500ms:320x240")
    assert(got(1L).width == 320 && got(1L).height == 240)
    assert(got(2L).feature_hash.matches("[0-9a-f]{32}"))
    assert(got(2L).width == 3 && got(2L).height == 4)
    assert(got(3L).feature_hash.matches("[0-9a-f]{32}"))
  }

  test("domainOverlap: hand-computed shared grams, zero-overlap pairs absent") {
    // bigrams (n=2): A1 {a b, b c}, A2 {b c, c d} → A has {a b, b c, c d};
    // B {b c, c d, d e}; C {x y} shares nothing with anyone
    val docs = Seq(
      (1L, "a b c", "A"), (2L, "b c d", "A"),
      (3L, "b c d e", "B"), (4L, "x y", "C"),
    ).toDF("doc_id", "text", "source")
    val got = graft.text.TextAnalysis.domainOverlap(docs, 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // A: 3 distinct grams, B: 3, shared {b c, c d} = 2, jaccard 2/4
    assert(got.toSeq == Seq(("A", "B", 3L, 3L, 2L, 0.5)))
  }

  test("shotBoundaries: luma-delta cuts, shot numbering, fallback frames drop; decoded end-to-end") {
    val frames = Seq(
      (1L, 0L, "luma:10.000000"), (1L, 1L, "luma:12.000000"),
      (1L, 2L, "luma:90.000000"), (1L, 3L, "luma:88.000000"),
      (1L, 4L, "luma:10.000000"),
      (2L, 0L, "luma:50.000000"),
      (3L, 0L, "d41d8cd98f00b204e9800998ecf8427e"), // md5 fallback: drops
    ).toDF("doc_id", "frame_idx", "feature")
    val got = Multimodal.shotBoundaries(frames, threshold = 30.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getBoolean(3), r.getLong(4)))).toMap
    assert(!got.keySet.exists(_._1 == 3L))
    assert(got((1L, 0L)) == ((10.0, true, 0L)))
    assert(got((1L, 1L)) == ((12.0, false, 0L)))
    assert(got((1L, 2L)) == ((90.0, true, 1L)))   // +78 cut
    assert(got((1L, 3L)) == ((88.0, false, 1L)))
    assert(got((1L, 4L)) == ((10.0, true, 2L)))   // -78 cut (abs)
    assert(got((2L, 0L)) == ((50.0, true, 0L)))
    // end-to-end over really-decoded GIF rasters
    val media = Seq(5L, 6L).toDF("doc_id").as[Long].map { id =>
      Multimodal.MediaRow(id, "video",
        Multimodal.grayGif(Seq(20, 25, 220), 3, 2), 0, 0, 0)
    }
    val e2e = Multimodal.shotBoundaries(
        Multimodal.frameSampleDecoded(media, step = 1).toDF(), threshold = 50.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    Seq(5L, 6L).foreach { id =>
      assert(e2e((id, 0L)) == 0L && e2e((id, 1L)) == 0L && e2e((id, 2L)) == 1L)
    }
  }

  test("sentences: terminal-run grouping, trimming, empties dropped, word counts") {
    val docs = Seq(
      (1L, "one two. three four! five"),
      (2L, "no terminals here"),
      (3L, "ends hard..."),
      (4L, "a? b?! c"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.sentences(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    assert(got((1L, 1L)) == (("one two.", 2L)))
    assert(got((1L, 2L)) == (("three four!", 2L)))
    assert(got((1L, 3L)) == (("five", 1L)))
    assert(got((2L, 1L)) == (("no terminals here", 3L)))
    assert(got((3L, 1L)) == (("ends hard...", 2L)))   // trailing run sticks
    assert(got((4L, 1L)) == (("a?", 1L)))
    assert(got((4L, 2L)) == (("b?!", 1L)))            // mixed terminal run
    assert(got((4L, 3L)) == (("c", 1L)))
    assert(got.keys.count(_._1 == 4L) == 3)
  }

  test("truncateDims: norm accounting and renormalized prefix") {
    val emb = Seq(
      (1L, Seq(3.0f, 4.0f, 12.0f)),   // full norm 13, 2-dim prefix norm 5
      (2L, Seq(1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val got = graft.sim.Similarity.truncateDims(emb, 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("norm_full"), r.getAs[Double]("norm_trunc"),
          r.getAs[Double]("frac_norm"), r.getSeq[Double](r.fieldIndex("embedding_trunc")).toSeq)))
      .toMap
    assert(got(1L)._1 == 13.0 && got(1L)._2 == 5.0)
    assert(got(1L)._3 == BigDecimal(5.0 / 13)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(1L)._4 == Seq(0.6, 0.8))
    assert(got(2L)._4 == Seq(1.0, 0.0))
  }

  test("unicode nfc/nfkc columns: composition, compatibility folding, ascii identity") {
    val docs = Seq(
      (1L, "cafe\u0301"),       // decomposed acute -> cafe with U+00E9
      (2L, "plain ascii"),
      (3L, "\uFF11\uFF12ab"),   // fullwidth digits: NFKC folds, NFC keeps
      (4L, "n\u0303o"),          // decomposed tilde -> U+00F1 o
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        graft.functions.Unicode.nfc(col("text")).as("nfc"),
        graft.functions.Unicode.nfkc(col("text")).as("nfkc"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L) == (("caf\u00e9", "caf\u00e9")))
    assert(got(2L) == (("plain ascii", "plain ascii")))
    assert(got(3L)._1 == "\uFF11\uFF12ab" && got(3L)._2 == "12ab")
    assert(got(4L)._1 == "\u00f1o")
  }

  test("scriptMix: per-class counts, fractions, priority dominance, none") {
    val docs = Seq(
      (1L, "abc 123"),                 // latin 3, digit 3, space uncounted
      (2L, "пример текста тут"),       // cyrillic only
      (3L, "日本語テスト한국"),          // han 3 + kana 3 + hangul 2 = cjk 8
      (4L, "abаб"),          // latin 2 == cyrillic 2: tie -> latin
      (5L, "12 34"),                   // digits only: no letter script
    ).toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.scriptMix(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chars"), r.getAs[Long]("n_latin"),
          r.getAs[Long]("n_cyrillic"), r.getAs[Long]("n_cjk"),
          r.getAs[Long]("n_digit"), r.getAs[Double]("frac_latin"),
          r.getAs[String]("dominant_script")))).toMap
    assert(got(1L) == ((7L, 3L, 0L, 0L, 3L, 0.428571, "latin")))
    assert(got(2L)._3 == 15L && got(2L)._7 == "cyrillic")
    assert(got(3L) == ((8L, 0L, 0L, 8L, 0L, 0.0, "cjk")))
    assert(got(4L)._7 == "latin") // tie resolves by priority order
    assert(got(5L)._7 == "none")
    assert(got(5L)._5 == 4L)
  }

  test("dhash: planted-pattern bits, resize invariance, undecodable drops") {
    // monotone rows: every adjacent comparison rises -> all 64 bits
    val allUp = (for (y <- 0 until 8; x <- 0 until 9) yield x * 10)
    // falling rows -> no bits
    val allDown = (for (y <- 0 until 8; x <- 0 until 9) yield 80 - x * 10)
    // rise then fall: bits 0..3 per row -> nibbles f,0 -> "f0" * 8
    val upDown = (for (y <- 0 until 8; x <- 0 until 9)
      yield Seq(0, 10, 20, 30, 40, 30, 20, 10, 0)(x))
    val media = Seq(
      (1L, Multimodal.grayPixelGif(allUp, 9, 8)),
      (2L, Multimodal.grayPixelGif(allDown, 9, 8)),
      (3L, Multimodal.grayPixelGif(upDown, 9, 8)),
      // 18x16 block-replicated copy of upDown: midpoint sampling must
      // land inside the blocks -> identical hash to doc 3
      (4L, Multimodal.grayPixelGif(
        (for (y <- 0 until 16; x <- 0 until 18)
          yield Seq(0, 10, 20, 30, 40, 30, 20, 10, 0)(x / 2)), 18, 16)),
      (5L, "not an image".getBytes("UTF-8")),
    ).map { case (id, p) => Multimodal.MediaRow(id, "image", p, 0, 0, 0) }
      .toDS()
    val got = Multimodal.dhash(media).collect()
      .map(r => r.doc_id -> ((r.dhash, r.dhash_i64, r.width, r.height))).toMap
    assert(!got.contains(5L))
    assert(got(1L)._1 == "ffffffffffffffff" && got(1L)._2 == -1L)
    assert(got(2L)._1 == "0000000000000000" && got(2L)._2 == 0L)
    assert(got(3L)._1 == "f0f0f0f0f0f0f0f0")
    assert(got(4L)._1 == got(3L)._1)
    assert(got(4L)._3 == 18 && got(4L)._4 == 16)
    assert(got(1L)._3 == 9 && got(1L)._4 == 8)
  }

  test("dhashPairs: pigeonhole candidates, exact verify, negative-hash xor") {
    def row(id: Long, h: Long) =
      (id, h, String.format("%016x", java.lang.Long.valueOf(h)))
    val hashes = Seq(
      row(1L, 0L), row(2L, 1L), row(3L, 7L),
      row(4L, 0xff00000000000000L), // shares 3 bands with 1; hamming 8: OUT
      row(5L, 0x123456789abcdef0L), // shares no band: never a candidate
      row(6L, -1L), row(7L, -2L),   // top-bit-set pair, hamming 1
    ).toDF("doc_id", "dhash_i64", "dhash")
    val got = Multimodal.dhashPairs(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (1L, 3L, 3), (2L, 3L, 2), (6L, 7L, 1)))
    // banding must divide the 16 hex chars
    intercept[IllegalArgumentException] {
      Multimodal.dhashPairs(hashes, maxHamming = 4)
    }
    // repartition-stable
    val again = Multimodal.dhashPairs(hashes.repartition(5), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == got)
  }

  test("dhashPairsDelta: cross + in-batch pairs, index never re-hashed, equals one-shot") {
    def row(id: Long, h: Long) =
      (id, h, String.format("%016x", java.lang.Long.valueOf(h)))
    val index = Seq(row(1L, 0L), row(2L, 0x7000000000000000L)).toDF(
      "doc_id", "dhash_i64", "dhash")
    val batch = Seq(row(10L, 1L), row(11L, 3L), row(12L, 0x7000000000000001L))
      .toDF("doc_id", "dhash_i64", "dhash")
    val got = Multimodal.dhashPairsDelta(index, batch, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // cross: 1-10 (h=1), 1-11 (h=2), 2-12 (h=1); in-batch: 10-11 (h=1)
    // and 10-12 (xor 0x7000000000000000 = exactly 3 bits); 11-12 is
    // 4 bits out
    assert(got == Set((1L, 10L, 1), (1L, 11L, 2), (2L, 12L, 1),
      (10L, 11L, 1), (10L, 12L, 3)))
    // delta == one-shot restricted to pairs touching the batch
    val oneShot = Multimodal.dhashPairs(index.unionByName(batch), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val touching = oneShot.filter { case (a, b, _) => a >= 10L || b >= 10L }
    assert(got == touching)
  }

  test("videoNearDups maxFrameDf: a shared intro card cannot mint quadratic candidates") {
    // 60 docs all open with the same intro-card frame plus one unique
    // frame each; docs 100/101 are a true near-dup pair (intro + X +
    // Y + one unique frame each). The intro bucket holds 62 docs —
    // over the cap, so it generates NO candidates; the true pair
    // rides its cold X/Y buckets and verifies over the FULL sets
    // (intro included): shared {intro, X, Y} = 3 of union 5 -> 0.6.
    def f(seed: Int): Seq[Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 72).map(p => md.digest(s"hot:$seed:$p".getBytes("UTF-8"))(0) & 0xff)
    }
    val intro = f(0); val x = f(-1); val y = f(-2)
    val media = ((1 to 60).map(i =>
      Multimodal.MediaRow(i.toLong, "video",
        Multimodal.grayPixelGifFrames(Seq(intro, f(i)), 9, 8), 0, 0, 0)) ++ Seq(
      Multimodal.MediaRow(100L, "video",
        Multimodal.grayPixelGifFrames(Seq(intro, x, y, f(100)), 9, 8), 0, 0, 0),
      Multimodal.MediaRow(101L, "video",
        Multimodal.grayPixelGifFrames(Seq(intro, x, y, f(101)), 9, 8), 0, 0, 0))
    ).toDS()
    val capped = Multimodal.videoNearDups(media, threshold = 0.3, maxFrameDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(capped.toSeq == Seq((100L, 101L, 3L, 0.6)))
    // uncapped, the stopword frame pairs every intro doc with every
    // other (jaccard 1/3 over {intro, u_a, u_b}) — the quadratic blowup
    val uncapped = Multimodal.videoNearDups(media, threshold = 0.3,
      maxFrameDf = 1000000).count()
    assert(uncapped == 60L * 59 / 2 + 1)
  }

  test("dhashPairs maxBandDf: hot band buckets drop, cold-band pairs survive") {
    def row(id: Long, h: Long) =
      (id, h, String.format("%016x", java.lang.Long.valueOf(h)))
    // ten identical all-zero hashes make every "0000" band bucket hot;
    // 20/21 share the cold leading band "ab00" (true hamming 1)
    val hashes = ((1 to 10).map(i => row(i.toLong, 0L)) ++ Seq(
      row(20L, 0xAB00000000000000L), row(21L, 0xAB00000000000001L))
    ).toDF("doc_id", "dhash_i64", "dhash")
    val capped = Multimodal.dhashPairs(hashes, maxHamming = 3, maxBandDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == Set((20L, 21L, 1)))
    // default is unlimited: the 45 zero-hash pairs come back
    val full = Multimodal.dhashPairs(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full.size == 46 && full((20L, 21L, 1)))
  }

  test("videoNearDups: frame-hash set jaccard over really-decoded frames") {
    // doc 1: frames A B C; doc 2: frames B C D (jaccard 2/4); doc 3 disjoint
    def f(seed: Int): Seq[Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 72).map(p => md.digest(s"$seed:$p".getBytes("UTF-8"))(0) & 0xff)
    }
    val (a, b, c, dd, e) = (f(1), f(2), f(3), f(4), f(5))
    val media = Seq(
      Multimodal.MediaRow(1L, "video", Multimodal.grayPixelGifFrames(Seq(a, b, c), 9, 8), 0, 0, 0),
      Multimodal.MediaRow(2L, "video", Multimodal.grayPixelGifFrames(Seq(b, c, dd), 9, 8), 0, 0, 0),
      Multimodal.MediaRow(3L, "video", Multimodal.grayPixelGifFrames(Seq(e), 9, 8), 0, 0, 0),
      Multimodal.MediaRow(4L, "video", "not a gif".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()
    val got = Multimodal.videoNearDups(media, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 2L, 0.5)))
    // below threshold: same pair vanishes at 0.6
    assert(Multimodal.videoNearDups(media, threshold = 0.6).count() == 0)
    // frameHashes: only decodable payloads, one row per frame
    val fh = Multimodal.frameHashes(media).collect()
    assert(fh.map(_.doc_id).toSet == Set(1L, 2L, 3L))
    assert(fh.count(_.doc_id == 1L) == 3 && fh.count(_.doc_id == 3L) == 1)
    // identical planted frames hash identically across docs
    val h1 = fh.filter(_.doc_id == 1L).sortBy(_.frame_idx).map(_.fhash)
    val h2 = fh.filter(_.doc_id == 2L).sortBy(_.frame_idx).map(_.fhash)
    assert(h1(1) == h2(0) && h1(2) == h2(1))
  }

  test("vadSegments: active islands, spans + decimal means, silent docs vanish, stable") {
    val frames = Seq(
      (1L, 0L, 60.0), (1L, 1L, 70.0), (1L, 2L, 5.0), (1L, 3L, 80.0),
      (1L, 4L, 90.0), (1L, 5L, 4.0),
      (2L, 0L, 3.0), (2L, 1L, 2.0),      // all silent: no segments
      (3L, 0L, 55.0),
    ).toDF("doc_id", "frame_id", "rms")
    val got = Multimodal.vadSegments(frames, threshold = 50.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.size == 3)
    assert(got((1L, 0L)) == ((0L, 1L, 2L, 65.0)))
    assert(got((1L, 1L)) == ((3L, 4L, 2L, 85.0)))
    assert(got((3L, 0L)) == ((0L, 0L, 1L, 55.0)))
    val b = Multimodal.vadSegments(frames.repartition(5), threshold = 50.0)
      .collect().map(_.toSeq).toSet
    assert(b == Multimodal.vadSegments(frames, 50.0).collect().map(_.toSeq).toSet)
  }

  // Independent replay of audioFp128 for the specs: functional style,
  // separate bit order derivation — a shared bug would have to be
  // conceptual, not transcribed.
  private def fpBrute(samples: Seq[Long]): Option[(Long, Long)] = {
    val frameLen = samples.length / 16
    if (frameLen <= 9) None
    else {
      val bits = (0 until 16).flatMap { f =>
        val fr = samples.slice(f * frameLen, (f + 1) * frameLen)
        val e = (1 to 9).map(lag =>
          fr.drop(lag).zip(fr.dropRight(lag)).map { case (a, b) =>
            (a - b) * (a - b)
          }.sum)
        (0 until 8).map(c => e(c + 1) > e(c))
      }
      val hi = bits.take(64).zipWithIndex
        .collect { case (true, i) => 1L << (63 - i) }.foldLeft(0L)(_ | _)
      val lo = bits.drop(64).zipWithIndex
        .collect { case (true, i) => 1L << (63 - i) }.foldLeft(0L)(_ | _)
      Some((hi, lo))
    }
  }

  private def rndSamples(seed: String, n: Int = 512): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until (n + 15) / 16).flatMap(blk =>
      md.digest(s"$seed:$blk".getBytes("UTF-8")).map(b => (b & 0xff).toLong))
      .take(n).toArray
  }

  test("audioFp128: planted patterns, brute-force replay, DC/scale invariance, short drop") {
    // constant signal: every band energy 0, no strict rise -> fp 0
    assert(Multimodal.audioFp128(Array.fill(512)(100L)) == Some((0L, 0L)))
    // pure alternation +A/-A: odd lags carry all the energy, even lags
    // none -> per frame bits 01010101 -> 0x55 bytes in both words
    val alt = Array.tabulate(512)(i => if (i % 2 == 0) 50L else -50L)
    assert(Multimodal.audioFp128(alt) ==
      Some((0x5555555555555555L, 0x5555555555555555L)))
    // pseudorandom clips match the independent replay
    for (seed <- Seq("a", "b", "c")) {
      val s = rndSamples(seed)
      assert(Multimodal.audioFp128(s) == fpBrute(s.toSeq))
    }
    // DC offset cancels exactly; exact scaling preserves every order
    val s = rndSamples("dc")
    val fp = Multimodal.audioFp128(s)
    assert(Multimodal.audioFp128(s.map(_ + 37L)) == fp)
    assert(Multimodal.audioFp128(s.map(_ * 4L)) == fp)
    // too short: frameLen must exceed the deepest lag (144/16 = 9)
    assert(Multimodal.audioFp128(Array.fill(144)(1L)).isEmpty)
    // bit layout must be 128 wide exactly
    intercept[IllegalArgumentException] {
      Multimodal.audioFp128(s, nFrames = 4, nBands = 9)
    }
  }

  test("audioFingerprint: real WAV round-trip equals direct fp; undecodable drops") {
    val u = rndSamples("wav").map(_.toInt)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.pcmWavU8(u), 0, 0, 0),
      Multimodal.MediaRow(2L, "audio", "not audio".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()
    val got = Multimodal.audioFingerprint(media).collect()
    assert(got.map(_.doc_id).toSeq == Seq(1L))
    // decoded u8 arrives as u - 128; differences cancel the bias, so
    // the decoded fp must equal the fp of the raw unsigned stream
    val (hi, lo) = Multimodal.audioFp128(u.map(_.toLong)).get
    assert(got.head.fp_hi == hi && got.head.fp_lo == lo)
    assert(got.head.fp == String.format("%016x%016x",
      java.lang.Long.valueOf(hi), java.lang.Long.valueOf(lo)))
    assert(got.head.n_samples == 512L)
  }

  test("audioNearDups: re-leveled copy recovered at true hamming, strangers silent, stable") {
    val u = rndSamples("clip").map(_.toInt)
    val releveled = u.map(x => x * 9 / 10)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.pcmWavU8(u), 0, 0, 0),
      Multimodal.MediaRow(2L, "audio", Multimodal.pcmWavU8(releveled), 0, 0, 0),
      Multimodal.MediaRow(3L, "audio",
        Multimodal.pcmWavU8(rndSamples("other").map(_.toInt)), 0, 0, 0),
    ).toDS()
    val (h1, l1) = Multimodal.audioFp128(u.map(_.toLong)).get
    val (h2, l2) = Multimodal.audioFp128(releveled.map(_.toLong)).get
    val wantHam = java.lang.Long.bitCount(h1 ^ h2) +
      java.lang.Long.bitCount(l1 ^ l2)
    assert(wantHam <= 3) // the planted transform must be recoverable
    val got = Multimodal.audioNearDups(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, wantHam)))
    val again = Multimodal.audioNearDups(media.repartition(5), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == got)
  }

  test("audioNearDupsWindowed: spliced copy found via surviving windows, fractions exact") {
    // doc 1 = windows [w0 w1 w2 w3]; doc 2 = [w1' w2' f0 f1] — a
    // trimmed re-leveled splice keeping half the material; doc 3 all
    // fresh. Window grid is fixed, so matching is by CONTENT, not
    // alignment.
    val win = 512
    def w(seed: String) = rndSamples(seed, win).map(_.toInt)
    def relevel(u: Array[Int]) = u.map(x => x * 9 / 10)
    val a = Array("w0", "w1", "w2", "w3").flatMap(w)
    val b2 = relevel(w("w1")) ++ relevel(w("w2")) ++ w("f0") ++ w("f1")
    val c3 = Array("g0", "g1", "g2", "g3").flatMap(w)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", Multimodal.pcmWavU8(a), 0, 0, 0),
      Multimodal.MediaRow(2L, "audio", Multimodal.pcmWavU8(b2), 0, 0, 0),
      Multimodal.MediaRow(3L, "audio", Multimodal.pcmWavU8(c3), 0, 0, 0),
    ).toDS()
    // expected matches from the kernel itself: re-leveled windows stay
    // within the radius (assert, so the fixture can't silently rot)
    def fp(u: Array[Int]) = Multimodal.audioFp128(u.map(_.toLong)).get
    def ham(x: (Long, Long), y: (Long, Long)) =
      java.lang.Long.bitCount(x._1 ^ y._1) + java.lang.Long.bitCount(x._2 ^ y._2)
    assert(ham(fp(w("w1")), fp(relevel(w("w1")))) <= 3)
    assert(ham(fp(w("w2")), fp(relevel(w("w2")))) <= 3)
    val got = Multimodal.audioNearDupsWindowed(media, maxHamming = 3,
        windowSamples = win)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set((1L, 2L)))
    val (n, fa, fb) = got((1L, 2L))
    assert(n == 2L && fa == 0.5 && fb == 0.5)
    // minFrac gates on the larger side's fraction
    assert(Multimodal.audioNearDupsWindowed(media, maxHamming = 3,
      windowSamples = win, minFrac = 0.6).count() == 0L)
    // hop < window: overlapping windows still find the pair
    val hop = Multimodal.audioNearDupsWindowed(media, maxHamming = 3,
        windowSamples = win, hop = win / 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hop.contains((1L, 2L)))
  }

  test("audioNearDupsDelta: cross + in-batch pairs, equals one-shot on batch-touching pairs") {
    def row(id: Long, lo: Long) =
      (id, 512L, 0L, lo, String.format("%016x%016x",
        java.lang.Long.valueOf(0L), java.lang.Long.valueOf(lo)))
    val index = Seq(row(1L, 0L), row(2L, 0x7000000000000000L)).toDF(
      "doc_id", "n_samples", "fp_hi", "fp_lo", "fp")
    val batch = Seq(row(10L, 1L), row(11L, 3L), row(12L, 0x7000000000000001L))
      .toDF("doc_id", "n_samples", "fp_hi", "fp_lo", "fp")
    val got = Multimodal.audioNearDupsDelta(index, batch, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // index pair 1-2 (hamming 3) must NOT appear: delta covers only
    // batch-touching pairs
    assert(got == Set((1L, 10L, 1), (1L, 11L, 2), (2L, 12L, 1),
      (10L, 11L, 1), (10L, 12L, 3)))
  }
}
