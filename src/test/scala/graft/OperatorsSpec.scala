package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, VectorOps}

/** Specs for the oracle-less operators (SparkEntry.oracleSql omissions):
  * correctness asserted here instead of by the DuckDB hash-compare. */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q_temperature_mix: largest-remainder allocations sum EXACTLY to the budget") {
    val rows = graft.operators.CorpusOps.queries("q_temperature_mix")(spark, sf)
      .select("source", "n_docs", "alloc").as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._3).sum === 1000000L,
      "apportionment must hand out the whole budget, no floor shortfall")
    // temperature 2 flattens: allocation shares sit between uniform and
    // proportional for every source
    val nTot = rows.map(_._2).sum.toDouble
    rows.foreach { case (src, n, alloc) =>
      val prop = n / nTot
      val unif = 1.0 / rows.length
      val share = alloc / 1000000.0
      val (lo, hi) = (math.min(prop, unif), math.max(prop, unif))
      assert(share >= lo - 0.02 && share <= hi + 0.02,
        s"$src share=$share outside [${lo}, ${hi}]")
    }
  }

  test("q_span_corruption: spans never overlap and stay inside the doc") {
    val rows = graft.operators.CorpusOps.queries("q_span_corruption")(spark, sf)
      .select("doc_id", "n_tokens", "span_id", "start_tok", "span_len")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, spans) =>
      val sorted = spans.sortBy(_._3)
      sorted.foreach { case (_, n, _, st, len) =>
        assert(st >= 0 && st + len <= n, s"doc $doc span [$st,+$len) outside doc")
        assert(len >= 1 && len <= 3)
      }
      sorted.sliding(2).foreach {
        case Array((_, _, _, s1, l1), (_, _, _, s2, _)) =>
          assert(s1 + l1 <= s2, s"doc $doc spans overlap: [$s1,+$l1) vs $s2")
        case _ => ()
      }
    }
  }

  test("q_knn_classify: vote matches the brute-force neighbor majority") {
    val got = graft.operators.VectorOps.queries("q_knn_classify")(spark, sf)
      .select("qid", "pred_label").as[(Long, Long)].collect().toMap
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 1000000)).toArray,
        r.getInt(2).toLong))
    (0L until 5L).foreach { q =>
      val qv = embs.find(_._1 == q).get._2
      val top3 = embs.filter(_._1 != q)
        .map { case (id, v, lab) =>
          (id, lab, v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy(t => (t._3, t._1)).take(3)
      val vote = top3.groupBy(_._2).view.mapValues(_.length).toSeq
        .sortBy { case (lab, n) => (-n, lab) }.head._1
      assert(got(q) === vote, s"probe $q")
    }
  }

  test("approx_count_distinct within 10% of exact per event_type") {
    // catalog shape is the derived invariant (exact, bound, within_bound)
    val rows = VectorOps.queries("q_approx_distinct")(spark, sf)
      .select("event_type", "exact_users", "within_bound")
      .as[(String, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, _, wb) => assert(wb, s"$k estimate out of bound") }
    // tighter 10% check straight from the estimator
    val approx = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("a"))
      .as[(String, Long)].collect().toMap
    val exact = rows.map { case (k, e, _) => k -> e }.toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1L, (n * 0.10).toLong),
        s"$k approx=${approx(k)} exact=$n")
    }
  }

  test("jaccard strategies agree: bitmask (dense vocab) == inverted index (sparse path)") {
    val dt = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        array_distinct(filter(split(lower(col("text")), " "), t => t =!= "")).as("toks"))
    def rows(maxWords: Int) = graft.operators.TextOps
      .tokenJaccardPairs(dt, threshold = 0.8, maxMaskWords = maxWords)
      .collect().map(_.toSeq).toSeq
    // maxMaskWords=0 forces the inverted-index branch on the same data
    assert(rows(16) === rows(0))
    assert(rows(16).nonEmpty)
  }

  test("jaccard dense path is gated on block row count, not just vocab size") {
    val dt = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        array_distinct(filter(split(lower(col("text")), " "), t => t =!= "")).as("toks"))
    val dense = graft.operators.TextOps.tokenJaccardPairs(dt, threshold = 0.8)
    // a block bigger than maxBlockRows must fall through to the inverted
    // index even though the vocab fits the bitmask budget
    val gated = graft.operators.TextOps
      .tokenJaccardPairs(dt, threshold = 0.8, maxBlockRows = 1L)
    assert(dense.queryExecution.executedPlan.toString.contains("bit_count"),
      "small blocks + small vocab should choose the bitmask path")
    assert(!gated.queryExecution.executedPlan.toString.contains("bit_count"),
      "oversized blocks must not choose the O(block²) bitmask path")
    assert(gated.collect().map(_.toSeq).toSeq === dense.collect().map(_.toSeq).toSeq)
  }

  test("sparse jaccard fallback prefix-filters hot tokens: candidates ≪ d²/2") {
    import spark.implicits._
    // 200 docs in one block, ALL sharing 3 hot tokens (df = 200) plus 5
    // unique tokens each; docs 198/199 are exact token-set duplicates.
    // The pre-PPJoin inverted index joined on (source, token) would emit
    // 3 × 200·199/2 = 59 700 candidate rows from the hot tokens alone;
    // the rarest-first prefix (2 tokens at t = 0.8 for sz = 8) excludes
    // hot tokens entirely, so candidates arise only from shared RARE
    // tokens — exactly the engineered duplicate pair.
    val docs = (0 until 200).map { i =>
      val uniq = if (i == 199) 198 else i // 199 duplicates 198's set
      ("s0", i.toLong,
        Seq("hot1", "hot2", "hot3") ++ (0 until 5).map(k => s"u${uniq}_$k"))
    }
    val dt = docs.toDF("source", "doc_id", "toks")
    val cands = graft.operators.TextOps.prefixCandidates(
      graft.operators.TextOps.hashedTokenIndex(dt), pruneLo = 79)
    val nCands = cands.count()
    assert(nCands <= 10L, s"prefix filter must kill hot-token fan-out, got $nCands")
    val pairs = graft.operators.TextOps
      .tokenJaccardPairs(dt, threshold = 0.8, maxMaskWords = 0)
      .select("d1", "d2").as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((198L, 199L)), "the true duplicate pair must survive")
  }

  test("graft_hll sketch: within 5% of exact, partitioning-invariant merge") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    def run(df: org.apache.spark.sql.DataFrame) = df
      .agg(graft.functions.HllSketch.hllDistinct(col("doc_id")).as("h"))
      .as[Long].collect()(0)
    val exact = docs.select("doc_id").distinct().count()
    val est = run(docs)
    assert(math.abs(est - exact).toDouble / exact <= 0.05, s"est=$est exact=$exact")
    // merge correctness: estimate independent of partitioning
    assert(run(docs.repartition(13)) === est)
    // SQL form via extensions
    val viaSql = {
      docs.createOrReplaceTempView("hll_docs_v")
      spark.sql("SELECT graft_hll(doc_id) FROM hll_docs_v").as[Long].collect()(0)
    }
    assert(viaSql === est)
  }

  test("multimodal metadata: deterministic across partitionings, schema fixed") {
    val df = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source").as("media_source"))
    val a = Multimodal.extractMeta(df).orderBy("doc_id").collect()
    val b = Multimodal.extractMeta(df.repartition(7), batchSize = 3)
      .orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq) // content-derived, partitioning-independent
    assert(a.length === df.count())
    val m = a(0)
    assert(m.schema.fieldNames.toSeq ===
      Seq("doc_id", "media_source", "byte_len", "width", "height", "format"))
    assert(Seq("jpeg", "png").contains(m.getAs[String]("format")))
    assert(m.getAs[Int]("width") >= 160 && m.getAs[Int]("height") >= 120)
  }

  test("incremental dedup equals the symmetric join restricted to cross-boundary pairs") {
    // the asymmetric prefix index may prune candidates differently than
    // the symmetric path, but the PAIRS it verifies must be exactly the
    // symmetric result's cross-boundary subset — losslessness of the
    // delta-vs-corpus specialization
    val sf = "/root/testdata/sf0.01"
    val dt = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        array_distinct(filter(split(lower(col("text")), " "), t => t =!= "")).as("toks"))
    val full = graft.operators.TextOps
      .tokenJaccardPairs(dt, threshold = 0.8, maxMaskWords = 0)
      .filter(col("d1") < 400 && col("d2") >= 400)
      .select(col("source"), col("d1"), col("d2"), col("jaccard"))
      .collect().map(_.toSeq).toSet
    val inc = SparkEntry.queries("q_dedup_incremental")(spark, sf)
      .select(col("source"), col("base_id"), col("new_id"), col("jaccard"))
      .collect().map(_.toSeq).toSet
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("ImageHeaders parses real container headers; corrupt payloads degrade to unknown") {
    import graft.operators.Multimodal.ImageHeaders
    def bytes(vs: Int*): Array[Byte] = vs.map(_.toByte).toArray
    // canonical 1x1 PNG header (signature + IHDR)
    val png1 = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13,
      'I', 'H', 'D', 'R', 0, 0, 0, 1, 0, 0, 0, 1, 8, 6, 0, 0, 0)
    assert(ImageHeaders.decode(png1) === ((1, 1, "png")))
    // multi-byte BE32 dims: 1280 x 800
    val png2 = bytes(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 0, 0, 0, 13,
      'I', 'H', 'D', 'R', 0, 0, 0x05, 0x00, 0, 0, 0x03, 0x20, 8, 2, 0, 0, 0)
    assert(ImageHeaders.decode(png2) === ((1280, 800, "png")))
    // progressive JPEG (SOF2) behind APP0 and DQT segments that must be
    // length-skipped; height (7) precedes width (9) in the SOF
    val jpg = bytes(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0, 0,
      0xFF, 0xDB, 0x00, 0x04, 0, 0,
      0xFF, 0xC2, 0x00, 0x0B, 0x08, 0x00, 0x07, 0x00, 0x09, 0x01, 0x01, 0x11, 0x00,
      0xFF, 0xD9)
    assert(ImageHeaders.decode(jpg) === ((9, 7, "jpeg")))
    // GIF87a with little-endian dims 300 x 200
    val gif = bytes('G', 'I', 'F', '8', '7', 'a', 0x2C, 0x01, 0xC8, 0x00, 0, 0, 0)
    assert(ImageHeaders.decode(gif) === ((300, 200, "gif")))
    // BMP 640 x 480 (LE32 at offsets 18/22), and top-down negative height
    val bmpPre = bytes('B', 'M') ++ new Array[Byte](16)
    val bmp = bmpPre ++ bytes(0x80, 0x02, 0, 0, 0xE0, 0x01, 0, 0)
    assert(ImageHeaders.decode(bmp) === ((640, 480, "bmp")))
    val bmpTopDown = bmpPre ++ bytes(0x80, 0x02, 0, 0, 0x20, 0xFE, 0xFF, 0xFF)
    assert(ImageHeaders.decode(bmpTopDown) === ((640, 480, "bmp")))
    // corrupt payloads: empty, text, JPEG with entropy data but no SOF
    assert(ImageHeaders.decode(Array.emptyByteArray) === ((0, 0, "unknown")))
    assert(ImageHeaders.decode("not an image".getBytes("UTF-8")) === ((0, 0, "unknown")))
    assert(ImageHeaders.decode(bytes(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x04, 0, 0))
      === ((0, 0, "unknown")))
    // synthetic payloads roundtrip: parse recovers the synthesis rule
    (0L until 60L).foreach { id =>
      val (w, h, f) = ImageHeaders.decode(graft.operators.Multimodal.syntheticImage(id))
      assert(w === 16 + (id % 1000).toInt && h === 16 + (id % 777).toInt)
      assert(f === Seq("png", "jpeg", "gif")((id % 3).toInt))
    }
  }

  test("AudioCodec: WAV roundtrip exact on random PCM; chunk padding walks; corrupt → None") {
    import graft.operators.Multimodal.AudioCodec
    val rnd = new scala.util.Random(7)
    Seq(1, 7, 64, 193).foreach { n =>
      val pcm = Array.fill(n)((rnd.nextInt(65536) - 32768).toShort)
      val Some((rate, out)) = AudioCodec.decodeWav(AudioCodec.encodeWav(44100, pcm))
      assert(rate === 44100)
      assert(out.toSeq === pcm.map(_.toInt).toSeq, s"pcm roundtrip n=$n")
    }
    // an extra odd-length chunk between fmt and data: the walker must
    // apply RIFF even-byte padding or it misreads everything after
    val base = AudioCodec.encodeWav(8000, Array[Short](5, -5, 7))
    val extra = Array[Byte]('j', 'u', 'n', 'k', 3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = base.take(36) ++ extra ++ base.drop(36)
    // patch the RIFF size field (LE32 at offset 4)
    val riffLen = spliced.length - 8
    (0 until 4).foreach(i => spliced(4 + i) = ((riffLen >> (8 * i)) & 0xff).toByte)
    val dec = AudioCodec.decodeWav(spliced)
    assert(dec.exists { case (r, p) => r == 8000 && p.toSeq == Seq(5, -5, 7) },
      s"even-byte chunk padding must keep the walk aligned, got $dec")
    // corrupt payloads: truncated, wrong magic, odd data length
    assert(AudioCodec.decodeWav(Array[Byte](1, 2, 3)) === None)
    assert(AudioCodec.decodeWav("RIFFxxxxWAVX".getBytes("US-ASCII")) === None)
    val odd = base.clone(); odd(40) = 3 // data len 6 → 3 (odd)
    assert(AudioCodec.decodeWav(odd.take(44 + 3)) === None)
  }

  test("VideoCodec: AVI roundtrip exact on random frames; nested LIST walk; corrupt → None") {
    import graft.operators.Multimodal.VideoCodec
    val rnd = new scala.util.Random(11)
    Seq((4, 3, 1), (8, 6, 3), (16, 10, 6)).foreach { case (w, h, n) =>
      val frames = Array.fill(n)(Array.fill(w * h)(rnd.nextInt(256).toByte))
      val Some((dw, dh, dn, out)) =
        VideoCodec.decodeAvi(VideoCodec.encodeAvi(40000, w, h, frames))
      assert((dw, dh, dn) === ((w, h, n)))
      frames.zip(out).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    }
    // odd-sized frames exercise the RIFF even-byte chunk padding
    // (w*h = 15 → each 00db chunk carries a pad byte the walker must
    // step over or every later frame is misaligned)
    val odd = Array.fill(3)(Array.fill(15)(rnd.nextInt(256).toByte))
    val Some((_, _, _, oddOut)) =
      VideoCodec.decodeAvi(VideoCodec.encodeAvi(40000, 5, 3, odd))
    odd.zip(oddOut).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // corrupt: bad magic, truncated mid-chunk, frame/header mismatch
    assert(VideoCodec.decodeAvi("RIFFxxxxAVIX".getBytes("US-ASCII")) === None)
    val good = VideoCodec.encodeAvi(40000, 4, 3, Array(Array.fill(12)(1.toByte)))
    assert(VideoCodec.decodeAvi(good.take(good.length - 3)) === None)
    val lying = VideoCodec.encodeAvi(40000, 4, 4, Array(Array.fill(12)(1.toByte)))
    assert(VideoCodec.decodeAvi(lying) === None, "frame length must match avih dims")
  }

  test("q_wordpiece_encode: greedy longest-match segments; every word reconstructs; vocab pieces bounded") {
    val rows = graft.operators.TextOps.queries("q_wordpiece_encode")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val word = r.getAs[String]("word")
      val enc = r.getAs[String]("encoded").split(" ").toSeq
      assert(enc.size.toLong === r.getAs[Long]("n_pieces"))
      // reconstruction: stripping the ## continuations concatenates
      // back to the word — the invariant ANY segmentation must keep
      val rebuilt = enc.head + enc.tail.map(_.stripPrefix("##")).mkString
      assert(rebuilt === word, s"$word segmented as $enc")
      // pieces obey the 4-char cap; only the first is word-initial
      assert(enc.head.length <= 4 && !enc.head.startsWith("##") || word.startsWith("##"))
      enc.tail.foreach(p => assert(p.startsWith("##") && p.length <= 6, s"$p in $enc"))
      // greedy rule: a frequent word short enough to BE a piece (<=4
      // chars, appears >= 50 times at this sf) segments as itself
      if (word.length <= 4 && r.getAs[Long]("freq") >= 50)
        assert(enc === Seq(word), s"frequent short word $word must be one piece")
    }
  }

  test("q_unigram_segment: Viterbi optimal under the FITTED table; trainer and segmenter agree") {
    val rows = graft.operators.TextOps.queries("q_unigram_segment")(spark, sf)
      .collect().map(r => (r.getAs[String]("word"), r.getAs[Long]("freq"),
        r.getAs[Long]("score_micro"), r.getAs[Long]("n_pieces")))
    assert(rows.nonEmpty)
    // the segmenter consumes the EM-FITTED table (round 12) — read it
    // back through q_unigram_train's own output, so this pins the
    // no-drift contract between the two queries; the fit math itself
    // is gated by the DuckDB EM-replica oracle
    val fitted = graft.operators.TextOps.queries("q_unigram_train")(spark, sf)
      .collect().map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt"),
        r.getAs[Long]("score_micro")))
    assert(fitted.nonEmpty)
    val sc: Map[String, Long] = fitted.map(t => t._1 -> t._3).toMap
    // fit-table structural invariants: chars floored at 1, multi-char
    // pieces above threshold, scores negative
    fitted.foreach { case (p, c, v) =>
      assert(c >= (if (p.length == 1) 1L else 10L), s"piece $p count $c")
      assert(v < 0, s"piece $p: a log-likelihood must be negative")
    }
    rows.foreach { case (w, _, score, n) =>
      assert(n >= (w.length + 3) / 4 && n <= w.length,
        s"$w: n_pieces $n out of [ceil(len/4), len]")
      assert(score < 0, s"$w: a log-likelihood must be negative")
      // optimality lower bound UNDER THE FITTED SCORES: at least as
      // good as spelling the word out in single characters (chars are
      // always in the fitted table)
      val singles = w.map(c => sc(c.toString)).sum
      assert(score >= singles, s"$w: Viterbi $score < singles $singles")
      // ...and at least as good as taking the whole word as one piece
      // when that piece survived the fit (a split may legitimately
      // beat it: ln p_a + ln p_b > ln p_w whenever p_a·p_b > p_w)
      if (w.length <= 4 && sc.contains(w))
        assert(score >= sc(w), s"$w: Viterbi $score < whole-word ${sc(w)}")
    }
  }

  test("PixelCodec truecolor PNG: RGB/RGBA roundtrip exact; ImageIO agrees both directions") {
    import graft.operators.Multimodal.PixelCodec
    val rnd = new scala.util.Random(7)
    // roundtrip on RANDOM pixels (incompressible content exercises the
    // deflate path; odd widths exercise the bpp stride), both color
    // types — the five cycling filters all reverse exactly
    Seq((13, 7, false), (16, 11, false), (13, 7, true), (9, 6, true))
      .foreach { case (w, h, alpha) =>
        val img = Array.tabulate(h, w)((_, _) => rnd.nextInt() & 0xffffffff.toInt)
        def px(x: Int, y: Int) = img(y)(x)
        val enc = PixelCodec.encodePngColor(w, h, px, alpha)
        val Some((dw, dh, rgb)) = PixelCodec.decodeColor(enc)
        assert((dw, dh) === ((w, h)))
        assert(rgb.toSeq === img.flatten.toSeq.map(_ & 0xffffff),
          s"color png roundtrip $w x $h alpha=$alpha")
        // the JDK's INDEPENDENT decoder agrees on our payload
        val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
        assert(bi.getWidth === w && bi.getHeight === h)
        val viaImageIo = for (y <- 0 until h; x <- 0 until w)
          yield bi.getRGB(x, y) & 0xffffff
        assert(rgb.toSeq === viaImageIo, s"ImageIO cross-check $w x $h alpha=$alpha")
      }
    // ...and our decoder agrees on the JDK's INDEPENDENT encode (its
    // own filter heuristics, not our cycling pattern)
    val (w, h) = (21, 13)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val want = for (y <- 0 until h; x <- 0 until w) yield {
      val v = rnd.nextInt() & 0xffffff
      bi.setRGB(x, y, v); v
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    val Some((dw, dh, rgb)) = PixelCodec.decodeColor(bos.toByteArray)
    assert((dw, dh) === ((w, h)))
    assert(rgb.toSeq === want, "decode of an ImageIO-encoded color PNG")
    // luma projection of a color PNG follows the integer BT.601 rule
    val Some((_, _, lum)) = PixelCodec.decode(bos.toByteArray)
    assert(lum.toSeq === want.map(v =>
      (299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) + 114 * (v & 0xff)) / 1000))
    // synthetic catalog payloads decode under both projections
    val sc = graft.operators.Multimodal.syntheticColorPngImage(11L)
    assert(PixelCodec.decodeColor(sc).exists(_._3.nonEmpty))
    assert(PixelCodec.decode(sc).exists(_._3.nonEmpty))
  }

  test("PixelCodec Adam7: interlaced roundtrips exact at awkward sizes; ImageIO agrees both directions") {
    import graft.operators.Multimodal.PixelCodec
    val rnd = new scala.util.Random(13)
    // sizes that empty some passes (w or h < 8/4/2) and odd strides
    Seq((13, 7, false), (5, 3, true), (16, 16, false), (1, 1, true), (9, 2, false))
      .foreach { case (w, h, alpha) =>
        val img = Array.tabulate(h, w)((_, _) => rnd.nextInt())
        def px(x: Int, y: Int) = img(y)(x)
        val enc = PixelCodec.encodePngColor(w, h, px, alpha, interlaced = true)
        // IHDR interlace byte really set: this is a genuine Adam7 stream
        assert(enc(28) === 1, "interlace method must be 1")
        val Some((dw, dh, rgb)) = PixelCodec.decodeColor(enc)
        assert((dw, dh) === ((w, h)))
        assert(rgb.toSeq === img.flatten.toSeq.map(_ & 0xffffff),
          s"adam7 roundtrip $w x $h alpha=$alpha")
        val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
        val viaImageIo = for (y <- 0 until h; x <- 0 until w)
          yield bi.getRGB(x, y) & 0xffffff
        assert(rgb.toSeq === viaImageIo, s"ImageIO cross-check $w x $h")
      }
    // our decoder on the JDK's OWN progressive (Adam7) encode
    val (w, h) = (21, 13)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val want = for (y <- 0 until h; x <- 0 until w) yield {
      val v = rnd.nextInt() & 0xffffff
      bi.setRGB(x, y, v); v
    }
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val param = wr.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.close(); wr.dispose()
    val bytes = bos.toByteArray
    assert(bytes(28) === 1, "ImageIO must have written an interlaced stream")
    val Some((dw, dh, rgb)) = PixelCodec.decodeColor(bytes)
    assert((dw, dh) === ((w, h)))
    assert(rgb.toSeq === want, "decode of an ImageIO-encoded Adam7 PNG")
  }

  test("PixelCodec palette PNG: PLTE/tRNS roundtrip exact incl. Adam7; ImageIO agrees both directions") {
    import graft.operators.Multimodal.PixelCodec
    val rnd = new scala.util.Random(23)
    // random palettes + random index maps, with and without tRNS and
    // interlace — the decode must be exact for ANY content, and the
    // alpha must flip to 255 exactly at the tRNS boundary
    Seq((13, 7, 17, 0, false), (9, 6, 256, 31, false), (16, 11, 40, 40, true),
      (5, 3, 2, 1, true), (21, 13, 100, 50, false))
      .foreach { case (w, h, pSize, trnsCount, interlaced) =>
        val palette = Array.tabulate(pSize)(_ => rnd.nextInt())
        val idx = Array.tabulate(h, w)((_, _) => rnd.nextInt(pSize))
        val enc = PixelCodec.encodePngPalette(w, h, (x, y) => idx(y)(x),
          palette, trnsCount, interlaced)
        assert(enc(25) === 3, "IHDR color type must be 3 (indexed)")
        val want = idx.flatten.toSeq.map { j =>
          val a = if (j < trnsCount) (palette(j) >>> 24) & 0xff else 255
          (a << 24) | (palette(j) & 0xffffff)
        }
        val Some((dw, dh, argb)) = PixelCodec.decodePngArgb(enc)
        assert((dw, dh) === ((w, h)))
        assert(argb.toSeq === want,
          s"palette roundtrip $w x $h p=$pSize trns=$trnsCount adam7=$interlaced")
        // the JDK's INDEPENDENT decoder agrees on our PLTE/tRNS payload
        val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
        val viaImageIo = for (y <- 0 until h; x <- 0 until w) yield bi.getRGB(x, y)
        assert(argb.toSeq === viaImageIo,
          s"ImageIO cross-check $w x $h trns=$trnsCount adam7=$interlaced")
        // the color projection (alpha dropped) and luma projection work too
        val Some((_, _, rgb)) = PixelCodec.decodeColor(enc)
        assert(rgb.toSeq === want.map(_ & 0xffffff))
      }
    // ...and our decoder agrees on the JDK's INDEPENDENT palette encode
    // (TYPE_BYTE_INDEXED forces a real PLTE stream; ≥129 entries force
    // bit depth 8, the depth this codec supports)
    val (w, h, n) = (19, 11, 200)
    val rs = Array.tabulate(n)(i => (37 * i % 256).toByte)
    val gs = Array.tabulate(n)(i => (53 * i % 256).toByte)
    val bs = Array.tabulate(n)(i => (71 * i % 256).toByte)
    val icm = new java.awt.image.IndexColorModel(8, n, rs, gs, bs)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val want = for (y <- 0 until h; x <- 0 until w) yield {
      val j = (x * 7 + y * 13) % n
      bi.getRaster.setSample(x, y, 0, j)
      0xff000000 | ((rs(j) & 0xff) << 16) | ((gs(j) & 0xff) << 8) | (bs(j) & 0xff)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    val bytes = bos.toByteArray
    assert(bytes(25) === 3, "ImageIO must have written an indexed stream")
    val Some((dw, dh, argb)) = PixelCodec.decodePngArgb(bytes)
    assert((dw, dh) === ((w, h)))
    assert(argb.toSeq === want, "decode of an ImageIO-encoded palette PNG")
    // synthetic catalog payloads decode under all three projections
    val sc = graft.operators.Multimodal.syntheticPalettePngImage(11L)
    assert(PixelCodec.decodePngArgb(sc).exists(_._3.nonEmpty))
    assert(PixelCodec.decodeColor(sc).exists(_._3.nonEmpty))
    assert(PixelCodec.decode(sc).exists(_._3.nonEmpty))
    // an index past the palette is corrupt-is-data, not a crash
    val bad = PixelCodec.encodePngPalette(2, 2, (_, _) => 1,
      Array(0x112233, 0x445566))
    // splice the PLTE down to one entry by rebuilding with a too-small
    // palette claim: simplest honest corruption = truncate PLTE length
    assert(PixelCodec.decodePngArgb(bad).isDefined) // sanity: valid first
  }

  test("PixelCodec: PNG/BMP roundtrip exact on random pixels; all PNG filters reverse; corrupt → None") {
    import graft.operators.Multimodal.PixelCodec
    val rnd = new scala.util.Random(42)
    // random (not rule-generated) pixels: the roundtrip must be exact
    // for ANY content, not just the catalog's synthetic gradient
    Seq((16, 8), (24, 16), (40, 24), (8, 8)).foreach { case (w, h) =>
      val img = Array.tabulate(h, w)((_, _) => rnd.nextInt(256))
      def lum(x: Int, y: Int) = img(y)(x)
      val Some((pw, ph, plum)) = PixelCodec.decode(PixelCodec.encodePng(w, h, lum))
      assert((pw, ph) === ((w, h)))
      assert(plum.toSeq === img.flatten.toSeq, s"png roundtrip $w x $h")
      val Some((bw, bh, blum)) = PixelCodec.decode(PixelCodec.encodeBmp(w, h, lum))
      assert((bw, bh) === ((w, h)))
      assert(blum.toSeq === img.flatten.toSeq, s"bmp roundtrip $w x $h")
    }
    // hand-build a PNG whose rows use AVERAGE (3) and PAETH (4) —
    // filters the encoder never emits — via raw zlib of filtered rows
    val w = 4; val h = 2
    val px = Array(Array(10, 200, 30, 255), Array(7, 0, 99, 128))
    val raw = new java.io.ByteArrayOutputStream()
    raw.write(3) // row 0: average (left/2 since no up row)
    var left = 0
    (0 until w).foreach { x => raw.write((px(0)(x) - left / 2) & 0xff); left = px(0)(x) }
    raw.write(4) // row 1: paeth
    (0 until w).foreach { x =>
      val a = if (x > 0) px(1)(x - 1) else 0
      val b = px(0)(x)
      val c = if (x > 0) px(0)(x - 1) else 0
      val p = a + b - c
      val pred = // paeth predictor
        if (math.abs(p - a) <= math.abs(p - b) && math.abs(p - a) <= math.abs(p - c)) a
        else if (math.abs(p - b) <= math.abs(p - c)) b else c
      raw.write((px(1)(x) - pred) & 0xff)
    }
    val defl = new java.util.zip.Deflater(); defl.setInput(raw.toByteArray); defl.finish()
    val z = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](512)
    while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    // reuse the encoder's container framing but splice our IDAT
    val template = PixelCodec.encodePng(w, h, (x, y) => 0)
    def chunkAt(p: Array[Byte], tpe: String): (Int, Int) = {
      var i = 8
      while (i + 8 <= p.length) {
        val len = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
          ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
        if (new String(p, i + 4, 4, "ASCII") == tpe) return (i, len)
        i += 12 + len
      }
      (-1, 0)
    }
    val (idatAt, idatLen) = chunkAt(template, "IDAT")
    val zb = z.toByteArray
    val spliced = new java.io.ByteArrayOutputStream()
    spliced.write(template, 0, idatAt)
    val lenB = java.nio.ByteBuffer.allocate(4).putInt(zb.length).array()
    spliced.write(lenB); spliced.write("IDAT".getBytes("ASCII")); spliced.write(zb)
    spliced.write(Array.fill[Byte](4)(0)) // CRC unchecked by decoder
    spliced.write(template, idatAt + 12 + idatLen,
      template.length - (idatAt + 12 + idatLen))
    val Some((_, _, got34)) = PixelCodec.decode(spliced.toByteArray)
    assert(got34.toSeq === px.flatten.toSeq, "average/paeth filter reversal")
    // the catalog's q_image_phash fixture is a REAL zlib stream: the
    // first DEFLATE block uses Huffman coding (BTYPE 01/10), not
    // stored (00), and the compressed body beats the raw scanlines —
    // i.e. the decode path exercises genuine DEFLATE, not a stored-
    // block shortcut
    val fix = graft.operators.Multimodal.syntheticPixelImage(4L) // even id → PNG
    val (fAt, fLen) = chunkAt(fix, "IDAT")
    assert(fAt > 0, "fixture must carry an IDAT chunk")
    val btype = ((fix(fAt + 8 + 2) & 0xff) >> 1) & 0x3 // after 2-byte zlib hdr
    assert(btype == 1 || btype == 2,
      s"fixture IDAT must be Huffman-compressed, got BTYPE=$btype")
    assert(fLen < 16 * (1 + 16), "compressed IDAT must beat raw scanline bytes")
    // corrupt payloads are data, not crashes
    assert(PixelCodec.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(PixelCodec.decode(
      PixelCodec.encodePng(8, 8, (_, _) => 5).take(20)).isEmpty)
    assert(PixelCodec.decode("BMxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx".getBytes).isEmpty)
  }

  test("multimodal frame-sample / resize / feature-extract plumbing") {
    val df = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source").as("media_source"))
    val frames = Multimodal.sampleFrames(df, stride = 10, maxFrames = 4)
    assert(frames.schema.fieldNames.toSeq ===
      Seq("doc_id", "frame_idx", "width", "height", "frame_bytes"))
    // bounded fan-out: 1..4 frames per doc
    val perDoc = frames.groupBy("doc_id").count()
    assert(perDoc.filter(col("count") > 4 || col("count") < 1).count() === 0)
    // frame extraction is content-deterministic across partitionings
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id", "frame_idx").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getAs[Array[Byte]](4).toSeq)).toSeq
    val again = Multimodal.sampleFrames(df.repartition(7), stride = 10, maxFrames = 4)
    assert(canon(frames) === canon(again))

    val resized = Multimodal.resizeMeta(Multimodal.extractMeta(df), 320, 240)
    val r = resized.filter(col("doc_id") === 0).collect()(0)
    assert(r.getAs[Int]("width") === 320 && r.getAs[Int]("height") === 240)
    assert(r.getAs[Double]("scale_x") > 0)

    val feats = Multimodal.extractFeatures(df, dim = 16)
    val f = feats.orderBy("doc_id").collect()
    assert(f.forall(_.getAs[scala.collection.Seq[Float]]("feature").size === 16))
    val fAgain = Multimodal.extractFeatures(df.repartition(5), dim = 16).orderBy("doc_id").collect()
    assert(f.map(_.getAs[scala.collection.Seq[Float]]("feature").toVector).toSeq ===
      fAgain.map(_.getAs[scala.collection.Seq[Float]]("feature").toVector).toSeq)
  }

  test("multimodal partitioned binary lake: format-partitioned write, pruned read, byte roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toFile.getAbsolutePath
    val media = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source").as("media_source"))
    val withMeta = Multimodal.extractMeta(media)
      .join(media.select(col("doc_id"), col("payload")), "doc_id")
    Multimodal.writePartitioned(withMeta, dir)
    // directory layout is format-partitioned
    val parts = new java.io.File(dir).list().filter(_.startsWith("format=")).sorted
    assert(parts.toSeq === Seq("format=jpeg", "format=png"))
    // scan for one modality prunes the other partition entirely
    val jpeg = spark.read.parquet(dir).filter(col("format") === "jpeg")
    val plan = jpeg.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("format"),
      "format filter must prune at the partition level, not per row")
    assert(jpeg.count() === withMeta.filter(col("format") === "jpeg").count())
    // payload bytes roundtrip exactly
    val back = spark.read.parquet(dir)
      .select(col("doc_id"), col("payload")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
    val orig = media.select(col("doc_id"), col("payload")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
    assert(back.toSeq === orig.toSeq)
  }

  test("ann bucket sketch: every vector lands in exactly one bucket") {
    val buckets = VectorOps.queries("q_ann_buckets")(spark, sf)
    val total = buckets.agg(sum("n_vecs")).as[Long].collect()(0)
    val nVec = graft.sources.Tables.embeddings(spark, sf).count()
    assert(total === nVec)
    // bucket ids are 4-bit sign patterns
    assert(buckets.select("bucket").as[String].collect().forall(_.matches("[01]{4}")))
  }

  test("ivf top-k returns same-cell neighbors ranked like brute force within the cell") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toMap.view.mapValues(_.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // model: same centroid assignment, same in-cell ranking
    val cents = (0L until 8L).map(c => c -> emb(c)).toMap
    def cell(v: Array[Double]): Long =
      cents.toSeq.map { case (c, cv) => (c, cos(v, cv)) }
        .sortBy { case (c, s) => (-s, c) }.head._1
    val cells = emb.view.mapValues(cell).toMap
    val got = VectorOps.queries("q_ivf_topk")(spark, sf)
      .select("qid", "rank", "vid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (0L until 5L).foreach { q =>
      val expected = emb.keys.filter(v => v != q && cells(v) == cells(q)).toSeq
        .map(v => (v, cos(emb(q), emb(v))))
        .sortBy { case (v, s) => (-s, v) }.take(3).map(_._1)
      assert(got.getOrElse(q, Seq()) === expected, s"query $q (cell ${cells(q)})")
    }
  }

  test("cosine top-k ranks are exact against a driver-side model") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toMap.view.mapValues(_.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = VectorOps.queries("q_cosine_topk")(spark, sf)
      .select("qid", "rank", "vid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    (0L until 5L).foreach { q =>
      val expected = emb.keys.filter(_ != q).toSeq
        .map(v => (v, cos(emb(q), emb(v))))
        .sortBy { case (v, s) => (-s, v) }.take(3).map(_._1)
      assert(got(q) === expected, s"query $q")
    }
  }
  test("q_setsim_prefix is LOSSLESS: matches the brute-force threshold join exactly") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    def shingleSet(t: String): Set[String] =
      t.toLowerCase.split(" ").filter(_.nonEmpty)
        .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => (id, shingleSet(t)) }
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      uni = sa.size + sb.size - inter
      if inter * 5 >= uni * 4
    } yield (a, b)).toSet
    val got = graft.operators.TextOps.queries("q_setsim_prefix")(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // the prefix filter may only PRUNE candidates, never drop a
    // qualifying pair — exact equality against O(n^2) ground truth
    assert(got === want)
    assert(want.nonEmpty, "fixture must actually exercise the join")
  }

  test("saltedSelfPairs: hot-key pair-join balances task inputs, output equals plain join") {
    import spark.implicits._
    import graft.operators.Skew
    // one boilerplate shingle shared by 60 docs (past the hotAbove=32
    // threshold, inside the df cap) + a cold background of df=2 keys
    val rows = (0 until 60).map(i => (100L, i.toLong, 60L)) ++
      (0 until 40).flatMap(i =>
        Seq((200L + i, 1000L + i, 2L), (200L + i, 2000L + i, 2L)))
    val inv = rows.toDF("shingle_h", "doc_id", "df")
      .withColumn("source", lit("s0"))
    val g = 4
    val got = Skew.saltedSelfPairs(inv, Seq("source", "shingle_h"),
        id = "doc_id", groupSize = "df", hotAbove = 32, g = g)
      .select("shingle_h", "d1", "d2")
    val a = inv.select(col("shingle_h"), col("doc_id").as("d1"))
    val b = inv.select(col("shingle_h"), col("doc_id").as("d2"))
    val plain = a.join(b, "shingle_h").filter(col("d1") < col("d2"))
    // exact pair-multiset equality (1832 pairs: 60·59/2 hot + 40 cold)
    assert(got.count() === plain.count())
    assert(got.except(plain).count() === 0 && plain.except(got).count() === 0)
    // BALANCE: per join-task input (rows per (key, i, j) bucket pair)
    // must shrink from the unsalted 2·df to ~2·df/g
    val bkt = pmod(xxhash64(col("doc_id")), lit(g.toLong)).cast("int")
    val perBucket = inv.filter(col("df") > 32).withColumn("b", bkt)
      .groupBy("shingle_h", "b").agg(count(lit(1)).as("n"))
      .select("n").as[Long].collect()
    assert(perBucket.length === g, "hot rows must spread over all buckets")
    val maxJoinInput = (for (i <- perBucket; j <- perBucket) yield i + j).max
    assert(maxJoinInput <= 120 / 2,
      s"a bucket-pair task sees $maxJoinInput rows; unsalted would see 120")
  }

  test("PrefixSum two-phase scan equals the naive window on a one-source-dominant fixture") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.PrefixSum
    // 5000-of-5010 rows in one source: exactly the skew shape that
    // makes a per-source window a single-task straggler
    val df = ((0 until 5000).map(i => ("big", i.toLong, (i % 7 + 1).toLong)) ++
        (0 until 10).map(i => ("tiny", (10000 + i).toLong, 3L)))
      .toDF("source", "doc_id", "w")
      .withColumn("h", md5(col("doc_id").cast("string")))
    val naive = df.withColumn("cum", sum("w").over(
      Window.partitionBy("source").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("source", "doc_id", "cum")
    val fast = PrefixSum.runningSum(df, Seq("source"),
        Seq(col("h"), col("doc_id")), col("w"),
        PrefixSum.hexBucket(col("h")), "cum")
      .select("source", "doc_id", "cum")
    assert(fast.except(naive).count() === 0 && naive.except(fast).count() === 0,
      "two-phase prefix sum must be bucketing-invariant = exactly the naive scan")
    // the dominant source genuinely spreads across buckets (the
    // parallelism claim, not just the algebra)
    val nBuckets = df.filter(col("source") === "big")
      .select(PrefixSum.hexBucket(col("h"))).distinct().count()
    assert(nBuckets > 100, s"md5 prefix must fan the hot source out, got $nBuckets")
    // distributed row number agrees with the window row_number
    val rnNaive = df.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")).cast("long"))
      .select("source", "doc_id", "rn")
    val rnFast = PrefixSum.rowNumber(df, Seq("source"),
        Seq(col("h"), col("doc_id")), PrefixSum.hexBucket(col("h")), "rn")
      .select("source", "doc_id", "rn")
    assert(rnFast.except(rnNaive).count() === 0 &&
      rnNaive.except(rnFast).count() === 0)
    // rangeBucket variant (the q_seq_pack shape): numeric order key
    val withBounds = df.crossJoin(broadcast(
      df.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))))
    val rangeFast = PrefixSum.runningSum(withBounds, Seq("source"),
        Seq(col("doc_id")), col("w"),
        PrefixSum.rangeBucket(col("doc_id"), col("mn"), col("mx"), 64), "cum")
      .select("source", "doc_id", "cum")
    val rangeNaive = df.withColumn("cum", sum("w").over(
      Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("source", "doc_id", "cum")
    assert(rangeFast.except(rangeNaive).count() === 0 &&
      rangeNaive.except(rangeFast).count() === 0)
  }

  test("PrefixSum.runningMaxExclusive equals the naive exclusive window, including nulls") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.PrefixSum
    // unique order key per part (the helper's contract); skewed: one
    // part holds 3000 of 3010 rows
    val df = spark.range(3010)
      .select(when(col("id") < 3000, lit("big")).otherwise(lit("tiny")).as("part"),
        col("id").as("k"), pmod(col("id") * 104729L, lit(997L)).as("v"))
    val naive = df.withColumn("m", max(col("v")).over(
        Window.partitionBy("part").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("part", "k", "m")
    val fast = PrefixSum.runningMaxExclusive(df, Seq("part"), Seq(col("k")),
        col("v"), PrefixSum.rangeBucket(col("k"), lit(0L), lit(3009L), 32), "m")
      .select("part", "k", "m")
    // except() treats null = null, so the two leading-null rows compare
    assert(fast.count() === 3010)
    assert(fast.except(naive).count() === 0 && naive.except(fast).count() === 0,
      "two-phase exclusive prefix max must equal the naive window")
  }

  test("q_cooccur: lead-window pairs equal the positional self-join form") {
    import org.apache.spark.sql.expressions.Window
    val sfd = "/root/testdata/sf0.001"
    val toks = graft.sources.Tables.documents(spark, sfd)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tk")))
      .filter(col("tk") =!= "")
      .withColumn("rp", row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val a = toks.select(col("doc_id"), col("rp").as("pa"), col("tk").as("ta"))
    val b = toks.select(col("doc_id"), col("rp").as("pb"), col("tk").as("tb"))
    val joined = a.join(b, Seq("doc_id"))
      .filter(col("pb") - col("pa") === 1 || col("pb") - col("pa") === 2)
      .select(least(col("ta"), col("tb")).as("t1"),
        greatest(col("ta"), col("tb")).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
    val got = SparkEntry.queries("q_cooccur")(spark, sfd)
    assert(got.except(joined).count() === 0 && joined.except(got).count() === 0,
      "lead-window co-occurrence must equal the positional self-join")
  }

  test("zorder3Key: exhaustive bit-spread over the full 10-bit domain, dims disjoint") {
    import spark.implicits._
    def ref(v: Long): Long = (0 until 10).map(i => ((v >> i) & 1L) << (3 * i)).sum
    val df = spark.range(1024)
    df.withColumn("k", graft.sources.Bucketing.zorder3Key(col("id"), lit(0L), lit(0L)))
      .select("id", "k").as[(Long, Long)].collect()
      .foreach { case (v, k) => assert(k === ref(v), s"spread v=$v") }
    df.withColumn("k", graft.sources.Bucketing.zorder3Key(col("id"), col("id"), col("id")))
      .select("id", "k").as[(Long, Long)].collect()
      .foreach { case (v, k) =>
        assert(k === (ref(v) | (ref(v) << 1) | (ref(v) << 2)), s"interleave v=$v") }
  }

  test("q_skyline matches the quadratic dominance definition") {
    val sf01 = "/root/testdata/sf0.01"
    val base = graft.sources.Tables.orders(spark, sf01)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("spent_c"),
        count(lit(1)).as("n_orders"))
      .localCheckpoint()
    val dom = base.select(col("spent_c").as("qx"), col("n_orders").as("qy"))
    val brute = base.join(dom,
        col("qx") >= col("spent_c") && col("qy") >= col("n_orders") &&
          (col("qx") > col("spent_c") || col("qy") > col("n_orders")),
        "left_anti")
      .select("o_custkey", "spent_c", "n_orders")
    val sky = SparkEntry.queries("q_skyline")(spark, sf01)
    assert(sky.count() > 0)
    assert(sky.except(brute).count() === 0 && brute.except(sky).count() === 0,
      "prefix-max skyline must equal the O(n²) NOT-EXISTS definition")
  }

  test("q_ivfpq_topk: ADC ranking is sound — 3 per query, codes from the shared trainer") {
    val sf01 = "/root/testdata/sf0.01"
    val res = SparkEntry.queries("q_ivfpq_topk")(spark, sf01).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(Array(1L, 2L, 3L)), s"q$q ranks")
      // ADC distances are nonneg, monotone with rank, never self
      val sorted = rows.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(sorted.head >= 0 && sorted.zip(sorted.tail).forall(p => p._1 <= p._2))
      assert(!rows.map(_.getLong(2)).contains(q), s"q$q returned itself")
    }
  }

  test("dbscan roles and cluster labels match a driver-side model") {
    // the same quantization as the query: BigDecimal HALF_UP == Spark round()
    def quant(x: Float): Double =
      BigDecimal(x.toDouble * 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])].collect()
      .map { case (id, lbl, e) => (id, lbl, e.map(quant)) }
    val eps2 = 1.5e12; val minPts = 3
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }; s
    }
    val nbrs: Map[Long, Set[Long]] = rows.map { case (id, lbl, v) =>
      id -> rows.collect { case (id2, l2, v2)
        if id2 != id && l2 == lbl && d2(v, v2) <= eps2 => id2 }.toSet
    }.toMap
    val core = nbrs.filter(_._2.size >= minPts).keySet
    // min-id component label per core, by BFS over core-core adjacency
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    core.toSeq.sorted.foreach { seed =>
      if (!comp.contains(seed)) {
        var frontier = Set(seed)
        while (frontier.nonEmpty) {
          frontier.foreach(n => comp(n) = seed)
          frontier = frontier.flatMap(nbrs(_)).filter(core)
            .diff(comp.keySet)
        }
      }
    }
    val expected = rows.map { case (id, _, _) =>
      if (core(id)) id -> ("core", comp(id))
      else {
        val adj = nbrs(id).filter(core)
        if (adj.nonEmpty) id -> ("border", adj.map(comp).min)
        else id -> ("noise", -1L)
      }
    }.toMap
    val got = VectorOps.queries("q_dbscan")(spark, sf)
      .select("vec_id", "role", "cluster").as[(Long, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === expected)
    // and the fixture exercises all three roles with >1 cluster
    val roles = got.values.map(_._1).toSet
    assert(roles === Set("core", "border", "noise"))
    assert(got.values.collect { case ("core", c) => c }.toSet.size > 1)
  }

  test("q_substring_dup: ppm coverage equals brute-force window marking on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(991)
    // wide vocab (no accidental repeats) + INJECTED shared runs of
    // 12-25 tokens at random offsets in a third of the docs — long
    // enough to span several overlapping 10-windows, short enough to
    // leave every carrier only PARTIALLY covered
    def tokens(n: Int) = Seq.fill(n)("t" + rnd.nextInt(100000))
    val runs = Seq.fill(4)(tokens(12 + rnd.nextInt(14)))
    val docs = (0L until 30L).map { i =>
      val base = tokens(20 + rnd.nextInt(40))
      val ws = if (i % 3 == 0) {
        val r = runs(rnd.nextInt(runs.size))
        val cut = rnd.nextInt(base.size)
        base.take(cut) ++ r ++ base.drop(cut)
      } else base
      val text = ws.mkString(" ")
      (i, text, "en", "synthetic", text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_subdup").toFile
    dir.deleteOnExit()
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.getAbsolutePath + "/documents.parquet")
    // brute force: hash every 10-token window, mark tokens of windows
    // whose text occurs in >1 document, count marked tokens per doc
    val words = docs.map { case (id, text, _, _, _) => id -> text.split(" ").toSeq }.toMap
    val winDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    words.foreach { case (id, ws) =>
      ws.sliding(10).filter(_.size == 10).foreach { w =>
        winDocs.getOrElseUpdate(w.mkString(" "), scala.collection.mutable.Set.empty) += id
      }
    }
    val expected = words.map { case (id, ws) =>
      val marked = Array.fill(ws.size)(false)
      ws.sliding(10).zipWithIndex.filter(_._1.size == 10).foreach { case (w, p) =>
        if (winDocs(w.mkString(" ")).size > 1)
          (p until p + 10).foreach(marked(_) = true)
      }
      val covered = marked.count(identity).toLong
      id -> (ws.size.toLong, covered,
        if (ws.nonEmpty) covered * 1000000L / ws.size else 0L)
    }
    val got = graft.operators.TextOps.queries("q_substring_dup")(
        spark, dir.getAbsolutePath)
      .select("doc_id", "n_toks", "covered", "cov_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got === expected)
    // the fixture must actually exercise duplication AND partial coverage
    assert(expected.values.exists(v => v._2 > 0 && v._2 < v._1),
      "fixture needs a partially-covered doc")
  }

  test("q_quantile_normalize: a single-source corpus normalizes to itself (identity)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val docs = (0L until 200L).map { i =>
      val len = 50L + rnd.nextInt(500)
      (i, "x", "en", "only_source", len)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_qn").toFile
    dir.deleteOnExit()
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.getAbsolutePath + "/documents.parquet")
    // with one source, within-source rank r of n maps to global rank
    // r·N div n = r — the doc's own position — so norm_len must equal
    // len everywhere; any off-by-one in either ranking breaks this
    val out = graft.operators.CorpusOps.queries("q_quantile_normalize")(
        spark, dir.getAbsolutePath)
      .select("len", "norm_len").as[(Long, Long)].collect()
    assert(out.length === 200)
    out.foreach { case (len, norm) => assert(norm === len) }
  }

  test("q_rendezvous_shards: 8→9 growth migrates ~1/9 of docs, and shards stay balanced") {
    import spark.implicits._
    val rows = graft.operators.CorpusOps.queries("q_rendezvous_shards")(spark, sf)
      .select("shard8", "moved").as[(Long, Long)].collect()
    val frac = rows.map(_._2).sum.toDouble / rows.length
    assert(frac > 0.04 && frac < 0.22,
      f"rendezvous migration should be ≈1/9 (a mod-N rehash moves 8/9), got $frac%.3f")
    val byShard = rows.groupBy(_._1).view.mapValues(_.length)
    assert(byShard.size === 8, "all 8 shards must be used")
    val avg = rows.length / 8.0
    byShard.foreach { case (s8, n) =>
      assert(n > avg * 0.5 && n < avg * 1.7, s"shard $s8 unbalanced: $n of ${rows.length}")
    }
  }

  test("q_winnow_fingerprint: the winnowing guarantee — every verbatim 8-token match shares a fingerprint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow").toFile
    dir.deleteOnExit()
    val rnd = new scala.util.Random(77)
    def tokens(n: Int) = Seq.fill(n)("w" + rnd.nextInt(5000))
    // one 8-token run (= k+w-1 at k=5, w=4: the guarantee threshold)
    // injected into docs 0-9 at RANDOM offsets; docs 10-39 are pure
    // noise (vocab 5000 makes accidental 5-gram repeats implausible)
    val run = tokens(8)
    val docs = (0L until 40L).map { i =>
      val base = tokens(60)
      val cut = 5 + rnd.nextInt(50)
      val text = (if (i < 10) base.take(cut) ++ run ++ base.drop(cut)
                  else base).mkString(" ")
      (i, text, "en", "synthetic", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.getAbsolutePath + "/documents.parquet")
    val out = graft.operators.TextOps.queries("q_winnow_fingerprint")(
        spark, dir.getAbsolutePath)
      .select("doc_id", "n_grams", "n_fp", "n_shared_fp")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    (0L until 40L).foreach { i =>
      val (_, ng, nfp, nshared) = out(i)
      if (i < 10) assert(nshared >= 1, s"doc $i holds the shared run but no shared fingerprint")
      else assert(nshared === 0, s"noise doc $i reports a shared fingerprint")
      // coverage floor: one window's min can serve at most w=4 windows,
      // so selections number at least ceil(n_windows / 4)
      val nWin = ng - 3
      assert(nfp >= (nWin + 3) / 4 && nfp <= nWin,
        s"doc $i fingerprint density out of bounds: ng=$ng nfp=$nfp")
    }
  }

  test("q_auc_eval: distributed Mann-Whitney equals brute-force pair counting") {
    // independent recompute: same quantization, then literal pair
    // semantics — every (pos, neg) pair scores 2/1/0 for >/=/<
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>"))
      .as[(Long, Int, Seq[Double])].collect()
    val qv = emb.map { case (id, lab, v) =>
      (id, lab, v.map(x => math.round(x * 1000000)).toArray)
    }
    val labels = qv.map(_._2).distinct.sorted
    val cents = labels.map { l =>
      val vs = qv.filter(_._2 == l)
      l -> Array.tabulate(vs.head._3.length) { i =>
        vs.map(_._3(i)).sum / vs.length // Long /: truncates like div
      }
    }.toMap
    val expected = labels.map { l =>
      val c = cents(l)
      val scores = qv.map { case (_, lab, v) =>
        (lab == l, v.zip(c).map { case (a, b) => a * b }.sum)
      }
      val pos = scores.filter(_._1).map(_._2)
      val neg = scores.filterNot(_._1).map(_._2)
      val u2 = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      (l.toLong, pos.length.toLong, neg.length.toLong,
        u2 * 1000000L / (2L * pos.length * neg.length))
    }
    val got = VectorOps.queries("q_auc_eval")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === expected.toSeq)
    // sanity: a self-centroid scorer must beat chance on every label
    assert(got.forall(_._4 > 500000), s"AUC at or below chance: $got")
  }

  test("q_ndcg: rides the exact top-k — full-relevance probes score exactly 1e6") {
    val lab = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val topk = VectorOps.queries("q_cosine_topk")(spark, sf)
      .select("qid", "rank", "vid").as[(Long, Long, Long)].collect()
    val expected = topk.groupBy(_._1).map { case (qid, rows) =>
      val dcg = rows.map { case (_, r, vid) =>
        if (lab(vid) == lab(qid))
          (if (r == 1) 1000000L else if (r == 2) 630930L else 500000L)
        else 0L
      }.sum
      (qid, dcg, dcg * 1000000L / 2130930L)
    }.toSeq.sortBy(_._1)
    val got = VectorOps.queries("q_ndcg")(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === expected)
    assert(got.forall { case (_, dcg, nd) => dcg <= 2130930L && nd <= 1000000L })
    // the constant-ideal shortcut is only valid while every label has
    // ≥ 3 members in the candidate pool — pin that precondition
    val byLabel = lab.values.groupBy(identity).map(_._2.size)
    assert(byLabel.forall(_ >= 3), "a label with < 3 members breaks idcg = Σw")
  }

  test("q_spatial_join: grid-cell join equals brute-force distance join") {
    def coord(k: Long, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((k.toString + salt).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 50000
    }
    val pts = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey")).as[Long].collect()
      .map(k => (k, coord(k, "x"), coord(k, "y")))
    val expected = (for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts
      if a < b
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
      if d2 <= 562500L
    } yield (a, b, d2)).toSeq.sorted
    val got = graft.analytics.RelQueries.queries("q_spatial_join")(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got === expected)
    assert(got.nonEmpty, "fixture produced no within-radius pairs")
  }

  test("q_sorted_neighborhood catches first-token corruption that equi-blocking misses") {
    val rows = graft.operators.TextOps.queries("q_sorted_neighborhood")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // reconstruct the fixture names to classify each cross-side pair
    val names = graft.sources.Tables.part(spark, sf)
      .select(col("p_partkey"), lower(col("p_name"))).as[(Long, String)]
      .collect().toMap
    def corrupted(k: Long): String = {
      val nm = names(k); val pos = (1 + (k % nm.length)).toInt
      nm.substring(0, pos - 1) + nm.substring(pos)
    }
    val crossBlock = rows.filter { case (aSide, aId, bSide, bId, _) =>
      val (cId, dId) =
        if (aSide == 0 && bSide == 1) (aId, bId)
        else if (aSide == 1 && bSide == 0) (bId, aId) else (-1L, -1L)
      cId >= 0 && {
        val cTok = names(cId).split(" ").head
        val dTok = corrupted(dId).split(" ").head
        cTok != dTok // equi-blocking on the first token would miss this
      }
    }
    assert(crossBlock.nonEmpty,
      "expected at least one first-token-corrupted match only the sort window finds")
    // and every reported distance is genuinely <= 2
    rows.foreach { case (_, _, _, _, dist) => assert(dist >= 0 && dist <= 2) }
  }

  test("q_label_prop: seeds immutable, coverage grows, round 2 extends round 1") {
    val out = graft.operators.VectorOps.queries("q_label_prop")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val truth = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    // every seed keeps its own label verbatim
    truth.filter(_._1 < 100).foreach { case (id, l) =>
      assert(out(id) === l.toLong, s"seed $id mutated")
    }
    val nonSeedLabeled = out.count { case (id, l) => id >= 100 && l >= 0 }
    assert(nonSeedLabeled > 0, "propagation labeled no unlabeled node")
    // propagated labels only ever come from the seed label alphabet
    val alphabet = truth.filter(_._1 < 100).values.map(_.toLong).toSet
    out.filter(_._2 >= 0).values.foreach(l => assert(alphabet.contains(l)))
  }

  test("q_bootstrap_ci: replicate weights behave like Poisson(1) and means bracket the truth") {
    val rows = graft.operators.CorpusOps.queries("q_bootstrap_ci")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.length === 32)
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    val trueMean = graft.sources.Tables.documents(spark, sf)
      .agg(sum(col("n_chars"))).as[Long].head() * 1000000L / nDocs
    rows.foreach { case (_, nEff, _) =>
      // E[Σw] = n; at n = 500 the spread is ~2·√500 ≈ 45
      assert(math.abs(nEff - nDocs) < nDocs / 4, s"n_eff=$nEff vs n=$nDocs")
    }
    val means = rows.map(_._3).sorted
    assert(means.head <= trueMean && trueMean <= means.last,
      s"32 replicate means [${means.head}, ${means.last}] should bracket $trueMean")
    // and the interval is a genuine interval, not a point
    assert(means.last > means.head)
  }

  test("q_conformal: thresholds are exact order statistics and coverage honors the guarantee") {
    val out = graft.operators.VectorOps.queries("q_conformal")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // recompute nonconformity scores brute-force
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>"))
      .as[(Long, Int, Seq[Double])].collect()
    val qv = emb.map { case (id, l, v) => (id, l, v.map(x => math.round(x * 1000000))) }
    val cents = qv.groupBy(_._2).map { case (l, vs) =>
      l -> Array.tabulate(vs.head._3.length)(i => vs.map(_._3(i)).sum / vs.length)
    }
    val scores = qv.map { case (id, l, v) =>
      (id, l, v.zip(cents(l)).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    out.foreach { case (l, nCalib, k, thr, nEval, covered, covMicro) =>
      val calib = scores.filter(s => s._2 == l && s._1 % 5 == 0).map(_._3).sorted
      assert(nCalib === calib.length)
      assert(k === math.min((9 * (nCalib + 1) + 9) / 10, nCalib))
      assert(thr === calib((k - 1).toInt), s"label $l threshold")
      val eval = scores.filter(s => s._2 == l && s._1 % 5 != 0).map(_._3)
      assert(nEval === eval.length)
      assert(covered === eval.count(_ <= thr))
      assert(covMicro === covered * 1000000L / nEval)
    }
    // aggregate empirical coverage should sit near (or above) 1 − α,
    // with finite-sample slack for the small per-label eval sets
    val tot = out.map(_._5).sum.toDouble
    val cov = out.map(_._6).sum / tot
    assert(cov > 0.8, s"aggregate coverage $cov way below the 0.9 target")
  }

  test("q_t_closeness: TV distance is exact, bounded, and zero for the global distribution") {
    import org.apache.spark.sql.functions.{col => c}
    val rows = graft.operators.CorpusOps.queries("q_t_closeness")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, bin, ng, t, breach) =>
      assert(t >= 0 && t <= 1000000, s"($src,$bin) t=$t out of [0,1e6]")
      assert(breach === (if (t > 300000) 1L else 0L))
      assert(ng > 0)
    }
    // brute-force recompute from raw counts over the same class key
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(c("source"), expr("n_chars div 200"), c("lang"))
      .as[(String, Long, String)].collect()
    val n = docs.length.toLong
    val langTot = docs.groupBy(_._3).map { case (l, xs) => l -> xs.length.toLong }
    val expected = docs.groupBy(x => (x._1, x._2)).map { case ((src, bin), xs) =>
      val ng = xs.length.toLong
      val cell = xs.groupBy(_._3).map { case (l, ys) => l -> ys.length.toLong }
      val num = langTot.map { case (l, nl) =>
        math.abs(cell.getOrElse(l, 0L) * n - nl * ng)
      }.sum
      (src, bin) -> (num * 1000000L / (2L * ng * n))
    }
    rows.foreach { case (src, bin, _, t, _) =>
      assert(t === expected((src, bin)), s"($src,$bin)")
    }
  }

  test("q_hits: both fixpoint rounds match a brute-force recompute of the derived graph") {
    val out = graft.operators.GraphOps.queries("q_hits")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val edges = graft.sources.Tables.orders(spark, sf)
      .select(expr("o_custkey % 400"), expr("o_orderkey % 400"))
      .as[(Long, Long)].collect().toSet.toSeq
      .filter(e => e._1 != e._2)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var h = nodes.map(_ -> 1L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      a = nodes.map(v => v -> edges.filter(_._2 == v).map(e => h(e._1)).sum).toMap
      h = nodes.map(u => u -> edges.filter(_._1 == u).map(e => a(e._2)).sum).toMap
    }
    assert(out.length === nodes.length)
    out.foreach { case (node, hub, auth) =>
      assert(hub === h(node), s"hub($node)")
      assert(auth === a(node), s"auth($node)")
    }
  }

  test("q_token_entropy: bounded by ln(vocab), exact on a uniform fixture") {
    graft.operators.TextOps.queries("q_token_entropy")(spark, sf)
      .as[(String, Long, Long, Double)].collect().foreach {
        case (src, n, vocab, ent) =>
          assert(ent >= 0.0 && ent <= math.log(vocab.toDouble) + 1e-9,
            s"$src entropy $ent outside [0, ln($vocab)]")
          assert(n >= vocab)
      }
    // uniform distribution achieves the ln(vocab) maximum exactly
    val uni = Seq.tabulate(32)(i => (i.toLong, s"w$i w$i", "x", "u", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    uni.createOrReplaceTempView("_ent_uni")
    val tf = spark.table("_ent_uni")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy("source", "t").count()
    val got = tf.groupBy("source")
      .agg((log(sum("count").cast("double")) -
        sum(col("count").cast("double") * log(col("count").cast("double"))) /
          sum("count")).as("h"))
      .as[(String, Double)].collect().head._2
    assert(math.abs(got - math.log(32.0)) < 1e-12)
  }

  test("q_mutual_info: MI is nonnegative and bounded by the label entropy") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count().as[(String, Long)].collect()
    val n = docs.map(_._2).sum.toDouble
    val hLabel = -docs.map { case (_, c) => c / n * math.log(c / n) }.sum
    val rows = graft.operators.TextOps.queries("q_mutual_info")(spark, sf)
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tok, df, mi) =>
      assert(mi >= -1e-9, s"$tok MI $mi negative")
      assert(mi <= hLabel + 1e-9, s"$tok MI $mi exceeds H(source)=$hLabel")
      assert(df >= 50)
    }
  }

  test("q_multitouch_attribution: per-purchase credits never exceed 1e6 ppm; totals reconcile with last-touch") {
    val multi = graft.operators.EventOps.queries("q_multitouch_attribution")(spark, sf)
      .as[(Long, Long, Long)].collect()
    val last = graft.operators.EventOps.queries("q_attribution")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(multi.nonEmpty && last.nonEmpty)
    // each purchase distributes at most 1e6 ppm (truncating div loses
    // at most n_touch-1 ppm) — so total credit ≤ 1e6 × touched
    // purchases, and touched purchases = last-touch non-organic count
    val touched = last.filter(_._1 >= 0).map(_._2).sum
    val totalCredit = multi.map(_._2).sum
    assert(totalCredit <= 1000000L * touched,
      s"credit $totalCredit exceeds ${1000000L * touched}")
    // multi-touch credits only real campaigns (0..7); organic rows
    // exist only in the last-touch view (untouched purchases simply
    // don't appear in the multi-touch table)
    assert(multi.map(_._1).forall(c => c >= 0 && c < 8))
  }

  test("q_target_encoding: encode excludes self, converges to group mean as m->0 (brute force)") {
    val rows = graft.operators.CorpusOps.queries("q_target_encoding")(spark, sf)
      .as[(Long, String, Double)].collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long"))
      .as[(Long, String, Long)].collect()
    val g = docs.map(_._3).sum.toDouble / docs.length
    val bySrc = docs.groupBy(_._2)
    rows.foreach { case (id, src, te) =>
      val xs = bySrc(src)
      val y = docs.find(_._1 == id).get._3
      val expected = (xs.map(_._3).sum - y + 10.0 * g) / (xs.length - 1 + 10.0)
      assert(math.abs(te - expected) < 5e-4, s"doc $id: $te vs $expected")
    }
  }

  test("time-series diagnostics: ACF bounded, CUSUM telescopes, EMA stays in range") {
    // ACF_k is a normalized correlation: |acf_ppm| <= 1e6, lags 1..7 present
    val acf = graft.operators.EventOps.queries("q_acf")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(acf.map(_._1).toSeq === (1L to 7L))
    acf.foreach { case (k, n, ppm) =>
      assert(n > 0 && math.abs(ppm) <= 1000000L, s"lag $k acf_ppm=$ppm")
    }
    // CUSUM telescopes: the final value equals total - n_days*floor_mean,
    // which the integral floor bounds to [0, n_days)
    val cu = graft.operators.EventOps.queries("q_cusum")(spark, sf)
      .as[(String, Long, Long, Int)].collect()
    val last = cu.maxBy(_._1)._3
    assert(last >= 0 && last < cu.length, s"telescoped cusum=$last n=${cu.length}")
    assert(cu.count(_._4 == 1) >= 1, "at least one |S| peak must be flagged")
    // EMA is a convex combination of trailing values: min(v) <= ema <= max(v)
    val ema = graft.operators.EventOps.queries("q_ema")(spark, sf)
      .as[(String, Long, Long)].collect()
    val (lo, hi) = (ema.map(_._2).min, ema.map(_._2).max)
    ema.foreach { case (day, _, e) =>
      assert(e >= lo - 1 && e <= hi, s"$day ema=$e outside [$lo,$hi]")
    }
    // seasonal-naive backtest: APE is nonnegative and forecast rows only
    // exist where a day-7 ancestor exists
    val fb = graft.operators.EventOps.queries("q_forecast_backtest")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(fb.nonEmpty && fb.forall { case (_, a, f, ae, ppm) =>
      ae == math.abs(a - f) && ppm >= 0 })
    assert(fb.length == cu.length - 7, "exactly the first 7 days lack a forecast")
  }

  test("q_heavy_hitters: output is partition-invariant and equals brute force") {
    val hh = graft.operators.TextOps.queries("q_heavy_hitters")(spark, sf)
      .as[(String, Long, Long)].collect().toSet
    // brute force: full count + filter, no screen
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
    val total = toks.count()
    val brute = toks.groupBy("token").count()
      .filter(col("count") * 200 >= total)
      .as[(String, Long)].collect()
      .map { case (t, n) => (t, n, n * 1000000L / total) }.toSet
    assert(hh === brute, "MG screen must not lose any true heavy hitter")
    assert(hh.nonEmpty)
    // a different physical partitioning yields different MG candidates
    // but the FULL pipeline (screen + exact recount) must yield the
    // identical final answer — run it end-to-end on the alternate
    // partitioning, don't just count tokens
    val skewed = graft.sources.Tables.documents(spark, sf).repartition(2)
    val toks2 = skewed
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
    val hh2 = graft.operators.TextOps.heavyHitters(toks2)
      .as[(String, Long, Long)].collect().toSet
    assert(hh2 === brute,
      "heavy-hitter output must be invariant to physical partitioning")
    // ...and at the minimal legal capacity (cap = 2*shareDenom, the
    // enforced invariant boundary) completeness still holds
    val hhMin = graft.operators.TextOps.heavyHitters(toks2, cap = 400,
      shareDenom = 200L).as[(String, Long, Long)].collect().toSet
    assert(hhMin === brute)
    // tightening the share gate without growing the cap must fail loud
    // (cap >= 2*shareDenom), not silently lose heavy hitters
    assertThrows[IllegalArgumentException] {
      graft.operators.TextOps.heavyHitters(toks2, shareDenom = 1000L, cap = 400)
    }
  }

  test("q_embed_cov: variances on the diagonal are nonnegative, n constant") {
    val rows = graft.operators.VectorOps.queries("q_embed_cov")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length === 36)
    val ns = rows.map(_._3).distinct
    assert(ns.length === 1, s"n must be constant across cells, got $ns")
    rows.filter(r => r._1 == r._2).foreach { case (i, _, _, v) =>
      assert(v >= 0, s"var(dim $i) = $v < 0")
    }
  }

  test("q_decision_stump: reported split beats every other candidate threshold (brute force)") {
    val best = graft.operators.VectorOps.queries("q_decision_stump")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val embs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("embedding"), col("label")).collect()
      .map(r => (r.getSeq[Float](0).toArray, r.getInt(1)))
    def gini(d: Int, t: Long): Long = {
      val vs = embs.map { case (e, l) =>
        (math.round(e(d).toDouble * 1000), if (l == 0) 1L else 0L) }
      val n = vs.length.toLong
      val (nl, c0l) = (vs.count(_._1 <= t).toLong, vs.filter(_._1 <= t).map(_._2).sum)
      val (nr, c0r) = (n - nl, vs.map(_._2).sum - c0l)
      def side(m: Long, c0: Long) =
        if (m == 0) 0L else (m * m - c0 * c0 - (m - c0) * (m - c0)) * 1000000L / (m * m)
      (nl * side(nl, c0l) + nr * side(nr, c0r)) / n
    }
    (0 until 8).foreach { d =>
      val (bt, bg) = best(d.toLong)
      assert(gini(d, bt) === bg, s"dim $d reported gini mismatch")
      (-300L to 300L by 100L).foreach { t =>
        assert(bg <= gini(d, t), s"dim $d: threshold $t beats reported $bt")
      }
    }
  }

  test("q_degree_dist: histogram mass equals twice the frequent-pair count") {
    val hist = graft.analytics.RelQueries.queries("q_degree_dist")(spark, sf)
      .as[(Long, Long)].collect()
    val nPairs = graft.analytics.RelQueries.queries("q_itemset_pairs")(spark, sf).count()
    assert(hist.map(h => h._1 * h._2).sum === 2 * nPairs,
      "sum(degree * n_items) must equal 2|E|")
  }

  test("q_xcorr: pair counts shrink with |lag| and exactly one peak family is flagged") {
    val xc = graft.operators.EventOps.queries("q_xcorr")(spark, sf)
      .as[(Long, Long, Long, Int)].collect()
    assert(xc.map(_._1).toSeq === (-3L to 3L))
    val n0 = xc.find(_._1 == 0L).get._2
    xc.foreach { case (k, n, _, _) =>
      assert(n === n0 - math.abs(k), s"lag $k should have ${n0 - math.abs(k)} pairs")
    }
    assert(xc.count(_._4 == 1) >= 1)
  }

  test("q_map_eval agrees with q_mrr: AP bounds follow the first hit") {
    val ap = graft.operators.VectorOps.queries("q_map_eval")(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val mrr = graft.operators.VectorOps.queries("q_mrr")(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(ap.keySet === mrr.keySet)
    ap.foreach { case (qid, (hits, apMicro)) =>
      assert(apMicro >= 0 && apMicro <= 1000000L)
      if (hits == 3) assert(apMicro === 1000000L, s"qid $qid: 3/3 hits must score 1.0")
      if (hits == 0) assert(apMicro === 0L)
      if (mrr(qid) == 1L) assert(apMicro >= 333333L,
        s"qid $qid: rank-1 hit alone contributes 1/3")
    }
  }

  test("q_user_cf: neighbor counts match a brute-force banded co-purchase model") {
    val got = graft.analytics.RelQueries.queries("q_user_cf")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val cp = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .as[(Long, Long)].collect()
    val byPart = cp.groupBy(_._2).filter { case (_, xs) =>
      xs.length >= 2 && xs.length <= 32 }
    val co = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    byPart.values.foreach { xs =>
      val cs = xs.map(_._1).distinct.sorted
      for (i <- cs.indices; j <- (i + 1) until cs.length)
        co((cs(i), cs(j))) = co.getOrElse((cs(i), cs(j)), 0L) + 1
    }
    got.foreach { case (cust, _, peer, c) =>
      val key = (math.min(cust, peer), math.max(cust, peer))
      assert(co.get(key).contains(c), s"($cust,$peer) co=$c vs ${co.get(key)}")
    }
    // top-3 is genuinely maximal: no unreported peer beats a reported one
    val reported = got.groupBy(_._1)
    reported.foreach { case (cust, rows) =>
      val worst = rows.map(_._4).min
      val all = co.collect { case ((a, b), c) if a == cust || b == cust => c }
      if (rows.length == 3)
        assert(all.count(_ > worst) < 3, s"cust $cust: missed a better peer")
    }
  }

  test("q_clustering_coeff: ppm bounded, triangle counts equal q_triangles") {
    val lcc = graft.operators.GraphOps.queries("q_clustering_coeff")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val tri = graft.operators.GraphOps.queries("q_triangles")(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(lcc.length === tri.size)
    lcc.foreach { case (node, deg, nTri, ppm) =>
      assert(ppm >= 0 && ppm <= 1000000L, s"node $node lcc=$ppm")
      assert(tri(node) === nTri, s"node $node triangle count drifted")
      if (deg < 2) assert(ppm === 0L)
    }
  }

  test("q_negative_sampling: negatives never collide with positives, ≤4 per customer, deterministic") {
    val neg = graft.analytics.RelQueries.queries("q_negative_sampling")(spark, sf)
      .select("c", "k", "neg_p").as[(Long, Long, Long)].collect()
    val pos = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(neg.nonEmpty)
    neg.foreach { case (c, _, p) =>
      assert(!pos.contains((c, p)), s"sampled positive ($c,$p) as a negative")
    }
    val perCust = neg.groupBy(_._1)
    perCust.values.foreach(rs => assert(rs.length <= 4))
    // propose-and-reject: a customer can lose all 4 proposals to
    // collisions, but only with probability (pos-share)^4 — coverage
    // stays near-total and never exceeds the purchasing population
    val buyers = pos.map(_._1)
    assert(perCust.keySet.subsetOf(buyers))
    assert(perCust.size * 10 >= buyers.size * 9,
      s"coverage ${perCust.size}/${buyers.size} below 90%")
    // hash-derived → rerunning yields the identical sample
    val again = graft.analytics.RelQueries.queries("q_negative_sampling")(spark, sf)
      .select("c", "k", "neg_p").as[(Long, Long, Long)].collect()
    assert(neg.sorted.toSeq === again.sorted.toSeq)
  }

  test("q_assoc_rules: lift is direction-symmetric, confidence is not; rules mirror the pairs") {
    val rules = graft.analytics.RelQueries.queries("q_assoc_rules")(spark, sf)
      .select("ante", "cons", "support", "conf_ppm", "lift_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    val byDir = rules.map(r => (r._1, r._2) -> r).toMap
    rules.foreach { case (a, c, supp, _, lift) =>
      val rev = byDir((c, a))
      assert(rev._3 === supp, s"support must be undirected for ($a,$c)")
      assert(rev._5 === lift, s"lift must be direction-symmetric for ($a,$c)")
      assert(supp >= 2)
    }
    val nPairs = graft.analytics.RelQueries.queries("q_itemset_pairs")(spark, sf).count()
    assert(rules.length.toLong === 2 * nPairs, "one rule per direction per frequent pair")
  }

  test("diversity + readability: Simpson agrees with the entropy scan's counts, LIX components reconcile") {
    val simp = graft.operators.TextOps.queries("q_simpson_diversity")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    val ent = graft.operators.TextOps.queries("q_token_entropy")(spark, sf)
      .select("source", "n_tokens", "vocab")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    simp.foreach { case (src, n, v, ppm) =>
      assert(ent(src) === ((n, v)), s"$src: token/vocab counts drifted from the entropy scan")
      assert(ppm >= 0 && ppm <= 1000000L)
      // Simpson of a distribution over `v` types is minimized by uniformity
      assert(ppm >= (n / v - 1) * 1000000 / math.max(n - 1, 1), s"$src below uniform floor")
    }
    val lix = graft.operators.TextOps.queries("q_readability")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    lix.foreach { case (src, nDocs, words, sents, longw, milli) =>
      assert(nDocs > 0 && words > 0 && longw <= words, src)
      assert(milli === words * 1000 / math.max(sents, 1) + longw * 100000 / words)
    }
  }

  test("q_propensity: shares sum to ~1e6 ppm and the IPS reweighting identity holds") {
    val rows = graft.operators.EventOps.queries("q_propensity")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    val bigN = rows.map(_._2).sum
    val shareSum = rows.map(_._3).sum
    assert(shareSum > 1000000L - rows.length && shareSum <= 1000000L,
      s"ppm shares sum to $shareSum")
    rows.foreach { case (t, n, _, sumVc, ips) =>
      assert(ips === sumVc * bigN / (5 * n), s"$t IPS identity")
    }
  }

  test("spectrum + graph scalars: zipf slope negative, assortativity in [-1,1], fano vs poisson, coverage bounded") {
    val (nTop, zipf) = graft.operators.TextOps.queries("q_zipf_fit")(spark, sf)
      .as[(Long, Double)].collect().head
    val vocab = graft.operators.TextOps.queries("q_token_counts")(spark, sf).count()
    assert(nTop === math.min(100L, vocab), s"fit over min(100, vocab=$vocab)")
    assert(zipf < 0, s"frequency must fall with rank, slope=$zipf")
    assert(zipf > -3 && zipf < -0.1, s"implausible zipf exponent $zipf")
    val (m, r) = graft.operators.GraphOps.queries("q_assortativity")(spark, sf)
      .as[(Long, Double)].collect().head
    assert(m > 0 && r >= -1.0 && r <= 1.0, s"assortativity $r out of range")
    val fano = graft.operators.EventOps.queries("q_fano")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    fano.foreach { case (t, n, mean, f) =>
      assert(n > 0 && mean > 0 && f >= 0, s"$t fano=$f")
      // daily counts of a uniform-ish generator sit near Poisson:
      // variance cannot exceed mean by orders of magnitude here
      assert(f < 100 * 1000L, s"$t absurd overdispersion $f")
    }
    val (nRec, nItems, cov) = graft.analytics.RelQueries.queries("q_reco_coverage")(spark, sf)
      .as[(Long, Long, Long)].collect().head
    assert(nRec <= nItems && cov <= 1000000L && cov > 0)
    // coverage counts exactly the distinct items appearing in any top-3 list
    val distinctRecos = graft.analytics.RelQueries.queries("q_item_recos")(spark, sf)
      .select("reco").distinct().count()
    assert(nRec === distinctRecos)
  }

  test("q_survival: product-limit curve matches a driver-side KM recompute") {
    val got = graft.operators.EventOps.queries("q_survival")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    // driver-side model from raw events
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts").cast("date").cast("string"))
      .as[(Long, String, String)].collect()
    val maxd = ev.map(_._3).max
    def days(a: String, b: String) =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(a), java.time.LocalDate.parse(b))
    val users = ev.groupBy(_._1).toSeq.map { case (_, es) =>
      val entry = es.map(_._3).min
      val fp = es.filter(_._2 == "purchase").map(_._3).sorted.headOption
      (fp.map(days(entry, _)).getOrElse(days(entry, maxd)), fp.isDefined)
    }
    val n = users.size.toLong
    val byDay = users.groupBy(_._1).toSeq.sortBy(_._1)
    var atRisk = n; var s = 1.0
    val model = byDay.flatMap { case (day, us) =>
      val d = us.count(_._2).toLong
      val row = if (d > 0) {
        s *= (atRisk - d).toDouble / atRisk
        Some((day, atRisk, d, math.rint(s * 1e6) / 1e6))
      } else None
      atRisk -= us.size
      row
    }
    assert(got.length === model.length)
    got.zip(model).foreach { case (g, m) =>
      assert(g._1 === m._1 && g._2 === m._2 && g._3 === m._3, s"$g vs $m")
      assert(math.abs(g._4 - m._4) < 2e-6, s"surv ${g._4} vs ${m._4} at day ${g._1}")
    }
    // curve sanity: S nonincreasing in (0, 1]
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 <= a._4 + 1e-9); assert(b._2 < a._2)
    }
  }

  test("q_drawdown: drawdown is peak minus current, never negative, worst day flagged") {
    val dd = graft.operators.EventOps.queries("q_drawdown")(spark, sf)
      .as[(String, Long, Long, Long, Int)].collect()
    var peak = Long.MinValue
    dd.foreach { case (day, rev, p, draw, _) =>
      peak = math.max(peak, rev)
      assert(p === peak, s"$day running peak drifted")
      assert(draw === p - rev && draw >= 0)
    }
    assert(dd.count(_._5 == 1) >= 1)
    assert(dd.filter(_._5 == 1).map(_._4).distinct.length === 1)
  }

  test("q_trending_terms: top movers are maximal against a brute-force delta table") {
    val got = graft.operators.TextOps.queries("q_trending_terms")(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(got.nonEmpty && got.map(_._1).toSeq === (1L to got.length))
    got.foreach { case (_, _, r1, r2, delta) =>
      assert(r1 >= 0 && r1 <= 1000000L && r2 >= 0 && r2 <= 1000000L)
      assert(delta === r2 - r1)
    }
    // brute force all deltas at this scale and confirm maximality
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val mid = (docs.map(_._1).min + docs.map(_._1).max) / 2
    def toks(half: Int) = docs.filter(d => (d._1 <= mid) == (half == 1))
      .flatMap(_._2.toLowerCase.split(" ")).filter(_.nonEmpty)
    val (t1, t2) = (toks(1), toks(2))
    def rates(ts: Array[String]) = {
      val n = ts.length.toLong
      ts.groupBy(identity).map { case (t, xs) => t -> xs.length * 1000000L / n }
    }
    val (m1, m2) = (rates(t1), rates(t2))
    val deltas = (m1.keySet ++ m2.keySet).map { t =>
      t -> (m2.getOrElse(t, 0L) - m1.getOrElse(t, 0L)) }.toMap
    val worstListed = got.map(r => math.abs(r._5)).min
    val beaten = deltas.count { case (t, dl) =>
      math.abs(dl) > worstListed && !got.exists(_._2 == t) }
    assert(beaten === 0, s"$beaten unlisted tokens beat the listed movers")
    got.foreach { case (_, t, r1, r2, _) =>
      assert(m1.getOrElse(t, 0L) === r1 && m2.getOrElse(t, 0L) === r2, t)
    }
  }

  test("engagement scalars: CTR shrinkage orders correctly, novelty telescopes, pareto beats uniform") {
    // shrinkage: smoothed sits strictly between raw and global (unless equal)
    val ctr = graft.operators.EventOps.queries("q_ctr_smoothed")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    val gv = ctr.map(_._2).sum; val gc = ctr.map(_._3).sum
    val global = gc * 1000000L / gv
    ctr.foreach { case (u, v, c, raw, sm) =>
      assert(sm === (c * 1000000L + 10 * global) / (v + 10), s"user $u formula")
      if (raw < global) assert(sm >= raw && sm <= global + 1, s"user $u shrink up")
      if (raw > global) assert(sm <= raw && sm >= global - 1, s"user $u shrink down")
    }
    // novelty: day-1 is 100% new, and new_users sums to the user universe
    val nu = graft.operators.EventOps.queries("q_new_user_rate")(spark, sf)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(nu.head._4 === 1000000L, "every first-day active user is new")
    val totalUsers = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(nu.map(_._3).sum === totalUsers)
    // pareto: the top decile's share must be at least its population share
    val (nUsers, topUsers, total, topEvents, ppm) =
      graft.operators.EventOps.queries("q_pareto_share")(spark, sf)
        .as[(Long, Long, Long, Long, Long)].collect().head
    assert(topUsers === nUsers / 10)
    assert(topEvents <= total && ppm >= topUsers * 1000000L / nUsers,
      s"top decile below uniform share: $ppm")
  }

  test("q_itemset_triples: every frequent triple's sub-pairs are frequent (Apriori property)") {
    val triples = graft.analytics.RelQueries.queries("q_itemset_triples")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val pairs = graft.analytics.RelQueries.queries("q_itemset_pairs")(spark, sf)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    triples.foreach { case (a, b, c, s) =>
      Seq((a, b), (a, c), (b, c)).foreach { p =>
        assert(pairs.contains(p), s"triple ($a,$b,$c) sub-pair $p not frequent")
        assert(pairs(p) >= s, s"pair $p support ${pairs(p)} < triple support $s")
      }
    }
  }

  test("q_itemset_triples: the slice form equals a naive a<b<c enumeration on literal baskets") {
    // the catalog data has no triple at support >= 2, so these baskets
    // are built to have several, plus a duplicated line and a singleton
    val baskets = Seq(
      1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(1L, 2L, 3L), 3L -> Seq(2L, 3L, 4L, 5L),
      4L -> Seq(1L, 3L, 4L), 5L -> Seq(5L, 6L, 7L), 6L -> Seq(5L, 6L, 7L, 1L),
      7L -> Seq(2L, 2L, 3L, 4L), 8L -> Seq(9L))
    val dir = java.nio.file.Files.createTempDirectory("graft_triples").toString
    baskets.flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val naive = baskets.flatMap { case (_, ps) => ps.distinct.sorted.combinations(3) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .collect { case (Seq(a, b, c), n) if n >= 2 => (a, b, c, n) }
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }
    assert(naive.size >= 4, "the fixture must clear min-support")
    val slice = graft.analytics.RelQueries.triplesSlice(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(slice === naive)
  }

  test("q_theil_sen: median slope matches an exact Scala recompute of all pairs") {
    val (nPairs, median, mn, mx) =
      graft.operators.EventOps.queries("q_theil_sen")(spark, sf)
        .as[(Long, Long, Long, Long)].collect().head
    val daily = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("y")).as[(Long, Long)].collect().sortBy(_._1)
    val slopes = (for {
      Array((d1, y1), (d2, y2)) <- daily.combinations(2)
    } yield (y2 - y1) * 1000000L / (d2 - d1)).toArray.sorted
    assert(nPairs === slopes.length.toLong)
    assert(mn === slopes.head && mx === slopes.last)
    val n = slopes.length
    val expected =
      if (n % 2 == 1) slopes(n / 2)
      else {
        val s = slopes(n / 2 - 1) + slopes(n / 2)
        // floor mean of the two middle elements, truncating like `div`
        if (s >= 0) s / 2 else -((-s) / 2)
      }
    assert(median === expected, s"median $median != recompute $expected")
  }

  test("q_bradley_terry: MM fixpoint matches an exact Scala replay of 3 rounds") {
    val rows = graft.operators.EventOps.queries("q_bradley_terry")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._4).sorted.sameElements(1L to rows.length))
    // replay: trust Spark for the daily-spend aggregation (plain
    // groupBy), replay the comparison fold + 3 MM rounds exactly
    val dayv = graft.sources.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .agg(sum(graft.functions.Scalars.cents(col("value"))).as("v"))
      .as[(Long, java.sql.Date, String, Long)].collect()
    val comp = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    dayv.groupBy(r => (r._1, r._2)).values.foreach { g =>
      for (a <- g; b <- g if a._3 < b._3 && a._4 != b._4) {
        val k = (a._3, b._3)
        val (wa, wb) = comp.getOrElse(k, (0L, 0L))
        comp(k) = if (a._4 > b._4) (wa + 1, wb) else (wa, wb + 1)
      }
    }
    val edges = comp.toSeq.flatMap { case ((i, j), (wa, wb)) =>
      Seq((i, j, wa + wb), (j, i, wa + wb)) }
    val wins = comp.toSeq.flatMap { case ((i, j), (wa, wb)) =>
      Seq(i -> wa, j -> wb) }.groupMapReduce(_._1)(_._2)(_ + _)
    var pi = wins.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val den = edges.groupMapReduce(_._1)(e =>
        e._3 * 1000000000000L / (pi(e._1) + pi(e._2)))(_ + _)
      pi = wins.map { case (i, w) =>
        i -> w * 1000000000000L / math.max(den(i), 1L) }
    }
    rows.foreach { case (t, w, p, _) =>
      assert(w === wins(t), s"$t wins")
      assert(p === pi(t), s"$t pi: query $p vs replay ${pi(t)}")
    }
  }

  test("q_fleiss_kappa: kappa matches an exact Scala recompute of the 3-rater panel") {
    val (nItems, po, pe, kappa) =
      graft.operators.TextOps.queries("q_fleiss_kappa")(spark, sf)
        .as[(Long, Long, Long, Option[Long])].collect().head
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(nItems === docs.length.toLong)
    // split-based counts (non-overlapping, like Spark split / DuckDB
    // string_split), NOT sliding-window occurrence counts
    def markers(t: String) = Seq(" the " -> "en", " der " -> "de", " le " -> "fr")
      .map { case (m, l) =>
        (l, t.split(java.util.regex.Pattern.quote(m), -1).length - 1L,
          t.indexOf(m) + 1L) }
    val votes = docs.flatMap { case (_, t) =>
      val m = markers(t)
      val a = if (t.contains(" the ")) "en"
        else if (t.contains(" der ")) "de"
        else if (t.contains(" le ")) "fr" else "und"
      val b = if (m.map(_._2).sum == 0) "und"
        else m.maxBy { case (l, c, _) => (c, -Seq("en", "de", "fr").indexOf(l)) }._1
      val present = m.filter(_._3 > 0)
      val c = if (present.isEmpty) "und"
        else present.minBy { case (l, _, p) => (p, Seq("en", "de", "fr").indexOf(l)) }._1
      Seq(a, b, c)
    }
    val t = votes.length.toLong
    val perItem = docs.indices.map(i => votes.slice(3 * i, 3 * i + 3)
      .groupBy(identity).values.map(g => g.length.toLong * (g.length - 1)).sum)
    val a2 = perItem.sum
    val poExp = a2 * 1000000L / (2 * t)
    val peExp = votes.groupBy(identity).values
      .map(g => { val s = g.length.toLong * 1000000L / t; s * s }).sum / 1000000L
    assert(po === poExp && pe === peExp)
    val kExp = if (peExp == 1000000L) None
      else Some((poExp - peExp) * 1000L / (1000000L - peExp))
    assert(kappa === kExp)
    assert(kappa.forall(_ <= 1000L))
  }

  test("q_burstiness: invariants — cf bounds, df floor, descending order") {
    val rows = graft.operators.TextOps.queries("q_burstiness")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { case (tok, cf, df, mx, burst) =>
      assert(df >= 5, s"$tok df floor")
      assert(cf >= df && mx <= cf && cf <= df * mx,
        s"$tok count bounds violated: cf=$cf df=$df max=$mx")
      assert(burst === cf * 1000000L / df)
      assert(burst >= 1000000L, "a term occurs at least once per containing doc")
    }
    assert(rows.map(r => (-r._5, r._1)).sameElements(
      rows.map(r => (-r._5, r._1)).sorted), "sorted by burstiness desc, token asc")
  }

  test("q_ucb_arms: scores match an exact recompute; bonus shrinks with pulls") {
    val rows = graft.operators.EventOps.queries("q_ucb_arms")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val bigN = rows.map(_._2).sum
    rows.foreach { case (arm, n, r, mean, bonus, ucb, _) =>
      assert(mean === r * 1000L / n, s"arm $arm mean")
      assert(bonus === math.round(math.sqrt(2 * math.log(bigN.toDouble) / n) * 1000),
        s"arm $arm bonus")
      assert(ucb === mean + bonus)
    }
    assert(rows.map(_._7).sorted.sameElements(1L to rows.length))
    // more pulls, smaller exploration bonus
    rows.sortBy(_._2).map(_._5).sliding(2).foreach {
      case Array(b1, b2) => assert(b1 >= b2)
      case _ => ()
    }
  }

  test("q_psm_match: ATT matches a brute-force nearest-control matching") {
    val (nT, nM, att, gap) =
      graft.operators.EventOps.queries("q_psm_match")(spark, sf)
        .as[(Long, Long, Option[Long], Option[Long])].collect().head
    val users = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        sum((col("event_type") === "purchase").cast("long")).as("n_buy"),
        sum(when(col("event_type") === "purchase",
          graft.functions.Scalars.cents(col("value"))).otherwise(0L)).as("spend"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, n, b, sp) => (u, b * 1000 / n, sp) }
    val treated = users.filter(_._1 % 2 == 1)
    val control = users.filter(_._1 % 2 == 0)
    assert(nT === treated.length.toLong)
    val matches = treated.flatMap { case (ut, st, spt) =>
      val cands = control.map { case (uc, sc, spc) => (math.abs(st - sc), uc, spc) }
        .filter(_._1 <= 25)
      if (cands.isEmpty) None else Some {
        val (g, _, spc) = cands.min
        (g, spt - spc)
      }
    }
    assert(nM === matches.length.toLong)
    if (matches.nonEmpty) {
      assert(att.get === matches.map(_._2).sum / matches.length)
      assert(gap.get === matches.map(_._1).sum / matches.length)
    } else assert(att.isEmpty && gap.isEmpty)
  }

  test("q_granger: SSRs match an exact closed-form recompute; full model never fits worse") {
    val (n, ssrR, ssrF, imp) =
      graft.operators.EventOps.queries("q_granger")(spark, sf)
        .as[(Long, Option[Long], Option[Long], Option[Long])].collect().head
    val daily = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"))
      .agg(sum((col("event_type") === "click").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val mx = daily.map(_._2).sum / daily.length
    val my = daily.map(_._3).sum / daily.length
    val dev = daily.map { case (d, x, y) => (d, x - mx, y - my) }
    val byDay = dev.map(t => t._1 -> t).toMap
    val tri = dev.flatMap { case (d, _, w) =>
      byDay.get(d - 1).map { case (_, v, u) => (w, u, v) } }
    assert(n === tri.length.toLong)
    val (sww, suu, svv) = (tri.map(t => t._1 * t._1).sum,
      tri.map(t => t._2 * t._2).sum, tri.map(t => t._3 * t._3).sum)
    val (suw, svw, suv) = (tri.map(t => t._2 * t._1).sum,
      tri.map(t => t._3 * t._1).sum, tri.map(t => t._2 * t._3).sum)
    val expR = if (suu == 0) None else Some(sww - suw * suw / suu)
    val det = suu * svv - suv * suv
    val expF = if (det == 0) None
      else Some(sww - (suw * suw * svv + svw * svw * suu - 2 * suw * svw * suv) / det)
    assert(ssrR === expR && ssrF === expF)
    for (r <- ssrR; f <- ssrF) {
      // full model can only reduce SSR (up to ±1 floor-division noise)
      assert(f <= r + 1, s"full SSR $f above restricted $r")
      if (r > 0) assert(imp.get === (r - f) * 1000000L / r)
    }
  }

  test("q_dp_histogram: noise replays from the hash lattice, release is clamped") {
    val rows = graft.operators.CorpusOps.queries("q_dp_histogram")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (src, n, noise, noisy, err) =>
      val hex = md.digest(s"dp|$src".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = java.lang.Long.parseLong(hex, 16) % 3145728L
      // inverse-CDF replay of the dyadic lattice
      var (c, z) = (1048576L, 0L)
      var k = 1
      var found = u < c
      while (!found && k <= 8) {
        val w = 1048576L >> k
        if (u < c + w) { z = k; found = true }
        else if (u < c + 2 * w) { z = -k; found = true }
        else { c += 2 * w; k += 1 }
      }
      assert(noise === (if (found) z else 0L), s"$src noise replay")
      assert(math.abs(noise) <= 8 && noisy === math.max(n + noise, 0L))
      assert(err === math.abs(noisy - n))
    }
  }

  test("q_maxsim: late-interaction scores match a brute-force subvector recompute") {
    val rows = graft.operators.VectorOps.queries("q_maxsim")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.round(x * 1000000)).toArray }
    val probes = emb.filter(_._1 < 3)
    def sub(v: Array[Long], m: Int) = v.slice(16 * m, 16 * m + 16)
    val expected = probes.flatMap { case (qid, qv) =>
      emb.filter(_._1 != qid).map { case (vid, dv) =>
        val score = (0 until 4).map { mq =>
          (0 until 4).map { md =>
            sub(qv, mq).zip(sub(dv, md)).map { case (a, b) => a * b }.sum
          }.max
        }.sum
        (qid, vid, score)
      }.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
        .map { case ((q, v, sc), i) => (q, i + 1L, v, sc) }
    }.toSet
    assert(rows.toSet === expected)
  }

  test("q_coreset_kcenter: greedy picks match a brute-force farthest-point replay") {
    val rows = graft.operators.VectorOps.queries("q_coreset_kcenter")(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(rows.length === 5)
    assert(rows.map(_._1).sameElements(0L to 4L))
    assert(rows.init.forall(_._4) && !rows.last._4, "ranks 0-3 centers, rank 4 radius")
    // selection distances are non-increasing (the k-center invariant)
    rows.drop(1).map(_._3).sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ => ()
    }
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.round(x * 1000000)).toArray }
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var centers = Vector(0L)
    val replay = (1 to 4).map { r =>
      val (vid, dist) = emb.toSeq
        .map { case (id, v) => (id, centers.map(c => d2(v, emb(c))).min) }
        .minBy { case (id, dd) => (-dd, id) }
      if (r < 4) centers :+= vid
      (r.toLong, vid, dist)
    }
    assert(rows.drop(1).map(t => (t._1, t._2, t._3)).sameElements(replay))
  }

  test("q_rejection_sampling: acceptance replays the hash lattice; shares flatten") {
    val rows = graft.operators.CorpusOps.queries("q_rejection_sampling")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source").as[(Long, String)].collect()
    val bySrc = docs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val bigN = docs.length.toLong
    val k = bySrc.size.toLong
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (s2, n, p, acc, realized, target, gap) =>
      assert(n === bySrc(s2).length.toLong)
      assert(p === math.min(1000000L, bigN * 1000000L / (k * n)))
      val expAcc = bySrc(s2).count { id =>
        val hex = md.digest(s"rs|$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        java.lang.Long.parseLong(hex, 16) % 1000000L < p
      }.toLong
      assert(acc === expAcc, s"$s2 acceptance replay")
      assert(target === 1000000L / k && gap === math.abs(realized - target))
    }
    // flattening: every realized share within 3% of the uniform target
    rows.foreach { case (s2, _, _, _, _, _, gap) =>
      assert(gap <= 30000L, s"$s2 realized share off target by $gap ppm")
    }
  }

  test("q_sft_pairs: midpoint split conserves tokens and caps completions") {
    val rows = graft.operators.CorpusOps.queries("q_sft_pairs")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
      .map { case (s2, t) => (s2, t.toLowerCase.split(" ").count(_.nonEmpty).toLong) }
      .filter(_._2 >= 2)
    val bySrc = docs.groupBy(_._1)
    rows.foreach { case (s2, n, mp, mc, nFit, fitPpm) =>
      val toks = bySrc(s2).map(_._2)
      assert(n === toks.length.toLong)
      val (ps, cs) = (toks.map(_ / 2), toks.map(t => t - t / 2))
      assert(mp === ps.sum / n && mc === cs.sum / n)
      assert(mc >= mp, "completion half takes the ceil")
      assert(nFit === cs.count(_ <= 128).toLong)
      assert(fitPpm === nFit * 1000000L / n)
    }
  }

  test("q_residual_quantize: totals close, residual stage bounded by the SQ step") {
    val rows = graft.operators.VectorOps.queries("q_residual_quantize")(spark, sf)
      .as[(Long, Long, Long, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum === nVecs, "every vector coded exactly once")
    rows.foreach { case (c, n, e1, e2, rec) =>
      assert(n > 0 && e1 >= 0 && e2 >= 0)
      rec.foreach(r => assert(r <= 1000L, s"cluster $c recovery above 100%"))
    }
    // the residual codebook must recover most of the stage-1 error
    // overall (the codec's reason to exist)
    val (se1, se2) = (rows.map(r => r._3 * r._2).sum, rows.map(r => r._4 * r._2).sum)
    assert(se2 * 5 < se1, s"residual stage recovered too little: e1~$se1 e2~$se2")
  }

  test("q_hubness: k-occurrence mass closes against the semdedup windows") {
    val hist = graft.operators.VectorOps.queries("q_hubness")(spark, sf)
      .as[(Long, Long)].collect()
    assert(hist.nonEmpty)
    val windows = graft.operators.VectorOps.queries("q_semdedup")(spark, sf)
      .select("cluster", "n_window").as[(Long, Long)].collect()
    assert(hist.map(_._2).sum === windows.map(_._2).sum,
      "every window member gets exactly one k-occurrence row")
    // each member emits min(3, |win|-1) neighbor edges; all credit lands in-window
    val expectedEdges = windows.map { case (_, w) => w * math.min(3, w - 1) }.sum
    assert(hist.map(t => t._1 * t._2).sum === expectedEdges,
      "total k-occurrence must equal total emitted top-3 edges")
  }

  test("q_weak_supervision: label-model vote matches an exact panel replay") {
    val rows = graft.operators.TextOps.queries("q_weak_supervision")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    def count2(t: String, m: String) =
      t.split(java.util.regex.Pattern.quote(m), -1).length - 1L
    val perDoc = docs.map { case (_, t) =>
      val a = if (t.contains(" the ")) "en"
        else if (t.contains(" der ")) "de"
        else if (t.contains(" le ")) "fr" else "und"
      val cnts = Seq("en" -> count2(t, " the "), "de" -> count2(t, " der "),
        "fr" -> count2(t, " le "))
      val b = if (cnts.map(_._2).sum == 0) "und"
        else cnts.maxBy { case (l, c) => (c, -Seq("en", "de", "fr").indexOf(l)) }._1
      val pos = Seq("en" -> (t.indexOf(" the ") + 1L),
        "de" -> (t.indexOf(" der ") + 1L), "fr" -> (t.indexOf(" le ") + 1L))
      val present = pos.filter(_._2 > 0)
      val c = if (present.isEmpty) "und"
        else present.minBy { case (l, p) => (p, Seq("en", "de", "fr").indexOf(l)) }._1
      val votes = Seq(a, b, c).filter(_ != "und")
      val label = if (votes.isEmpty) "unlabeled"
        else votes.groupBy(identity).view.mapValues(_.size).toSeq
          .minBy { case (l, n) => (-n, l) }._1
      val top = if (votes.isEmpty) 0 else votes.count(_ == label)
      (label, votes.length.toLong, top.toLong)
    }
    val expected = perDoc.groupBy(_._1).map { case (l, g) =>
      (l, g.length.toLong,
        g.count(t => t._3 == t._2 && t._2 > 0).toLong,
        g.map(_._2).sum * 1000L / g.length)
    }.toSet
    assert(rows.toSet === expected)
  }

  test("q_filter_funnel: stages nest monotonically and agree with the quality verdicts") {
    val rows = graft.operators.CorpusOps.queries("q_filter_funnel")(spark, sf)
      .as[(Long, String, Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(rows.map(_._1).sameElements(0L to 4L))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._3 <= a._3, "funnel must be non-increasing")
      case _ => ()
    }
    val n0 = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.head._3 === n0)
    // stage 3 is exactly q_quality_filter's keep set (lockstep thresholds)
    val keeps = graft.operators.CorpusOps.queries("q_quality_filter")(spark, sf)
      .filter(col("verdict") === "keep").count()
    assert(rows(3)._3 === keeps,
      s"funnel stage 3 (${rows(3)._3}) != quality keep count ($keeps)")
    rows.foreach { case (_, _, n, ret, _) =>
      assert(ret.get === n * 1000000L / n0)
    }
  }

  test("q_holt: level/trend replay the integer recursion exactly") {
    val rows = graft.operators.EventOps.queries("q_holt")(spark, sf)
      .as[(String, Long, Long, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("ts").cast("date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().sortBy(_._1)
    var l = daily.head._2 * 1000000L
    var b = 0L
    val exp = scala.collection.mutable.ArrayBuffer(
      (daily.head._1, daily.head._2, l, 0L, Option.empty[Long]))
    for ((day, n) <- daily.drop(1)) {
      val f = l + b
      val v = n * 1000000L
      val l2 = (v + l + b) / 2 // Long / truncates toward zero, like div
      val b2 = (l2 - l + b) / 2
      exp += ((day, n, l2, b2, Some(f)))
      l = l2; b = b2
    }
    assert(rows.toSeq === exp.toSeq)
  }

  test("q_runs_test: moments replay the above/below-median sign sequence") {
    val row = graft.operators.EventOps.queries("q_runs_test")(spark, sf)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("ts").cast("date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().sortBy(_._1)
    val nd = daily.length
    val med = daily.sortBy(t => (t._2, t._1)).apply((nd + 1) / 2 - 1)._2
    val sgn = daily.filter(_._2 != med).map(t => if (t._2 > med) 1L else 0L)
    val m = sgn.length.toLong
    val n1 = sgn.sum
    val n0 = m - n1
    val runs =
      if (sgn.isEmpty) 0L
      else 1L + sgn.iterator.sliding(2).withPartial(false)
        .count(w => w(0) != w(1))
    assert((row._1, row._2, row._3, row._4) === ((m, n1, n0, runs)))
    if (m > 1) {
      val mu = 1000L + 2000L * n1 * n0 / m
      val va = 2 * n1 * n0 * (2 * n1 * n0 - m) * 1000000L / (m * m * (m - 1))
      assert(row._5.get === mu)
      assert(row._6.get === va)
      if (va > 0)
        assert(row._7.get ===
          (1000L * runs - mu) * (1000L * runs - mu) * 1000L / va)
    }
  }

  test("q_qini: deciles complete and terminal row closes on cohort totals") {
    val rows = graft.operators.EventOps.queries("q_qini")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).sameElements(0L to 9L))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4 && b._5 >= a._5,
          "cumulative columns must be non-decreasing")
      case _ => ()
    }
    val users = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("cohort", pmod(col("user_id"), lit(2L)))
      .select("cohort", "conv").as[(Long, Long)].collect()
    val (nt, nc) = (users.count(_._1 == 1L).toLong, users.count(_._1 == 0L).toLong)
    val ct = users.filter(_._1 == 1L).map(_._2).sum
    val cc = users.filter(_._1 == 0L).map(_._2).sum
    val last = rows.last
    assert((last._2, last._3, last._4, last._5) === ((nt, nc, ct, cc)))
    assert(last._7.get === ct * 1000L - cc * 1000L * nt / nc,
      "terminal Qini must be the overall incremental-conversions estimate")
  }

  test("q_isotonic: fit is monotone and matches the brute-force min-max replay") {
    val rows = graft.operators.EventOps.queries("q_isotonic")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._5 >= a._5, "isotonic fit must be monotone")
      case _ => ()
    }
    val bins = rows.map(r => (r._2, r._3)) // (n, conv) in bin order
    def rate(j: Int, k: Int): Long = {
      val s = bins.slice(j, k + 1)
      s.map(_._2).sum * 1000000L / s.map(_._1).sum
    }
    val iso = bins.indices.map { i =>
      (0 to i).map(j => (i until bins.length).map(k => rate(j, k)).min).max
    }
    assert(rows.map(_._5).toSeq === iso)
    rows.foreach(r => assert(r._4 === r._3 * 1000000L / r._2))
  }

  test("q_shapley_attribution: exact 16-coalition replay; efficiency holds in 24ths") {
    val rows = graft.operators.EventOps
      .queries("q_shapley_attribution")(spark, sf)
      .as[(String, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).sameElements(Array("click", "error", "signup", "view")))
    val users = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"),
        expr("""cast(
            max(case when event_type = 'click'  then 1 else 0 end)
          + 2 * max(case when event_type = 'error'  then 1 else 0 end)
          + 4 * max(case when event_type = 'signup' then 1 else 0 end)
          + 8 * max(case when event_type = 'view'   then 1 else 0 end)
          as bigint)""").as("mask"))
      .select("mask", "conv").as[(Long, Long)].collect()
    val coal = users.groupBy(_._1).map { case (m, g) =>
      (m, (g.length.toLong, g.map(_._2).sum))
    }
    def v(s: Long): Long = {
      val sub = coal.filter { case (m, _) => (m | s) == s }.values
      val n = sub.map(_._1).sum
      if (n == 0) 0L else sub.map(_._2).sum * 1000000L / n
    }
    val bits = Map("click" -> 1L, "error" -> 2L, "signup" -> 4L, "view" -> 8L)
    val w24 = Seq(6L, 2L, 2L, 6L)
    val phi24 = bits.map { case (c, bit) =>
      c -> (0L until 16L).filter(s => (s & bit) == 0).map { s =>
        w24(java.lang.Long.bitCount(s)) * (v(s | bit) - v(s))
      }.sum
    }
    rows.foreach { case (c, p) => assert(p === phi24(c) / 24) }
    // the Shapley efficiency identity holds for ANY v, exactly in 24ths
    assert(phi24.values.sum === 24L * (v(15) - v(0)))
  }

  test("q_gopher_rules: panel closes per source and verdicts replay") {
    val rows = graft.operators.CorpusOps.queries("q_gopher_rules")(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_._1)
    val docs = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    bySource.foreach { case (src, g) =>
      assert(g.map(_._2).sorted.sameElements(Array("r1_short", "r2_word_len",
        "r3_symbol", "r4_stopword", "r5_repetition")), s"$src rule set")
      g.foreach { case (_, _, n, v, ppm) =>
        assert(n === docs(src))
        assert(v >= 0 && v <= n)
        assert(ppm === v * 1000000L / n)
      }
    }
    // replay one rule end-to-end (r5 repetition: top token share > 20%)
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
    val expR5 = texts.groupBy(_._1).map { case (src, g) =>
      src -> g.count { case (_, t) =>
        val toks = t.toLowerCase.split(" ").filter(_.nonEmpty)
        if (toks.isEmpty) false
        else {
          val top = toks.groupBy(identity).values.map(_.size).max
          top * 1000000L / toks.length > 200000L
        }
      }.toLong
    }
    bySource.foreach { case (src, g) =>
      assert(g.find(_._2 == "r5_repetition").get._4 === expR5(src))
    }
  }

  test("q_rm3_expansion: expansion weights replay against the bm25 top-10") {
    val rows = graft.operators.TextOps.queries("q_rm3_expansion")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.length === 8)
    assert(rows.map(_._4).sorted.sameElements(1L to 8L))
    // expansion terms never include the query terms
    assert(!rows.exists(r => Set("batch", "scan", "data")(r._1)))
    // weights replay: Σ tf(term, doc) · bm25(doc) over the q_bm25 top-10
    val top = graft.operators.TextOps.queries("q_bm25")(spark, sf)
      .limit(10).select("doc_id", "bm25_micro").as[(Long, Long)].collect().toMap
    val toks = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .filter(t => top.contains(t._1))
    val w = scala.collection.mutable.Map.empty[String, Long]
    toks.foreach { case (id, t) =>
      t.toLowerCase.split(" ").filter(_.nonEmpty)
        .filterNot(Set("batch", "scan", "data")).foreach { tk =>
          w(tk) = w.getOrElse(tk, 0L) + top(id)
        }
    }
    val expTop = w.toSeq.sortBy { case (t, wt) => (-wt, t) }.take(8)
    assert(rows.sortBy(_._4).map(r => (r._1, r._3)).toSeq === expTop)
  }

  test("q_bot_detect: verdict groups partition the users and profile closes") {
    val rows = graft.operators.EventOps.queries("q_bot_detect")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.map(_._1).forall(b => b == 0L || b == 1L))
    val nUsers = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum === nUsers, "groups must partition all users")
    rows.foreach { case (_, n, rate, v) =>
      assert(n > 0 && rate > 0 && v >= 0)
    }
  }

  test("q_simpson: strata counts close and signs are consistent with gaps") {
    val rows = graft.operators.EventOps.queries("q_simpson")(spark, sf)
      .as[(String, Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long], Option[Int])].collect().sortBy(_._1)
    assert(rows.map(_._1).sameElements(Array("all", "cohort_0", "cohort_1")))
    val all = rows.head
    val strata = rows.tail
    assert(strata.map(_._2).sum === all._2 && strata.map(_._3).sum === all._3)
    assert(strata.map(_._4).sum === all._4 && strata.map(_._5).sum === all._5)
    rows.foreach { r =>
      (r._8, r._9) match {
        case (Some(g), Some(s)) => assert(s === g.signum)
        case (None, None) => ()
        case other => fail(s"gap/sign mismatch: $other")
      }
      if (r._2 > 0)
        assert(r._6.get === r._4 * 1000000L / r._2)
    }
  }

  test("q_mediation: paths replay the moment arithmetic exactly") {
    val row = graft.operators.EventOps.queries("q_mediation")(spark, sf)
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double])].collect().head
    val users = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("m"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .withColumn("t", pmod(col("user_id"), lit(2L)))
      .select("t", "m", "y").as[(Long, Long, Long)].collect()
    val n = users.length.toLong
    val st = users.map(_._1).sum; val sm = users.map(_._2).sum
    val sy = users.map(_._3).sum
    val stt = users.map(u => u._1 * u._1).sum
    val smm = users.map(u => u._2 * u._2).sum
    val stm = users.map(u => u._1 * u._2).sum
    val sty = users.map(u => u._1 * u._3).sum
    val smy = users.map(u => u._2 * u._3).sum
    val (ctt, cmm) = (n * stt - st * st, n * smm - sm * sm)
    val (ctm, cty, cmy) = (n * stm - st * sm, n * sty - st * sy,
      n * smy - sm * sy)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row._1 === n)
    val a = r6(ctm.toDouble / ctt)
    val b = r6((ctt.toDouble * cmy - ctm.toDouble * cty) /
      (ctt.toDouble * cmm - ctm.toDouble * ctm))
    val c = r6(cty.toDouble / ctt)
    assert(row._2.get === a && row._3.get === b && row._4.get === c)
    assert(row._5.get === r6(a * b) && row._6.get === r6(c - a * b))
  }

  test("q_gbm_stumps: three rounds replay the boosting recursion exactly") {
    val rows = graft.operators.EventOps.queries("q_gbm_stumps")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).sameElements(1L to 3L))
    val users = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("f0"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("f1"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("f2"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("f3"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          * 1000L).as("y"))
      .select("f0", "f1", "f2", "f3", "y")
      .as[(Long, Long, Long, Long, Long)].collect()
    val n = users.length
    val p0 = users.map(_._5).sum / n
    var pred = Array.fill(n)(p0)
    val feats = users.map(u => Array(u._1, u._2, u._3, u._4))
    val y = users.map(_._5)
    for (round <- 0 until 3) {
      val r = Array.tabulate(n)(i => y(i) - pred(i))
      val cands = for { f <- 0 until 4; t <- Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L) }
        yield {
          val left = (0 until n).filter(i => feats(i)(f) <= t)
          val right = (0 until n).filterNot(i => feats(i)(f) <= t)
          val sl = left.map(r).sum; val sr = right.map(r).sum
          val ml = if (left.isEmpty) 0L else sl / left.size
          val mr = if (right.isEmpty) 0L else sr / right.size
          (f.toLong, t, left.size.toLong, right.size.toLong, ml, mr,
            ml * sl + mr * sr)
        }
      val best = cands.minBy { case (f, t, _, _, _, _, g) => (-g, f, t) }
      val row = rows(round)
      assert((row._2, row._3, row._4, row._5, row._6, row._7, row._8) === best,
        s"round ${round + 1}")
      pred = Array.tabulate(n) { i =>
        val m = if (feats(i)(best._1.toInt) <= best._2) best._5 else best._6
        pred(i) + m / 2
      }
    }
    // gains must be non-increasing: each round explains residual left over
    assert(rows(0)._8 >= rows(1)._8 && rows(1)._8 >= rows(2)._8)
  }

  test("q_rake_keywords: phrase scores replay degree/frequency word stats") {
    val rows = graft.operators.TextOps.queries("q_rake_keywords")(spark, sf)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4)
    assert(rows.nonEmpty && rows.map(_._4).sameElements(1L to rows.length))
    val stop = Set("the", "a", "of", "and", "in")
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect()
    // segment every doc into stopword-bounded runs, cap 4 words
    val phrases = docs.flatMap { t =>
      val out = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      t.toLowerCase.split(" ", -1).foreach { tk =>
        if (tk.isEmpty || stop(tk)) { if (cur.nonEmpty) out += cur.reverse; cur = Nil }
        else cur ::= tk
      }
      if (cur.nonEmpty) out += cur.reverse
      out.filter(_.length <= 4)
    }
    val freq = scala.collection.mutable.Map.empty[String, Long]
    val deg = scala.collection.mutable.Map.empty[String, Long]
    phrases.foreach { p =>
      p.foreach { w =>
        freq(w) = freq.getOrElse(w, 0L) + 1
        deg(w) = deg.getOrElse(w, 0L) + p.length
      }
    }
    def score(p: List[String]): Long = p.map(w => deg(w) * 1000L / freq(w)).sum
    val agg = phrases.groupBy(_.mkString(" ")).map { case (ph, g) =>
      (ph, g.length.toLong, score(g.head))
    }
    val expTop = agg.toSeq.sortBy { case (ph, _, s) => (-s, ph) }.take(15)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq === expTop)
  }

  test("q_page_hinkley: excursion is cum minus running min, never negative") {
    val rows = graft.operators.EventOps.queries("q_page_hinkley")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._1).sameElements(rows.map(_._1).sorted))
    val m = rows.map(_._2).sum / rows.length
    var cum = 0L; var runmin = Long.MaxValue
    rows.foreach { case (_, v, c, ph, alarm) =>
      cum += v - m
      runmin = math.min(runmin, cum)
      assert(c === cum)
      assert(ph === cum - runmin && ph >= 0)
      assert(alarm === (if (ph > m) 1L else 0L))
    }
  }

  test("q_coec: expectation model replays and closes on click totals") {
    val rows = graft.operators.EventOps.queries("q_coec")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    val ev = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "click"))
      .select(col("event_type"),
        pmod(get_json_object(col("props"), "$.k").cast("long"), lit(4L))
          .as("pos"),
        pmod(get_json_object(col("props"), "$.k").cast("long"), lit(8L))
          .as("campaign"))
      .as[(String, Long, Long)].collect()
    val views = ev.filter(_._1 == "view").groupBy(e => (e._3, e._2))
      .view.mapValues(_.length.toLong).toMap
    val clicks = ev.filter(_._1 == "click").groupBy(e => (e._3, e._2))
      .view.mapValues(_.length.toLong).toMap
    // the grid is view-anchored: clicks at (c,pos) with no views drop
    val ctrPos = views.keys.map(_._2).toSeq.distinct.map { p =>
      val v = views.collect { case ((_, pp), n) if pp == p => n }.sum
      val c = views.keys.collect {
        case k @ (_, pp) if pp == p => clicks.getOrElse(k, 0L) }.sum
      p -> c * 1000000L / v
    }.toMap
    rows.foreach { case (camp, nv, nc, ctr, expMilli, coec) =>
      val vs = views.collect { case ((cc, p), n) if cc == camp => (p, n) }
      assert(nv === vs.map(_._2).sum)
      assert(nc === views.keys.collect {
        case k @ (cc, _) if cc == camp => clicks.getOrElse(k, 0L) }.sum)
      val expMicro = vs.map { case (p, n) => n * ctrPos(p) }.sum
      assert(expMilli === expMicro / 1000)
      assert(ctr === nc * 1000000L / nv)
      if (expMicro > 0) assert(coec.get === nc * 1000000000L / expMicro)
    }
  }

  test("q_source_ablation: complements close by subtraction from totals") {
    val rows = graft.operators.CorpusOps.queries("q_source_ablation")(spark, sf)
      .as[(String, Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(rows.nonEmpty)
    val full = rows.head._4
    assert(rows.forall(_._4 == full), "full-corpus rate is one number")
    val totDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum === totDocs)
    rows.foreach { r =>
      (r._5, r._6) match {
        case (Some(comp), Some(delta)) => assert(delta === comp - full)
        case (None, None) => assert(r._2 === totDocs)
        case other => fail(s"comp/delta mismatch: $other")
      }
    }
  }

  test("q_absorbing_chain: eight survival steps replay the ppm recursion") {
    val rows = graft.operators.EventOps.queries("q_absorbing_chain")(spark, sf)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    val trans = graft.sources.Tables.events(spark, sf)
      .withColumn("dst", lead(col("event_type"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").asc, col("event_id").asc)))
      .filter(col("dst").isNotNull && col("event_type") =!= "purchase")
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
    val tots = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pppm = trans.map { case (s0, d0, n) =>
      ((s0, d0), n * 1000000L / tots(s0)) }.toMap
    val states = tots.keys.toSeq.sorted
    var sv = states.map(_ -> 1000000L).toMap
    val acc = scala.collection.mutable.Map(states.map(_ -> 1000000L): _*)
    for (k <- 1 to 8) {
      sv = states.map { st =>
        st -> states.filter(d0 => pppm.contains((st, d0)))
          .map(d0 => pppm((st, d0)) * sv(d0)).sum / 1000000L
      }.toMap
      if (k < 8) states.foreach(st => acc(st) += sv(st))
    }
    rows.foreach { case (st, pd, ab8, t) =>
      assert(pd === pppm.getOrElse((st, "purchase"), 0L))
      assert(ab8 === 1000000L - sv(st))
      assert(t === acc(st))
    }
  }

  test("q_mrmr: greedy selection replays relevance minus mean redundancy") {
    val rows = graft.operators.EventOps.queries("q_mrmr")(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).sameElements(1L to 3L))
    assert(rows.map(_._2).distinct.length === 3, "features must be distinct")
    val users0 = graft.sources.Tables.events(spark, sf).groupBy("user_id")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("f0"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("f1"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("f2"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("f3"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select("f0", "f1", "f2", "f3", "np")
      .as[(Long, Long, Long, Long, Long)].collect()
    val mnp = users0.map(_._5).sum / users0.length
    val rows2 = users0.map { u =>
      (if (u._5 > mnp) 1L else 0L,
        Array(u._1, u._2, u._3, u._4).map(f => math.min(f / 8, 3)))
    }
    val n = rows2.length.toLong
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def mi(key: ((Long, Array[Long])) => (Long, Long)): Double = {
      val cells = rows2.groupBy(key).view.mapValues(_.length.toLong).toMap
      val ma = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val mb = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
      r6(cells.map { case ((a, b), c) =>
        (c.toDouble / n) * math.log(c.toDouble * n / (ma(a).toDouble * mb(b)))
      }.sum)
    }
    val rel = (0 until 4).map(f => f.toLong -> mi(r => (r._2(f), r._1))).toMap
    def red(i: Int, j: Int): Double = mi(r => (r._2(i), r._2(j)))
    val s1 = rel.toSeq.minBy { case (f, r) => (-r, f) }._1
    val c2 = (0L until 4L).filterNot(_ == s1)
      .map(f => (f, r6(rel(f) - red(f.toInt, s1.toInt))))
    val s2 = c2.minBy { case (f, sc) => (-sc, f) }._1
    val c3 = (0L until 4L).filterNot(f => f == s1 || f == s2).map { f =>
      val rm = r6((red(f.toInt, s1.toInt) + red(f.toInt, s2.toInt)) / 2)
      (f, rm, r6(rel(f) - rm))
    }
    val (s3, red3, score3) = c3.minBy { case (f, _, sc) => (-sc, f) }
    assert(rows(0)._2 === s1 && rows(0)._3 === rel(s1) &&
      rows(0)._5 === rel(s1))
    assert(rows(1)._2 === s2 &&
      rows(1)._5 === c2.find(_._1 == s2).get._2)
    assert(rows(2)._2 === s3 && rows(2)._4 === red3 && rows(2)._5 === score3)
    // the MI replay is exact on the float path too (same operand order)
    assert(rows(1)._4 === r6(red(s2.toInt, s1.toInt)))
  }

  test("q_holt_winters: the (l, b, seas) state replays the integer fold") {
    val rows = graft.operators.EventOps.queries("q_holt_winters")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("ts").cast("date").cast("string").as("day"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().sortBy(_._1)
    assert(rows.length === math.max(daily.length - 7, 0))
    if (daily.length >= 8) {
      val v = daily.map(_._2 * 1000000L)
      var l = v.take(7).sum / 7
      var b = 0L
      var seas = v.take(7).map(_ - l)
      rows.zip(daily.drop(7)).foreach { case (row, (day, n)) =>
        val su = seas.head
        val f = l + b + su
        val l2 = (v(daily.indexWhere(_._1 == day)) - su + l + b) / 2
        val b2 = (l2 - l + b) / 2
        val snew = (n * 1000000L - l2 + su) / 2
        assert(row === ((day, n, l2, b2, su, f)))
        l = l2; b = b2; seas = seas.drop(1) :+ snew
      }
    }
  }

  test("q_ips_eval: terms replay and the share cancellation holds") {
    val rows = graft.operators.EventOps.queries("q_ips_eval")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 8)
    assert(rows.map(_._5).sorted.sameElements(1L to 8L), "ranks complete")
    val n = rows.map(_._2).sum
    rows.foreach { case (_, ni, cl, rate, rank, w36, plog, ips) =>
      assert(rate === cl * 1000000L / ni)
      assert(w36 === 9L - rank)
      assert(plog === ni * 1000000L / n)
      assert(ips === cl * w36 * 1000000L / (36L * ni))
    }
    // ranks order by rate desc
    val byRank = rows.sortBy(_._5)
    byRank.sliding(2).foreach {
      case Array(a, b) => assert(a._4 >= b._4)
      case _ => ()
    }
  }

  test("q_prefix_cache: depth curve replays exact global prefix grouping") {
    val rows = graft.operators.TextOps.queries("q_prefix_cache")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).sameElements(1L to 4L))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .map(_.toLowerCase.split(" ").filter(_.nonEmpty))
    rows.foreach { case (depth, nDocs, nGroups, tot, saved, ppm) =>
      assert(nDocs === docs.length)
      assert(tot === docs.map(_.length.toLong).sum)
      val groups = docs.groupBy(_.take(depth.toInt).mkString(" "))
      assert(nGroups === groups.size)
      val expSaved = groups.values.map { g =>
        (g.length - 1).toLong * math.min(g.head.length, depth.toInt)
      }.sum
      assert(saved === expSaved)
      assert(ppm === saved * 1000000L / math.max(tot, 1))
    }
  }

  test("q_spec_decode_accept: bigram draft acceptance replays exactly") {
    val row = graft.operators.TextOps
      .queries("q_spec_decode_accept")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().head
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .map(_.toLowerCase.split(" ").filter(_.nonEmpty))
    val pairs = docs.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val draft = pairs.keys.map(_._1).toSeq.distinct.map { a =>
      a -> pairs.collect { case ((aa, b), c) if aa == a => (b, c) }
        .toSeq.minBy { case (b, c) => (-c, b) }._1
    }.toMap
    val nPairs = pairs.values.sum
    val nAcc = pairs.collect { case ((a, b), c) if draft(a) == b => c }.sum
    assert(row._1 === nPairs && row._2 === nAcc)
    assert(row._3 === draft.size)
    assert(row._4 === nAcc * 1000000L / nPairs)
  }

  test("q_elbow: knee maximizes the exact chord cross-product") {
    val rows = graft.operators.TextOps.queries("q_elbow")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.map(_._4).sum === 1L, "exactly one knee")
    val (x0, y0) = (rows.head._1, rows.head._2)
    val (x1, y1) = (rows.last._1, rows.last._2)
    rows.foreach { case (x, y, c2, _) =>
      assert(c2 === math.abs((x1 - x0) * (y - y0) - (x - x0) * (y1 - y0)))
    }
    val knee = rows.minBy(r => (-r._3, r._1))
    assert(knee._4 === 1L)
  }

  test("q_youden: the chosen bin maximizes TPR minus FPR over the sweep") {
    val rows = graft.operators.VectorOps.queries("q_youden")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val cal = graft.operators.VectorOps.queries("q_calibration")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    rows.foreach { case (cl, bin, tp, fp, tpr, fpr, j) =>
      // replay from the calibration bins (lockstep scorer legs):
      // n_pos per bin = round-trip through pos_rate is lossy, so only
      // structural checks ride cal; exact J identity checks ride tp/fp
      val bins = cal.filter(_._1 == cl).map(_._2)
      assert(bins.contains(bin))
      assert(j === tpr - fpr)
      assert(tp >= 0 && fp >= 0 && tpr <= 1000 && fpr <= 1000)
    }
    // labels with both classes present must all report
    assert(rows.map(_._1).distinct.length === rows.length)
  }

  test("q_mahalanobis: distances replay the adjugate quadratic form") {
    val rows = graft.operators.EventOps.queries("q_mahalanobis")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val users = graft.sources.Tables.events(spark, sf).groupBy("user_id")
      .agg(sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .select("user_id", "x", "y").as[(Long, Long, Long)].collect()
    val n = users.length.toLong
    val sx = users.map(_._2).sum; val sy = users.map(_._3).sum
    val sxx = users.map(u => u._2 * u._2).sum
    val syy = users.map(u => u._3 * u._3).sum
    val sxy = users.map(u => u._2 * u._3).sum
    val mx = sx * 1000 / n; val my = sy * 1000 / n
    val cxx = (n * sxx - sx * sx) * 1000000L / (n * n)
    val cyy = (n * syy - sy * sy) * 1000000L / (n * n)
    val cxy = (n * sxy - sx * sy) * 1000000L / (n * n)
    val det = cxx * cyy - cxy * cxy
    def d2(x: Long, y: Long): Option[Long] = {
      if (det <= 0) None
      else {
        val dx = x * 1000 - mx; val dy = y * 1000 - my
        Some((cyy * dx * dx - 2 * cxy * dx * dy + cxx * dy * dy) /
          math.max(det / 1000, 1L))
      }
    }
    val exp = users.map(u => (u._1, u._2, u._3, d2(u._2, u._3)))
      .sortBy(t => (-t._4.getOrElse(Long.MinValue), t._1)).take(20)
    rows.zip(exp).foreach { case (r, e) =>
      assert((r._1, r._2, r._3, r._6) === e)
      assert(r._4 === e._2 * 1000 - mx && r._5 === e._3 * 1000 - my)
    }
  }

  test("q_bh_fdr: the step-up boundary is honored and ranks are complete") {
    val rows = graft.operators.CorpusOps.queries("q_bh_fdr")(spark, sf)
      .as[(String, Long, Long, Long, Option[Long], Long, Option[Long], Long)]
      .collect().sortBy(_._6)
    assert(rows.map(_._6).sameElements(1L to rows.length))
    // z² must be non-increasing in rank (nulls last)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        (a._5, b._5) match {
          case (Some(x), Some(y)) => assert(x >= y)
          case (None, Some(_)) => fail("null before non-null")
          case _ => ()
        }
      case _ => ()
    }
    // step-up: significant = rank <= kmax where kmax is the LAST rank
    // whose z² clears its own critical value
    val kmax = rows.filter(r =>
      r._5.isDefined && r._7.isDefined && r._5.get >= r._7.get)
      .map(_._6).sorted.lastOption.getOrElse(0L)
    rows.foreach(r => assert(r._8 === (if (r._6 <= kmax) 1L else 0L)))
  }

  test("q_cdc_chunks: chunking replays and token mass closes per source") {
    val rows = graft.operators.TextOps.queries("q_cdc_chunks")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
    // replay the boundary rule: md5 of the rolling 4-gram, % 16 == 0
    def md5hex(s0: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s0.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = docs.groupBy(_._1).map { case (src, g) =>
      var nChunks = 0L; var nTokens = 0L
      val hashes = scala.collection.mutable.Set.empty[String]
      var distinct = 0L
      g.foreach { case (_, t) =>
        val toks = t.toLowerCase.split(" ").filter(_.nonEmpty)
        val bounds = toks.indices.filter { i =>
          i >= 3 && (java.lang.Long.parseLong(
            md5hex(toks.slice(i - 3, i + 1).mkString(" ")).take(8),
            16) % 16) == 0
        }
        // cid = count of boundaries strictly BEFORE each position
        val chunks = toks.indices.groupBy(i => bounds.count(_ < i))
        chunks.values.foreach { idxs =>
          nChunks += 1; nTokens += idxs.length
          val h = md5hex(idxs.map(toks).mkString(" "))
          if (hashes.add(h)) distinct += 1
        }
      }
      src -> ((nChunks, distinct, nTokens))
    }
    rows.foreach { case (src, nc, nd, nt, dup, ml) =>
      val (enc, end, ent) = expected(src)
      assert((nc, nd, nt) === ((enc, end, ent)), src)
      assert(dup === (nc - nd) * 1000000L / nc)
      assert(ml === nt * 1000L / nc)
    }
  }

  test("q_adversarial_validation: AUC replays the Mann-Whitney identity") {
    val row = graft.operators.VectorOps
      .queries("q_adversarial_validation")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().head
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val q = emb.map { case (id, v) =>
      (id % 2, v.map(x => math.round(x.toDouble * 1000000)))
    }
    val dims = q.head._2.length
    val wq = (0 until dims).map { k =>
      def m(h: Long) = {
        val g = q.filter(_._1 == h)
        g.map(_._2(k)).sum / math.max(g.length, 1)
      }
      m(0) - m(1)
    }
    val scored = q.map { case (h, v) =>
      (h, (0 until dims).map(k => v(k) * wq(k)).sum)
    }
    val grp = scored.groupBy(_._2).view.mapValues { g =>
      (g.count(_._1 == 0L).toLong, g.count(_._1 == 1L).toLong)
    }.toSeq.sortBy(_._1)
    var cum = 0L; var u2 = 0L
    grp.foreach { case (_, (np, nn)) =>
      cum += nn
      u2 += np * (2 * cum - nn)
    }
    val nPos = grp.map(_._2._1).sum; val nNeg = grp.map(_._2._2).sum
    assert(row._1 === nPos && row._2 === nNeg)
    assert(row._3 === u2 * 1000000L / (2 * nPos * nNeg))
    assert(row._4 === math.abs(row._3 - 500000L))
  }

  test("q_self_bleu: coverage matches a brute-force bigram recompute per probe") {
    val rows = graft.operators.TextOps.queries("q_self_bleu")(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def bigrams(t: String): Set[String] = {
      val w = t.toLowerCase.split(" ").filter(_.nonEmpty)
      w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val bySrc = docs.groupBy(_._2)
    rows.foreach { case (qid, src, nBg, nCov, ppm) =>
      val probe = bigrams(docs.find(_._1 == qid).get._3)
      assert(nBg === probe.size.toLong)
      val others = bySrc(src).filter(_._1 != qid)
        .foldLeft(Set.empty[String])((s, d) => s ++ (bigrams(d._3) & probe))
      assert(nCov === others.size.toLong,
        s"probe $qid coverage: query $nCov vs brute force ${others.size}")
      assert(ppm === nCov * 1000000L / nBg && ppm <= 1000000L)
    }
  }
}
