package graft

import graft.functions.TextFunctions
import graft.expressions.native
import graft.operators.{Dedup, Similarity, Multimodal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different words entirely unrelated text"),
    (3L, "the quick brown fox jumps over the lazy dog") // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(docs, "doc_id", Seq(col("text")))
    assert(r.count() == 3)
    val dup = r.where(col("n_copies") === 2).select("keep_id").as[Long].collect()
    assert(dup.toSeq == Seq(0L))
  }

  test("token stats") {
    val r = docs.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.distinctTokenCount(col("text")).as("d"))
      .where(col("n") === 9).collect()
    assert(r.length == 3)        // docs 0,1,3 have 9 tokens
    assert(r.head.getLong(1) == 8) // "the" repeats
  }

  test("minhash signatures identical for identical docs, close for near-dups") {
    val sigs = docs.select(col("doc_id"),
      CrossCheck.minHashSignatures(col("text"), 8, 5).as("sig"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toMap
    assert(sigs(0L) == sigs(3L))
    val agree01 = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b }
    val agree02 = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree01 > agree02)
    assert(agree02 == 0)
  }

  test("LSH candidate pairs find the exact dup") {
    val withSig = docs.select(col("doc_id"),
      CrossCheck.minHashSignatures(col("text"), 8, 5).as("sig"))
    val pairs = Dedup.lshCandidatePairs(withSig, "doc_id", "sig", 8, 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("simhash hamming distance orders by similarity") {
    val sigs = docs.select(col("doc_id"), CrossCheck.simHash64("text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    val d01 = java.lang.Long.bitCount(sigs(0L) ^ sigs(1L))
    val d02 = java.lang.Long.bitCount(sigs(0L) ^ sigs(2L))
    assert(d01 < d02)
  }

  test("nGramJaccard: identical=1, near-dup high, unrelated low") {
    val a = docs.where($"doc_id" === 0).select($"text".as("ta"))
    val pairs = a.crossJoin(docs.select($"doc_id", $"text".as("tb")))
      .select($"doc_id", Dedup.nGramJaccard($"ta", $"tb").as("j"))
      .as[(Long, Double)].collect().toMap
    assert(pairs(3L) == 1.0)
    assert(pairs(1L) > 0.6)
    assert(pairs(2L) < 0.1)
  }

  test("cosine and brute-force top-k") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(
      vecs.where($"vec_id" === 0), vecs, k = 3)
      .select($"rank", $"neighbor_id").as[(Long, Long)].collect().toMap
    assert(r(1L) == 1L) // most similar
    assert(r(3L) == 3L) // least similar (opposite)
  }

  test("lsh bucket: same vector → same bucket; topk finds dup") {
    val vecs = Seq(
      (0L, (0 until 64).map(i => math.sin(i).toFloat)),
      (1L, (0 until 64).map(i => math.sin(i).toFloat)),
      (2L, (0 until 64).map(i => math.cos(i * 3).toFloat))
    ).toDF("vec_id", "embedding")
    val b = vecs.select(
      Similarity.hyperplaneBucket($"embedding", 8, 64).as("b"))
      .as[Long].collect()
    assert(b(0) == b(1))
    val topk = Similarity.lshTopK(vecs.where($"vec_id" === 0), vecs, 1, 8, 64)
    val hit = topk.select($"neighbor_id").as[Long].collect()
    assert(hit.toSeq == Seq(1L))
  }

  test("contamination counts shared n-grams against a benchmark set") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),     // shares "the quick brown"
      (2L, "totally unrelated words here now"),
      (3L, "quick brown fox jumps over fences")   // shares 2 grams
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox ran away")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, "doc_id", "text", bench, "text")
      .as[(Long, Long)].collect().toMap
    // doc 1: "the quick brown", "quick brown fox" → 2; doc 3: "quick brown
    // fox" → 1; doc 2 clean (absent from the result)
    assert(hits == Map(1L -> 2L, 3L -> 1L))
  }

  test("contaminationBloom ≡ contamination (bloom prefilter is exact-confirmed)") {
    // a corpus big enough that the bloom actually prunes: 200 docs, 10
    // contaminated with a planted benchmark phrase
    val corpus = (1L to 200L).map { i =>
      val planted = if (i % 20 == 0) " secret eval phrase here" else ""
      (i, s"document number $i token${i % 7} filler words$planted")
    }.toDF("doc_id", "text")
    val bench = Seq((1000L, "the secret eval phrase here leaked"))
      .toDF("doc_id", "text")
    val exact = Dedup.contamination(corpus, "doc_id", "text", bench, "text")
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.contaminationBloom(corpus, "doc_id", "text", bench, "text")
      .as[(Long, Long)].collect().toMap
    assert(exact == bloom)
    assert(bloom.size == 10 && bloom.keySet.forall(_ % 20 == 0))
    // tight fpp changes nothing (still exact after confirm)
    val tight = Dedup.contaminationBloom(corpus, "doc_id", "text", bench,
      "text", fpp = 0.0001).as[(Long, Long)].collect().toMap
    assert(tight == exact)
    // empty benchmark → no hits, no blow-up
    assert(Dedup.contaminationBloom(corpus, "doc_id", "text",
      bench.limit(0), "text").count() == 0)
  }

  test("gramBloom raises the runtime-filter caps instead of silently clamping") {
    val grams = (1 to 10000).map(i => s"gram token $i").toDF("__g")
    // simulate the cap-exceeded regime by lowering the caps below need
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (items0, bits0) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    try {
      spark.conf.set(itemsKey, "100")
      spark.conf.set(bitsKey, "1024")
      val blob = operators.Dedup.gramBloom(grams, fpp = 0.01)
      // optimal sizing for 10k items @1%: ~95851 bits ≈ 12KB — a silently
      // clamped 1024-bit filter would serialize to ~0.2KB
      assert(blob.length > 10000,
        s"bloom clamped: serialized ${blob.length} bytes")
      assert(spark.conf.get(itemsKey).toLong >= 10000)
      assert(spark.conf.get(bitsKey).toLong >= 95000)
      // and the filter actually works at the requested fpp: members all
      // hit, non-member false-positive rate ≈ 1%
      val probe = ((1 to 10000).map(i => s"gram token $i") ++
        (1 to 10000).map(i => s"absent token $i")).toDF("__g")
      val hits = probe.where(operators.Dedup.mightContainGram(blob, $"__g"))
        .count()
      assert(hits >= 10000 && hits < 10000 + 300,
        s"unexpected bloom hit count $hits")
    } finally {
      spark.conf.set(itemsKey, items0)
      spark.conf.set(bitsKey, bits0)
    }
  }

  test("gopher signals + PII counts on crafted documents") {
    val crafted = Seq(
      (1L, "line one\nline one\nline two\n\n- bullet a\n* bullet b"),
      (2L, "contact me at user.name+tag@example.com or 10.0.0.1 today"),
      (3L, "### symbols ... everywhere # 1234 5678"),
      (4L, "")).toDF("doc_id", "text")
    val r = crafted.select($"doc_id",
        TextFunctions.duplicateLineFraction($"text").as("dl"),
        TextFunctions.bulletLineFraction($"text").as("bl"),
        TextFunctions.alphaWordFraction($"text").as("aw"),
        TextFunctions.emailCount($"text").as("em"),
        TextFunctions.ipv4Count($"text").as("ip"),
        TextFunctions.phoneCount($"text").as("ph"))
      .orderBy("doc_id").collect()
    // doc 1: 5 non-empty lines, "line one" twice → 1/5 dup; 2/5 bullets
    assert(math.abs(r(0).getDouble(1) - 0.2) < 1e-9)
    assert(math.abs(r(0).getDouble(2) - 0.4) < 1e-9)
    // doc 2: one email, one IPv4
    assert(r(1).getLong(4) == 1 && r(1).getLong(5) == 1)
    // doc 3: symbol-heavy, "1234 5678" matches the phone pattern
    assert(r(2).getLong(6) == 1)
    assert(r(2).getDouble(3) < 0.6) // under half the tokens are alphabetic
    // doc 4 (empty): fractions 0, alpha NULL (no tokens... one empty token)
    assert(r(3).getDouble(1) == 0.0 && r(3).getDouble(2) == 0.0)
    // redaction replaces the matches in place
    val red = crafted.where($"doc_id" === 2).select(
      TextFunctions.redact(TextFunctions.redact($"text",
        TextFunctions.EmailPattern), TextFunctions.Ipv4Pattern).as("t"))
      .as[String].collect()(0)
    assert(red == "contact me at [REDACTED] or [REDACTED] today")
  }

  test("language id + quality are deterministic and sane") {
    val r = docs.orderBy("doc_id").select(
      TextFunctions.predictLang($"text").as("l"),
      TextFunctions.langScore($"text", "en").as("s"),
      round(TextFunctions.qualityScore($"text"), 4).as("q")).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("en", "en", "unk", "en"))
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 2L, 0L, 2L))
    assert(r.forall(row => row.getDouble(2) > 0 && row.getDouble(2) <= 1.0))
  }

  test("rolling hash: deterministic, content-sensitive") {
    val fps = docs.select(TextFunctions.rollingHash($"text")).as[Long].collect()
    assert(fps(0) == fps(3))
    assert(fps(0) != fps(1))
    assert(fps.forall(f => f >= 0 && f < 1000000007L))
  }

  test("multimodal decode plumbing round-trips schema") {
    implicit val s = spark
    val withPayload = docs.select($"doc_id",
      encode($"text", "utf-8").as("payload"))
    val meta = Multimodal.decodeMeta(withPayload, "doc_id", "payload")
    val r = meta.orderBy("media_id").collect()
    assert(r.length == 4)
    assert(r(0).byte_len == 43)
    assert(r(0).width == 320 + 43 % 321)
    assert(r(0).format == "yuv420")
    // frame sampling: stride 3 over n frames
    val n = docs.sparkSession.range(1).select(
      size(Multimodal.sampleFrameIndices(lit(10), 3))).as[Int].collect()(0)
    assert(n == 4) // frames 0,3,6,9
  }

  test("image decode: real ImageIO bytes round-trip dims/channels/format") {
    implicit val s = spark
    // real encoders: dims and 3-band RGB must survive every JDK codec
    for (fmt <- Seq("png", "gif", "jpeg", "bmp")) {
      val bytes = Multimodal.encodeImage(21, 13, seed = 42L, fmt)
      assert(Multimodal.decodeImage(bytes).contains((21, 13, 3, fmt)),
        s"decode mismatch for $fmt: ${Multimodal.decodeImage(bytes)}")
    }
    // determinism: same (dims, seed, fmt) → identical bytes
    assert(Multimodal.encodeImage(8, 8, 7L, "png")
      .sameElements(Multimodal.encodeImage(8, 8, 7L, "png")))
    // non-image bytes and empty/null payloads are None, not exceptions
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    // the Dataset path: good rows decode, junk rows degrade to "unknown"
    val rows = Seq(
      (1L, Multimodal.encodeImage(16, 12, 1L, "png")),
      (2L, "junk".getBytes)).toDF("id", "payload")
    val meta = Multimodal.decodeImageMeta(rows, "id", "payload")
      .collect().sortBy(_.media_id)
    assert(meta(0).width == 16 && meta(0).height == 12 &&
      meta(0).channels == 3 && meta(0).format == "png")
    assert(meta(1).format == "unknown" && meta(1).width == -1 &&
      meta(1).byte_len == 4)
  }

  test("image resize + features: real pixels through decode→scale→encode") {
    implicit val s = spark
    // 2×2 source with known colors, upscaled 2× nearest-neighbor → each
    // source pixel becomes an exact 2×2 block (no interpolation)
    val src = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    src.setRGB(0, 0, 0xff0000); src.setRGB(1, 0, 0x00ff00)
    src.setRGB(0, 1, 0x0000ff); src.setRGB(1, 1, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", bos)
    val out = Multimodal.resizeImage(bos.toByteArray, 4, 4, "png").get
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img.getWidth == 4 && img.getHeight == 4)
    for (x <- 0 until 2; y <- 0 until 2)
      assert((img.getRGB(x, y) & 0xffffff) == 0xff0000, s"($x,$y)")
    assert((img.getRGB(3, 3) & 0xffffff) == 0xffffff)
    assert((img.getRGB(0, 3) & 0xffffff) == 0x0000ff)
    // features: exact closed form on the 2×2 (means of the 4 colors)
    val Some((mr, mg, mb, lum)) = Multimodal.imageFeatures(bos.toByteArray)
    assert(mr == 127.5 && mg == 127.5 && mb == 127.5)
    assert(math.abs(lum - 127.5) < 1e-9) // weights sum to 1
    // junk and bad dims degrade to None
    assert(Multimodal.resizeImage("junk".getBytes, 4, 4).isEmpty)
    assert(Multimodal.resizeImage(bos.toByteArray, 0, 4).isEmpty)
    assert(Multimodal.imageFeatures(null).isEmpty)
    // Dataset path: good rows re-encode at target dims, junk rows NULL
    val rows = Seq((1L, Multimodal.encodeImage(9, 7, 1L, "gif")),
      (2L, "junk".getBytes)).toDF("id", "payload")
    val rs = Multimodal.resizeImages(rows, "id", "payload", 5, 3)
      .collect().sortBy(_.media_id)
    assert(Multimodal.decodeImage(rs(0).payload).contains((5, 3, 3, "png")))
    assert(rs(1).payload == null)
  }

  test("audio decode: real WAV bytes round-trip rate/channels/bits/frames") {
    implicit val s = spark
    // real RIFF bytes from AudioSystem.write; header-only parse back
    for ((sr, ch, nf) <- Seq((8000, 1, 50), (22050, 2, 149), (16000, 1, 1))) {
      val bytes = Multimodal.encodeWav(sr, ch, nf, seed = 42L)
      assert(Multimodal.decodeWav(bytes).contains((sr, ch, 16, nf.toLong)),
        s"WAV decode mismatch for ($sr,$ch,$nf): ${Multimodal.decodeWav(bytes)}")
    }
    // determinism: same params → identical bytes
    assert(Multimodal.encodeWav(8000, 1, 10, 7L)
      .sameElements(Multimodal.encodeWav(8000, 1, 10, 7L)))
    // junk / empty / null payloads degrade to None, not exceptions
    assert(Multimodal.decodeWav("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeWav(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeWav(null).isEmpty)
    // the Dataset path: good rows decode, junk rows degrade to -1s
    val rows = Seq(
      (1L, Multimodal.encodeWav(11025, 2, 30, 1L)),
      (2L, "junk".getBytes)).toDF("id", "payload")
    val meta = Multimodal.decodeAudioMeta(rows, "id", "payload")
      .collect().sortBy(_.media_id)
    assert(meta(0).sample_rate == 11025 && meta(0).channels == 2 &&
      meta(0).bits == 16 && meta(0).n_frames == 30L)
    assert(meta(1).sample_rate == -1 && meta(1).byte_len == 4)
  }

  test("video decode: MP4 box tree round-trips dims/duration/brand") {
    implicit val s = spark
    // container metadata survives the 16.16 fixed-point + timescale round trip
    for ((w, h, d, b) <- Seq((160, 120, 1000L, "isom"),
                             (1920, 1080, 9999L, "mp42"))) {
      val bytes = Multimodal.encodeMp4Meta(w, h, d, b)
      assert(Multimodal.decodeMp4(bytes).contains((w, h, d, b)),
        s"MP4 decode mismatch: ${Multimodal.decodeMp4(bytes)}")
    }
    // malformed trees degrade to None: junk, truncated header, bad box size
    assert(Multimodal.decodeMp4("not a video".getBytes).isEmpty)
    assert(Multimodal.decodeMp4(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeMp4(null).isEmpty)
    assert(Multimodal.decodeMp4(
      Multimodal.encodeMp4Meta(64, 48, 100L).take(30)).isEmpty)
    // the Dataset path: good rows decode, junk rows degrade to "unknown"
    val rows = Seq(
      (1L, Multimodal.encodeMp4Meta(320, 240, 1500L, "mp42")),
      (2L, "junk-junk".getBytes)).toDF("id", "payload")
    val meta = Multimodal.decodeVideoMeta(rows, "id", "payload")
      .collect().sortBy(_.media_id)
    assert(meta(0).width == 320 && meta(0).height == 240 &&
      meta(0).duration_ms == 1500L && meta(0).brand == "mp42")
    assert(meta(1).brand == "unknown" && meta(1).width == -1)
  }

  test("media byte-packing bounds bucket bytes under skew") {
    implicit val s = spark
    // skewed corpus: a few giant payloads among many small ones
    val rows = (0L until 200L).map { i =>
      val sz = if (i % 50 == 0) 400000 else 1000 // 4 × 400KB + 196 × 1KB
      (i, Array.fill[Byte](sz)((i % 127).toByte))
    }
    val df = rows.toDF("id", "payload").repartition(4)
    val target = 1 // MB
    val bucketed = Multimodal.assignMediaBuckets(df, "payload", target)
    val perBucket = bucketed.groupBy("__media_bkt")
      .agg(sum(length($"payload")).as("bytes"))
      .select("bytes").as[Long].collect()
    assert(perBucket.sum == rows.map(_._2.length.toLong).sum)
    // the greedy invariant: every bucket ≤ budget + one payload (a single
    // payload larger than the budget owns its whole bucket)
    val bound = target * 1024L * 1024L + 400000L
    assert(perBucket.forall(_ <= bound),
      s"bucket byte sums ${perBucket.toSeq} exceed bound $bound")
    // and the end-to-end path actually spreads the data over partitions
    val out = Multimodal.repartitionForMedia(df, "payload", targetMB = target)
    assert(out.rdd.getNumPartitions >= 1 && out.count() == 200)
    // a zero budget is rejected when the frame is built, never executed
    intercept[IllegalArgumentException](
      Multimodal.assignMediaBuckets(df, "payload", 0))
    intercept[IllegalArgumentException](
      Multimodal.repartitionForMedia(df, "payload", targetMB = 0))
  }

  test("native hyperplane bucket is bit-identical to the Column formulation") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val both = e.select(
      Similarity.hyperplaneBucket($"embedding", 8, 64).as("native"),
      CrossCheck.hyperplaneBucketHof($"embedding", 8, 64).as("hof"))
    assert(both.where($"native" =!= $"hof").count() == 0)
    assert(both.select(countDistinct($"native")).as[Long].collect()(0) > 1)
  }

  test("deterministic splits: stable, complete, and weight-proportional") {
    import graft.operators.Sampling
    val ids = spark.range(10000).toDF("id")
    val split = ids.withColumn("s", Sampling.splitColumn(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    val counts = split.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 10000)
    assert(counts("train") == 8000 && counts("val") == 1000 &&
      counts("test") == 1000) // affine-mod over a full range is exact
    // rerun → identical assignment (no RNG state)
    val again = ids.withColumn("s", Sampling.splitColumn(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    assert(split.except(again).count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.splitColumn(col("id"), Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("capPerKey keeps exactly top-k per key in order") {
    import graft.operators.Sampling
    val df = Seq(("a", 1L, 10), ("a", 2L, 30), ("a", 3L, 20),
      ("b", 4L, 5)).toDF("k", "id", "score")
    val kept = Sampling.capPerKey(df, "k", 2,
      Seq(col("score").desc, col("id").asc))
    val got = kept.orderBy("k", "id").select("id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 4L)) // a: top-2 by score = ids 2,3; b: all
  }

  test("exactKeepBest keeps the preferred row, ties to min id") {
    val df = Seq((1L, "x", 5.0), (2L, "x", 9.0), (3L, "x", 9.0),
      (4L, "y", 1.0)).toDF("id", "k", "q")
    val kept = Dedup.exactKeepBest(df, "id", Seq(col("k")), col("q"))
      .orderBy("keep_id").select("keep_id", "n_copies")
      .as[(Long, Long)].collect().toSeq
    assert(kept == Seq((2L, 3L), (4L, 1L))) // max q wins, tie → min id
  }

  test("l2Normalize and int8 quantization round-trip") {
    val df = Seq((1L, Seq(3.0f, 4.0f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("id", "v")
    val n = df.select($"id", Similarity.l2Normalize($"v").as("nv"))
      .orderBy("id").collect()
    val nv = n(0).getSeq[Double](1)
    assert(math.abs(nv(0) - 0.6) < 1e-9 && math.abs(nv(1) - 0.8) < 1e-9)
    assert(n(1).isNullAt(1)) // zero vector → NULL, not NaN
    val (scale, quant) = Similarity.quantizeInt8($"v")
    val q = df.select($"id", scale.as("s"), quant.as("q")).orderBy("id")
      .collect()
    assert(q(0).getDouble(1) == 127.0 / 4.0)
    assert(q(0).getSeq[Int](2) == Seq(95, 127)) // round(3*31.75), 127
  }

  test("connectedComponents labels chains and stars (both paths agree)") {
    // components: {1,2,3,4} (chain), {10,11} (pair)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L)
    val driverPath = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(driverPath == expected)
    // force the distributed fallback with driverMaxEdges = 0
    val distPath = Dedup.connectedComponents(edges, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distPath == expected)
    // min-label propagation agrees with both
    val labelPath = CrossCheck.connectedComponentsDistributed(edges)
      .as[(Long, Long)].collect().toMap
    assert(labelPath == expected)
  }

  test("star-contraction CC handles hubs, long chains, and singleton pairs") {
    // a 40-node chain (worst case for label propagation), a 30-spoke hub,
    // and an isolated pair
    val chain = (1L until 40L).map(i => (i, i + 1))
    val hub = (101L to 130L).map(i => (100L, i))
    val edges = (chain ++ hub ++ Seq((500L, 501L))).toDF("a", "b")
    val got = Dedup.connectedComponentsStars(edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 40L).forall(got(_) == 1L))
    assert((100L to 130L).forall(got(_) == 100L))
    assert(got(500L) == 500L && got(501L) == 500L)
    assert(got.size == 40 + 31 + 2)
  }

  test("dedupNear removes near-dups, keeps min id and unrelated docs") {
    val r = Dedup.dedupNear(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    // jaccard(0,1)=0.857 at 5-gram shingles → component {0,1,3}, keep 0
    assert(r == Set(0L, 2L))
    // keep-best policy: prefer the HIGHEST doc_id in the component instead
    val best = Dedup.dedupNear(docs, "doc_id", "text", threshold = 0.8,
        preferBy = Some(d => d("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(3L, 2L)) // component {0,1,3} → keep 3
  }

  test("dedupNear verify stage keeps its parallelism pin under AQE") {
    // r11 found AQE's byte-based coalescer collapsing the 16-byte
    // candidate-pair rows to 1-2 tasks, serializing the CPU-bound jaccard
    // kernel. The fix is a user repartition whose shuffle origin
    // (REPARTITION_BY_NUM) AQE is defined to leave alone — assert that
    // origin is actually present in the executed plan so a refactor can't
    // silently reintroduce the pathology.
    val verified = Dedup.verifiedPairs(docs, "doc_id", "text",
      threshold = 0.8, numHashes = 16, rowsPerBand = 4, shingleSize = 5)
    verified.collect()
    val plan = verified.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"verify-stage repartition pin missing; plan:\n${plan.take(3000)}")
    assert(verified.rdd.getNumPartitions > 1,
      "verify stage ran in a single partition")
  }

  test("verifiedPairs keeps exactly the pairs the pairwise jaccard keeps " +
      "on a seeded corpus") {
    // near-copies (1-3 word edits) of seeded originals plus unrelated docs:
    // LSH yields candidates on both sides of the 0.8 threshold
    val rnd = new scala.util.Random(20261017L)
    val vocab = (0 until 300).map(i => s"w${i * 7919 % 1000}")
    def sentence(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.length)))
    val originals = Seq.fill(60)(sentence(14 + rnd.nextInt(10)))
    val copies = originals.flatMap { o =>
      Seq.fill(rnd.nextInt(4))(o.zipWithIndex.map { case (w, i) =>
        if (i % (3 + rnd.nextInt(12)) == 2) vocab(rnd.nextInt(vocab.length))
        else w
      })
    }
    val corpus = (originals ++ copies ++ Seq.fill(40)(sentence(15)))
      .map(_.mkString(" ")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Dedup.verifiedPairs(corpus, "doc_id", "text",
      threshold = 0.8, numHashes = 16, rowsPerBand = 4, shingleSize = 5)
      .as[(Long, Long)].collect().toSet
    val candidates = Dedup.lshCandidatePairs(corpus.select($"doc_id",
        Dedup.minHashSignaturesNative($"text", 16, 5).as("sig")),
      "doc_id", "sig", 16, 4)
    val texts = corpus.select($"doc_id", $"text")
    val scored = candidates
      .join(texts.select($"doc_id".as("a"), $"text".as("ta")), "a")
      .join(texts.select($"doc_id".as("b"), $"text".as("tb")), "b")
      .select($"a", $"b", native.ngram_jaccard($"ta", $"tb", 5).as("j"))
      .as[(Long, Long, Double)].collect()
    val want = scored.collect { case (a, b, j) if j >= 0.8 => (a, b) }.toSet
    assert(got == want)
    assert(want.nonEmpty && scored.length > want.size,
      s"corpus must yield kept and rejected candidates: ${scored.length} " +
        s"candidates, ${want.size} kept")
  }

  test("packFlatSalted equals packFlat after sort") {
    import graft.nested.NestedOps
    val child = (1 to 100).map(i => (i % 3L, i)).toDF("key", "v")
    val a = NestedOps.packFlat(child, Seq("key"), "n", Seq(("v", true)))
      .orderBy("key").select(expr("n.v")).as[Seq[Int]].collect()
    val b = NestedOps.packFlatSalted(child, Seq("key"), "n", 8, Seq(("v", true)))
      .orderBy("key").select(expr("n.v")).as[Seq[Int]].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("simhashCandidatePairs recovers a NON-ADJACENT pair in a small block") {
    // Four sigs sharing block 0 (low 16 bits = 0), sorted members [1,2,3,4];
    // ONLY (2,4) is within Hamming ≤ 3. Star edges (min=1 → each) and chain
    // edges (1-2, 2-3, 3-4) all fail the Hamming filter, so a star+chain-only
    // path loses the pair; the all-pairs small-block path must find it.
    def bits(bs: Int*): Long = bs.map(1L << _).reduce(_ | _)
    val sigs = Seq(
      (1L, bits(16, 17, 18, 19, 20, 21, 22, 23)),
      (2L, bits(32, 33, 34, 35)),
      (3L, bits(48, 49, 50, 51, 52, 53, 54, 55)),
      (4L, bits(32, 33, 34, 35, 36))).toDF("id", "sig")
    val pairs = Dedup.simhashCandidatePairs(sigs, "id", "sig")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 4L)))
  }

  test("simhashCandidatePairs hot block: star+chain connect all members") {
    // 10 identical sigs with allPairsCap=4 force the big-block window path:
    // star (min→each) + chain (consecutive) edges, never an all-pairs clique.
    val sigs = (1L to 10L).map(i => (i, 0xABCDL)).toDF("id", "sig")
    val pairs = Dedup.simhashCandidatePairs(sigs, "id", "sig",
        allPairsCap = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val star = (2L to 10L).map(j => (1L, j)).toSet
    val chain = (1L to 9L).map(i => (i, i + 1)).toSet
    assert(pairs == (star ++ chain))
    // and on real text: the exact dup (0,3) from the docs corpus is found
    val real = docs.select($"doc_id",
      Dedup.simHash64Native($"text").as("sig"))
    val realPairs = Dedup.simhashCandidatePairs(real, "doc_id", "sig")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(realPairs.contains((0L, 3L)))
  }

  test("star-contraction CC throws instead of mislabeling at maxIter") {
    // a 64-node chain cannot reach the star-forest fixpoint in one round;
    // the old behavior silently emitted wrong labels from the final select
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStars(edges, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("hyperplane bucket: short vector → NULL, native and HOF agree") {
    val vecs = Seq((1L, Seq(1.0f, 2.0f)),
      (2L, (0 until 64).map(i => math.sin(i).toFloat)))
      .toDF("id", "v")
    val r = vecs.select($"id",
        Similarity.hyperplaneBucket($"v", 8, 64).as("native"),
        CrossCheck.hyperplaneBucketHof($"v", 8, 64).as("hof"))
      .orderBy("id").collect()
    assert(r(0).isNullAt(1) && r(0).isNullAt(2)) // short → NULL, not bucket 0
    assert(!r(1).isNullAt(1) && r(1).getLong(1) == r(1).getLong(2))
  }

  test("repartitionForMedia degrades to 1 partition on empty/all-null input") {
    implicit val s = spark
    val empty = Seq.empty[(Long, Array[Byte])].toDF("id", "payload")
    val out = Multimodal.repartitionForMedia(empty, "payload", targetMB = 1)
    assert(out.count() == 0 && out.rdd.getNumPartitions == 1)
    val nulls = Seq((1L, null: Array[Byte]), (2L, null: Array[Byte]))
      .toDF("id", "payload")
    val out2 = Multimodal.repartitionForMedia(nulls, "payload", targetMB = 1)
    assert(out2.count() == 2 && out2.rdd.getNumPartitions == 1)
  }

  test("IVF bucketed write: probes prune to the probed cell partitions") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (assigned, centroids) =
      Similarity.ivfIndex(e, k = 8, iters = 0)
    val path = "/tmp/ivf_bucketed_spec"
    Similarity.writeIvfBucketed(assigned, path)
    // the written layout is one directory per cell
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__cid=")).length
    assert(dirs > 1 && dirs <= 8)
    val res = Similarity.ivfTopKFromBucketed(spark,
      e.where($"vec_id" < 5), path, centroids, nprobe = 2, k = 3)
    assert(res.count() > 0)
    // the cell equi-join must reach the scan as a partition-level prune
    // (dynamic partition pruning on the __cid directory column)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on __cid; plan:\n${plan.take(3000)}")
  }

  test("PQ codebooks encode compactly and ADC retrieves the planted dup") {
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 300L).map { i =>
      (i, (0 until 64).map(_ => rnd.nextFloat() - 0.5f))
    }
    // plant vec 299 = copy of vec 7: ADC distance is exact for identical
    // codes, so the duplicate must rank first
    val planted = corpus.map { case (i, v) =>
      if (i == 299L) (i, corpus(7)._2) else (i, v) }
      .toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(planted, m = 8, k = 16, iters = 1)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    val encoded = planted.select($"vec_id",
      Similarity.pqEncode($"embedding", books).as("__codes"))
    // codes: m small ints per vector — the 32× compression claim's shape
    val codes = encoded.select($"__codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    val dupCodes = encoded.where($"vec_id" === 7 || $"vec_id" === 299)
      .select($"__codes").as[Seq[Int]].collect()
    assert(dupCodes(0) == dupCodes(1)) // identical vectors → identical codes
    val top = Similarity.pqTopK(
      planted.where($"vec_id" === 7), encoded, books, k = 1)
      .select($"neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(299L))
    // native kernel is bit-identical to the Column formulation, and both
    // NULL short vectors instead of encoding a truncated slice
    val both = planted.select(
      Similarity.pqEncode($"embedding", books).as("n"),
      CrossCheck.pqEncodeHof($"embedding", books).as("h"))
    assert(both.where(expr("n <> h")).count() == 0)
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "embedding")
      .select(Similarity.pqEncode($"embedding", books).as("n"),
        CrossCheck.pqEncodeHof($"embedding", books).as("h")).collect()(0)
    assert(short.isNullAt(0) && short.isNullAt(1))
    // IVF-PQ: coarse cells prune candidates, ADC ranks the survivors —
    // the identical-code duplicate shares the cell and wins
    val (assigned, centroids) =
      Similarity.ivfIndex(planted, k = 8, iters = 1)
    val cellsAndCodes = assigned.select($"vec_id", $"__cid",
      Similarity.pqEncode($"embedding", books).as("__codes"))
    val ivfpq = Similarity.ivfPqTopK(
      planted.where($"vec_id" === 7), cellsAndCodes, centroids, books,
      nprobe = 2, k = 1)
      .select($"neighbor_id").as[Long].collect()
    assert(ivfpq.toSeq == Seq(299L))
  }

  test("native adc_score is bit-identical to the unrolled " +
      "slice/element_at Column formulation") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 300L).map { i =>
      (i, (0 until 64).map(_ => rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, m = 8, k = 16, iters = 0)
    val (m, sub) = (books.length, books(0)(0).length)
    val cb = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val withCodes = vecs.select($"vec_id", $"embedding",
      Similarity.pqEncode($"embedding", books).as("__codes"))
    val unrolled = (0 until m).map { j =>
      graft.expressions.native.dot_f(
        slice($"embedding", j * sub + 1, sub),
        element_at(element_at(cb, j + 1),
          element_at($"__codes", j + 1) + 1))
    }.reduce[org.apache.spark.sql.Column](_ + _)
    val both = withCodes.select(
      graft.expressions.native.adc_score($"embedding", $"__codes", books)
        .as("n"), unrolled.as("h"))
    // bit-equality (same accumulation order), not approx
    assert(both.where(expr("n <> h")).count() == 0)
    // short query vector NULLs instead of reading out of bounds
    val short = Seq((1L, Seq(1.0f, 2.0f), Seq(0, 0, 0, 0, 0, 0, 0, 0)))
      .toDF("id", "embedding", "__codes")
      .select(graft.expressions.native
        .adc_score($"embedding", $"__codes", books).as("n")).collect()(0)
    assert(short.isNullAt(0))
  }

  test("ivfPqTopK on a cid-partitioned corpus pushes a probed-cell " +
      "PARTITION filter (the nprobe/k read at scale)") {
    // Spark's dynamic partition pruning declines broadcast sides without
    // a selective predicate, so the literal IN from pruneToProbedCells is
    // what actually bounds the scan — assert it reaches PartitionFilters
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 400L).map { i =>
      (i, (0 until 64).map(_ => rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, m = 8, k = 16, iters = 0)
    val (assigned, centroids) =
      Similarity.ivfIndex(vecs, k = 8, iters = 0)
    val dir = "/tmp/graft-test-ivf-pruning"
    assigned.select($"vec_id", $"__cid",
        Similarity.pqEncode($"embedding", books).as("__codes"))
      .write.mode("overwrite").partitionBy("__cid").parquet(dir)
    val ivfCorpus = spark.read.parquet(dir)
    val out = Similarity.ivfPqTopK(vecs.where($"vec_id" === 3), ivfCorpus,
      centroids, books, nprobe = 2, k = 5)
    val plan = out.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("__cid"))
    assert(scanLine.isDefined, plan)
    assert(scanLine.get.contains(" IN "), scanLine.get)
    assert(out.count() == 5)
  }

  test("IVF index + search finds the planted duplicate") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 200L).map { i =>
      (i, (0 until 16).map(_ => rnd.nextFloat() - 0.5f))
    }
    // plant vec 199 = copy of vec 5
    val planted = corpus.map { case (i, v) =>
      if (i == 199L) (i, corpus(5)._2) else (i, v) }
      .toDF("vec_id", "embedding")
    val (assigned, centroids) = Similarity.ivfIndex(planted, k = 8, iters = 2)
    assert(assigned.select("__cid").distinct().count() <= 8)
    val res = Similarity.ivfTopK(
      planted.where($"vec_id" === 5), assigned, centroids, nprobe = 2, k = 1)
    val top = res.select($"neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(199L)) // the duplicate lands in the same cell
    val again = Similarity.ivfTopK(
      planted.where($"vec_id" === 5), assigned, centroids, nprobe = 2, k = 1)
    assert(again.select($"neighbor_id").as[Long].collect().toSeq == Seq(199L))
  }

  test("paragraph dedup: in-doc keeps first occurrences; global keeps one") {
    val df = Seq(
      (1L, "alpha\nboiler\nbeta\nboiler"),   // intra-doc repeat
      (2L, "boiler\ngamma"),                 // cross-doc repeat, later doc
      (3L, "x\n\ndelta\n\nx"),               // short paras "x"/"" exempt
      (4L, "")                               // empty doc
    ).toDF("doc_id", "text")
    // in-doc: array_distinct semantics, first occurrence in order
    val inDoc = df.select($"doc_id",
        operators.Dedup.dedupParagraphsInDoc($"text").as("t"))
      .as[(Long, String)].collect().toMap
    assert(inDoc(1L) == "alpha\nboiler\nbeta")
    assert(inDoc(2L) == "boiler\ngamma")
    assert(inDoc(3L) == "x\n\ndelta") // in-doc HAS no exemption: dedups x,""
    assert(inDoc(4L) == "")
    // global: boiler survives only at (doc 1, pos 1); sub-minChars "x"/""
    // are exempt everywhere
    val g = operators.Dedup.dedupParagraphs(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(g(1L) == ("alpha\nboiler\nbeta", 3L, 1L))
    assert(g(2L) == ("gamma", 1L, 1L))
    assert(g(3L) == ("x\n\ndelta\n\nx", 5L, 0L))
    assert(g(4L) == ("", 1L, 0L)) // "" is exempt → kept, nothing dropped
  }

  test("asofJoin: backward inclusive match, ties, no-match nulls") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 50L),
      (4L, 30L, 500L)).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 100L, 11L, 1.0),  // same ts as left 1 → inclusive match
      (10L, 200L, 12L, 2.0),
      (10L, 200L, 13L, 3.0),  // tie at ts=200: max p_event_id wins
      (20L, 60L, 14L, 4.0)    // after left 3 → no match for user 20
    ).toDF("user_id", "ts", "p_event_id", "p_value")
    val out = operators.Joins.asofJoin(left, right, "user_id", "ts",
        rightTieBreak = Seq("p_event_id"))
      .orderBy("event_id")
      .select("event_id", "p_event_id", "p_value")
      .as[(Long, Option[Long], Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, Some(11L), Some(1.0)),  // ts 100 matches right at exactly 100
      (2L, Some(13L), Some(3.0)),  // ts 250 → latest ≤ is the tie at 200
      (3L, None, None),            // user 20: only right is LATER
      (4L, None, None)))           // user 30: no right rows at all
  }

  test("trainVocab: top-K selection + scoreWithVocab ≡ unigramLogProb " +
      "when K covers the whole vocabulary") {
    val df = Seq((1L, "a a b c"), (2L, "a b b d"), (3L, "c c a a"))
      .toDF("doc_id", "text")
    val (vocab, total) = operators.Quality.trainVocab(df, "text", 100)
    assert(total == 12.0)
    val v = vocab.as[(String, Long)].collect().toSeq
    assert(v == Seq(("a", 5L), ("b", 3L), ("c", 3L), ("d", 1L))) // tie b/c → lex
    // full-coverage vocab: scoring matches the corpus-trained LM exactly
    val scored = operators.Quality
      .scoreWithVocab(df, "doc_id", "text", vocab, total)
      .orderBy("doc_id").select("avg_logp").as[Double].collect()
    val lm = operators.Quality.unigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").select("avg_logp").as[Double].collect()
    scored.zip(lm).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    // truncated vocab: OOV tokens take the floor, score strictly drops
    val (top1, _) = operators.Quality.trainVocab(df, "text", 1)
    val truncated = operators.Quality
      .scoreWithVocab(df, "doc_id", "text", top1, total)
      .orderBy("doc_id").select("avg_logp").as[Double].collect()
    truncated.zip(scored).foreach { case (t, f) => assert(t < f) }
  }

  test("temperatureRates: closed-form mixture, rarest source keeps 100%") {
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1 to 100).map(i => (i.toLong + 1000, "small")))
      .toDF("id", "src")
    val r = operators.Sampling.temperatureRates(df, "src", alpha = 0.5)
    assert(math.abs(r("small") - 1.0) < 1e-12) // rarest: keep everything
    // rate_big = (p_big/p_small)^(α-1) = (9)^(-1/2) = 1/3
    assert(math.abs(r("big") - 1.0 / 3.0) < 1e-12)
    // α=1 → no rebalancing: every source keeps 100%
    val flat = operators.Sampling.temperatureRates(df, "src", alpha = 1.0)
    assert(flat.values.forall(v => math.abs(v - 1.0) < 1e-12))
    intercept[IllegalArgumentException] {
      operators.Sampling.temperatureRates(df, "src", alpha = 0.0)
    }
  }

  test("asofJoin: forward / nearest directions + tolerance") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 20L, 50L),
      (4L, 30L, 500L)).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 100L, 11L, 1.0),  // equal ts to left 1
      (10L, 200L, 12L, 2.0),
      (10L, 300L, 13L, 3.0),
      (20L, 60L, 14L, 4.0)
    ).toDF("user_id", "ts", "p_event_id", "p_value")
    def run(dir: String, tol: Option[Long] = None) =
      operators.Joins.asofJoin(left, right, "user_id", "ts",
          rightTieBreak = Seq("p_event_id"), direction = dir, tolerance = tol)
        .orderBy("event_id").select("event_id", "p_event_id")
        .as[(Long, Option[Long])].collect().toSeq
    // forward: earliest right ≥, inclusive at equal ts
    assert(run("forward") == Seq(
      (1L, Some(11L)),  // equal ts matches forward too
      (2L, Some(13L)),  // 250 → earliest ≥ is 300
      (3L, Some(14L)),  // 50 → 60 is ahead
      (4L, None)))      // user 30: nothing
    // nearest: distance 0 at left 1; left 2 at 250 is equidistant from
    // 200 and 300 → tie goes BACKWARD (200)
    assert(run("nearest") == Seq(
      (1L, Some(11L)), (2L, Some(12L)), (3L, Some(14L)), (4L, None)))
    // tolerance nulls matches beyond the bound, keeps the rest
    assert(run("forward", tol = Some(10L)) == Seq(
      (1L, Some(11L)), (2L, None), (3L, Some(14L)), (4L, None)))
    assert(run("backward", tol = Some(49L)) == Seq(
      (1L, Some(11L)), (2L, None), (3L, None), (4L, None)))
    assert(run("nearest", tol = Some(50L)) == Seq(
      (1L, Some(11L)), (2L, Some(12L)), (3L, Some(14L)), (4L, None)))
    intercept[IllegalArgumentException] {
      operators.Joins.asofJoin(left, right, "user_id", "ts",
        direction = "sideways")
    }
  }

  test("asofJoin: TIMESTAMP ts column with millisecond tolerance " +
      "(pandas Timedelta parity)") {
    import org.apache.spark.sql.functions.timestamp_millis
    val left = Seq((1L, 10L, 100000L), (2L, 10L, 250000L), (3L, 20L, 50000L))
      .toDF("event_id", "user_id", "ms")
      .withColumn("ts", timestamp_millis($"ms")).drop("ms")
    val right = Seq((10L, 100000L, 11L), (10L, 200000L, 12L),
      (20L, 60000L, 14L))
      .toDF("user_id", "ms", "p_event_id")
      .withColumn("ts", timestamp_millis($"ms")).drop("ms")
    def run(dir: String, tolMs: Option[Long]) =
      operators.Joins.asofJoin(left, right, "user_id", "ts",
          rightTieBreak = Seq("p_event_id"), direction = dir,
          tolerance = tolMs)
        .orderBy("event_id").select("event_id", "p_event_id")
        .as[(Long, Option[Long])].collect().toSeq
    // tolerance is in MILLISECONDS on a timestamp key: left 2 at 250s is
    // 50s after right 200s → inside 50_000 ms, outside 49_999 ms
    assert(run("backward", Some(50000L)) ==
      Seq((1L, Some(11L)), (2L, Some(12L)), (3L, None)))
    assert(run("backward", Some(49999L)) ==
      Seq((1L, Some(11L)), (2L, None), (3L, None)))
    // nearest on timestamps: distance arithmetic via epoch micros
    assert(run("nearest", None) ==
      Seq((1L, Some(11L)), (2L, Some(12L)), (3L, Some(14L))))
    // numeric-or-timestamp gate still rejects tolerance on a string ts
    val badR = right.withColumn("ts", $"ts".cast("string"))
    val badL = left.withColumn("ts", $"ts".cast("string"))
    intercept[IllegalArgumentException] {
      operators.Joins.asofJoin(badL, badR, "user_id", "ts",
        tolerance = Some(1L))
    }
  }

  test("asofJoin: TimestampNTZ tolerance is WALL-CLOCK across a DST " +
      "transition (calendar-field micros, session-tz-proof)") {
    // pandas merge_asof on naive datetime64 computes wall-clock
    // distances. Spring-forward in America/New_York, 2024-03-10: wall
    // 01:30 → 03:30 is 120 wall minutes (only 60 real minutes). A
    // session-tz cast would measure 60 and wrongly match under a 90-min
    // tolerance; the calendar-field extraction must measure 120 and
    // reject — in ANY session zone.
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val left = Seq((1L, 10L, "2024-03-10 03:30:00"))
        .toDF("event_id", "user_id", "s")
        .withColumn("ts", $"s".cast("timestamp_ntz")).drop("s")
      val right = Seq((10L, "2024-03-10 01:30:00", 11L))
        .toDF("user_id", "s", "p_event_id")
        .withColumn("ts", $"s".cast("timestamp_ntz")).drop("s")
      def run(tolMs: Long) =
        operators.Joins.asofJoin(left, right, "user_id", "ts",
            rightTieBreak = Seq("p_event_id"), tolerance = Some(tolMs))
          .select("p_event_id").as[Option[Long]].collect().head
      assert(run(90L * 60000L).isEmpty,   // 90 wall minutes < 120 → no match
        "NTZ distance leaked through the session zone (measured 60 real " +
          "minutes instead of 120 wall minutes)")
      assert(run(120L * 60000L).contains(11L)) // exactly 120 wall minutes
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("asofJoinBy: composite key partitions the sweep (merge_asof by=[...])") {
    val left = Seq((1L, 10L, "a", 100L), (2L, 10L, "b", 100L),
      (3L, 20L, "a", 100L)).toDF("event_id", "uid", "seg", "ts")
    val right = Seq(
      (10L, "a", 90L, 11L), (10L, "b", 95L, 12L),
      (20L, "b", 80L, 13L)  // only seg b for uid 20 → (20,"a") no match
    ).toDF("uid", "seg", "ts", "p_id")
    val out = operators.Joins.asofJoinBy(left, right, Seq("uid", "seg"),
        "ts", rightTieBreak = Seq("p_id"))
      .orderBy("event_id").select("event_id", "p_id")
      .as[(Long, Option[Long])].collect().toSeq
    // each (uid, seg) pair sweeps independently — the single-key join
    // would have matched (1, uid 10) to the LATER ts=95 row of seg b
    assert(out == Seq((1L, Some(11L)), (2L, Some(12L)), (3L, None)))
    intercept[IllegalArgumentException] {
      operators.Joins.asofJoinBy(left, right, Nil, "ts")
    }
  }

  test("duplicatedSpans: later copies of a span lose, unique spans keep") {
    val df = Seq(
      (1L, "a b c d e f"),   // spans: "a b c", "d e f"
      (2L, "a b c x y z"),   // first span duplicates doc 1's
      (3L, "p q r")          // unique
    ).toDF("doc_id", "text")
    val out = operators.Chunking
      .duplicatedSpans(df, "doc_id", "text", window = 3)
      .select($"doc_id", $"tok_start", $"keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 0L, true), (1L, 3L, true),  // doc 1 owns both spans
      (2L, 0L, false),                 // duplicated "a b c", later doc
      (2L, 3L, true), (3L, 0L, true)))
  }

  test("capPerKey plans a WindowGroupLimit (map-side beyond-k pruning)") {
    val df = spark.range(1000).select(
      (col("id") % 10).as("k"), col("id").as("v"))
    val plan = operators.Sampling.capPerKey(df, "k", 3, Seq($"v".desc))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("rangeJoin: banded equi-join matches exact interval semantics") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L)).toDF("eid", "k", "ts")
    val right = Seq(
      (10L, 100L, 1.0), // == left1.ts → in  [100, 200)
      (10L, 199L, 2.0), // in [100, 200), band differs from left1's
      (10L, 200L, 3.0), // == left1.ts+Δ → OUT for left1, but < 305 for left2
      (10L, 304L, 4.0), // in left2's window [205, 305)
      (10L, 305L, 5.0), // == left2.ts+Δ → out
      (11L, 100L, 6.0)  // other key → never joins
    ).toDF("k", "ts", "v")
    val out = operators.Joins.rangeJoin(left, right, "k", "ts", 100L)
      .select($"eid", $"r_ts").as[(Long, Long)].collect().toSet
    // left1 [100,200): rights 100, 199 (200 excluded);
    // left2 [205,305): right 304 only (200 < 205; 305 excluded)
    assert(out == Set((1L, 100L), (1L, 199L), (2L, 304L)))
  }

  test("writeShards: shard directories, no cross-shard files, roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    operators.Sampling.writeShards(docs, dir, nShards = 4, idCol = "doc_id")
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("__shard=")).map(_.getName).sorted
    assert(shardDirs.length == 4)
    // repartition-first → each shard dir holds ONE parquet file
    shardDirs.foreach { d =>
      val files = new java.io.File(s"$dir/$d").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$d has $files files")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // shard assignment is the deterministic hash bucket
    assert(back.where(operators.Sampling.hashBucket($"doc_id", 4)
      =!= $"__shard").count() == 0)
  }

  test("incremental dedup vs index: band gate + agreement threshold") {
    val index = Seq((100L, Seq(1L, 2L, 3L, 4L, 5L, 6L)))
      .toDF("doc_id", "sig")
    val batch = Seq(
      (1L, Seq(1L, 2L, 9L, 9L, 9L, 9L)), // shares band 0, agree 2/6 → kept
      (2L, Seq(1L, 2L, 3L, 4L, 7L, 8L)), // bands 0+1, agree 4/6 → dropped
      (3L, Seq(9L, 9L, 9L, 9L, 9L, 9L))  // no shared band → kept
    ).toDF("doc_id", "sig")
    val kept = operators.Dedup.dedupAgainstIndex(batch, index,
        "doc_id", "sig", numHashes = 6, rowsPerBand = 2, minAgree = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("unigram LM: corpus-trained scores and broadcast vocab OOV floor") {
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // counts: a=3, b=1, c=1; T=5
    val r = operators.Quality.unigramLogProb(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    val ln = (x: Double) => math.log(x)
    assert(r(1L)._1 == 3L)
    assert(math.abs(r(1L)._2 - (2 * ln(3) / 3 - ln(5))) < 1e-9)
    assert(math.abs(r(2L)._2 - (ln(3) / 2 - ln(5))) < 1e-9)
    // pre-trained vocab {a:2, b:1}, total 3; seen token a scores its
    // trained probability 2/3, ONLY the OOV token d floors at 1/(3+1)
    val vocab = Seq(("a", 2L), ("b", 1L)).toDF("token", "count")
    val s = operators.Quality.scoreWithVocab(
        Seq((9L, "a d")).toDF("doc_id", "text"),
        "doc_id", "text", vocab, total = 3.0)
      .collect().head
    assert(math.abs(s.getDouble(2) - (ln(2.0 / 3) + ln(1.0 / 4)) / 2) < 1e-9)
  }

  test("semantic dedup: keep-min over planted copies, big-bucket path") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 5).map { i =>
      (i.toLong, (0 until 64).map(_ => rnd.nextFloat() - 0.5f)) }
    // 40 copies of vec 0 (ids 100..139): one bucket with n=40 > cap=32
    // exercises the window star+chain path; distinct vectors survive
    val copies = (0 until 40).map(j => (100L + j, base(0)._2))
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val kept = operators.Dedup
      .dedupSemantic(df, "vec_id", "embedding", 0.99, 8, 64)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 4L)) // min of the copy component = 0
    // a short (un-bucketable) vector is never a candidate, always kept
    val withShort = df.unionByName(
      Seq((999L, Seq.fill(3)(0.1f))).toDF("vec_id", "embedding"))
    val kept2 = operators.Dedup
      .dedupSemantic(withShort, "vec_id", "embedding", 0.99, 8, 64)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept2 == Set(0L, 1L, 2L, 3L, 4L, 999L))
  }

  test("semantic dedup: copy found in an over-cap bucket despite id distance") {
    // the SemanticProbe regression, shrunk: 4 planes → 16 buckets for
    // 3000 vectors ⇒ every bucket is far over the cap, and the planted
    // copy (id 100000) sits thousands of ids from its original with many
    // unrelated same-bucket members between them in id order — only the
    // projection-ordered chain connects the pair
    val rnd = new scala.util.Random(31)
    val base = (0L until 3000L).map { i =>
      (i, (0 until 64).map(_ => rnd.nextFloat() - 0.5f)) }
    val planted = (base :+ (100000L, base(7)._2))
      .toDF("vec_id", "embedding")
    val kept = operators.Dedup
      .dedupSemantic(planted, "vec_id", "embedding", 0.99, 4, 64)
      .select($"vec_id").as[Long].collect()
    assert(kept.length == 3000 && !kept.contains(100000L))
  }

  test("sequence packing: exact concat-then-chunk spans, nothing dropped") {
    // capacity 5; group 0 docs: 3 + 7 + 4 tokens → stream of 14 tokens
    //   doc 1 [0,3) → chunk 0
    //   doc 2 [3,10) → chunks 0 (off 0 len 2), 1 (off 2 len 5)  [straddles]
    //   doc 3 [10,14) → chunk 2
    val df = Seq(
      (1L, "a b c"), (2L, "d e f g h i j"), (3L, "k l m n")
    ).toDF("doc_id", "text")
    val out = operators.Chunking
      .packSequences(df, "doc_id", "text", 5, lit(0L))
      .orderBy("doc_id", "chunk_id")
      .select("chunk_id", "doc_id", "off_start", "off_len")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 1L, 0L, 3L), (0L, 2L, 0L, 2L), (1L, 2L, 2L, 5L),
      (2L, 3L, 0L, 4L)))
    // invariant on real data: per-doc off_len sums to the doc's token count,
    // and each (grp, chunk) holds exactly `capacity` tokens except the last
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val packed = operators.Chunking
      .packSequences(docs, "doc_id", "text", 512, $"doc_id" % 8)
    val perDoc = packed.groupBy("doc_id")
      .agg(sum("off_len").as("s"), first("n_tokens").as("n"))
      .where($"s" =!= $"n").count()
    assert(perDoc == 0)
    val badChunks = packed.groupBy("grp", "chunk_id")
      .agg(sum("off_len").as("s"), max($"chunk_id").as("c"))
      .join(packed.groupBy("grp").agg(max("chunk_id").as("last")), "grp")
      .where($"s" =!= 512 && $"chunk_id" =!= $"last").count()
    assert(badChunks == 0)
  }

  test("sliding windows: stride starts, truncated tail, text slices") {
    val df = Seq((1L, "  a b c d e  "), (2L, "x")).toDF("doc_id", "text")
    val out = operators.Chunking.slidingWindows(df, "doc_id", "text", 3, 2)
      .orderBy("doc_id", "win_id")
      .select("doc_id", "win_id", "tok_start", "tok_len", "chunk")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 3L, "a b c"), (1L, 1L, 2L, 3L, "c d e"),
      (1L, 2L, 4L, 1L, "e"), (2L, 0L, 0L, 1L, "x")))
  }

  test("bounded top-k aggregate ≡ window form on ties, NULLs, short groups") {
    // Adversarial scored set: duplicate scores (tie → id asc), NULL scores
    // (rank last, by id), a group with fewer than k candidates, NaN and
    // ±0.0 (Spark ordering: NaN largest, -0.0 == 0.0).
    val scored = Seq(
      (1L, Some(10L), Some(0.9)), (1L, Some(11L), Some(0.9)),
      (1L, Some(12L), Some(0.95)),
      (1L, Some(13L), None), (1L, Some(14L), Some(0.1)),
      (1L, Some(15L), None),
      (2L, Some(20L), None), (2L, Some(21L), Some(Double.NaN)),
      (2L, Some(22L), Some(1.0)),
      (3L, Some(30L), Some(-0.0)), (3L, Some(31L), Some(0.0)),
      (4L, Some(40L), Some(0.5)),
      (5L, Option.empty[Long], Some(0.9)) // NULL id: skipped by contract
    ).toDF("query_id", "neighbor_id", "sim")
    for (k <- Seq(1, 3, 10)) {
      val agg = Similarity.topKPerQuery(scored, k, "sim")
        .orderBy("query_id", "rank").collect().toSeq
      val win = CrossCheck.topKPerQueryWindow(scored, k, "sim")
        .orderBy("query_id", "rank").collect().toSeq
      assert(agg == win, s"k=$k")
    }
    // Partial aggregation is actually planned: two ObjectHashAggregate
    // nodes (partial below the exchange, final above) and NO Sort/Window —
    // the property that bounds the shuffle to queries×k rows at scale.
    val plan = Similarity.topKPerQuery(scored, 3, "sim")
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("globalShuffle: deterministic seeded permutation, total order " +
      "across partitions, no global sort") {
    import graft.operators.Sampling
    import org.apache.spark.sql.functions.{col, xxhash64, lit, spark_partition_id}
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("payload", col("id") * 3)
    val out = Sampling.globalShuffle(df, "id", seed = 11L, numPartitions = 7)
    // multiset preserved
    assert(out.count() == 1000)
    assert(out.select("id").exceptAll(df.select("id")).isEmpty)
    // collect() returns partitions in index order; range partitioning +
    // within-partition sort must therefore yield the GLOBAL hash order
    val ids = out.select("id").collect().map(_.getLong(0)).toSeq
    val expected = df
      .withColumn("k", xxhash64(col("id"), lit(11L)))
      .orderBy("k").select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == expected)
    // deterministic: a second evaluation gives the identical sequence
    val again = Sampling.globalShuffle(df, "id", seed = 11L, numPartitions = 7)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(again == ids)
    // a different seed gives a different permutation of the same ids
    val other = Sampling.globalShuffle(df, "id", seed = 12L, numPartitions = 7)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(other != ids && other.sorted == ids.sorted)
    // plan: range-partitioned exchange + NON-global sort (the scale
    // property: no single-partition/driver sort anywhere)
    val plan = Sampling.globalShuffle(df, "id", seed = 11L, numPartitions = 7)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    assert(!"Sort \\[[^\\]]*\\], true".r.findFirstIn(plan).isDefined, plan)
    // portable md5 key replays the same order as the SQL oracle form
    val p = Sampling.globalShuffle(df, "id", seed = 7L, numPartitions = 4,
      portableHash = true).select("id").collect().map(_.getLong(0)).toSeq
    val pExpected = df.selectExpr("id",
        "md5(concat(cast(id as string), ':7')) AS k")
      .orderBy("k").select("id").collect().map(_.getLong(0)).toSeq
    assert(p == pExpected)
  }
  test("planted-truth assertions: the xxhash64 rows-only trio proves it " +
      "finds the planted exact copies (VERDICT r9 item 6)") {
    val dir = "/root/testdata/sf0.001"
    def scalarCol(q: String, c: String): Double =
      SparkEntry.named(q).head.build(spark, dir)
        .select(c).distinct().collect() match {
        case Array(row) => row.getDouble(0)
        case rows => fail(s"$q.$c not a single scalar: ${rows.toSeq}")
      }
    assert(scalarCol("q_minhash_pairs", "planted_recall") == 1.0)
    assert(scalarCol("q_simhash_pairs", "planted_recall") == 1.0)
    assert(scalarCol("q_dedup_pipeline", "planted_removed") == 1.0)
  }

}
