package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.sources.Tables

/** The multimodal pipeline's real parts: the javax.imageio decode path
  * (actual PNG codec round-trip on executors) and the ASCII invariant
  * the frame/resize oracles rely on.
  */
class MultimodalSpec extends SparkSpec {

  test("PNG encode->decode round-trip recovers the generating pixel formula") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf).limit(20)
    val stats = Multimodal.decodeImages(Multimodal.syntheticImages(docs))
      .collect().map(st => st.doc_id -> st).toMap
    assert(stats.nonEmpty)
    stats.foreach { case (id, st) =>
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      assert(st.width === w)
      assert(st.height === h)
      // recompute the channel means straight from the formula (no codec)
      def mean(f: (Long, Long) => Long): Double = {
        var sum = 0L
        for (y <- 0L until h; x <- 0L until w) sum += f(x, y)
        math.floor(sum.toDouble / (w * h) * 1e4 + 0.5) / 1e4
      }
      assert(st.mean_r === mean((x, y) => (id * 31 + x * 7 + y * 13) % 256))
      assert(st.mean_g === mean((x, y) => (id * 17 + x * 11 + y * 5) % 256))
      assert(st.mean_b === mean((x, y) => (id * 29 + x * 3 + y * 19) % 256))
    }
  }

  test("decode really goes through the PNG codec (payload is a valid PNG)") {
    implicit val s = spark
    val row = Multimodal.syntheticImages(Tables.documents(spark, sf).limit(1))
      .head()
    // PNG magic bytes: the payload is codec output, not a formula dump
    assert(row.media.take(4).toSeq === Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    assert(row.meta.kind === "image" && row.meta.encoding === "png")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.media))
    assert(img.getWidth === (4 + row.doc_id % 5).toInt)
  }

  test("WAV encode->decode round-trip recovers the generating sample formula") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf).limit(20)
    val stats = Multimodal.decodeAudio(Multimodal.syntheticAudio(docs))
      .collect().map(st => st.doc_id -> st).toMap
    assert(stats.nonEmpty)
    stats.foreach { case (id, st) =>
      val n = (50 + id % 30).toInt
      val samples = (0 until n)
        .map(t => ((id * 131L + t.toLong * t * 7 + t * 13L) % 20001L - 10000L).toInt)
      assert(st.n_samples === n)
      assert(st.sample_rate === 8000)
      assert(st.peak === samples.map(math.abs).max)
      // half away from zero, the cross-engine round(x,4) convention
      def rnd4(x: Double) = math.signum(x) * math.floor(math.abs(x) * 1e4 + 0.5) / 1e4
      assert(st.mean_amp === rnd4(samples.map(_.toLong).sum.toDouble / n))
      assert(st.rms === rnd4(math.sqrt(
        samples.map(v => v.toLong * v).sum.toDouble / n)))
    }
  }

  test("decode really goes through the WAV codec (payload is a valid RIFF/WAVE)") {
    implicit val s = spark
    val row = Multimodal.syntheticAudio(Tables.documents(spark, sf).limit(1)).head()
    assert(row.media.take(4).map(_.toChar).mkString === "RIFF")
    assert(row.media.slice(8, 12).map(_.toChar).mkString === "WAVE")
    assert(row.meta.kind === "audio" && row.meta.encoding === "wav")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(row.media))
    assert(ais.getFormat.getSampleRate === 8000f)
    assert(ais.getFormat.getChannels === 1)
    ais.close()
  }

  test("documents are ASCII — the invariant the byte-based frame/resize oracles need") {
    val nonAscii = Tables.documents(spark, sf)
      .filter(octet_length(encode(col("text"), "UTF-8")) =!= length(col("text")))
      .count()
    assert(nonAscii === 0L,
      "mm_frames/mm_resize oracles mirror bytes with char-based substr/ascii; " +
        "that only holds for ASCII payloads")
  }

  test("dhashPairs: pattern-pool duplicates pair at Hamming 0") {
    implicit val s = spark
    // same pool key recurs every 7*23 = 161 ids, so the window must
    // span at least two recurrences for planted pairs to exist
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 400)
    val pairs = Multimodal.dhashPairs(Multimodal.syntheticPatternImages(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // docs 0,7,14,... draw from the shared pattern pool; same-key docs
    // have byte-identical PNGs, so every same-key pair must surface
    // with distance zero
    val poolKey = (id: Long) => (id / 7) % 23
    val poolIds = (0L until 400L).filter(_ % 7 == 0)
    val expected = (for {
      a <- poolIds; b <- poolIds
      if a < b && poolKey(a) == poolKey(b)
    } yield (a, b)).toSet
    assert(expected.nonEmpty)
    val zeroPairs = pairs.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert(expected.subsetOf(zeroPairs),
      s"missing planted image dups: ${expected -- zeroPairs}")
    assert(pairs.forall(_._3 <= 7))
  }

  test("dhashIncrementalPairs equals the full run's cross-split slice; index round-trips") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf)
    val corpus = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") < 400))
    val batch = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") >= 400))
    val inc = Multimodal.dhashIncrementalPairs(batch, Multimodal.dhashIndex(corpus))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // organic buckets never hit the cap at this SF: the persisted-index
    // probe must equal the full banded self-join restricted to
    // corpus-x-batch pairs, hamming values included
    val full = Multimodal.dhashPairs(Multimodal.syntheticPatternImages(docs))
      .filter(col("da") < 400 && col("db") >= 400)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(inc === full && inc.nonEmpty)
    // release round-trip: loaded index reproduces the inline result
    val dir = java.nio.file.Files.createTempDirectory("dhash-idx").toString
    graft.operators.TrainingPipeline.writeDhashIndex(corpus, dir)
    val viaLoaded = Multimodal.dhashIncrementalPairs(batch,
        graft.operators.TrainingPipeline.loadDhashIndex(spark, dir))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(viaLoaded === inc)
  }

  test("dhash is perceptually robust: rescaled re-encodes pair with their source") {
    implicit val s = spark
    import s.implicits._
    // a smooth photo-like image (strong gradients, direction flip at
    // h/2, mild texture): rescaling + re-encoding changes every byte
    // and the dimensions, but the pooled gradient SIGNS survive — the
    // invariance class dHash actually promises. (The quadratic pattern
    // fixtures are deliberately high-frequency and are NOT rescale-
    // stable; they test exact-dup recall, not smoothness.)
    val w = 40; val h = 32
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val base = if (y < h / 2) x * 220 / w else (w - 1 - x) * 220 / w
      val c = math.min(250, base + (x * 3 + y * 2) % 9)
      img.setRGB(x, y, (c << 16) | (c << 8) | c)
    }
    def enc(i: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(i, "png", bos); bos.toByteArray
    }
    def rescaled(s: Double): Array[Byte] = {
      // hand-rolled bilinear resample: Java2D's drawImage pipeline is
      // not pixel-exact-specified across JVM vendors/headless modes;
      // plain IEEE double arithmetic is, so the fixture is
      // deterministic by construction
      val nw = (w * s).toInt; val nh = (h * s).toInt
      val out = new java.awt.image.BufferedImage(
        nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
      def lum(xx: Int, yy: Int): Double = (img.getRGB(xx, yy) & 0xFF).toDouble
      for (y <- 0 until nh; x <- 0 until nw) {
        val sx = math.min(w - 1.0, math.max(0.0, (x + 0.5) / s - 0.5))
        val sy = math.min(h - 1.0, math.max(0.0, (y + 0.5) / s - 0.5))
        val x0 = sx.toInt; val y0 = sy.toInt
        val x1 = math.min(w - 1, x0 + 1); val y1 = math.min(h - 1, y0 + 1)
        val fx = sx - x0; val fy = sy - y0
        val v = lum(x0, y0) * (1 - fx) * (1 - fy) + lum(x1, y0) * fx * (1 - fy) +
          lum(x0, y1) * (1 - fx) * fy + lum(x1, y1) * fx * fy
        val c = math.max(0, math.min(255, math.round(v).toInt))
        out.setRGB(x, y, (c << 16) | (c << 8) | c)
      }
      enc(out)
    }
    val meta = graft.operators.MediaMeta("image", "png", 0L)
    val media = Seq(
      graft.operators.MediaRow(1L, enc(img), meta),
      graft.operators.MediaRow(2L, rescaled(2.0), meta),
      graft.operators.MediaRow(3L, rescaled(0.5), meta)).toDS()
    val pairs = Multimodal.dhashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "2x upscale must pair with its source")
    assert(pairs.contains((1L, 3L)), "0.5x downscale must pair with its source")
  }

  test("audioEnvelopePairs: amplitude-scaled pool twins pair at Hamming 0") {
    implicit val s = spark
    import s.implicits._
    // ids 0 and 161 share pool key 0 (161/7 = 23 ≡ 0 mod 23) but carry
    // scales 1 vs 3 — every PCM byte differs, the envelope must not;
    // the other ids are unique-key clips
    val docs = Seq(0L, 161L, 3L, 4L, 5L).toDF("doc_id")
    val media = graft.operators.Multimodal.syntheticPatternAudio(docs)
    // payload sanity: the twins are byte-distinct
    val payloads = media.collect().map(r => r.doc_id -> r.media).toMap
    assert(!java.util.Arrays.equals(payloads(0L), payloads(161L)))
    val pairs = graft.operators.Multimodal.audioEnvelopePairs(media).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((0L, 161L)), s"pool twins must pair, got ${pairs.keySet}")
    assert(pairs((0L, 161L)) === 0, "amplitude scaling must preserve every gradient sign")
  }

  test("audioIncrementalPairs: batch twin finds its released clip via the index") {
    implicit val s = spark
    import s.implicits._
    // released = pool clip 0 + unique clips; batch = 161 (pool twin of
    // 0, byte-distinct amplitude scale) + a unique clip
    val released = graft.operators.Multimodal.syntheticPatternAudio(
      Seq(0L, 3L, 4L, 5L).toDF("doc_id"))
    val batch = graft.operators.Multimodal.syntheticPatternAudio(
      Seq(161L, 200L).toDF("doc_id"))
    val inline = graft.operators.Multimodal.audioIncrementalPairs(
        batch, graft.operators.Multimodal.audioEnvelopeIndex(released))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(inline === Map((0L, 161L) -> 0),
      "exactly the cross pool pair, at envelope Hamming 0")
    // full-run parity on the organic fixture: probe == self-join slice
    val docs = Tables.documents(spark, sf)
    val corpus = graft.operators.Multimodal.syntheticPatternAudio(
      docs.filter(col("doc_id") < 400).select("doc_id"))
    val newClips = graft.operators.Multimodal.syntheticPatternAudio(
      docs.filter(col("doc_id") >= 400).select("doc_id"))
    val inc = graft.operators.Multimodal.audioIncrementalPairs(
        newClips, graft.operators.Multimodal.audioEnvelopeIndex(corpus))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val full = graft.operators.Multimodal.audioEnvelopePairs(
        graft.operators.Multimodal.syntheticPatternAudio(docs.select("doc_id")))
      .filter(col("da") < 400 && col("db") >= 400)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(inc === full && inc.nonEmpty)
  }

  test("videoIncrementalPairs equals the full run's cross-split slice") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf)
    def frames(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.syntheticVideoDocs(d),
        frameBytes = 16, targetFrames = 64).toDF()
    val corpusFrames = frames(docs.filter(col("doc_id") < 400))
    val batchFrames = frames(docs.filter(col("doc_id") >= 400))
    val inc = graft.operators.Multimodal.videoIncrementalPairs(
        batchFrames, graft.operators.Multimodal.videoFrameIndex(corpusFrames,
          frameBytes = 16, targetFrames = 64))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = graft.operators.Multimodal.videoFramePairs(frames(docs))
      .filter(col("da") < 400 && col("db") >= 400)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(inc === full && inc.nonEmpty)
  }

  test("video/audio indexes round-trip through release writers; wrong kind fails fast") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf)
    def frames(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.syntheticVideoDocs(d),
        frameBytes = 16, targetFrames = 64).toDF()
    val corpusFrames = frames(docs.filter(col("doc_id") < 400))
    val batchFrames = frames(docs.filter(col("doc_id") >= 400))
    val dir = java.nio.file.Files.createTempDirectory("media-idx").toString
    graft.operators.TrainingPipeline.writeVideoFrameIndex(corpusFrames, dir,
      frameBytes = 16, targetFrames = 64)
    val viaLoaded = graft.operators.Multimodal.videoIncrementalPairs(
        batchFrames, graft.operators.TrainingPipeline.loadVideoFrameIndex(spark, dir))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = graft.operators.Multimodal.videoIncrementalPairs(
        batchFrames, graft.operators.Multimodal.videoFrameIndex(corpusFrames,
          frameBytes = 16, targetFrames = 64))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaLoaded === inline && inline.nonEmpty)
    val released = graft.operators.Multimodal.syntheticPatternAudio(
      docs.filter(col("doc_id") < 400).select("doc_id"))
    val clips = graft.operators.Multimodal.syntheticPatternAudio(
      docs.filter(col("doc_id") >= 400).select("doc_id"))
    graft.operators.TrainingPipeline.writeAudioEnvelopeIndex(released, dir)
    val audioViaLoaded = graft.operators.Multimodal.audioIncrementalPairs(
        clips, graft.operators.TrainingPipeline.loadAudioEnvelopeIndex(spark, dir))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val audioInline = graft.operators.Multimodal.audioIncrementalPairs(
        clips, graft.operators.Multimodal.audioEnvelopeIndex(released))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(audioViaLoaded === audioInline && audioInline.nonEmpty)
    // cross-modality probe: an audio index handed to the image probe is
    // a kind mismatch, not a silent zero-candidate run
    val imgBatch = graft.operators.Multimodal.syntheticPatternImages(
      docs.filter(col("doc_id") >= 400))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.dhashIncrementalPairs(
        imgBatch, graft.operators.TrainingPipeline.loadAudioEnvelopeIndex(spark, dir))
    }
    assert(e.getMessage.contains("dhash_index"))
  }

  test("audioEnvelopeHash excludes clips shorter than the window grid") {
    implicit val s = spark
    import s.implicits._
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](30 * 2) // 30 samples < 65 windows
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 30L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = Seq(graft.operators.MediaRow(
      1L, bos.toByteArray, graft.operators.MediaMeta("audio", "wav", bos.size.toLong))).toDS()
    assert(graft.operators.Multimodal.audioEnvelopeHash(media).count() === 0L,
      "sub-grid clips carry no envelope signal and must be excluded, not zero-hashed")
  }

  test("dhash excludes sub-grid images instead of hashing them to all-zero sigs") {
    implicit val s = spark
    import s.implicits._
    // two unrelated tracking-pixel-sized PNGs: without the guard both
    // get empty pooling cells -> identical all-zero signatures -> a
    // false Hamming-0 "duplicate" pair
    def tiny(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 3; x <- 0 until 4)
        img.setRGB(x, y, (seed * 37 + x * 50 + y * 90) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val meta = graft.operators.MediaMeta("image", "png", 0L)
    val media = Seq(
      graft.operators.MediaRow(1L, tiny(1), meta),
      graft.operators.MediaRow(2L, tiny(999), meta)).toDS()
    assert(Multimodal.dhash(media).count() === 0L,
      "sub-grid images carry no gradient signal and must be excluded")
    assert(Multimodal.dhashPairs(media).count() === 0L)
  }

  test("phash matches an independent pooled-DCT replay on real decoded PNGs") {
    implicit val s = spark
    import s.implicits._
    // independent reimplementation: same frozen basis constant, but
    // pooling/DCT/median/packing written straight off the definition —
    // any indexing, packing or floor-division slip in the engine breaks
    // the comparison
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 30)
    val media = Multimodal.syntheticPatternImages(docs).collect()
    val got = Multimodal.phash(media.toSeq.toDS()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Int](2))).toMap
    val B = Multimodal.PhashBasisMicro
    media.foreach { m =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.media))
      val w = img.getWidth; val h = img.getHeight
      val sums = Array.fill(8, 8)(0L); val cnts = Array.fill(8, 8)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val p = img.getRGB(x, y)
        val g = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        sums(x * 8 / w)(y * 8 / h) += g; cnts(x * 8 / w)(y * 8 / h) += 1
      }
      val cell = Array.tabulate(8, 8)((i, j) => sums(i)(j) / cnts(i)(j))
      val coef = Array.tabulate(8, 8) { (u, v) =>
        (for (i <- 0 until 8; j <- 0 until 8)
          yield B(u)(i) * B(v)(j) * cell(i)(j)).sum
      }
      val ac = (for (u <- 0 until 8; v <- 0 until 8 if u != 0 || v != 0)
        yield coef(u)(v)).sorted
      val med = ac(31)
      var sig = 0L
      for (u <- 0 until 8; v <- 0 until 8
           if (u != 0 || v != 0) && coef(u)(v) > med)
        sig |= 1L << (v * 8 + u)
      assert(got(m.doc_id)._1 === sig, s"sig mismatch for doc ${m.doc_id}")
    }
  }

  test("phashPairs: pattern-pool duplicates pair at Hamming 0") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 400)
    val pairs = Multimodal.phashPairs(Multimodal.syntheticPatternImages(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val poolKey = (id: Long) => (id / 7) % 23
    val poolIds = (0L until 400L).filter(_ % 7 == 0)
    val expected = (for {
      a <- poolIds; b <- poolIds
      if a < b && poolKey(a) == poolKey(b)
    } yield (a, b)).toSet
    assert(expected.nonEmpty)
    val zeroPairs = pairs.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert(expected.subsetOf(zeroPairs),
      s"missing planted image dups: ${expected -- zeroPairs}")
    assert(pairs.forall(_._3 <= 7))
  }

  test("phash signs structure, not brightness: a global luminance shift pairs at 0") {
    implicit val s = spark
    import s.implicits._
    // the invariance class pHash promises OVER dHash: adding a constant
    // to every pixel moves only the DC coefficient (up to the frozen
    // basis's rounding), and the median threshold re-centers — the same
    // shift breaks naive mean-threshold hashes
    val w = 24; val h = 16
    def enc(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val base = (x * 150 / w + y * 60 / h + (x * y) % 13) % 200
        val c = base + shift // headroom: base < 200, shift <= 40
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val meta = graft.operators.MediaMeta("image", "png", 0L)
    val media = Seq(
      graft.operators.MediaRow(1L, enc(0), meta),
      graft.operators.MediaRow(2L, enc(40), meta)).toDS()
    val pairs = Multimodal.phashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 === 0),
      s"brightness-shifted twin must hash identically, got ${pairs.toSeq}")
  }

  test("phashIncrementalPairs equals the full run's cross-split slice; index round-trips") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf)
    val corpus = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") < 400))
    val batch = Multimodal.syntheticPatternImages(docs.filter(col("doc_id") >= 400))
    val inc = Multimodal.phashIncrementalPairs(batch, Multimodal.phashIndex(corpus))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val full = Multimodal.phashPairs(Multimodal.syntheticPatternImages(docs))
      .filter(col("da") < 400 && col("db") >= 400)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(inc === full && inc.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("phash-idx").toString
    graft.operators.TrainingPipeline.writePhashIndex(corpus, dir)
    val viaLoaded = Multimodal.phashIncrementalPairs(batch,
        graft.operators.TrainingPipeline.loadPhashIndex(spark, dir))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(viaLoaded === inc)
    // cross-family probe: a dHash index handed to the pHash probe is a
    // kind mismatch, not a silent wrong-domain join
    val e = intercept[IllegalArgumentException] {
      Multimodal.phashIncrementalPairs(batch, Multimodal.dhashIndex(corpus))
    }
    assert(e.getMessage.contains("phash_index"))
  }

  test("phash excludes sub-grid images instead of hashing them to all-zero sigs") {
    implicit val s = spark
    import s.implicits._
    def tiny(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 3; x <- 0 until 4)
        img.setRGB(x, y, (seed * 37 + x * 50 + y * 90) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val meta = graft.operators.MediaMeta("image", "png", 0L)
    val media = Seq(
      graft.operators.MediaRow(1L, tiny(1), meta),
      graft.operators.MediaRow(2L, tiny(999), meta)).toDS()
    assert(Multimodal.phash(media).count() === 0L,
      "sub-grid images carry no structure to hash and must be excluded")
    assert(Multimodal.phashPairs(media).count() === 0L)
  }

  test("videoFramePairs: shared-footage cuts pair by Jaccard, disjoint videos never") {
    import spark.implicits._
    // A and B are one-frame-shifted cuts of the same footage (7 of 8
    // frames shared -> J = 7/9); C is disjoint; D repeats A's frames
    // out of order and duplicated (set semantics: J(A, D) = 1.0)
    val frames = (
      (1 to 8).map(i => (1L, s"sig$i")) ++
      (2 to 9).map(i => (2L, s"sig$i")) ++
      (100 to 107).map(i => (3L, s"sig$i")) ++
      ((8 to 1 by -1) ++ (1 to 8)).map(i => (4L, s"sig$i"))
    ).toDF("doc_id", "frame_md5")
    val out = Multimodal.videoFramePairs(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(math.abs(out((1L, 2L)) - 7.0 / 9.0) < 1e-3)
    assert(out((1L, 4L)) === 1.0)
    // non-integral-reciprocal threshold: 0.7 must keep all three pairs
    // (J >= 7/9 > 0.7) — the reciprocal-integer filter evaluated 0.7 as
    // J >= 1 and kept only the exact-duplicate pair
    val at70 = Multimodal.videoFramePairs(frames, threshold = 0.7).collect()
    assert(at70.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // strictly above 7/9 the shifted cuts drop, the exact dup stays
    val at80 = Multimodal.videoFramePairs(frames, threshold = 0.8).collect()
    assert(at80.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 4L)))
  }

  test("synthetic videos + frameSample recover planted sliding-window structure") {
    implicit val s = spark
    import spark.implicits._
    // pool keys 0,1,2,3 (docs 0,50,100,150 at poolEvery=50) are sliding
    // windows: distance 1 -> J=7/9, distance 2 -> J=0.6, distance 3 ->
    // 5/11 < 0.5 (dropped); unique-range docs never pair
    val docs = (0L to 199L).map(i => (i, "x")).toDF("doc_id", "text")
    val vids = Multimodal.syntheticVideoDocs(docs)
    val frames = Multimodal.frameSample(vids, frameBytes = 16, targetFrames = 64).toDF()
    // every video yields exactly 8 full-width frames
    val fc = frames.groupBy("doc_id").count().collect()
    assert(fc.forall(_.getLong(1) === 8L))
    val pairs = Multimodal.videoFramePairs(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet === Set(
      (0L, 50L), (50L, 100L), (100L, 150L), // window distance 1
      (0L, 100L), (50L, 150L)))             // window distance 2
    assert(math.abs(pairs((0L, 50L)) - 7.0 / 9.0) < 1e-3)
    assert(math.abs(pairs((0L, 100L)) - 0.6) < 1e-3)
  }

  test("spreadImages: a shuffling input repartitions without the eager toRdd probe job") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    // not unique and multi-partition, so the dedup needs an exchange
    def ids = spark.range(0, 64, 1, 4).select((col("id") % 7).as("doc_id"))
    val shuffling = Seq("distinct" -> ids.distinct(), "intersect" -> ids.intersect(ids.filter(col("doc_id") > 3)))
    val par = math.min(8, spark.sparkContext.defaultParallelism)
    Thread.sleep(500) // let in-flight listener events of earlier tests drain
    spark.sparkContext.addSparkListener(listener)
    try {
      // control: probing a shuffling plan's partitions under AQE runs its stages
      ids.distinct().queryExecution.toRdd.getNumPartitions: Unit
      Thread.sleep(500)
      assert(jobs.get() > 0, "toRdd on a distinct plan should run a job under AQE")
      shuffling.foreach { case (name, df) =>
        jobs.set(0)
        val spread = Multimodal.spreadImages(df)
        Thread.sleep(500)
        assert(jobs.get() === 0, s"$name: spreadImages ran ${jobs.get()} jobs")
        assert(spread.queryExecution.analyzed match {
          case Repartition(n, true, _) => n == par
          case _ => false
        }, s"$name: expected the repartition branch")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }
}
