package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata carried alongside an opaque media payload. */
final case class MediaMeta(kind: String, encoding: String, declaredBytes: Long)

/** One media row: the payload is an opaque binary column — the engine
  * never interprets it except inside the (pluggable) decoder.
  */
final case class MediaRow(doc_id: Long, media: Array[Byte], meta: MediaMeta)

/** Extracted per-media features. `feature_vec` is what a real decoder
  * would emit (CNN embedding, mel spectrogram stats, ...).
  */
final case class MediaFeatures(
    doc_id: Long,
    n_bytes: Int,
    n_chunks: Int,
    head_hex: String,
    feature_vec: Array[Float])

/** Per-image decoded stats: dimensions + per-channel pixel means — what
  * a real feature extractor reads off the decoded pixel buffer.
  */
final case class ImageStats(
    doc_id: Long, width: Int, height: Int,
    mean_r: Double, mean_g: Double, mean_b: Double)

/** Per-clip decoded audio stats — what a real audio featurizer reads
  * off the decoded PCM buffer (length, rate, amplitude moments).
  */
final case class AudioStats(
    doc_id: Long, n_samples: Int, sample_rate: Int,
    mean_amp: Double, peak: Int, rms: Double)

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns + typed metadata struct, with decode / feature-extraction as
  * a partition-local typed transformation.
  *
  * The Spark-side shape is the real thing — schema, encoders, batch
  * iteration via mapPartitions (one decoder instance per partition, the
  * same pattern a JNI codec or ONNX session would need). IMAGES are
  * decoded for real with the JDK's `javax.imageio` (PNG/JPEG, zero
  * external deps): [[decodeImages]] reads actual codec bytes into a
  * pixel buffer. AUDIO is decoded for real with the JDK's
  * `javax.sound.sampled` (WAV PCM, lossless): [[decodeAudio]] parses
  * the RIFF container and reads the PCM frames. [[decodeStub]] remains
  * only as the deterministic FALLBACK for VIDEO, the one media kind
  * with no in-container codec.
  */
object Multimodal {

  /** Wrap a text table as a media table (text bytes standing in for real
    * blobs; with real data this would be `spark.read.format("binaryFile")`
    * or a parquet `binary` column).
    */
  def asMediaTable(documents: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    documents
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("media"),
        struct(
          lit("text").as("kind"),
          lit("utf-8").as("encoding"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("declaredBytes"))
          .as("meta"))
      .as[MediaRow]
  }

  /** FALLBACK decoder for media kinds without an in-container codec
    * (video only — images go through the REAL [[decodeImages]] path and
    * audio through the REAL [[decodeAudio]] path). Derives
    * deterministic features from the raw bytes so the pipeline stays
    * end-to-end testable: partition-local batching, one "decoder" per
    * partition, typed output.
    */
  def decodeStub(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
    // Per-partition decoder init would go here (expensive handle, reused
    // across the partition's rows — NOT per row).
    rows.map { r =>
      val bytes = r.media
      val nBytes = bytes.length
      val nChunks = (nBytes + 1023) / 1024
      val headHex = bytes.take(8).map(b => f"$b%02X").mkString
      // Fake "embedding": 4 byte-histogram moments. Deterministic stand-in
      // for the real feature extractor (???).
      val hist = new Array[Long](8)
      var i = 0
      while (i < nBytes) { hist((bytes(i) & 0xff) >> 5) += 1; i += 1 }
      val vec = hist.take(4).map(h => if (nBytes == 0) 0f else h.toFloat / nBytes)
      MediaFeatures(r.doc_id, nBytes, nChunks, headHex, vec)
    }
  }

  /** Full pipeline: media table -> partition-local decode -> features.
    * `mapPartitions` (not `map`) so decoder setup amortizes across the
    * partition — the shape that matters when the decoder is a native
    * library session.
    */
  def extractFeatures(documents: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    asMediaTable(documents).mapPartitions(decodeStub)
  }

  /** Deterministic synthetic image table: one small PNG per document,
    * pixels a pure function of (doc_id, x, y) — so a SQL oracle can
    * predict the DECODED output without being able to decode. The PNG
    * bytes are real codec output (ImageIO's PNG encoder), generated
    * executor-side; with real data this table is
    * `spark.read.format("binaryFile")` over an image corpus.
    */
  /** Spread an image-id frame to a SMALL bounded parallelism before the
    * ImageIO encode/decode mapPartitions. Measured (round 19): the
    * javax.imageio registry serializes enough of ImageIO.read/write
    * that 32 concurrent decode tasks in one JVM run SLOWER than one
    * (1.15 -> 1.69 s on mm_dhash_pairs), while 4-8 tasks win
    * (1.18 -> 0.78 s); past 8 there is no further gain. The cap is a
    * per-JVM codec-registry property, not a cluster-size tune — each
    * executor JVM on a real cluster gets the same ceiling, and the cap
    * only ever RAISES the partition count of a tiny-id frame (a real
    * binaryFile scan with many splits passes through untouched).
    * Audio stays on its source partitioning: javax.sound contends so
    * hard that even 4 concurrent tasks lose to one (1.31 -> 2.43 s).
    */
  private[graft] def spreadImages(ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val par = math.min(8, ids.sparkSession.sparkContext.defaultParallelism)
    // Partition-count probe via toRdd is only safe on a plan that can
    // never contain an exchange: under AQE, toRdd on a shuffling plan
    // materializes query stages (runs jobs) at plan-construction time
    // (ADVICE r19). Every current caller passes a narrow id scan; if a
    // shuffled frame ever arrives, skip the probe and spread
    // unconditionally — one par-bounded exchange, no eager execution.
    // (`Dataset.distinct`/`dropDuplicates` analyze to Deduplicate, SQL
    // DISTINCT to Distinct; INTERSECT/EXCEPT are SetOperations)
    val mayShuffle = ids.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Sort | _: Window | _: Distinct => true
      case _: Deduplicate | _: SetOperation | _: RepartitionOperation => true
      case _ => false
    }
    if (mayShuffle) ids.repartition(par)
    else if (ids.queryExecution.toRdd.getNumPartitions < par) ids.repartition(par)
    else ids
  }

  def syntheticImages(documents: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    spreadImages(documents.select(col("doc_id").cast("long"))).as[Long].mapPartitions { ids =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      ids.map { id =>
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
            val g = ((id * 17 + x * 11 + y * 5) % 256).toInt
            val b = ((id * 29 + x * 3 + y * 19) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRow(id, bos.toByteArray, MediaMeta("image", "png", bos.size.toLong))
      }
    }
  }

  /** REAL image decode: `javax.imageio` reads the PNG/JPEG payload into
    * a pixel buffer; stats are computed off the decoded pixels. PNG is
    * lossless, so for [[syntheticImages]] payloads the decoded buffer is
    * byte-exact against the generating formula — which is what lets a
    * SQL oracle hash-check a genuine codec round-trip. Partition-local
    * like every decoder here; channel sums are exact integer arithmetic
    * so the mean is engine-reproducible.
    */
  def decodeImages(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[ImageStats] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        require(r.meta.kind == "image",
          s"decodeImages on kind=${r.meta.kind} (doc ${r.doc_id}) — use decodeStub fallback")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
        require(img != null, s"undecodable image payload for doc ${r.doc_id}")
        val w = img.getWidth
        val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff
            sg += (p >> 8) & 0xff
            sb += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = (w * h).toDouble
        ImageStats(r.doc_id, w, h, rnd4(sr / n), rnd4(sg / n), rnd4(sb / n))
      }
    }
  }

  /** Deterministic synthetic audio table: one short 16-bit mono PCM WAV
    * per document, samples a pure integer function of (doc_id, t) — so
    * a SQL oracle can predict the DECODED stats without a WAV parser.
    * The WAV bytes are real container output (`javax.sound.sampled`'s
    * WAVE writer), generated executor-side; with real data this table
    * is `spark.read.format("binaryFile")` over an audio corpus.
    */
  def syntheticAudio(documents: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long].mapPartitions { ids =>
      val fmt = new javax.sound.sampled.AudioFormat(
        8000f, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
      ids.map { id =>
        val n = (50 + id % 30).toInt
        val pcm = new Array[Byte](n * 2)
        var t = 0
        while (t < n) {
          // pure integer formula (no trig): mirrors exactly in SQL
          val v = ((id * 131L + t.toLong * t * 7 + t * 13L) % 20001L - 10000L).toInt
          pcm(2 * t) = (v & 0xff).toByte
          pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
          t += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        MediaRow(id, bos.toByteArray, MediaMeta("audio", "wav", bos.size.toLong))
      }
    }
  }

  /** REAL audio decode: `javax.sound.sampled` parses the WAV/RIFF
    * container (format chunk -> rate/width/channels, data chunk -> PCM
    * frames); stats are computed off the decoded samples. PCM WAV is
    * lossless, so for [[syntheticAudio]] payloads the decoded buffer is
    * byte-exact against the generating formula — the same oracle trick
    * as [[decodeImages]]. Amplitude sums are exact integer arithmetic;
    * only the final mean/rms divide (then round) so the stats are
    * engine-reproducible.
    */
  def decodeAudio(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[AudioStats] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        require(r.meta.kind == "audio",
          s"decodeAudio on kind=${r.meta.kind} (doc ${r.doc_id}) — use decodeStub fallback")
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.media))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"expected 16-bit mono PCM, got $fmt (doc ${r.doc_id})")
        val bytes = ais.readAllBytes()
        ais.close()
        val n = bytes.length / 2
        var sum = 0L; var sumSq = 0L; var peak = 0
        var i = 0
        while (i < n) {
          val v =
            if (fmt.isBigEndian) (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)
            else (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
          sum += v
          sumSq += v.toLong * v
          val a = math.abs(v)
          if (a > peak) peak = a
          i += 1
        }
        AudioStats(r.doc_id, n, fmt.getSampleRate.toInt,
          rnd4(sum.toDouble / n), peak, rnd4(math.sqrt(sumSq.toDouble / n)))
      }
    }
  }

  /** Deterministic pattern-pool image table for perceptual near-dup
    * testing: every `poolEvery`-th document draws its image from a pool
    * of `poolMod` shared patterns (byte-identical PNGs — planted
    * perceptual duplicates), every other document gets a unique pattern
    * keyed by its own id. Pixels are a pure quadratic function of
    * (key, x, y), so neighboring-pixel gradients vary with position and
    * key (a linear gradient would make every image's dHash identical),
    * and a SQL oracle can replay the DECODED pixels without a codec.
    * Dimensions (16..20 x 12..15) comfortably cover the 9x8 dHash grid.
    */
  def syntheticPatternImages(
      documents: DataFrame,
      poolMod: Long = 23L,
      poolEvery: Long = 7L)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    spreadImages(documents.select(col("doc_id").cast("long"))).as[Long].mapPartitions { ids =>
      javax.imageio.ImageIO.setUseCache(false)
      ids.map { id =>
        val k = if (id % poolEvery == 0) (id / poolEvery) % poolMod else poolMod + id
        val w = (16 + k % 5).toInt
        val h = (12 + k % 4).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val r = ((k * 31 + x * x * 7 + y * y * 13 + x * y * 5) % 256).toInt
            val g = ((k * 17 + x * x * 11 + y * y * 3 + x * y * 7) % 256).toInt
            val b = ((k * 29 + x * x * 5 + y * y * 17 + x * y * 3) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRow(id, bos.toByteArray, MediaMeta("image", "png", bos.size.toLong))
      }
    }
  }

  /** dHash (difference hash) signatures over REAL decoded pixels: decode
    * the payload with `javax.imageio`, mean-pool the grayscale (r+g+b)
    * image onto a 9x8 cell grid (floor-map pooling, `cx = x*9 div w` —
    * exactly SQL-mirrorable), then one bit per horizontally adjacent
    * cell pair: `bit = mean(cx) > mean(cx+1)`, compared by integer
    * cross-multiplication (`sumL*cntR > sumR*cntL`) so no division ever
    * happens and the oracle replays the decision exactly. 64 bits pack
    * into one long + the same 8 byte-bands [[Dedup.simhashPairs]] uses.
    * Perceptual robustness comes from pooling: resized/re-encoded
    * variants of an image keep their gradient signs.
    *
    * Images smaller than the 9x8 grid are EXCLUDED (no signature row):
    * empty pooling cells would force their comparison bits to zero, so
    * every sub-grid image (tracking pixels, favicon sprites — common
    * in scraped corpora) would share one all-zero signature and pair
    * as a "duplicate" of every other tiny image. They carry no
    * gradient signal to hash; filter or route them separately.
    */
  def dhash(media: Dataset[MediaRow])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gridW = 8; val gridH = 8
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        require(r.meta.kind == "image",
          s"dhash on kind=${r.meta.kind} (doc ${r.doc_id})")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
        require(img != null, s"undecodable image payload for doc ${r.doc_id}")
        val w = img.getWidth
        val h = img.getHeight
        val cols = gridW + 1
        if (w < cols || h < gridH) Iterator.empty else Iterator.single {
        val sums = Array.ofDim[Long](cols, gridH)
        val cnts = Array.ofDim[Long](cols, gridH)
        var y = 0
        while (y < h) {
          val cy = y * gridH / h
          var x = 0
          while (x < w) {
            val cx = x * cols / w
            val p = img.getRGB(x, y)
            sums(cx)(cy) += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
            cnts(cx)(cy) += 1
            x += 1
          }
          y += 1
        }
        val bits = new Array[Int](gridW * gridH)
        var cy = 0
        while (cy < gridH) {
          var cx = 0
          while (cx < gridW) {
            if (sums(cx)(cy) * cnts(cx + 1)(cy) > sums(cx + 1)(cy) * cnts(cx)(cy))
              bits(cy * gridW + cx) = 1
            cx += 1
          }
          cy += 1
        }
        var sig = 0L
        var i = 0
        while (i < bits.length) {
          if (bits(i) == 1) sig |= 1L << i
          i += 1
        }
        (r.doc_id, sig, graft.functions.TextHashing.byteBands(bits))
        }
      }
    }.toDF("doc_id", "sig", "bytes")
  }

  /** Image perceptual near-dup pairs: [[dhash]] signatures into the
    * shared byte-band pigeonhole join ([[Dedup.bandedHammingJoin]]) —
    * guaranteed recall for Hamming <= 7, never all-pairs, bucket-capped
    * against mass-duplicate pattern clusters. The image-side analog of
    * text SimHash (dd4), closing the multimodal x dedup gap: decode /
    * resize plumbing and near-dup detection meet in one operator.
    */
  def dhashPairs(
      media: Dataset[MediaRow],
      maxHamming: Int = 7,
      maxBucket: Int = 1000)(implicit spark: SparkSession): DataFrame = {
    // persist: the signature stage (decode + pool per image) feeds the
    // cap aggregation, the anti-join side and both band-join sides
    val sigs = dhash(media)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.bandedHammingJoin(sigs, maxHamming, maxBucket)
  }

  /** The persistable dHash band index of an image set — the visual
    * analog of [[graft.operators.Dedup.minhashBands]]: decode +
    * signature once at release time, probe forever
    * ([[dhashIncrementalPairs]]). Cap frozen over index members.
    */
  def dhashIndex(
      media: Dataset[MediaRow],
      maxBucket: Int = 1000)(implicit spark: SparkSession): DataFrame =
    Dedup.stampIndexMeta(Dedup.bandedHammingIndex(dhash(media), maxBucket),
      "sig", "dhash_index", Map("maxBucket" -> maxBucket.toLong))

  /** Incremental image near-dup: which released images does this batch
    * visually duplicate (Hamming <= maxHamming on dHash) — the
    * [[Dedup.incrementalNearDup]] shape for the image modality. The
    * released images are never re-decoded: the batch decodes and
    * signatures once (batch-sized), probes the persisted index with a
    * (band, byte) equi-join, and verifies from the signatures both
    * sides carry. Output: (da = index id, db = batch id, hamming).
    */
  def dhashIncrementalPairs(
      batch: Dataset[MediaRow],
      index: DataFrame,
      maxHamming: Int = 7)(implicit spark: SparkSession): DataFrame = {
    Dedup.checkIndexMeta(index, "sig", "dhash_index", Map.empty)
    Dedup.bandedHammingProbe(index, dhash(batch), maxHamming)
  }

  /** The 8x8 orthonormal DCT-II basis, scaled to INTEGER micro units:
    * `B(u,x) = rint(1e6 * a(u) * cos(pi*(2x+1)*u/16))` with
    * `a(0) = sqrt(1/8)`, `a(u>0) = 1/2`. pHash thresholds DCT
    * coefficients against their median, so the transform itself must
    * be exactly replayable — freezing the basis as integers makes
    * every coefficient a pure integer sum both engines compute
    * bit-identically (the mirror embeds these SAME values as a literal
    * VALUES table, interpolated from this array so they cannot drift).
    */
  private[graft] val PhashBasisMicro: Array[Array[Long]] =
    Array.tabulate(8, 8) { (u, x) =>
      val a = if (u == 0) math.sqrt(1.0 / 8) else 0.5
      math.rint(1e6 * a * math.cos(math.Pi * (2 * x + 1) * u / 16)).toLong
    }

  /** pHash (perceptual DCT hash) signatures over REAL decoded pixels —
    * the frequency-domain companion of [[dhash]]: where dHash signs
    * local gradients (robust to re-encode, sensitive to local edits),
    * pHash signs the image's LOW-FREQUENCY STRUCTURE against its own
    * median, so global luminance shifts and high-frequency noise both
    * cancel. Pipeline: decode via `javax.imageio`, floor-map mean-pool
    * the grayscale onto an 8x8 cell grid (`cx = x*8 div w`), take the
    * integer floor mean per cell, transform with the frozen integer
    * [[PhashBasisMicro]] (coefficient = sum of cell*B(u,cx)*B(v,cy) —
    * max |coef| ~ 1.2e16, inside Long), then one bit per coefficient:
    * `bit(v*8+u) = coef > median(63 AC coefs)` with the DC bit pinned
    * 0 (DC is the threshold's baseline, not a feature). 64 bits pack
    * into one long + the same 8 byte-bands the SimHash family joins
    * on. Sub-8x8 images are EXCLUDED (no signature row) for dHash's
    * reason: their empty cells carry no structure to hash.
    */
  def phash(media: Dataset[MediaRow])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val grid = 8
    val basis = PhashBasisMicro
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        require(r.meta.kind == "image",
          s"phash on kind=${r.meta.kind} (doc ${r.doc_id})")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
        require(img != null, s"undecodable image payload for doc ${r.doc_id}")
        val w = img.getWidth
        val h = img.getHeight
        if (w < grid || h < grid) Iterator.empty else Iterator.single {
          val sums = Array.ofDim[Long](grid, grid)
          val cnts = Array.ofDim[Long](grid, grid)
          var y = 0
          while (y < h) {
            val cy = y * grid / h
            var x = 0
            while (x < w) {
              val cx = x * grid / w
              val p = img.getRGB(x, y)
              sums(cx)(cy) += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              cnts(cx)(cy) += 1
              x += 1
            }
            y += 1
          }
          // integer floor mean per cell (both operands non-negative,
          // so Long '/' IS the floor the mirror's '//' computes)
          val cell = Array.ofDim[Long](grid, grid)
          var cx = 0
          while (cx < grid) {
            var cy = 0
            while (cy < grid) {
              cell(cx)(cy) = sums(cx)(cy) / cnts(cx)(cy)
              cy += 1
            }
            cx += 1
          }
          val coef = Array.ofDim[Long](grid, grid)
          var u = 0
          while (u < grid) {
            var v = 0
            while (v < grid) {
              var s = 0L
              var i = 0
              while (i < grid) {
                var j = 0
                while (j < grid) {
                  s += basis(u)(i) * basis(v)(j) * cell(i)(j)
                  j += 1
                }
                i += 1
              }
              coef(u)(v) = s
              v += 1
            }
            u += 1
          }
          // median of the 63 AC coefficients = the 32nd smallest value
          val ac = new Array[Long](63)
          var n = 0
          u = 0
          while (u < grid) {
            var v = 0
            while (v < grid) {
              if (u != 0 || v != 0) { ac(n) = coef(u)(v); n += 1 }
              v += 1
            }
            u += 1
          }
          java.util.Arrays.sort(ac)
          val med = ac(31)
          val bits = new Array[Int](grid * grid)
          u = 0
          while (u < grid) {
            var v = 0
            while (v < grid) {
              if ((u != 0 || v != 0) && coef(u)(v) > med) bits(v * grid + u) = 1
              v += 1
            }
            u += 1
          }
          var sig = 0L
          var i = 0
          while (i < bits.length) {
            if (bits(i) == 1) sig |= 1L << i
            i += 1
          }
          (r.doc_id, sig, graft.functions.TextHashing.byteBands(bits))
        }
      }
    }.toDF("doc_id", "sig", "bytes")
  }

  /** Image perceptual near-dup pairs on [[phash]] signatures — the
    * DCT-domain member of the shared byte-band pigeonhole family
    * ([[Dedup.bandedHammingJoin]]: guaranteed recall for Hamming <= 7,
    * never all-pairs, bucket-capped). Production dedup runs BOTH
    * dHash and pHash and intersects (the [[Dedup.consensusNearDup]]
    * pattern): gradient and frequency signatures false-positive on
    * different image families.
    */
  def phashPairs(
      media: Dataset[MediaRow],
      maxHamming: Int = 7,
      maxBucket: Int = 1000)(implicit spark: SparkSession): DataFrame = {
    // persist: the signature stage (decode + pool + DCT per image)
    // feeds the cap aggregation, the anti-join side and both band sides
    val sigs = phash(media)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.bandedHammingJoin(sigs, maxHamming, maxBucket)
  }

  /** The persistable pHash band index — decode + DCT once at release
    * time, probe forever ([[phashIncrementalPairs]]).
    */
  def phashIndex(
      media: Dataset[MediaRow],
      maxBucket: Int = 1000)(implicit spark: SparkSession): DataFrame =
    Dedup.stampIndexMeta(Dedup.bandedHammingIndex(phash(media), maxBucket),
      "sig", "phash_index", Map("maxBucket" -> maxBucket.toLong))

  /** Incremental pHash near-dup: which released images does this batch
    * structurally duplicate — [[dhashIncrementalPairs]] in the DCT
    * domain. Released images never re-decode; the batch signatures
    * once and probes the persisted band index.
    */
  def phashIncrementalPairs(
      batch: Dataset[MediaRow],
      index: DataFrame,
      maxHamming: Int = 7)(implicit spark: SparkSession): DataFrame = {
    Dedup.checkIndexMeta(index, "sig", "phash_index", Map.empty)
    Dedup.bandedHammingProbe(index, phash(batch), maxHamming)
  }

  /** Deterministic synthetic video table, as fixed-width-frame text
    * payloads: every `poolEvery`-th document draws its frame WINDOW from
    * a sliding pool (video with pool key k = frames k..k+nFrames-1), so
    * pool neighbors share most frames — near-duplicate cuts of the same
    * footage — while every other document gets a disjoint unique frame
    * range. Frames are `frameBytes`-wide ASCII cells, so
    * [[frameSample]]'s byte slicing recovers exactly the planted frames
    * and a SQL oracle can replay frame identity from the formula alone.
    */
  def syntheticVideoDocs(
      documents: DataFrame,
      poolMod: Long = 23L,
      poolEvery: Long = 50L,
      nFrames: Int = 8,
      frameBytes: Int = 16): DataFrame = {
    val base = when(pmod(col("doc_id"), lit(poolEvery)) === 0,
      pmod(floor(col("doc_id") / lit(poolEvery)).cast("long"), lit(poolMod)))
      .otherwise(lit(1000L) + col("doc_id") * 10L)
    documents.select(col("doc_id").cast("long").as("doc_id"),
      concat((0 until nFrames).map(i =>
        rpad(concat(lit("vf"), (base + i).cast("long").cast("string")),
          frameBytes, " ")): _*).as("text"))
  }

  /** Video near-duplicate pairs via frame-signature set overlap: two
    * videos are near-dups when the Jaccard of their FRAME SIGNATURE
    * SETS clears the threshold — shared footage, re-cut or trimmed,
    * keeps most frame signatures. `frames` is any (doc_id, sigCol)
    * frame: [[frameSample]]'s byte-exact frame_md5 for container-level
    * dups, or [[dhash]] signatures of sampled frames for perceptual
    * ones. Same scale shape as text n-gram Jaccard (the signature
    * equi-join core is SHARED — [[Dedup.keyedSetJaccard]]): shuffle on
    * the signature value, doc-frequency cap against ubiquitous frames
    * (intro cards, black frames), never all-pairs.
    */
  /** The capped per-video distinct-signature frame (doc_id, s, n) with
    * the post-cap set size carried as a column — the joinable/
    * persistable core of [[videoFramePairs]], exposed so a released
    * video set can persist it once ([[videoFrameIndex]]) and batches
    * can probe it ([[videoIncrementalPairs]]). One keyed exchange for
    * the set build, broadcast hot-signature cap, zero-exchange window
    * size; persisted because consumers read it at least twice.
    */
  private[operators] def cappedFrameSets(
      frames: DataFrame,
      idCol: String,
      sigCol: String,
      maxDocFreq: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE keyed exchange builds the per-video distinct signature SET
    // (collect_set subsumes what a row-level distinct + later per-doc
    // size aggregation each paid a shuffle for), persisted because the
    // doc-frequency cap reads it twice (hot keys + capped rows). The
    // frame bytes are digested exactly once, upstream of this persist.
    val sets = frames
      .select(col(idCol).cast("long").as("doc_id"), col(sigCol).as("s"))
      .groupBy("doc_id").agg(collect_set(col("s")).as("sigs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh0 = sets.select(col("doc_id"), explode(col("sigs")).as("s"))
    val hot = sh0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select("s")
    // explode + broadcast anti-join are narrow, so the capped rows stay
    // hash-partitioned by doc_id — the POST-CAP per-doc size is a
    // zero-exchange window count, carried through the signature join as
    // a column (keyedSetJaccard's separate size aggregation + two size
    // joins disappear)
    sh0.join(broadcast(hot), Seq("s"), "left_anti")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
  }

  def videoFramePairs(
      frames: DataFrame,
      idCol: String = "doc_id",
      sigCol: String = "frame_md5",
      threshold: Double = 0.5,
      maxDocFreq: Int = 1000): DataFrame = {
    // persisted: the l/r sides of the signature join project DIFFERENT
    // carried columns (na vs nb), so their exchanges do not
    // canonicalize to one — without the persist the cap + window chain
    // (hot-key aggregation included) executes once per side
    val sh = cappedFrameSets(frames, idCol, sigCol, maxDocFreq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the right side's join key is RENAMED (sb), not disambiguated by
    // Dataset id: `l("s") === r("s")` on two projections of one
    // persisted frame resolved only through Spark's self-join
    // disambiguation (and warned "trivially true equals predicate") —
    // one analyzer-config change away from a cartesian-with-true-filter
    val l = sh.select(col("doc_id").as("da"), col("s"), col("n").as("na"))
    val r = sh.select(col("doc_id").as("db"), col("s").as("sb"), col("n").as("nb"))
    l.join(r, col("s") === col("sb") && col("da") < col("db"))
      .groupBy("da", "db", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      // J >= threshold in exact integer arithmetic at 4-dp threshold
      // precision (the Dedup.keyedSetJaccard fix: the reciprocal form
      // was only correct when 1/threshold is integral)
      .filter(col("inter") * lit(10000L) >=
        lit(math.round(threshold * 10000)) * col("uni"))
      .select(col("da"), col("db"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** The persistable frame-signature index of a released video set —
    * [[cappedFrameSets]] with the cap frozen over index videos; probe
    * with [[videoIncrementalPairs]].
    *
    * `frameBytes`/`targetFrames` record the SAMPLING GEOMETRY the
    * supplied `frames` were produced with ([[frameSample]]'s params):
    * a probe whose batch is sampled with a different geometry digests
    * different byte windows and silently matches ZERO index signatures
    * — the quiet-recall-collapse failure the stamp discipline exists
    * for. The index build can't derive the geometry from the frames
    * (they're already sampled), so the caller that sampled them states
    * it here and [[graft.streaming.StreamingVisualDedup.foreachBatchVideoProbe]]
    * fails fast on mismatch at setup.
    *
    * `frameBytes`/`targetFrames` deliberately have NO defaults (r19,
    * the ADVICE fix): an index built from frames sampled at non-default
    * geometry but stamped with a default would either reject a
    * correctly-configured probe or green-light a default-geometry probe
    * that silently matches zero signatures — the exact failure the
    * stamp exists to prevent. State the geometry you sampled with.
    */
  def videoFrameIndex(
      frames: DataFrame,
      frameBytes: Int,
      targetFrames: Int,
      idCol: String = "doc_id",
      sigCol: String = "frame_md5",
      maxDocFreq: Int = 1000): DataFrame =
    Dedup.stampIndexMeta(cappedFrameSets(frames, idCol, sigCol, maxDocFreq),
      "s", "video_frame_index", Map("maxDocFreq" -> maxDocFreq.toLong,
        "frameBytes" -> frameBytes.toLong,
        "targetFrames" -> targetFrames.toLong))

  /** Incremental video near-dup: which released videos does this batch
    * share >= `threshold` frame-Jaccard with — released frame bytes
    * are never re-digested (the index carries signatures + set sizes).
    * The batch builds its own distinct-signature sets (uncapped —
    * caps freeze over index members, the persisted-index convention),
    * joins the index on the signature, and the Jaccard filter uses the
    * same exact integer arithmetic as [[videoFramePairs]]. Output:
    * (da = index id, db = batch id, jaccard).
    */
  def videoIncrementalPairs(
      batchFrames: DataFrame,
      index: DataFrame,
      idCol: String = "doc_id",
      sigCol: String = "frame_md5",
      threshold: Double = 0.5): DataFrame = {
    Dedup.checkIndexMeta(index, "s", "video_frame_index", Map.empty)
    import org.apache.spark.sql.expressions.Window
    val bsh = batchFrames
      .select(col(idCol).cast("long").as("doc_id"), col(sigCol).as("s"))
      .groupBy("doc_id").agg(collect_set(col("s")).as("sigs"))
      .select(col("doc_id"), explode(col("sigs")).as("s"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    val l = index.select(col("doc_id").as("da"), col("s"), col("n").as("na"))
    val r = bsh.select(col("doc_id").as("db"), col("s"), col("n").as("nb"))
    l.join(r, "s")
      .groupBy("da", "db", "na", "nb").agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * lit(10000L) >=
        lit(math.round(threshold * 10000)) * col("uni"))
      .select(col("da"), col("db"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** Deterministic pool-keyed synthetic audio for near-dup testing:
    * every `poolEvery`-th document draws its PCM formula from a shared
    * pool key (planted perceptual duplicates), every other document a
    * unique key — and each document applies its own amplitude scale
    * (1-3x). Scaling changes every sample byte but preserves the
    * energy-envelope gradient signs, which is exactly the invariance
    * class [[audioEnvelopeHash]] promises — so pool members must pair
    * at Hamming 0 despite byte-distinct payloads. Pure integer sample
    * formula (same family as [[syntheticAudio]]'s), so a SQL oracle
    * replays the decoded samples, the windowed energies and the bits.
    */
  def syntheticPatternAudio(
      documents: DataFrame,
      poolEvery: Int = 7,
      poolMod: Int = 23)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id").cast("long")).as[Long].mapPartitions { ids =>
      val fmt = new javax.sound.sampled.AudioFormat(
        8000f, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
      ids.map { id =>
        val key = if (id % poolEvery == 0) (id / poolEvery) % poolMod
                  else poolMod + id
        val scale = (1 + id % 3).toInt
        val n = (80 + key % 40).toInt
        val pcm = new Array[Byte](n * 2)
        var t = 0
        while (t < n) {
          val v = (((key * 131L + t.toLong * t * 7 + t * 13L) % 20001L - 10000L)
            * scale).toInt
          pcm(2 * t) = (v & 0xff).toByte
          pcm(2 * t + 1) = ((v >> 8) & 0xff).toByte
          t += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        MediaRow(id, bos.toByteArray, MediaMeta("audio", "wav", bos.size.toLong))
      }
    }
  }

  /** Audio perceptual fingerprint: the energy-envelope hash — dHash's
    * gradient trick in the time domain. The REAL-decoded 16-bit mono
    * PCM stream is cut into 65 contiguous windows (`w = t*65/n`, the
    * same integer mean-pool mapping [[dhash]] uses spatially), each
    * window's energy is the exact integer sum of squared samples, and
    * bit i says `energy(i+1) > energy(i)` — 64 bits into one long plus
    * the shared 8 byte-bands. Invariance class: any per-document
    * amplitude scaling (gain normalization, 8->16 bit re-encodes)
    * multiplies every window energy by the same factor and leaves all
    * 64 signs unchanged; additive noise flips only near-tie bits, which
    * the Hamming threshold absorbs. No FFT — the envelope is the
    * fingerprint, integer-exact and SQL-mirrorable.
    *
    * Clips shorter than 65 samples are EXCLUDED (no signature row) for
    * dhash's sub-grid reason: empty windows would pin their bits and
    * pool degenerate "duplicates".
    */
  def audioEnvelopeHash(media: Dataset[MediaRow])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val windows = 65
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        require(r.meta.kind == "audio",
          s"audioEnvelopeHash on kind=${r.meta.kind} (doc ${r.doc_id})")
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.media))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"expected 16-bit mono PCM, got $fmt (doc ${r.doc_id})")
        val bytes = ais.readAllBytes()
        ais.close()
        val n = bytes.length / 2
        if (n < windows) Iterator.empty
        else {
          val energy = new Array[Long](windows)
          var t = 0
          while (t < n) {
            val v =
              if (fmt.isBigEndian) (bytes(2 * t).toInt << 8) | (bytes(2 * t + 1) & 0xff)
              else (bytes(2 * t + 1).toInt << 8) | (bytes(2 * t) & 0xff)
            energy(t * windows / n) += v.toLong * v
            t += 1
          }
          val bits = new Array[Int](windows - 1)
          var i = 0
          while (i < windows - 1) {
            if (energy(i + 1) > energy(i)) bits(i) = 1
            i += 1
          }
          var sig = 0L
          i = 0
          while (i < bits.length) {
            if (bits(i) == 1) sig |= 1L << i
            i += 1
          }
          Iterator.single((r.doc_id, sig, graft.functions.TextHashing.byteBands(bits)))
        }
      }
    }.toDF("doc_id", "sig", "bytes")
  }

  /** Audio near-dup pairs: [[audioEnvelopeHash]] signatures into the
    * shared byte-band pigeonhole join ([[Dedup.bandedHammingJoin]]) —
    * guaranteed recall for Hamming <= 7, never all-pairs, bucket-capped.
    * Completes the near-dup family across modalities: text (dd2-dd4),
    * image (mm_dhash), video (mm_video), audio here — all four feed the
    * same banded-join / cluster / keep-one decision layer.
    */
  def audioEnvelopePairs(
      media: Dataset[MediaRow],
      maxHamming: Int = 7,
      maxBucket: Int = 1000)(implicit spark: SparkSession): DataFrame = {
    // persist: the signature stage (decode + window per clip) feeds the
    // cap aggregation, the anti-join side and both band-join sides.
    // The count MATERIALIZES the cache before the join plans its
    // broadcast builds — those run as concurrent jobs, and two of them
    // racing an unpopulated cache would each pay the codec decode
    // (probed at sf0.1: decode is ~1.3 s of the query's ~1.9 s — the
    // one stage worth guaranteeing runs once).
    val sigs = audioEnvelopeHash(media)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    Dedup.bandedHammingJoin(sigs, maxHamming, maxBucket)
  }

  /** The persistable audio band index — [[dhashIndex]] for the audio
    * modality (envelope hashes share the (doc, sig, bytes) Hamming
    * shape, so the same index/probe machinery applies verbatim).
    */
  def audioEnvelopeIndex(
      media: Dataset[MediaRow],
      maxBucket: Int = 1000)(implicit spark: SparkSession): DataFrame =
    Dedup.stampIndexMeta(
      Dedup.bandedHammingIndex(audioEnvelopeHash(media), maxBucket),
      "sig", "audio_envelope_index", Map("maxBucket" -> maxBucket.toLong))

  /** Incremental audio near-dup: batch clips probed against a released
    * set's persisted envelope index — released audio is never
    * re-decoded (the decode is ~70% of the pair query's cost, see
    * [[audioEnvelopePairs]]). Output: (da = index id, db = batch id,
    * hamming).
    */
  def audioIncrementalPairs(
      batch: Dataset[MediaRow],
      index: DataFrame,
      maxHamming: Int = 7)(implicit spark: SparkSession): DataFrame = {
    Dedup.checkIndexMeta(index, "sig", "audio_envelope_index", Map.empty)
    Dedup.bandedHammingProbe(index, audioEnvelopeHash(batch), maxHamming)
  }

  /** One sampled frame of a chunked media payload. */
  final case class FrameSample(
      doc_id: Long, frame_idx: Int, frame_off: Int, frame_len: Int, frame_md5: String)

  /** One cell of a fixed-size "thumbnail" (byte-level downsample). */
  final case class ThumbCell(doc_id: Long, seg: Int, value: Double)

  /** Round half AWAY FROM ZERO at 4 dp — delegates to the shared
    * [[graft.functions.TextHashing.round4]] definition. Audio means are
    * the one SIGNED caller in the repo (the exact-half negative case —
    * n a power of two makes the mean division exact in binary —
    * diverges under a naive half-UP floor trick; caught by the sf0.1
    * oracle, invisible at sf0.01), which is why the shared helper
    * carries the signum.
    */
  private def rnd4(x: Double): Double = graft.functions.TextHashing.round4(x)

  /** Frame sampling: treat the payload as fixed-size frames and keep a
    * uniform-stride sample (the video keyframe-sampling shape). A real
    * codec would decode container frames; the chunking/stride/identity
    * plumbing here is the real distributed shape and is oracle-checked
    * on the byte level (frame md5s).
    */
  def frameSample(
      documents: DataFrame,
      frameBytes: Int = 256,
      targetFrames: Int = 8)(implicit spark: SparkSession): Dataset[FrameSample] =
    frameSampleMedia(asMediaTable(documents), frameBytes, targetFrames)

  /** [[frameSample]] over an already-wrapped media table — the form a
    * streaming micro-batch of [[MediaRow]]s uses directly
    * ([[asMediaTable]] unconditionally encodes a `text` column, so
    * re-wrapping a media-shaped frame would fail analysis).
    */
  def frameSampleMedia(
      media: Dataset[MediaRow],
      frameBytes: Int = 256,
      targetFrames: Int = 8)(implicit spark: SparkSession): Dataset[FrameSample] = {
    import spark.implicits._
    val fb = frameBytes; val tf = targetFrames
    media.flatMap { r =>
      val n = r.media.length
      val nF = (n + fb - 1) / fb
      val stride = math.max(1, (nF + tf - 1) / tf)
      (0 until nF by stride).map { i =>
        val off = i * fb
        val len = math.min(fb, n - off)
        val md = graft.functions.TextHashing.md5Hex(
          java.util.Arrays.copyOfRange(r.media, off, off + len))
        FrameSample(r.doc_id, i, off, len, md)
      }
    }
  }

  /** Byte-level resize: downsample the payload to `segments` cells, each
    * the mean byte value of its contiguous slice — the deterministic
    * stand-in for pixel-space resampling, with the same partitioning and
    * output shape (one narrow pass, exploded cells so the oracle compares
    * scalars, assembled back into a vector with collect_list downstream).
    */
  def resizeBytes(
      documents: DataFrame,
      segments: Int = 16)(implicit spark: SparkSession): Dataset[ThumbCell] = {
    import spark.implicits._
    val segs = segments
    asMediaTable(documents).flatMap { r =>
      val n = r.media.length
      (0 until segs).map { s =>
        val lo = (s * n) / segs
        val hi = ((s + 1) * n) / segs
        val v =
          if (hi > lo) {
            var sum = 0L; var j = lo
            while (j < hi) { sum += (r.media(j) & 0xff); j += 1 }
            rnd4(sum.toDouble / (hi - lo))
          } else 0.0
        ThumbCell(r.doc_id, s, v)
      }
    }
  }
}
