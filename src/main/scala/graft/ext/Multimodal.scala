package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.Bytes.{be16, be32, le16, le24, le32, le32u}

/** Multimodal column support: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct beside them.
  *
  * The Spark-side plumbing here is real and tested — schema contract,
  * partition-sized batch iteration, deterministic outputs. The decode is
  * REAL end-to-end across the raster/audio families the repo's codecs
  * own (see [[Png.decodeAny]]'s chain): PNG (all spec-legal depth ×
  * color-type × interlace combinations), baseline+progressive Huffman
  * JPEG ([[Jpeg]]), lossless AND lossy-intra WebP ([[Vp8l]]/[[Vp8]]),
  * BMP/ICO/TIFF-baseline/PNM, WebM V_VP8 keyframe thumbnails
  * ([[Webm.decodeFirstFrame]]), WAV PCM ([[AudioHeaders.pcm]]), FLAC
  * ([[Flac]]), Vorbis I ([[Vorbis]]) and MPEG-1/2 Layer III ([[Mp3]]).
  * Resize, perceptual
  * hashing, and feature extraction all run on real pixels/samples when
  * the payload decodes; payloads outside the remaining envelope
  * (arithmetic-coded JPEG, MPEG Layer I/II samples, V_VP9/AV1 video)
  * flow to a deterministic, clearly-marked stub — never a wrong
  * decode — and widening a codec changes only that fallback arm, not
  * the operator shape (mapPartitions over binary batches, one decoder
  * session per partition).
  */
object Multimodal {

  /** Canonical multimodal record schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = true),
    StructField("byte_len", LongType, nullable = true)))

  /** Wrap a string column as a binary payload column — the ingestion path
    * for content that arrives in-row. Real binary files come in via
    * `spark.read.format("binaryFile")` with the same downstream shape.
    */
  def asMedia(df: DataFrame, idCol: String, contentCol: String, mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(contentCol).cast("binary").as("payload"),
      lit(mediaType).as("media_type"),
      // length of the BINARY payload (bytes), not the string (chars) —
      // they differ for non-ASCII content
      length(col(contentCol).cast("binary")).cast("long").as("byte_len"))

  final case class DecodedMeta(
      media_id: Long,
      byte_len: Long,
      width: Int,
      height: Int,
      format: String,
      checksum: Long)

  /** `f` over every (media_id, payload) row, one partition at a time —
    * the batch shape of every stage below. A null payload reaches `f` as
    * empty bytes.
    */
  private def perPayload[T: Encoder](media: DataFrame)(
      f: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    import media.sparkSession.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        f(id, if (p == null) Array.emptyByteArray else p)
      })
  }

  /** Decode stage: mapPartitions over the binary payloads. Batch shape:
    * one partition = one decoder session (a real codec would amortize
    * library init across the partition exactly here).
    */
  def decodeImages(media: DataFrame): Dataset[DecodedMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      Some(Png.decodeAny(bytes) match {
        // REAL pixel decode (own PNG codec, JDK ImageIO for the rest):
        // checksum is the pixel-layer content identity, stable across
        // re-encodes
        case Some(img) =>
          val fmt = ImageHeaders.decode(bytes).map(_._3).getOrElse("img")
          DecodedMeta(id, bytes.length.toLong, img.width, img.height,
            fmt, Png.pixelChecksum(img))
        case None =>
          val (w, h, fmt, sum) = StubDecoders.decodeImageMeta(bytes)
          DecodedMeta(id, bytes.length.toLong, w, h, fmt, sum)
      })
    }
  }

  final case class DecodedAudioMeta(
      media_id: Long,
      byte_len: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      duration_ms: Long,
      format: String,
      checksum: Long)

  /** Audio decode stage — same partition-batch shape as [[decodeImages]].
    * WAV (RIFF) headers are parsed for REAL ([[AudioHeaders]]); other
    * payloads fall back to the deterministic stub.
    */
  def decodeAudio(media: DataFrame): Dataset[DecodedAudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      val (sr, ch, bits, dur, fmt, sum) = StubDecoders.decodeAudioMeta(bytes)
      Some(DecodedAudioMeta(id, bytes.length.toLong, sr, ch, bits, dur, fmt, sum))
    }
  }

  final case class AudioSampleStats(
      media_id: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Long,
      sum_samples: Long,
      sum_squares: Long)

  /** REAL PCM sample statistics ([[AudioHeaders.pcm]]): exact integer
    * sum / sum-of-squares per payload — the loudness/energy features of
    * an audio curation pass, SQL-replayable because every accumulator is
    * an exact integer. Non-PCM payloads are dropped (the metadata path
    * [[decodeAudio]] covers them).
    */
  def audioSampleStats(media: DataFrame): Dataset[AudioSampleStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      // FLAC payloads (fLaC magic) go through the pure-JVM codec arm;
      // everything else through the WAV/PCM family decoder
      val stats =
        if (bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' &&
          bytes(2) == 'a' && bytes(3) == 'C') flacStats(bytes)
        else AudioHeaders.pcm(bytes)
      stats.map { case (r, ch, bits, n, sum, sq) =>
        AudioSampleStats(id, r, ch, bits, n, sum, sq)
      }
    }
  }

  /** FLAC sample stats with the same 16-bit quantization discipline as
    * [[AudioHeaders.pcm]]: samples wider than 16 bits contribute their
    * top 16 bits, so the Long accumulators stay exact for any realistic
    * payload and the result is SQL-replayable.
    */
  private def flacStats(b: Array[Byte]): Option[(Int, Int, Int, Long, Long, Long)] =
    Flac.decode(b).map { a =>
      val shift = if (a.bps > 16) a.bps - 16 else 0
      var sum = 0L; var sq = 0L
      var i = 0
      while (i < a.samples.length) {
        val s = a.samples(i) >> shift
        sum += s; sq += s.toLong * s
        i += 1
      }
      (a.sampleRate, a.channels, a.bps, a.samples.length.toLong, sum, sq)
    }

  final case class ResizedImage(
      media_id: Long,
      width: Int,
      height: Int,
      payload: Array[Byte])

  /** Resize stage — same partition-batch shape as [[decodeImages]] (one
    * partition = one codec session). REAL for any payload
    * [[Png.decodeAny]] can read: deterministic box-average downscale
    * (nearest-neighbor on upscale) re-encoded as PNG by the pure-JVM
    * codec. Undecodable payloads keep the size-faithful stub
    * ([[StubDecoders.resizePayload]]) so downstream accounting behaves.
    */
  def resizeImages(media: DataFrame, width: Int, height: Int): Dataset[ResizedImage] = {
    require(width > 0 && height > 0, s"target dims must be positive: ${width}x$height")
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      Some(Png.decodeAny(bytes) match {
        // REAL resize: deterministic box-average downscale (nearest on
        // upscale) re-encoded as PNG by the pure-JVM codec
        case Some(img) =>
          ResizedImage(id, width, height, Png.encode(Png.resize(img, width, height)))
        case None =>
          ResizedImage(id, width, height, StubDecoders.resizePayload(bytes, width, height))
      })
    }
  }

  /** Feature-extraction stage: payload → dense `Array[Float]` embedding —
    * the media-to-vector bridge feeding the similarity family (the output
    * column plugs straight into [[Similarity]] search/dedup). The
    * embedding itself is the deterministic stub (content-hash-seeded,
    * unit-norm); the batch shape, schema, and normalization contract are
    * what a real vision encoder slots into.
    */
  def extractFeatures(media: DataFrame, dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      val emb = Png.decodeAny(bytes) match {
        // REAL pixel features: channel histograms — re-encodes of the
        // same raster embed identically (cosine 1), which the
        // content-hash stub cannot do
        case Some(img) => Png.features(img, dim)
        case None      => StubDecoders.embedPayload(bytes, dim)
      }
      Some((id, emb))
    }.toDF("media_id", "embedding")
  }

  final case class MediaFingerprint(
      media_id: Long,
      byte_len: Long,
      phash: Long)

  /** Perceptual-hash stage — same partition-batch shape as
    * [[decodeImages]] (one partition = one codec session). Emits a 64-bit
    * aHash fingerprint per payload ([[StubDecoders.perceptualHash]]: real
    * byte-region hash; with a codec, the same hash over downscaled
    * pixels). Feeds [[nearDupImages]].
    */
  def perceptualHashes(media: DataFrame): Dataset[MediaFingerprint] =
    perceptualHashes(media, rotInvariant = false)

  /** `rotInvariant = true` hashes each raster with
    * [[Png.aHashCanonical]] (unsigned-min over the four 90° rotations),
    * so rotated copies pair at Hamming 0 — plain aHash misses them
    * entirely. Non-decodable payloads keep the deterministic byte hash
    * either way.
    */
  def perceptualHashes(media: DataFrame, rotInvariant: Boolean): Dataset[MediaFingerprint] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      val ph = Png.decodeAny(bytes) match {
        // classic aHash over REAL 8×8 downscaled grayscale pixels —
        // invariant to re-encoding, robust to small pixel edits
        case Some(img) =>
          if (rotInvariant) Png.aHashCanonical(img) else Png.aHash(img)
        case None => StubDecoders.perceptualHash(bytes)
      }
      Some(MediaFingerprint(id, bytes.length.toLong, ph))
    }
  }

  /** Perceptual near-dup image pairs: aHash fingerprints blocked and
    * verified by [[Dedup.hammingPairs64]] (pigeonhole blocking sized to
    * the distance budget — the SimHash machinery pointed at media
    * fingerprints). Never all-pairs: candidates exist only inside shared
    * blocks. Returns (id1, id2, hamming) with hamming ≤ maxHamming.
    * `nBlocks` passes through to [[Dedup.hammingPairs64]] — size it to
    * the corpus (multi-block subset keys) for media collections past a
    * few million items, exactly as for text fingerprints.
    */
  def nearDupImages(media: DataFrame, maxHamming: Int = 3,
      nBlocks: Int = 0, rotInvariant: Boolean = false): DataFrame =
    Dedup.hammingPairs64(
      perceptualHashes(media, rotInvariant).toDF(), "media_id", "phash",
      maxHamming, nBlocks = nBlocks)

  /** Rotation+noise-robust near-dup image pairs: min PAIRWISE Hamming
    * over the full D4 aHash orbits ([[Png.aHashD4]]). The canonical-min
    * hash ([[nearDupImages]] with rotInvariant) pairs EXACT rotations /
    * mirrors at Hamming 0 but is unstable once a rotated copy also
    * carries pixel noise — the min-of-8 can canonicalize to different
    * orientations on the two sides. Here every image bands ALL 8
    * orientation hashes (bounded 8x key fan-out, index structure
    * unchanged); by the D4 group property the orbit distance equals
    * min_j H(h0_A, orbit_B[j]), so candidates verify with one array
    * scan. Pigeonhole guarantee is preserved: a pair within maxHamming
    * shares a block of the aligned orientation pair, and both sides'
    * orbits are banded. Never all-pairs; scale shape identical to
    * [[nearDupImages]].
    *
    * Contract note: this method is EAGER — the whole pairing job runs
    * inside the call (pairs.count()) so the per-image orbit cache can
    * be released deterministically before returning; a caller that
    * builds-but-discards the result still pays the job. The returned
    * pair table is persisted and orders of magnitude smaller than the
    * orbit table it replaced.
    */
  def nearDupImagesOriented(media: DataFrame, maxHamming: Int = 3,
      nBlocks: Int = 0, maxResidentSubsets: Int = 0): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val orbits = perPayload(media) { (id, bytes) =>
      val orbit = Png.decodeAny(bytes) match {
        case Some(img) => Png.aHashD4(img)
        case None => Array(StubDecoders.perceptualHash(bytes))
      }
      Some((id, orbit))
    }.toDF("media_id", "orbit")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = orientedPairsFromOrbits(orbits, maxHamming, nBlocks,
      maxResidentSubsets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (small — bounded by true near-dup pairs) result so
    // the per-image orbit cache can be dropped here instead of leaking
    // cached blocks for the life of the session; the pair cache the
    // caller consumes is orders of magnitude smaller than the orbit table
    try pairs.count()
    finally orbits.unpersist(blocking = false)
    pairs
  }

  /** Pairing core over a prepared (media_id, orbit[8]) table — shared by
    * [[nearDupImagesOriented]] and the OrientSoak scale measurement.
    *
    * `maxResidentSubsets` > 0 splits the C(nBlocks, nBlocks-maxHamming)
    * block-subset family into waves of at most that many subsets, one
    * banding shuffle per wave: the union of wave candidates equals the
    * single-pass candidate set (a pair is a candidate iff it shares ANY
    * subset band — DedupSpec pins the equality), while the PEAK resident
    * band-row footprint drops by the wave factor. This is the lever for
    * the orbit fan-out at the 100 TB shape: band rows scale with
    * images x 8 x subsets — AND, past a corpus-dependent size, with
    * RANDOM band-key collisions: a band key carries
    * 64·(nBlocks-maxHamming)/nBlocks bits, so candidate volume turns
    * quadratic once images x 8 approaches 2^keyBits (the round-15
    * re-diagnosis of the round-14 "3.2 M spill wall": the disk filled
    * with candidate pairs, not band rows). Size nBlocks so the key
    * stays ahead of the corpus — nBlocks 7 gives ~18-bit keys (fine to
    * a few hundred thousand images), 9 gives ~28-bit keys for the
    * multi-million range at 6x the subset count; the pigeonhole
    * guarantee holds for any nBlocks > maxHamming.
    */
  private[graft] def orientedPairsFromOrbits(orbits: DataFrame,
      maxHamming: Int, nBlocks: Int, maxResidentSubsets: Int = 0): DataFrame = {
    // per-image orbit dedup is LOCAL (round 17): a duplicate (media_id,
    // phash) row can only come from two orientations of the SAME image
    // hashing equal (symmetric rasters), so array_distinct inside the row
    // removes exactly what the old `.distinct()` after the explode did —
    // without the full exchange + sequential AQE stage the distinct cost
    // (cross-image (id, hash) collisions don't exist: media_id differs)
    val exploded = orbits
      .select(col("media_id"), explode(array_distinct(col("orbit"))).as("phash"))
    val blocksN = if (nBlocks == 0) maxHamming + 1 else nBlocks
    // no distinct on the band rows: a duplicate (band, id) row only adds
    // self and repeated candidate pairs, which candidatePairs' terminal
    // distinct and the id1 =!= id2 filter drop (it does hold one of its
    // bucket's maxBucket clique slots); a distinct here would be a second
    // full exchange of the banded rows next to candidatePairs' one
    val total = Dedup.hammingSubsetCount(maxHamming, blocksN)
    val waves: Seq[(Int, Int)] =
      if (maxResidentSubsets <= 0 || maxResidentSubsets >= total) Seq((0, total))
      else (0 until total by maxResidentSubsets)
        .map(f => (f, math.min(f + maxResidentSubsets, total)))
    val multiWave = waves.size > 1
    val candWaves = waves.map { case (f, u) =>
      val w = Dedup.candidatePairs(
        Dedup.hammingBands(exploded, "media_id", "phash", maxHamming,
          blocksN, f, u), "media_id")
      if (!multiWave) w
      else {
        // materialize the wave NOW and truncate lineage: the whole point
        // of waves is bounding PEAK shuffle footprint, and a lazy union
        // would run every wave's banding shuffle inside one job with all
        // their shuffle files alive simultaneously. localCheckpoint runs
        // the wave as its own job; the GC nudge lets the ContextCleaner
        // drop the finished wave's shuffle files before the next starts.
        val cp = w.localCheckpoint(true)
        System.gc()
        cp
      }
    }
    val cands =
      if (candWaves.size == 1) candWaves.head
      else candWaves.reduce(_ unionByName _).distinct()
    cands
      .filter(col("id1") =!= col("id2"))
      .join(orbits.select(col("media_id").as("id1"), col("orbit")(0).as("fp1")), "id1")
      .join(orbits.select(col("media_id").as("id2"), col("orbit").as("orbit2")), "id2")
      .select(col("id1"), col("id2"),
        expr("array_min(transform(orbit2, x -> int(bit_count(fp1 ^ x))))")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Perceptual AUDIO fingerprints ([[AudioFp]] band-energy signs over
    * the real WAV/FLAC decode; gain-invariant, codec-invariant across
    * lossless encodings of the same capture). Payloads no audio arm
    * decodes fall back to the deterministic byte hash — exact-byte
    * duplicates still pair at Hamming 0, and a random byte hash lands
    * within a small Hamming budget of anything else with probability
    * ~1e-13 per pair. Map-only, embarrassingly parallel.
    */
  def audioFingerprints(media: DataFrame): Dataset[MediaFingerprint] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      val fp = AudioFp.fingerprint(bytes).getOrElse(StubDecoders.perceptualHash(bytes))
      Some(MediaFingerprint(id, bytes.length.toLong, fp))
    }
  }

  /** Perceptual near-dup audio pairs: [[audioFingerprints]] through the
    * same [[Dedup.hammingPairs64]] pigeonhole blocking as images — the
    * candidate set exists only inside shared blocks, never all-pairs.
    * Returns (id1, id2, hamming ≤ maxHamming); size `nBlocks` to the
    * corpus exactly as for text/image fingerprints.
    */
  def nearDupAudio(media: DataFrame, maxHamming: Int = 3,
      nBlocks: Int = 0): DataFrame =
    Dedup.hammingPairs64(
      audioFingerprints(media).toDF(), "media_id", "phash", maxHamming,
      nBlocks = nBlocks)

  /** Frame sampling plumbing: every `stride`-th chunk of the payload as a
    * (media_id, frame_no, frame_bytes) row — the shape of video
    * frame-extraction output. Chunking is deterministic.
    */
  def sampleFrames(media: DataFrame, chunkSize: Int, stride: Int): DataFrame =
    media
      .withColumn("n_chunks",
        greatest(ceil(col("byte_len") / chunkSize.toDouble).cast("int"), lit(1)))
      .select(col("media_id"),
        explode(expr(s"sequence(0, n_chunks - 1, $stride)")).as("frame_no"),
        col("payload"))
      .withColumn("frame_bytes",
        expr(s"substring(payload, frame_no * $chunkSize + 1, $chunkSize)"))
      .drop("payload")

  final case class SampledFrame(
      media_id: Long,
      frame_no: Int,
      width: Int,
      height: Int,
      frame_png: Array[Byte])

  /** REAL frame sampling for multi-frame containers the JDK can read
    * (animated GIF via `ImageReader.getNumImages/read(i)`), RIFF
    * AVI/MJPEG ([[aviFrames]]), and ISO-BMFF MP4/MJPEG
    * ([[Mp4.frames]] — stsc/stco/stsz sample layout): every
    * `stride`-th frame decoded to pixels and re-encoded as PNG by the
    * deterministic codec — the video→keyframe extraction shape with an
    * actual decoder behind it. One reader per payload, reader disposed
    * per row; single-frame/undecodable payloads yield frame 0 via
    * [[Png.decodeAny]] when possible and are skipped otherwise (the
    * byte-chunk [[sampleFrames]] covers opaque payloads).
    */
  def sampleFramesReal(media: DataFrame, stride: Int): Dataset[SampledFrame] = {
    require(stride > 0, s"stride must be positive: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      System.setProperty("java.awt.headless", "true")
      gifFrames(bytes, stride).orElse(aviFrames(bytes, stride))
        .orElse(Mp4.frames(bytes, stride))
        .orElse(webpAnimFrames(bytes, stride))
        .orElse(apngFrames(bytes, stride)) match {
        case Some(frames) =>
          frames.map { case (no, img) =>
            SampledFrame(id, no, img.width, img.height, Png.encode(img))
          }
        case None =>
          Png.decodeAny(bytes).map(img =>
            SampledFrame(id, 0, img.width, img.height, Png.encode(img))).toSeq
      }
    }
  }

  final case class ContainerTrackMeta(
      media_id: Long,
      brand: String,
      timescale: Long,
      duration_ms: Long,
      track_id: Long,
      handler: String,
      codec: String,
      width: Int,
      height: Int,
      track_timescale: Long,
      track_duration_ms: Long,
      n_samples: Long,
      total_bytes: Long)

  /** Per-track ISO-BMFF (MP4/MOV) container metadata — the triage step a
    * multimodal crawl pipeline runs over every video blob BEFORE deciding
    * what to decode: codec 4cc, dimensions, duration, sample count and
    * byte volume per track, all from a pure byte walk ([[Mp4.parse]]),
    * no decoder touched. One row per track; non-MP4 payloads are dropped
    * (the image/audio metadata paths cover them). Map-only — scales as a
    * single pass over the payload bytes with nothing shuffled.
    */
  def mp4Meta(media: DataFrame): Dataset[ContainerTrackMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      Mp4.parse(bytes).toSeq.flatMap { m =>
        m.tracks.map(t => ContainerTrackMeta(id, m.brand, m.timescale,
          m.duration_ms, t.track_id, t.handler, t.codec, t.width,
          t.height, t.timescale, t.duration_ms, t.n_samples, t.total_bytes))
      }
    }
  }

  final case class MpegAudioMeta(
      media_id: Long,
      version: String,
      layer: Int,
      sample_rate: Int,
      channels: Int,
      bitrate_kbps: Int,
      n_frames: Long,
      duration_ms: Long,
      is_vbr: Int)

  /** MPEG audio (MP3/MP2/MP1) metadata triage — the audio twin of
    * [[mp4Meta]]: frame-header scan ([[Mpeg.mp3Meta]]) recovers version,
    * layer, bitrate, sample rate, channels, frame count, duration and
    * VBR-ness without decoding a sample. Map-only; non-MPEG payloads are
    * dropped (WAV/FLAC ride [[audioSampleStats]]; full Layer III PCM
    * decode lives in [[Mp3]] — triage deliberately never pays for it).
    */
  def mpegMeta(media: DataFrame): Dataset[MpegAudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      Mpeg.mp3Meta(bytes).map(m =>
        MpegAudioMeta(id, m.version, m.layer, m.sample_rate, m.channels,
          m.bitrate_kbps, m.n_frames, m.duration_ms, if (m.is_vbr) 1 else 0))
    }
  }

  final case class OggContainerMeta(
      media_id: Long,
      codec: String,
      channels: Int,
      sample_rate: Int,
      n_pages: Long,
      duration_ms: Long)

  /** Ogg (Vorbis/Opus/Theora) metadata triage — CRC-verified page walk
    * ([[Ogg.meta]]), codec identification from the begin-of-stream
    * header, duration from the final granule position. Map-only;
    * non-Ogg payloads are dropped ([[mpegMeta]] owns MPEG audio,
    * [[mp4Meta]] owns ISO-BMFF).
    */
  def oggMeta(media: DataFrame): Dataset[OggContainerMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      Ogg.meta(bytes).map(m =>
        OggContainerMeta(id, m.codec, m.channels, m.sample_rate, m.n_pages, m.duration_ms))
    }
  }

  final case class ExifRow(
      media_id: Long,
      make: String,
      model: String,
      orientation: Int,
      datetime: String,
      exif_width: Int,
      exif_height: Int,
      has_gps: Int)

  /** EXIF metadata triage for JPEG payloads ([[Exif.meta]]): camera
    * identity, orientation, capture time, declared dimensions, and the
    * PII-relevant `has_gps` flag. Map-only; payloads without an Exif
    * segment are dropped.
    */
  def exifMeta(media: DataFrame): Dataset[ExifRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      Exif.meta(bytes).map(m => ExifRow(id, m.make, m.model, m.orientation,
        m.datetime, m.width, m.height, if (m.has_gps) 1 else 0))
    }
  }

  /** Image-side PII redaction: every Exif APP1 segment removed from JPEG
    * payloads ([[Exif.strip]]), pixels byte-identical — the binary twin
    * of the text redaction path. Non-JPEG payloads pass through
    * untouched.
    */
  def stripExif(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, p) =>
      // format-aware redaction: JPEG APP1 surgery ([[Exif.strip]]) or
      // WebP chunk surgery ([[Webp.stripMeta]]); other formats ride
      // through unchanged (both strips are reference-preserving no-ops
      // on payloads without metadata)
      Some((id, if (sniffFormat(p) == "webp") Webp.stripMeta(p) else Exif.strip(p)))
    }.toDF("media_id", "payload")
  }

  final case class WebmTrackMeta(
      media_id: Long,
      doc_type: String,
      duration_ms: Long,
      track_number: Long,
      track_type: Int,
      codec: String,
      width: Int,
      height: Int,
      sample_rate: Int,
      channels: Int)

  /** WebM/Matroska metadata triage ([[Webm.meta]]) — the EBML twin of
    * [[mp4Meta]]: per-track codec ids, dimensions, audio parameters and
    * the timecode-scaled duration, map-only. Non-EBML payloads are
    * dropped.
    */
  def webmMeta(media: DataFrame): Dataset[WebmTrackMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, bytes) =>
      Webm.meta(bytes).toSeq.flatMap { m =>
        m.tracks.map(t => WebmTrackMeta(id, m.doc_type, m.duration_ms,
          t.track_number, t.track_type, t.codec, t.width, t.height,
          t.sample_rate, t.channels))
      }
    }
  }

  final case class HeifRow(
      media_id: Long,
      brand: String,
      primary_item: Long,
      item_type: String,
      n_items: Int,
      width: Int,
      height: Int)

  /** [[Mp4.heifMeta]] over a media column — HEIF/AVIF still-image triage
    * behind the heic/avif sniff routes; map-only, non-HEIF rows dropped.
    */
  def heifMeta(media: DataFrame): Dataset[HeifRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, p) =>
      Mp4.heifMeta(p).map(m => HeifRow(id, m.brand, m.primary_item,
        m.item_type, m.n_items, m.width, m.height))
    }
  }

  final case class WebpRow(
      media_id: Long,
      variant: String,
      width: Int,
      height: Int,
      has_alpha: Boolean,
      has_animation: Boolean,
      has_exif: Boolean,
      has_icc: Boolean,
      n_frames: Int)

  /** [[Webp.meta]] over a media column — map-only triage for the web's
    * third image format; rows that aren't structurally WebP are dropped
    * (the sniff routes them elsewhere first).
    */
  def webpMeta(media: DataFrame): Dataset[WebpRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media) { (id, p) =>
      Webp.meta(p).map(m => WebpRow(id, m.variant, m.width, m.height,
        m.has_alpha, m.has_animation, m.has_exif, m.has_icc, m.n_frames))
    }
  }

  /** Format detection for one payload — the dispatch step a multimodal
    * pipeline runs FIRST over every blob, routing each to its arm.
    * Structural magics are checked in specificity order; MPEG audio
    * comes last because its sync word is weak evidence (the
    * chained-frame rule in [[Mpeg.mp3Meta]] is the arbiter). "unknown"
    * rather than None: at triage time an unrecognized payload is a
    * category, not an error.
    */
  def sniffFormat(b: Array[Byte]): String = {
    def at(i: Int, s: String): Boolean =
      b.length >= i + s.length && s.indices.forall(k => b(i + k) == s.charAt(k).toByte)
    if (b == null || b.length < 4) "unknown"
    else if ((b(0) & 0xFF) == 0x89 && at(1, "PNG")) "png"
    else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) "jpeg"
    else if (at(0, "GIF8")) "gif"
    else if (at(0, "BM")) "bmp"
    // ICO's magic (00 00 01 00) is weak — admit only via the structural
    // gates (entry count bound, directory fits)
    else if (Ico.isIco(b)) "ico"
    else if (Pnm.isPnm(b)) "pnm"
    else if ((at(0, "II") && b(2) == 42 && b(3) == 0) ||
      (at(0, "MM") && b(2) == 0 && b(3) == 42)) "tiff"
    else if (at(0, "RIFF") && at(8, "WAVE")) "wav"
    else if (at(0, "RIFF") && at(8, "AVI ")) "avi"
    else if (at(0, "RIFF") && at(8, "WEBP")) "webp"
    else if (at(0, "fLaC")) "flac"
    else if (at(0, "OggS")) "ogg"
    else if (at(4, "ftyp")) {
      // the ftyp MAJOR BRAND names the family — HEIF still images
      // (modern phone imagery) and AVIF must route to the image arms,
      // not the video one, or they skip image curation entirely
      val brand =
        if (b.length >= 12) new String(b, 8, 4, "US-ASCII") else ""
      brand match {
        case "heic" | "heix" | "hevc" | "hevx" | "heim" | "heis" |
             "mif1" | "msf1" => "heic"
        case "avif" | "avis" => "avif"
        case _ => "mp4"
      }
    }
    else if ((b(0) & 0xFF) == 0x1A && (b(1) & 0xFF) == 0x45 &&
      (b(2) & 0xFF) == 0xDF && (b(3) & 0xFF) == 0xA3) "webm"
    else if ((b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B) "gzip"
    // the non-gzip compression families crawl datasets actually ship in:
    // NAMED at triage so a routing policy can see them, and decoded by
    // the matching [[Codecs]] arm (zstd-jni / tukaani-xz / commons-
    // compress bzip2, framed-lz4, framed-snappy, .Z, lzma — all on the
    // Spark classpath)
    else if ((b(0) & 0xFF) == 0x28 && (b(1) & 0xFF) == 0xB5 &&
      (b(2) & 0xFF) == 0x2F && (b(3) & 0xFF) == 0xFD) "zstd"
    else if (b.length >= 6 && (b(0) & 0xFF) == 0xFD && at(1, "7zXZ") &&
      b(5) == 0) "xz"
    else if (at(0, "BZh") && b.length >= 4 &&
      b(3) >= '1' && b(3) <= '9') "bzip2"
    else if (b.length >= 4 && (b(0) & 0xFF) == 0x04 && (b(1) & 0xFF) == 0x22 &&
      (b(2) & 0xFF) == 0x4D && (b(3) & 0xFF) == 0x18) "lz4"
    else if (b.length >= 10 && (b(0) & 0xFF) == 0xFF && b(1) == 0x06 &&
      b(2) == 0 && b(3) == 0 && at(4, "sNaPpY")) "snappy"
    else if ((b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x9D) "z"
    else if (b.length >= 6 && at(0, "7z") && (b(2) & 0xFF) == 0xBC &&
      (b(3) & 0xFF) == 0xAF && (b(4) & 0xFF) == 0x27 &&
      (b(5) & 0xFF) == 0x1C) "7z"
    // Avro OCF: 'O','b','j',1 — the row-interchange format [[Avro]] reads
    // sync-split parallel
    else if (at(0, "Obj") && b(3) == 1) "avro"
    // SQLite database: 16-byte header string (fileformat2.html §1.3),
    // decoded by [[Sqlite]]
    else if (at(0, "SQLite format 3")) "sqlite"
    // ISO 9660 disc image: 'CD001' at byte 1 of sector 16 (ECMA-119),
    // walked by [[Iso]]
    else if (Iso.isIso(b)) "iso"
    // TNEF winmail.dat: LE signature 0x223E9F78, walked by [[Tnef]]
    else if (Tnef.isTnef(b)) "tnef"
    // Android binary XML: RES_XML chunk header whose declared size is
    // the file length, walked by [[Axml]]
    else if (Axml.isAxml(b)) "axml"
    // OLE2/CFB compound file (legacy Office, MSI, .msg): discriminate
    // the family by signature stream, like the ZIP mimetype split
    else if (b.length >= 8 && (b(0) & 0xFF) == 0xD0 && (b(1) & 0xFF) == 0xCF &&
      (b(2) & 0xFF) == 0x11 && (b(3) & 0xFF) == 0xE0 && (b(4) & 0xFF) == 0xA1 &&
      (b(5) & 0xFF) == 0xB1 && (b(6) & 0xFF) == 0x1A && (b(7) & 0xFF) == 0xE1)
      Cfb.family(b)
    else if (at(0, "PK")) {
      // EPUB and ODF both REQUIRE a STORED first member named `mimetype`
      // (no extra field) carrying exactly their media type — when the
      // local header matches, route to the book ([[Epub]]) or
      // OpenDocument ([[Odf]]) arm; anything else degrades gracefully
      // to the generic zip arm
      if (at(30, "mimetype")) {
        if (at(38, "application/epub+zip")) "epub"
        else if (at(38, Odf.MimeText)) "odt"
        else if (at(38, Odf.MimeSpreadsheet)) "ods"
        else if (at(38, Odf.MimePresentation)) "odp"
        else "zip"
      } else "zip"
    }
    // software-distribution containers (a code/package crawl's rows):
    // ar is the .deb / static-library outer shell, ASCII cpio dialects
    // are RPM payloads and initramfs images — both decoded by [[Pkg]]
    else if (at(0, "!<arch>\n")) "ar"
    else if (at(0, "070701") || at(0, "070702") || at(0, "070707")) "cpio"
    else if (at(0, "%PDF-")) "pdf"
    else if (at(0, "{\\rtf")) "rtf"
    else if (at(0, "WARC/")) "warc"
    else if (at(257, "ustar")) "tar"
    // mail corpora: an mbox opens with its first envelope line; a bare
    // .eml leads with a trace header (the conservative set — From:/
    // Subject: alone are too common in plain text to be magic). An
    // MHTML web archive is structurally an eml whose top-level type is
    // multipart/related — split on that within the header block.
    else if (at(0, "From ")) "mbox"
    else if (at(0, "Return-Path:") || at(0, "Received:") ||
      at(0, "Delivered-To:") || at(0, "MIME-Version:") ||
      at(0, "Message-ID:") || at(0, "From: <Saved by ") ||
      at(0, "Snapshot-Content-Location:")) {
      val head = new String(b, 0, math.min(b.length, 2048),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      if (head.contains("multipart/related")) "mhtml" else "eml"
    }
    else if (Mpeg.mp3Meta(b).nonEmpty) "mpeg_audio"
    else {
      // leading-whitespace-tolerant HTML/feed sniff (text modality
      // markers); feeds may hide behind an XML prolog, so the RSS/Atom
      // roots are checked within the first KB after a '<?xml' head
      var i = 0
      while (i < b.length && i < 64 &&
        (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' || b(i) == '\t')) i += 1
      val head = new String(b, i, math.min(16, b.length - i), "US-ASCII").toLowerCase
      if (head.startsWith("<html") || head.startsWith("<!doctype")) "html"
      else if (at(0, "BEGIN:VCALENDAR")) "ics"
      else if (at(0, "BEGIN:VCARD")) "vcf"
      else if (at(0, "d8:announce")) "torrent"
      // research-corpus text formats: LaTeX sources open with the class
      // declaration (comment-prefixed preambles checked in the head),
      // BibTeX with an entry/macro marker, notebooks are JSON carrying
      // nbformat + cells
      else if (at(i, "\\documentclass") ||
        (b(i) == '%' && new String(b, i, math.min(1024, b.length - i),
          java.nio.charset.StandardCharsets.ISO_8859_1)
          .contains("\\documentclass"))) "tex"
      else if (b(i) == '@' && {
        val k = new String(b, i, math.min(64, b.length - i),
          java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
        Seq("@article", "@book", "@inproceedings", "@misc", "@string",
          "@techreport", "@phdthesis", "@incollection")
          .exists(t => k.startsWith(t))
      }) "bib"
      else if (b(i) == '{' && {
        val k = new String(b, i, math.min(2048, b.length - i),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        k.contains("\"nbformat\"") &&
          (k.contains("\"cells\"") || k.contains("\"worksheets\""))
      }) "ipynb"
      // localization corpora: a .po catalog leads with comments or its
      // header entry (msgid + msgstr both within the head); XLIFF is
      // XML with the <xliff> root
      else if ((b(i) == '#' || at(i, "msgid")) && {
        val k = new String(b, i, math.min(1024, b.length - i),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        k.contains("msgid") && k.contains("msgstr")
      }) "po"
      else if (head.startsWith("<xliff") ||
        (head.startsWith("<?xml") && new String(b, i,
          math.min(1024, b.length - i),
          java.nio.charset.StandardCharsets.ISO_8859_1).contains("<xliff")))
        "xliff"
      else if (head.startsWith("<rss") || head.startsWith("<feed") ||
        (head.startsWith("<?xml") && {
          val k = new String(b, i, math.min(1024, b.length - i), "US-ASCII")
          k.contains("<rss") || k.contains("<feed")
        })) {
        val k = new String(b, i, math.min(1024, b.length - i), "US-ASCII")
        if (k.contains("<rss") || !k.contains("<feed")) "rss" else "atom"
      }
      // dBase .dbf has no magic string — a structural gate chain
      // (version nibble, date plausibility, header/record arithmetic,
      // 0x0D descriptor terminator) decided by [[Dbf.isDbf]]
      else if (Dbf.isDbf(b)) "dbf"
      // lzma-alone is a WEAK magic (props byte + LE dict size) — checked
      // dead last, with the same sanity gates as [[Codecs.detect]]
      else if (b.length >= 13 && (b(0) & 0xFF) < 225 && b(1) == 0 &&
        b(2) == 0 && (b(3) != 0 || b(4) != 0) && (b(4) & 0xFF) < 0x40 &&
        (b(12) == 0 || (b(12) & 0xFF) == 0xFF)) "lzma"
      else "unknown"
    }
  }

  /** [[sniffFormat]] over a media column — map-only, the first stage of
    * the 100 TB multimodal pipeline.
    */
  def sniffMedia(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    perPayload(media)((id, p) => Some((id, sniffFormat(p), p.length.toLong)))
      .toDF("media_id", "format", "byte_len")
  }

  /** Every `stride`-th frame of a multi-frame GIF as rasters; None when
    * the payload isn't a GIF the JDK reader accepts.
    */
  /** Animated-WebP frames: every `stride`-th ANMF's VP8L raster as a
    * [[Png.Image]] — the fourth real multi-frame container next to GIF,
    * AVI/MJPEG, and MP4. Still WebPs fall through to the
    * [[Png.decodeAny]] single-frame path (which chains Vp8l).
    */
  private def webpAnimFrames(bytes: Array[Byte], stride: Int): Option[Seq[(Int, Png.Image)]] =
    Webp.animFrames(bytes).map(_.collect {
      case (no, _, _, _, img) if no % stride == 0 =>
        (no, Vp8l.toPngImage(img))
    })

  /** APNG frames via [[Apng.frames]] — must sit BEFORE the
    * [[Png.decodeAny]] single-frame fallback, which would otherwise
    * decode an APNG's default image as a still.
    */
  private def apngFrames(bytes: Array[Byte], stride: Int): Option[Seq[(Int, Png.Image)]] =
    Apng.frames(bytes).map(_.collect {
      case (no, _, _, _, img) if no % stride == 0 => (no, img)
    })

  private def gifFrames(bytes: Array[Byte], stride: Int): Option[Seq[(Int, Png.Image)]] = {
    if (bytes.length < 6 || bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F')
      return None
    Png.jdkImageIoInit // headless + memory-backed streams, once per JVM
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    if (!readers.hasNext) return None
    val reader = readers.next()
    // createImageInputStream can return null (no cache dir / SPI); bail
    // before the finally block would NPE on stream.close()
    val stream = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    if (stream == null) { reader.dispose(); return None }
    try {
      reader.setInput(stream, false, true)
      val n = reader.getNumImages(true)
      if (n <= 0) return None
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Png.Image)]
      var i = 0
      while (i < n) {
        val bi = reader.read(i)
        val w = bi.getWidth; val h = bi.getHeight
        val hasAlpha = bi.getColorModel.hasAlpha
        val ch = if (hasAlpha) 4 else 3
        val px = new Array[Byte](w * h * ch)
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          bi.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val argb = row(x)
            val p = (y * w + x) * ch
            px(p) = ((argb >> 16) & 0xFF).toByte
            px(p + 1) = ((argb >> 8) & 0xFF).toByte
            px(p + 2) = (argb & 0xFF).toByte
            if (hasAlpha) px(p + 3) = ((argb >>> 24) & 0xFF).toByte
            x += 1
          }
          y += 1
        }
        out += ((i, Png.Image(w, h, ch, px)))
        i += stride
      }
      Some(out.toSeq)
    } catch { case _: Exception => None }
    finally {
      reader.dispose()
      stream.close()
    }
  }

  /** Every `stride`-th video frame of an AVI/MJPEG container as rasters —
    * the real VIDEO arm of frame sampling. The RIFF walk is pure byte
    * parsing (top-level chunks → `LIST movi` → `##dc`/`##db` stream
    * chunks, `rec ` groups included); each frame payload is an MJPEG
    * field, i.e. a standalone JPEG, decoded through the pure
    * [[Jpeg]] codec ([[Png.decodeAny]] as fallback covers other
    * per-frame encodings). None when the payload isn't a RIFF AVI;
    * frames that fail to decode are skipped, never half-read.
    */
  private def aviFrames(bytes: Array[Byte], stride: Int): Option[Seq[(Int, Png.Image)]] = {
    if (bytes.length < 12 ||
      !(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') ||
      !(bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' '))
      return None
    try {
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Png.Image)]
      var frameNo = 0
      def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
      // iterative chunk walk; `rec ` groups nest one level inside movi
      def walk(start: Int, end: Int, inMovi: Boolean, depth: Int): Unit = {
        if (depth > 4) return
        var i = start
        while (i + 8 <= end) {
          val size = le32(bytes, i + 4)
          if (size < 0 || size > end - i - 8) return
          val isList = bytes(i) == 'L' && bytes(i + 1) == 'I' &&
            bytes(i + 2) == 'S' && bytes(i + 3) == 'T'
          if (isList && size >= 4) {
            val lt = new String(bytes, i + 8, 4, "US-ASCII")
            if (lt == "movi" || (inMovi && lt == "rec "))
              walk(i + 12, i + 8 + size, inMovi = true, depth + 1)
          } else if (inMovi && isDigit(bytes(i)) && isDigit(bytes(i + 1)) &&
            (bytes(i + 2) == 'd' && (bytes(i + 3) == 'c' || bytes(i + 3) == 'b'))) {
            if (size > 0) {
              if (frameNo % stride == 0) {
                val payload = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + size)
                Jpeg.decode(payload).orElse(Png.decodeAny(payload))
                  .foreach(img => frames += ((frameNo, img)))
              }
              frameNo += 1
            }
          }
          i += 8 + size + (size & 1)
        }
      }
      walk(12, bytes.length, inMovi = false, 0)
      if (frameNo == 0) None else Some(frames.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** Image-header decoders: REAL dimension parsing for the formats whose
  * headers are plain byte layouts (PNG IHDR, JPEG SOF, GIF logical screen
  * descriptor) — no media library needed, pure JVM byte reads. Payloads
  * in any other format fall back to the deterministic stub so the
  * pipeline shape stays exercised end-to-end on synthetic corpora.
  */
object ImageHeaders {

  private val PngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  /** PNG: 8-byte signature, then the IHDR chunk (len + "IHDR") with
    * width/height as big-endian u32 at offsets 16 and 20.
    */
  def png(b: Array[Byte]): Option[(Int, Int, String)] =
    if (b.length >= 24 && b.startsWith(PngMagic) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some((be32(b, 16), be32(b, 20), "png"))
    else None

  /** JPEG: SOI (FFD8), then marker segments; the first SOFn frame header
    * (C0–CF except C4/C8/CC) carries height/width as big-endian u16 at
    * segment offsets +5/+7.
    */
  def jpeg(b: Array[Byte]): Option[(Int, Int, String)] = {
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xFF) != 0xFF) return None // desynced: not a marker
      var j = i
      while (j < b.length && (b(j) & 0xFF) == 0xFF) j += 1 // skip fill bytes
      if (j >= b.length) return None
      val marker = b(j) & 0xFF
      if (marker >= 0xC0 && marker <= 0xCF && marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
        if (j + 7 >= b.length) return None
        // SOFn layout after the marker byte: len(2) precision(1) height(2) width(2)
        return Some((be16(b, j + 6), be16(b, j + 4), "jpeg"))
      }
      if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) i = j + 1
      else {
        if (j + 2 >= b.length) return None
        i = j + 1 + be16(b, j + 1) // 2-byte length includes itself
      }
    }
    None
  }

  /** GIF87a/89a: width/height as little-endian u16 at offsets 6/8. */
  def gif(b: Array[Byte]): Option[(Int, Int, String)] =
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some((le16(b, 6), le16(b, 8), "gif"))
    else None

  def decode(b: Array[Byte]): Option[(Int, Int, String)] =
    png(b).orElse(jpeg(b)).orElse(gif(b))
}

/** Audio-header decoder: REAL metadata parsing for WAV — a RIFF/WAVE
  * container is a plain chunk list, no codec needed. `fmt ` carries
  * sample rate / channels / bits; `data`'s size over the byte rate gives
  * the duration.
  */
object AudioHeaders {

  /** (sampleRate, channels, bitsPerSample, durationMs). Walks the chunk
    * list rather than assuming the canonical 44-byte layout — real WAV
    * files may carry LIST/fact chunks before data.
    */
  def wav(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b.length < 12 ||
        !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') ||
        !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var i = 12
    var rate = 0; var channels = 0; var bits = 0; var byteRate = 0L
    var dataLen = -1L
    var corrupt = false
    while (!corrupt && i + 8 <= b.length) {
      val id = new String(b.slice(i, i + 4), "US-ASCII")
      val size = le32u(b, i + 4) // unsigned u32 ∈ [0, 0xFFFFFFFF]
      // A chunk size that overflows Int or runs past the payload means the
      // header is corrupt; bail rather than looping on a non-advancing index.
      if (size > Int.MaxValue - 9 || i + 8 + size > b.length.toLong) {
        // a truncated trailing data chunk (streamed writes; 0xFFFFFFFF
        // "unknown length" sentinel) is tolerable — but only the bytes
        // actually present count toward the duration, never the declared
        // size (a 0xFFFFFFFF claim would otherwise read as ~37 hours)
        corrupt = id != "data"
        if (id == "data") dataLen = math.max(b.length - i - 8, 0).toLong
        i = b.length // stop walking either way
      } else {
        if (id == "fmt " && i + 24 <= b.length) {
          channels = le16(b, i + 10)
          rate = le32u(b, i + 12).toInt
          byteRate = le32u(b, i + 16)
          bits = le16(b, i + 22)
        } else if (id == "data") {
          dataLen = size
        }
        // chunks are word-aligned: odd sizes carry a pad byte
        i += 8 + size.toInt + (size.toInt & 1)
      }
    }
    if (corrupt) return None
    if (rate <= 0 || channels <= 0) None
    else {
      val dur =
        if (byteRate > 0 && dataLen >= 0) dataLen * 1000L / byteRate else 0L
      Some((rate, channels, bits, dur))
    }
  }

  /** REAL sample decode for the uncompressed WAV family: format tag 1
    * (integer PCM) at 8-bit unsigned / 16-bit / 24-bit LE signed, and
    * format tag 3 (IEEE float32). Returns (rate, channels, bits,
    * nSamples, sumSamples, sumSquares) with exact Long accumulators.
    * Samples wider than 16 bits are DECODED at full width, then the
    * stats are taken on the 16-bit-quantized value (24-bit: top 16 bits;
    * float: floor(f·32768) clamped) so the accumulator bound stays
    * sum |s| ≤ 32768·n, sumSq ≤ 2^30·n — exact in Long for any realistic
    * payload, deterministic, SQL-replayable. G.711 A-law (tag 6) and
    * μ-law (tag 7) expand through the exact ITU integer formulas (already
    * 16-bit range, no quantization step). None for other compressed WAV
    * (falls back like unsupported images).
    */
  def pcm(b: Array[Byte]): Option[(Int, Int, Int, Long, Long, Long)] = {
    var sum = 0L; var sumSq = 0L
    foreachSample(b) { v => sum += v; sumSq += v.toLong * v }
      .map { case (rate, channels, bits, n) => (rate, channels, bits, n, sum, sumSq) }
  }

  /** Streams every decoded 16-bit-equivalent sample (channel-interleaved,
    * file order) to `f`, returning (rate, channels, bits, count) for a
    * decodable WAV — the shared engine of [[pcm]] (exact stats contract)
    * and [[AudioFp]] (band-energy fingerprints), so the two can never
    * disagree on a payload's decode.
    */
  private[ext] def foreachSample(b: Array[Byte])(f: Int => Unit): Option[(Int, Int, Int, Long)] = {
    if (b.length < 12 ||
        !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') ||
        !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var i = 12
    var fmtTag = 0; var rate = 0; var channels = 0; var bits = 0
    var blockAlign = 0
    var dataOff = -1; var dataLen = 0
    while (i + 8 <= b.length) {
      val id = new String(b.slice(i, i + 4), "US-ASCII")
      val size = le32u(b, i + 4)
      if (size > Int.MaxValue - 9 || i + 8 + size > b.length.toLong) return None
      if (id == "fmt " && i + 24 <= b.length) {
        fmtTag = le16(b, i + 8)
        channels = le16(b, i + 10)
        rate = le32u(b, i + 12).toInt
        blockAlign = le16(b, i + 20)
        bits = le16(b, i + 22)
      } else if (id == "data") {
        dataOff = i + 8; dataLen = size.toInt
      }
      i += 8 + size.toInt + (size.toInt & 1)
    }
    if (rate <= 0 || channels <= 0 || dataOff < 0) return None
    if (fmtTag == 0x11) // IMA ADPCM: block-structured, separate routine
      return imaAdpcm(b, rate, channels, bits, blockAlign, dataOff, dataLen)(f)
    val ok = (fmtTag == 1 && (bits == 8 || bits == 16 || bits == 24)) ||
      (fmtTag == 3 && bits == 32) ||
      ((fmtTag == 6 || fmtTag == 7) && bits == 8) // G.711 A-law / μ-law
    if (!ok) return None
    val bytesPerSample = bits / 8
    val n = dataLen / bytesPerSample
    var s = 0
    while (s < n) {
      val v: Int =
        if (fmtTag == 6) {
          // ITU-T G.711 A-law expansion (exact integer LUT-free form):
          // toggle the even bits, then rebuild the 13-bit segment/quantum
          val a = (b(dataOff + s) & 0xFF) ^ 0x55
          var t = (a & 0x0F) << 4
          val seg = (a & 0x70) >> 4
          if (seg == 0) t += 8
          else { t = (t + 0x108) << (seg - 1) }
          if ((a & 0x80) != 0) t else -t
        } else if (fmtTag == 7) {
          // ITU-T G.711 μ-law expansion: complement, then bias-shift the
          // 14-bit magnitude back out of the segment encoding
          val u = ~(b(dataOff + s)) & 0xFF
          val t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
          if ((u & 0x80) != 0) 0x84 - t else t - 0x84
        } else if (fmtTag == 3) {
          // IEEE float32 LE in [-1, 1] → floor(f·32768), clamped
          val f = java.lang.Float.intBitsToFloat(
            le32u(b, dataOff + s * 4).toInt)
          if (f.isNaN) 0
          else math.max(-32768, math.min(32767,
            math.floor(f * 32768.0).toInt))
        } else if (bits == 8) (b(dataOff + s) & 0xFF) - 128
        else if (bits == 16) {
          val raw = le16(b, dataOff + s * 2)
          if (raw >= 0x8000) raw - 0x10000 else raw // sign-extend
        } else {
          // 24-bit LE signed, stats on the top 16 bits (floor division
          // toward -inf = arithmetic shift, so quantization is monotone)
          val raw = le24(b, dataOff + s * 3)
          val signed = if (raw >= 0x800000) raw - 0x1000000 else raw
          signed >> 8
        }
      f(v)
      s += 1
    }
    Some((rate, channels, bits, n.toLong))
  }

  // IMA/DVI ADPCM step-size table (89 entries) and index adjustments —
  // public tables from the IMA ADPCM reference algorithm
  private val AdpcmStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val AdpcmIndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** IMA ADPCM (WAV format tag 0x11) mono decode: block-structured — each
    * `blockAlign`-byte block opens with a 4-byte header (predictor int16
    * LE = the block's first output sample, step index, reserved) followed
    * by 4-bit nibbles, LOW nibble first. Exact integer state machine from
    * the public IMA reference: diff = Σ selected step shifts, predictor
    * clamped to int16, index clamped to [0, 88]. Stats contract matches
    * [[pcm]] (sum/sumSq of the decoded 16-bit samples, exact in Long).
    */
  private def imaAdpcm(b: Array[Byte], rate: Int, channels: Int, bits: Int,
      blockAlign: Int, dataOff: Int, dataLen: Int)(f: Int => Unit):
      Option[(Int, Int, Int, Long)] = {
    if (channels != 1 || bits != 4 || blockAlign < 8) return None
    if (dataOff + dataLen > b.length) return None
    var n = 0L
    var blk = dataOff
    val end = dataOff + dataLen
    while (blk + blockAlign <= end) {
      var pred = {
        val raw = le16(b, blk)
        if (raw >= 0x8000) raw - 0x10000 else raw
      }
      var index = b(blk + 2) & 0xFF
      if (index > 88) return None
      // the header predictor is the block's first output sample
      f(pred); n += 1
      var p = blk + 4
      while (p < blk + blockAlign) {
        val byte = b(p) & 0xFF
        var half = 0
        while (half < 2) {
          val nib = if (half == 0) byte & 0xF else byte >> 4 // low first
          val step = AdpcmStep(index)
          var diff = step >> 3
          if ((nib & 1) != 0) diff += step >> 2
          if ((nib & 2) != 0) diff += step >> 1
          if ((nib & 4) != 0) diff += step
          pred = if ((nib & 8) != 0) pred - diff else pred + diff
          if (pred > 32767) pred = 32767
          if (pred < -32768) pred = -32768
          index += AdpcmIndexAdj(nib & 7)
          if (index < 0) index = 0
          if (index > 88) index = 88
          f(pred); n += 1
          half += 1
        }
        p += 1
      }
      blk += blockAlign
    }
    if (n == 0) return None
    Some((rate, channels, bits, n))
  }
}

/** Codec entry point: real header parsing where the format allows it,
  * deterministic stand-ins otherwise (no media libs in-container for full
  * pixel decode — the metadata path above is real).
  */
object StubDecoders {

  /** Parse real PNG/JPEG/GIF headers; other payloads get deterministic
    * pseudo-metadata from a byte hash so tests are stable and the
    * pipeline shape is exercised end-to-end. The checksum is the byte
    * hash in both paths (a content fingerprint, not a codec output).
    */
  def decodeImageMeta(payload: Array[Byte]): (Int, Int, String, Long) = {
    var h = 1125899906842597L // FNV-ish fold; any stable mix works
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    ImageHeaders.decode(payload) match {
      case Some((w, ht, fmt)) => (w, ht, fmt, h)
      case None =>
        val width = 64 + math.floorMod(h, 1024).toInt
        val height = 64 + math.floorMod(h >> 10, 1024).toInt
        val format = if (math.floorMod(h, 2) == 0L) "png" else "jpeg"
        (width, height, format, h)
    }
  }

  /** Real WAV header parsing; deterministic pseudo-metadata otherwise
    * (same contract as [[decodeImageMeta]]). Returns (sampleRate,
    * channels, bits, durationMs, format, checksum).
    */
  def decodeAudioMeta(payload: Array[Byte]): (Int, Int, Int, Long, String, Long) = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    AudioHeaders.wav(payload) match {
      case Some((rate, ch, bits, dur)) => (rate, ch, bits, dur, "wav", h)
      case None =>
        val rate = Seq(16000, 22050, 44100, 48000)(math.floorMod(h, 4).toInt)
        val channels = 1 + math.floorMod(h >> 2, 2).toInt
        val dur = 100 + math.floorMod(h >> 3, 60000)
        (rate, channels, 16, dur, "pcm_stub", h)
    }
  }

  private def contentHash(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    h
  }

  /** STUB pixel resize (no image libs in-container): a deterministic,
    * content-seeded payload of exactly w×h bytes — size-faithful to a
    * real 8-bit grayscale thumbnail, so downstream storage accounting
    * and batch shaping behave as with a real resizer. Swap seam: replace
    * this one function with a codec call.
    */
  def resizePayload(payload: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val h = contentHash(payload)
    val out = new Array[Byte]((width * height).min(1 << 22)) // 4 MB cap
    var i = 0
    var s = h
    while (i < out.length) {
      s = s * 6364136223846793005L + 1442695040888963407L // splitmix-ish
      out(i) = (s >>> 56).toByte
      i += 1
    }
    out
  }

  /** Perceptual average-hash (aHash) over the payload byte stream: the
    * payload is cut into 64 equal slices, and bit b is set when slice b's
    * mean byte value exceeds the whole payload's mean — a 64-bit
    * fingerprint where small in-place edits flip few bits (few slice
    * means move) while different content diverges broadly. With a real
    * codec this function computes the identical hash from the 8×8
    * downscaled grayscale PIXELS instead of raw bytes (the classic
    * aHash/dHash); the byte-stream form keeps the distance semantics —
    * Hamming ∝ fraction of regions changed — exercised end-to-end
    * without pixel decode. Swap seam: one function, like
    * [[resizePayload]].
    */
  def perceptualHash(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val slice = ((i.toLong << 6) / n).toInt // i * 64 / n, overflow-safe
      val v = payload(i) & 0xFF
      sums(slice) += v
      counts(slice) += 1
      total += v
      i += 1
    }
    val globalMean = total.toDouble / n
    var h = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0 && sums(b).toDouble / counts(b) > globalMean)
        h |= (1L << b)
      b += 1
    }
    h
  }

  /** STUB media embedding: content-hash-seeded unit-norm float vector —
    * deterministic per payload, so near-dup payloads do NOT embed close
    * (a real encoder's output would; the stub only guarantees shape and
    * normalization). Swap seam: replace with a real vision encoder.
    */
  def embedPayload(payload: Array[Byte], dim: Int): Array[Float] = {
    val h = contentHash(payload)
    val v = new Array[Float](dim)
    var i = 0
    var s = h
    var norm = 0.0
    while (i < dim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      v(i) = ((s >>> 40).toInt / 8388608.0f) - 1.0f // in [-1, 1)
      norm += v(i).toDouble * v(i)
      i += 1
    }
    val inv = if (norm == 0) 0.0f else (1.0 / math.sqrt(norm)).toFloat
    i = 0
    while (i < dim) { v(i) *= inv; i += 1 }
    v
  }
}
