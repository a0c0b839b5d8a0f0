package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: media (image/audio/video) travels through the
 * engine as an opaque `binary` payload plus a typed metadata struct. The
 * expensive per-record work (codec decode, feature extraction) runs in
 * `mapPartitions` so each task amortizes codec/model setup across its batch
 * — the Scala analog of `mapInPandas` batching.
 *
 * The actual codec is STUBBED (no image/audio libraries in this container):
 * [[MediaCodecStub.decode]] produces a deterministic fake feature vector
 * from the payload bytes. The Spark-side plumbing — schema, encoders,
 * partitioning, batch shape — is real and tested; swapping in a real codec
 * changes only the body of `decode`.
 */
object Multimodal {

  /** One media record: payload + typed metadata. */
  final case class MediaRecord(
      doc_id: Long,
      payload: Array[Byte],
      mime: String,
      width: Long,
      height: Long,
      n_frames: Long)

  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,
      checksum: Long,
      feature: Array[Double])

  /**
   * ===== STUB =====
   * Stand-in for a real image/audio decoder. Deterministic: derives a
   * fixed-length "feature vector" from payload bytes. A real implementation
   * would decode pixels/samples here; everything around it stays unchanged.
   */
  object MediaCodecStub {
    val FeatureDim = 8

    def decode(payload: Array[Byte]): (Long, Array[Double]) = {
      var checksum = 0L
      val feat = new Array[Double](FeatureDim)
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xff
        checksum += b
        feat(i % FeatureDim) += b / 255.0
        i += 1
      }
      (checksum, feat)
    }
  }

  /**
   * Wrap the documents table as a multimodal table: text bytes become the
   * opaque payload; metadata is derived deterministically (a real pipeline
   * would read it from the container format).
   */
  def fromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // null text -> empty payload: MediaRecord's primitive metadata fields
    // are non-nullable, so a single null-text row would otherwise kill the
    // whole job at encoder time (AssertNotNull)
    val text = coalesce(col("text"), lit(""))
    docs.select(
      col("doc_id"),
      text.cast("binary").as("payload"),
      lit("text/plain").as("mime"),
      (lit(16) + octet_length(text) % 48).cast("long").as("width"),
      (lit(16) + (octet_length(text) * 7) % 48).cast("long").as("height"),
      (lit(1) + octet_length(text) % 8).cast("long").as("n_frames")
    ).as[MediaRecord]
  }

  /**
   * ViT-style PATCH-GRID extraction — the patchify step between raw
   * images and a vision tower: tile each (width x height) media row into
   * p x p patches in row-major order, edge patches CLIPPED to the image
   * bounds (the resize-free convention; a pad-to-multiple variant is one
   * `when` away). Pure integer metadata math off the stored dimensions —
   * the pixel decode stays behind the documented codec boundary — as one
   * in-row `transform` + `posexplode`: map-only, zero shuffle, the t26
   * chunker's discipline applied to the spatial axes. Output one row per
   * patch: (doc_id, patch_idx, px, py, pw, ph).
   */
  def patchGrid(media: Dataset[MediaRecord], p: Int): DataFrame = {
    require(p >= 1, "patch size must be >= 1")
    val nx = floor((col("width") + (p - 1)) / lit(p)).cast("int")
    val ny = floor((col("height") + (p - 1)) / lit(p)).cast("int")
    media.toDF()
      .select(col("doc_id"), col("width"), col("height"),
        posexplode(transform(sequence(lit(0), nx * ny - 1), i => struct(
          ((i % nx) * p).cast("long").as("px"),
          (floor(i / nx).cast("int") * p).cast("long").as("py"))))
          .as(Seq("patch_idx", "pt")))
      .select(col("doc_id"), col("patch_idx").cast("long").as("patch_idx"),
        col("pt.px").as("px"), col("pt.py").as("py"),
        least(lit(p.toLong), col("width") - col("pt.px")).as("pw"),
        least(lit(p.toLong), col("height") - col("pt.py")).as("ph"))
  }

  /**
   * Temporal frame-COHERENCE census — the static-scene/slideshow
   * detector of video curation (m05 finds videos SHARING frames; this
   * profiles motion WITHIN one video): per video the perceptual-hash
   * Hamming distance between consecutive sampled frames, reduced to
   * (min, max, sum). min-ham ~ 0 flags a static camera or a looped
   * slideshow (near-free training tokens to down-weight), max-ham
   * locates hard cuts (shot boundaries at threshold = the caller's
   * policy). Frames hash in the native codegen kernel straight off the
   * scan; the only non-map step is one lag window whose partitions are
   * <= n frames by construction — bounded however large the corpus.
   * Only videos with >= 2 non-empty frames appear (one frame has no
   * transition to score).
   */
  def frameCoherence(media: Dataset[MediaRecord], n: Int = 8,
                     frameBytes: Int = 64): DataFrame = {
    val frames = sampleFrames(media, n, frameBytes)
      .select(col("doc_id"), posexplode(col("frames")).as(Seq("fi", "frame")))
      .filter(octet_length(col("frame")) > 0)
    val ph = frames.select(col("doc_id"), col("fi").cast("long").as("fi"),
      graft.functions.MediaExpressions.perceptualHash(col("frame")).as("ph"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("fi")
    ph.withColumn("prev", lag(col("ph"), 1).over(byDoc))
      .filter(col("prev").isNotNull)
      .withColumn("ham", expr(
        "aggregate(zip_with(ph, prev, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), 0L, (a, v) -> a + v)"))
      .groupBy("doc_id")
      .agg((count(lit(1)) + 1).cast("long").as("n_frames"),
        min("ham").as("min_ham"), max("ham").as("max_ham"),
        sum("ham").as("sum_ham"))
      .orderBy("doc_id")
  }

  /**
   * Shot-boundary segmentation — the cut detector downstream of
   * [[frameCoherence]]'s statistics: a hard cut is a consecutive-frame
   * perceptual-hash Hamming jump above `cutHam`, a shot is the run
   * between cuts. The census per video (shot count, longest shot,
   * first cut position) is what a video-curation pipeline keys on:
   * single-shot clips batch differently from montages, and the first
   * cut is the natural thumbnail boundary. Same frame/hash derivation
   * as m08 (codegen perceptual_hash, codec behind the documented
   * boundary); ONE window sort per video serves both the lag pair and
   * the running shot counter; single-frame videos are one shot (no
   * pair rows needed — the census runs on frames, not pairs).
   */
  /** (doc_id, fi, cut, shot) — every sampled frame with its hash-jump
    * cut flag and running shot id; the shared substrate of the shot
    * census (m10) and the audio-to-shot alignment (m12). */
  def cutFrames(media: Dataset[MediaRecord], n: Int = 8,
                frameBytes: Int = 64, cutHam: Long = 21L): DataFrame = {
    val frames = sampleFrames(media, n, frameBytes)
      .select(col("doc_id"), posexplode(col("frames")).as(Seq("fi", "frame")))
      .filter(octet_length(col("frame")) > 0)
    val ph = frames.select(col("doc_id"), col("fi").cast("long").as("fi"),
      graft.functions.MediaExpressions.perceptualHash(col("frame")).as("ph"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("fi")
    ph.withColumn("prev", lag(col("ph"), 1).over(byDoc))
      .withColumn("cut", when(col("prev").isNotNull && expr(
        "aggregate(zip_with(ph, prev, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), 0L, (a, v) -> a + v)")
        > cutHam, 1L).otherwise(0L))
      .withColumn("shot", sum("cut").over(byDoc
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
  }

  def shotSegments(media: Dataset[MediaRecord], n: Int = 8,
                   frameBytes: Int = 64, cutHam: Long = 21L): DataFrame = {
    val withCut = cutFrames(media, n, frameBytes, cutHam)
    val per = withCut.groupBy("doc_id", "shot").agg(count(lit(1)).as("len"))
    val agg = per.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shots"), max("len").as("longest_shot"),
        sum("len").as("n_frames"))
    val fc = withCut.filter(col("cut") === 1)
      .groupBy("doc_id").agg(min("fi").as("first_cut"))
    agg.join(fc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_frames"), col("n_shots"),
        col("longest_shot"), coalesce(col("first_cut"), lit(-1L)).as("first_cut_fi"))
  }

  /** The fixed aspect-ratio bucket list of [[aspectBucket]] (the
    * SDXL-style bucketed-batching convention): portrait/landscape pairs
    * around square. `bh` values {1,3,4,9,16} — lcm 144 is the common
    * scale that keeps the nearest-bucket comparison integer-exact. */
  final val AspectBuckets: Seq[(Int, Int)] =
    Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16), (2, 1), (1, 2))

  /**
   * Aspect-ratio BUCKETING — how vision-training pipelines batch
   * variable-shape images (SDXL / NovelAI bucketed batching): each image
   * is assigned the nearest of a fixed aspect-ratio bucket list, and a
   * batch is drawn from ONE bucket so every member resizes to the same
   * target without destructive cropping. Nearest is by ratio distance
   * |w/h - bw/bh|, evaluated WITHOUT floating point: for buckets i, j
   * the comparison |w*bh_i - h*bw_i|/bh_i < |w*bh_j - h*bw_j|/bh_j
   * cross-multiplies to integers via the common scale lcm(bh)=144 —
   * assignment is integer-exact and cross-engine reproducible, ties to
   * the lower bucket index. In-row `array_sort` over the 7-entry literal
   * list picks the argmin: MAP-ONLY, zero shuffle — the bucketer runs at
   * scan speed and only the (bucket -> count) histogram downstream ever
   * aggregates.
   */
  def aspectBucket(media: Dataset[MediaRecord]): DataFrame = {
    val scored = array(AspectBuckets.zipWithIndex.map { case ((bw, bh), i) =>
      struct(
        (abs(col("width") * bh - col("height") * bw) * lit(144 / bh)).as("score"),
        lit(i.toLong).as("idx"),
        lit(s"$bw:$bh").as("bucket"))
    }: _*)
    media.toDF()
      .withColumn("__best", element_at(array_sort(scored), 1))
      .select(col("doc_id"), col("width"), col("height"),
        col("__best.bucket").as("ar_bucket"),
        col("__best.idx").as("bucket_idx"),
        (col("width") * col("height")).as("n_pixels"))
  }

  /**
   * Batch "decode" + feature extraction. mapPartitions (not map/UDF) so a
   * real codec initializes once per task, not once per record — the shape
   * that matters when each partition holds thousands of blobs.
   */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      // real pipeline: val codec = HeavyCodec.open() — once per partition
      it.map { r =>
        val (checksum, feat) = MediaCodecStub.decode(r.payload)
        MediaFeatures(r.doc_id, r.payload.length.toLong, checksum, feat)
      }
    }
  }

  /**
   * Frame sampling: slice `n` evenly spaced fixed-size windows out of the
   * payload (the video-frame-sampling access pattern over an opaque blob).
   */
  def sampleFrames(media: Dataset[MediaRecord], n: Int, frameBytes: Int): DataFrame = {
    val sampled = udf { (payload: Array[Byte]) =>
      if (payload == null || payload.isEmpty) Array.empty[Array[Byte]]
      else {
        val step = math.max(1, payload.length / n)
        (0 until n).iterator
          .map(i => i * step)
          .takeWhile(_ < payload.length)
          .map(off => payload.slice(off, math.min(off + frameBytes, payload.length)))
          .toArray
      }
    }
    media.toDF().withColumn("frames", sampled(col("payload")))
      .select(col("doc_id"), col("mime"), col("frames"),
        size(col("frames")).cast("long").as("n_sampled"))
  }

  /** Metadata projection — the oracle-checkable face of the multimodal
    * table (pure arithmetic, no codec). */
  def metaTable(docs: DataFrame): DataFrame =
    fromDocuments(docs).toDF()
      .select(col("doc_id"), col("mime"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        col("width"), col("height"), col("n_frames"))

  /** 64-bit perceptual hash as 4 x 16-bit bands (band b = bits
    * [16b, 16b+16), bit j at position j - 16b). */
  final case class MediaPHash(doc_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

  /**
   * Average-hash ("aHash") over the opaque payload — the image/video
   * equivalent of SimHash: a real pipeline computes it over downsampled
   * pixel luminance; the stub computes the IDENTICAL shape over payload
   * bytes (deterministic byte arithmetic, so the oracle can recompute it
   * from the text bytes). Block j = byte positions congruent to j mod 64;
   * bit j = 1 iff the block's byte sum exceeds the payload mean over the
   * block, compared multiplication-only (s_j * n > total * c_j) so no
   * division ever rounds — the hash is integer-exact and cross-engine
   * hash-stable.
   *
   * Runs as the native [[graft.functions.PerceptualHash]] codegen kernel
   * (one generated byte loop in WholeStageCodegen, payload read straight
   * off the scan) — the r5 `mapPartitions` form forced a
   * DeserializeToObject/SerializeFromObject pair around the hot loop.
   * LlmOpsSpec property-tests the kernel byte-for-byte against a
   * scala-side executable spec of its bit rule.
   */
  def perceptualHash(media: Dataset[MediaRecord]): Dataset[MediaPHash] = {
    implicit val enc = Encoders.product[MediaPHash]
    media.toDF()
      .select(col("doc_id"),
        graft.functions.MediaExpressions.perceptualHash(col("payload")).as("__ph"))
      .select(col("doc_id"),
        element_at(col("__ph"), 1).as("b0"), element_at(col("__ph"), 2).as("b1"),
        element_at(col("__ph"), 3).as("b2"), element_at(col("__ph"), 4).as("b3"))
      .as[MediaPHash]
  }

  /**
   * Perceptual near-duplicate pairs — the multimodal pipeline's d04:
   * all payload pairs whose 64-bit perceptual hashes differ in at most
   * `maxHam` bits, with the EXACT guarantee of the banded pigeonhole:
   * a pair within maxHam <= 3 differs in at most 3 of the 4 bands, so it
   * collides on at least one — candidates come from an equi-join on
   * (band_idx, band_val), never a cross product, and the exact popcount
   * verify discards band-collision false positives. Candidate rows carry
   * IDS ONLY (the annLsh discipline); the 4 bands are re-attached to the
   * deduped pair set by equi-join. At 100 TB this is the plan that holds:
   * shuffle volume = band postings + surviving candidates, and the
   * 16-bit bands keep buckets selective (uniform-random collision odds
   * 4/65536 per pair).
   */
  /**
   * M05: cross-video shared-FRAME near-dup — the composition the m-family
   * builds toward (m03's frame sampling x m04's perceptual hashing x the
   * banded pairing): two payloads are near-duplicates when at least
   * `minShared` of the left side's sampled frames each match SOME frame
   * of the right side within `maxHam` bits. Whole-payload hashing (m04)
   * misses re-encoded/trimmed copies whose bytes shift globally; shared
   * frames survive because sampling is position-proportional and the
   * hash is per-frame.
   *
   * Scale shape: frames explode map-side (n per payload), each frame
   * hashes in the native codegen kernel off the scan, candidates come
   * from the (band_idx, band_val) equi-join — never a cross product —
   * and the popcount verify touches candidates only. Band-collision
   * duplicate candidates are NOT pre-deduped: the terminal
   * `count(DISTINCT frame)` aggregate absorbs them, so the pair set
   * shuffles once, not twice.
   *
   * Skew guard ([[MediaNearDup.maxBandPostings]], the d03 postings-cap
   * discipline): band values carried by more than the cap are
   * BOILERPLATE — short tail frames and uniform content collapse whole
   * bands to zero, and one such value held 6k of 160k postings at
   * sf0.1, contributing 18M of 45M candidate pairs. Capped bands drop
   * from candidate generation; a frame pair whose matching bands are
   * ALL boilerplate loses its candidate (measured: every planted
   * exact-copy pair keeps >= 4 of its 8 frame matches through rare
   * bands — boilerplate-only matches are precision noise, not copies).
   * Within surviving candidates the pigeonhole remains exact for
   * maxHam <= 3.
   */
  def videoNearDup(media: Dataset[MediaRecord], n: Int = 8, frameBytes: Int = 64,
                   maxHam: Int = 3, minShared: Int = 2): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"the 4-band pigeonhole is exact only for maxHam <= 3, got $maxHam")
    val frames = sampleFrames(media, n, frameBytes)
      .select(col("doc_id"), posexplode(col("frames")).as(Seq("fi", "frame")))
      .filter(octet_length(col("frame")) > 0)
    val ph = graft.SessionResources.trackPersisted {
      val p = frames.select(col("doc_id"), col("fi").cast("long").as("fi"),
          graft.functions.MediaExpressions.perceptualHash(col("frame")).as("__ph"))
        .select(col("doc_id"), col("fi"),
          element_at(col("__ph"), 1).as("b0"), element_at(col("__ph"), 2).as("b1"),
          element_at(col("__ph"), 3).as("b2"), element_at(col("__ph"), 4).as("b3"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val bands0 = ph.select(col("doc_id"), col("fi"), posexplode(
      array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("bi", "bv")))
    // groupBy + join back, not a window count: the hot band this guard
    // drops must never materialize inside one task (the d03 rationale)
    val rareBands = bands0.groupBy("bi", "bv")
      .agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") <= MediaNearDup.maxBandPostings)
      .select("bi", "bv")
    val bands = bands0.join(rareBands, Seq("bi", "bv"))
    val cand = bands.select(col("bi"), col("bv"), col("doc_id").as("id_a"), col("fi").as("fa"))
      .join(bands.select(col("bi"), col("bv"), col("doc_id").as("id_b"), col("fi").as("fb")),
        Seq("bi", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "fa", "id_b", "fb")
    val pa = ph.select(col("doc_id").as("id_a"), col("fi").as("fa"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val pb = ph.select(col("doc_id").as("id_b"), col("fi").as("fb"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(pa, Seq("id_a", "fa")).join(pb, Seq("id_b", "fb"))
      .withColumn("ham", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .filter(col("ham") <= maxHam)
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("fa")).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
  }

  object MediaNearDup {
    /** Frame-band skew guard for [[videoNearDup]]: a band value carried
      * by more postings than this is boilerplate (zero-bands of short /
      * uniform frames) and is dropped from candidate generation. */
    val maxBandPostings = 200
  }

  def phashNearDup(media: Dataset[MediaRecord], maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"the 4-band pigeonhole is exact only for maxHam <= 3, got $maxHam")
    val ph = graft.SessionResources.trackPersisted {
      val p = perceptualHash(media).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val bands = ph.select(col("doc_id"), posexplode(
      array(col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("band_idx", "band_val")))
    val cand = bands.select(col("band_idx"), col("band_val"), col("doc_id").as("id_a"))
      .join(bands.select(col("band_idx"), col("band_val"), col("doc_id").as("id_b")),
        Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val pa = ph.select(col("doc_id").as("id_a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val pb = ph.select(col("doc_id").as("id_b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(pa, "id_a").join(pb, "id_b")
      .withColumn("ham", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast("long"))
      .filter(col("ham") <= maxHam)
      .select("id_a", "id_b", "ham")
  }

  /**
   * VAD-style energy segmentation census — the silence-trim /
   * speech-detection pass an audio-ingest pipeline runs before ASR or
   * audio-token packing (how much of each clip is signal, how
   * fragmented is it, how much leading/trailing silence can be
   * trimmed). Real PCM decode stays behind the documented codec
   * boundary; HERE energy is defined on the stored payload's
   * codepoints (e(c) = max(codepoint - 32, 0): spaces/controls = 0 —
   * the deterministic stand-in the m-family uses throughout), windowed
   * at `window` chars (tail remainder dropped — full windows only),
   * speech = window energy >= threshold. Whole operator is IN-ROW
   * (one transform over window indices + array folds): map-only, zero
   * shuffle, scan-bound.
   *
   * Output per row: n_windows, n_speech, n_segments (speech runs),
   * lead_trim / tail_trim (silence windows before first / after last
   * speech; = n_windows when the clip has no speech at all).
   */
  /** Shazam-style constellation fingerprint matching — the audio
    * IDENTIFICATION operator (m04/m05 ask "are these two media files
    * near-identical", THIS asks "does track B contain a clip of track
    * A, and at what time offset": the catalog-match / royalty-audit /
    * re-upload-detection primitive). The classic shape, over the
    * stubbed codec's deterministic frames:
    *
    *   1. frame hashes (one in-row chunking per track),
    *   2. PEAKS — frames that locally dominate (strict vs left, >= vs
    *      right so plateaus keep their first frame; missing neighbors
    *      are -1 so edge frames can peak) — the sparsification that
    *      makes fingerprints robust and postings small,
    *   3. constellation keys — each anchor peak paired with its next
    *      `fanout` peaks, key = md5(h_anchor : h_target : dt) so a
    *      match requires two peaks AND their spacing to agree,
    *   4. candidate pairs by EQUI-JOIN on the key (df-capped postings,
    *      the d03 hub guard — cost follows postings, never pairs),
    *   5. per-pair offset VOTE: a true containment puts all its
    *      matches at ONE offset (t_a - t_b); scattered offsets are
    *      noise. arg_max by (votes, then smallest offset) via a
    *      struct max — never a window sort over the pair space.
    *
    * Per track: one window sort (serves the lag/lead peak test AND the
    * constellation leads). Cross-track cost rides the capped postings
    * equi-join. minMatches suppresses coincidental key collisions. */
  def constellationMatches(tracks: DataFrame, idCol: String, waveCol: String,
                           frameChars: Int = 16, fanout: Int = 3,
                           postingsCap: Int = 32, minMatches: Long = 4L): DataFrame = {
    val fc = frameChars
    val wt = Window.partitionBy("tid").orderBy("t")
    val frames = tracks
      .withColumn("__nw", expr(s"length($waveCol) div $fc"))
      .filter(col("__nw") >= 3)
      // one O(len) char split per row (the vadCensus discipline), then
      // O(fc) slices per frame — never a per-frame rescan of the string
      .withColumn("__chars", expr(s"split($waveCol, '')"))
      .select(col(idCol).as("tid"),
        posexplode(expr(
          s"""transform(sequence(0, cast(__nw - 1 as int)),
             |  i -> cast(conv(substring(md5(array_join(
             |         slice(__chars, i * $fc + 1, $fc), '')), 1, 12),
             |       16, 10) as bigint))""".stripMargin))
          .as(Seq("t", "fh")))
      // posexplode positions are INT; everything downstream (offsets,
      // votes) is BIGINT
      .select(col("tid"), col("t").cast("long").as("t"), col("fh"))
    val peaks = frames
      .withColumn("__l", lag("fh", 1, -1L).over(wt))
      .withColumn("__r", lead("fh", 1, -1L).over(wt))
      .filter(col("fh") > col("__l") && col("fh") >= col("__r"))
      .select("tid", "t", "fh")
    val withLeads = (1 to fanout).foldLeft(peaks) { (df, k) =>
      df.withColumn(s"__t$k", lead("t", k).over(wt))
        .withColumn(s"__h$k", lead("fh", k).over(wt))
    }
    val post0 = withLeads
      .withColumn("__tg", explode(array((1 to fanout).map(k =>
        struct(col(s"__t$k").as("t2"), col(s"__h$k").as("h2"))): _*)))
      .filter(col("__tg.t2").isNotNull)
      .select(col("tid"), col("t"),
        md5(concat_ws(":", col("fh"), col("__tg.h2"),
          col("__tg.t2") - col("t"))).as("key"))
    val posts = post0
      .withColumn("__rn", row_number().over(
        Window.partitionBy("key").orderBy("tid", "t")))
      .filter(col("__rn") <= postingsCap)
      .drop("__rn")
    val cand = posts.as("a").join(posts.as("b"),
        col("a.key") === col("b.key") && col("a.tid") < col("b.tid"))
      .select(col("a.tid").as("track_a"), col("b.tid").as("track_b"),
        (col("a.t") - col("b.t")).as("offset"))
    val votes = cand.groupBy("track_a", "track_b", "offset")
      .agg(count(lit(1)).as("v"))
    votes.groupBy("track_a", "track_b")
      .agg(sum("v").as("n_matches"), count(lit(1)).as("n_offsets"),
        max(struct(col("v"), (-col("offset")).as("no"))).as("__b"))
      .filter(col("n_matches") >= minMatches)
      .select(col("track_a"), col("track_b"), col("n_matches"),
        col("n_offsets"), (-col("__b.no")).as("best_offset"),
        col("__b.v").as("votes_best"))
  }

  /** Adds `__nw` (window count) and `__flags` (per-window speech
    * booleans) — the VAD substrate shared by the census (m09) and the
    * audio-to-shot alignment (m12). Sub-window rows are filtered (and
    * Spark's sequence(0, -1) would DESCEND, not return empty). */
  def vadFlags(df: DataFrame, waveCol: String,
               window: Int = 16, threshold: Long = 400L): DataFrame = {
    val w = window
    df.withColumn("__nw", expr(s"length($waveCol) div $w"))
      .filter(col("__nw") >= 1)
      // ONE O(len) char split per row, then O(w) array slices per
      // window — per-char substring against the full payload would
      // rescan the string every call and make the row O(len^2)
      .withColumn("__chars", expr(s"split($waveCol, '')"))
      .withColumn("__flags", expr(
        s"""transform(sequence(0, cast(__nw - 1 as int)),
           |  i -> aggregate(slice(__chars, i * $w + 1, $w), 0L,
           |         (acc, c) -> acc + bigint(greatest(ascii(c) - 32, 0))
           |       ) >= $threshold)""".stripMargin))
  }

  def vadCensus(df: DataFrame, waveCol: String, idCol: String,
                window: Int = 16, threshold: Long = 400L): DataFrame = {
    vadFlags(df, waveCol, window, threshold)
      .select(col(idCol),
        col("__nw").as("n_windows"),
        expr("bigint(size(filter(__flags, f -> f)))").as("n_speech"),
        expr("""bigint(size(filter(sequence(0, cast(__nw - 1 as int)),
               |  i -> __flags[i] and (i = 0 or not __flags[i - 1]))))"""
          .stripMargin).as("n_segments"),
        expr("""case when array_position(__flags, true) = 0 then __nw
               |else array_position(__flags, true) - 1 end""".stripMargin)
          .as("lead_trim"),
        expr("""case when array_position(reverse(__flags), true) = 0 then __nw
               |else array_position(reverse(__flags), true) - 1 end"""
          .stripMargin).as("tail_trim"))
  }
}
