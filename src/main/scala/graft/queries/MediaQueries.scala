package graft.queries

import graft.llm.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Queries.{tbl, tblPar}

/** Multimodal queries (m): media metadata and features, frame sampling,
  * perceptual hashing, and audio/video segmentation. */
object MediaQueries extends QueryFamily {

  /** M7: aspect-ratio bucket assignment ([[Multimodal.aspectBucket]]) —
    * SDXL-style bucketed batching for vision training: nearest fixed
    * ratio bucket per image by integer cross-multiplication (lcm-scaled,
    * ties to the lower bucket index), map-only off the stored
    * dimensions. The oracle re-derives the argmin from the same
    * synthetic width/height. */
  query("m07_aspect_buckets", oracle = Some(
      // nearest aspect bucket by lcm(144)-scaled integer ratio distance,
      // ties to the lower bucket index; same synthetic width/height
      // derivation as m01
      """WITH m AS (SELECT doc_id,
        |    CAST(16 + octet_length(encode(coalesce(text, ''))) % 48 AS BIGINT) AS width,
        |    CAST(16 + (octet_length(encode(coalesce(text, ''))) * 7) % 48 AS BIGINT) AS height
        |  FROM documents),
        |b(bw, bh, idx) AS (VALUES (1, 1, 0), (4, 3, 1), (3, 4, 2), (16, 9, 3),
        |                          (9, 16, 4), (2, 1, 5), (1, 2, 6)),
        |sc AS (SELECT m.doc_id, m.width, m.height, b.bw, b.bh,
        |         CAST(b.idx AS BIGINT) AS idx,
        |         abs(m.width * b.bh - m.height * b.bw) * (144 // b.bh) AS score
        |       FROM m CROSS JOIN b),
        |best AS (SELECT doc_id, width, height, bw, bh, idx,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY score, idx) AS rn
        |         FROM sc)
        |SELECT doc_id, width, height,
        |       CAST(bw AS VARCHAR) || ':' || CAST(bh AS VARCHAR) AS ar_bucket,
        |       idx AS bucket_idx, width * height AS n_pixels
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.aspectBucket(Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .orderBy("doc_id")
  }

  // ===== LLM: multimodal ====================================================

  /** Multimodal metadata projection (payload stays opaque binary). */
  query("m01_multimodal_meta", oracle = Some(
      // coalesce mirrors fromDocuments' null-text -> empty-payload policy
      """SELECT doc_id, 'text/plain' AS mime,
        |       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
        |       CAST(16 + octet_length(encode(coalesce(text, ''))) % 48 AS BIGINT) AS width,
        |       CAST(16 + (octet_length(encode(coalesce(text, ''))) * 7) % 48 AS BIGINT) AS height,
        |       CAST(1 + octet_length(encode(coalesce(text, ''))) % 8 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.metaTable(tbl(s, dir, "documents")).orderBy("doc_id")
  }

  /** M2: batch decode + feature extraction through the mapPartitions codec
    * path. The stub codec is deterministic byte arithmetic, so the audit
    * view (checksum + positional feature elements) is fully oracle-able:
    * DuckDB recomputes it from the ASCII text bytes. Verifies the whole
    * binary-payload pipeline — encoder, partition batching, feature shape
    * — not just the metadata face. */
  query("m02_media_features", oracle = Some(
      // the stub codec is deterministic byte arithmetic (checksum = byte sum;
      // feat[j] += byte/255.0 over positions ≡ j mod 8, in byte order), so
      // the oracle recomputes it from the text bytes. Documents are pure
      // ASCII (asserted: octet_length(blob) == length for every row), so
      // ascii(substring(...)) IS the payload byte; per-position division
      // before a sequential in-order sum mirrors the stub's FP op order.
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |f AS (SELECT doc_id, n,
        |  CAST(coalesce(list_aggregate(list_transform(range(1, n + 1),
        |    i -> ascii(substring(text, CAST(i AS INT), 1))), 'sum'), 0) AS BIGINT) AS checksum,
        |  list_transform(range(0, 8), j ->
        |    coalesce(list_aggregate(list_transform(range(1 + j, n + 1, 8),
        |      i -> ascii(substring(text, CAST(i AS INT), 1)) / 255.0), 'sum'), 0.0)) AS feat
        |  FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, checksum,
        |       round(feat[1], 6) AS feat0_r, round(feat[8], 6) AS feat7_r,
        |       round(list_aggregate(feat, 'sum'), 6) AS feat_sum_r
        |FROM f ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.decodeFeatures(Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"),
        round(element_at(col("feature"), 1), 6).as("feat0_r"),
        round(element_at(col("feature"), 8), 6).as("feat7_r"),
        round(aggregate(col("feature"), lit(0.0), (a, v) => a + v), 6).as("feat_sum_r"))
      .orderBy("doc_id")
  }

  /** M3: frame sampling over the opaque payload (n=4 evenly spaced 16-byte
    * windows — the video-frame access pattern). Audit = frame count, total
    * sampled bytes, and the md5 of frame 0, all recomputable by the oracle
    * from substring arithmetic. */
  query("m03_frame_sample", oracle = Some(
      // frame sampling mirror: step = max(1, len // 4), offsets i*step while
      // < len, frames are 16-byte substrings (ASCII: char == byte)
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |p AS (SELECT doc_id, text, len, greatest(1, len // 4) AS step FROM d),
        |fr AS (SELECT doc_id, i, substring(text, CAST(i * step + 1 AS INT), 16) AS frame
        |       FROM p CROSS JOIN (SELECT unnest(range(0, 4)) AS i) r
        |       WHERE i * step < len)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |       md5(arg_min(frame, i)) AS frame0_md5,
        |       CAST(sum(length(frame)) AS BIGINT) AS frames_bytes
        |FROM fr GROUP BY 1 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.sampleFrames(Multimodal.fromDocuments(tbl(s, dir, "documents")),
        n = 4, frameBytes = 16)
      .select(col("doc_id"), col("n_sampled"),
        md5(element_at(col("frames"), 1)).as("frame0_md5"),
        aggregate(col("frames"), lit(0L), (a, f) => a + length(f).cast("long"))
          .as("frames_bytes"))
      .orderBy("doc_id")
  }

  /** M6: ViT patch-grid extraction ([[Multimodal.patchGrid]]) — tile
    * each media row into 16x16 patches in row-major order off the
    * STORED dimensions (pixel decode stays behind the codec boundary),
    * edge patches clipped. Map-only transform + posexplode, zero
    * shuffle; the oracle rebuilds the identical integer grid from the
    * same synthetic width/height derivation. */
  query("m06_patch_grid", oracle = Some(
      // same synthetic width/height derivation as the m-family, same
      // row-major clipped 16x16 grid — pure integer math both sides
      """WITH m AS (SELECT doc_id,
        |    16 + octet_length(encode(coalesce(text, ''))) % 48 AS w,
        |    16 + (octet_length(encode(coalesce(text, ''))) * 7) % 48 AS h
        |  FROM documents),
        |g AS (SELECT doc_id, w, h,
        |    (w + 15) // 16 AS nx, (h + 15) // 16 AS ny FROM m),
        |p AS (SELECT doc_id, w, h, nx,
        |    unnest(range(0, nx * ny)) AS i FROM g)
        |SELECT doc_id, CAST(i AS BIGINT) AS patch_idx,
        |  CAST((i % nx) * 16 AS BIGINT) AS px,
        |  CAST((i // nx) * 16 AS BIGINT) AS py,
        |  CAST(least(16, w - (i % nx) * 16) AS BIGINT) AS pw,
        |  CAST(least(16, h - (i // nx) * 16) AS BIGINT) AS ph
        |FROM p ORDER BY doc_id, patch_idx""".stripMargin)) { (s, dir) =>
    Multimodal.patchGrid(Multimodal.fromDocuments(tbl(s, dir, "documents")), p = 16)
      .orderBy("doc_id", "patch_idx")
  }

  /** M4: perceptual near-dup over the multimodal payload
    * ([[Multimodal.phashNearDup]]) — 64-bit average-hash, banded
    * (band_idx, band_val) equi-join candidates (exact for ham <= 3 by
    * pigeonhole), ids-only candidate shuffle, popcount verify. The
    * oracle recomputes the identical hash from the ASCII text bytes and
    * compares all pairs quadratically (oracle role only). */
  query("m04_phash_neardup", oracle = Some(
      // Perceptual-hash near-dup mirror: recomputes the identical 64-bit
      // average-hash from the ASCII text bytes (block j = positions = j mod
      // 64, bit j via the multiplication-only mean compare; c_j =
      // ceil((n-j)/64)), then compares ALL pairs quadratically — the oracle
      // may be quadratic, the engine's banded plan may not. ham as the sum
      // of per-bit absolute differences == popcount of the 64-bit xor.
      // ASSUMES A PURE-ASCII CORPUS: this mirror sums characters/codepoints
      // (ascii(substring(...))) while the engine hashes UTF-8 payload BYTES
      // — the two agree only when every char is one byte. The engine's m04
      // query asserts the fixture property in-plan (octet_length == length,
      // the t17 control-char guard's sibling), so a non-ASCII corpus fails
      // loudly instead of silently diverging from this oracle.
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), n + 1, 64),
        |        i -> ascii(substring(text, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, n + 1),
        |        i -> ascii(substring(text, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM b),
        |bits AS (SELECT doc_id,
        |   list_transform(range(0, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * n > total * greatest(0, (n - j + 63) // 64)
        |          THEN 1 ELSE 0 END) AS bt
        | FROM s),
        |p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |        coalesce(list_aggregate(list_transform(range(1, 65),
        |          i -> abs(a.bt[CAST(i AS INT)] - c.bt[CAST(i AS INT)])), 'sum'), 0) AS ham
        |      FROM bits a JOIN bits c ON a.doc_id < c.doc_id)
        |SELECT id_a, id_b, CAST(ham AS BIGINT) AS ham
        |FROM p WHERE ham <= 3 ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    // Oracle-parity guard: the DuckDB mirror recomputes the hash over
    // CHARACTERS (ascii(substring(...))) while the engine hashes payload
    // BYTES — equal only for pure-ASCII text. Assert the fixture property
    // in-plan (octet_length == char length iff every char is one byte);
    // the guard rides inside the text column so pruning can't drop it
    // (the t16/v08 pattern), and concat('' ) leaves the text unchanged.
    val t = coalesce(col("text"), lit(""))
    val guarded = docs.withColumn("text", concat(col("text"),
      coalesce(assert_true(octet_length(t) === length(t),
        lit("m04_phash_neardup: oracle parity requires an ASCII-only corpus"))
        .cast("string"), lit(""))))
    Multimodal.phashNearDup(Multimodal.fromDocuments(guarded), maxHam = 3)
      .orderBy("id_a", "id_b")
  }

  /** M05: cross-video shared-frame near-dup
    * ([[Multimodal.videoNearDup]]) — m03's frame sampling x m04's
    * perceptual hashing: pairs sharing >= 2 near-identical sampled
    * frames (ham <= 3 per frame), the re-encoded/trimmed-copy detector
    * whole-payload hashing misses. Same ASCII oracle-parity guard as
    * m04; the DuckDB mirror recomputes frame slicing + per-frame hash +
    * pairwise popcount from the text bytes.
    * Frames hash in the native perceptual_hash kernel straight off the scan,
    * and the terminal count(DISTINCT frame) absorbs band-collision
    * duplicates, so the pair set shuffles once. */
  query("m05_video_neardup", oracle = Some {
      // m05: frame slicing (step = max(1, n//8), prefix offsets < n, 64-byte
      // windows) + the m04 per-frame average-hash, packed into two 32-bit
      // halves so hamming is two xor+bit_count calls; candidates mirror the
      // engine's rare-band join INCLUDING the boilerplate-band cap (a pair
      // whose matching bands are all capped is dropped on both sides)
      val cap = graft.llm.Multimodal.MediaNearDup.maxBandPostings
      s"""WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
         |           WHERE length(text) > 0),
         |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
         |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
         |       FROM b, unnest(range(0, 8)) AS t(i)
         |       WHERE t.i * greatest(1, n // 8) < n),
         |ph AS (SELECT doc_id, fi, length(f) AS m,
         |   list_transform(range(0, 64), j ->
         |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
         |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
         |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
         |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
         | FROM fr),
         |bits AS (SELECT doc_id, fi,
         |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
         |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
         |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
         |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
         |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
         |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
         | FROM ph),
         |bands AS (SELECT doc_id, fi, t.bi,
         |    CASE t.bi WHEN 0 THEN h1 % 65536 WHEN 1 THEN h1 // 65536
         |              WHEN 2 THEN h2 % 65536 ELSE h2 // 65536 END AS bv
         |  FROM bits, unnest(range(0, 4)) AS t(bi)),
         |rare AS (SELECT bi, bv FROM bands GROUP BY bi, bv HAVING count(*) <= $cap),
         |rb AS (SELECT bands.doc_id, bands.fi, bands.bi, bands.bv
         |       FROM bands JOIN rare USING (bi, bv)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.fi AS fa,
         |           c.doc_id AS id_b, c.fi AS fb
         |         FROM rb a JOIN rb c ON a.bi = c.bi AND a.bv = c.bv
         |           AND a.doc_id < c.doc_id),
         |fp AS (SELECT cand.id_a, cand.id_b, cand.fa,
         |         bit_count(xor(x.h1, y.h1)) + bit_count(xor(x.h2, y.h2)) AS ham
         |       FROM cand JOIN bits x ON x.doc_id = cand.id_a AND x.fi = cand.fa
         |       JOIN bits y ON y.doc_id = cand.id_b AND y.fi = cand.fb)
         |SELECT id_a, id_b, CAST(count(DISTINCT fa) AS BIGINT) AS shared_frames
         |FROM fp WHERE ham <= 3
         |GROUP BY 1, 2 HAVING count(DISTINCT fa) >= 2
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val t = coalesce(col("text"), lit(""))
    val guarded = docs.withColumn("text", concat(col("text"),
      coalesce(assert_true(octet_length(t) === length(t),
        lit("m05_video_neardup: oracle parity requires an ASCII-only corpus"))
        .cast("string"), lit(""))))
    Multimodal.videoNearDup(Multimodal.fromDocuments(guarded))
      .orderBy("id_a", "id_b")
  }

  /** M8: per-video frame-coherence census ([[Multimodal.frameCoherence]])
    * — consecutive-frame perceptual-hash Hamming stats: the static-
    * scene/slideshow detector (min-ham ~ 0) and hard-cut locator
    * (max-ham) of video curation, m05's within-video complement. Same
    * ASCII fixture contract as m04/m05 — the oracle recomputes the
    * identical average-hash from the text bytes.
    * The lag window's partitions hold at most 8 frames by construction,
    * followed by one hash aggregate, so the per-video cost is constant. */
  query("m08_frame_coherence", oracle = Some(
      // per-video consecutive-frame Hamming stats: the m05 frame/hash
      // derivation verbatim, then a (doc, fi-1) self-join + popcount of
      // the xor'd 32-bit halves
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
        |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
        |       FROM b, unnest(range(0, 8)) AS t(i)
        |       WHERE t.i * greatest(1, n // 8) < n),
        |ph AS (SELECT doc_id, fi, length(f) AS m,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM fr),
        |bits AS (SELECT doc_id, fi,
        |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
        |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
        | FROM ph),
        |pair AS (SELECT c.doc_id,
        |           bit_count(xor(p.h1, c.h1)) + bit_count(xor(p.h2, c.h2)) AS ham
        |         FROM bits c JOIN bits p
        |           ON p.doc_id = c.doc_id AND p.fi = c.fi - 1)
        |SELECT doc_id, CAST(count(*) + 1 AS BIGINT) AS n_frames,
        |       CAST(min(ham) AS BIGINT) AS min_ham,
        |       CAST(max(ham) AS BIGINT) AS max_ham,
        |       CAST(sum(ham) AS BIGINT) AS sum_ham
        |FROM pair GROUP BY 1 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.frameCoherence(
        Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** m09/m12 shared plant: the doc text as a synthetic waveform with an
    * md5-planted silence gap (length and position doc-deterministic), so
    * every VAD branch is live at every SF. */
  private def m09Planted(docs: DataFrame): DataFrame =
    docs
      .withColumn("__t", coalesce(col("text"), lit("")))
      .withColumn("__h", expr(
        "cast(conv(substring(md5(concat('sil:', cast(doc_id as string))),1,8),16,10) as bigint)"))
      .withColumn("__nw", expr("length(__t) div 16"))
      .filter(col("__nw") >= 6)
      .withColumn("__lw", expr("1 + (__h div 8) % 3"))
      .withColumn("__sw", expr("__h % (__nw - __lw + 1)"))
      .withColumn("__wave", expr(
        "concat(substring(__t, 1, cast(__sw * 16 as int)), " +
          "repeat(' ', cast(__lw * 16 as int)), " +
          "substring(__t, cast((__sw + __lw) * 16 + 1 as int), " +
          "cast((__nw - __sw - __lw) * 16 as int)))"))
      .drop("__nw")

  /** M9: VAD-style energy segmentation census ([[Multimodal
    * .vadCensus]]) — the silence-trim pass before ASR / audio-token
    * packing: per clip, how many windows carry signal, how many speech
    * RUNS there are, and the trimmable leading/trailing silence. A
    * deterministic silence gap (1-3 windows of spaces at an md5-chosen
    * window-aligned offset, overwriting the payload so length is
    * preserved) is planted per document; the offset range includes
    * both edges, so split clips (2+ segments), leading-silence and
    * trailing-silence trims are all live at every SF. Energy is
    * codepoint-based (the m-family's documented codec stand-in),
    * windows of 16 chars, threshold 400 — natural text scores ~900,
    * spaces 0. Map-only in-row operator, docs under 6 windows dropped
    * (no room for the plant). */
  query("m09_audio_segments", oracle = Some(
      // m09: same planted silence gap, codepoint energy, window flags,
      // run/trim folds over the flag list (DuckDB lists are 1-based)
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t,
        |    CAST('0x' || substring(md5('sil:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS h
        |  FROM documents),
        |p AS (SELECT doc_id, t, h, length(t) // 16 AS nw FROM d WHERE length(t) // 16 >= 6),
        |w AS (SELECT doc_id, nw, t, 1 + (h // 8) % 3 AS lw,
        |        h % (nw - (1 + (h // 8) % 3) + 1) AS sw FROM p),
        |wav AS (SELECT doc_id, nw,
        |    substring(t, 1, CAST(sw * 16 AS INT)) || repeat(' ', CAST(lw * 16 AS INT)) ||
        |    substring(t, CAST((sw + lw) * 16 + 1 AS INT), CAST((nw - sw - lw) * 16 AS INT)) AS wave
        |  FROM w),
        |f AS (SELECT doc_id, nw,
        |    list_transform(range(0, nw), i ->
        |      list_aggregate(list_transform(range(1, 17), j ->
        |        greatest(ascii(substring(wave, CAST(i * 16 + j AS INT), 1)) - 32, 0)),
        |        'sum') >= 400) AS flags
        |  FROM wav)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
        |  CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_speech,
        |  CAST(len(list_filter(range(0, nw),
        |    i -> flags[CAST(i + 1 AS INT)] AND (i = 0 OR NOT flags[CAST(i AS INT)]))) AS BIGINT)
        |    AS n_segments,
        |  CAST(coalesce(list_position(flags, true) - 1, nw) AS BIGINT) AS lead_trim,
        |  CAST(coalesce(list_position(list_reverse(flags), true) - 1, nw) AS BIGINT) AS tail_trim
        |FROM f ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.vadCensus(m09Planted(tblPar(s, dir, "documents")),
      "__wave", "doc_id").orderBy("doc_id")
  }

  /** M12: audio-to-shot alignment — the subtitle/ASR-to-scene primitive
    * every audiovisual training pipeline needs between its per-modality
    * segmenters and its caption packer: m09's speech segments (VAD runs
    * over the planted waveform) land on m10's shots (hash-jump cuts),
    * each segment electing its DOMINANT shot by overlap (max overlap,
    * lowest shot id ties) so a speech span becomes a training pair with
    * ONE visual context. The two timelines have different clocks
    * (windows vs frames); overlap is computed in 1/(nw*F) duration
    * units — integer cross-multiplication, NO float time math (the
    * m07 aspect-bucket discipline). Segment extraction is in-row list
    * algebra over the VAD flags (run starts/ends zipped); the join is
    * doc-local (<= nw segments x <= 8 shots per doc — bounded, never
    * corpus x corpus), one shuffle on doc_id. */
  query("m12_av_align", oracle = Some(
      // m12: m09's VAD-flag CTEs + run extraction, m10's hash-cut chain +
      // per-shot intervals, overlap in integer 1/(nw*F) duration units,
      // (ov DESC, shot ASC) election via row_number
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t,
        |    CAST('0x' || substring(md5('sil:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS h
        |  FROM documents),
        |p AS (SELECT doc_id, t, h, length(t) // 16 AS nw FROM d WHERE length(t) // 16 >= 6),
        |w AS (SELECT doc_id, nw, t, 1 + (h // 8) % 3 AS lw,
        |        h % (nw - (1 + (h // 8) % 3) + 1) AS sw FROM p),
        |wav AS (SELECT doc_id, nw,
        |    substring(t, 1, CAST(sw * 16 AS INT)) || repeat(' ', CAST(lw * 16 AS INT)) ||
        |    substring(t, CAST((sw + lw) * 16 + 1 AS INT), CAST((nw - sw - lw) * 16 AS INT)) AS wave
        |  FROM w),
        |f AS (SELECT doc_id, nw,
        |    list_transform(range(0, nw), i ->
        |      list_aggregate(list_transform(range(1, 17), j ->
        |        greatest(ascii(substring(wave, CAST(i * 16 + j AS INT), 1)) - 32, 0)),
        |        'sum') >= 400) AS flags
        |  FROM wav),
        |runs AS (SELECT doc_id, nw,
        |    list_filter(range(0, nw), i -> flags[CAST(i + 1 AS INT)]
        |      AND (i = 0 OR NOT flags[CAST(i AS INT)])) AS ss,
        |    list_filter(range(0, nw), i -> flags[CAST(i + 1 AS INT)]
        |      AND (i = nw - 1 OR NOT flags[CAST(i + 2 AS INT)])) AS ee
        |  FROM f),
        |segs AS (SELECT doc_id, nw, CAST(u.k AS BIGINT) AS seg_idx,
        |    CAST(u.s AS BIGINT) AS sw, CAST(u.e AS BIGINT) AS ew
        |  FROM (SELECT doc_id, nw, unnest(list_transform(range(0, len(ss)),
        |          k -> struct_pack(k := k, s := ss[CAST(k + 1 AS INT)],
        |                           e := ee[CAST(k + 1 AS INT)]))) AS u
        |        FROM runs)),
        |b AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
        |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
        |       FROM b, unnest(range(0, 8)) AS t(i)
        |       WHERE t.i * greatest(1, n // 8) < n),
        |ph AS (SELECT doc_id, fi, length(f) AS m,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM fr),
        |bits AS (SELECT doc_id, fi,
        |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
        |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
        | FROM ph),
        |cuts AS (SELECT c.doc_id, c.fi,
        |           CASE WHEN bit_count(xor(p.h1, c.h1)) + bit_count(xor(p.h2, c.h2)) > 21
        |                THEN 1 ELSE 0 END AS cut
        |         FROM bits c JOIN bits p
        |           ON p.doc_id = c.doc_id AND p.fi = c.fi - 1),
        |f2 AS (SELECT bits.doc_id, bits.fi, coalesce(cuts.cut, 0) AS cut
        |       FROM bits LEFT JOIN cuts ON cuts.doc_id = bits.doc_id AND cuts.fi = bits.fi),
        |sh AS (SELECT doc_id, fi, cut, sum(cut) OVER (PARTITION BY doc_id ORDER BY fi
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot FROM f2),
        |shiv AS (SELECT doc_id, shot, CAST(min(fi) AS BIGINT) AS sf,
        |           CAST(max(fi) AS BIGINT) AS ef FROM sh GROUP BY 1, 2),
        |fcnt AS (SELECT doc_id, CAST(sum(ef - sf + 1) AS BIGINT) AS fn
        |         FROM shiv GROUP BY 1),
        |ovl AS (SELECT s.doc_id, s.seg_idx, s.sw, s.ew, v.shot,
        |    least((s.ew + 1) * c.fn, (v.ef + 1) * s.nw) -
        |      greatest(s.sw * c.fn, v.sf * s.nw) AS ov
        |  FROM segs s JOIN shiv v USING (doc_id) JOIN fcnt c USING (doc_id)),
        |el AS (SELECT doc_id, seg_idx, sw, ew, shot, ov,
        |    row_number() OVER (PARTITION BY doc_id, seg_idx ORDER BY ov DESC, shot) AS rn,
        |    CAST(count(*) OVER (PARTITION BY doc_id, seg_idx) AS BIGINT) AS n_shots_hit
        |  FROM ovl WHERE ov > 0)
        |SELECT doc_id, seg_idx, sw, ew, CAST(shot AS BIGINT) AS best_shot, ov AS ov_units,
        |  n_shots_hit
        |FROM el WHERE rn = 1 ORDER BY doc_id, seg_idx""".stripMargin)) { (s, dir) =>
    val docs = tblPar(s, dir, "documents")
    val segs = Multimodal.vadFlags(m09Planted(docs), "__wave")
      .withColumn("__starts", expr(
        "filter(sequence(0, cast(__nw - 1 as int)), " +
          "i -> __flags[i] and (i = 0 or not __flags[i - 1]))"))
      .withColumn("__ends", expr(
        "filter(sequence(0, cast(__nw - 1 as int)), " +
          "i -> __flags[i] and (i = cast(__nw - 1 as int) or not __flags[i + 1]))"))
      .select(col("doc_id"), col("__nw").as("nw"),
        posexplode(arrays_zip(col("__starts"), col("__ends")))
          .as(Seq("seg_idx", "se")))
      .select(col("doc_id"), col("nw"),
        col("seg_idx").cast("long").as("seg_idx"),
        col("se.__starts").cast("long").as("sw"),
        col("se.__ends").cast("long").as("ew"))
    val shots = Multimodal.cutFrames(Multimodal.fromDocuments(docs))
      .groupBy("doc_id", "shot").agg(min("fi").as("sf"), max("fi").as("ef"))
    val fcount = shots.groupBy("doc_id")
      .agg(sum(col("ef") - col("sf") + 1).as("F"))
    segs.join(shots, Seq("doc_id")).join(fcount, Seq("doc_id"))
      .withColumn("ov",
        least((col("ew") + 1) * col("F"), (col("ef") + 1) * col("nw")) -
          greatest(col("sw") * col("F"), col("sf") * col("nw")))
      .filter(col("ov") > 0)
      .groupBy("doc_id", "seg_idx")
      .agg(first("sw").as("sw"), first("ew").as("ew"),
        count(lit(1)).as("n_shots_hit"),
        min(struct((-col("ov")).as("no"), col("shot").as("sh"))).as("b"))
      .select(col("doc_id"), col("seg_idx"), col("sw"), col("ew"),
        col("b.sh").as("best_shot"), (-col("b.no")).as("ov_units"),
        col("n_shots_hit"))
      .orderBy("doc_id", "seg_idx")
  }

  /** M10: shot-boundary segmentation ([[Multimodal.shotSegments]]) —
    * the cut detector downstream of m08's coherence statistics: a hard
    * cut is a consecutive-frame perceptual-hash Hamming jump > 21
    * (chosen inside the corpus's observed 2..40 pair-ham range so both
    * single-shot and multi-shot classes are live at every SF), a shot
    * is the run between cuts, and the census (n_shots, longest shot,
    * first cut) is what video curation batches on. One window sort per
    * video serves the lag pair AND the running shot counter;
    * single-frame videos are one shot. Same ASCII oracle-parity guard
    * story as m04/m05/m08 via the shared frame/hash derivation. */
  query("m10_shot_segments", oracle = Some(
      // m10: the m08 frame/hash CTE chain verbatim, then cut flags, a
      // running shot counter over FRAMES (single-frame docs = one shot),
      // per-shot lengths, and the census
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
        |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
        |       FROM b, unnest(range(0, 8)) AS t(i)
        |       WHERE t.i * greatest(1, n // 8) < n),
        |ph AS (SELECT doc_id, fi, length(f) AS m,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM fr),
        |bits AS (SELECT doc_id, fi,
        |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
        |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
        | FROM ph),
        |cuts AS (SELECT c.doc_id, c.fi,
        |           CASE WHEN bit_count(xor(p.h1, c.h1)) + bit_count(xor(p.h2, c.h2)) > 21
        |                THEN 1 ELSE 0 END AS cut
        |         FROM bits c JOIN bits p
        |           ON p.doc_id = c.doc_id AND p.fi = c.fi - 1),
        |f2 AS (SELECT bits.doc_id, bits.fi, coalesce(cuts.cut, 0) AS cut
        |       FROM bits LEFT JOIN cuts ON cuts.doc_id = bits.doc_id AND cuts.fi = bits.fi),
        |sh AS (SELECT doc_id, fi, cut, sum(cut) OVER (PARTITION BY doc_id ORDER BY fi
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot FROM f2),
        |per AS (SELECT doc_id, shot, CAST(count(*) AS BIGINT) AS len FROM sh GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shots,
        |          CAST(max(len) AS BIGINT) AS longest_shot,
        |          CAST(sum(len) AS BIGINT) AS n_frames FROM per GROUP BY 1),
        |fc AS (SELECT doc_id, min(fi) AS first_cut FROM sh WHERE cut = 1 GROUP BY 1)
        |SELECT agg.doc_id, n_frames, n_shots, longest_shot,
        |  CAST(coalesce(fc.first_cut, -1) AS BIGINT) AS first_cut_fi
        |FROM agg LEFT JOIN fc USING (doc_id)
        |ORDER BY agg.doc_id""".stripMargin)) { (s, dir) =>
    Multimodal.shotSegments(
        Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .orderBy("doc_id")
  }

  /** M11: constellation fingerprint matching
    * ([[Multimodal.constellationMatches]]) — audio IDENTIFICATION:
    * does track B contain a clip of track A, and at what offset (the
    * catalog-match / re-upload-detection primitive m04/m05's whole-file
    * near-dup cannot answer). Fixture: every eligible doc is a master
    * track (id*2); docs with doc_id % 5 == 0 additionally publish a
    * CLIP track (id*2+1) = the master wave minus its first 3 frames —
    * the re-upload-with-a-trimmed-intro case — so every planted pair
    * must surface with best_offset exactly 3 and one offset class;
    * sf0.1's planted exact-dup texts add the offset-0 "same recording
    * twice" class. Peaks -> constellation keys -> capped-postings
    * equi-join -> per-pair offset vote; min-match floor suppresses
    * coincidence.
    * One window sort per track serves both the peak test and the
    * constellation leads, and the offset vote is hash folds plus a struct
    * arg_max, never a window over the pair space. */
  query("m11_constellation", oracle = Some(
      // m11: full constellation mirror — frames, -1-padded peak test,
      // 3 lead unions, df-capped postings, key equi-join, offset vote
      """WITH base AS (SELECT doc_id, coalesce(text, '') AS w FROM documents
        |  WHERE length(coalesce(text, '')) // 16 >= 12),
        |tr AS (SELECT doc_id * 2 AS tid, w AS wave FROM base
        |       UNION ALL
        |       SELECT doc_id * 2 + 1, substring(w, 49) FROM base
        |       WHERE doc_id % 5 = 0),
        |fr0 AS (SELECT tid, wave, unnest(range(0, length(wave) // 16)) AS i
        |        FROM tr WHERE length(wave) // 16 >= 3),
        |fr AS (SELECT tid, CAST(i AS BIGINT) AS t,
        |    CAST('0x' || substring(md5(
        |      substring(wave, CAST(i * 16 + 1 AS INT), 16)), 1, 12) AS BIGINT) AS fh
        |  FROM fr0),
        |pk AS (SELECT tid, t, fh FROM (
        |    SELECT tid, t, fh,
        |      lag(fh, 1, -1) OVER (PARTITION BY tid ORDER BY t) AS l,
        |      lead(fh, 1, -1) OVER (PARTITION BY tid ORDER BY t) AS r
        |    FROM fr) WHERE fh > l AND fh >= r),
        |ld AS (SELECT tid, t, fh,
        |    lead(t, 1) OVER w AS t1, lead(fh, 1) OVER w AS h1,
        |    lead(t, 2) OVER w AS t2, lead(fh, 2) OVER w AS h2,
        |    lead(t, 3) OVER w AS t3, lead(fh, 3) OVER w AS h3
        |  FROM pk WINDOW w AS (PARTITION BY tid ORDER BY t)),
        |po0 AS (
        |  SELECT tid, t, md5(CAST(fh AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)
        |    || ':' || CAST(t1 - t AS VARCHAR)) AS key FROM ld WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT tid, t, md5(CAST(fh AS VARCHAR) || ':' || CAST(h2 AS VARCHAR)
        |    || ':' || CAST(t2 - t AS VARCHAR)) FROM ld WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT tid, t, md5(CAST(fh AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)
        |    || ':' || CAST(t3 - t AS VARCHAR)) FROM ld WHERE t3 IS NOT NULL),
        |po AS (SELECT tid, t, key FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY tid, t) AS rn
        |    FROM po0) WHERE rn <= 32),
        |cd AS (SELECT a.tid AS track_a, b.tid AS track_b, a.t - b.t AS off
        |       FROM po a JOIN po b ON a.key = b.key AND a.tid < b.tid),
        |vt AS (SELECT track_a, track_b, off, CAST(count(*) AS BIGINT) AS v
        |       FROM cd GROUP BY 1, 2, 3),
        |ag AS (SELECT track_a, track_b, CAST(sum(v) AS BIGINT) AS n_matches,
        |         CAST(count(*) AS BIGINT) AS n_offsets FROM vt GROUP BY 1, 2),
        |bst AS (SELECT track_a, track_b, off AS best_offset, v AS votes_best
        |        FROM (SELECT *, row_number() OVER (PARTITION BY track_a, track_b
        |            ORDER BY v DESC, off) AS rn FROM vt) WHERE rn = 1)
        |SELECT ag.track_a, ag.track_b, ag.n_matches, ag.n_offsets,
        |  CAST(bst.best_offset AS BIGINT) AS best_offset, bst.votes_best
        |FROM ag JOIN bst USING (track_a, track_b)
        |WHERE ag.n_matches >= 4
        |ORDER BY ag.track_a, ag.track_b""".stripMargin)) { (s, dir) =>
    val base = tblPar(s, dir, "documents")
      .withColumn("__w", coalesce(col("text"), lit("")))
      .filter(expr("length(__w) div 16 >= 12"))
    val masters = base.select((col("doc_id") * 2).as("track_id"),
      col("__w").as("wave"))
    val clips = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") * 2 + 1).as("track_id"),
        expr("substring(__w, 49)").as("wave"))
    Multimodal.constellationMatches(masters.union(clips),
        "track_id", "wave")
      .orderBy("track_a", "track_b")
  }
}
