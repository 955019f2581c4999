package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.OracleSql.{M, eRatioE, roundSpark, sig}
import graft.queries.QueryKit._

/** Multimodal columns: image, audio and video decode, perceptual hashes
  * and cross-format duplicates.
  */
object MultimodalQueries {

  /** Exact pixel-statistics oracle shared by the three lossless image
    * formats (`multimodal_decode` PNG, `multimodal_gif_decode`,
    * `multimodal_bmp_decode`): stats recomputed straight from the
    * fixture pixel formula.
    */
  private val ImageStatsOracleSql: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |    CAST(16 + doc_id % 32 AS INT) AS width,
      |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.width, d.height, xs.x, ys.y,
      |    (d.doc_id + 7 * xs.x + 13 * ys.y) % 256 AS p
      |  FROM dims d,
      |    LATERAL (SELECT unnest(generate_series(0, d.width - 1)) AS x) xs,
      |    LATERAL (SELECT unnest(generate_series(0, d.height - 1)) AS y) ys)
      |SELECT doc_id AS media_id, width, height,
      |  CAST(count(*) AS BIGINT) AS n_pixels,
      |  CAST(sum(p) AS BIGINT) AS sum_pixels,
      |  CAST(sum(p * (y * width + x + 1)) AS BIGINT) AS checksum
      |FROM px GROUP BY 1, 2, 3""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("multimodal_meta", (s, dir) => {
      // binary media column + typed metadata struct (plumbing oracle-
      // checked; decode itself is stubbed — see Multimodal.DecodeStub)
      Multimodal.mediaFromDocuments(t(s, dir, "documents")).select(
        col("media_id"),
        octet_length(col("media")).cast("long").as("n_bytes"),
        col("meta.kind").as("kind"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  'image' AS kind,
        |  CAST(doc_id % 1024 + 16 AS INTEGER) AS width,
        |  CAST((doc_id * 7) % 1024 + 16 AS INTEGER) AS height
        |FROM documents""".stripMargin),

    QueryDef("multimodal_features", (s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("n_bytes"), col("checksum"),
          col("mean_byte"), // already on the exact 4-dp grid
          round(col("entropy_bits"), 4).as("entropy_bits"))
    },
      // Oracle for `multimodal_features`: byte stats over the UTF-8 bytes of
      // `text` (ASCII corpus, so `ord` per char IS the byte) — length,
      // Java-style `crc*31+b` wrapping checksum via list_reduce in HUGEINT,
      // exact integer mean, and Shannon entropy with Java's log(p)/log(2)
      // formulation.
      s"""WITH cl AS (
         |  SELECT doc_id AS media_id, string_split(text, '') AS cs FROM documents),
         |crc AS (
         |  SELECT media_id, len(cs)::BIGINT AS n_bytes,
         |    list_reduce(list_prepend(0::HUGEINT, list_transform(cs, c -> ord(c)::HUGEINT)),
         |                (a, b) -> (a * 31 + b) % $M) AS crcu
         |  FROM cl),
         |chars AS (SELECT media_id, unnest(cs) AS c FROM cl),
         |hist AS (
         |  SELECT media_id, ord(c) AS b, count(*) AS cnt
         |  FROM chars GROUP BY media_id, ord(c)),
         |stats AS (
         |  SELECT h.media_id, sum(h.b * h.cnt) AS bsum,
         |    -sum((h.cnt::DOUBLE / c.n_bytes) * (ln(h.cnt::DOUBLE / c.n_bytes) / ln(2))) AS ent
         |  FROM hist h JOIN crc c USING (media_id) GROUP BY h.media_id)
         |SELECT c.media_id, c.n_bytes, ${sig("c.crcu")} AS checksum,
         |  coalesce(${eRatioE("s.bsum", "c.n_bytes", 10000L)}, 0.0)
         |    AS mean_byte,
         |  ${roundSpark("coalesce(s.ent, 0.0)", 4)} AS entropy_bits
         |FROM crc c LEFT JOIN stats s ON s.media_id = c.media_id""".stripMargin),

    QueryDef("multimodal_decode", (s, dir) => {
      // REAL codec path (not the stub): formula-generated pixels →
      // javax.imageio PNG encode → actual ImageIO decode → exact
      // integer stats. The oracle computes the same stats straight
      // from the pixel formula — PNG is lossless, so equality is exact
      Multimodal.decodeImages(
        Multimodal.renderPngImages(t(s, dir, "documents"))).toDF()
    }, ImageStatsOracleSql),

    QueryDef("multimodal_gif_decode", (s, dir) => {
      // GIF through the same sniffing decode path: the JDK decodes GIF
      // to an INDEXED raster whose samples are palette indices — the
      // codec resolves them through the IndexColorModel (red==gray in
      // a gray palette), and a 256-gray palette GIF round-trips 8-bit
      // gray exactly, so the PNG pixel-formula oracle applies verbatim.
      Multimodal.decodeImages(
        Multimodal.renderLosslessImages(t(s, dir, "documents"),
          "gif", "image/gif")).toDF()
    },
      // GIF and BMP are lossless over 8-bit gray, so all three formats
      // share the one pixel-formula oracle — equality proves the decode
      // paths (indexed-palette resolution included) are exact.
      ImageStatsOracleSql),

    QueryDef("multimodal_bmp_decode", (s, dir) => {
      // BMP (8bpp gray) through the same decode path — lossless, same
      // exact-integer oracle as PNG/GIF. With JPEG this completes the
      // four image formats a real crawl actually contains, all through
      // one `ImageIO.read` sniffing entry point.
      Multimodal.decodeImages(
        Multimodal.renderLosslessImages(t(s, dir, "documents"),
          "bmp", "image/bmp")).toDF()
    }, ImageStatsOracleSql),

    QueryDef("multimodal_audio", (s, dir) => {
      // REAL audio path: formula-generated PCM16 samples → RIFF/WAVE
      // encode → actual javax.sound.sampled decode → exact integer
      // stats. Oracle recomputes from the sample formula (PCM lossless)
      Multimodal.decodeAudio(
        Multimodal.renderWavAudio(t(s, dir, "documents"))).toDF()
    },
      """WITH ids AS (
        |  SELECT doc_id AS media_id, 800 + doc_id % 800 AS n
        |  FROM documents),
        |s AS (
        |  SELECT i.media_id, i.n, sx.i,
        |    (i.media_id * 31 + sx.i * 17) % 65536 - 32768 AS v
        |  FROM ids i,
        |    LATERAL (SELECT unnest(generate_series(0, i.n - 1)) AS i) sx)
        |SELECT media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  CAST(sum(v) AS BIGINT) AS sum_samples,
        |  CAST(sum(v * (i + 1)) AS BIGINT) AS checksum
        |FROM s GROUP BY media_id, n""".stripMargin),

    QueryDef("multimodal_ahash_dups", (s, dir) => {
      // image near-dup clusters over the perceptual hash, in the
      // scale-correct order: EXACT-dedup identical hashes first (one
      // narrow rollup — at web scale identical content dominates, and
      // image-id pair lists over identical groups are quadratic in
      // group size), THEN 4×16-bit pigeonhole bands over the DISTINCT
      // signatures only (hamming ≤ 3 ⇒ some band equal), exact
      // bit_count(XOR) verify. Output pairs DISTINCT hash groups with
      // their sizes — the pair explosion can never return.
      val h = Multimodal.averageHashes(
        Multimodal.renderPngImages(t(s, dir, "documents"))).toDF()
        .groupBy("ahash")
        .agg(min("media_id").as("rep_id"), count(lit(1)).as("n_images"))
        .localCheckpoint(true) // decode once; banding + verify reuse
      val bands = h.select(col("ahash"), col("rep_id"), col("n_images"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            (shiftright(col("ahash"), b * 16).cast("long")
              .bitwiseAND(lit(65535L))).as("bval"))): _*)).as("bb"))
        .select(col("ahash"), col("rep_id"), col("n_images"),
          col("bb.band"), col("bb.bval"))
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bval") === col("b.bval") &&
            col("a.rep_id") < col("b.rep_id"))
        .select(col("a.rep_id").as("rep_a"), col("b.rep_id").as("rep_b"),
          col("a.ahash").as("ha"), col("b.ahash").as("hb"),
          col("a.n_images").as("n_images_a"),
          col("b.n_images").as("n_images_b"))
        .distinct()
        .select(col("rep_a"), col("rep_b"), col("n_images_a"),
          col("n_images_b"),
          expr("cast(bit_count(ha ^ hb) AS int)").as("hamming"))
        .filter(col("hamming") <= 3)
    },
      s"""WITH ah AS (${OracleSql.multimodalAhash()}),
         |hg AS (
         |  SELECT ahash, min(media_id)::BIGINT AS rep_id,
         |    count(*)::BIGINT AS n_images
         |  FROM ah GROUP BY ahash),
         |bands AS (
         |  SELECT ahash, rep_id, n_images, b.band,
         |    (ahash >> (b.band * 16)) & 65535 AS bval
         |  FROM hg, LATERAL (SELECT unnest([0, 1, 2, 3]) AS band) b),
         |cand AS (
         |  SELECT DISTINCT a.rep_id AS rep_a, b.rep_id AS rep_b,
         |    a.ahash AS ha, b.ahash AS hb,
         |    a.n_images AS n_images_a, b.n_images AS n_images_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bval = b.bval
         |    AND a.rep_id < b.rep_id)
         |SELECT rep_a, rep_b, n_images_a, n_images_b,
         |  bit_count(xor(ha, hb))::INT AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin),

    QueryDef("multimodal_ahash", (s, dir) => {
      // perceptual near-dup identity for images: REAL PNG decode →
      // 8×8 average-hash in exact integer arithmetic (no DCT/libm).
      // The oracle recomputes the bits from the fixture pixel formula;
      // lossless codec + integer math ⇒ bit equality.
      Multimodal.averageHashes(
        Multimodal.renderPngImages(t(s, dir, "documents"))).toDF()
    }, OracleSql.multimodalAhash()),

    QueryDef("multimodal_mixed_format_dups", (s, dir) => {
      // cross-FORMAT image near-dup clustering — the realistic crawl
      // shape: one corpus where each image arrived as png, gif, or
      // bmp (format = (id div 128) % 3), every blob decoded through
      // the SAME sniffing `ImageIO.read`, hashed with the exact
      // integer aHash, then clustered in the ahash_dups order:
      // EXACT-dedup identical hashes first — the fixture's pixel
      // twins at id ± 256 land in DIFFERENT formats, so identical-
      // hash groups SPAN formats, proving the decode path is
      // container-invariant — then the pigeonhole banding over
      // DISTINCT signatures for near-neighbor (hamming ≤ 3) counts.
      // Output is one row per hash group with its format span:
      // group-level, so the pair explosion can never return; every
      // stage is a narrow rollup or a banded join, the shapes that
      // hold at 100 TB.
      val h = Multimodal.averageHashes(
        Multimodal.renderMixedFormatImages(t(s, dir, "documents")))
        .toDF()
        .withColumn("fmt", expr("element_at(array('png','gif','bmp')," +
          " cast((media_id div 128) % 3 as int) + 1)"))
      val g = h.groupBy("ahash")
        .agg(min("media_id").as("rep_id"),
          count(lit(1)).as("n_images"),
          countDistinct("fmt").as("n_formats"),
          array_join(sort_array(collect_set("fmt")), ",").as("formats"))
        .localCheckpoint(true) // decode once; banding + join reuse
      val bands = g.select(col("ahash"), col("rep_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            (shiftright(col("ahash"), b * 16).cast("long")
              .bitwiseAND(lit(65535L))).as("bval"))): _*)).as("bb"))
        .select(col("ahash"), col("rep_id"),
          col("bb.band"), col("bb.bval"))
      val nbr = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bval") === col("b.bval") &&
            col("a.rep_id") =!= col("b.rep_id"))
        .select(col("a.rep_id").as("rep_id"), col("b.rep_id").as("nb"),
          col("a.ahash").as("ha"), col("b.ahash").as("hb"))
        .distinct()
        .filter(expr("bit_count(ha ^ hb) <= 3"))
        .groupBy("rep_id").agg(count(lit(1)).as("n_neighbors"))
      g.join(nbr, Seq("rep_id"), "left")
        .select(col("rep_id"), col("n_images"), col("n_formats"),
          col("formats"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"))
    },
      s"""WITH ah AS MATERIALIZED (${OracleSql.multimodalAhash()}),
         |fh AS MATERIALIZED (
         |  SELECT media_id, ahash,
         |    CASE ((media_id // 128) % 3) WHEN 0 THEN 'png'
         |      WHEN 1 THEN 'gif' ELSE 'bmp' END AS fmt
         |  FROM ah),
         |hg AS MATERIALIZED (
         |  SELECT ahash, min(media_id)::BIGINT AS rep_id,
         |    count(*)::BIGINT AS n_images,
         |    count(DISTINCT fmt)::BIGINT AS n_formats,
         |    string_agg(DISTINCT fmt, ',' ORDER BY fmt) AS formats
         |  FROM fh GROUP BY ahash),
         |bands AS MATERIALIZED (
         |  SELECT ahash, rep_id, b.band,
         |    (ahash >> (b.band * 16)) & 65535 AS bval
         |  FROM hg, LATERAL (SELECT unnest([0, 1, 2, 3]) AS band) b),
         |nbr AS (
         |  SELECT rep_id, count(*)::BIGINT AS n_neighbors FROM (
         |    SELECT DISTINCT a.rep_id, b.rep_id AS nb
         |    FROM bands a JOIN bands b
         |      ON a.band = b.band AND a.bval = b.bval
         |      AND a.rep_id <> b.rep_id
         |    WHERE bit_count(xor(a.ahash, b.ahash)) <= 3) q
         |  GROUP BY rep_id)
         |SELECT hg.rep_id, hg.n_images, hg.n_formats, hg.formats,
         |  COALESCE(nbr.n_neighbors, 0)::BIGINT AS n_neighbors
         |FROM hg LEFT JOIN nbr USING (rep_id)""".stripMargin),

    QueryDef("multimodal_cross_format_twin", (s, dir) => {
      // the "one photo saved twice" crawl case: the SAME smooth image
      // exists as a lossy JPEG and a lossless PNG, and near-dup
      // detection must pair them ACROSS the codec boundary. Both
      // blobs decode through the sniffing `ImageIO.read`; the jpeg's
      // decoded aHash deviates from the source formula by ≤ 2 bits
      // (measured over the fixture's full id period), so pigeonhole
      // banding (4 × 16-bit, exact on some band whenever hamming ≤ 3)
      // ALWAYS surfaces the png twin as a candidate. The match is a
      // genuine band join + hamming verify — never an id shortcut —
      // and the oracle checks MORE than the verdict (ADVICE r8: a
      // constant-TRUE oracle couldn't tell a real join from a
      // shortcut): the matched partner's PNG aHash is carried THROUGH
      // the band join into the output, and the DuckDB oracle
      // recomputes that hash independently from the smooth-pixel
      // formula. If the sniffing decode drifts, the banding breaks,
      // or the join is bypassed, ref_ahash goes wrong/NULL and the
      // hash gate fails — not just the unit-test pin.
      val docs = t(s, dir, "documents")
      val jb = Multimodal.averageHashes(
        Multimodal.renderJpegImages(docs)).toDF()
        .select(col("media_id"), col("ahash").as("jhash"))
      val rb = Multimodal.averageHashes(
        Multimodal.renderSmoothPngImages(docs)).toDF()
        .select(col("media_id").as("ref_id"), col("ahash").as("rhash"))
      def banded(df: DataFrame, hc: String): DataFrame =
        df.select(df.columns.map(col) :+
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              (shiftright(col(hc), b * 16).cast("long")
                .bitwiseAND(lit(65535L))).as("bval"))): _*)).as("bb"): _*)
          .select(df.columns.map(col) :+ col("bb.band") :+
            col("bb.bval"): _*)
      val found = banded(jb, "jhash")
        .join(banded(rb, "rhash"), Seq("band", "bval"))
        .filter(col("ref_id") === col("media_id") &&
          expr("bit_count(jhash ^ rhash) <= 3"))
        .select(col("media_id"), col("rhash")).distinct()
        .withColumn("twin_found", lit(true))
      jb.select(col("media_id"))
        .join(found, Seq("media_id"), "left")
        .select(col("media_id"),
          (pmod(col("media_id"), lit(32)) + 16).cast("int").as("width"),
          (pmod(col("media_id") * 7, lit(32)) + 16).cast("int")
            .as("height"),
          // the partner's hash as surfaced BY the join — NULL (a gate
          // failure vs the oracle's recomputed value) if the band
          // join ever stops finding the twin
          col("rhash").as("ref_ahash"),
          coalesce(col("twin_found"), lit(false)).as("twin_found"))
    },
      // the PNG partner's aHash is recomputed HERE from the smooth-pixel
      // formula (ADVICE r8) — the engine must deliver the same bits
      // through its decode + band join, so a decode drift, a banding
      // break, or an id shortcut all fail the hash gate
      // The aHash recompute: identical sample/mean/bit math to
      // `multimodalAhash` but over
      // the clamped linear ramp `p(x,y) = min(255, 4x + 3y + id % 64)`
      // ([[graft.multimodal.Multimodal.ImageCodec.smoothPixel]]). PNG is
      // lossless, so the engine's sniffing decode of the smooth PNG must
      // land on these bits exactly — this is the independent recompute
      // the cross-format-twin gate checks the band join's output against
      // (ADVICE r8: the verdict column alone was unfalsifiable).
      s"""WITH ah AS MATERIALIZED (WITH sdims AS (
         |  SELECT doc_id,
         |    CAST(16 + doc_id % 32 AS INT) AS width,
         |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
         |  FROM documents),
         |ss AS (
         |  SELECT d.doc_id, d.width, d.height, g.k,
         |    least(255, 4 * (((g.k % 8) * d.width) // 8)
         |      + 3 * (((g.k // 8) * d.height) // 8) + d.doc_id % 64) AS p
         |  FROM sdims d,
         |    LATERAL (SELECT unnest(generate_series(0, 63)) AS k) g),
         |sm AS (
         |  SELECT doc_id, sum(p)::BIGINT // 64 AS mean
         |  FROM ss GROUP BY 1),
         |shb AS (
         |  SELECT ss.doc_id, ss.width, ss.height,
         |    sum(CASE WHEN ss.p > sm.mean
         |        THEN (1::HUGEINT << ss.k) ELSE 0::HUGEINT END) AS hu
         |  FROM ss JOIN sm USING (doc_id) GROUP BY 1, 2, 3)
         |SELECT doc_id AS media_id, width, height,
         |  ${sig("hu")} AS ahash
         |FROM shb)
         |SELECT media_id, width, height, ahash AS ref_ahash,
         |  TRUE AS twin_found
         |FROM ah""".stripMargin),

    QueryDef("multimodal_jpeg_decode", (s, dir) => {
      // JPEG decode through the SAME sniffing `ImageIO.read` path any
      // crawled image takes (closing the r6 gap: the PNG-only fixture
      // left the web's most common format unexercised despite the JDK
      // codec being free). JPEG is lossy, so the oracle checks the
      // LOSSLESS fields — dimensions from the id formula, pixel count —
      // plus a tolerance verdict: the fixture is a clamped linear ramp
      // (smooth, so DCT quantization error is small and bounded) and
      // decode_ok asserts max |decoded − formula| ≤ 16 at explicit
      // quality 0.95. Raw error moments stay in the Dataset for the
      // spec; the gate projects only engine-independent columns.
      Multimodal.decodeJpegFidelity(
        Multimodal.renderJpegImages(t(s, dir, "documents"))).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_pixels"), (col("max_abs_err") <= 16).as("decode_ok"))
    },
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 32 AS INT) AS width,
        |  CAST(16 + (doc_id * 7) % 32 AS INT) AS height,
        |  ((16 + doc_id % 32) * (16 + (doc_id * 7) % 32))::BIGINT
        |    AS n_pixels,
        |  true AS decode_ok
        |FROM documents""".stripMargin),

    QueryDef("multimodal_audio_fingerprint", (s, dir) => {
      // acoustic fingerprinting over the REAL decode path: per-frame
      // (100-sample) energy from the JDK-decoded PCM, bit f set iff
      // frame energy exceeds the integer mean — the Shazam-family
      // energy-signature shape in exact integer arithmetic (no FFT:
      // a float spectrogram would be engine-dependent in the last
      // ulp; the energy profile is reproducible to the bit, which
      // lets the oracle recompute it from the sample formula).
      // Hamming-distance near-dup then rides the simhash machinery.
      Multimodal.audioFingerprints(
        Multimodal.renderWavAudio(t(s, dir, "documents"))).toDF()
    }, AudioFpOracleSql),

    QueryDef("multimodal_video_frames", (s, dir) => {
      // REAL multi-frame media path: formula pixels → genuine PNG
      // frames inside a minimal GVID container → container parse +
      // ImageIO decode of every 2nd frame → exact integer stats per
      // sampled frame. Frame sampling means decode cost scales with
      // frames KEPT, not stored — the property that makes video
      // feature extraction affordable at 100 TB. Map-only
      // (mapPartitions, codec per partition); oracle recomputes from
      // the pixel formula (PNG lossless ⇒ exact equality).
      Multimodal.sampleFrames(
        Multimodal.renderVideos(t(s, dir, "documents")), everyK = 2)
        .toDF()
    },
      """WITH dims AS (
        |  SELECT doc_id, CAST(16 + doc_id % 32 AS INT) AS width,
        |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height,
        |    CAST(4 + doc_id % 5 AS INT) AS n_frames
        |  FROM documents),
        |fr AS (SELECT d.doc_id, d.width, d.height, d.n_frames, fs.f
        |  FROM dims d, LATERAL (SELECT
        |    unnest(generate_series(0, d.n_frames - 1)) AS f) fs
        |  WHERE fs.f % 2 = 0),
        |px AS (SELECT fr.doc_id, fr.f, fr.n_frames, fr.width,
        |    fr.height, xs.x, ys.y,
        |    (fr.doc_id + 17 * fr.f + 7 * xs.x + 13 * ys.y) % 256 AS p
        |  FROM fr,
        |    LATERAL (SELECT
        |      unnest(generate_series(0, fr.width - 1)) AS x) xs,
        |    LATERAL (SELECT
        |      unnest(generate_series(0, fr.height - 1)) AS y) ys)
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |  n_frames, CAST(10 AS INT) AS fps, width, height,
        |  CAST(sum(p) AS BIGINT) AS sum_pixels,
        |  CAST(sum(p * (y * width + x + 1)) AS BIGINT) AS checksum
        |FROM px GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin),

    QueryDef("multimodal_video_motion", (s, dir) => {
      // per-video motion profile: absolute luminance delta between
      // consecutive sampled frames, summed — the cheap "static slide
      // vs moving scene" signal a video curation gate keys on. Window
      // state is one previous frame per video (bounded); everything
      // upstream is the map-only sampled-frame path.
      val fr = Multimodal.sampleFrames(
        Multimodal.renderVideos(t(s, dir, "documents")), everyK = 2)
        .toDF()
      val w = Window.partitionBy("media_id").orderBy("frame_idx")
      fr.withColumn("prev", lag("sum_pixels", 1).over(w))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_sampled"),
          max("n_frames").as("n_frames"), max("fps").as("fps"),
          sum(abs(col("sum_pixels") - col("prev"))).as("motion_raw"))
        .select(col("media_id"), col("n_sampled"), col("n_frames"),
          expr("(n_frames * 1000) div fps").as("duration_ms"),
          coalesce(col("motion_raw"), lit(0L)).as("motion_abs"))
    },
      """WITH dims AS (
        |  SELECT doc_id, CAST(16 + doc_id % 32 AS INT) AS width,
        |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height,
        |    CAST(4 + doc_id % 5 AS INT) AS n_frames
        |  FROM documents),
        |fr AS (SELECT d.doc_id, d.width, d.height, d.n_frames, fs.f
        |  FROM dims d, LATERAL (SELECT
        |    unnest(generate_series(0, d.n_frames - 1)) AS f) fs
        |  WHERE fs.f % 2 = 0),
        |px AS (SELECT fr.doc_id, fr.f, fr.n_frames, xs.x, ys.y,
        |    (fr.doc_id + 17 * fr.f + 7 * xs.x + 13 * ys.y) % 256 AS p
        |  FROM fr,
        |    LATERAL (SELECT
        |      unnest(generate_series(0, fr.width - 1)) AS x) xs,
        |    LATERAL (SELECT
        |      unnest(generate_series(0, fr.height - 1)) AS y) ys),
        |fstats AS (SELECT doc_id, f, n_frames,
        |    sum(p)::BIGINT AS sum_pixels
        |  FROM px GROUP BY 1, 2, 3),
        |lagd AS (SELECT doc_id, n_frames, sum_pixels,
        |  lag(sum_pixels) OVER (PARTITION BY doc_id ORDER BY f) AS prev
        |  FROM fstats)
        |SELECT doc_id AS media_id, count(*)::BIGINT AS n_sampled,
        |  n_frames, ((n_frames * 1000) // 10)::BIGINT AS duration_ms,
        |  coalesce(sum(abs(sum_pixels - prev)), 0)::BIGINT AS motion_abs
        |FROM lagd GROUP BY doc_id, n_frames""".stripMargin)
  )
}
