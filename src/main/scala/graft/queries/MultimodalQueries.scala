package graft.queries

import graft.{QueryDef, ScratchDirs, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column coverage over binary payloads. Decode is REAL for
  * PPM/BMP/QOI/WAV (hand-rolled byte parsers) and for PNG/JPEG/GIF via
  * the JDK's own `javax.imageio` codec (java.desktop — no external
  * library): q120 verifies the full PNG encode→decode round trip
  * against a closed-form pixel oracle, q121 bounds the lossy JPEG path.
  * Video is REAL for uncompressed YUV4MPEG2 (q135/q46 — header, frame
  * markers, planar raster; q46 adds per-frame features). Image
  * metadata (q48) sniffs the container from magic bytes and decodes
  * dims with the JDK codec. No deterministic stand-ins remain: the
  * only ceiling is formats with neither a JDK codec nor a feasible
  * hand parser (compressed video, perceptual codecs), which is where
  * an external codec plugs into the decoder slots.
  */
object MultimodalQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- q46: REAL video frame sampling — synthesize a Y4M stream per
    // doc (the q135 generator), decode the planar raster, and emit one
    // row per SAMPLED frame (stride 2) with the frame's mean luma from
    // its Y plane. The md5 pseudo-feature stub is gone: the per-frame
    // feature is decoded out of the payload bytes, and the oracle
    // recomputes the generator's closed form per frame — exact integer
    // sum, one double division, bit-equal.
    QueryDef("q46_frame_sample", Some("""
      WITH p AS (SELECT doc_id,
                   CAST((n_chars % 4 + 1) * 2 AS INTEGER) AS w,
                   CAST(((n_chars // 4) % 4 + 1) * 2 AS INTEGER) AS h,
                   CAST(doc_id % 5 + 2 AS INTEGER) AS nf
                 FROM documents)
      SELECT doc_id, CAST(f AS INTEGER) AS frame,
             CAST(list_sum(list_transform(range(0, w*h), k ->
                    (doc_id*7 + f*31 + k*13) % 256)) AS DOUBLE)
               / (w*h) AS mean_luma
      FROM (SELECT doc_id, w, h, UNNEST(range(0, nf)) AS f FROM p)
      WHERE f % 2 = 0
      ORDER BY doc_id, frame"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"),
            ((col("n_chars") % 4 + 1) * 2).cast("int").as("w"),
            ((expr("n_chars div 4") % 4 + 1) * 2).cast("int").as("h"),
            (col("doc_id") % 5 + 2).cast("int").as("nf"))
          .as[(Long, Int, Int, Int)]
          .mapPartitions(_.map { case (id, w, h, nf) =>
            (id, Multimodal.y4mPayload(id, w, h, nf))
          })
          .toDF("doc_id", "payload")
        Multimodal.sampleFrames(pay, "doc_id", "payload", every = 2)
          .orderBy("doc_id", "frame")
      }),

    // ---- q48: REAL image metadata + resize planning — a MIXED-format
    // corpus (PNG for even doc_ids, BMP for odd; both encoded by the
    // JDK codec), the container sniffed from each payload's MAGIC
    // BYTES, dimensions decoded from the bytes, then the metadata-only
    // resize plan. The md5-derived fake dims are gone; the oracle
    // recomputes dims from the generator's closed form and the format
    // from the parity that chose the container. (No n_bytes column:
    // PNG stream length is encoder-dependent — the lossless PIXEL
    // round trip is pinned by q120 instead.)
    QueryDef("q48_image_meta", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 9 + 1 AS INTEGER) AS w,
                   CAST((n_chars // 9) % 9 + 1 AS INTEGER) AS h,
                   CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format
                 FROM documents)
      SELECT doc_id, format, w AS width, h AS height,
             CAST(GREATEST(FLOOR(w * CASE WHEN GREATEST(w, h) > 4
                    THEN 4 / GREATEST(w, h) ELSE 1.0 END), 1) AS INTEGER) AS rs_width,
             CAST(GREATEST(FLOOR(h * CASE WHEN GREATEST(w, h) > 4
                    THEN 4 / GREATEST(w, h) ELSE 1.0 END), 1) AS INTEGER) AS rs_height
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") % 9 + 1).cast("int").as("w"),
            (expr("n_chars div 9") % 9 + 1).cast("int").as("h"))
          .as[(Long, Int, Int)]
          .mapPartitions(_.map { case (id, w, h) =>
            (id, if (id % 2 == 0) Multimodal.pngPayload(id, w, h)
                 else Multimodal.bmpIoPayload(id, w, h))
          })
          .toDF("doc_id", "payload")
        val meta = pay.as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, bytes) =>
            val (fmt, w, h) = Multimodal.imageMeta(bytes)
            (id, fmt, w, h)
          })
          .toDF("doc_id", "format", "width", "height")
        meta
          .withColumn("rs", Multimodal.resizedMeta(
            struct(col("width"), col("height")), 4))
          .select(col("doc_id"), col("format"), col("width"), col("height"),
            col("rs.width").as("rs_width"), col("rs.height").as("rs_height"))
          .orderBy("doc_id")
      }),

    // ---- q75: REAL image decode — synthesize a valid plain-PPM (P3)
    // file per doc, then parse width/height/mean-luma back OUT OF THE
    // PAYLOAD BYTES (regex header parse + raster-sample average; the
    // dimensions never reference the doc columns they were derived
    // from). The first fully-byte-derived image decode query; the exact
    // long sum / single double division keeps both engines bit-equal.
    QueryDef("q75_ppm_decode", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 8 + 1 AS INTEGER) AS w,
                   CAST((n_chars // 8) % 8 + 1 AS INTEGER) AS h
                 FROM documents),
      pay AS (SELECT doc_id,
                'P3' || chr(10) || w::VARCHAR || ' ' || h::VARCHAR || chr(10) ||
                '255' || chr(10) ||
                array_to_string(list_transform(range(0, w * h * 3),
                  k -> CAST((doc_id * 7 + k * 13) % 256 AS VARCHAR)), ' ') AS payload
              FROM p),
      d AS (SELECT doc_id, payload,
              CAST(regexp_extract(payload, '^P3\n(\d+) (\d+)\n', 1) AS INTEGER) AS width,
              CAST(regexp_extract(payload, '^P3\n(\d+) (\d+)\n', 2) AS INTEGER) AS height
            FROM pay)
      SELECT doc_id, CAST(octet_length(encode(payload)) AS INTEGER) AS n_bytes,
             width, height,
             CAST(list_sum(list_transform(
                    string_split(string_split(payload, chr(10))[4], ' '),
                    x -> CAST(x AS BIGINT))) AS DOUBLE)
               / (width * height * 3) AS mean_luma
      FROM d ORDER BY doc_id"""),
      (s, dir) => {
        val w = (col("n_chars") % 8 + 1).cast("int")
        val h = (expr("n_chars div 8") % 8 + 1).cast("int")
        Tables.read(s, dir, "documents")
          .select(col("doc_id"), Multimodal.ppmPayload(col("doc_id"), w, h).as("payload"))
          .withColumn("m", Multimodal.ppmHeaderMeta(col("payload")))
          .select(col("doc_id"), col("m.n_bytes").as("n_bytes"),
            col("m.width").as("width"), col("m.height").as("height"),
            Multimodal.ppmMeanLuma(col("payload"), col("m.width"), col("m.height"))
              .as("mean_luma"))
          .orderBy("doc_id")
      }),

    // ---- q85: the PARTITION-WISE decode path — the same P3 payloads as
    // q75, decoded through Multimodal.decodeImages (typed mapPartitions,
    // one decoder instance per partition — where a real JNI/libjpeg
    // codec plugs in) with the real byte-level ppmDecoder instead of
    // column expressions. Same parse, same exact long-sum/double-divide
    // arithmetic, so it shares q75's oracle shape: a pipeline that
    // swaps in a native codec keeps this row green as its contract.
    QueryDef("q85_ppm_decode_partitions", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 8 + 1 AS INTEGER) AS w,
                   CAST((n_chars // 8) % 8 + 1 AS INTEGER) AS h
                 FROM documents),
      pay AS (SELECT doc_id,
                'P3' || chr(10) || w::VARCHAR || ' ' || h::VARCHAR || chr(10) ||
                '255' || chr(10) ||
                array_to_string(list_transform(range(0, w * h * 3),
                  k -> CAST((doc_id * 7 + k * 13) % 256 AS VARCHAR)), ' ') AS payload
              FROM p),
      d AS (SELECT doc_id, payload,
              CAST(regexp_extract(payload, '^P3\n(\d+) (\d+)\n', 1) AS INTEGER) AS width,
              CAST(regexp_extract(payload, '^P3\n(\d+) (\d+)\n', 2) AS INTEGER) AS height
            FROM pay)
      SELECT doc_id, CAST(octet_length(encode(payload)) AS INTEGER) AS n_bytes,
             width, height,
             CAST(list_sum(list_transform(
                    string_split(string_split(payload, chr(10))[4], ' '),
                    x -> CAST(x AS BIGINT))) AS DOUBLE)
               / (width * height * 3) AS mean_luma
      FROM d ORDER BY doc_id"""),
      (s, dir) => {
        val w = (col("n_chars") % 8 + 1).cast("int")
        val h = (expr("n_chars div 8") % 8 + 1).cast("int")
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), Multimodal.ppmPayload(col("doc_id"), w, h).as("payload"))
        Multimodal.decodeImages(pay, "doc_id", "payload", Multimodal.ppmDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("n_bytes"),
            col("width"), col("height"), col("mean_luma"))
          .orderBy("doc_id")
      }),

    // ---- q88: REAL binary-format decode — synthesize a valid 24bpp
    // Windows BMP per doc (little-endian headers, 4-byte-padded
    // bottom-up raster — genuinely binary, unlike P3's ASCII) and parse
    // width/height/mean back out of the bytes with bmpDecoder through
    // the partition-wise path. The oracle recomputes every output from
    // the payload GENERATOR's closed form instead of parsing bytes —
    // an independent check of the parse (header offsets, padding skip,
    // exact long-sum/double-divide mean). Dims w∈1..6 cycle the row
    // padding through all four phases (3,2,1,0 bytes).
    QueryDef("q88_bmp_decode", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 6 + 1 AS INTEGER) AS w,
                   CAST((n_chars // 6) % 6 + 1 AS INTEGER) AS h
                 FROM documents),
      d AS (SELECT doc_id, w, h, (4 - (w * 3) % 4) % 4 AS pad FROM p)
      SELECT doc_id,
             CAST(54 + (w * 3 + pad) * h AS INTEGER) AS n_bytes,
             w AS width, h AS height,
             CAST(list_sum(list_transform(range(0, w * h * 3),
                    k -> (doc_id * 7 + k * 13) % 256)) AS DOUBLE)
               / (w * h * 3) AS mean_luma
      FROM d ORDER BY doc_id"""),
      (s, dir) => {
        val w = (col("n_chars") % 6 + 1).cast("int")
        val h = (expr("n_chars div 6") % 6 + 1).cast("int")
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), Multimodal.bmpPayload(col("doc_id"), w, h).as("payload"))
        Multimodal.decodeImages(pay, "doc_id", "payload", Multimodal.bmpDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("n_bytes"),
            col("width"), col("height"), col("mean_luma"))
          .orderBy("doc_id")
      }),

    // ---- q92: REAL audio decode — synthesize a canonical RIFF/WAVE
    // 16-bit mono PCM file per doc (little-endian header + signed
    // samples) and parse rate/frames/mean-amplitude back out of the
    // bytes with wavDecoder (chunk walk, sign-extension) through the
    // partition-wise path. Like q88, the oracle recomputes every output
    // from the payload GENERATOR's closed form instead of parsing bytes
    // — an independent check of the parse (header offsets, LE fields,
    // sign-extension, exact long-sum/double-divide mean). duration_ms
    // is exact-long*1000 then one double divide → bit-stable.
    QueryDef("q92_wav_decode", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 32 + 1 AS INTEGER) AS n,
                   CAST([8000, 16000, 22050, 44100][CAST(doc_id % 4 AS INTEGER) + 1]
                        AS INTEGER) AS rate
                 FROM documents)
      SELECT doc_id,
             CAST(44 + n * 2 AS INTEGER) AS n_bytes,
             rate AS sample_rate,
             n AS n_samples,
             CAST(n * 1000 AS DOUBLE) / rate AS duration_ms,
             CAST(list_sum(list_transform(range(0, n),
                    k -> (doc_id * 31 + k * 17) % 65536
                         - CASE WHEN (doc_id * 31 + k * 17) % 65536 >= 32768
                                THEN 65536 ELSE 0 END)) AS DOUBLE) / n AS mean_amp
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        val n = (col("n_chars") % 32 + 1).cast("int")
        val rate = element_at(
          array(lit(8000), lit(16000), lit(22050), lit(44100)),
          (col("doc_id") % 4).cast("int") + 1)
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), Multimodal.wavPayload(col("doc_id"), n, rate).as("payload"))
        Multimodal.decodeAudio(pay, "doc_id", "payload", Multimodal.wavDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("n_bytes"), col("sample_rate"),
            col("n_samples"),
            (col("n_samples").cast("long") * 1000).cast("double")
              ./(col("sample_rate")).as("duration_ms"),
            col("mean_amp"))
          .orderBy("doc_id")
      }),

    // ---- q104: REAL COMPRESSED-format decode — QOI (public spec,
    // qoiformat.org): per doc, encode a closed-form pixel raster into an
    // actual compressed .qoi byte stream (RUN/INDEX/DIFF/LUMA/RGB ops —
    // qoiEncode, JVM-side since compression is not column-expressible),
    // then qoiDecoder parses it back chunk-by-chunk through the
    // partition-wise path. The oracle recomputes width/height/mean from
    // the pixel GENERATOR's closed form, so the whole compress→parse
    // round trip is what's being checked — the first codec-class format
    // in the engine with zero codec libraries.
    QueryDef("q104_qoi_decode", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 9 + 1 AS INTEGER) AS w,
                   CAST((n_chars // 9) % 9 + 1 AS INTEGER) AS h
                 FROM documents)
      SELECT doc_id, w AS width, h AS height,
             CAST(list_sum(list_transform(range(0, w * h),
                    k -> (doc_id * 7 + (k // 4) * 13) % 256
                       + (doc_id * 11 + (k // 4) * 17) % 256
                       + (doc_id * 13 + (k // 4) * 19) % 256)) AS DOUBLE)
               / (w * h * 3) AS mean_luma
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") % 9 + 1).cast("int").as("w"),
            (expr("n_chars div 9") % 9 + 1).cast("int").as("h"))
          .as[(Long, Int, Int)]
          .map { case (id, w, h) => (id, Multimodal.qoiPayload(id, w, h)) }
          .toDF("doc_id", "payload")
        Multimodal.decodeImages(pay, "doc_id", "payload", Multimodal.qoiDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("mean_luma"))
          .orderBy("doc_id")
      }),

    // ---- q120: REAL PNG decode — the codec-format gap closed with the
    // JDK's own `javax.imageio` codec (java.desktop ships PNG/JPEG
    // readers; no external library). Payloads are genuine PNG files
    // encoded from the closed-form test raster; the partition-wise
    // decoder reads them back with the same JDK codec, and because PNG
    // is lossless the DuckDB oracle verifies the WHOLE round trip from
    // the pixel formula alone — no codec on the oracle side. Mean folds
    // as a Long sum + one division → exact, no rounding.
    QueryDef("q120_png_decode", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 9 + 1 AS INTEGER) AS w,
                   CAST((n_chars // 9) % 9 + 1 AS INTEGER) AS h
                 FROM documents)
      SELECT doc_id, w AS width, h AS height,
             CAST(list_sum(list_transform(range(0, w * h),
                    k -> (doc_id * 7 + (k // 4) * 13) % 256
                       + (doc_id * 11 + (k // 4) * 17) % 256
                       + (doc_id * 13 + (k // 4) * 19) % 256)) AS DOUBLE)
               / (w * h * 3) AS mean_luma
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") % 9 + 1).cast("int").as("w"),
            (expr("n_chars div 9") % 9 + 1).cast("int").as("h"))
          .as[(Long, Int, Int)]
          .map { case (id, w, h) => (id, Multimodal.pngPayload(id, w, h)) }
          .toDF("doc_id", "payload")
        Multimodal.decodeImages(pay, "doc_id", "payload", Multimodal.imageIoDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("mean_luma"))
          .orderBy("doc_id")
      }),

    // ---- q121: REAL JPEG decode under a LOSSY bound — same JDK codec,
    // but JPEG approximates pixels, so the oracle locks dimensions
    // EXACTLY and the decoded mean to within ±6 RGB levels of the
    // generator's closed form — ~3× the worst deviation (1.94) measured
    // over 5000 rasters on OpenJDK 17.0.20/Debian (javax.imageio JPEG
    // quantization is implementation-dependent, hence the headroom).
    // Rasters are 8–16 px per side: chroma subsampling makes sub-8px
    // JPEGs adversarial (deviation >8), which is a property of the
    // codec, not the pipeline. The q86 bounded-sketch pattern, with a
    // diagnosable twist: within-bound rows emit bucket 0; an
    // out-of-bound row emits ceil(|deviation|), so a foreign JRE's
    // failure shows its magnitude in the gate's parquet dump.
    QueryDef("q121_jpeg_decode_bound", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 9 + 8 AS INTEGER) AS w,
                   CAST((n_chars // 9) % 9 + 8 AS INTEGER) AS h
                 FROM documents)
      SELECT doc_id, w AS width, h AS height,
             CAST(list_sum(list_transform(range(0, w * h),
                    k -> (doc_id * 7 + (k // 4) * 13) % 256
                       + (doc_id * 11 + (k // 4) * 17) % 256
                       + (doc_id * 13 + (k // 4) * 19) % 256)) AS DOUBLE)
               / (w * h * 3) AS exact_mean,
             0 AS dev_bucket
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") % 9 + 8).cast("int").as("w"),
            (expr("n_chars div 9") % 9 + 8).cast("int").as("h"))
          .as[(Long, Int, Int)]
          .map { case (id, w, h) =>
            (id, Multimodal.jpegPayload(id, w, h), Multimodal.testPixelsMean(id, w, h))
          }
          .toDF("doc_id", "payload", "exact_mean")
          // consumed by the decode AND the expectation join — without
          // this the JPEG encoding map would run twice
          .localCheckpoint()
        // lossy-decode tolerance: worst case measured 1.94 on OpenJDK
        // 17.0.20 (Debian); javax.imageio JPEG quantization is
        // implementation-dependent, so the bound is 6 (~3× measured).
        // Within-bound rows emit bucket 0 (what the oracle expects); an
        // out-of-bound row emits ceil(|deviation|), so a foreign JRE
        // exceeding the bound shows HOW FAR off in the gate's parquet
        // dump instead of an opaque boolean/hash mismatch.
        val dev = abs(col("mean_luma") - col("exact_mean"))
        Multimodal.decodeImages(pay, "doc_id", "payload", Multimodal.imageIoDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("mean_luma"))
          .join(pay.select("doc_id", "exact_mean"), "doc_id")
          .select(col("doc_id"), col("width"), col("height"), col("exact_mean"),
            when(dev <= 6.0, lit(0)).otherwise(ceil(dev).cast("int")).as("dev_bucket"))
          .orderBy("doc_id")
      }),

    // ---- q122: REAL COMPRESSED-audio decode — G.711 μ-law (a genuine
    // lossy speech codec: 8-bit logarithmic companding) in a Sun AU
    // container, decoded by the JDK's own `javax.sound.sampled` codec.
    // The JDK expansion equals exactly 4× the textbook G.711 form
    // (verified over all 256 codes), so the DuckDB oracle mirrors the
    // expansion ARITHMETICALLY — u=255−c, e=(u/16)%8, m=u%16,
    // lin=±4·((2m+33)·2^e−33) — and verifies the whole decode without
    // any codec on the oracle side. Mean folds as a Long sum + one
    // exact division; no rounding anywhere.
    QueryDef("q122_ulaw_decode", Some("""
      WITH p AS (SELECT doc_id, CAST(n_chars % 64 + 16 AS INTEGER) AS n FROM documents)
      SELECT doc_id, 8000 AS sample_rate, 1 AS channels, n AS frames,
             CAST(list_sum(list_transform(range(0, n), k ->
               (CASE WHEN (255 - (doc_id * 37 + k * 11 + 7) % 256) >= 128
                     THEN -4 ELSE 4 END)
               * ((2 * ((255 - (doc_id * 37 + k * 11 + 7) % 256) % 16) + 33)
                  * ([1,2,4,8,16,32,64,128])
                      [(((255 - (doc_id * 37 + k * 11 + 7) % 256) // 16) % 8) + 1]
                  - 33))) AS DOUBLE) / n AS mean_amp
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") % 64 + 16).cast("int").as("n"))
          .as[(Long, Int)]
          .map { case (id, n) => (id, Multimodal.auUlawPayload(id, n)) }
          .toDF("doc_id", "payload")
        Multimodal.decodeAudio(pay, "doc_id", "payload", Multimodal.auUlawDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("sample_rate"),
            col("n_channels").as("channels"), col("n_samples").as("frames"),
            col("mean_amp"))
          .orderBy("doc_id")
      }),

    // ---- q127: REAL A-law decode — G.711's other companding law (AU
    // encoding 27), completing the family with q122. JDK expansion =
    // 8× textbook with the sign bit meaning POSITIVE (u = c⊕85,
    // e=(u/16)%8, m=u%16, mag = e=0 ? 2m+1 : (2m+33)·2^(e−1),
    // lin = ±8·mag) — verified over all 256 codes; the oracle mirrors
    // it arithmetically, bit-exact, no rounding.
    QueryDef("q127_alaw_decode", Some("""
      WITH p AS (SELECT doc_id, CAST(n_chars % 48 + 12 AS INTEGER) AS n FROM documents)
      SELECT doc_id, 8000 AS sample_rate, 1 AS channels, n AS frames,
             CAST(list_sum(list_transform(range(0, n), k ->
               (CASE WHEN xor((doc_id * 53 + k * 19 + 3) % 256, 85) >= 128
                     THEN 8 ELSE -8 END)
               * (CASE WHEN (xor((doc_id * 53 + k * 19 + 3) % 256, 85) // 16) % 8 = 0
                       THEN 2 * (xor((doc_id * 53 + k * 19 + 3) % 256, 85) % 16) + 1
                       ELSE (2 * (xor((doc_id * 53 + k * 19 + 3) % 256, 85) % 16) + 33)
                            * ([1,2,4,8,16,32,64])
                                [((xor((doc_id * 53 + k * 19 + 3) % 256, 85) // 16) % 8)]
                  END))) AS DOUBLE) / n AS mean_amp
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") % 48 + 12).cast("int").as("n"))
          .as[(Long, Int)]
          .map { case (id, n) => (id, Multimodal.auAlawPayload(id, n)) }
          .toDF("doc_id", "payload")
        Multimodal.decodeAudio(pay, "doc_id", "payload", Multimodal.auAlawDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("sample_rate"),
            col("n_channels").as("channels"), col("n_samples").as("frames"),
            col("mean_amp"))
          .orderBy("doc_id")
      }),

    // ---- q123: REAL image RESIZE — decode the PNG payload with the
    // JDK codec and 2:1 nearest-neighbor downscale (output (x,y) =
    // source (2x,2y), dims = ceil/2): the thumbnailing stage of an
    // image pipeline. Pure integer index arithmetic, so the oracle
    // mirrors the pixel SELECTION on the closed-form raster and — PNG
    // being lossless — verifies decode AND resize bit-exact, mean as a
    // Long sum + one division, no rounding.
    QueryDef("q123_resize", Some("""
      WITH p AS (SELECT doc_id,
                   CAST(n_chars % 9 + 1 AS INTEGER) AS w,
                   CAST((n_chars // 9) % 9 + 1 AS INTEGER) AS h
                 FROM documents),
      r AS (SELECT doc_id, w, h, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2 FROM p)
      SELECT doc_id, CAST(w2 AS INTEGER) AS width, CAST(h2 AS INTEGER) AS height,
             CAST(list_sum(flatten(list_transform(range(0, h2), y ->
                    list_transform(range(0, w2), x ->
                      (doc_id * 7 + ((2*y*w + 2*x) // 4) * 13) % 256
                    + (doc_id * 11 + ((2*y*w + 2*x) // 4) * 17) % 256
                    + (doc_id * 13 + ((2*y*w + 2*x) // 4) * 19) % 256)))) AS DOUBLE)
               / (w2 * h2 * 3) AS mean_luma
      FROM r ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"), (col("n_chars") % 9 + 1).cast("int").as("w"),
            (expr("n_chars div 9") % 9 + 1).cast("int").as("h"))
          .as[(Long, Int, Int)]
          .map { case (id, w, h) => (id, Multimodal.pngPayload(id, w, h)) }
          .toDF("doc_id", "payload")
        Multimodal.decodeImages(pay, "doc_id", "payload", Multimodal.resizeHalfDecoder)
          .toDF()
          .select(col("id").as("doc_id"), col("width"), col("height"),
            col("mean_luma"))
          .orderBy("doc_id")
      }),

    // ---- q135: REAL video decode — synthesize a spec-valid YUV4MPEG2
    // stream per doc (header tags + FRAME markers + planar C420 raster;
    // any Y4M-aware tool would open it), then parse dims, frame count
    // and mean LUMA back OUT OF THE PAYLOAD BYTES through the
    // partition-wise decoder. The oracle recomputes the closed-form
    // generator math — if the parser mis-sized a plane or miscounted a
    // marker it would desynchronize and fail loudly, never agree by
    // accident. Kills the last multimodal deterministic fake: video
    // decode is now real up to the no-external-codec ceiling
    // (uncompressed formats; compressed video is where ffmpeg plugs
    // into Multimodal.decodeVideos' decoder slot).
    QueryDef("q135_y4m_decode", Some("""
      WITH p AS (SELECT doc_id,
                   CAST((n_chars % 4 + 1) * 2 AS INTEGER) AS w,
                   CAST(((n_chars // 4) % 4 + 1) * 2 AS INTEGER) AS h,
                   CAST(doc_id % 3 + 1 AS INTEGER) AS nf
                 FROM documents)
      SELECT doc_id,
             CAST(strlen('YUV4MPEG2 W' || w || ' H' || h || ' F25:1 Ip A1:1 C420jpeg')
                  + 1 + nf * (6 + w*h + (w*h) // 2) AS INTEGER) AS n_bytes,
             w AS width, h AS height, nf AS n_frames,
             CAST(list_sum(list_transform(range(0, nf), f ->
                    list_sum(list_transform(range(0, w*h), k ->
                      (doc_id*7 + f*31 + k*13) % 256)))) AS DOUBLE)
               / (nf * w * h) AS mean_luma
      FROM p ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents")
          .select(col("doc_id"),
            ((col("n_chars") % 4 + 1) * 2).cast("int").as("w"),
            ((expr("n_chars div 4") % 4 + 1) * 2).cast("int").as("h"),
            (col("doc_id") % 3 + 1).cast("int").as("nf"))
          .as[(Long, Int, Int, Int)]
          .mapPartitions(_.map { case (id, w, h, nf) =>
            (id, Multimodal.y4mPayload(id, w, h, nf))
          })
          .toDF("doc_id", "payload")
        Multimodal.decodeVideos(pay, "doc_id", "payload")
          .toDF()
          .select(col("id").as("doc_id"), col("n_bytes"), col("width"),
            col("height"), col("n_frames"), col("mean_luma"))
          .orderBy("doc_id")
      }),

    // ---- q217: IMAGE near-dup detection — perceptual dedup for the
    // visual modality: every doc gets a REAL PNG (JDK codec) from a
    // planted-variant raster (4 variants per group, a few bumped
    // pixels apart), the 56-bit difference hash is computed from the
    // DECODED pixels (adjacent-luma comparisons — the classic dHash,
    // robust to brightness shifts that break exact byte hashes), and
    // near-dups surface through the SAME banded-LSH shape as text
    // SimHash (q44): 4 bands × 14 bits, bucket-skew cap, then exact
    // bit_count(xor) ≤ 6 verification on candidates only. PNG being
    // lossless, the decoded-pixel hash equals the generator's closed
    // form — which is exactly what the oracle recomputes, so a codec
    // or bit-packing bug desynchronizes loudly. Scale shape: hashes
    // are 8 bytes/image, the join touches banded buckets only, and
    // the decode is one partition-wise pass over payload bytes.
    QueryDef("q217_image_dhash", Some("""
      WITH ids AS (SELECT doc_id FROM documents),
      px AS (SELECT doc_id, CAST(r.range AS INTEGER) AS k,
               CAST((((doc_id // 4) * 7 + r.range * 13
                      + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                  + (((doc_id // 4) * 11 + r.range * 17
                      + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                  + (((doc_id // 4) * 13 + r.range * 19
                      + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                 AS INTEGER) AS lum
             FROM ids, range(0, 64) r),
      bits AS (SELECT a.doc_id, ((a.k // 8) * 7 + (a.k % 8)) AS i
               FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.k = a.k + 1
               WHERE a.k % 8 < 7 AND b.lum > a.lum),
      hash AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS dh
               FROM ids LEFT JOIN bits ON bits.doc_id = ids.doc_id
               GROUP BY ids.doc_id),
      band AS (SELECT doc_id, dh, t.range AS b,
                      (dh >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
               FROM hash, range(0, 4) t),
      kept AS (SELECT doc_id, dh, b, chunk FROM
                 (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                      a.dh AS ha, b2.dh AS hb
               FROM kept a JOIN kept b2
                 ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming,
             (id_a // 4) = (id_b // 4) AS same_group
      FROM cand WHERE bit_count(xor(ha, hb)) <= 6
      ORDER BY id_a, id_b"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.variantPngPayload(id / 4, (id % 4).toInt, 8, 8))))
          .toDF("doc_id", "payload")
        val h = Multimodal.decodeDHashes(pay, "doc_id", "payload")
          .localCheckpoint() // both banded self-join sides read it
        Multimodal.bandedHammingPairs(h, "id", "dhash", 50, 6)
          .select(col("id_a"), col("id_b"), col("hamming"),
            (expr("id_a div 4") === expr("id_b div 4")).as("same_group"))
          .orderBy("id_a", "id_b")
      }),

    // ---- q224: AUDIO near-dup detection — completes the multimodal
    // dedup family (text MinHash/SimHash/SemDeDup, image q217): every
    // doc gets a REAL WAV (RIFF header + 16-bit PCM) from a planted-
    // variant stream (4 variants per group, a sprinkle of +512 sample
    // bumps apart), the 56-bit ENERGY SIGN HASH is computed from the
    // DECODED PCM (60 frames as 4×15, frame energy = Σ|sample| exact,
    // adjacent-frame comparisons — robust to uniform gain the way
    // dHash is to brightness), and near-dups surface through q217's
    // exact banding geometry: 4 bands × 14 bits, bucket-skew cap, then
    // exact bit_count(xor) ≤ 6 on candidates only. PCM being
    // uncompressed, the decoded-byte hash equals the generator's
    // closed form — which is exactly what the oracle recomputes, so a
    // RIFF-walk or framing bug desynchronizes loudly. Scale shape:
    // fingerprints are 8 bytes/clip, the join touches banded buckets
    // only, the decode is one partition-wise pass.
    QueryDef("q224_audio_fingerprint", Some("""
      WITH ids AS (SELECT doc_id,
                     CAST(((doc_id // 4) * 7) % 6 + 2 AS BIGINT) AS flen
                   FROM documents),
      fr AS (SELECT doc_id, flen, f.range AS f,
                    (((doc_id // 4) * 60 + f.range + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h1
             FROM ids, range(0, 60) f),
      fx AS (SELECT doc_id, flen, f, xor(h1, h1 >> 15) AS h2 FROM fr),
      fy AS (SELECT doc_id, flen, f,
                    (h2 * 1540483477 % 2147483648) AS h3 FROM fx),
      fo AS (SELECT doc_id, flen, f,
                    xor(h3, h3 >> 13) % 65536 AS off FROM fy),
      en AS (SELECT doc_id, f,
               list_sum(list_transform(
                 list_transform(range(0, flen), j ->
                   (off + j * 17
                    + CASE WHEN (f * flen + j) % 128 = doc_id % 4
                      THEN 512 ELSE 0 END) % 65536),
                 m -> abs(m - CASE WHEN m >= 32768 THEN 65536 ELSE 0 END))) AS e
             FROM fo),
      bits AS (SELECT a.doc_id, ((a.f // 15) * 14 + (a.f % 15)) AS i
               FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
               WHERE a.f % 15 < 14 AND b.e > a.e),
      hash AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS ah
               FROM ids LEFT JOIN bits ON bits.doc_id = ids.doc_id
               GROUP BY ids.doc_id),
      band AS (SELECT doc_id, ah, t.range AS b,
                      (ah >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
               FROM hash, range(0, 4) t),
      kept AS (SELECT doc_id, ah, b, chunk FROM
                 (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                      a.ah AS ha, b2.ah AS hb
               FROM kept a JOIN kept b2
                 ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming,
             (id_a // 4) = (id_b // 4) AS same_group
      FROM cand WHERE bit_count(xor(ha, hb)) <= 6
      ORDER BY id_a, id_b"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val g = id / 4
            val n = (((g * 7) % 6).toInt + 2) * 60
            (id, Multimodal.variantWavBytes(g, (id % 4).toInt, n, 8000))
          })
          .toDF("doc_id", "payload")
        val h = Multimodal.decodeAudioHashes(pay, "doc_id", "payload")
          .localCheckpoint() // both banded self-join sides read it
        Multimodal.bandedHammingPairs(h, "id", "ahash", 50, 6)
          .select(col("id_a"), col("id_b"), col("hamming"),
            (expr("id_a div 4") === expr("id_b div 4")).as("same_group"))
          .orderBy("id_a", "id_b")
      }),

    // ---- q230: CROSS-MODAL dedup profile — the capstone over the
    // FOUR near-dup families: text (banded MinHash-LSH → exact bigram
    // Jaccard ≥ 0.5, the q72 chain), image (decoded-pixel dHash, q217),
    // audio (decoded-PCM energy sign hash, q224) and video (decoded
    // temporal-luma sign hash over the Y4M clip, q241) pair sets union
    // into ONE duplicate graph, connected components (pointer-doubled
    // hash-min to the fixpoint) assign every doc its cluster and
    // canonical survivor, and per-doc modality flags answer the
    // question a multimodal-corpus owner actually asks: WHICH modality
    // caught this duplicate — text-only rewording, pixel-identical
    // re-encodes, re-mastered audio, re-encoded clips — and how many
    // agree (a doc duplicated in 2+ modalities is a near-certain
    // removal; a single-modality hit earns review). Scale shape: each
    // modality's pairs come from its own banded blocking (never a
    // cartesian), the union is pair-count-sized, CC is the shared
    // O(log diameter) machinery, flags are one grouped max over the
    // pair list.
    QueryDef("q230_multimodal_dedup", Some({
      import graft.QueryDef.{ccFixpointCtes, ccFinal}
      s"""${TextQueries.toksCte()},
      ids AS (SELECT doc_id FROM documents),
      t_sig AS (SELECT doc_id,
        ${(0 until 8).map(i =>
          s"list_min(list_transform(list_distinct(tokens), t -> md5('$i:' || t))) AS mh$i")
          .mkString(",\n        ")}
              FROM toks),
      t_band AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS b, mh${2 * b} || '|' || mh${2 * b + 1} AS chunk FROM t_sig")
          .mkString(" UNION ALL\n               ")}),
      t_kept AS (SELECT doc_id, b, chunk FROM
                   (SELECT doc_id, b, chunk,
                           COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM t_band)
                 WHERE bsz <= 50),
      t_cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM t_kept a JOIN t_kept b
                   ON a.b = b.b AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      t_sh AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(tokens)),
                               i -> tokens[i] || ' ' || tokens[i+1])) AS sh
               FROM toks),
      t_ver AS (SELECT id_a, id_b FROM
                  (SELECT c.id_a, c.id_b,
                          CASE WHEN len(a.sh) + len(b.sh)
                                    - len(list_intersect(a.sh, b.sh)) = 0 THEN NULL
                               ELSE len(list_intersect(a.sh, b.sh))
                                    / (len(a.sh) + len(b.sh)
                                       - len(list_intersect(a.sh, b.sh))) END AS jac
                   FROM t_cand c JOIN t_sh a ON a.doc_id = c.id_a
                               JOIN t_sh b ON b.doc_id = c.id_b)
                WHERE jac >= CAST(0.5 AS DOUBLE)),
      i_px AS (SELECT doc_id, CAST(r.range AS INTEGER) AS k,
                 CAST((((doc_id // 4) * 7 + r.range * 13
                        + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                    + (((doc_id // 4) * 11 + r.range * 17
                        + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                    + (((doc_id // 4) * 13 + r.range * 19
                        + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                   AS INTEGER) AS lum
               FROM ids, range(0, 64) r),
      i_bits AS (SELECT a.doc_id, ((a.k // 8) * 7 + (a.k % 8)) AS i
                 FROM i_px a JOIN i_px b ON b.doc_id = a.doc_id AND b.k = a.k + 1
                 WHERE a.k % 8 < 7 AND b.lum > a.lum),
      i_hash AS (SELECT ids.doc_id,
                        CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS hsh
                 FROM ids LEFT JOIN i_bits ON i_bits.doc_id = ids.doc_id
                 GROUP BY ids.doc_id),
      i_band AS (SELECT doc_id, hsh, t.range AS b,
                        (hsh >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
                 FROM i_hash, range(0, 4) t),
      i_kept AS (SELECT doc_id, hsh, b, chunk FROM
                   (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM i_band)
                 WHERE bsz <= 50),
      i_ver AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                FROM i_kept a JOIN i_kept b2
                  ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id
                WHERE bit_count(xor(a.hsh, b2.hsh)) <= 6),
      a_ids AS (SELECT doc_id,
                  CAST(((doc_id // 4) * 7) % 6 + 2 AS BIGINT) AS flen
                FROM documents),
      a_fr AS (SELECT doc_id, flen, f.range AS f,
                      (((doc_id // 4) * 60 + f.range + 1) % 2147483648)
                        * 2654435761 % 2147483648 AS h1
               FROM a_ids, range(0, 60) f),
      a_fx AS (SELECT doc_id, flen, f, xor(h1, h1 >> 15) AS h2 FROM a_fr),
      a_fy AS (SELECT doc_id, flen, f,
                      (h2 * 1540483477 % 2147483648) AS h3 FROM a_fx),
      a_fo AS (SELECT doc_id, flen, f,
                      xor(h3, h3 >> 13) % 65536 AS off FROM a_fy),
      a_en AS (SELECT doc_id, f,
                 list_sum(list_transform(
                   list_transform(range(0, flen), j ->
                     (off + j * 17
                      + CASE WHEN (f * flen + j) % 128 = doc_id % 4
                        THEN 512 ELSE 0 END) % 65536),
                   m -> abs(m - CASE WHEN m >= 32768 THEN 65536 ELSE 0 END))) AS e
               FROM a_fo),
      a_bits AS (SELECT a.doc_id, ((a.f // 15) * 14 + (a.f % 15)) AS i
                 FROM a_en a JOIN a_en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
                 WHERE a.f % 15 < 14 AND b.e > a.e),
      a_hash AS (SELECT ids.doc_id,
                        CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS hsh
                 FROM ids LEFT JOIN a_bits ON a_bits.doc_id = ids.doc_id
                 GROUP BY ids.doc_id),
      a_band AS (SELECT doc_id, hsh, t.range AS b,
                        (hsh >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
                 FROM a_hash, range(0, 4) t),
      a_kept AS (SELECT doc_id, hsh, b, chunk FROM
                   (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM a_band)
                 WHERE bsz <= 50),
      a_ver AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                FROM a_kept a JOIN a_kept b2
                  ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id
                WHERE bit_count(xor(a.hsh, b2.hsh)) <= 6),
      v_fr AS (SELECT doc_id, f.range AS f,
                      (((doc_id // 4) * 60 + f.range + 1) % 2147483648)
                        * 2654435761 % 2147483648 AS h1
               FROM ids, range(0, 60) f),
      v_fx AS (SELECT doc_id, f, xor(h1, h1 >> 15) AS h2 FROM v_fr),
      v_fy AS (SELECT doc_id, f, (h2 * 1540483477 % 2147483648) AS h3 FROM v_fx),
      v_fo AS (SELECT doc_id, f, xor(h3, h3 >> 13) % 65536 % 256 AS off FROM v_fy),
      v_en AS (SELECT doc_id, f,
                 list_sum(list_transform(range(0, 16), k ->
                   (off + k * 13
                    + CASE WHEN (f * 16 + k) % 128 = doc_id % 4
                      THEN 16 ELSE 0 END) % 256)) AS e
               FROM v_fo),
      v_bits AS (SELECT a.doc_id, ((a.f // 15) * 14 + (a.f % 15)) AS i
                 FROM v_en a JOIN v_en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
                 WHERE a.f % 15 < 14 AND b.e > a.e),
      v_hash AS (SELECT ids.doc_id,
                        CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS hsh
                 FROM ids LEFT JOIN v_bits ON v_bits.doc_id = ids.doc_id
                 GROUP BY ids.doc_id),
      v_band AS (SELECT doc_id, hsh, t.range AS b,
                        (hsh >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
                 FROM v_hash, range(0, 4) t),
      v_kept AS (SELECT doc_id, hsh, b, chunk FROM
                   (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM v_band)
                 WHERE bsz <= 50),
      v_ver AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                FROM v_kept a JOIN v_kept b2
                  ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id
                WHERE bit_count(xor(a.hsh, b2.hsh)) <= 6),
      pairs AS MATERIALIZED (SELECT id_a, id_b, 'text' AS m FROM t_ver
                UNION ALL SELECT id_a, id_b, 'image' FROM i_ver
                UNION ALL SELECT id_a, id_b, 'audio' FROM a_ver
                UNION ALL SELECT id_a, id_b, 'video' FROM v_ver),
      pd AS MATERIALIZED (SELECT DISTINCT id_a, id_b FROM pairs),
      edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pd
                UNION ALL SELECT id_b, id_a FROM pd),
      l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM ids),
      ${ccFixpointCtes()},
      flags AS (SELECT doc_id,
                  MAX(CASE WHEN m = 'text' THEN 1 ELSE 0 END) AS tf,
                  MAX(CASE WHEN m = 'image' THEN 1 ELSE 0 END) AS imf,
                  MAX(CASE WHEN m = 'audio' THEN 1 ELSE 0 END) AS af,
                  MAX(CASE WHEN m = 'video' THEN 1 ELSE 0 END) AS vf
                FROM (SELECT id_a AS doc_id, m FROM pairs
                      UNION ALL SELECT id_b, m FROM pairs)
                GROUP BY doc_id)
      SELECT l.id AS doc_id, l.label AS cluster_id, l.id = l.label AS keep,
             COALESCE(f.tf, 0) = 1 AS text_dup,
             COALESCE(f.imf, 0) = 1 AS image_dup,
             COALESCE(f.af, 0) = 1 AS audio_dup,
             COALESCE(f.vf, 0) = 1 AS video_dup,
             CAST(COALESCE(f.tf, 0) + COALESCE(f.imf, 0) + COALESCE(f.af, 0)
                  + COALESCE(f.vf, 0)
               AS INTEGER) AS n_modalities
      FROM ${ccFinal()} l LEFT JOIN flags f ON f.doc_id = l.id
      ORDER BY doc_id"""
    }),
      (s, dir) => {
        import s.implicits._
        import graft.dedup.Dedup
        val ids = Tables.read(s, dir, "documents").select("doc_id")
          .localCheckpoint() // payload fan-out ×2 + CC id base
        val toks = TextQueries.tokenized(s, dir)
        val tcand = Dedup.lshBandedCandidatePairs(toks, "doc_id", "tokens",
          4, 2, maxBucketSize = 50)
        val tver = Dedup.verifyJaccard(toks, "doc_id", "tokens", tcand)
          .where(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"), lit("text").as("m"))
        // the three payload decode passes are independent given the
        // ids checkpoint — overlap their eager materializations from a
        // driver pool (guide §2.6); per-modality content unchanged
        val Seq(ih, ah, vh) =
          graft.operators.Par.run[org.apache.spark.sql.DataFrame](Seq(
          () => {
            val ipay = ids.as[Long].mapPartitions(_.map(id =>
                (id, Multimodal.variantPngPayload(id / 4, (id % 4).toInt, 8, 8))))
              .toDF("doc_id", "payload")
            Multimodal.decodeDHashes(ipay, "doc_id", "payload")
              .localCheckpoint()
          },
          () => {
            val apay = ids.as[Long].mapPartitions(_.map { id =>
                val g = id / 4
                val n = (((g * 7) % 6).toInt + 2) * 60
                (id, Multimodal.variantWavBytes(g, (id % 4).toInt, n, 8000))
              })
              .toDF("doc_id", "payload")
            Multimodal.decodeAudioHashes(apay, "doc_id", "payload")
              .localCheckpoint()
          },
          () => {
            val vpay = ids.as[Long].mapPartitions(_.map(id =>
                (id, Multimodal.variantY4mPayload(id / 4, (id % 4).toInt, 4, 4, 60))))
              .toDF("doc_id", "payload")
            Multimodal.decodeVideoHashes(vpay, "doc_id", "payload")
              .localCheckpoint() // both banded self-join sides read it
          }))
        val iver = Multimodal.bandedHammingPairs(ih, "id", "dhash", 50, 6)
          .select(col("id_a"), col("id_b"), lit("image").as("m"))
        val aver = Multimodal.bandedHammingPairs(ah, "id", "ahash", 50, 6)
          .select(col("id_a"), col("id_b"), lit("audio").as("m"))
        val vver = Multimodal.bandedHammingPairs(vh, "id", "vhash", 50, 6)
          .select(col("id_a"), col("id_b"), lit("video").as("m"))
        val pairs = tver.unionByName(iver).unionByName(aver).unionByName(vver)
          .localCheckpoint() // 2 consumers: CC edges + modality flags
        val clusters = Dedup.nearDupClustersConverged(ids, "doc_id",
          pairs.select("id_a", "id_b").distinct())._1
        val flags = pairs.select(col("id_a").as("doc_id"), col("m"))
          .unionByName(pairs.select(col("id_b").as("doc_id"), col("m")))
          .groupBy("doc_id")
          .agg(max(when(col("m") === "text", 1).otherwise(0)).as("tf"),
            max(when(col("m") === "image", 1).otherwise(0)).as("imf"),
            max(when(col("m") === "audio", 1).otherwise(0)).as("af"),
            max(when(col("m") === "video", 1).otherwise(0)).as("vf"))
        clusters.join(flags, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("cluster_id"), col("keep"),
            (coalesce(col("tf"), lit(0)) === 1).as("text_dup"),
            (coalesce(col("imf"), lit(0)) === 1).as("image_dup"),
            (coalesce(col("af"), lit(0)) === 1).as("audio_dup"),
            (coalesce(col("vf"), lit(0)) === 1).as("video_dup"),
            (coalesce(col("tf"), lit(0)) + coalesce(col("imf"), lit(0)) +
              coalesce(col("af"), lit(0)) + coalesce(col("vf"), lit(0)))
              .cast("int").as("n_modalities"))
          .orderBy("doc_id")
      }),

    // ---- q241: VIDEO near-dup detection — completes the perceptual
    // dedup quartet (text q72, image q217, audio q224, video here):
    // every doc gets a REAL 60-frame Y4M clip from a planted-variant
    // raster (4 variants per group, every 128th luma byte bumped),
    // the fingerprint is a TEMPORAL sign hash over the DECODED
    // per-frame luma sums (4 runs x 14 brighter-than-previous bits —
    // robust to constant brightness shifts, which cancel in every
    // adjacent-frame comparison), and near-dups surface through the
    // same banded-LSH shape as the other modalities: 4 bands x 14
    // bits, bucket-skew cap, exact bit_count(xor) <= 6 on candidates
    // only. Y4M being uncompressed, the decoded-sum hash equals the
    // generator's closed form — which is what the oracle recomputes,
    // so a header-walk or plane-size bug desynchronizes loudly. Scale
    // shape: fingerprints are 8 bytes/clip regardless of resolution,
    // the join touches banded buckets only, the decode is one
    // partition-wise pass over payload bytes.
    QueryDef("q241_video_fingerprint", Some("""
      WITH ids AS (SELECT doc_id FROM documents),
      fr AS (SELECT doc_id, f.range AS f,
                    (((doc_id // 4) * 60 + f.range + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h1
             FROM ids, range(0, 60) f),
      fx AS (SELECT doc_id, f, xor(h1, h1 >> 15) AS h2 FROM fr),
      fy AS (SELECT doc_id, f, (h2 * 1540483477 % 2147483648) AS h3 FROM fx),
      fo AS (SELECT doc_id, f, xor(h3, h3 >> 13) % 65536 % 256 AS off FROM fy),
      en AS (SELECT doc_id, f,
               list_sum(list_transform(range(0, 16), k ->
                 (off + k * 13
                  + CASE WHEN (f * 16 + k) % 128 = doc_id % 4
                    THEN 16 ELSE 0 END) % 256)) AS e
             FROM fo),
      bits AS (SELECT a.doc_id, ((a.f // 15) * 14 + (a.f % 15)) AS i
               FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
               WHERE a.f % 15 < 14 AND b.e > a.e),
      hash AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS vh
               FROM ids LEFT JOIN bits ON bits.doc_id = ids.doc_id
               GROUP BY ids.doc_id),
      band AS (SELECT doc_id, vh, t.range AS b,
                      (vh >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
               FROM hash, range(0, 4) t),
      kept AS (SELECT doc_id, vh, b, chunk FROM
                 (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
                      a.vh AS ha, b2.vh AS hb
               FROM kept a JOIN kept b2
                 ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming,
             (id_a // 4) = (id_b // 4) AS same_group
      FROM cand WHERE bit_count(xor(ha, hb)) <= 6
      ORDER BY id_a, id_b"""),
      (s, dir) => {
        import s.implicits._
        val pay = Tables.read(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.variantY4mPayload(id / 4, (id % 4).toInt, 4, 4, 60))))
          .toDF("doc_id", "payload")
        val h = Multimodal.decodeVideoHashes(pay, "doc_id", "payload")
          .localCheckpoint() // both banded self-join sides read it
        Multimodal.bandedHammingPairs(h, "id", "vhash", 50, 6)
          .select(col("id_a"), col("id_b"), col("hamming"),
            (expr("id_a div 4") === expr("id_b div 4")).as("same_group"))
          .orderBy("id_a", "id_b")
      }),

    // ---- q246: shot-boundary (scene-change) detection over DECODED
    // video — the segmentation step between raw clips and per-shot
    // training samples (frame-sampling a 2-hour clip uniformly wastes
    // most frames on one static shot; sampling per shot doesn't).
    // Every doc gets a REAL 60-frame Y4M with planted hash-seeded cuts
    // (~5-frame shots, flat luma within a shot), the decode is
    // y4mFrameStats' exact per-frame luma sums, and a boundary is any
    // frame whose sum differs from its predecessor — brightness jumps
    // being exactly what survives at 4x4; a production path swaps the
    // threshold for a tolerance without changing shape. Y4M being
    // uncompressed, the decoded sums equal the generator's closed
    // form, which is what the oracle recomputes (murmur chain in CTEs,
    // the q241 discipline) — a header-walk or plane-size bug
    // desynchronizes loudly. Scale shape: decode is one partition-wise
    // pass over payload bytes; every window (scene cumsum, boundary
    // lag) partitions by doc over the 60-frame domain; the final agg
    // is one mergeable groupBy.
    QueryDef("q246_scene_change", Some("""
      WITH ids AS (SELECT doc_id FROM documents),
      fr AS (SELECT doc_id, f.range AS f FROM ids, range(0, 60) f),
      -- planted-cut hash: frameOffset(doc_id*3+1, f)
      k1 AS (SELECT doc_id, f,
                    (((doc_id*3 + 1) * 60 + f + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h
             FROM fr),
      k2 AS (SELECT doc_id, f, xor(h, h >> 15) AS h FROM k1),
      k3 AS (SELECT doc_id, f, (h * 1540483477 % 2147483648) AS h FROM k2),
      ct AS (SELECT doc_id, f,
                    CASE WHEN f >= 1 AND xor(h, h >> 13) % 65536 % 5 = 0
                         THEN 1 ELSE 0 END AS cut
             FROM k3),
      sc AS (SELECT doc_id, f,
                    CAST(SUM(cut) OVER (PARTITION BY doc_id ORDER BY f)
                      AS BIGINT) AS s
             FROM ct),
      -- per-scene luma base: frameOffset(doc_id, 971 + s)
      b1 AS (SELECT doc_id, f,
                    ((doc_id * 60 + 971 + s + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h
             FROM sc),
      b2 AS (SELECT doc_id, f, xor(h, h >> 15) AS h FROM b1),
      b3 AS (SELECT doc_id, f, (h * 1540483477 % 2147483648) AS h FROM b2),
      en AS (SELECT doc_id, f,
                    list_sum(list_transform(range(0, 16), k ->
                      (xor(h, h >> 13) % 65536 % 256 + k * 13) % 256)) AS e
             FROM b3),
      bd AS (SELECT doc_id, f,
                    CASE WHEN f = 0 OR e <> LAG(e) OVER
                           (PARTITION BY doc_id ORDER BY f)
                         THEN 1 ELSE 0 END AS b
             FROM en),
      sg AS (SELECT doc_id,
                    CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY f)
                      AS BIGINT) AS scene
             FROM bd),
      ln AS (SELECT doc_id, scene, CAST(COUNT(*) AS BIGINT) AS len
             FROM sg GROUP BY doc_id, scene)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scenes,
             CAST(MAX(len) AS BIGINT) AS longest_scene,
             CAST(60 AS DOUBLE) / COUNT(*) AS mean_scene_len
      FROM ln GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val pay = Tables.read(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.sceneY4mPayload(id, 4, 4, 60))))
          .toDF("doc_id", "payload")
        val fs = Multimodal.decodeFrameSums(pay, "doc_id", "payload")
        val w = Window.partitionBy("id").orderBy("f")
        val bd = fs.select(col("id"), col("f"),
          when(col("f") === 0 || col("e") =!= lag("e", 1).over(w), 1)
            .otherwise(0).as("b"))
        val sg = bd.select(col("id"), sum("b").over(w).as("scene"))
        sg.groupBy("id", "scene").agg(count(lit(1)).as("len"))
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_scenes"), max("len").as("longest_scene"),
            (lit(60.0) / count(lit(1))).as("mean_scene_len"))
          .orderBy("doc_id")
      }),

    // ---- q247: voice-activity segmentation over DECODED audio — the
    // speech twin of q246: a training pipeline clips silence before
    // transcription/feature extraction, and VAD is threshold + islands
    // over per-frame energies. Every doc gets a REAL WAV with
    // hash-seeded voiced/silent frames (~75% duty, worst-case voiced
    // frame ~107k vs exactly 4528 silent — the τ = 50000 threshold has
    // 2x headroom both ways by construction), the decode is a real
    // RIFF chunk walk to Σ|sample| per 160-sample frame, segments are
    // gaps-and-islands (f − row_number over active frames), and docs
    // with no voiced frame survive via the left join back to ids.
    // The oracle recomputes the decoded PCM closed-form (sign-extended
    // 16-bit, murmur chain) — a parser or framing bug desynchronizes.
    // Scale shape: one partition-wise decode pass; per-doc windows
    // over the 60-frame domain; one mergeable final agg.
    QueryDef("q247_vad_segments", Some("""
      WITH ids AS (SELECT doc_id FROM documents),
      fr AS (SELECT doc_id, f.range AS f FROM ids, range(0, 60) f),
      -- duty-cycle hash: frameOffset(doc_id*7+3, f) % 4 != 0 → voiced
      v1 AS (SELECT doc_id, f,
                    (((doc_id*7 + 3) * 60 + f + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h
             FROM fr),
      v2 AS (SELECT doc_id, f, xor(h, h >> 15) AS h FROM v1),
      v3 AS (SELECT doc_id, f, (h * 1540483477 % 2147483648) AS h FROM v2),
      vd AS (SELECT doc_id, f, xor(h, h >> 13) % 65536 % 4 <> 0 AS voiced
             FROM v3),
      -- sample ramp offset: frameOffset(doc_id, f)
      o1 AS (SELECT doc_id, f,
                    ((doc_id * 60 + f + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h
             FROM fr),
      o2 AS (SELECT doc_id, f, xor(h, h >> 15) AS h FROM o1),
      o3 AS (SELECT doc_id, f, (h * 1540483477 % 2147483648) AS h FROM o2),
      oo AS (SELECT doc_id, f, xor(h, h >> 13) % 65536 AS off FROM o3),
      en AS (SELECT vd.doc_id, vd.f,
                    CASE WHEN vd.voiced THEN
                      list_sum(list_transform(range(0, 160), j ->
                        abs(CASE WHEN (off + j*17) % 65536 < 32768
                                 THEN (off + j*17) % 65536
                                 ELSE (off + j*17) % 65536 - 65536 END)))
                    ELSE list_sum(list_transform(range(0, 160), j -> j % 64))
                    END AS e
             FROM vd JOIN oo ON oo.doc_id = vd.doc_id AND oo.f = vd.f),
      act AS (SELECT doc_id, f FROM en WHERE e > 50000),
      isl AS (SELECT doc_id,
                     f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f)
                       AS grp
              FROM act),
      seg AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS len
              FROM isl GROUP BY doc_id, grp),
      pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
                    CAST(SUM(len) AS BIGINT) AS voiced_frames,
                    CAST(MAX(len) AS BIGINT) AS longest_segment
             FROM seg GROUP BY doc_id)
      SELECT ids.doc_id,
             COALESCE(pd.n_segments, 0) AS n_segments,
             COALESCE(pd.voiced_frames, 0) AS voiced_frames,
             CAST(COALESCE(pd.voiced_frames, 0) AS DOUBLE) / 60 AS voiced_ratio,
             COALESCE(pd.longest_segment, 0) AS longest_segment
      FROM ids LEFT JOIN pd ON pd.doc_id = ids.doc_id
      ORDER BY ids.doc_id"""),
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val ids = Tables.read(s, dir, "documents").select("doc_id")
        val pay = ids.as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.vadWavPayload(id, 60, 160, 16000))))
          .toDF("doc_id", "payload")
        val en = Multimodal.decodeAudioEnergies(pay, "doc_id", "payload", 60)
        val act = en.where(col("e") > 50000L).select(col("id"), col("f"))
        val isl = act.select(col("id"),
          (col("f") - row_number()
            .over(Window.partitionBy("id").orderBy("f"))).as("grp"))
        val pd = isl.groupBy("id", "grp").agg(count(lit(1)).as("len"))
          .groupBy("id")
          .agg(count(lit(1)).as("n_segments"),
            sum("len").as("voiced_frames"), max("len").as("longest_segment"))
        ids.join(pd, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_segments"), lit(0L)).as("n_segments"),
            coalesce(col("voiced_frames"), lit(0L)).as("voiced_frames"),
            (coalesce(col("voiced_frames"), lit(0L)).cast("double") / lit(60))
              .as("voiced_ratio"),
            coalesce(col("longest_segment"), lit(0L)).as("longest_segment"))
          .orderBy("doc_id")
      }),

    // ---- q289: MAINTAINED PERCEPTUAL-HASH INDEX — the multimodal
    // member of the banded-index family (text q285, embeddings q288):
    // q217's image near-dup geometry (decoded-pixel dHash, 4 bands ×
    // 14 bits, skew cap, exact bit_count ≤ 6 verify) served off
    // VERSIONED state instead of a per-run rebuild — at 100 TB of
    // images the hash table is the artifact you maintain, and the
    // streaming admission screen (EventStreams.perceptualCollisions)
    // probes this same state as its static relation. Lifecycle
    // verbatim q285/q288: build on history, refresh with ONLY the
    // delta (delivered twice under one id — replay no-op), erasure
    // verdicts delete by id alone (delivered twice —
    // algebra-idempotent; the rows carry the hash, so the negation
    // re-derives from state), compact folds the count tables (replay
    // guard rides the sidecar; post-compact re-delivery still a
    // no-op), and the fresh batch's screen reads ONLY its chunks'
    // bucket partitions, verifying candidates with the codegen'd
    // bit_count. PNG being lossless, the decoded-pixel hash equals the
    // generator's closed form — exactly what the oracle recomputes
    // before unrolling the whole maintained chain in SQL (pixels →
    // dHash → bands → cap over fresh ∪ live → cross-side block →
    // Hamming verify → per-fresh-image verdict), so a hash mismatch is
    // state drift or a codec bug, never approximation. Scale shape:
    // the per-batch delta is one partition-wise decode + map-side band
    // explode over the batch; the probe collects ≤ B bucket ids
    // driver-side and reads only those partitions; hashes are 8
    // bytes/image so the billion-image index is ~112 GB of parquet.
    QueryDef("q289_perceptual_index_maintain", Some("""
      WITH ids AS (SELECT doc_id FROM documents),
      px AS (SELECT doc_id, CAST(r.range AS INTEGER) AS k,
               CAST((((doc_id // 4) * 7 + r.range * 13
                      + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                  + (((doc_id // 4) * 11 + r.range * 17
                      + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                  + (((doc_id // 4) * 13 + r.range * 19
                      + CASE WHEN r.range % 16 = doc_id % 4 THEN 64 ELSE 0 END) % 256)
                 AS INTEGER) AS lum
             FROM ids, range(0, 64) r),
      bits AS (SELECT a.doc_id, ((a.k // 8) * 7 + (a.k % 8)) AS i
               FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.k = a.k + 1
               WHERE a.k % 8 < 7 AND b.lum > a.lum),
      hash AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS dh
               FROM ids LEFT JOIN bits ON bits.doc_id = ids.doc_id
               GROUP BY ids.doc_id),
      uni AS (SELECT doc_id, dh FROM hash
              WHERE doc_id % 19 = 7 OR doc_id % 7 <> 3),
      band AS (SELECT doc_id, dh, t.range AS b,
                      (dh >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
               FROM uni, range(0, 4) t),
      kept AS (SELECT doc_id, dh, b, chunk FROM
                 (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus,
                      f.dh AS hf, c.dh AS hc
               FROM kept f JOIN kept c
                 ON f.b = c.b AND f.chunk = c.chunk
                    AND f.doc_id % 19 = 7 AND c.doc_id % 19 <> 7),
      ver AS (SELECT id_new, id_corpus,
                     CAST(bit_count(xor(hf, hc)) AS INTEGER) AS hamming
              FROM cand WHERE bit_count(xor(hf, hc)) <= 6),
      agg AS (SELECT id_new, MIN(id_corpus) AS dup_of,
                     COUNT(*) AS n_matches, MIN(hamming) AS min_hamming
              FROM ver GROUP BY id_new)
      SELECT t.doc_id, a.dup_of IS NULL AS is_novel, a.dup_of,
             COALESCE(a.n_matches, 0) AS n_matches, a.min_hamming
      FROM (SELECT doc_id FROM documents WHERE doc_id % 19 = 7) t
      LEFT JOIN agg a ON a.id_new = t.doc_id
      ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.PerceptualIndex
        val pay = Tables.read(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.variantPngPayload(id / 4, (id % 4).toInt, 8, 8))))
          .toDF("doc_id", "payload")
        val h = Multimodal.decodeDHashes(pay, "doc_id", "payload")
          .localCheckpoint() // one decode; splits and screens read it
        val fresh = h.where(col("id") % 19 === 7)
        val corpusAll = h.where(col("id") % 19 =!= 7)
        val hist = corpusAll.where(col("id") % 5 =!= 4)
        val delta = corpusAll.where(col("id") % 5 === 4)
        val dead = corpusAll.where(col("id") % 7 === 3)
        val stDir = ScratchDirs.fresh(dir, "q289").head
        PerceptualIndex.build(hist, "id", "dhash", stDir)
        // incremental refresh: ONLY the delta, replay-guarded
        PerceptualIndex.refresh(delta, "id", "dhash", stDir, "d1")
        PerceptualIndex.refresh(delta, "id", "dhash", stDir, "d1") // replayed: no-op
        // the erasure verdict by id alone, delivered twice under one id
        PerceptualIndex.delete(dead.select("id"), "id", stDir, "e1")
        PerceptualIndex.delete(dead.select("id"), "id", stDir, "e1") // replayed: no-op
        PerceptualIndex.compact(s, stDir) // 4 count tables fold to 1
        // post-compact re-delivery: the sidecar-carried guard holds
        PerceptualIndex.refresh(delta, "id", "dhash", stDir, "d1")
        val coll = PerceptualIndex.screen(fresh, "id", "dhash", stDir,
          maxHamming = 6, maxBucketSize = 50)
        val agg = coll.groupBy(col("id").as("doc_id"))
          .agg(min(col("matched_id")).as("dup_of"),
            count(lit(1)).as("n_matches"),
            min(col("hamming")).as("min_hamming"))
        fresh.select(col("id").as("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of").isNull.as("is_novel"),
            col("dup_of"), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            col("min_hamming"))
          .orderBy("doc_id")
      }),

    // ---- q295: AUDIO BATCH SCREENED OFF THE MAINTAINED PERCEPTUAL
    // INDEX — closing the multimodal admission story: q289 exercises
    // only the image (dHash) modality of graft.multimodal.
    // PerceptualIndex, but the family is hash-generic by design —
    // q224's 56-bit energy-sign audio fingerprint shares the 4 × 14
    // band geometry, so the SAME maintained state machine admits audio
    // clips with zero new state code. Lifecycle verbatim q289: build
    // on decoded history, refresh with ONLY the delta (delivered twice
    // under one id — replay no-op), erase by id alone (delivered twice
    // — algebra-idempotent), compact folds the count tables (the
    // replay guard rides the sidecar; post-compact re-delivery still a
    // no-op), then the fresh batch's screen reads ONLY its chunks'
    // bucket partitions, verifying candidates with the codegen'd
    // bit_count. PCM being uncompressed, the decoded-byte hash equals
    // the generator's closed form — the oracle recomputes it, then
    // unrolls the whole maintained chain in SQL (frame energies →
    // sign hash → bands → cap over fresh ∪ live → cross-side block →
    // Hamming verify → per-fresh-clip verdict), so a mismatch is state
    // drift or a RIFF-walk bug, never approximation. Scale shape: one
    // partition-wise decode per batch, map-side band explode, ≤ B
    // bucket-id collect, candidate-bounded verify; fingerprints are
    // 8 bytes/clip.
    QueryDef("q295_audio_index_maintain", Some("""
      WITH ids AS (SELECT doc_id,
                     CAST(((doc_id // 4) * 7) % 6 + 2 AS BIGINT) AS flen
                   FROM documents),
      fr AS (SELECT doc_id, flen, f.range AS f,
                    (((doc_id // 4) * 60 + f.range + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h1
             FROM ids, range(0, 60) f),
      fx AS (SELECT doc_id, flen, f, xor(h1, h1 >> 15) AS h2 FROM fr),
      fy AS (SELECT doc_id, flen, f,
                    (h2 * 1540483477 % 2147483648) AS h3 FROM fx),
      fo AS (SELECT doc_id, flen, f,
                    xor(h3, h3 >> 13) % 65536 AS off FROM fy),
      en AS (SELECT doc_id, f,
               list_sum(list_transform(
                 list_transform(range(0, flen), j ->
                   (off + j * 17
                    + CASE WHEN (f * flen + j) % 128 = doc_id % 4
                      THEN 512 ELSE 0 END) % 65536),
                 m -> abs(m - CASE WHEN m >= 32768 THEN 65536 ELSE 0 END))) AS e
             FROM fo),
      bits AS (SELECT a.doc_id, ((a.f // 15) * 14 + (a.f % 15)) AS i
               FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
               WHERE a.f % 15 < 14 AND b.e > a.e),
      hash AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS ah
               FROM ids LEFT JOIN bits ON bits.doc_id = ids.doc_id
               GROUP BY ids.doc_id),
      uni AS (SELECT doc_id, ah FROM hash
              WHERE doc_id % 19 = 7 OR doc_id % 7 <> 3),
      band AS (SELECT doc_id, ah, t.range AS b,
                      (ah >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
               FROM uni, range(0, 4) t),
      kept AS (SELECT doc_id, ah, b, chunk FROM
                 (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus,
                      f.ah AS hf, c.ah AS hc
               FROM kept f JOIN kept c
                 ON f.b = c.b AND f.chunk = c.chunk
                    AND f.doc_id % 19 = 7 AND c.doc_id % 19 <> 7),
      ver AS (SELECT id_new, id_corpus,
                     CAST(bit_count(xor(hf, hc)) AS INTEGER) AS hamming
              FROM cand WHERE bit_count(xor(hf, hc)) <= 6),
      agg AS (SELECT id_new, MIN(id_corpus) AS dup_of,
                     COUNT(*) AS n_matches, MIN(hamming) AS min_hamming
              FROM ver GROUP BY id_new)
      SELECT t.doc_id, a.dup_of IS NULL AS is_novel, a.dup_of,
             COALESCE(a.n_matches, 0) AS n_matches, a.min_hamming
      FROM (SELECT doc_id FROM documents WHERE doc_id % 19 = 7) t
      LEFT JOIN agg a ON a.id_new = t.doc_id
      ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.PerceptualIndex
        val pay = Tables.read(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val g = id / 4
            val n = (((g * 7) % 6).toInt + 2) * 60
            (id, Multimodal.variantWavBytes(g, (id % 4).toInt, n, 8000))
          })
          .toDF("doc_id", "payload")
        val h = Multimodal.decodeAudioHashes(pay, "doc_id", "payload")
          .localCheckpoint() // one decode; splits and screens read it
        val fresh = h.where(col("id") % 19 === 7)
        val corpusAll = h.where(col("id") % 19 =!= 7)
        val hist = corpusAll.where(col("id") % 5 =!= 4)
        val delta = corpusAll.where(col("id") % 5 === 4)
        val dead = corpusAll.where(col("id") % 7 === 3)
        val stDir = ScratchDirs.fresh(dir, "q295").head
        PerceptualIndex.build(hist, "id", "ahash", stDir)
        // incremental refresh: ONLY the delta, replay-guarded
        PerceptualIndex.refresh(delta, "id", "ahash", stDir, "d1")
        PerceptualIndex.refresh(delta, "id", "ahash", stDir, "d1") // replayed: no-op
        // the erasure verdict by id alone, delivered twice under one id
        PerceptualIndex.delete(dead.select("id"), "id", stDir, "e1")
        PerceptualIndex.delete(dead.select("id"), "id", stDir, "e1") // replayed: no-op
        PerceptualIndex.compact(s, stDir) // 4 count tables fold to 1
        // post-compact re-delivery: the sidecar-carried guard holds
        PerceptualIndex.refresh(delta, "id", "ahash", stDir, "d1")
        val coll = PerceptualIndex.screen(fresh, "id", "ahash", stDir,
          maxHamming = 6, maxBucketSize = 50)
        val agg = coll.groupBy(col("id").as("doc_id"))
          .agg(min(col("matched_id")).as("dup_of"),
            count(lit(1)).as("n_matches"),
            min(col("hamming")).as("min_hamming"))
        fresh.select(col("id").as("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of").isNull.as("is_novel"),
            col("dup_of"), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            col("min_hamming"))
          .orderBy("doc_id")
      }),

    // ---- q297: VIDEO BATCH SCREENED OFF THE MAINTAINED PERCEPTUAL
    // INDEX — the last modality of the quartet onto maintained state
    // (text q285, embeddings q288, image q289, audio q295): q241's
    // 56-bit temporal-luma sign hash over the decoded Y4M clip shares
    // the 4 × 14 band geometry, so the SAME hash-generic family admits
    // video with zero new state code. Lifecycle verbatim q289/q295:
    // build on decoded history, refresh with ONLY the delta (delivered
    // twice under one id — replay no-op), erase by id alone (delivered
    // twice — algebra-idempotent), compact folds the count tables (the
    // replay guard rides the sidecar; post-compact re-delivery still a
    // no-op), then the fresh batch's screen reads ONLY its chunks'
    // bucket partitions, verifying candidates with the codegen'd
    // bit_count. Y4M being uncompressed, the decoded-sum hash equals
    // the generator's closed form — the oracle recomputes it, then
    // unrolls the maintained chain in SQL, so a mismatch is state
    // drift or a header-walk bug, never approximation. Scale shape:
    // one partition-wise decode per batch (8-byte fingerprints
    // regardless of resolution), map-side band explode, ≤ B bucket-id
    // collect, candidate-bounded verify.
    QueryDef("q297_video_index_maintain", Some("""
      WITH ids AS (SELECT doc_id FROM documents),
      fr AS (SELECT doc_id, f.range AS f,
                    (((doc_id // 4) * 60 + f.range + 1) % 2147483648)
                      * 2654435761 % 2147483648 AS h1
             FROM ids, range(0, 60) f),
      fx AS (SELECT doc_id, f, xor(h1, h1 >> 15) AS h2 FROM fr),
      fy AS (SELECT doc_id, f, (h2 * 1540483477 % 2147483648) AS h3 FROM fx),
      fo AS (SELECT doc_id, f, xor(h3, h3 >> 13) % 65536 % 256 AS off FROM fy),
      en AS (SELECT doc_id, f,
               list_sum(list_transform(range(0, 16), k ->
                 (off + k * 13
                  + CASE WHEN (f * 16 + k) % 128 = doc_id % 4
                    THEN 16 ELSE 0 END) % 256)) AS e
             FROM fo),
      bits AS (SELECT a.doc_id, ((a.f // 15) * 14 + (a.f % 15)) AS i
               FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
               WHERE a.f % 15 < 14 AND b.e > a.e),
      hash AS (SELECT ids.doc_id,
                      CAST(COALESCE(SUM(1::BIGINT << i), 0) AS BIGINT) AS vh
               FROM ids LEFT JOIN bits ON bits.doc_id = ids.doc_id
               GROUP BY ids.doc_id),
      uni AS (SELECT doc_id, vh FROM hash
              WHERE doc_id % 19 = 7 OR doc_id % 7 <> 3),
      band AS (SELECT doc_id, vh, t.range AS b,
                      (vh >> CAST(t.range * 14 AS INTEGER)) & 16383 AS chunk
               FROM uni, range(0, 4) t),
      kept AS (SELECT doc_id, vh, b, chunk FROM
                 (SELECT *, COUNT(*) OVER (PARTITION BY b, chunk) AS bsz FROM band)
               WHERE bsz <= 50),
      cand AS (SELECT DISTINCT f.doc_id AS id_new, c.doc_id AS id_corpus,
                      f.vh AS hf, c.vh AS hc
               FROM kept f JOIN kept c
                 ON f.b = c.b AND f.chunk = c.chunk
                    AND f.doc_id % 19 = 7 AND c.doc_id % 19 <> 7),
      ver AS (SELECT id_new, id_corpus,
                     CAST(bit_count(xor(hf, hc)) AS INTEGER) AS hamming
              FROM cand WHERE bit_count(xor(hf, hc)) <= 6),
      agg AS (SELECT id_new, MIN(id_corpus) AS dup_of,
                     COUNT(*) AS n_matches, MIN(hamming) AS min_hamming
              FROM ver GROUP BY id_new)
      SELECT t.doc_id, a.dup_of IS NULL AS is_novel, a.dup_of,
             COALESCE(a.n_matches, 0) AS n_matches, a.min_hamming
      FROM (SELECT doc_id FROM documents WHERE doc_id % 19 = 7) t
      LEFT JOIN agg a ON a.id_new = t.doc_id
      ORDER BY doc_id"""),
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.PerceptualIndex
        val pay = Tables.read(s, dir, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.variantY4mPayload(id / 4, (id % 4).toInt, 4, 4, 60))))
          .toDF("doc_id", "payload")
        val h = Multimodal.decodeVideoHashes(pay, "doc_id", "payload")
          .localCheckpoint() // one decode; splits and screens read it
        val fresh = h.where(col("id") % 19 === 7)
        val corpusAll = h.where(col("id") % 19 =!= 7)
        val hist = corpusAll.where(col("id") % 5 =!= 4)
        val delta = corpusAll.where(col("id") % 5 === 4)
        val dead = corpusAll.where(col("id") % 7 === 3)
        val stDir = ScratchDirs.fresh(dir, "q297").head
        PerceptualIndex.build(hist, "id", "vhash", stDir)
        // incremental refresh: ONLY the delta, replay-guarded
        PerceptualIndex.refresh(delta, "id", "vhash", stDir, "d1")
        PerceptualIndex.refresh(delta, "id", "vhash", stDir, "d1") // replayed: no-op
        // the erasure verdict by id alone, delivered twice under one id
        PerceptualIndex.delete(dead.select("id"), "id", stDir, "e1")
        PerceptualIndex.delete(dead.select("id"), "id", stDir, "e1") // replayed: no-op
        PerceptualIndex.compact(s, stDir) // 4 count tables fold to 1
        // post-compact re-delivery: the sidecar-carried guard holds
        PerceptualIndex.refresh(delta, "id", "vhash", stDir, "d1")
        val coll = PerceptualIndex.screen(fresh, "id", "vhash", stDir,
          maxHamming = 6, maxBucketSize = 50)
        val agg = coll.groupBy(col("id").as("doc_id"))
          .agg(min(col("matched_id")).as("dup_of"),
            count(lit(1)).as("n_matches"),
            min(col("hamming")).as("min_hamming"))
        fresh.select(col("id").as("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of").isNull.as("is_novel"),
            col("dup_of"), coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            col("min_hamming"))
          .orderBy("doc_id")
      })
  )
}
