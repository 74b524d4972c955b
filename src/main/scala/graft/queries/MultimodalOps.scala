package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column battery: binary payload + typed metadata plumbing.
  * Both the SQL-visible surface (byte length, digest, head slice) and the
  * batch decode path (mapPartitions stub decoder) oracle against DuckDB —
  * the stub's md5-derived features are reconstructible in pure SQL.
  */
object MultimodalOps {

  val defs: Seq[QueryDef] = Seq(

    // ---- binary column + metadata projection ----------------------------
    QueryDef("q50_multimodal_meta",
      (s, dir) => {
        val media = Multimodal.asMediaTable(
          Tables.table(s, dir, "documents"), "doc_id", "text", "image")
        media.select(
            col("media_id"),
            col("meta.n_bytes").as("n_bytes"),
            col("meta.width").as("width"),
            md5(col("payload")).as("digest"),
            base64(col("payload").substr(1, 12)).as("head_b64"))
          .orderBy("media_id")
      },
      Some("""
        SELECT doc_id AS media_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
               CAST(octet_length(CAST(text AS BLOB)) % 1024 + 32 AS INT) AS width,
               md5(text) AS digest,
               to_base64(CAST(substr(text, 1, 12) AS BLOB)) AS head_b64
        FROM documents ORDER BY media_id""")),

    // ---- batch decode (real decoder, stub fallback) -----------------------
    // The gate runs the PRODUCTION decoder: ImageHistogramDecoder
    // attempts a real javax.imageio pixel decode per payload and
    // extracts a grayscale histogram (spec-gated on generated PNGs in
    // MultimodalSpec). The synthetic corpus's payloads are text bytes —
    // not decodable images — so every row routes to the md5
    // StubDecoder fallback, whose feature[i] = digest byte i IS
    // SQL-expressible: the oracle reconstructs each byte from the md5
    // hex string (strpos-based hex-digit arithmetic). The vector is
    // exploded to (media_id, i, v) rows because the gate comparator
    // cannot sort array cells; values rounded to 4 decimals (float32
    // representation error ~6e-8 is far below the min distance of
    // k/255 from any 4-decimal half-boundary, ~2e-7, so both engines
    // round identically).
    QueryDef("q51_multimodal_decode",
      (s, dir) => {
        val media = Multimodal.asMediaTable(
          Tables.table(s, dir, "documents"), "doc_id", "text", "image")
        Multimodal.decodeFeatures(media,
          new Multimodal.ImageHistogramDecoder(8, new Multimodal.StubDecoder(8)))
          .select(col("media_id"), posexplode(col("feature")).as(Seq("i", "v")))
          .select(col("media_id"), col("i"),
            round(col("v").cast("double"), 4).as("v"))
          .orderBy("media_id", "i")
      },
      Some("""
        WITH h AS (SELECT doc_id AS media_id, md5(text) AS hx FROM documents),
             idx AS (SELECT CAST(unnest(range(8)) AS INT) AS i)
        SELECT h.media_id, idx.i,
               round((16.0 * (strpos('0123456789abcdef', substr(h.hx, idx.i*2+1, 1)) - 1)
                      + (strpos('0123456789abcdef', substr(h.hx, idx.i*2+2, 1)) - 1))
                     / 255.0, 4) AS v
        FROM h CROSS JOIN idx
        ORDER BY 1, 2""")),

    // ---- PNG metadata scrub (q195) --------------------------------------
    // The multimodal privacy screen, exercised on REAL containers:
    // each doc becomes a genuine javax.imageio PNG with two planted
    // tEXt chunks (a per-doc comment + an author tag — the camera-
    // serial/GPS shape), and Multimodal.stripPngMeta must walk the
    // actual chunk structure and remove exactly those, leaving bytes
    // IDENTICAL to the never-tagged original (`restored` = md5
    // equality, computed in-engine) and the image still decodable
    // (dims re-read through imageio after the scrub). DuckDB predicts
    // every column from chunk-layout arithmetic — 12 bytes of framing
    // per chunk plus keyword\0text — and never sees a PNG byte.
    QueryDef("q195_png_scrub",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val outSchema = StructType(Seq(
          StructField("media_id", LongType),
          StructField("n_removed", IntegerType),
          StructField("removed_bytes", IntegerType),
          StructField("restored", IntegerType),
          StructField("width", IntegerType),
          StructField("height", IntegerType)))
        val enc = org.apache.spark.sql.Encoders.row(outSchema)
        Tables.table(s, dir, "documents").select(col("doc_id"), col("lang"))
          // One parquet row group = one task; the per-row ImageIO
          // encode/parse chain would otherwise run serially (the
          // fixture-widening rule — at production scale file splits
          // provide this parallelism natively).
          .repartition(s.sessionState.conf.numShufflePartitions)
          .mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0); val lang = r.getString(1)
              val img = new java.awt.image.BufferedImage(8, 8,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              var x = 0
              while (x < 8) {
                var y = 0
                while (y < 8) {
                  img.setRGB(x, y,
                    (((id + x * 8 + y) * 2654435761L) & 0xFFFFFFL).toInt)
                  y += 1
                }
                x += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              val base = bos.toByteArray
              val planted = Multimodal.withPngChunks(base, Seq(
                Multimodal.pngTextChunk("comment", s"src=$lang;id=$id"),
                Multimodal.pngTextChunk("author", "graft")))
              val (scrubbed, n, nb) = Multimodal.stripPngMeta(planted)
              val dims = Multimodal.decodeDims(scrubbed)
              org.apache.spark.sql.Row(id, n, nb,
                if (java.util.Arrays.equals(scrubbed, base)) 1 else 0,
                dims.map(d => Int.box(d._1)).orNull,
                dims.map(d => Int.box(d._2)).orNull)
            }
          }(enc)
          .orderBy("media_id")
      },
      Some("""
        SELECT doc_id AS media_id,
               2 AS n_removed,
               CAST(12 + 7 + 1 + 4 + length(lang) + 4 +
                    length(CAST(doc_id AS VARCHAR)) +
                    12 + 6 + 1 + 5 AS INT) AS removed_bytes,
               1 AS restored, 8 AS width, 8 AS height
        FROM documents ORDER BY media_id""")),

    // ---- REAL audio decode (q133) ---------------------------------------
    // Unlike q51 (whose corpus payloads fall back to the md5 stub),
    // this gate exercises the real javax.sound.sampled decode path
    // end to end against an INDEPENDENT recomputation: each doc_id
    // deterministically defines a square wave (1024 samples,
    // half-period 4 + id%7·2, amplitude 1000 + id%13·100, 16 kHz);
    // Spark writes genuine RIFF/WAVE bytes and must parse them back
    // through AudioSystem to produce the 8 PCM statistics, while
    // DuckDB regenerates the waveform from first principles and
    // aggregates — it never sees a byte of WAV. Parameters keep every
    // feature float-exact (n = 2¹⁰ so means are binary shifts;
    // A² < 2²⁴), so round(·, 6) is bit-identical across engines.
    QueryDef("q133_audio_decode",
      (s, dir) => {
        val ids = Tables.table(s, dir, "documents").select("doc_id")
        val wav = Multimodal.syntheticWavTable(ids, "doc_id")
        Multimodal.decodeFeatures(wav, new Multimodal.WavFeatureDecoder())
          .select(col("media_id"), posexplode(col("feature")).as(Seq("i", "v")))
          .select(col("media_id"), col("i"),
            round(col("v").cast("double"), 6).as("v"))
          .orderBy("media_id", "i")
      },
      Some("""
        WITH p AS (SELECT doc_id,
                          CAST(4 + (doc_id % 7) * 2 AS INTEGER) AS h,
                          CAST(1000 + (doc_id % 13) * 100 AS INTEGER) AS a
                   FROM documents),
        idx AS (SELECT CAST(unnest(range(1024)) AS INTEGER) AS i),
        s AS (SELECT p.doc_id, idx.i,
                     CASE WHEN ((idx.i // p.h) % 2) = 0 THEN p.a ELSE -p.a END AS v
              FROM p CROSS JOIN idx),
        sl AS (SELECT doc_id, i, v,
                      lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
               FROM s),
        f AS (SELECT doc_id,
                     CAST(count(*) AS DOUBLE) AS n,
                     CAST(SUM(CAST(v AS BIGINT)) AS DOUBLE) / count(*) AS mean,
                     CAST(SUM(CAST(abs(v) AS BIGINT)) AS DOUBLE) / count(*) AS mean_abs,
                     CAST(SUM(CASE WHEN pv IS NOT NULL AND sign(v) <> sign(pv)
                                   THEN 1 ELSE 0 END) AS DOUBLE) AS zc,
                     CAST(min(v) AS DOUBLE) AS mn,
                     CAST(max(v) AS DOUBLE) AS mx,
                     CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE) / count(*) AS mean_sq
              FROM sl GROUP BY 1)
        SELECT doc_id AS media_id, fi.i, round(fi.v, 6) AS v FROM f,
          LATERAL (VALUES (0, f.n), (1, f.mean), (2, f.mean_abs), (3, f.zc),
                          (4, f.mn), (5, f.mx), (6, f.mean_sq),
                          (7, CAST(16000 AS DOUBLE))) AS fi(i, v)
        ORDER BY 1, 2""")),

    // ---- REAL video container metadata (q177) ---------------------------
    // The q133 pattern applied to video: Spark writes GENUINE container
    // bytes per doc_id — ISO-BMFF (ftyp/moov/mvhd/trak/tkhd/hdlr/stsd
    // boxes) for 4 of 5 ids, EBML/WebM (Segment/Info/Tracks elements)
    // for the rest — and must structurally parse them back header-only
    // (Multimodal.mp4Meta/webmMeta: box walk + EBML vint walk, no
    // codec, no dependency). DuckDB regenerates every field from the
    // id arithmetic and never sees a container byte. Frame DECODE
    // remains stubbed (no JDK video codec); dims/duration/codec are
    // now measured, not declared — the decodeDims posture.
    QueryDef("q177_video_meta",
      (s, dir) => {
        val ids = Tables.table(s, dir, "documents").select("doc_id")
        Multimodal.videoMeta(Multimodal.syntheticVideoTable(ids, "doc_id"))
          .orderBy("media_id")
      },
      Some("""
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 5 = 0 THEN 'webm' ELSE 'mp4' END AS container,
               CASE WHEN doc_id % 5 = 0 THEN 'V_VP9'
                    WHEN doc_id % 4 = 0 THEN 'avc1'
                    WHEN doc_id % 4 = 1 THEN 'hev1'
                    WHEN doc_id % 4 = 2 THEN 'vp09'
                    ELSE 'av01' END AS codec,
               CAST(320 + (doc_id % 16) * 8 AS INT) AS width,
               CAST(240 + (doc_id % 9) * 8 AS INT) AS height,
               CAST(1000 + (doc_id % 977) * 37 AS BIGINT) AS duration_ms
        FROM documents ORDER BY media_id""")))
}
