package graft.queries

import graft.{ScratchDirs, Tables}
import graft.multimodal.{Jpeg, Media}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column coverage over SYNTHETIC REAL media: every third
  * document becomes a spec-valid PNG (even doc_id) or 16-bit PCM WAV (odd
  * doc_id) whose header fields derive from table columns, so the DuckDB
  * oracle predicts the TRUE decoded values — the byte build → header parse
  * round-trip must reproduce them exactly for the hash to match. The
  * pipeline exercised is the real one: binary column → batched
  * mapPartitions decode ([[Media.HeaderDecoder]], pure-JVM PNG IHDR / WAV
  * fmt+data parsing) → features → frame-sample explode.
  */
object MultimodalQueries {

  import Media.MediaRecord

  /** PNG dims / WAV params as pure functions of (doc_id, n_chars) — the
    * oracle computes these same formulas directly. */

  /** The documents slice doc_id % 3 == m behind every fixture fabrication,
    * hash-spread to session parallelism: the sf fixtures are
    * single-row-group parquet, so without the repartition every
    * fabricate+decode pipeline below runs as ONE scan task regardless of
    * core count (guide §2.5 — the one-unsplittable-file input-skew case;
    * none of these queries has any other exchange, so the whole query was
    * serial). Hash-partitioning on the unique doc_id is a pure function
    * of the data (layout-invariant, unlike round-robin) and spreads
    * evenly; the exchanged rows are the narrow pre-fabrication columns.
    * Parallelism is session-derived, never a constant. */
  private def docs3(s: SparkSession, dir: String, m: Int) =
    Tables.load(s, dir, "documents").where(col("doc_id") % 3 === m)
      .repartition(
        s.conf.get("spark.sql.shuffle.partitions", "200").toInt,
        col("doc_id"))

  private def media(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 0)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        if (id % 2 == 0)
          MediaRecord(id, "image/png",
            Media.pngBytes((16 + n % 496).toInt, (1 + id % 256).toInt))
        else
          MediaRecord(id, "audio/wav",
            Media.wavBytes((8000 * (1 + id % 3)).toInt, (1 + id % 2).toInt,
              (10 + id % 90).toInt))
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M1: batched header decode → typed feature frame with TRUE dims.
    "m1_media_features" -> ((s, dir) =>
      Media.extractFeatures(media(s, dir)).toDF()
        .select(col("id"), col("mime"), col("byte_len"),
          col("width"), col("height"), col("frames"))),

    // M2: frame-sampling row multiplication (every 4th sample frame; PNGs
    // contribute their single frame).
    "m2_frame_sample" -> ((s, dir) =>
      Media.sampleFrames(Media.extractFeatures(media(s, dir)), every = 4)),

    // M3: REAL sample statistics from true pixel/PCM decode — 24-bit BMP
    // channel bytes (row padding excluded: width 3+n%13 makes most rows
    // carry 1-3 pad bytes the decoder must skip) and signed 16-bit PCM WAV
    // samples. Values are pure functions of (doc_id, n_chars), so the
    // oracle recomputes the exact count/mean/min/max the decode must
    // reproduce from the bytes alone.
    "m3_media_stats" -> ((s, dir) =>
      Media.extractStats(mediaPcm(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M4: REAL PNG pixel statistics — the fixture DEFLATE-compresses
    // known pixel values behind per-row filters 0..4 (heights up to 10,
    // so every filter type occurs), and the decoder must inflate + undo
    // the filters to recover them; the oracle recomputes the exact
    // aggregates from the closed form. This is the full PNG codec path
    // minus nothing: IDAT is just zlib + the 5 filters.
    "m4_png_stats" -> ((s, dir) =>
      Media.extractStats(mediaPng(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M12: PALETTE PNG decode (color type 3) — index scanlines through
    // the same 5-filter reconstruction, then PLTE expansion to RGB; the
    // fixture's palette AND index map are closed forms the oracle
    // recomputes without materializing either.
    "m12_png_palette" -> ((s, dir) =>
      Media.extractStats(mediaPngPalette(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M13: Adam7-INTERLACED PNG decode, gated POSITION-SENSITIVELY —
    // sum/min/max stats cannot catch a pass-reassembly bug that permutes
    // pixels (the value multiset survives), so this gate hashes the
    // decoded raster through dHash (m9's gradient fingerprint): any
    // misplaced pixel on the 9×8 sample grid flips gradient bits. The
    // twin replays the hash from the raster closed form, which interlace
    // must not disturb.
    "m13_png_interlaced" -> ((s, dir) =>
      Media.imageDHash(mediaPngInterlaced(s, dir))),

    // M14: deep/narrow PNG sample reductions — interlaced 16-bit RGB
    // (strip to the most-significant byte, libpng convention) and
    // depth-4 gray (exact ×17 bit replication); the oracle recomputes
    // both reductions in closed form.
    "m14_png_deep" -> ((s, dir) =>
      Media.extractStats(mediaPngDeep(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M6: REAL baseline JPEG decode — the fixture encodes block-constant
    // images (gray, and gray-valued RGB at 4:2:0 with restart markers)
    // with unit quantization tables, the one JPEG family that round-trips
    // BIT-EXACTLY (DC = 8·(v−128) is an exact integer, every AC quantizes
    // to zero, Y = v and Cb = Cr = 128 exactly for gray-valued RGB), so
    // the oracle predicts the decoded samples in closed form even though
    // JPEG is lossy in general. The decode is the full baseline path:
    // marker parse, Huffman, dequant, IDCT, 4:2:0 upsample, YCbCr→RGB.
    "m6_jpeg_stats" -> ((s, dir) =>
      Media.extractStats(mediaJpeg(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M18: lossless audio transcode chain — WAV → FLAC (compress) →
    // WAV (expand) → stats. Both codec directions run at gate scale and
    // the closed form must survive the double crossing bit-for-bit;
    // any loss anywhere in either codec breaks the hash.
    "m18_audio_transcode" -> ((s, dir) =>
      Media.extractStats(
        Media.transcodeAudio(
          Media.transcodeAudio(mediaWav(s, dir), toFlac = true),
          toFlac = false)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // X39: IMAGE-TEXT WebDataset shards, the composed multimodal path:
    // tar shard → selective .png entry extraction → binary column →
    // full PNG decode → stats. Captions ride the same shards and are
    // deliberately skipped (selective extraction is part of the
    // semantics); the oracle recomputes every decoded pixel of every
    // shard image from the closed form.
    "x39_webdataset_images" -> ((s, dir) => {
      import s.implicits._
      val imgs = mediaTarImages(s, dir).flatMap { rec =>
        graft.sources.Tar.parse(rec.bytes).toSeq.flatten.collect {
          case e if e.name.endsWith(".png") =>
            val stem = e.name.stripSuffix(".png")
            val k = stem.substring(stem.indexOf('-') + 1).toInt
            MediaRecord(rec.id * 1000 + k, "image/png", e.bytes)
        }
      }
      Media.extractStats(imgs).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))
    }),

    // X38: WebDataset shard source — the tar layout multimodal training
    // corpora ship (sample = files sharing a basename stem). Gzip'd
    // ustar shards with VERIFIED header checksums parse into per-file
    // rows; the oracle regenerates every (sample, extension, content)
    // row and its byte length from the doc columns.
    "x38_webdataset" -> ((s, dir) =>
      graft.sources.Tar.webdatasetEntries(mediaTar(s, dir))),

    // M17: FLAC audio decode — the lossless speech-corpus format (rice
    // residual partitions, fixed predictors, stereo decorrelation in
    // all three encoder modes, multi-frame streams, both CRCs). Unlike
    // the lossy JPEG gates no fixture construction is needed: FLAC's
    // own guarantee is that decode reproduces the closed-form PCM
    // bit-for-bit.
    "m17_flac_stats" -> ((s, dir) =>
      Media.extractStats(mediaFlac(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // X36: WARC web-archive source (Common Crawl shape: per-record gzip
    // members) — record walk, WARC header parse, HTTP response split,
    // UTF-8 body text. The fixture builds each doc's archive from pure
    // functions of its columns (a warcinfo record the extractor must
    // skip + 1..3 responses), so the oracle regenerates every output row
    // verbatim.
    "x36_warc_extract" -> ((s, dir) =>
      graft.sources.Warc.extractResponses(mediaWarc(s, dir))),

    // X37: WARC through the DataSource V2 connector — the x36 fixture
    // materialized as one archive FILE per doc, then read back with
    // spark.read.format("warc") (partition-per-file planning, pruned
    // columns, warc_type filter pushed into the record walk). Same twin
    // row shape as x36 minus the id column (the connector surfaces the
    // archive's own fields; target_uri is the key).
    "x37_warc_datasource" -> ((s, dir) => {
      import s.implicits._
      val tmp = ScratchDirs.create("x37").toString
      mediaWarc(s, dir).foreachPartition {
        (it: Iterator[MediaRecord]) => it.foreach { rec =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(tmp, s"${rec.id}.warc.gz"), rec.bytes)
        }
      }
      s.read.format("warc").load(tmp)
        .where(col("warc_type") === "response")
        .select(col("rec_idx"), col("target_uri"), col("http_status"),
          col("content_type"), col("body_text"))
    }),

    // M15: PROGRESSIVE JPEG decode (SOF2) — m6's bit-exact block-constant
    // family shipped through the multi-scan wire format: interleaved DC
    // first + refinement, per-component AC spectral bands at two
    // successive-approximation precisions, EOBn runs, per-scan optimal
    // Huffman tables. The oracle predicts the decoded samples in the
    // same closed form as m6; equality proves the whole progressive
    // coefficient-accumulation path.
    "m15_jpeg_progressive" -> ((s, dir) =>
      Media.extractStats(mediaJpegProgressive(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M7: REAL AVI video decode + frame sampling — each fixture doc
    // becomes an uncompressed-DIB AVI clip whose every frame byte is a
    // closed-form function of (doc_id, frame, offset); the container
    // walk, bottom-up stride-padded frame decode, and every-2nd-frame
    // sampling must reproduce the oracle's recomputed per-frame stats
    // exactly. Widths 3..7 force 0-3 pad bytes per row the decoder must
    // strip.
    "m7_avi_frames" -> ((s, dir) =>
      graft.multimodal.Avi.frameStats(mediaAvi(s, dir), every = 2)),

    // M16: MOTION-JPEG video decode — every sampled '00dc' chunk is a
    // complete JPEG the pure-JVM codec decodes (container walk → per-
    // frame JPEG → stats); the gray-valued block-constant fixture makes
    // the lossy codec bit-exact, so the oracle recomputes the sampled
    // per-frame aggregates in closed form.
    "m16_avi_mjpg" -> ((s, dir) =>
      graft.multimodal.Avi.frameStats(mediaAviMjpg(s, dir), every = 2)),

    // M8: REAL audio resample — 1-2 channel PCM WAVs decoded, decimated
    // 4× and mixed down to mono (floor-div channel mean), re-encoded,
    // and the RESAMPLED bytes re-decoded for their stats. The oracle
    // replays frame selection and the floor-div mix against the fixture
    // closed form, proving decode → decimate/mixdown → encode → decode
    // end to end (the WAV twin of m5's image resize).
    "m8_wav_resample" -> ((s, dir) =>
      Media.extractStats(Media.resampleAudio(mediaWav(s, dir),
          decimate = 4, mixdown = true)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M5: REAL nearest-neighbor resize — the m4 PNGs decoded, halved
    // ((x,y) ← (x·w/w2, y·h/h2) integer-exact), re-encoded as PNG, and
    // the RESIZED bytes re-decoded for their stats. The oracle replays
    // the index mapping against the fixture closed form, so equality
    // proves decode → resize → encode → decode end to end.
    "m5_resize_stats" -> ((s, dir) =>
      Media.extractStats(Media.resizeImages(mediaPng(s, dir), factor = 2))
        .toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M9: perceptual difference-hash — the near-duplicate image
    // fingerprint (decode → integer grayscale → 9×8 nearest-neighbor
    // grid → 64 horizontal-gradient bits). Every step is integer-exact,
    // so the oracle recomputes the hash bit-for-bit from the m4 fixture
    // closed form; equality proves the full decode + downsample +
    // gradient chain, not just a checksum.
    "m9_image_dhash" -> ((s, dir) =>
      Media.imageDHash(mediaPng(s, dir))),

    // M10: REAL GIF decode — the fixture LZW-compresses known palette
    // indices (run lengths 1-3, so dictionary matches and the KwKwK case
    // occur) behind a 256-entry color table, and the decoder must walk
    // the container, rebuild the LZW dictionary code-for-code, and map
    // indices through the palette; the oracle recomputes the exact RGB
    // channel aggregates from the closed form. This is the full GIF
    // codec path: sub-blocks, variable-width codes, palette mapping.
    "m10_gif_stats" -> ((s, dir) =>
      Media.extractStats(mediaGif(s, dir)).toDF()
        .select(col("id"), col("mime"), col("n_samples"),
          col("mean_val"), col("min_val"), col("max_val"))),

    // M11: ANIMATED GIF decode + frame sampling — each fixture doc is a
    // multi-frame GIF whose every frame re-enters the LZW decoder with a
    // fresh dictionary; the container walk must chain image blocks
    // through each stream's terminator, and every-2nd-frame sampling
    // must reproduce the oracle's per-frame channel stats exactly (the
    // AVI gate's shape for the GIF container).
    "m11_gif_frames" -> ((s, dir) =>
      graft.multimodal.Gif.frameStats(mediaGifAnim(s, dir), every = 2))
  )

  /** The m11 fixture: doc_id % 3 == 1 → animated 256-color GIF, width
    * 3 + n%14, height 1 + id%7, 2 + id%5 frames; frame f's pixel j has
    * palette index (id·47 + f·23 + j·17) % 256, same palette as m10. */
  private def mediaGifAnim(s: SparkSession, dir: String) = {
    import s.implicits._
    val palette = Array.tabulate(256)(i =>
      (((i * 3 + 1) % 256) << 16) | (((i * 5 + 2) % 256) << 8) |
        ((i * 7 + 3) % 256))
    docs3(s, dir, 1)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        val w = (3 + n % 14).toInt; val h = (1 + id % 7).toInt
        val nf = (2 + id % 5).toInt
        val frames = (0 until nf).map(f => Array.tabulate[Byte](w * h)(j =>
          ((id * 47 + f.toLong * 23 + j.toLong * 17) % 256).toByte))
        MediaRecord(id, "image/gif",
          // even ids store frames INTERLACED (4-pass row schedule) — the
          // deinterlace remap must reproduce the same raster values
          graft.multimodal.Gif.encodeFrames(w, h, palette, frames,
            interlaced = id % 2 == 0))
      }
  }

  /** The m10 fixture: doc_id % 3 == 0 → 256-color GIF, width 3 + n%14,
    * height 1 + id%9, run length 1 + id%3; pixel j's palette index is
    * (id·43 + (j/run)·17) % 256 and palette entry i is
    * ((i·3+1)%256, (i·5+2)%256, (i·7+3)%256). */
  private def mediaGif(s: SparkSession, dir: String) = {
    import s.implicits._
    val palette = Array.tabulate(256)(i =>
      (((i * 3 + 1) % 256) << 16) | (((i * 5 + 2) % 256) << 8) |
        ((i * 7 + 3) % 256))
    docs3(s, dir, 0)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        val w = (3 + n % 14).toInt; val h = (1 + id % 9).toInt
        val run = (1 + id % 3).toInt
        val idx = Array.tabulate[Byte](w * h)(j =>
          ((id * 43 + (j / run).toLong * 17) % 256).toByte)
        MediaRecord(id, "image/gif",
          graft.multimodal.Gif.encode(w, h, palette, idx))
      }
  }

  /** The m4 fixture: doc_id % 3 == 1 → 8-bit RGB PNG, width 3 + n%13,
    * height 2 + id%9, channel byte j = (id·29 + j·11) % 256. */
  private def mediaPng(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 1)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        MediaRecord(id, "image/png",
          Media.pngBytesPixels((3 + n % 13).toInt, (2 + id % 9).toInt,
            j => ((id * 29 + j.toLong * 11) % 256).toInt))
      }
  }

  /** The m12 fixture: doc_id % 3 == 0 → palette PNG with
    * p = 2 + id % 7 entries; pixel j indexes (id·7 + j·5) % p, palette
    * entry k channel c is (id·13 + k·17 + c·29) % 256. */
  private def mediaPngPalette(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 0)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        val p = (2 + id % 7).toInt
        val palette = Array.tabulate[Byte](p * 3) { i =>
          val k = i / 3; val c = i % 3
          ((id * 13 + k * 17 + c * 29) % 256).toByte
        }
        MediaRecord(id, "image/png",
          Media.pngBytesPixels((3 + n % 13).toInt, (2 + id % 9).toInt,
            j => ((id * 7 + j.toLong * 5) % p).toInt,
            colorType = 3, palette = palette))
      }
  }

  /** The m17 fixture: doc_id % 3 == 1 → FLAC clip, 1 + id%2 channels,
    * 100 + id%200 frames, channel c sample i =
    * (id·17 + c·31 + i·13) % 4001 − 2000; blockSize 128 forces multiple
    * FLAC frames; stereo clips rotate through the three decorrelation
    * modes by (id/3)%3. FLAC is lossless, so the oracle predicts every
    * decoded sample exactly. */
  private def mediaFlac(s: SparkSession, dir: String) = {
    import s.implicits._
    import graft.multimodal.Flac
    docs3(s, dir, 1)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val ch = (1 + id % 2).toInt
        val nf = (100 + id % 200).toInt
        val pcm = Array.tabulate(ch, nf)((c, i) =>
          ((id * 17 + c * 31 + i.toLong * 13) % 4001).toInt - 2000)
        val mode =
          if (ch == 1) Flac.Mode.Independent
          else ((id / 3) % 3) match {
            case 0 => Flac.Mode.Independent
            case 1 => Flac.Mode.MidSide
            case _ => Flac.Mode.LeftSide
          }
        MediaRecord(id, "audio/flac",
          Flac.encode(16000, pcm, blockSize = 128, mode = mode))
      }
  }

  /** The m13 fixture: doc_id % 3 == 2 → Adam7-INTERLACED 8-bit RGB PNG
    * with the same sample closed form as m4 — interlace changes only the
    * wire layout, never the raster values, so the oracle predicts decoded
    * sample j without modeling the passes. */
  private def mediaPngInterlaced(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 2)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        MediaRecord(id, "image/png",
          Media.pngBytesPixels((3 + n % 13).toInt, (2 + id % 9).toInt,
            j => ((id * 29 + j.toLong * 11) % 256).toInt, interlaced = true))
      }
  }

  /** The m14 fixture: doc_id % 3 == 2 → even ids are INTERLACED 16-BIT
    * RGB (decoded sample = 16-bit value >> 8, libpng strip-16), odd ids
    * are depth-4 GRAY (decoded sample = 4-bit value × 17, exact bit
    * replication) — both reductions as pure closed forms of (id, j). */
  private def mediaPngDeep(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 2)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        val w = (3 + n % 13).toInt; val h = (2 + id % 9).toInt
        if (id % 2 == 0)
          MediaRecord(id, "image/png",
            Media.pngBytesPixels(w, h,
              j => ((id * 97 + j.toLong * 4099) % 65536).toInt,
              bitDepth = 16, interlaced = true))
        else
          MediaRecord(id, "image/png",
            Media.pngBytesPixels(w, h,
              j => ((id * 29 + j.toLong * 11) % 16).toInt,
              colorType = 0, bitDepth = 4))
      }
  }

  /** The m6 fixture: doc_id % 3 == 2 → baseline JPEG with constant 8×8
    * blocks, block b valued (id·37 + b·23) % 256. Odd ids → grayscale
    * (w = 8·(1+n%3), h = 8·(1+id%4), restart interval id%5); even ids →
    * gray-valued RGB at 4:2:0 (w = 16·(1+n%2), h = 16·(1+id%3), restart
    * interval id%4). Unit quant tables make both bit-exact. */
  /** The x36 fixture: doc_id % 3 == 0 → per-record-gzipped WARC with a
    * warcinfo record plus 1 + (id/3)%3 HTTP responses; response r's URI is
    * http://ex.test/id/r, status 200 + 100·(r%2), body
    * "doc <id> rec <r> :: <text>". */
  /** The x36/x37/st14 fixture, shared with the streaming gate. */
  private[queries] def warcFixture(s: SparkSession, dir: String) =
    mediaWarc(s, dir)

  private def mediaWarc(s: SparkSession, dir: String) = {
    import s.implicits._
    import graft.sources.Warc
    docs3(s, dir, 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val nr = (1 + (id / 3) % 3).toInt
        val recs = Warc.record("warcinfo", "",
          "software: graft-fixture\r\n".getBytes("US-ASCII")) +:
          (0 until nr).map { r =>
            Warc.record("response", s"http://ex.test/$id/$r",
              Warc.httpResponse(200 + 100 * (r % 2), "text/plain",
                s"doc $id rec $r :: $text".getBytes("UTF-8")))
          }
        MediaRecord(id, "application/warc", Warc.encodeGz(recs))
      }
  }

  /** The x38 fixture: doc_id % 3 == 2 → gzip'd ustar WebDataset shard
    * with 1 + (id/3)%3 samples; sample k carries `<id>-<k>.txt`
    * ("text <id> <k> :: <doc text>") and `<id>-<k>.cls`
    * ((id + k) % 10). */
  private def mediaTar(s: SparkSession, dir: String) = {
    import s.implicits._
    import graft.sources.Tar
    docs3(s, dir, 2)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val nr = (1 + (id / 3) % 3).toInt
        val entries = (0 until nr).flatMap { k =>
          Seq(
            s"$id-$k.txt" -> s"text $id $k :: $text".getBytes("UTF-8"),
            s"$id-$k.cls" -> s"${(id + k) % 10}".getBytes("UTF-8"))
        }
        MediaRecord(id, "application/tar", Tar.encodeGz(entries))
      }
  }

  /** The x39 fixture: doc_id % 3 == 0 → gzip'd WebDataset shard of
    * image-text pairs; sample k of shard id carries `<id>-<k>.png`
    * (w = 4 + k, h = 3 + id%4, sample j = (id·29 + k·7 + j·11) % 256)
    * and a caption `<id>-<k>.txt` the image gate must skip. */
  private def mediaTarImages(s: SparkSession, dir: String) = {
    import s.implicits._
    import graft.sources.Tar
    docs3(s, dir, 0)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val nr = (1 + (id / 3) % 3).toInt
        val entries = (0 until nr).flatMap { k =>
          val w = 4 + k; val h = (3 + id % 4).toInt
          Seq(
            s"$id-$k.png" -> Media.pngBytesPixels(w, h,
              j => ((id * 29 + k * 7 + j.toLong * 11) % 256).toInt),
            s"$id-$k.txt" -> s"caption $id $k".getBytes("UTF-8"))
        }
        MediaRecord(id, "application/tar", Tar.encodeGz(entries))
      }
  }

  /** The m15 fixture: m6's block-constant family (block b of image id
    * valued (id·53 + b·19) % 256, unit quant — the bit-exact JPEG
    * subset) encoded PROGRESSIVELY: SOF2, spectral-selection bands,
    * successive-approximation DC/AC refinement scans, per-scan optimal
    * Huffman tables. Odd ids gray, even ids gray-valued RGB at 4:2:0. */
  private def mediaJpegProgressive(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 2)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        def v(b: Int): Int = ((id * 53 + b.toLong * 19) % 256).toInt
        if (id % 2 == 1) {
          val w = 8 * (1 + n % 3).toInt; val h = 8 * (1 + id % 4).toInt
          val bw = w / 8
          val pix = Array.tabulate[Byte](w * h) { i =>
            val x = i % w; val y = i / w
            v((y / 8) * bw + x / 8).toByte
          }
          MediaRecord(id, "image/jpeg", Jpeg.encodeProgressiveGray(w, h, pix))
        } else {
          val w = 16 * (1 + n % 2).toInt; val h = 16 * (1 + id % 3).toInt
          val bw = w / 8
          val rgb = Array.tabulate[Byte](w * h * 3) { i =>
            val p = i / 3; val x = p % w; val y = p / w
            v((y / 8) * bw + x / 8).toByte
          }
          MediaRecord(id, "image/jpeg",
            Jpeg.encodeProgressiveRgb(w, h, rgb, subsample420 = true))
        }
      }
  }

  private def mediaJpeg(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 2)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        def v(b: Int): Int = ((id * 37 + b.toLong * 23) % 256).toInt
        if (id % 2 == 1) {
          val w = 8 * (1 + n % 3).toInt; val h = 8 * (1 + id % 4).toInt
          val bw = w / 8
          val pix = Array.tabulate[Byte](w * h) { i =>
            val x = i % w; val y = i / w
            v((y / 8) * bw + x / 8).toByte
          }
          MediaRecord(id, "image/jpeg",
            Jpeg.encodeGray(w, h, pix, restartInterval = (id % 5).toInt))
        } else {
          val w = 16 * (1 + n % 2).toInt; val h = 16 * (1 + id % 3).toInt
          val bw = w / 8
          val rgb = Array.tabulate[Byte](w * h * 3) { i =>
            val p = i / 3; val x = p % w; val y = p / w
            v((y / 8) * bw + x / 8).toByte
          }
          MediaRecord(id, "image/jpeg",
            Jpeg.encodeRgb(w, h, rgb, subsample420 = true,
              restartInterval = (id % 4).toInt))
        }
      }
  }

  /** The m7 fixture: doc_id % 3 == 2 → uncompressed-DIB AVI, width
    * 3 + n%5, height 1 + id%4, 2 + id%7 frames; frame f's raster byte j
    * = (id·41 + f·19 + j·7) % 256. */
  /** The m16 fixture: doc_id % 3 == 2 → MOTION-JPEG AVI, w = 8·(1+n%2),
    * h = 8·(1+id%2), 2 + id%5 frames; frame f's 8×8 block b holds
    * (id·59 + f·29 + b·13) % 256 in all three channels — gray-valued
    * block-constant at unit quant, the bit-exact JPEG family, so the
    * oracle predicts the decoded MJPG samples exactly. */
  private def mediaAviMjpg(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 2)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        val w = 8 * (1 + n % 2).toInt; val h = 8 * (1 + id % 2).toInt
        val nf = (2 + id % 5).toInt
        val bw = w / 8
        val frames = (0 until nf).map(f => Array.tabulate[Byte](w * h * 3) { i =>
          val p = i / 3; val x = p % w; val y = p / w
          val b = (y / 8) * bw + x / 8
          ((id * 59 + f.toLong * 29 + b.toLong * 13) % 256).toByte
        })
        MediaRecord(id, "video/avi",
          graft.multimodal.Avi.encodeMjpg(w, h, frames))
      }
  }

  private def mediaAvi(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 2)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        val w = (3 + n % 5).toInt; val h = (1 + id % 4).toInt
        val nf = (2 + id % 7).toInt
        val frames = (0 until nf).map(f => Array.tabulate[Byte](w * h * 3)(
          j => ((id * 41 + f.toLong * 19 + j.toLong * 7) % 256).toByte))
        MediaRecord(id, "video/avi", graft.multimodal.Avi.encode(w, h, frames))
      }
  }

  /** The m8 fixture: doc_id % 3 == 1 → PCM-16 WAV at 8000 Hz, 1 + id%2
    * channels, 40 + id%60 frames; interleaved sample j =
    * (id·17 + j·13) % 4001 − 2000. */
  private def mediaWav(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 1)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, _) =>
        MediaRecord(id, "audio/wav",
          Media.wavBytesPcm(8000, (1 + id % 2).toInt, (40 + id % 60).toInt,
            j => (((id * 17 + j.toLong * 13) % 4001) - 2000).toShort))
      }
  }

  /** The m3 fixture: even doc_ids → BMP with channel byte j =
    * (id·31 + j·7) % 256; odd → 1-2 channel PCM WAV with sample i =
    * (id·17 + i·13) % 4001 − 2000. */
  private def mediaPcm(s: SparkSession, dir: String) = {
    import s.implicits._
    docs3(s, dir, 0)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, n) =>
        if (id % 2 == 0)
          MediaRecord(id, "image/bmp",
            Media.bmpBytes((3 + n % 13).toInt, (1 + id % 7).toInt,
              j => ((id * 31 + j.toLong * 7) % 256).toInt))
        else
          MediaRecord(id, "audio/wav",
            Media.wavBytesPcm(8000, (1 + id % 2).toInt, (10 + id % 90).toInt,
              i => (((id * 17 + i.toLong * 13) % 4001) - 2000).toShort))
      }
  }

  // Shared truth formulas (see `media` above):
  //   PNG: width 16+n%496, height 1+id%256, frames 1, bytes 45 (fixed)
  //   WAV: rate 8000*(1+id%3), channels 1+id%2, frames 10+id%90,
  //        bytes 44 + frames*channels*2
  private val featureSql =
    """SELECT doc_id AS id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
      |  CASE WHEN doc_id % 2 = 0 THEN 45
      |       ELSE 44 + (10 + doc_id % 90) * (1 + doc_id % 2) * 2
      |       END::BIGINT AS byte_len,
      |  CASE WHEN doc_id % 2 = 0 THEN 16 + n_chars % 496
      |       ELSE 8000 * (1 + doc_id % 3) END::INT AS width,
      |  CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 256
      |       ELSE 1 + doc_id % 2 END::INT AS height,
      |  CASE WHEN doc_id % 2 = 0 THEN 1
      |       ELSE 10 + doc_id % 90 END::INT AS frames
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "m1_media_features" ->
      s"""SELECT id, mime, byte_len, width, height, frames
         |FROM ($featureSql)""".stripMargin,

    "m2_frame_sample" ->
      s"""SELECT id, frames,
         |       unnest(generate_series(0, frames - 1, 4))::INT AS frame_idx
         |FROM ($featureSql)""".stripMargin,

    // the m7 twin recomputes every sampled frame's bytes from the fixture
    // closed form — equality proves container walk, bottom-up stride
    // decode, and the every-2nd-frame stride rule end to end
    "m7_avi_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS id, 3 + n_chars % 5 AS w, 1 + doc_id % 4 AS h,
        |         2 + doc_id % 7 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT id, w, h,
        |             unnest(generate_series(0, nf - 1, 2)) AS frame_idx
        |      FROM m),
        |s AS (SELECT id, frame_idx, w * h * 3 AS n,
        |             unnest(generate_series(0, w * h * 3 - 1)) AS j
        |      FROM f),
        |v AS (SELECT id, frame_idx, n,
        |             (id * 41 + frame_idx * 19 + j * 7) % 256 AS v
        |      FROM s)
        |SELECT id, frame_idx::INT AS frame_idx, max(n)::BIGINT AS n_samples,
        |       sum(v)::DOUBLE / max(n) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM v GROUP BY 1, 2""".stripMargin,

    // the m16 twin replays the sampled MJPG frame stats from the
    // block-constant closed form: each 8×8 block contributes 64 samples
    // per channel, and the gray-valued family decodes bit-exactly
    "m16_avi_mjpg" ->
      """WITH m AS (
        |  SELECT doc_id AS id, 8 * (1 + n_chars % 2) AS w,
        |         8 * (1 + doc_id % 2) AS h, 2 + doc_id % 5 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT id, w, h,
        |             unnest(generate_series(0, nf - 1, 2)) AS frame_idx
        |      FROM m),
        |b AS (SELECT id, frame_idx, w, h,
        |             unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS b
        |      FROM f),
        |v AS (SELECT id, frame_idx, w, h,
        |             (id * 59 + frame_idx * 29 + b * 13) % 256 AS v
        |      FROM b)
        |SELECT id, frame_idx::INT AS frame_idx,
        |       max(w * h * 3)::BIGINT AS n_samples,
        |       (sum(v) * 64 * 3)::DOUBLE / max(w * h * 3) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM v GROUP BY 1, 2""".stripMargin,

    // the m8 twin replays decimation (every 4th frame) and the mono
    // mixdown over the fixture closed form — DuckDB's integer `//`
    // truncates toward zero exactly like the decoder's JVM `/`
    "m8_wav_resample" ->
      """WITH m AS (
        |  SELECT doc_id AS id, 1 + doc_id % 2 AS ch, 40 + doc_id % 60 AS nf
        |  FROM documents WHERE doc_id % 3 = 1),
        |f AS (SELECT id, ch, unnest(generate_series(0, nf - 1, 4)) AS fr
        |      FROM m),
        |v AS (SELECT id,
        |             CASE WHEN ch = 1
        |                  THEN (id * 17 + fr * 13) % 4001 - 2000
        |                  ELSE (((id * 17 + (2 * fr) * 13) % 4001 - 2000)
        |                      + ((id * 17 + (2 * fr + 1) * 13) % 4001 - 2000))
        |                       // 2
        |             END AS v
        |      FROM f)
        |SELECT id, 'audio/wav' AS mime, count(*)::BIGINT AS n_samples,
        |       sum(v)::DOUBLE / count(*) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM v GROUP BY 1""".stripMargin,

    // the m3 twin recomputes every sample value from the fixture formulas
    // and aggregates — equality proves the byte-level decode (stride skip,
    // signed PCM) recovered exactly the written values
    "m3_media_stats" ->
      s"""WITH m AS (SELECT doc_id AS id, n_chars AS n FROM documents
         |           WHERE doc_id % 3 = 0),
         |bmp AS (SELECT id, 'image/bmp' AS mime,
         |               (3 + n % 13) * (1 + id % 7) * 3 AS cnt
         |        FROM m WHERE id % 2 = 0),
         |bvals AS (SELECT id, mime, cnt, (id * 31 + j.j * 7) % 256 AS v
         |          FROM bmp,
         |          LATERAL (SELECT unnest(generate_series(0, cnt - 1)) AS j) j),
         |wav AS (SELECT id, 'audio/wav' AS mime,
         |               (10 + id % 90) * (1 + id % 2) AS cnt
         |        FROM m WHERE id % 2 = 1),
         |wvals AS (SELECT id, mime, cnt,
         |                 ((id * 17 + i.i * 13) % 4001) - 2000 AS v
         |          FROM wav,
         |          LATERAL (SELECT unnest(generate_series(0, cnt - 1)) AS i) i),
         |allv AS (SELECT * FROM bvals UNION ALL SELECT * FROM wvals)
         |SELECT id, mime, cnt::BIGINT AS n_samples,
         |       sum(v)::DOUBLE / count(*) AS mean_val,
         |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
         |FROM allv GROUP BY id, mime, cnt""".stripMargin,

    // the m4 twin recomputes the PNG pixel bytes from the fixture closed
    // form — equality proves inflate + all five filter reconstructions
    // recovered exactly the values that were filtered and compressed
    "m4_png_stats" ->
      s"""WITH m AS (SELECT doc_id AS id, n_chars AS n FROM documents
         |           WHERE doc_id % 3 = 1),
         |png AS (SELECT id, 'image/png' AS mime,
         |               (3 + n % 13) * (2 + id % 9) * 3 AS cnt FROM m),
         |pvals AS (SELECT id, mime, cnt, (id * 29 + j.j * 11) % 256 AS v
         |          FROM png,
         |          LATERAL (SELECT unnest(generate_series(0, cnt - 1)) AS j) j)
         |SELECT id, mime, cnt::BIGINT AS n_samples,
         |       sum(v)::DOUBLE / count(*) AS mean_val,
         |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
         |FROM pvals GROUP BY id, mime, cnt""".stripMargin,

    // the m12 twin: decoded RGB byte for pixel j channel c is
    // (id·13 + ((id·7 + j·5) % p)·17 + c·29) % 256 — palette indirection
    // composed in closed form, neither table materialized
    "m12_png_palette" ->
      s"""WITH m AS (SELECT doc_id AS id, n_chars AS n FROM documents
         |           WHERE doc_id % 3 = 0),
         |geo AS (SELECT id, 'image/png' AS mime,
         |               (3 + n % 13) * (2 + id % 9) AS npix,
         |               2 + id % 7 AS p FROM m),
         |pv AS (SELECT id, mime, npix,
         |         (id * 13 + ((id * 7 + j.j * 5) % p) * 17 + c.c * 29) % 256 AS v
         |       FROM geo,
         |       LATERAL (SELECT unnest(generate_series(0, npix - 1)) AS j) j,
         |       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) c)
         |SELECT id, mime, (npix * 3)::BIGINT AS n_samples,
         |       sum(v)::DOUBLE / count(*) AS mean_val,
         |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
         |FROM pv GROUP BY id, mime, npix""".stripMargin,

    // the m13 twin is m9's dHash replay over the doc_id % 3 = 2 family —
    // identical raster closed form; equality proves Adam7 reassembly put
    // every sampled pixel at its correct raster position
    "m13_png_interlaced" ->
      """WITH m AS (SELECT doc_id AS id, (3 + n_chars % 13)::BIGINT AS w,
        |                  (2 + doc_id % 9)::BIGINT AS h
        |           FROM documents WHERE doc_id % 3 = 2),
        |g AS (SELECT id, y2.y AS y, x2.x AS x,
        |             (((y2.y * h) // 8) * w + (x2.x * w) // 9) * 3 AS p
        |      FROM m,
        |      LATERAL (SELECT unnest(generate_series(0, 7)) AS y) y2,
        |      LATERAL (SELECT unnest(generate_series(0, 8)) AS x) x2),
        |gray AS (SELECT id, y, x,
        |                (((id * 29 + p * 11) % 256)
        |                 + ((id * 29 + (p + 1) * 11) % 256)
        |                 + ((id * 29 + (p + 2) * 11) % 256)) // 3 AS gv
        |         FROM g),
        |bits AS (SELECT a.id, a.y * 8 + a.x AS k,
        |                CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit
        |         FROM gray a JOIN gray b
        |           ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
        |         WHERE a.x < 8)
        |SELECT id,
        |  sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
        |           ELSE 0 END)::BIGINT AS dhash_hi,
        |  sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
        |           ELSE 0 END)::BIGINT AS dhash_lo
        |FROM bits GROUP BY id""".stripMargin,

    // the m14 twin replays both sample reductions in closed form: even
    // ids' decoded 16-bit sample is its value // 256 (MSB strip), odd
    // ids' depth-4 gray sample is its 4-bit value × 17 (bit replication)
    "m14_png_deep" ->
      """WITH m AS (SELECT doc_id AS id, n_chars AS n FROM documents
        |           WHERE doc_id % 3 = 2),
        |geo AS (SELECT id, (3 + n % 13) * (2 + id % 9) AS npix FROM m),
        |deep AS (SELECT id, 'image/png' AS mime, npix * 3 AS cnt,
        |                ((id * 97 + j.j * 4099) % 65536) // 256 AS v
        |         FROM geo,
        |         LATERAL (SELECT unnest(generate_series(0, npix * 3 - 1)) AS j) j
        |         WHERE id % 2 = 0),
        |gry AS (SELECT id, 'image/png' AS mime, npix AS cnt,
        |               ((id * 29 + j.j * 11) % 16) * 17 AS v
        |        FROM geo,
        |        LATERAL (SELECT unnest(generate_series(0, npix - 1)) AS j) j
        |        WHERE id % 2 = 1),
        |allv AS (SELECT * FROM deep UNION ALL SELECT * FROM gry)
        |SELECT id, mime, cnt::BIGINT AS n_samples,
        |       sum(v)::DOUBLE / count(*) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM allv GROUP BY id, mime, cnt""".stripMargin,

    // the m6 twin recomputes the block-constant JPEG samples from the
    // fixture closed form: block b of image id is (id·37 + b·23) % 256,
    // each block contributes 64·ch samples — equality proves the full
    // baseline decode (Huffman, dequant, IDCT, 4:2:0 upsample, YCbCr→RGB,
    // restart markers) recovered exactly the encoded values
    "m6_jpeg_stats" ->
      s"""WITH m AS (SELECT doc_id AS id, n_chars AS n FROM documents
         |           WHERE doc_id % 3 = 2),
         |geo AS (SELECT id,
         |          CASE WHEN id % 2 = 1 THEN 8 * (1 + n % 3)
         |               ELSE 16 * (1 + n % 2) END AS w,
         |          CASE WHEN id % 2 = 1 THEN 8 * (1 + id % 4)
         |               ELSE 16 * (1 + id % 3) END AS h,
         |          CASE WHEN id % 2 = 1 THEN 1 ELSE 3 END AS ch
         |        FROM m),
         |blocks AS (
         |  SELECT id, w, h, ch, (id * 37 + b.b * 23) % 256 AS v
         |  FROM geo,
         |  LATERAL (SELECT unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS b) b)
         |SELECT id, 'image/jpeg' AS mime, (w * h * ch)::BIGINT AS n_samples,
         |       (sum(v) * 64 * ch)::DOUBLE / (w * h * ch) AS mean_val,
         |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
         |FROM blocks GROUP BY id, w, h, ch""".stripMargin,

    // the m18 twin is the WAV fixture's closed form untouched — the
    // WAV→FLAC→WAV double crossing must be the identity
    "m18_audio_transcode" ->
      """WITH m AS (SELECT doc_id AS id, 1 + doc_id % 2 AS ch,
        |                  40 + doc_id % 60 AS nf
        |           FROM documents WHERE doc_id % 3 = 1),
        |v AS (SELECT id, ch, nf,
        |             (id * 17 + j.j * 13) % 4001 - 2000 AS v
        |      FROM m,
        |      LATERAL (SELECT unnest(generate_series(0, ch * nf - 1)) AS j) j)
        |SELECT id, 'audio/wav' AS mime, (ch * nf)::BIGINT AS n_samples,
        |       sum(v)::DOUBLE / count(*) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM v GROUP BY id, ch, nf""".stripMargin,

    // the x39 twin recomputes every decoded pixel of every shard image
    // from the closed form — the tar walk, selective extraction, and
    // PNG decode must compose losslessly
    "x39_webdataset_images" ->
      s"""WITH m AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0),
         |r AS (SELECT id,
         |             unnest(generate_series(0, (1 + (id // 3) % 3) - 1)) AS k
         |      FROM m),
         |g AS (SELECT id, k, 4 + k AS w, 3 + id % 4 AS h FROM r),
         |v AS (SELECT id, k, w, h,
         |             (id * 29 + k * 7 + j.j * 11) % 256 AS v
         |      FROM g,
         |      LATERAL (SELECT unnest(generate_series(0, w * h * 3 - 1)) AS j) j)
         |SELECT (id * 1000 + k)::BIGINT AS id, 'image/png' AS mime,
         |       (w * h * 3)::BIGINT AS n_samples,
         |       sum(v)::DOUBLE / count(*) AS mean_val,
         |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
         |FROM v GROUP BY id, k, w, h""".stripMargin,

    // the x38 twin regenerates every shard entry row — UNION of the two
    // per-sample extensions, byte lengths via strlen (UTF-8 octets)
    "x38_webdataset" ->
      s"""WITH m AS (SELECT doc_id AS id, text,
         |                  1 + (doc_id // 3) % 3 AS nr
         |           FROM documents WHERE doc_id % 3 = 2),
         |r AS (SELECT id, text,
         |             unnest(generate_series(0, nr - 1)) AS k
         |      FROM m),
         |rows_ AS (
         |  SELECT id, id || '-' || k AS sample_key, 'txt' AS ext,
         |         'text ' || id || ' ' || k || ' :: ' || text AS content
         |  FROM r
         |  UNION ALL
         |  SELECT id, id || '-' || k AS sample_key, 'cls' AS ext,
         |         ((id + k) % 10)::VARCHAR AS content
         |  FROM r)
         |SELECT id, sample_key, ext, strlen(content)::INT AS n_bytes,
         |       content
         |FROM rows_""".stripMargin,

    // the m17 twin recomputes every decoded FLAC sample from the
    // fixture closed form — lossless means exact equality, full stop
    "m17_flac_stats" ->
      """WITH m AS (SELECT doc_id AS id, 1 + doc_id % 2 AS ch,
        |                  100 + doc_id % 200 AS nf
        |           FROM documents WHERE doc_id % 3 = 1),
        |v AS (SELECT id, ch, nf,
        |             (id * 17 + c.c * 31 + i.i * 13) % 4001 - 2000 AS v
        |      FROM m,
        |      LATERAL (SELECT unnest(generate_series(0, ch - 1)) AS c) c,
        |      LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) i)
        |SELECT id, 'audio/flac' AS mime, (ch * nf)::BIGINT AS n_samples,
        |       sum(v)::DOUBLE / count(*) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM v GROUP BY id, ch, nf""".stripMargin,

    // the x36 twin regenerates every response row from the fixture's
    // pure functions — uri, status, content type, and the exact body
    // string; the warcinfo record must yield no row, and rec_idx counts
    // it (responses start at 1)
    "x36_warc_extract" ->
      s"""WITH m AS (SELECT doc_id AS id, text, 1 + (doc_id // 3) % 3 AS nr
         |           FROM documents WHERE doc_id % 3 = 0),
         |r AS (SELECT id, text,
         |             unnest(generate_series(0, nr - 1)) AS r
         |      FROM m)
         |SELECT id, (r + 1)::INT AS rec_idx,
         |       'http://ex.test/' || id || '/' || r AS target_uri,
         |       (200 + 100 * (r % 2))::INT AS http_status,
         |       'text/plain' AS content_type,
         |       'doc ' || id || ' rec ' || r || ' :: ' || text AS body_text
         |FROM r""".stripMargin,

    // the x37 twin is x36's row regeneration without the id column —
    // the DSv2 path must surface exactly the archives' response records
    "x37_warc_datasource" ->
      s"""WITH m AS (SELECT doc_id AS id, text, 1 + (doc_id // 3) % 3 AS nr
         |           FROM documents WHERE doc_id % 3 = 0),
         |r AS (SELECT id, text,
         |             unnest(generate_series(0, nr - 1)) AS r
         |      FROM m)
         |SELECT (r + 1)::INT AS rec_idx,
         |       'http://ex.test/' || id || '/' || r AS target_uri,
         |       (200 + 100 * (r % 2))::INT AS http_status,
         |       'text/plain' AS content_type,
         |       'doc ' || id || ' rec ' || r || ' :: ' || text AS body_text
         |FROM r""".stripMargin,

    // the m15 twin is m6's closed form with the m15 block values —
    // progressive changes the wire order of the coefficients, never the
    // reconstructed samples
    "m15_jpeg_progressive" ->
      s"""WITH m AS (SELECT doc_id AS id, n_chars AS n FROM documents
         |           WHERE doc_id % 3 = 2),
         |geo AS (SELECT id,
         |          CASE WHEN id % 2 = 1 THEN 8 * (1 + n % 3)
         |               ELSE 16 * (1 + n % 2) END AS w,
         |          CASE WHEN id % 2 = 1 THEN 8 * (1 + id % 4)
         |               ELSE 16 * (1 + id % 3) END AS h,
         |          CASE WHEN id % 2 = 1 THEN 1 ELSE 3 END AS ch
         |        FROM m),
         |blocks AS (
         |  SELECT id, w, h, ch, (id * 53 + b.b * 19) % 256 AS v
         |  FROM geo,
         |  LATERAL (SELECT unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS b) b)
         |SELECT id, 'image/jpeg' AS mime, (w * h * ch)::BIGINT AS n_samples,
         |       (sum(v) * 64 * ch)::DOUBLE / (w * h * ch) AS mean_val,
         |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
         |FROM blocks GROUP BY id, w, h, ch""".stripMargin,

    // the m5 twin replays the nearest-neighbor index map over the m4
    // closed form: out(x2,y2,c) = value(((y2·h/h2)·w + x2·w/w2)·3 + c)
    "m5_resize_stats" ->
      s"""WITH m AS (SELECT doc_id AS id, n_chars AS n FROM documents
         |           WHERE doc_id % 3 = 1),
         |g AS (SELECT id, (3 + n % 13) AS w, (2 + id % 9) AS h FROM m),
         |g2 AS (SELECT id, w, h, greatest(1, w // 2) AS w2,
         |              greatest(1, h // 2) AS h2 FROM g),
         |pvals AS (
         |  SELECT id, w2 * h2 * 3 AS cnt,
         |    (id * 29 + ((((y2.y * h) // h2) * w + (x2.x * w) // w2) * 3
         |                + c.c) * 11) % 256 AS v
         |  FROM g2,
         |  LATERAL (SELECT unnest(generate_series(0, h2 - 1)) AS y) y2,
         |  LATERAL (SELECT unnest(generate_series(0, w2 - 1)) AS x) x2,
         |  LATERAL (SELECT unnest(generate_series(0, 2)) AS c) c)
         |SELECT id, 'image/png' AS mime, cnt::BIGINT AS n_samples,
         |       sum(v)::DOUBLE / count(*) AS mean_val,
         |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
         |FROM pvals GROUP BY id, cnt""".stripMargin,

    // the m9 twin replays the whole dHash chain over the m4 closed form:
    // channel byte j = (id·29 + j·11) % 256, gray = (r+g+b)//3, grid
    // src = ((x·w)//9, (y·h)//8), bit k = y·8+x iff right neighbor is
    // brighter; halves rebuilt with BIGINT shifts (k−32 ≤ 31, no sign)
    "m9_image_dhash" ->
      """WITH m AS (SELECT doc_id AS id, (3 + n_chars % 13)::BIGINT AS w,
        |                  (2 + doc_id % 9)::BIGINT AS h
        |           FROM documents WHERE doc_id % 3 = 1),
        |g AS (SELECT id, y2.y AS y, x2.x AS x,
        |             (((y2.y * h) // 8) * w + (x2.x * w) // 9) * 3 AS p
        |      FROM m,
        |      LATERAL (SELECT unnest(generate_series(0, 7)) AS y) y2,
        |      LATERAL (SELECT unnest(generate_series(0, 8)) AS x) x2),
        |gray AS (SELECT id, y, x,
        |                (((id * 29 + p * 11) % 256)
        |                 + ((id * 29 + (p + 1) * 11) % 256)
        |                 + ((id * 29 + (p + 2) * 11) % 256)) // 3 AS gv
        |         FROM g),
        |bits AS (SELECT a.id, a.y * 8 + a.x AS k,
        |                CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit
        |         FROM gray a JOIN gray b
        |           ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
        |         WHERE a.x < 8)
        |SELECT id,
        |  sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
        |           ELSE 0 END)::BIGINT AS dhash_hi,
        |  sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
        |           ELSE 0 END)::BIGINT AS dhash_lo
        |FROM bits GROUP BY id""".stripMargin,

    // the m10 twin recomputes every palette index from the fixture closed
    // form and maps it through the three channel formulas — equality
    // proves the LZW dictionary rebuild + palette mapping recovered
    // exactly the indices that were compressed
    "m10_gif_stats" ->
      """WITH m AS (SELECT doc_id AS id, 3 + n_chars % 14 AS w,
        |                  1 + doc_id % 9 AS h, 1 + doc_id % 3 AS run
        |           FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT id, w, h,
        |              (id * 43 + (j.j // run) * 17) % 256 AS idx
        |       FROM m,
        |       LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS j) j),
        |ch AS (SELECT id, w, h,
        |              unnest([(idx * 3 + 1) % 256, (idx * 5 + 2) % 256,
        |                      (idx * 7 + 3) % 256]) AS v
        |       FROM px)
        |SELECT id, 'image/gif' AS mime, (w * h * 3)::BIGINT AS n_samples,
        |       sum(v)::DOUBLE / count(*) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM ch GROUP BY id, w, h""".stripMargin,

    // the m11 twin recomputes every sampled frame's palette indices and
    // channel values from the fixture closed form — equality proves the
    // multi-image container walk, the per-frame LZW dictionary reset,
    // and the every-2nd-frame stride end to end
    "m11_gif_frames" ->
      """WITH m AS (SELECT doc_id AS id, 3 + n_chars % 14 AS w,
        |                  1 + doc_id % 7 AS h, 2 + doc_id % 5 AS nf
        |           FROM documents WHERE doc_id % 3 = 1),
        |f AS (SELECT id, w, h,
        |             unnest(generate_series(0, nf - 1, 2)) AS fi
        |      FROM m),
        |px AS (SELECT id, fi, w, h,
        |              (id * 47 + fi * 23 + j.j * 17) % 256 AS idx
        |       FROM f,
        |       LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS j) j),
        |ch AS (SELECT id, fi, w, h,
        |              unnest([(idx * 3 + 1) % 256, (idx * 5 + 2) % 256,
        |                      (idx * 7 + 3) % 256]) AS v
        |       FROM px)
        |SELECT id, fi::INT AS frame_idx, (w * h * 3)::BIGINT AS n_samples,
        |       sum(v)::DOUBLE / count(*) AS mean_val,
        |       min(v)::BIGINT AS min_val, max(v)::BIGINT AS max_val
        |FROM ch GROUP BY id, fi, w, h""".stripMargin
  )
}
