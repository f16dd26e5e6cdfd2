package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Multimodal columns: image/audio/video as opaque `binary` columns
  * with typed metadata, decoded via a per-partition batch pass.
  *
  * The Spark-side plumbing is real and what matters at 100 TB:
  *   - assets live in a BinaryType column next to typed metadata
  *     (the lakehouse pattern: parquet holds bytes + width/height/codec
  *     so filters prune before any decode happens);
  *   - decode runs inside `mapPartitions` so a real codec would be
  *     initialized once per partition (the batch shape a Pandas-UDF /
  *     Arrow pipeline has), not once per row;
  *   - the decoded output is a typed Dataset with an Encoder, so
  *     downstream stays columnar.
  *
  * DECODE IS A DETERMINISTIC FAKE: no image libs exist in this
  * container, so "decoding" parses the self-describing FAKEIMG1 header
  * this same query synthesizes. Swapping `FakeCodec.decode` for a real
  * JNI/javax codec changes nothing upstream or downstream of it.
  */
object Multimodal {

  /** One decoded asset record (the Encoder keeps this columnar). */
  case class AssetMeta(doc_id: Long, width: Long, height: Long,
      n_bytes: Long, payload_md5: String)

  /** The clearly-marked stub codec: parses the FAKEIMG1 textual header
    * `FAKEIMG1:<w>:<h>:<md5payload>` back out of the bytes. A real
    * implementation would decode pixels here.
    */
  private object FakeCodec extends Serializable {
    def decode(docId: Long, bytes: Array[Byte]): AssetMeta = {
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      val parts = s.split(":")
      AssetMeta(docId, parts(1).toLong, parts(2).toLong,
        bytes.length.toLong, parts(3))
    }
  }

  /** Synthesize binary assets from `documents` (deterministic per
    * doc_id), then decode them per-partition and aggregate the typed
    * metadata. The oracle recomputes the metadata arithmetic directly —
    * proving the bytes→decode→typed-row round-trip loses nothing.
    */
  def m01DecodeMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Tables.spread on the base scan (here and in m02–m04/m06–m08):
    // the single-file fixture would otherwise run the whole synth +
    // per-partition codec pass (md5 per emitted row) in ONE task
    // however many cores exist — cdcOverlap's fixture-layout
    // adaptation; production binary-asset inputs arrive in many
    // splits and take the no-op branch (m05's binaryFile ingest
    // already does: 100 files)
    val assets = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        (lit(32) + col("doc_id") % 97).cast("long").as("width"),
        (lit(32) + (col("doc_id") * 7) % 89).cast("long").as("height"),
        md5(col("text").cast("binary")).as("payload_md5"))
      .select(col("doc_id"),
        concat_ws(":", lit("FAKEIMG1"), col("width"), col("height"),
          col("payload_md5")).cast("binary").as("asset"))
    // binary → typed decode, one codec init per partition
    val decoded = assets.select(col("doc_id"), col("asset"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = FakeCodec // real codec: init libs here, once
        it.map { case (id, bytes) => codec.decode(id, bytes) }
      }
    decoded.toDF()
  }

  /** One sampled frame record. */
  case class Frame(doc_id: Long, frame_idx: Long, frame_ts_ms: Long,
      frame_sig: String)

  /** Video frame-sampling: the 1→N decode fan-out. Assets are
    * synthesized FAKEVID1 containers (`FAKEVID1:<n_frames>:<fps>:<md5>`
    * — deterministic per doc); the per-partition codec parses the
    * container and emits every 4th frame as a typed row via an
    * ITERATOR flatMap, so a long video never materializes all frames
    * in memory — the exact shape a real ffmpeg/`mapInPandas` frame
    * sampler has (batch init per partition, streaming emission, typed
    * columnar output). Frame signatures are md5-derived so the oracle
    * can recompute every emitted row arithmetically.
    */
  def m02FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        concat_ws(":", lit("FAKEVID1"), (lit(8) + col("doc_id") % 23),
          lit(24), md5(col("text").cast("binary"))).cast("binary").as("asset"))
    assets.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // codec init, once per partition
        it.flatMap { case (id, bytes) =>
          val parts = new String(bytes, java.nio.charset.StandardCharsets.UTF_8).split(":")
          val nFrames = parts(1).toLong; val fps = parts(2).toLong
          val payload = parts(3)
          (0L until nFrames by 4).iterator.map { idx =>
            md.reset()
            val sig = md.digest(s"$payload:$idx".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            Frame(id, idx, idx * 1000 / fps, sig)
          }
        }
      }
      .toDF()
  }

  /** One resized-asset record: input dims, output dims, re-encoded
    * thumbnail identity. */
  case class Thumb(doc_id: Long, in_w: Long, in_h: Long,
      out_w: Long, out_h: Long, thumb_md5: String, thumb_bytes: Long)

  /** Image RESIZE — the decode → transform → re-encode pass (the
    * third multimodal stage next to m01's decode and m02's fan-out):
    * aspect-ratio-preserving thumbnail to a 16-px max side, re-encoded
    * as a new binary column. All three stages run in ONE
    * `mapPartitions` batch (codec init once per partition, bounded
    * memory per asset, typed Encoder output) — the exact pipeline
    * shape a real libvips/Pillow `mapInPandas` stage has; the "pixel"
    * work is the deterministic FAKEIMG1 stub (see the object doc), so
    * the scale arithmetic and the re-encoded identity are
    * oracle-recomputable: a resize that rounded dims differently or
    * re-encoded stale bytes hash-mismatches.
    */
  def m03ResizeThumb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        (lit(32) + col("doc_id") % 97).cast("long").as("width"),
        (lit(32) + (col("doc_id") * 7) % 89).cast("long").as("height"),
        md5(col("text").cast("binary")).as("payload_md5"))
      .select(col("doc_id"),
        concat_ws(":", lit("FAKEIMG1"), col("width"), col("height"),
          col("payload_md5")).cast("binary").as("asset"))
    assets.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // codec init, once per partition
        it.map { case (id, bytes) =>
          val m = FakeCodec.decode(id, bytes)
          val side = math.max(m.width, m.height) // always > 16 here
          val ow = math.max(1L, m.width * 16L / side)
          val oh = math.max(1L, m.height * 16L / side)
          // "re-encode": the thumb identity binds payload AND new dims
          md.reset()
          val sig = md.digest(s"${m.payload_md5}:$ow:$oh".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val thumb = s"FAKETHUMB1:$ow:$oh:$sig"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Thumb(id, m.width, m.height, ow, oh, sig, thumb.length.toLong)
        }
      }
      .toDF()
  }

  /** One extracted feature value (long-form: one row per dimension,
    * so the gate compares scalars, not float arrays). */
  case class Feat(doc_id: Long, dim: Long, feat: Double)

  /** FEATURE EXTRACTION — the fourth multimodal stage (after decode
    * m01, fan-out m02, resize m03): each decoded asset yields an
    * 8-dim embedding row, the bridge from binary assets into the
    * similarity/clustering pipeline (s01–s10 run unchanged on such a
    * table). Same batch shape as the others: codec init per
    * partition, iterator emission, typed output. The "model" is the
    * deterministic stub (a polynomial hash of the decoded payload,
    * mixed per dimension, scaled to [0, 1)); swapping in a real
    * vision tower changes nothing upstream or downstream. Long-form
    * output (doc_id, dim, feat) keeps the oracle comparison scalar.
    */
  def m04FeatureExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        (lit(32) + col("doc_id") % 97).cast("long").as("width"),
        (lit(32) + (col("doc_id") * 7) % 89).cast("long").as("height"),
        md5(col("text").cast("binary")).as("payload_md5"))
      .select(col("doc_id"),
        concat_ws(":", lit("FAKEIMG1"), col("width"), col("height"),
          col("payload_md5")).cast("binary").as("asset"))
    assets.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = FakeCodec // real model: load weights here, once
        it.flatMap { case (id, bytes) =>
          val m = codec.decode(id, bytes)
          // stub "tower": polynomial hash of the payload, per-dim mix
          var h = 7L
          m.payload_md5.foreach(ch => h = (h * 31 + ch.toLong) % 1000000007L)
          (0L until 8L).iterator.map { j =>
            Feat(id, j, ((h * (j + 2) + 7919L * j) % 1000L).toDouble / 1000.0)
          }
        }
      }
      .toDF()
  }

  /** One signed asset: the perceptual signature + the feature vector
    * it quantizes (kept for the verify tier). */
  case class PSig(doc_id: Long, sig: Long, fv: Seq[Double])

  /** PERCEPTUAL-HASH ASSET DEDUP — the image-dedup step of a
    * multimodal pipeline, composing the decode stages (m01/m04) with
    * the dedup machinery (d01/d10's shape): each decoded asset gets a
    * 24-bit perceptual signature (8 feature dims quantized to 3 bits
    * each), computed ONCE at decode time inside the per-partition
    * codec pass — exactly where a real pHash/dHash is computed at
    * ingest; candidate pairs come from a signature-bucket self-join
    * (the shuffle carries an 8-byte key + the 8-double vector); the
    * verify tier keeps only pairs whose FULL feature vectors agree,
    * so quantization collisions (two assets sharing all 8 coarse
    * levels but differing features — present in this corpus) are
    * candidates that get FILTERED, exercising the candidate ⊃ dup
    * structure honestly. With the stub tower, "duplicate" means
    * byte-identical payloads (re-encodes of the same image under a
    * real tower land within an ε-ball — the verify predicate becomes
    * a distance threshold, same plan).
    *
    * Unlike m01–m05's per-document payloads, the asset fixture here is
    * deliberately MANY-TO-ONE (payload keyed by `doc_id % 350`): the
    * same image embedded by multiple pages is the exact situation
    * asset dedup exists for, and it gives the gate a non-empty,
    * structurally known answer (spec-checked against the key groups).
    *
    * Scale shape: decode+sign is one narrow per-partition pass; the
    * self-join shuffles |assets| signature rows (d01's exact-dedup
    * cost, NOT d02's shingle fan-out); bucket sizes are signature
    * collisions only (~2⁻²⁴ pair rate), so the within-bucket
    * quadratic never materializes.
    */
  def m06PhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), (col("doc_id") % 350).as("asset_key"))
      .select(col("doc_id"),
        (lit(32) + col("asset_key") % 97).cast("long").as("width"),
        (lit(32) + (col("asset_key") * 7) % 89).cast("long").as("height"),
        md5(col("asset_key").cast("string").cast("binary")).as("payload_md5"))
      .select(col("doc_id"),
        concat_ws(":", lit("FAKEIMG1"), col("width"), col("height"),
          col("payload_md5")).cast("binary").as("asset"))
    val signed = assets.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = FakeCodec // real tower: load weights once here
        it.map { case (id, bytes) =>
          val m = codec.decode(id, bytes)
          var h = 7L
          m.payload_md5.foreach(ch => h = (h * 31 + ch.toLong) % 1000000007L)
          // m04's per-dim mix at FULL precision (m04 quantizes to 1000
          // levels for scalar gating; dedup verify needs the feature
          // space injective in h, else cross-asset collisions survive)
          val fv = (0L until 8L).map(j =>
            ((h * (j + 2) + 7919L * j) % 1000000007L).toDouble / 1000000007.0)
          val sig = fv.zipWithIndex.foldLeft(0L) { case (acc, (f, j)) =>
            acc + (math.floor(f * 8).toLong << (3 * j)) }
          PSig(id, sig, fv)
        }
      }.toDF()
    val a = signed.as("a"); val b = signed.as("b")
    a.join(b, col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.fv") === col("b.fv"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig"))
  }

  /** One file-ingested asset record. */
  case class Ingested(doc_id: Long, n_bytes: Long, width: Long,
      height: Long, payload_md5: String)

  /** BINARY-FILE INGEST — the step BEFORE m01–m04: real assets arrive
    * as files, not as a column somebody already loaded, and Spark's
    * `binaryFile` source is the scalable reader (distributed listing,
    * content as a BinaryType column next to path/size/mtime metadata,
    * path-glob and size filters applied at the source — no driver-side
    * reads). A deterministic ~2 % doc slice is staged ONCE per input
    * dir as `asset_<doc_id>.bin` files (Staging.ensure keying; the
    * file synthesis is harness work standing in for the upstream
    * crawler — at 100 TB the files pre-exist), then: binaryFile scan →
    * doc key recovered from the filename → per-partition stub decode →
    * typed metadata rows, verified against the same arithmetic oracle
    * as m01. This closes the lakehouse loop for binary assets: files →
    * typed table → (m02–m04, s01–s10) without any bytes ever touching
    * the driver.
    */
  def m05BinaryIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.core.Staging.ensure("bin_assets", s"$d/documents.parquet") { out =>
      // tiny deterministic slice (100 files at sf0.1) — fixture
      // staging, not the operator under test
      Tables.documents(s, d).filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          concat_ws(":", lit("FAKEIMG1"),
            (lit(32) + col("doc_id") % 97).cast("long"),
            (lit(32) + (col("doc_id") * 7) % 89).cast("long"),
            md5(col("text").cast("binary"))).as("payload"))
        .as[(Long, String)].collect()
        .foreach { case (id, payload) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, s"asset_$id.bin"),
            payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    s.read.format("binaryFile").load(s"$dir/*.bin")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val codec = FakeCodec // real codec: init once per partition
        it.map { case (path, bytes) =>
          val id = path.substring(path.lastIndexOf('_') + 1,
            path.lastIndexOf('.')).toLong
          val m = codec.decode(id, bytes)
          Ingested(id, m.n_bytes, m.width, m.height, m.payload_md5)
        }
      }
      .toDF()
  }

  /** One audio analysis window. */
  case class AudioWin(doc_id: Long, win_idx: Long, start_ms: Long,
      end_ms: Long, win_sig: String)

  /** AUDIO frame-windowing — the audio-modality sibling of m02's video
    * fan-out: FAKEAUD1 clips (`FAKEAUD1:<n_samples>:<rate>:<md5>`,
    * 16 kHz, length deterministic per doc) are decoded per-partition
    * and cut into the standard 25 ms window / 10 ms hop grid
    * (400/160 samples — what every spectrogram/ASR front-end feeds),
    * emitting every 50th window as a typed row through an ITERATOR
    * flatMap (an hour-long clip never materializes its ~360 k windows
    * in task memory). Window signatures are md5-derived so the oracle
    * recomputes every emitted row — boundary arithmetic that was off
    * by one hop, or windows emitted from stale payload bytes, would
    * hash-mismatch. Same 100 TB shape as m02: codec init once per
    * partition, streaming emission, columnar typed output.
    */
  def m07AudioWindows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        concat_ws(":", lit("FAKEAUD1"),
          (lit(16000) + (col("doc_id") % 7919) * 37),
          lit(16000), md5(col("text").cast("binary"))).cast("binary").as("asset"))
    assets.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // codec init, once per partition
        it.flatMap { case (id, bytes) =>
          val parts = new String(bytes, java.nio.charset.StandardCharsets.UTF_8).split(":")
          val nSamples = parts(1).toLong; val rate = parts(2).toLong
          val payload = parts(3)
          val win = 400L; val hop = 160L // 25 ms / 10 ms at 16 kHz
          val nWin = if (nSamples < win) 0L else (nSamples - win) / hop + 1
          (0L until nWin by 50).iterator.map { idx =>
            md.reset()
            val sig = md.digest(s"$payload:$idx".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            AudioWin(id, idx, idx * hop * 1000 / rate,
              (idx * hop + win) * 1000 / rate, sig)
          }
        }
      }
      .toDF()
  }

  /** One ViT-style image patch record. */
  case class Patch(doc_id: Long, patch_idx: Long, px: Long, py: Long,
      pw: Long, ph: Long, patch_sig: String)

  /** ViT-style 16×16 patch-grid extraction — the image analogue of
    * m02's frame fan-out and m07's audio framing: each decoded W×H
    * image becomes ⌈W/16⌉·⌈H/16⌉ patch rows (row-major patch_idx,
    * pixel offsets, edge patches clipped to the image bounds), the
    * tokenization a vision-transformer embedding pipeline starts
    * from. Same FAKEIMG1 stub codec as m01 (no image libs in this
    * container); the per-partition iterator flatMap is the real
    * shape — codec init once per partition, streaming emission, and
    * at 100 TB the fan-out (≤ 64 rows/asset here) stays inside the
    * scan tasks with no shuffle at all. Patch signatures are
    * md5-derived so the oracle recomputes every row arithmetically.
    */
  def m08PatchGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        (lit(32) + col("doc_id") % 97).cast("long").as("width"),
        (lit(32) + (col("doc_id") * 7) % 89).cast("long").as("height"),
        md5(col("text").cast("binary")).as("payload_md5"))
      .select(col("doc_id"),
        concat_ws(":", lit("FAKEIMG1"), col("width"), col("height"),
          col("payload_md5")).cast("binary").as("asset"))
    assets.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // codec init, once per partition
        it.flatMap { case (id, bytes) =>
          val meta = FakeCodec.decode(id, bytes)
          val (w, h) = (meta.width, meta.height)
          val nc = (w + 15) / 16
          val nr = (h + 15) / 16
          (0L until nc * nr).iterator.map { idx =>
            val cx = idx % nc; val ry = idx / nc
            md.reset()
            val sig = md.digest(s"${meta.payload_md5}:$idx".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            Patch(id, idx, cx * 16, ry * 16,
              math.min(16, w - cx * 16), math.min(16, h - ry * 16), sig)
          }
        }
      }
      .toDF()
  }

  /** Audio-visual temporal alignment — the multimodal join a video
    * training pipeline needs before it can pair modalities: each
    * sampled video frame (m02) is matched to the audio analysis
    * window (m07) whose [start_ms, end_ms) interval contains the
    * frame timestamp, per asset. This is a range join, but it needs
    * NONE of q41's bucket machinery: doc_id is the high-cardinality
    * equi-key, so the hash join distributes on it and the interval
    * predicate runs inside each key's bounded fan-out (≤ 8 frames ×
    * ≤ 40 windows here; bounded by clip length generally) — the
    * per-key-small/key-space-huge shape that is exactly what scales.
    * All times are exact integer arithmetic — no float anywhere.
    */
  def m09AvAlign(s: SparkSession, d: String): DataFrame = {
    val frames = m02FrameSample(s, d)
      .select(col("doc_id"), col("frame_idx"), col("frame_ts_ms"))
    val wins = m07AudioWindows(s, d)
      .select(col("doc_id"), col("win_idx"), col("start_ms"), col("end_ms"))
    frames.join(wins, Seq("doc_id"))
      .filter(col("frame_ts_ms") >= col("start_ms") &&
        col("frame_ts_ms") < col("end_ms"))
      .select(col("doc_id"), col("frame_idx"), col("win_idx"),
        col("frame_ts_ms"), col("start_ms"),
        (col("frame_ts_ms") - col("start_ms")).as("offset_ms"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m09_av_align" -> m09AvAlign,
    "m08_patch_grid" -> m08PatchGrid,
    "m07_audio_windows" -> m07AudioWindows,
    "m06_phash_dedup" -> m06PhashDedup,
    "m04_feature_extract" -> m04FeatureExtract,
    "m03_resize_thumb" -> m03ResizeThumb,
    "m05_binary_ingest" -> m05BinaryIngest,
    "m01_decode_meta" -> m01DecodeMeta,
    "m02_frame_sample" -> m02FrameSample)

  val oracles: Map[String, String] = Map(
    // m04's feature arithmetic -> the same 3-bit quantization ->
    // bucket self-join + full-vector verify; identical IEEE ops both
    // sides, so candidates AND survivors match exactly
    "m06_phash_dedup" ->
      """WITH h AS (
           SELECT doc_id, list_reduce(list_prepend(7::BIGINT,
             list_transform(regexp_split_to_array(md5((doc_id % 350)::VARCHAR), ''), ch -> ascii(ch)::BIGINT)),
             (acc, ch) -> (acc * 31 + ch) % 1000000007) AS hv
           FROM documents),
         f AS (
           SELECT doc_id,
             list_transform(range(0, 8), j ->
               ((hv * (j + 2) + 7919 * j) % 1000000007)::DOUBLE / 1000000007.0) AS fv
           FROM h),
         sg AS (
           SELECT doc_id, fv,
             list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
               floor(fv[j + 1] * 8)::BIGINT << (3 * j))), (a, x) -> a + x) AS sig
           FROM f)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig
         FROM sg a JOIN sg b
           ON a.sig = b.sig AND a.doc_id < b.doc_id AND a.fv = b.fv""",
    // recomputes the staged bytes' metadata arithmetically over the
    // same deterministic slice — a lost/duplicated file, a wrong key
    // parse, or stale staging hash-mismatches
    "m05_binary_ingest" ->
      """SELECT doc_id,
           length('FAKEIMG1:' || (32 + doc_id % 97) || ':'
             || (32 + (doc_id * 7) % 89) || ':' || md5(text))::BIGINT AS n_bytes,
           32 + doc_id % 97 AS width,
           32 + (doc_id * 7) % 89 AS height,
           md5(text) AS payload_md5
         FROM documents WHERE doc_id % 50 = 0""",
    // the t04-style polynomial hash over the md5 HEX STRING's chars,
    // then the per-dim affine mix — integer space end to end, so the
    // scaled double is bit-identical
    "m04_feature_extract" ->
      """WITH h AS (
           SELECT doc_id, list_reduce(list_prepend(7::BIGINT,
             list_transform(regexp_split_to_array(md5(text), ''), ch -> ascii(ch)::BIGINT)),
             (acc, ch) -> (acc * 31 + ch) % 1000000007) AS hv
           FROM documents)
         SELECT doc_id, j AS dim,
           ((hv * (j + 2) + 7919 * j) % 1000)::DOUBLE / 1000.0 AS feat
         FROM h, unnest(range(0, 8)) AS u(j)""",
    "m03_resize_thumb" ->
      """WITH dims AS (
           SELECT doc_id, (32 + doc_id % 97)::BIGINT AS in_w,
             (32 + (doc_id * 7) % 89)::BIGINT AS in_h,
             md5(text) AS pmd5
           FROM documents),
         rs AS (
           SELECT doc_id, in_w, in_h,
             greatest(1, in_w * 16 // greatest(in_w, in_h))::BIGINT AS out_w,
             greatest(1, in_h * 16 // greatest(in_w, in_h))::BIGINT AS out_h,
             pmd5
           FROM dims)
         SELECT doc_id, in_w, in_h, out_w, out_h,
           md5(pmd5 || ':' || out_w || ':' || out_h) AS thumb_md5,
           length('FAKETHUMB1:' || out_w || ':' || out_h || ':'
             || md5(pmd5 || ':' || out_w || ':' || out_h))::BIGINT AS thumb_bytes
         FROM rs""",
    "m01_decode_meta" ->
      """SELECT doc_id, 32 + doc_id % 97 AS width,
         32 + (doc_id * 7) % 89 AS height,
         length('FAKEIMG1::' || (32 + doc_id % 97) || (32 + (doc_id * 7) % 89))
           + 1 + 32 AS n_bytes,
         md5(text) AS payload_md5
         FROM documents""",
    "m02_frame_sample" ->
      """SELECT doc_id, idx AS frame_idx,
         (idx * 1000) // 24 AS frame_ts_ms,
         md5(md5(text) || ':' || idx) AS frame_sig
         FROM documents,
              unnest(range(0, 8 + doc_id % 23, 4)) AS u(idx)""",
    // n_samples >= 16000 > 400 always, so nwin = (n-400)//160 + 1
    "m07_audio_windows" ->
      """SELECT doc_id, idx AS win_idx,
         (idx * 160 * 1000) // 16000 AS start_ms,
         ((idx * 160 + 400) * 1000) // 16000 AS end_ms,
         md5(md5(text) || ':' || idx) AS win_sig
         FROM documents,
              unnest(range(0, (16000 + (doc_id % 7919) * 37 - 400) // 160 + 1, 50)) AS u(idx)""",
    // m01's dimension arithmetic -> row-major grid enumeration; edge
    // patches clip to the image bounds; signatures recomputed from the
    // same md5 chain
    "m08_patch_grid" ->
      """WITH dims AS (
           SELECT doc_id, 32 + doc_id % 97 AS w, 32 + (doc_id * 7) % 89 AS h,
             md5(text) AS payload,
             (32 + doc_id % 97 + 15) // 16 AS nc,
             (32 + (doc_id * 7) % 89 + 15) // 16 AS nr
           FROM documents)
         SELECT doc_id, idx AS patch_idx,
           (idx % nc) * 16 AS px, (idx // nc) * 16 AS py,
           least(16, w - (idx % nc) * 16)::BIGINT AS pw,
           least(16, h - (idx // nc) * 16)::BIGINT AS ph,
           md5(payload || ':' || idx) AS patch_sig
         FROM dims, unnest(range(0, nc * nr)) AS u(idx)""",
    // m02's frame enumeration x m07's window enumeration, joined on
    // interval containment — identical integer arithmetic both sides
    "m09_av_align" ->
      """WITH frames AS (
           SELECT doc_id, idx AS frame_idx, (idx * 1000) // 24 AS frame_ts_ms
           FROM documents, unnest(range(0, 8 + doc_id % 23, 4)) AS u(idx)),
         wins AS (
           SELECT doc_id, idx AS win_idx,
             (idx * 160 * 1000) // 16000 AS start_ms,
             ((idx * 160 + 400) * 1000) // 16000 AS end_ms
           FROM documents,
                unnest(range(0, (16000 + (doc_id % 7919) * 37 - 400) // 160 + 1, 50)) AS u(idx))
         SELECT f.doc_id AS doc_id, frame_idx, win_idx, frame_ts_ms, start_ms,
           frame_ts_ms - start_ms AS offset_ms
         FROM frames f JOIN wins w ON f.doc_id = w.doc_id
           AND frame_ts_ms >= start_ms AND frame_ts_ms < end_ms""")
}
