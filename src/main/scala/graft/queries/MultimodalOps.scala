package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal

/** Multimodal-column pipeline queries: media synthesized deterministically
  * from document text (no codec libs in this container — see
  * operators.Multimodal scaladoc), batch feature extraction and frame
  * sampling with byte-exact DuckDB oracles.
  */
object MultimodalOps {

  /** ONE oracle for both media-triage gates: q171 (batch projection)
    * and q176 (streaming form routed through per-kind journals). The
    * five shapes are pure doc_id arithmetic, so kind/format/geometry
    * are too; shape 4 (garbage) must land in quarantine with every
    * routed field NULL.
    */
  private[queries] val mediaRoutingOracleSql: String =
    """WITH p AS (
      |  SELECT doc_id, doc_id % 5 AS shape,
      |    16 + (doc_id % 6) * 4 AS w,
      |    12 + (doc_id % 4) * 4 AS h,
      |    5 + (doc_id % 9) AS nf
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN shape = 0 THEN 'image' WHEN shape <= 3 THEN 'video'
      |       ELSE NULL END AS kind,
      |  CASE shape WHEN 0 THEN 'bmp' WHEN 1 THEN 'mp4' WHEN 2 THEN 'mp4'
      |       WHEN 3 THEN 'mkv' ELSE NULL END AS format,
      |  CASE WHEN shape <= 3 THEN CAST(w AS BIGINT) END AS width,
      |  CASE WHEN shape <= 3 THEN CAST(h AS BIGINT) END AS height,
      |  CASE WHEN shape BETWEEN 1 AND 3 THEN CAST(nf AS BIGINT) END
      |    AS n_frames
      |FROM p""".stripMargin

  /** The q188 realistic near-dup image corpus, hashed: (doc_id,
    * cluster, h) — clusters of 4 (doc_id div 4) rendered as REAL JPEG
    * variants of a cluster-keyed block pattern, every third cluster's
    * member 3 a far singleton; dHash over actual decoded rasters.
    * ONE definition for the gate query and any scale measurement of
    * it, so a probe at larger scale sees exactly the distribution the
    * gate runs.
    */
  def neardupHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val params = Tables.documents(s, d)
      .select($"doc_id".cast("long").as("doc_id"))
      .withColumn("cluster", expr("doc_id div 4"))
      .withColumn("m", ($"doc_id" % 4).cast("int"))
      .withColumn("far", $"doc_id" % 4 === 3 &&
        expr("doc_id div 4") % 3 === 0)
    val build = udf { (c: Long, m: Int, far: Boolean) =>
      graft.operators.VideoFixtures.neardupJpeg(c, m, far)
    }
    params
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("h", graft.operators.ImagePhash.imageDhash(
        build($"cluster", $"m", $"far")))
      .select($"doc_id", $"cluster", $"h")
  }

  /** The q191 audio twin of [[neardupHashes]]: clusters of 4 rendered
    * as real WAV variants (16-bit base, 8-bit requantize, 12 kHz
    * resample, gain+dither) of a cluster-keyed loudness envelope;
    * envelope hash over actually-decoded PCM.
    */
  def neardupAudioHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val params = Tables.documents(s, d)
      .select($"doc_id".cast("long").as("doc_id"))
      .withColumn("cluster", expr("doc_id div 4"))
      .withColumn("m", ($"doc_id" % 4).cast("int"))
      .withColumn("far", $"doc_id" % 4 === 3 &&
        expr("doc_id div 4") % 3 === 0)
    val build = udf { (c: Long, m: Int, far: Boolean) =>
      graft.operators.AudioFixtures.neardupWav(c, m, far)
    }
    params
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("h", graft.operators.AudioPhash.audioEnvelopeHash(
        build($"cluster", $"m", $"far")))
      .select($"doc_id", $"cluster", $"h")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- q32: batched feature extraction over binary media columns.
    "q32_multimodal_features" -> { (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.synthesize(Tables.documents(s, d)))
    },

    // ---- q33: frame sampling (every 4th 256-byte frame), re-aggregated.
    "q33_frame_sample" -> { (s, d) =>
      import s.implicits._
      Multimodal.sampleFrames(
          Multimodal.synthesize(Tables.documents(s, d)), frameBytes = 256, stride = 4)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_sampled"),
          sum(octet_length($"frame")).as("bytes_sampled"))
    },

    // ---- q160: resize planning — shorter side to 224 px preserving
    // aspect, integer geometry + exact RGB buffer bytes (the pixel
    // resample is the decode-stub boundary; the plan is what batching
    // and size-aware repartitioning consume).
    "q160_resize_plan" -> { (s, d) =>
      Multimodal.resizePlan(
        Multimodal.synthesize(Tables.documents(s, d)), shorter = 224)
    },

    // ---- q168: VIDEO container round-trip (round 10): per doc, build
    // a real spec-conformant MP4 (VideoFixtures — parameters derived
    // from doc_id), then PARSE it back with VideoContainer (box walk,
    // tkhd geometry, mvhd duration, stts/stss sample tables) and
    // resolve every keyframe's byte range through stss×stsz×stsc×stco.
    // kf_payload_ok counts keyframes whose claimed range, sliced from
    // the actual blob with binary substring, lands on the sample's
    // leading BE32 magic — the oracle knows it must equal n_keyframes,
    // so a single wrong offset anywhere in the chunk-walk fails the
    // gate. The oracle computes every field from the same doc_id
    // arithmetic: build∘parse must be the identity.
    "q168_video_container" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("w", (lit(160) + ($"doc_id" % 8) * 16).cast("int"))
        .withColumn("h", (lit(96) + ($"doc_id" % 5) * 16).cast("int"))
        .withColumn("fps", (lit(5) + $"doc_id" % 6).cast("int"))
        .withColumn("nf", (lit(8) + $"doc_id" % 20).cast("int"))
        .withColumn("ke", (lit(1) + $"doc_id" % 4).cast("int"))
      val build = udf { (w: Int, h: Int, fps: Int, nf: Int, ke: Int) =>
        graft.operators.VideoFixtures.mp4(w, h, fps, nf, ke)
      }
      params
        .withColumn("media", build($"w", $"h", $"fps", $"nf", $"ke"))
        .withColumn("m", graft.operators.VideoContainer.videoMeta($"media"))
        .withColumn("kfs", graft.operators.VideoContainer.keyframeMap($"media"))
        .select($"doc_id",
          $"m.width".cast("long").as("width"),
          $"m.height".cast("long").as("height"),
          $"m.duration_ms".as("duration_ms"),
          $"m.n_frames".as("n_frames"),
          $"m.n_keyframes".as("n_keyframes"),
          expr("aggregate(kfs, 0L, (acc, kf) -> acc + kf.size)")
            .as("kf_bytes"),
          expr("size(filter(kfs, kf -> int(conv(hex(substring(" +
            "media, int(kf.offset) + 1, 4)), 16, 10)) = kf.sample))")
            .cast("long").as("kf_payload_ok"))
    },

    // ---- q169: Matroska container round-trip — the EBML sibling of
    // q168 (same build-parameters-from-doc_id trick, same identity
    // contract). MkvContainer has no MP4-style sample table to
    // resolve: frame and keyframe counts come from walking the
    // Cluster's SimpleBlock headers (track varint + flags byte), so
    // the gate certifies the EBML element walk, the track selection,
    // the Info duration arithmetic, AND the block-stream scan.
    "q169_mkv_container" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("w", (lit(160) + ($"doc_id" % 7) * 16).cast("int"))
        .withColumn("h", (lit(96) + ($"doc_id" % 4) * 16).cast("int"))
        .withColumn("fps", (lit(6) + $"doc_id" % 5).cast("int"))
        .withColumn("nf", (lit(6) + $"doc_id" % 18).cast("int"))
        .withColumn("ke", (lit(1) + $"doc_id" % 3).cast("int"))
      val build = udf { (w: Int, h: Int, fps: Int, nf: Int, ke: Int) =>
        graft.operators.VideoFixtures.mkv(w, h, fps, nf, ke)
      }
      params
        .withColumn("media", build($"w", $"h", $"fps", $"nf", $"ke"))
        .withColumn("m", graft.operators.MkvContainer.mkvMeta($"media"))
        .select($"doc_id",
          $"m.format".as("format"),
          $"m.codec".as("codec"),
          $"m.width".cast("long").as("width"),
          $"m.height".cast("long").as("height"),
          $"m.duration_ms".as("duration_ms"),
          $"m.n_frames".as("n_frames"),
          $"m.n_keyframes".as("n_keyframes"))
    },

    // ---- q170: FRAGMENTED MP4 (CMAF/DASH delivery shape) — q168's
    // identity contract over the moof/traf/trun path: empty moov
    // sample tables, frame facts accumulated across fragments, byte
    // offsets resolved from default-base-is-moof + trun data offsets.
    // The payload-magic check certifies every claimed keyframe range
    // lands on the right sample across FRAGMENT boundaries (fragment
    // size 5 deliberately misaligns with the keyframe stride).
    "q170_fmp4_container" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("w", (lit(176) + ($"doc_id" % 6) * 16).cast("int"))
        .withColumn("h", (lit(112) + ($"doc_id" % 5) * 16).cast("int"))
        .withColumn("fps", (lit(4) + $"doc_id" % 7).cast("int"))
        .withColumn("nf", (lit(7) + $"doc_id" % 16).cast("int"))
        .withColumn("ke", (lit(2) + $"doc_id" % 3).cast("int"))
      val build = udf { (w: Int, h: Int, fps: Int, nf: Int, ke: Int) =>
        graft.operators.VideoFixtures.fmp4(w, h, fps, nf, ke, fragSamples = 5)
      }
      params
        .withColumn("media", build($"w", $"h", $"fps", $"nf", $"ke"))
        .withColumn("m", graft.operators.VideoContainer.videoMeta($"media"))
        .withColumn("kfs", graft.operators.VideoContainer.keyframeMap($"media"))
        .select($"doc_id",
          $"m.width".cast("long").as("width"),
          $"m.height".cast("long").as("height"),
          $"m.duration_ms".as("duration_ms"),
          $"m.n_frames".as("n_frames"),
          $"m.n_keyframes".as("n_keyframes"),
          expr("aggregate(kfs, 0L, (acc, kf) -> acc + kf.size)")
            .as("kf_bytes"),
          expr("size(filter(kfs, kf -> int(conv(hex(substring(" +
            "media, int(kf.offset) + 1, 4)), 16, 10)) = kf.sample))")
            .cast("long").as("kf_payload_ok"))
    },

    // ---- q171: mixed-media triage — the corpus entry point: per doc,
    // build one of FIVE media shapes chosen by doc_id (BMP image,
    // progressive MP4, fragmented MP4, Matroska, or garbage bytes),
    // route the blob through MediaRouter's magic-byte dispatch, and
    // report (kind, format, width, height, n_frames). Quarantine rows
    // (garbage) keep NULL kind — the oracle knows exactly which rows
    // those are, so the gate certifies both every detector AND the
    // refusal path in one query.
    "q171_media_routing" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("shape", ($"doc_id" % 5).cast("int"))
        .withColumn("w", (lit(16) + ($"doc_id" % 6) * 4).cast("int"))
        .withColumn("h", (lit(12) + ($"doc_id" % 4) * 4).cast("int"))
        .withColumn("nf", (lit(5) + $"doc_id" % 9).cast("int"))
      val build = udf { (shape: Int, w: Int, h: Int, nf: Int) =>
        import graft.operators.VideoFixtures
        shape match {
          case 0 => graft.operators.ImageHeader.bmpFixture(w, h)
          case 1 => VideoFixtures.mp4(w, h, 5, nf, 2)
          case 2 => VideoFixtures.fmp4(w, h, 5, nf, 2, fragSamples = 3)
          case 3 => VideoFixtures.mkv(w, h, 5, nf, 2)
          case _ => s"not media at all #$w/$h".getBytes("UTF-8")
        }
      }
      graft.operators.MediaRouter.route(
          params.withColumn("media", build($"shape", $"w", $"h", $"nf")))
        .select($"doc_id", $"kind", $"format",
          $"width".cast("long").as("width"),
          $"height".cast("long").as("height"),
          $"n_frames".as("n_frames"))
    },

    // ---- q172: REAL video pixel decode — Motion-JPEG, the one video
    // codec the JDK rasterizes (every sample is a baseline JPEG). Per
    // doc: build an MJPEG MP4 whose frame i is a solid fill with
    // per-channel values at 32k+16 (k = doc_id/sample arithmetic mod
    // 8), slice ONLY keyframe byte ranges (stss×stsz×stsc×stco), decode
    // them with ImageIO, and report per-doc keyframe count, decoded
    // count, decoded geometry, and the per-channel bucket sums
    // (floor(mean/32)). JPEG round-trips a uniform color to within a
    // few units — far inside the ±15 bucket radius — so the DECODED
    // raster means land in exactly the bucket the build arithmetic
    // names, and the oracle replays that arithmetic: a wrong slice,
    // codec misroute, or raster bug shifts a bucket and fails the hash.
    "q172_mjpeg_decode" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("w", (lit(48) + ($"doc_id" % 4) * 16).cast("int"))
        .withColumn("h", (lit(32) + ($"doc_id" % 3) * 16).cast("int"))
        .withColumn("fps", (lit(5) + $"doc_id" % 4).cast("int"))
        .withColumn("nf", (lit(4) + $"doc_id" % 6).cast("int"))
        .withColumn("ke", (lit(1) + $"doc_id" % 3).cast("int"))
      val build = udf { (docId: Long, w: Int, h: Int, fps: Int, nf: Int, ke: Int) =>
        graft.operators.VideoFixtures.mjpegMp4(w, h, fps, nf, ke, i => {
          val r = 32 * ((docId + i) % 8).toInt + 16
          val g = 32 * ((docId * 3 + i) % 8).toInt + 16
          val b = 32 * ((docId * 7 + i) % 8).toInt + 16
          (r << 16) | (g << 8) | b
        })
      }
      // Repartition first: documents.parquet is a single file = ONE
      // scan partition, and the JPEG encode/decode is CPU-bound — on
      // one core it was the whole suite's slowest row. Then persist
      // the built corpus: the encode UDF is the dominant cost and
      // `media` feeds multiple downstream expressions across operator
      // boundaries Spark will not CSE; the harness's per-query
      // clearCache releases it. Measured 8.7 s -> 6.1 (persist) ->
      // sub-second with the full fan-out.
      val corpus = params
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("media",
          build($"doc_id", $"w", $"h", $"fps", $"nf", $"ke")).persist()
      Multimodal.decodeKeyframes(corpus)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_keyframes"),
          count($"frame_w").as("n_decoded"),
          max($"frame_w").cast("long").as("frame_w"),
          max($"frame_h").cast("long").as("frame_h"),
          sum(expr("mean_r div 32")).as("sum_rb"),
          sum(expr("mean_g div 32")).as("sum_gb"),
          sum(expr("mean_b div 32")).as("sum_bb"))
    },

    // ---- q173: MJPEG in AVI — the classic webcam/capture container.
    // The same decode contract as q172 routed through the RIFF side:
    // frame facts from the movi data chunks (NOT the avih hint),
    // keyframe byte ranges from idx1's movi-relative offsets +
    // AVIIF_KEYFRAME flags, payloads decoded by ImageIO. duration_ms /
    // n_frames certify the movi-facts override of the header hint;
    // the bucket sums certify idx1 landed every range on a real JPEG
    // of the arithmetic-chosen color.
    "q173_avi_mjpeg" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("w", (lit(48) + ($"doc_id" % 3) * 16).cast("int"))
        .withColumn("h", (lit(32) + ($"doc_id" % 4) * 16).cast("int"))
        .withColumn("upf", (lit(40000) + ($"doc_id" % 5) * 20000).cast("long"))
        .withColumn("nf", (lit(3) + $"doc_id" % 7).cast("int"))
        .withColumn("ke", (lit(1) + $"doc_id" % 4).cast("int"))
      val build = udf { (docId: Long, w: Int, h: Int, upf: Long, nf: Int, ke: Int) =>
        graft.operators.VideoFixtures.aviMjpeg(w, h, upf, nf, ke, i => {
          val r = 32 * ((docId * 5 + i) % 8).toInt + 16
          val g = 32 * ((docId + 2L * i) % 8).toInt + 16
          val b = 32 * ((docId * 11 + i) % 8).toInt + 16
          (r << 16) | (g << 8) | b
        })
      }
      // Repartitioned + persisted for the same reasons as q172: the
      // single-file scan would run the CPU-bound encode on one core,
      // and media feeds the meta projection AND the decode path.
      val corpus = params
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("media", build($"doc_id", $"w", $"h", $"upf", $"nf", $"ke"))
        .persist()
      val meta = corpus
        .withColumn("m", graft.operators.VideoContainer.videoMeta($"media"))
        .select($"doc_id", $"m.duration_ms".as("duration_ms"),
          $"m.n_frames".as("n_frames"))
      val decoded = Multimodal.decodeKeyframes(corpus)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_keyframes"),
          count($"frame_w").as("n_decoded"),
          max($"frame_w").cast("long").as("frame_w"),
          max($"frame_h").cast("long").as("frame_h"),
          sum(expr("mean_r div 32")).as("sum_rb"),
          sum(expr("mean_g div 32")).as("sum_gb"),
          sum(expr("mean_b div 32")).as("sum_bb"))
      meta.join(decoded, Seq("doc_id"))
    },

    // ---- q174: MJPEG in Matroska — the THIRD real-decode container.
    // Same contract as q172/q173 through the EBML side: codec id
    // V_MJPEG, keyframe ranges from SimpleBlock headers (flag 0x80),
    // payloads = standalone JPEGs rasterized by ImageIO. With all
    // three containers gated, the decode path's container dispatch
    // (BMFF tables / RIFF index / EBML block stream) is certified
    // end-to-end on the same bucket arithmetic.
    "q174_mkv_mjpeg" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("w", (lit(48) + ($"doc_id" % 5) * 16).cast("int"))
        .withColumn("h", (lit(32) + ($"doc_id" % 2) * 16).cast("int"))
        .withColumn("fps", (lit(4) + $"doc_id" % 5).cast("int"))
        .withColumn("nf", (lit(3) + $"doc_id" % 8).cast("int"))
        .withColumn("ke", (lit(1) + $"doc_id" % 5).cast("int"))
      val build = udf { (docId: Long, w: Int, h: Int, fps: Int, nf: Int, ke: Int) =>
        graft.operators.VideoFixtures.mkvMjpeg(w, h, fps, nf, ke, i => {
          val r = 32 * ((docId * 2 + i) % 8).toInt + 16
          val g = 32 * ((docId * 9 + i) % 8).toInt + 16
          val b = 32 * ((docId + 3L * i) % 8).toInt + 16
          (r << 16) | (g << 8) | b
        })
      }
      val corpus = params
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("media",
          build($"doc_id", $"w", $"h", $"fps", $"nf", $"ke")).persist()
      val meta = corpus
        .withColumn("m", graft.operators.MkvContainer.mkvMeta($"media"))
        .select($"doc_id", $"m.codec".as("codec"),
          $"m.duration_ms".as("duration_ms"), $"m.n_frames".as("n_frames"))
      val decoded = Multimodal.decodeKeyframes(corpus)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_keyframes"),
          count($"frame_w").as("n_decoded"),
          max($"frame_w").cast("long").as("frame_w"),
          max($"frame_h").cast("long").as("frame_h"),
          sum(expr("mean_r div 32")).as("sum_rb"),
          sum(expr("mean_g div 32")).as("sum_gb"),
          sum(expr("mean_b div 32")).as("sum_bb"))
      meta.join(decoded, Seq("doc_id"))
    },

    // ---- q175: the AUDIO metadata layer — header-only sample rate /
    // channels / duration across five container families (WAV exact,
    // FLAC STREAMINFO exact, bare MPEG CBR estimate, Ogg Vorbis
    // terminal-granule exact, audio-only BMFF mvhd exact). Every
    // parsed field is pure arithmetic of the build parameters, which
    // are doc_id arithmetic — so the oracle replays the duration math
    // of each family and the gate certifies all five parsers plus the
    // exactness flag in one query.
    "q175_audio_metadata" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("shape", ($"doc_id" % 5).cast("int"))
        .withColumn("rate", (lit(8000) + ($"doc_id" % 5) * 4000).cast("int"))
        .withColumn("ch", (lit(1) + $"doc_id" % 2).cast("int"))
        .withColumn("n", (lit(1000) + ($"doc_id" % 50) * 40).cast("long"))
      val build = udf { (shape: Int, rate: Int, ch: Int, n: Long) =>
        import graft.operators.AudioFixtures
        shape match {
          case 0 => AudioFixtures.wav(rate, ch, n.toInt)
          case 1 => AudioFixtures.flac(rate, ch, n * 5)
          case 2 => AudioFixtures.mp3(kbps = 128, totalBytes = n.toInt * 16)
          case 3 => AudioFixtures.oggVorbis(rate, ch, n * 3)
          case _ => AudioFixtures.m4a(timescale = 600, duration = n)
        }
      }
      params
        .withColumn("media", build($"shape", $"rate", $"ch", $"n"))
        .withColumn("m", graft.operators.AudioContainer.audioMeta($"media"))
        .select($"doc_id", $"m.format".as("format"),
          $"m.sample_rate".cast("long").as("sample_rate"),
          $"m.channels".cast("long").as("channels"),
          $"m.duration_ms".as("duration_ms"),
          $"m.exact".as("exact"))
    },

    // ---- q176: STREAMING media triage (VERDICT r9 #4) — q171's mixed
    // corpus replayed as a file stream (4 files → 4 micro-batches),
    // triaged IN-FLIGHT by MediaRouter's stateless magic-byte
    // projection, and ROUTED at write time into per-kind journals
    // (media/image, media/video, media/quarantine for NULL-kind blobs)
    // through the crash-atomic foreachBatch journal sink. The gate
    // reads all three journals back and reassembles the per-doc triage
    // frame — the oracle is the SAME val as q171's (one shared SQL, so
    // the batch and streaming routes cannot drift), certifying the full
    // stream → triage → route → journal-commit → read-back composition.
    // This is the multimodal analog of q167: the triage the corpus
    // entry point would run on a live ingest firehose, proven through
    // the real write path rather than a batch projection.
    "q176_media_routing_streaming" -> { (s, d) =>
      import s.implicits._
      import graft.operators.MediaRouter
      // Identical corpus arithmetic to q171 — the shared oracle demands it.
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("shape", ($"doc_id" % 5).cast("int"))
        .withColumn("w", (lit(16) + ($"doc_id" % 6) * 4).cast("int"))
        .withColumn("h", (lit(12) + ($"doc_id" % 4) * 4).cast("int"))
        .withColumn("nf", (lit(5) + $"doc_id" % 9).cast("int"))
      val build = udf { (shape: Int, w: Int, h: Int, nf: Int) =>
        import graft.operators.VideoFixtures
        shape match {
          case 0 => graft.operators.ImageHeader.bmpFixture(w, h)
          case 1 => VideoFixtures.mp4(w, h, 5, nf, 2)
          case 2 => VideoFixtures.fmp4(w, h, 5, nf, 2, fragSamples = 3)
          case 3 => VideoFixtures.mkv(w, h, 5, nf, 2)
          case _ => s"not media at all #$w/$h".getBytes("UTF-8")
        }
      }
      val corpus = params.select($"doc_id",
        build($"shape", $"w", $"h", $"nf").as("media"))
      // Triage in-stream (stateless projection: zero exchanges), then
      // serialize the routed frame once; each journal route filters on
      // the already-computed kind, never re-running the parsers.
      // to_json drops null fields, so quarantine payloads carry only
      // doc_id and from_json restores the NULLs the oracle demands.
      StreamOps.drainRouted(s, "mr", corpus, Seq(
          "media/image" -> ($"kind" === "image"),
          "media/video" -> ($"kind" === "video"),
          "media/quarantine" -> $"kind".isNull),
          "doc_id BIGINT, kind STRING, format STRING, width BIGINT, " +
            "height BIGINT, n_frames BIGINT") { src =>
        MediaRouter.route(src)
          .select($"kind", to_json(struct($"doc_id", $"kind", $"format",
              $"width".cast("long").as("width"),
              $"height".cast("long").as("height"), $"n_frames"))
            .as("payload"))
      }
    },

    // ---- q177: VBR MP3 duration (VERDICT r9 #5) — the common
    // real-world MP3 case the CBR estimate misreports. Four shapes per
    // doc: Xing-tagged VBR, Fraunhofer VBRI, LAME "Info"-tagged CBR
    // (all three carry a frame count → duration = frames × 1152 /
    // 44100, EXACT), and a bare frame stream (no count header → the
    // byte-length CBR estimate, flagged exact=false). Every duration
    // is pure arithmetic of the build parameters, so the oracle
    // replays both formulas and the gate certifies the Xing/VBRI
    // parse, the Info acceptance, AND the honest exactness flag.
    "q177_vbr_mp3" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("shape", ($"doc_id" % 4).cast("int"))
        .withColumn("frames", (lit(500) + ($"doc_id" % 100) * 25).cast("long"))
        .withColumn("tb", (lit(4096) + ($"doc_id" % 7) * 512).cast("int"))
      val build = udf { (shape: Int, frames: Long, tb: Int) =>
        import graft.operators.AudioFixtures
        shape match {
          case 0 => AudioFixtures.mp3Xing(frames, tb)
          case 1 => AudioFixtures.mp3Vbri(frames, tb)
          case 2 => AudioFixtures.mp3Xing(frames, tb, tag = "Info")
          case _ => AudioFixtures.mp3(kbps = 128, totalBytes = tb)
        }
      }
      params
        .withColumn("media", build($"shape", $"frames", $"tb"))
        .withColumn("m", graft.operators.AudioContainer.audioMeta($"media"))
        .select($"doc_id", $"m.format".as("format"),
          $"m.sample_rate".cast("long").as("sample_rate"),
          $"m.channels".cast("long").as("channels"),
          $"m.duration_ms".as("duration_ms"),
          $"m.exact".as("exact"))
    },

    // ---- q178: CODEC-CONFIG layer (round 10) — header-EXACT stream
    // facts for the codecs whose SAMPLE decode stays stubbed: per doc,
    // synthesize a real SPS (exp-Golomb bitstream, CodecFixtures),
    // wrap it in an avcC/hvcC record, mux it into BOTH containers
    // (BMFF stsd child box AND Matroska CodecPrivate), then parse
    // profile/level/bit-depth/chroma/coded-geometry back with
    // CodecConfig. Widths/heights are non-multiple-of-16, so the
    // conformance-crop math is load-bearing: a parser that returns
    // the macroblock-rounded size fails every row. mkv_agree asserts
    // the two container routes hand over byte-identical records.
    "q178_codec_config" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("hevc", $"doc_id" % 2 === 1)
        .withColumn("w", (lit(160) + ($"doc_id" % 9) * 2).cast("int"))
        .withColumn("h", (lit(90) + ($"doc_id" % 7) * 2).cast("int"))
        .withColumn("fps", (lit(4) + $"doc_id" % 5).cast("int"))
        .withColumn("nf", (lit(5) + $"doc_id" % 9).cast("int"))
        .withColumn("ke", (lit(1) + $"doc_id" % 3).cast("int"))
        .withColumn("profile", when($"hevc",
            lit(1) + expr("(doc_id div 2) % 2"))
          .otherwise(element_at(array(lit(66), lit(77), lit(100)),
            expr("int((doc_id div 2) % 3)") + lit(1))).cast("int"))
        .withColumn("level", when($"hevc", lit(90) + ($"doc_id" % 4) * 3)
          .otherwise(lit(30) + ($"doc_id" % 4) * 4).cast("int"))
        .withColumn("bd", when($"hevc",
            when($"profile" === 2, 10).otherwise(8))
          .otherwise(when($"profile" === 100,
            lit(8) + expr("(doc_id div 3) % 3") * 2).otherwise(8))
          .cast("int"))
      val buildMp4 = udf { (hevc: Boolean, w: Int, h: Int, fps: Int,
          nf: Int, ke: Int, profile: Int, level: Int, bd: Int) =>
        graft.operators.CodecFixtures.mp4WithConfig(
          w, h, fps, nf, ke, hevc, profile, level, bd)
      }
      val buildMkv = udf { (hevc: Boolean, w: Int, h: Int, fps: Int,
          nf: Int, ke: Int, profile: Int, level: Int, bd: Int) =>
        import graft.operators.CodecFixtures
        val rec =
          if (hevc) CodecFixtures.hvcC(
            CodecFixtures.hevcSps(profile, level, w, h, bd), profile, level)
          else CodecFixtures.avcC(
            CodecFixtures.avcSps(profile, level, w, h, bd))
        graft.operators.VideoFixtures.mkvWithCodecPrivate(w, h, fps, nf, ke,
          if (hevc) "V_MPEGH/ISO/HEVC" else "V_MPEG4/ISO/AVC", rec)
      }
      val mkvProf = udf { b: Array[Byte] =>
        graft.operators.MkvContainer.codecPrivate(b).flatMap {
          case (hint, rec) =>
            graft.operators.CodecConfig.parseRecord(hint, rec)
        }.map(p => (p.codec, p.profileIdc, p.levelIdc, p.bitDepth,
          p.chromaFormat, p.codedWidth, p.codedHeight))
      }
      val in = $"hevc" :: $"w" :: $"h" :: $"fps" :: $"nf" :: $"ke" ::
        $"profile" :: $"level" :: $"bd" :: Nil
      params
        .withColumn("mp", graft.operators.CodecConfig.codecProfile(
          buildMp4(in: _*)))
        .withColumn("kp", mkvProf(buildMkv(in: _*))
          .cast("struct<codec:string,profile_idc:int,level_idc:int," +
            "bit_depth:int,chroma_format:int,coded_width:int," +
            "coded_height:int>"))
        .select($"doc_id",
          $"mp.codec".as("codec"),
          $"mp.profile_idc".cast("long").as("profile_idc"),
          $"mp.level_idc".cast("long").as("level_idc"),
          $"mp.bit_depth".cast("long").as("bit_depth"),
          $"mp.chroma_format".cast("long").as("chroma_format"),
          $"mp.coded_width".cast("long").as("coded_width"),
          $"mp.coded_height".cast("long").as("coded_height"),
          ($"mp" === $"kp").cast("long").as("mkv_agree"))
    },

    // ---- q179: EXIF orientation — the display-geometry fact
    // phone-camera corpora carry OUTSIDE the SOF header. Three shapes
    // per doc: a real baseline JPEG with an EXIF APP1 spliced in
    // (orientation in the embedded TIFF's IFD0), a bare TIFF with the
    // tag inline, and an orientation-less BMP that must default to 1.
    // display_w/h swap exactly for the transposed quadrant (5-8) —
    // all pure arithmetic of the build parameters.
    "q179_exif_orientation" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("shape", ($"doc_id" % 3).cast("int"))
        .withColumn("o", (lit(1) + $"doc_id" % 8).cast("int"))
        .withColumn("w", (lit(24) + ($"doc_id" % 6) * 8).cast("int"))
        .withColumn("h", (lit(16) + ($"doc_id" % 5) * 8).cast("int"))
      val build = udf { (shape: Int, o: Int, w: Int, h: Int) =>
        import graft.operators.ImageHeader
        shape match {
          case 0 => ImageHeader.exifJpegFixture(w, h, o,
            ((o * 77 + w) % 256) << 8)
          case 1 => ImageHeader.tiffFixture(w, h, o)
          case _ => ImageHeader.bmpFixture(w, h)
        }
      }
      params
        // The encode UDF is the expensive column: repartition the
        // single-file scan so 20k ImageIO encodes at sf0.1 fan out
        // (q172's lesson), and derive all outputs from ONE struct.
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("m", graft.operators.ImageHeader.orientedMeta(
          build($"shape", $"o", $"w", $"h")))
        .select($"doc_id",
          $"m.format".as("format"),
          $"m.orientation".cast("long").as("orientation"),
          $"m.width".cast("long").as("width"),
          $"m.height".cast("long").as("height"),
          $"m.display_width".cast("long").as("display_width"),
          $"m.display_height".cast("long").as("display_height"))
    },

    // ---- q180: PERCEPTUAL image hash on real decoded rasters — the
    // image-side dedup signal. Three shapes per doc: ascending
    // diagonal gradient (every dHash and vHash comparison strictly
    // brighter → popcount 64/64), descending (strictly darker →
    // 0/0), solid (flat → 0/0). The popcounts are exact functions of
    // the build shape because the diagonal keeps BOTH axes ~14 gray
    // levels per block step — far above JPEG requantization noise —
    // so the gate certifies decode → block-mean grid → comparison
    // bits end-to-end, not just hash plumbing.
    "q180_image_phash" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("shape", ($"doc_id" % 3).cast("int"))
        .withColumn("w", (lit(36) + ($"doc_id" % 5) * 12).cast("int"))
        .withColumn("h", (lit(36) + ($"doc_id" % 4) * 12).cast("int"))
      val build = udf { (shape: Int, w: Int, h: Int) =>
        shape match {
          case 0 => graft.operators.VideoFixtures.gradientJpeg(w, h,
            ascending = true)
          case 1 => graft.operators.VideoFixtures.gradientJpeg(w, h,
            ascending = false)
          case _ => graft.operators.VideoFixtures.solidJpeg(w, h, 0x808080)
        }
      }
      params
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("media", build($"shape", $"w", $"h"))
        .select($"doc_id",
          bit_count(graft.operators.ImagePhash.imageDhash($"media"))
            .cast("long").as("dhash_pop"),
          bit_count(graft.operators.ImagePhash.imageVhash($"media"))
            .cast("long").as("vhash_pop"))
    },

    // ---- q181: hamming-banded near-dup pair join — the pigeonhole
    // kernel that turns 64-bit perceptual hashes into a corpus-linear
    // candidate join. Hashes are arithmetic here (each class code
    // replicated into all four 16-bit bands), so within-class pairs
    // are distance 0 and EVERY cross-class pair differs in EVERY band
    // (replication) — the oracle is exact combinatorics, and the gate
    // certifies band slicing, the (band, value) join, dedup of
    // multi-band candidates, and the exact distance filter.
    "q181_hamming_neardup" -> { (s, d) =>
      import s.implicits._
      // Fixed-size gate corpus (first 4000 doc ids): with 97 classes
      // the pair count is quadratic in class size, so an unbounded
      // corpus would make the GATE quadratic at larger SFs — the
      // kernel's scale story is its (band, slice) join shape, not the
      // gate's row count (same reasoning as the q27/q37 fixed-knob
      // labels; the oracle applies the identical cap).
      val hashes = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .where($"doc_id" < 4000)
        .withColumn("cls", $"doc_id" % 97)
        .withColumn("h", $"cls" * lit(0x0001000100010001L))
      val pairs = graft.operators.ImagePhash.bandedHammingPairs(
        hashes, "doc_id", "h", maxDist = 3, bands = 4)
      pairs.join(hashes.select($"doc_id".as("ida"), $"cls"), "ida")
        .groupBy($"cls").agg(count(lit(1)).as("n_pairs"))
        .select($"cls".cast("long").as("cls"), $"n_pairs")
    },

    // ---- q183: subtitle text tracks (WebVTT + SRT) — cue timestamps
    // and text parsed from real caption files built on the shared
    // deterministic cue schedule (Subtitles.fixtureCue), so cue count,
    // summed speech span, and text volume are pure arithmetic the
    // oracle replays. Certifies the header dispatch (VTT magic vs SRT
    // counter+arrow), both timestamp syntaxes (dot vs comma
    // milliseconds), and the cue walk.
    "q183_subtitles" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("n", (lit(2) + $"doc_id" % 7).cast("int"))
        .withColumn("f", ($"doc_id" % 2).cast("int"))
      val build = udf { (n: Int, f: Int) =>
        if (f == 0) graft.operators.Subtitles.vttFixture(n)
        else graft.operators.Subtitles.srtFixture(n)
      }
      params
        .withColumn("m", graft.operators.Subtitles.subtitleStats(
          build($"n", $"f")))
        .select($"doc_id",
          $"m.format".as("format"),
          $"m.n_cues".cast("long").as("n_cues"),
          $"m.speech_ms".as("speech_ms"),
          $"m.n_chars".as("n_chars"))
    },

    // ---- q184: WARC archive ingest — the Common-Crawl entry format.
    // Per doc, a spec-conformant archive of n records (odd docs as ONE
    // gzip member — the inflate path), exploded to records
    // executor-side; n_ok counts records whose sliced payload equals
    // the schedule's bytes (via the record's own Target-URI index), so
    // the gate certifies header-block parsing, Content-Length framing,
    // trailer walking, AND exact payload slicing through both the
    // plain and gzip routes.
    "q184_warc_ingest" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("n", (lit(1) + $"doc_id" % 6).cast("int"))
        .withColumn("gz", ($"doc_id" % 2 === 1))
      val build = udf { (n: Int, gz: Boolean) =>
        graft.operators.Warc.fixture(n, gz)
      }
      val recs = graft.operators.Warc.explodeRecords(
        params.withColumn("content", build($"n", $"gz")),
        blobCol = "content", keep = Seq("doc_id"))
      recs
        .withColumn("i",
          regexp_extract($"target_uri", "doc/(\\d+)$", 1).cast("int"))
        .withColumn("ok",
          ($"payload".cast("string") ===
            concat(expr("repeat('body-', 1 + i % 3)"), $"i")) &&
          $"warc_type" === "response")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_records"),
          sum($"content_length").as("payload_bytes"),
          sum($"ok".cast("long")).as("n_ok"))
    },

    // ---- q185: HTML text extraction — markup payloads into the
    // text pipeline. The fixture wraps each doc's (entity-escaped)
    // text in one content block behind a link-dense nav and dropped
    // head machinery (title/style/script); extraction must decode the
    // entities back, collapse whitespace exactly like the oracle's
    // regex, DROP the nav by the link-density rule, and count the two
    // anchors.
    "q185_html_extract" -> { (s, d) =>
      import s.implicits._
      val html = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"), $"text")
        .withColumn("esc",
          regexp_replace(regexp_replace(regexp_replace($"text",
            "&", "&amp;"), "<", "&lt;"), ">", "&gt;"))
        .withColumn("page", concat(
          lit("<html><head><title>t</title><style>.x{color:red}</style>" +
            "<script>var a = 1 < 2;</script></head><body>" +
            "<nav><a href=\"/\">Home</a> <a href=\"/b\">B</a></nav><p>"),
          $"esc", lit("</p></body></html>")))
      html
        .withColumn("h", graft.operators.HtmlExtract.htmlText($"page"))
        .select($"doc_id",
          length($"h.text").cast("long").as("n_chars"),
          $"h.n_blocks".cast("long").as("n_blocks"),
          $"h.n_dropped".cast("long").as("n_dropped"),
          $"h.n_links".cast("long").as("n_links"))
    },

    // ---- q187: WebDataset shard ingest — tar archives of
    // extension-grouped sample files, the standard multimodal
    // training-shard format. Per doc a conformant ustar shard
    // (checksummed headers, 512-byte blocks, zero-block terminator;
    // odd docs gzip-wrapped), exploded to (sample_key → {txt, bin})
    // rows; n_ok counts samples whose txt payload equals the
    // schedule's string AND whose bin part has the scheduled length —
    // certifying header parse, block walking, payload slicing, and
    // the key/extension grouping through both routes.
    "q187_webdataset" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("n", (lit(1) + $"doc_id" % 5).cast("int"))
        .withColumn("gz", ($"doc_id" % 2 === 1))
      val build = udf { (n: Int, gz: Boolean) =>
        graft.operators.TarArchive.fixture(n, gz)
      }
      val samples = graft.operators.TarArchive.explodeSamples(
        params.withColumn("content", build($"n", $"gz")),
        blobCol = "content", keep = Seq("doc_id"))
      samples
        .withColumn("i", $"sample_key".cast("int"))
        .withColumn("txt", element_at($"parts", "txt").cast("string"))
        .withColumn("bin", element_at($"parts", "bin"))
        .withColumn("ok",
          ($"txt" === concat(expr("repeat('sample-text-', 1 + i % 2)"),
            $"i")) && (octet_length($"bin") === lit(7) + $"i" % 5))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_samples"),
          sum(length($"txt")).as("txt_bytes"),
          sum(octet_length($"bin").cast("long")).as("bin_bytes"),
          sum($"ok".cast("long")).as("n_ok"))
    },

    // ---- q188: UNCAPPED image near-dup on a REALISTIC corpus — the
    // image-side q37b, clearing q181's gate-cap label. Every doc at
    // the SF (no id cap) renders a real JPEG: clusters of 4 (doc_id
    // div 4) share a block-pattern base image, and members are genuine
    // pipeline variants — base encode, q0.35 re-encode, bilinear 1.5×
    // upscale, ±3-level pixel noise — so within-cluster hashes differ
    // by REAL few-bit flips (the 2 designed tie cells), not
    // arithmetic. Every third cluster's member 3 is a FAR singleton
    // (unrelated pattern) that must pair with nothing. The oracle is
    // exact combinatorics per cluster: any within-cluster distance
    // beyond maxDist, or any false cross/far pair, breaks a count —
    // certifying decode → dHash → block join end-to-end, uncapped.
    // Scale: the Manku block-combination kernel (blocks=6 → 20 tables
    // of ~32-bit keys) keeps CANDIDATES corpus-linear on this
    // realistic distribution — 1.26/1.33/1.94 candidates per doc over
    // neardupHashes at sf0.1/sf1/sf10 (PERF.md); single-band
    // keys (q181's gate kernel) measured 84× candidate growth at 10×
    // docs here, which is why the scale path keys on combinations.
    "q188_image_neardup_real" -> { (s, d) =>
      import s.implicits._
      // Persist the hashes: the banded self-join reads this set twice
      // and the member/pair rollups again — without it the JPEG
      // encode+decode UDF (the expensive column) would run 4×.
      val hashed = neardupHashes(s, d).persist()
      val pairs = graft.operators.ImagePhash.hammingPairs(
        hashed, "doc_id", "h", maxDist = 3, blocks = 6)
      val members = hashed.groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"))
      val counts = pairs
        .join(hashed.select($"doc_id".as("ida"), $"cluster"), "ida")
        .groupBy($"cluster").agg(count(lit(1)).as("n_pairs"))
      members.join(counts, Seq("cluster"), "left")
        .select($"cluster", $"n_members",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"))
    },

    // ---- q191: AUDIO near-dup on a realistic corpus — the third
    // modality through the SAME near-dup contract (text MinHash,
    // image dHash, audio envelope hash): clusters of 4 real WAV
    // variants — base, 8-bit requantize, 12 kHz resample, 0.9 gain +
    // dither — whose loudness envelopes survive every variant within
    // the 2 designed tie bits; every third cluster's member 3 is a
    // FAR clip. Pairs come from the same Manku block-combination
    // kernel the image side certified corpus-linear; the oracle is
    // the same exact per-cluster combinatorics, so any envelope bit
    // drifting past maxDist or any false pair breaks a count —
    // certifying decode → envelope → hash → join end to end.
    "q191_audio_neardup" -> { (s, d) =>
      import s.implicits._
      val hashed = neardupAudioHashes(s, d).persist()
      val pairs = graft.operators.ImagePhash.hammingPairs(
        hashed, "doc_id", "h", maxDist = 3, blocks = 6)
      val members = hashed.groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"))
      val counts = pairs
        .join(hashed.select($"doc_id".as("ida"), $"cluster"), "ida")
        .groupBy($"cluster").agg(count(lit(1)).as("n_pairs"))
      members.join(counts, Seq("cluster"), "left")
        .select($"cluster", $"n_members",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"))
    },

    // ---- q190: image near-dup CLUSTERS — the dedup ACTION over
    // q188's pairs, mirroring the text side's q47: hamming pairs →
    // connected components → (doc_id, canonical_id) with canonical =
    // smallest member (the survivor a dedup keeps; docs in no cluster
    // — the far singletons — are absent and survive trivially). The
    // oracle knows every cluster by construction: in-dup members of
    // doc_id div 4, canonical = the cluster's min id. Certifies the
    // pairs→components→manifest composition on REAL image hashes,
    // end to end. Scale shape: the alternating-minimum component loop
    // runs on the PAIR table (corpus-linear here, measured), never
    // the corpus.
    "q190_image_neardup_clusters" -> { (s, d) =>
      import s.implicits._
      val hashed = neardupHashes(s, d).persist()
      val pairs = graft.operators.ImagePhash.hammingPairs(
        hashed, "doc_id", "h", maxDist = 3, blocks = 6)
      graft.operators.Curation.connectedComponents(
          pairs.select($"ida".as("a"), $"idb".as("b")))
        .select($"id".as("doc_id"), $"comp".as("canonical_id"))
    },

    // ---- q189: STREAMING web-ingest pipeline through the journal
    // write path (VERDICT r10 #2) — the production Common-Crawl
    // firehose composition: WARC corpus replayed as a file stream
    // (4 files → 4 micro-batches) → Warc.explodeRecords →
    // HtmlExtract.htmlText → UrlNorm.canonicalize dedup keys →
    // routed at write time into keep / boilerplate / quarantine
    // journals through the crash-atomic foreachBatch sink → read-back.
    // The oracle is pure batch arithmetic over the same fixture
    // schedule, so the streamed route and the declared semantics
    // cannot drift — the web-side q176, composing all four r10 web
    // kernels through the real write path, where composition bugs
    // batch gates cannot see live (q167/q176 both caught one).
    "q189_web_pipeline_streaming" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("n", (lit(3) + $"doc_id" % 4).cast("int"))
        .withColumn("gz", $"doc_id" % 2 === 1)
      val build = udf { (docId: Long, n: Int, gz: Boolean) =>
        graft.operators.Warc.webFixture(docId, n, gz)
      }
      val corpus = params.select($"doc_id",
        build($"doc_id", $"n", $"gz").as("content"))
      // The whole triage is one stateless projection: archive explode,
      // HTML extraction, URL canonicalization, route decision — zero
      // exchanges before the sink.
      StreamOps.drainRouted(s, "web", corpus, Seq(
          "web/keep" -> ($"route" === "keep"),
          "web/boilerplate" -> ($"route" === "boilerplate"),
          "web/quarantine" -> ($"route" === "quarantine")),
          "doc_id BIGINT, i BIGINT, route STRING, url STRING, " +
            "n_chars BIGINT, n_links BIGINT") { src =>
        graft.operators.Warc.explodeRecords(src,
            blobCol = "content", keep = Seq("doc_id"))
          .withColumn("i",
            regexp_extract($"target_uri", "[?&]x=(\\d+)", 1).cast("long"))
          .withColumn("url",
            graft.operators.UrlNorm.urlCanonical($"target_uri"))
          .withColumn("is_html", $"content_type" === "text/html")
          // Mask extraction to HTML records AFTER computing it — the
          // kernel is total (garbage in, counted blocks out), and the
          // when() keeps quarantine rows' stats NULL as the oracle
          // demands.
          .withColumn("hx", graft.operators.HtmlExtract.htmlText(
            $"payload".cast("string")))
          .withColumn("h", when($"is_html", $"hx"))
          .withColumn("route",
            when(!$"is_html", lit("quarantine"))
              .when($"h.n_blocks" > 0, lit("keep"))
              .otherwise(lit("boilerplate")))
          .select($"route", to_json(struct($"doc_id", $"i", $"route",
            $"url", length($"h.text").cast("long").as("n_chars"),
            $"h.n_links".cast("long").as("n_links"))).as("payload"))
      }
    },

    // ---- q192: FLAC — the engine's first REAL compressed-codec
    // SAMPLE decode (RFC 9639 in pure JVM, no codec library), riding
    // the SampleDecoder SPI as a DEFAULT provider. Per doc: build
    // deterministic PCM, encode with a doc-keyed parameter sweep
    // (block size incl. non-table sizes, predictor family incl.
    // Levinson-Durbin LPC, all four stereo decorrelations, partition
    // orders, forced escape partitions), then decode through the
    // DEFAULT PCM chain — the exact route AudioPhash/Multimodal
    // consumers take — and compare byte-for-byte against the input.
    // ok=1 certifies the LOSSLESS contract end to end; n_samples is
    // pure doc arithmetic the oracle replays, so a dropped frame, a
    // wrong final-block size, or a chain mis-route breaks the row.
    // Scale shape: one narrow per-row kernel, no shuffle.
    "q192_flac_roundtrip" -> { (s, d) =>
      import s.implicits._
      import graft.operators.{AudioFixtures, Flac, SampleDecoder}
      val check = udf { docId: Long =>
        val ch = 1 + (docId % 2).toInt
        val pcm = AudioFixtures.flacPcm(docId)
        val bs = Array(192, 576, 1024, 4096)((docId % 4).toInt)
        val pred: Flac.Predictor = (docId % 4).toInt match {
          case 0 => Flac.Auto
          case 1 => Flac.Fixed((docId % 5).toInt)
          case 2 => Flac.Lpc(8)
          case _ => Flac.VerbatimOnly
        }
        val st: Flac.Stereo =
          if (ch == 1) Flac.Independent
          else ((docId / 2) % 4).toInt match {
            case 0 => Flac.Independent
            case 1 => Flac.LeftSide
            case 2 => Flac.RightSide
            case _ => Flac.MidSide
          }
        val enc = Flac.encode(pcm, ch, 8000, 16, bs, pred, st,
          partOrder = (docId % 3).toInt, escapeAll = docId % 11 == 0)
        val in = SampleDecoder.decodePcm(enc).orNull
        if (in == null) (0L, 0L)
        else try {
          val got = in.readAllBytes()
          var ok = got.length == 2 * pcm.length
          var i = 0
          while (ok && i < pcm.length) {
            val v = ((got(2 * i + 1) << 8) | (got(2 * i) & 0xff))
            if (v != pcm(i)) ok = false
            i += 1
          }
          (got.length / (2L * ch), if (ok) 1L else 0L)
        } finally in.close()
      }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("r", check($"doc_id"))
        .select($"doc_id", $"r._1".as("n_samples"), $"r._2".as("ok"))
    },

    // ---- q193: VIDEO near-dup — the near-dup contract's fourth face
    // (after text q47, image q188/q190, audio q191), and the first
    // SEQUENCE-level one: real MJPEG MP4s whose keyframes carry the
    // image side's certified near-dup patterns; container slicing →
    // SPI keyframe decode → per-keyframe dHash → the Manku join on
    // (video, sample) ids → TEMPORAL OFFSET VOTING. The member-2
    // variant is head-TRIMMED, so a correct aligner must pair it
    // through a consistent −2 sample offset — a bug anywhere in the
    // slice/decode/hash/vote stack breaks a per-cluster pair count
    // the oracle computes by pure combinatorics (the shared q188/q191
    // schedule: clusters of 4, every third cluster's member 3 far).
    "q193_video_neardup" -> { (s, d) =>
      import s.implicits._
      val params = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .withColumn("cluster", expr("doc_id div 4"))
        .withColumn("m", ($"doc_id" % 4).cast("int"))
        .withColumn("far", $"doc_id" % 4 === 3 &&
          expr("doc_id div 4") % 3 === 0)
      val build = udf { (c: Long, m: Int, far: Boolean) =>
        graft.operators.VideoFixtures.neardupMjpeg(c, m, far)
      }
      val media = params
        .repartition(s.sparkContext.defaultParallelism)
        .select($"doc_id", $"cluster", build($"cluster", $"m", $"far")
          .as("media"))
      val hashed = graft.operators.VideoNearDup.keyframeHashes(media)
        .persist()
      val pairs = graft.operators.VideoNearDup.pairs(hashed, minFrac = 0.6)
      val members = params.groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"))
      val counts = pairs
        .join(params.select($"doc_id".as("ida"), $"cluster"), "ida")
        .groupBy($"cluster").agg(count(lit(1)).as("n_pairs"))
      members.join(counts, Seq("cluster"), "left")
        .select($"cluster", $"n_members",
          coalesce($"n_pairs", lit(0L)).as("n_pairs"))
    },

    // ---- q194: WILD-WAV codecs — the three most common non-PCM WAVs
    // a real crawl carries, decoded through the default SPI chain:
    // IMA ADPCM (tag 0x11 — the JDK has no codec; Adpcm.AdpcmPcm, a
    // from-spec implementation, is a new DEFAULT provider) and G.711
    // µ-law/A-law (tags 7/6 — javax.sound decodes; our encoders are
    // the canonical segmented forms). Per doc: render the same
    // deterministic tone three ways, decode each via the chain, and
    // gate the max per-sample error inside each codec's DESIGNED
    // envelope (lossy codecs contract bounded error, not identity —
    // identity is FLAC's q192). n_samples (from the ADPCM route) is
    // pure block arithmetic the oracle replays: a dropped block, a
    // mis-claimed tag, or a state-machine drift breaks the row.
    "q194_wav_codecs" -> { (s, d) =>
      import s.implicits._
      import graft.operators.{Adpcm, AudioFixtures, SampleDecoder}
      val check = udf { docId: Long =>
        val ch = 1 + (docId % 2).toInt
        val pcm = AudioFixtures.codecTonePcm(docId)
        def via(b: Array[Byte]): Array[Int] = {
          val in = SampleDecoder.decodePcm(b).orNull
          if (in == null) Array.empty
          else try {
            val bytes = in.readAllBytes()
            Array.tabulate(bytes.length / 2)(i =>
              ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)))
          } finally in.close()
        }
        def maxErr(a: Array[Int]): Int =
          if (a.length != pcm.length) Int.MaxValue
          else {
            var m = 0
            var i = 0
            while (i < a.length) {
              m = math.max(m, math.abs(a(i) - pcm(i))); i += 1
            }
            m
          }
        def rmsErr(a: Array[Int]): Double =
          if (a.length != pcm.length) Double.MaxValue
          else {
            var s = 0.0
            var i = 0
            while (i < a.length) {
              val dd = (a(i) - pcm(i)).toDouble; s += dd * dd; i += 1
            }
            math.sqrt(s / a.length)
          }
        val adpcm = via(Adpcm.encodeImaWav(pcm, ch, 8000))
        val ulaw = via(Adpcm.encodeG711Wav(pcm, ch, 8000, alaw = false))
        val alaw = via(Adpcm.encodeG711Wav(pcm, ch, 8000, alaw = true))
        // G.711 is a memoryless quantizer — its MAX error is tight
        // (worst measured 259 over the fixture's full 132-doc
        // parameter period). ADPCM is adaptive — brief attack
        // transients on the fastest doc-keyed tones are its designed
        // behavior, so its contract is the RMS envelope (worst
        // measured 469; bound 655 = 2% FS).
        val ok = rmsErr(adpcm) <= 655 && maxErr(ulaw) <= 320 &&
          maxErr(alaw) <= 320
        (adpcm.length / math.max(1L, ch.toLong), if (ok) 1L else 0L)
      }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("r", check($"doc_id"))
        .select($"doc_id", $"r._1".as("n_samples"), $"r._2".as("ok"))
    },

    // ---- q195: PDF text extraction — the document-ingestion sibling
    // of the web front (after WARC/HTML/tar, PDF is the next-largest
    // text carrier in a real crawl), implemented from ISO 32000 with
    // zero libraries (Inflater is the only codec). Per doc: build a
    // real cross-referenced PDF (catalog → pages → page/contents,
    // valid xref; streams alternate raw and FlateDecode; content
    // exercises literal-string escapes, TJ word-gap kerning, hex
    // strings, Td breaks) and extract. Page count, object count, and
    // the exact character count are pure doc arithmetic; complete=1
    // certifies no stream was skipped. Scale: narrow per-row kernel.
    "q195_pdf_text" -> { (s, d) =>
      import s.implicits._
      val build = udf { docId: Long => graft.operators.PdfFixtures.pdf(docId) }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("e", graft.operators.Pdf.pdfText(build($"doc_id")))
        .select($"doc_id",
          $"e.n_pages".cast("long").as("n_pages"),
          $"e.n_objects".cast("long").as("n_objects"),
          length($"e.text").cast("long").as("n_chars"),
          when($"e.complete", 1L).otherwise(0L).as("ok"))
    },

    // ---- q196: DOCX text extraction — OOXML (ECMA-376) through the
    // JDK's zip + StAX, with the zip-bomb budget and XXE-disabled
    // reader the wild-input posture demands. The fixture splits runs
    // mid-paragraph and space-preserves — the structures a regex
    // extractor gets wrong. Paragraph and character counts are doc
    // arithmetic.
    "q196_docx_text" -> { (s, d) =>
      import s.implicits._
      val build = udf { docId: Long =>
        graft.operators.DocxFixtures.docx(docId)
      }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("e", graft.operators.OfficeDoc.docx(build($"doc_id")))
        .select($"doc_id",
          $"e.n_paragraphs".cast("long").as("n_paragraphs"),
          length($"e.text").cast("long").as("n_chars"))
    },

    // ---- q197: STREAMING document-ingest pipeline — the document
    // front composed through the real write path (the q176/q189
    // pattern, which has caught a composition bug every time): a
    // mixed corpus (PDF / DOCX / garbage per doc arithmetic) replayed
    // as a file stream → MediaRouter's NEW document dispatch → the
    // format-matched extraction kernel → routed into keep/quarantine
    // journals through the crash-atomic foreachBatch sink → read-back.
    // The oracle replays the schedule as batch arithmetic (char
    // counts from the q195/q196 fixtures), so the streamed route and
    // the declared semantics cannot drift.
    "q197_doc_pipeline_streaming" -> { (s, d) =>
      import s.implicits._
      val build = udf { docId: Long =>
        (docId % 3) match {
          case 0 => graft.operators.PdfFixtures.pdf(docId)
          case 1 => graft.operators.DocxFixtures.docx(docId)
          case _ => s"garbage-$docId-not-a-document".getBytes("UTF-8")
        }
      }
      val corpus = Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .select($"doc_id", build($"doc_id").as("blob"))
      // One stateless projection: route, extract with the kernel the
      // router chose, count — zero exchanges before the sink.
      StreamOps.drainRouted(s, "docs", corpus, Seq(
          "docs/keep" -> ($"route" === "keep"),
          "docs/quarantine" -> ($"route" === "quarantine")),
          "doc_id BIGINT, format STRING, n_chars BIGINT") { src =>
        graft.operators.MediaRouter.route(src, blobCol = "blob")
          .withColumn("pdf", graft.operators.Pdf.pdfText($"blob"))
          .withColumn("dx", graft.operators.OfficeDoc.docx($"blob"))
          .withColumn("n_chars",
            when($"format" === "pdf", length($"pdf.text"))
              .when($"format" === "docx", length($"dx.text"))
              .cast("long"))
          .withColumn("route",
            when($"kind" === "document", lit("keep"))
              .otherwise(lit("quarantine")))
          .select($"route", to_json(struct($"doc_id", $"format",
            $"n_chars")).as("payload"))
      }
    },

    // ---- q198: XLSX cell extraction — SpreadsheetML through the
    // same JDK zip + StAX path as q196, with the table-specific
    // semantics pinned EXACTLY: shared-string cells resolve through
    // the sst, numeric `<v>` literals stay verbatim (reformatting
    // spreadsheet numbers corrupts data), rows keep sheet order. One
    // output row per sheet row with the full tab-joined text, so the
    // oracle (which rebuilds every cell by string arithmetic) catches
    // a single wrong cell anywhere. Scale: per-row parse + generator
    // explode, one exchange-free map before the scan's output.
    "q198_xlsx_cells" -> { (s, d) =>
      import s.implicits._
      val build = udf { docId: Long =>
        graft.operators.DocxFixtures.xlsx(docId)
      }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("rows", graft.operators.OfficeDoc.xlsx(build($"doc_id")))
        .select($"doc_id", explode($"rows").as("r"))
        .select($"doc_id", $"r.row".cast("long").as("row_idx"),
          $"r.text".as("text"))
    },

    // ---- q199: LaTeX source cleaning — the arXiv-corpus op: strip
    // markup, keep prose, under PINNED deterministic rules (body-only,
    // comments/math/float-envs dropped with counts, commands lose the
    // control word but generic brace groups keep their text,
    // reference commands drop their args, whitespace normalizes).
    // The oracle rebuilds the entire cleaned text by string
    // arithmetic, so one mis-stripped token anywhere breaks the hash;
    // math/env counts ride along as the quality-signal surface.
    "q199_latex_clean" -> { (s, d) =>
      import s.implicits._
      val build = udf { docId: Long => graft.operators.TexStrip.fixture(docId) }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("t", graft.operators.TexStrip.latex(build($"doc_id")))
        .select($"doc_id",
          $"t.n_math".cast("long").as("n_math"),
          $"t.n_envs_dropped".cast("long").as("n_envs"),
          $"t.text".as("text"))
    },

    // ---- q200: robots.txt compliance (RFC 9309) — the decision a
    // lawful crawl makes before any URL enters the corpus. Per doc: a
    // doc-keyed robots file (star group with a longest-match
    // Allow-under-Disallow pair, a specific bot group with a
    // $-anchored rule + crawl-delay) and five probes chosen so every
    // decision rule fires: prefix disallow, longer allow winning,
    // anchored match, anchored non-match, and the
    // no-group-inheritance case. The EXPECTED bits are probe
    // constants (independent of the doc key), so the oracle pins the
    // rule semantics, not the fixture arithmetic.
    "q200_robots_compliance" -> { (s, d) =>
      import s.implicits._
      import graft.operators.Robots
      val eval = udf { docId: Long =>
        val k = docId % 5
        val m = docId % 3
        val txt =
          s"""User-agent: *
             |Disallow: /p$k/
             |Allow: /p$k/ok
             |User-agent: graftbot
             |Disallow: /g$m$$
             |Crawl-delay: ${docId % 7}
             |Sitemap: https://s$docId.example/sitemap.xml
             |""".stripMargin
        val r = Robots.parse(txt)
        val probes = Seq(
          ("anybot", s"/p$k/x"),
          ("anybot", s"/p$k/ok/y"),
          ("graftbot/1.0", s"/g$m"),
          ("graftbot/1.0", s"/g$m/z"),
          ("graftbot/1.0", s"/p$k/x"))
        probes.zipWithIndex.map { case ((agent, path), i) =>
          (i.toLong, Robots.isAllowed(r, agent, path),
            Robots.crawlDelay(r, agent).getOrElse(-1.0))
        }
      }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("p", explode(eval($"doc_id")))
        .select($"doc_id", $"p._1".as("probe"), $"p._2".as("allowed"),
          $"p._3".as("crawl_delay"))
    },

    // ---- q201: sitemap parsing (sitemaps.org) — urlset entries in
    // document order with lastmod presence, through the hardened StAX
    // path. The oracle rebuilds every loc and lastmod by string
    // arithmetic.
    "q201_sitemap" -> { (s, d) =>
      import s.implicits._
      val build = udf { docId: Long =>
        val n = 3 + (docId % 4).toInt
        ("""<?xml version="1.0" encoding="UTF-8"?>""" +
          """<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">""" +
          (0 until n).map { i =>
            val lm = if (i % 2 == 0)
              s"<lastmod>2026-01-0${i % 9 + 1}</lastmod>" else ""
            s"<url><loc>https://h${docId % 7}.example/p/$i</loc>$lm</url>"
          }.mkString + "</urlset>").getBytes("UTF-8")
      }
      Tables.documents(s, d)
        .select($"doc_id".cast("long").as("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .withColumn("es", graft.operators.Robots.sitemapEntries(
          build($"doc_id")))
        .select($"doc_id", posexplode($"es").as(Seq("ord", "e")))
        .select($"doc_id", $"ord".cast("long").as("ord"),
          $"e.loc".as("loc"), $"e.lastmod".as("lastmod"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    // documents.text is pure ASCII here, so ascii(char) == byte value.
    "q32_multimodal_features" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(list_aggregate(list_transform(range(1, length(text)+1),
        |    i -> ascii(text[i])), 'sum') AS BIGINT) AS byte_sum,
        |  CAST(ascii(text[1]) AS BIGINT) AS first_byte,
        |  (length(text) + 255) // 256 AS n_frames
        |FROM documents""".stripMargin,

    "q33_frame_sample" ->
      """SELECT doc_id,
        |  CAST(len(range(0, (length(text) + 255) // 256, 4)) AS BIGINT) AS n_sampled,
        |  CAST(list_aggregate(list_transform(range(0, (length(text) + 255) // 256, 4),
        |    f -> least(256, length(text) - f * 256)), 'sum') AS BIGINT) AS bytes_sampled
        |FROM documents""".stripMargin,

    "q160_resize_plan" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(length(text) % 640 AS BIGINT) AS w,
        |    CAST(length(text) % 480 AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, w, h,
        |  CAST((w * 224) // least(w, h) AS BIGINT) AS target_w,
        |  CAST((h * 224) // least(w, h) AS BIGINT) AS target_h,
        |  CAST(((w * 224) // least(w, h)) * ((h * 224) // least(w, h)) * 3
        |    AS BIGINT) AS out_bytes
        |FROM dims WHERE w > 0 AND h > 0""".stripMargin,

    // Every output of the MP4 build -> parse -> keyframe-resolve chain
    // is a pure function of the build parameters, which are pure
    // functions of doc_id — so the oracle replays the arithmetic and
    // the gate certifies the parser inverts the builder byte-exactly.
    // kf_bytes replays VideoFixtures.sampleSize over the sync samples
    // 1, 1+ke, ...; kf_payload_ok must equal n_keyframes (every sliced
    // range carried the right sample's magic).
    "q168_video_container" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    160 + (doc_id % 8) * 16 AS w,
        |    96 + (doc_id % 5) * 16 AS h,
        |    5 + (doc_id % 6) AS fps,
        |    8 + (doc_id % 20) AS nf,
        |    1 + (doc_id % 4) AS ke
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_keyframes,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> 64 + ((1 + j * ke) % 5) * 7)) AS BIGINT) AS kf_bytes,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS kf_payload_ok
        |FROM p""".stripMargin,

    // Same identity contract as q168 over the EBML builder: every
    // parsed field is doc_id arithmetic; format/codec are the
    // builder's constants.
    "q169_mkv_container" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    160 + (doc_id % 7) * 16 AS w,
        |    96 + (doc_id % 4) * 16 AS h,
        |    6 + (doc_id % 5) AS fps,
        |    6 + (doc_id % 18) AS nf,
        |    1 + (doc_id % 3) AS ke
        |  FROM documents)
        |SELECT doc_id,
        |  'mkv' AS format,
        |  'V_MPEG4/ISO/AVC' AS codec,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_keyframes
        |FROM p""".stripMargin,

    // q168's arithmetic with q170's parameter derivation — the
    // fragmented layout changes WHERE the facts live in the file, not
    // what they are, which is exactly what the identity gate checks.
    "q170_fmp4_container" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    176 + (doc_id % 6) * 16 AS w,
        |    112 + (doc_id % 5) * 16 AS h,
        |    4 + (doc_id % 7) AS fps,
        |    7 + (doc_id % 16) AS nf,
        |    2 + (doc_id % 3) AS ke
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_keyframes,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> 64 + ((1 + j * ke) % 5) * 7)) AS BIGINT) AS kf_bytes,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS kf_payload_ok
        |FROM p""".stripMargin,

    // The five shapes are pure doc_id arithmetic, so kind/format/
    // geometry are too; shape 4 (garbage) must land in quarantine
    // with every routed field NULL. ONE shared val gates both the
    // batch projection (q171) and the streaming journal-routed form
    // (q176) — the two routes cannot drift.
    "q171_media_routing" -> mediaRoutingOracleSql,
    "q176_media_routing_streaming" -> mediaRoutingOracleSql,

    // Both duration formulas replayed: frame-count shapes (Xing/VBRI/
    // Info) are frames × 1152 / 44100 ms exact; the bare stream is the
    // byte-length estimate totalBytes × 8000 / 128000, exact=false.
    "q177_vbr_mp3" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 4 AS shape,
        |    500 + (doc_id % 100) * 25 AS frames,
        |    4096 + (doc_id % 7) * 512 AS tb
        |  FROM documents)
        |SELECT doc_id, 'mp3' AS format,
        |  CAST(44100 AS BIGINT) AS sample_rate,
        |  CAST(2 AS BIGINT) AS channels,
        |  CAST(CASE WHEN shape <= 2 THEN frames * 1152 * 1000 // 44100
        |       ELSE tb * 8000 // 128000 END AS BIGINT) AS duration_ms,
        |  shape <= 2 AS exact
        |FROM p""".stripMargin,

    // Every parsed field replays the build arithmetic; coded_width/
    // height equal the DISPLAY size because the fixture's SPS crops
    // the macroblock-rounded frame back down — the one field a naive
    // parser (no conformance-window math) cannot fake. mkv_agree = 1:
    // the Matroska CodecPrivate route must parse identically.
    "q178_codec_config" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    doc_id % 2 = 1 AS hevc,
        |    (doc_id // 2) % 3 AS pidx,
        |    doc_id % 4 AS lv,
        |    (doc_id // 3) % 3 AS bdx,
        |    160 + (doc_id % 9) * 2 AS w,
        |    90 + (doc_id % 7) * 2 AS h
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, hevc, w, h, lv, bdx,
        |    CASE WHEN hevc THEN 1 + (doc_id // 2) % 2
        |         ELSE CASE pidx WHEN 0 THEN 66 WHEN 1 THEN 77
        |              ELSE 100 END END AS profile_idc
        |  FROM p)
        |SELECT doc_id,
        |  CASE WHEN hevc THEN 'hvc1' ELSE 'avc1' END AS codec,
        |  CAST(profile_idc AS BIGINT) AS profile_idc,
        |  CAST(CASE WHEN hevc THEN 90 + lv * 3
        |       ELSE 30 + lv * 4 END AS BIGINT) AS level_idc,
        |  CAST(CASE WHEN hevc THEN
        |         CASE WHEN profile_idc = 2 THEN 10 ELSE 8 END
        |       WHEN profile_idc = 100 THEN 8 + bdx * 2
        |       ELSE 8 END AS BIGINT) AS bit_depth,
        |  CAST(1 AS BIGINT) AS chroma_format,
        |  CAST(w AS BIGINT) AS coded_width,
        |  CAST(h AS BIGINT) AS coded_height,
        |  CAST(1 AS BIGINT) AS mkv_agree
        |FROM q""".stripMargin,

    // Orientation, raw and display geometry replay the build
    // arithmetic; the BMP shape pins the default-1 path and the 5-8
    // quadrant pins the swap.
    "q179_exif_orientation" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 3 AS shape, 1 + doc_id % 8 AS o,
        |    24 + (doc_id % 6) * 8 AS w, 16 + (doc_id % 5) * 8 AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CASE shape WHEN 0 THEN 'jpeg' WHEN 1 THEN 'tiff'
        |       ELSE 'bmp' END AS format,
        |  CAST(CASE WHEN shape = 2 THEN 1 ELSE o END AS BIGINT)
        |    AS orientation,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(CASE WHEN shape <> 2 AND o >= 5 THEN h ELSE w END
        |    AS BIGINT) AS display_width,
        |  CAST(CASE WHEN shape <> 2 AND o >= 5 THEN w ELSE h END
        |    AS BIGINT) AS display_height
        |FROM p""".stripMargin,

    // The diagonal fixture pins every comparison sign, so the
    // popcounts are pure shape arithmetic: ascending = all 64 bits in
    // both hashes, descending/solid = none.
    "q180_image_phash" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 64 ELSE 0 END AS BIGINT)
        |    AS dhash_pop,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 64 ELSE 0 END AS BIGINT)
        |    AS vhash_pop
        |FROM documents""".stripMargin,

    // Within-class pairs only (cross-class hashes differ in every
    // band): n·(n−1)/2 per class; classes of one emit no row on
    // either side.
    "q181_hamming_neardup" ->
      """WITH c AS (
        |  SELECT doc_id % 97 AS cls, COUNT(*) AS n
        |  FROM documents WHERE doc_id < 4000 GROUP BY 1)
        |SELECT CAST(cls AS BIGINT) AS cls,
        |  CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs
        |FROM c WHERE n >= 2""".stripMargin,

    // The shared cue schedule replayed: cue i spans 1000 + (i%5)·100
    // ms with 3 + (i%4) chars of text.
    "q183_subtitles" ->
      """WITH p AS (
        |  SELECT doc_id, 2 + doc_id % 7 AS n, doc_id % 2 AS f
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN f = 0 THEN 'vtt' ELSE 'srt' END AS format,
        |  CAST(n AS BIGINT) AS n_cues,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> 1000 + (i % 5) * 100)) AS BIGINT) AS speech_ms,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> 3 + (i % 4))) AS BIGINT) AS n_chars
        |FROM p""".stripMargin,

    // Record i's payload is 'body-'·(1+i%3) || i (all gate indexes
    // are single-digit), so byte totals are pure arithmetic; n_ok
    // must equal n_records — every payload sliced exactly.
    "q184_warc_ingest" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 6 AS n FROM documents)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_records,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> 5 * (1 + i % 3) + 1)) AS BIGINT) AS payload_bytes,
        |  CAST(n AS BIGINT) AS n_ok
        |FROM p""".stripMargin,

    // Extraction inverts the build: entities decode back, whitespace
    // collapses exactly like this regex, the nav drops (density 5/6 >
    // 0.66, 6 chars < 80), head machinery never reaches the text.
    "q185_html_extract" ->
      """SELECT doc_id,
        |  CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |    AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN length(trim(regexp_replace(text, '\s+', ' ',
        |    'g'))) > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_blocks,
        |  CAST(1 AS BIGINT) AS n_dropped,
        |  CAST(2 AS BIGINT) AS n_links
        |FROM documents""".stripMargin,

    // Sample i carries 'sample-text-'·(1+i%2)||i (single-digit gate
    // indexes) and 7+(i%5) binary bytes; n_ok must equal n_samples.
    "q187_webdataset" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 5 AS n FROM documents)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> 12 * (1 + i % 2) + 1)) AS BIGINT) AS txt_bytes,
        |  CAST(list_sum(list_transform(range(0, n),
        |    i -> 7 + i % 5)) AS BIGINT) AS bin_bytes,
        |  CAST(n AS BIGINT) AS n_ok
        |FROM p""".stripMargin,

    // Exact cluster combinatorics: k·(k−1)/2 pairs over the in-dup
    // members (member 3 of every third cluster is the far singleton
    // and must contribute NO pair); any real-variant hash drifting
    // past maxDist, or any false cross-cluster pair, breaks a count.
    "q188_image_neardup_real" ->
      """WITH p AS (
        |  SELECT doc_id // 4 AS cluster,
        |    CASE WHEN doc_id % 4 = 3 AND (doc_id // 4) % 3 = 0
        |         THEN 0 ELSE 1 END AS indup
        |  FROM documents)
        |SELECT CAST(cluster AS BIGINT) AS cluster,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(indup) * (SUM(indup) - 1) // 2 AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1""".stripMargin,

    // Identical combinatorics to q188 — the schedule is shared; the
    // modality (real decoded PCM envelopes vs rasters) is what the
    // Spark side must survive to hit these counts.
    "q191_audio_neardup" ->
      """WITH p AS (
        |  SELECT doc_id // 4 AS cluster,
        |    CASE WHEN doc_id % 4 = 3 AND (doc_id // 4) % 3 = 0
        |         THEN 0 ELSE 1 END AS indup
        |  FROM documents)
        |SELECT CAST(cluster AS BIGINT) AS cluster,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(indup) * (SUM(indup) - 1) // 2 AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1""".stripMargin,

    // The lossless contract is binary (ok=1) and the decoded frame
    // count is the fixture's pure length arithmetic — any encoder or
    // decoder defect anywhere in the doc-keyed parameter sweep breaks
    // a row.
    "q192_flac_roundtrip" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(2000 + (doc_id % 7) * 501 AS BIGINT) AS n_samples,
        |  CAST(1 AS BIGINT) AS ok
        |FROM documents""".stripMargin,

    // Per page: "doc-D-pP\nalpha betaK\nhex!\nx)y\z" = 30 + len(D)
    // chars; pages join with newlines. Objects: catalog + pages node
    // + font + (page, contents) per page.
    "q195_pdf_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_pages,
        |  CAST(3 + 2 * (1 + doc_id % 3) AS BIGINT) AS n_objects,
        |  CAST((1 + doc_id % 3) *
        |    (31 + length(CAST(doc_id AS VARCHAR))) - 1 AS BIGINT)
        |    AS n_chars,
        |  CAST(1 AS BIGINT) AS ok
        |FROM documents""".stripMargin,

    // The mixed-corpus schedule replayed as batch arithmetic: doc%3
    // picks pdf / docx / garbage; char counts are the q195/q196
    // fixture arithmetic; garbage routes with NULL format and count.
    "q197_doc_pipeline_streaming" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' END AS format,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN CAST((1 + doc_id % 3) *
        |      (31 + length(CAST(doc_id AS VARCHAR))) - 1 AS BIGINT)
        |    WHEN 1 THEN CAST((2 + doc_id % 4) *
        |      (15 + length(CAST(doc_id AS VARCHAR))) - 1 AS BIGINT)
        |  END AS n_chars
        |FROM documents""".stripMargin,

    // Probe truths are rule-semantics constants: 0 prefix-disallowed,
    // 1 longer-allow wins, 2 anchored match, 3 anchored non-match,
    // 4 no cross-group inheritance; delay surfaces for the bot group.
    "q200_robots_compliance" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(range(0, 5)) AS probe FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(probe AS BIGINT) AS probe,
        |  probe IN (1, 3, 4) AS allowed,
        |  CASE WHEN probe >= 2 THEN CAST(doc_id % 7 AS DOUBLE)
        |    ELSE -1.0 END AS crawl_delay
        |FROM p""".stripMargin,

    // Every loc and lastmod rebuilt by string arithmetic, order
    // preserved.
    "q201_sitemap" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(range(0, 3 + doc_id % 4)) AS i
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(i AS BIGINT) AS ord,
        |  'https://h' || (doc_id % 7) || '.example/p/' || i AS loc,
        |  CASE WHEN i % 2 = 0 THEN '2026-01-0' || (i % 9 + 1) END
        |    AS lastmod
        |FROM p""".stripMargin,

    // The whole cleaned text rebuilt by string arithmetic — section
    // title kept, math/comments/envs gone, items bulleted, the forced
    // line break honored.
    "q199_latex_clean" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS n_math,
        |  CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_envs,
        |  'Doc ' || doc_id || chr(10) ||
        |  'Intro text-' || (doc_id % 7) ||
        |    ' with inline math and bold-' || doc_id || ' words.' ||
        |    chr(10) ||
        |  CASE WHEN doc_id % 2 = 1 THEN 'Display here.' || chr(10)
        |    ELSE '' END ||
        |  'After equation done.' || chr(10) ||
        |  '- alpha-' || doc_id || chr(10) ||
        |  '- beta-' || (doc_id % 7) || chr(10) ||
        |  'Final' || chr(10) || 'line-' || doc_id || '.' AS text
        |FROM documents""".stripMargin,

    // Every cell rebuilt by arithmetic: the label from the shared
    // strings, the numerics verbatim, tab-joined in column order.
    "q198_xlsx_cells" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(range(1, 2 + doc_id % 5)) AS r
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(r AS BIGINT) AS row_idx,
        |  'cell-' || doc_id || '-' || r || chr(9) ||
        |    array_to_string(list_transform(range(1, 2 + doc_id % 3),
        |      c -> CAST((doc_id + r * c) % 100 AS VARCHAR)), chr(9))
        |    AS text
        |FROM p""".stripMargin,

    // Per paragraph: "para-D-P\tbody K" = 14 + len(D) chars;
    // paragraphs join with newlines.
    "q196_docx_text" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(2 + doc_id % 4 AS BIGINT) AS n_paragraphs,
        |  CAST((2 + doc_id % 4) *
        |    (15 + length(CAST(doc_id AS VARCHAR))) - 1 AS BIGINT)
        |    AS n_chars
        |FROM documents""".stripMargin,

    // Frame count is whole-block arithmetic; ok=1 is the bounded-error
    // contract of three lossy codecs through the default chain.
    "q194_wav_codecs" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST((CASE WHEN doc_id % 2 = 0 THEN 505 ELSE 249 END)
        |    * (4 + doc_id % 4) AS BIGINT) AS n_samples,
        |  CAST(1 AS BIGINT) AS ok
        |FROM documents""".stripMargin,

    // The shared near-dup schedule's combinatorics, fourth modality:
    // any keyframe hash drifting past maxDist, any missed trim
    // alignment, or any false cross-cluster vote breaks a count.
    "q193_video_neardup" ->
      """WITH p AS (
        |  SELECT doc_id // 4 AS cluster,
        |    CASE WHEN doc_id % 4 = 3 AND (doc_id // 4) % 3 = 0
        |         THEN 0 ELSE 1 END AS indup
        |  FROM documents)
        |SELECT CAST(cluster AS BIGINT) AS cluster,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(indup) * (SUM(indup) - 1) // 2 AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1""".stripMargin,

    // Every in-dup member of cluster doc_id div 4 lands in one
    // component whose canonical is the cluster's min id; far
    // singletons are absent (clustered docs only, the q47 contract).
    "q190_image_neardup_clusters" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id // 4 AS cluster FROM documents
        |  WHERE NOT (doc_id % 4 = 3 AND (doc_id // 4) % 3 = 0))
        |SELECT doc_id,
        |  CAST(MIN(doc_id) OVER (PARTITION BY cluster) AS BIGINT)
        |    AS canonical_id
        |FROM p""".stripMargin,

    // The fixture schedule replayed as batch arithmetic: record i of
    // 3 + doc_id%4 cycles keep (content 'web-<i>' = 5 chars) /
    // boilerplate (nav-only, 0 chars) / quarantine (non-HTML → NULL
    // stats); the canonical URL is the RFC-3986 form of the messy
    // Target-URI the archive actually carries.
    "q189_web_pipeline_streaming" ->
      """WITH p AS (
        |  SELECT doc_id, unnest(range(0, 3 + doc_id % 4)) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS i,
        |  CASE CAST(i % 3 AS INT) WHEN 0 THEN 'keep'
        |       WHEN 1 THEN 'boilerplate' ELSE 'quarantine' END AS route,
        |  'http://www.site' || (doc_id % 5) || '.com/a/p/~doc' ||
        |    doc_id || '?x=' || i AS url,
        |  CASE WHEN i % 3 = 0 THEN CAST(5 AS BIGINT)
        |       WHEN i % 3 = 1 THEN CAST(0 AS BIGINT) END AS n_chars,
        |  CASE WHEN i % 3 = 2 THEN NULL
        |       ELSE CAST(2 AS BIGINT) END AS n_links
        |FROM p""".stripMargin,

    // Every decoded value is pinned by build arithmetic: keyframes are
    // samples 1, 1+ke, ...; frame i's channel buckets are the mod-8
    // terms below; JPEG's round-trip error (a few units on a uniform
    // fill) cannot cross a 32-wide bucket whose center the builder
    // chose. n_decoded == n_keyframes asserts EVERY sliced payload
    // rasterized.
    "q172_mjpeg_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    48 + (doc_id % 4) * 16 AS w,
        |    32 + (doc_id % 3) * 16 AS h,
        |    4 + (doc_id % 6) AS nf,
        |    1 + (doc_id % 3) AS ke
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_keyframes,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_decoded,
        |  CAST(w AS BIGINT) AS frame_w,
        |  CAST(h AS BIGINT) AS frame_h,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id + 1 + j * ke) % 8)) AS BIGINT) AS sum_rb,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id * 3 + 1 + j * ke) % 8)) AS BIGINT) AS sum_gb,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id * 7 + 1 + j * ke) % 8)) AS BIGINT) AS sum_bb
        |FROM p""".stripMargin,

    // q172's bucket replay through the AVI arithmetic, plus the
    // movi-facts fields: duration = nf*upf/1000 (movi chunk count x
    // the avih microsecond rate), n_frames = the movi chunk count.
    "q173_avi_mjpeg" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    48 + (doc_id % 3) * 16 AS w,
        |    32 + (doc_id % 4) * 16 AS h,
        |    40000 + (doc_id % 5) * 20000 AS upf,
        |    3 + (doc_id % 7) AS nf,
        |    1 + (doc_id % 4) AS ke
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(nf * upf // 1000 AS BIGINT) AS duration_ms,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_keyframes,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_decoded,
        |  CAST(w AS BIGINT) AS frame_w,
        |  CAST(h AS BIGINT) AS frame_h,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id * 5 + 1 + j * ke) % 8)) AS BIGINT) AS sum_rb,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id + 2 * (1 + j * ke)) % 8)) AS BIGINT) AS sum_gb,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id * 11 + 1 + j * ke) % 8)) AS BIGINT) AS sum_bb
        |FROM p""".stripMargin,

    // q172's bucket replay through the Matroska arithmetic, plus the
    // EBML-side facts: codec id is the builder's constant, duration is
    // the fixture's integer-ms Info write (nf*1000//fps).
    "q174_mkv_mjpeg" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    48 + (doc_id % 5) * 16 AS w,
        |    32 + (doc_id % 2) * 16 AS h,
        |    4 + (doc_id % 5) AS fps,
        |    3 + (doc_id % 8) AS nf,
        |    1 + (doc_id % 5) AS ke
        |  FROM documents)
        |SELECT doc_id,
        |  'V_MJPEG' AS codec,
        |  CAST(nf * 1000 // fps AS BIGINT) AS duration_ms,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_keyframes,
        |  CAST(1 + (nf - 1) // ke AS BIGINT) AS n_decoded,
        |  CAST(w AS BIGINT) AS frame_w,
        |  CAST(h AS BIGINT) AS frame_h,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id * 2 + 1 + j * ke) % 8)) AS BIGINT) AS sum_rb,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id * 9 + 1 + j * ke) % 8)) AS BIGINT) AS sum_gb,
        |  CAST(list_sum(list_transform(range(0, 1 + (nf - 1) // ke),
        |    j -> (doc_id + 3 * (1 + j * ke)) % 8)) AS BIGINT) AS sum_bb
        |FROM p""".stripMargin,

    // Five audio families, five duration formulas — all pure doc_id
    // arithmetic: wav n samples at rate; flac 5n samples; mp3 CBR
    // estimate 16n bytes at 128 kbps (= n ms); vorbis 3n granule
    // ticks; m4a n ticks at timescale 600. m4a carries no header
    // rate/channels (codec-specific sample entry) -> 0.
    "q175_audio_metadata" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 5 AS shape,
        |    8000 + (doc_id % 5) * 4000 AS rate,
        |    1 + (doc_id % 2) AS ch,
        |    1000 + (doc_id % 50) * 40 AS n
        |  FROM documents)
        |SELECT doc_id,
        |  CASE shape WHEN 0 THEN 'wav' WHEN 1 THEN 'flac'
        |    WHEN 2 THEN 'mp3' WHEN 3 THEN 'ogg-vorbis'
        |    ELSE 'm4a' END AS format,
        |  CAST(CASE shape WHEN 2 THEN 44100 WHEN 4 THEN 0
        |    ELSE rate END AS BIGINT) AS sample_rate,
        |  CAST(CASE shape WHEN 2 THEN 2 WHEN 4 THEN 0
        |    ELSE ch END AS BIGINT) AS channels,
        |  CAST(CASE shape
        |    WHEN 0 THEN n * 1000 // rate
        |    WHEN 1 THEN n * 5 * 1000 // rate
        |    WHEN 2 THEN n
        |    WHEN 3 THEN n * 3 * 1000 // rate
        |    ELSE n * 1000 // 600 END AS BIGINT) AS duration_ms,
        |  (shape != 2) AS exact
        |FROM p""".stripMargin
  )
}
