package graft.operators

import graft.Scratch
import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief): media as opaque `binary`
  * payloads with typed metadata, plus a partition-wise feature-extraction
  * stage with the batch shape a real decoder needs.
  *
  * The actual image/audio decode is STUBBED (no media libs in this
  * container) behind [[FakeDecoder]] — a clearly-marked deterministic
  * fake. Everything Spark-side is real and tested: the binary encoding,
  * the metadata struct schema, the `mapPartitions` batch iteration (the
  * Scala-native equivalent of `mapInPandas`: one decoder init per
  * partition, streamed batches, typed Encoders), and the partitioning.
  *
  * Scale: payloads stay opaque bytes end-to-end — no driver collect, no
  * per-row decoder setup. Feature extraction is embarrassingly parallel;
  * partition sizing is governed by `spark.sql.files.maxPartitionBytes`
  * so each task's media batch fits executor memory.
  */
object Multimodal extends QueryModule {

  /** A media row: opaque payload + typed metadata (the schema contract a
    * real pipeline would carry for images/audio/video).
    */
  case class MediaRow(media_id: Long, payload: Array[Byte], mime: String,
                      n_bytes: Long, checksum: String)

  /** Extracted features per media item. */
  case class MediaFeatures(media_id: Long, n_bytes: Long,
                           first_byte: Int, last_byte: Int)

  /** Build the media table from documents: text bytes stand in for the
    * opaque payload (same plumbing; a real source would read image/audio
    * files into the same shape).
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("text/plain").as("mime"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      md5(encode(col("text"), "UTF-8")).as("checksum"))

  /** ===== STUB: deterministic fake decoder =====
    * A real implementation would decode image/audio bytes (JPEG, WAV, …)
    * and emit fixed-size feature vectors. This fake derives features from
    * the raw bytes only, so the full pipeline is testable and
    * deterministic. Marked per builder brief.
    */
  object FakeDecoder {
    def decode(payload: Array[Byte]): (Int, Int) =
      if (payload.isEmpty) (-1, -1)
      else (payload.head & 0xFF, payload.last & 0xFF)
  }

  /** Partition-wise feature extraction: the `mapInPandas` shape in Scala —
    * decoder initialized once per partition, rows streamed through it.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload", "n_bytes").as[(Long, Array[Byte], Long)]
      .mapPartitions { rows =>
        // real pipeline: decoder/session init here, once per partition
        val decoder = FakeDecoder
        rows.map { case (id, payload, nBytes) =>
          val (first, last) = decoder.decode(payload)
          MediaFeatures(id, nBytes, first, last)
        }
      }
  }

  def entries: Seq[Q] = Seq(
    // Metadata layer: binary payload + typed metadata, all verifiable.
    Q("q_mm_metadata", { (s, d) =>
      mediaTable(s, d).select("media_id", "mime", "n_bytes", "checksum")
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        | octet_length(encode(text)) AS n_bytes, md5(text) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin),
    // BINARY-CONTENT EXACT DEDUP — the first tier of every image/media
    // curation stack: byte-identical payloads collapse by content digest
    // BEFORE any decode runs (the expensive perceptual tiers only see
    // digest survivors). Fixture: two crawl "sources" on disk whose blob
    // sets overlap on 8 files (srcB re-hosts srcA's first 8), read back
    // through the real distributed binaryFile source; the report is the
    // duplicated digest groups with copy and source counts — the
    // cross-source overlap a crawler dedups on. Scale posture: digests
    // flow (16-byte md5 + path-derived metadata), never payloads, into
    // one map-side-combined groupBy at content cardinality.
    Q("q_mm_dedup", { (s, d) =>
      val root = Scratch.dir("mm_blobs")
      Scratch.clear(root)
      val rows = Tables.documents(s, d).filter(col("doc_id") < 24)
        .select("doc_id", "text").collect()
      def put(src: String, id: Long, text: String): Unit = {
        val p = java.nio.file.Paths.get(root, src, f"doc_$id%05d.bin")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, text.getBytes("UTF-8")): Unit
      }
      rows.foreach { r =>
        val (id, t) = (r.getLong(0), r.getString(1))
        if (id < 20) put("srcA", id, t)
        if (id < 8 || id >= 20) put("srcB", id, t)
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true").load(root)
        .select(
          regexp_extract(col("path"), "(srcA|srcB)", 1).as("msrc"),
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          md5(col("content")).as("digest"))
        .groupBy("digest")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("msrc")).as("n_sources"),
          min(col("doc_id")).as("min_doc"))
        .filter(col("n_copies") > 1)
        .orderBy("min_doc")
    },
      """WITH blobs AS (
        | SELECT doc_id, 'srcA' AS msrc, md5(text) AS digest
        | FROM documents WHERE doc_id < 20
        | UNION ALL
        | SELECT doc_id, 'srcB', md5(text) FROM documents WHERE doc_id < 8
        | UNION ALL
        | SELECT doc_id, 'srcB', md5(text) FROM documents
        | WHERE doc_id >= 20 AND doc_id < 24)
        |SELECT digest, CAST(count(*) AS BIGINT) AS n_copies,
        | CAST(count(DISTINCT msrc) AS BIGINT) AS n_sources,
        | min(doc_id) AS min_doc
        |FROM blobs GROUP BY digest HAVING count(*) > 1
        |ORDER BY min_doc""".stripMargin),
    // ViT PATCH-GRID TOKENIZATION PLAN — the vision-token budgeting math
    // every VLM training pipeline runs before mixing images into a token
    // stream: per image, the 16×16 patch grid (⌈w/16⌉·⌈h/16⌉ vision
    // tokens) and whether it exceeds the per-image budget (1024 tokens →
    // resize-to-fit). STUB boundary (FakeDecoder posture): real
    // deployments read (w, h) from the image header during decode; here
    // dims derive deterministically from the payload checksum so the
    // downstream math — the real part — is exact-integer and
    // oracle-gated. Pure map pass, zero shuffles before the output sort.
    Q("q_mm_patch_plan", { (s, d) =>
      val w = (lit(160) +
        conv(substring(col("checksum"), 1, 3), 16, 10).cast("long") % 841)
      val h = (lit(160) +
        conv(substring(col("checksum"), 4, 3), 16, 10).cast("long") % 841)
      mediaTable(s, d)
        .select(col("media_id"), w.as("w"), h.as("h"))
        .select(col("media_id"), col("w"), col("h"),
          (expr("(w + 15) div 16") * expr("(h + 15) div 16")).as("n_patches"))
        .select(col("media_id"), col("w"), col("h"), col("n_patches"),
          least(col("n_patches"), lit(1024L)).as("n_tokens"),
          (col("n_patches") > 1024).as("needs_resize"))
        .orderBy("media_id")
    },
      """WITH m AS (
        | SELECT doc_id AS media_id,
        |  160 + CAST(('0x' || substr(md5(text), 1, 3)) AS BIGINT) % 841 AS w,
        |  160 + CAST(('0x' || substr(md5(text), 4, 3)) AS BIGINT) % 841 AS h
        | FROM documents),
        |p AS (
        | SELECT media_id, w, h,
        |  ((w + 15) // 16) * ((h + 15) // 16) AS n_patches
        | FROM m)
        |SELECT media_id, w, h, n_patches,
        | least(n_patches, 1024) AS n_tokens,
        | n_patches > 1024 AS needs_resize
        |FROM p ORDER BY media_id""".stripMargin),
    // MULTIMODAL SEQUENCE BUDGET — the text+vision token ledger a VLM
    // mixing pass runs per source: text tokens (whitespace tokenizer) +
    // vision tokens (the q_mm_patch_plan grid, budget-capped) per doc,
    // rolled up per source with the count of docs that overflow a
    // 2048-token multimodal context. Pure map + one source-cardinality
    // aggregate; same FakeDecoder stub boundary for the image dims.
    Q("q_mm_budget", { (s, d) =>
      val cs = md5(col("text"))
      val w = lit(160) + conv(substring(cs, 1, 3), 16, 10).cast("long") % 841
      val h = lit(160) + conv(substring(cs, 4, 3), 16, 10).cast("long") % 841
      Tables.documents(s, d)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tt"),
          w.as("w"), h.as("h"))
        .select(col("source"), col("tt"),
          least(expr("((w + 15) div 16) * ((h + 15) div 16)"), lit(1024L))
            .as("vt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tt")).as("text_tokens"),
          sum(col("vt")).as("vision_tokens"),
          (sum(col("tt")) + sum(col("vt"))).as("total_tokens"),
          coalesce(sum(when(col("tt") + col("vt") > 2048, 1L)), lit(0L))
            .as("n_over_context"))
        .orderBy("source")
    },
      """WITH m AS (
        | SELECT source,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t <> '')) AS BIGINT) AS tt,
        |  160 + CAST(('0x' || substr(md5(text), 1, 3)) AS BIGINT) % 841 AS w,
        |  160 + CAST(('0x' || substr(md5(text), 4, 3)) AS BIGINT) % 841 AS h
        | FROM documents),
        |p AS (
        | SELECT source, tt,
        |  least(((w + 15) // 16) * ((h + 15) // 16), 1024) AS vt
        | FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(tt) AS BIGINT) AS text_tokens,
        | CAST(sum(vt) AS BIGINT) AS vision_tokens,
        | CAST(sum(tt) + sum(vt) AS BIGINT) AS total_tokens,
        | CAST(COALESCE(sum(CASE WHEN tt + vt > 2048 THEN 1 ELSE 0 END), 0)
        |  AS BIGINT) AS n_over_context
        |FROM p GROUP BY 1 ORDER BY source""".stripMargin),
    // INTERLEAVED IMAGE-TEXT SEQUENCE PACKING (the MMC4/Flamingo batch
    // shape): each (text, image) item costs tt + capped vision tokens;
    // items order deterministically per source (md5 — the epoch-shuffle
    // posture) and pack into L=4096-token contexts by the cumulative
    // boundary rule (the q_pack_boundaries contract: items assigned to
    // the context where they START; a straddler over-fills it —
    // fill_ppm > 10^6 is the honest over-pack signal, not an error).
    // Per-context modality ledger = what the dataloader's attention
    // mask and the vision-encoder batch sizing consume. One partitioned
    // window per source (corpus-scale shuffle on source), one map-side
    // combined rollup to context cardinality.
    Q("q_mm_interleave", { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cs = md5(col("text"))
      val w = lit(160) + conv(substring(cs, 1, 3), 16, 10).cast("long") % 841
      val h = lit(160) + conv(substring(cs, 4, 3), 16, 10).cast("long") % 841
      val items = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tt"),
          md5(concat_ws(":", col("source"), col("doc_id"))).as("ord"),
          w.as("w"), h.as("h"))
        .select(col("source"), col("doc_id"), col("tt"), col("ord"),
          least(expr("((w + 15) div 16) * ((h + 15) div 16)"), lit(1024L))
            .as("vt"))
      val win = Window.partitionBy("source").orderBy("ord", "doc_id")
      items
        .withColumn("cum", sum(col("tt") + col("vt")).over(win))
        .withColumn("ctx_id",
          expr("(cum - (tt + vt)) div 4096").cast("long"))
        .groupBy("source", "ctx_id")
        .agg(count(lit(1)).as("n_items"),
          sum(col("tt")).as("text_tokens"),
          sum(col("vt")).as("vision_tokens"),
          expr("(sum(tt) + sum(vt)) * 1000000 div 4096").as("fill_ppm"))
        .orderBy("source", "ctx_id")
    },
      """WITH m AS (
        | SELECT source, doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t <> '')) AS BIGINT) AS tt,
        |  md5(source || ':' || CAST(doc_id AS VARCHAR)) AS ord,
        |  160 + CAST(('0x' || substr(md5(text), 1, 3)) AS BIGINT) % 841 AS w,
        |  160 + CAST(('0x' || substr(md5(text), 4, 3)) AS BIGINT) % 841 AS h
        | FROM documents),
        |i AS (
        | SELECT source, doc_id, tt, ord,
        |  least(((w + 15) // 16) * ((h + 15) // 16), 1024) AS vt
        | FROM m),
        |c AS (
        | SELECT source, tt, vt,
        |  CAST(sum(tt + vt) OVER (PARTITION BY source ORDER BY ord, doc_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        | FROM i)
        |SELECT source, CAST((cum - (tt + vt)) // 4096 AS BIGINT) AS ctx_id,
        | CAST(count(*) AS BIGINT) AS n_items,
        | CAST(sum(tt) AS BIGINT) AS text_tokens,
        | CAST(sum(vt) AS BIGINT) AS vision_tokens,
        | CAST((sum(tt) + sum(vt)) * 1000000 // 4096 AS BIGINT) AS fill_ppm
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Feature extraction through the typed mapPartitions path.
    // the fake decoder's byte features are plain SQL over the same bytes;
    // first/last byte extracted OCTET-level via hex(encode(..)) so the
    // oracle agrees with the decoder on non-ASCII text too ('ü' → 195,
    // the first UTF-8 byte, not the 252 code point ascii() would give)
    Q("q_mm_features", { (s, d) =>
      extractFeatures(mediaTable(s, d)).toDF().orderBy("media_id")
    },
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |            hex(encode(text)) AS hx FROM documents)
        |SELECT doc_id AS media_id, n_bytes,
        | CASE WHEN length(hx)=0 THEN -1
        |      ELSE CAST('0x' || substr(hx, 1, 2) AS INTEGER) END AS first_byte,
        | CASE WHEN length(hx)=0 THEN -1
        |      ELSE CAST('0x' || substr(hx, length(hx)-1, 2) AS INTEGER) END AS last_byte
        |FROM b ORDER BY media_id""".stripMargin),
    // ASPECT-RATIO BUCKETING — the vision-training batching trick
    // (NovelAI/SDXL lineage): group media by nearest canonical aspect
    // ratio so each batch resizes to ONE geometry and padding waste
    // stays near zero (mixed-aspect batches pad every image to the max
    // of both dims). Dimensions come from a declared STUB decode —
    // w/h are read off the content digest's first two bytes (uniform
    // over 64..319, so the fixture exercises EVERY canonical bucket;
    // text bytes would cluster at 1:1) — the plumbing is real, the
    // codec isn't in this container. Bucket assignment is pure
    // integer cross-multiplication against the midpoint boundaries
    // (w·1000 vs h·625/875/1165/1665 — no float ratios anywhere), so
    // the report is hash-stable. One mapPartitions decode pass + a
    // ≤5-group rollup with a broadcast total.
    Q("q_mm_aspect_buckets", { (s, d) =>
      val f = mediaTable(s, d).select(
        (conv(substring(col("checksum"), 1, 2), 16, 10).cast("int") + 64)
          .as("w"),
        (conv(substring(col("checksum"), 3, 2), 16, 10).cast("int") + 64)
          .as("h"))
      val b = when(col("w") * 1000 < col("h") * 625, "1:2")
        .when(col("w") * 1000 < col("h") * 875, "3:4")
        .when(col("w") * 1000 < col("h") * 1165, "1:1")
        .when(col("w") * 1000 < col("h") * 1665, "4:3")
        .otherwise("2:1")
      val g = f.select(b.as("bucket")).groupBy("bucket")
        .agg(count(lit(1)).as("n_media"))
      val tot = g.agg(sum(col("n_media")).as("t"))
      g.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_media"),
          expr("n_media * 1000000 div t").as("share_ppm"))
        .orderBy("bucket")
    },
      """WITH b AS (SELECT md5(text) AS ck FROM documents),
        |wh AS (
        | SELECT 64 + CAST('0x' || substr(ck, 1, 2) AS INTEGER) AS w,
        |  64 + CAST('0x' || substr(ck, 3, 2) AS INTEGER) AS h
        | FROM b),
        |g AS (
        | SELECT CASE WHEN w*1000 < h*625 THEN '1:2'
        |   WHEN w*1000 < h*875 THEN '3:4'
        |   WHEN w*1000 < h*1165 THEN '1:1'
        |   WHEN w*1000 < h*1665 THEN '4:3' ELSE '2:1' END AS bucket
        | FROM wh)
        |SELECT bucket, count(*) AS n_media,
        | count(*) * 1000000 // (SELECT count(*) FROM g) AS share_ppm
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    // Frame sampling — the video-preprocessing shape: treat the payload as
    // fixed-size frames (STUB framing: 256-byte strides standing in for a
    // real container's frame index), keep every 4th frame, emit a
    // per-frame checksum. The Spark plumbing is the real thing: pure
    // codegen'd expressions (hex once, slice per sampled frame, no UDF),
    // one generator per media row, zero shuffles until a consumer
    // aggregates — at 100 TB this runs scan-speed map-side. Frame bytes
    // are checksummed via their hex rendering so the oracle slices the
    // same VARCHAR on both engines (DuckDB has no blob substring/md5).
    Q("q_mm_frame_sample", { (s, d) =>
      val frameBytes = 256; val every = 4
      val hexChars = frameBytes * 2
      mediaTable(s, d)
        .filter(col("n_bytes") >= 1) // empty payload = no frames
        .select(col("media_id"), hex(col("payload")).as("hx"),
          ceil(col("n_bytes") / lit(frameBytes.toDouble)).cast("long").as("n_frames"))
        .select(col("media_id"), col("n_frames"),
          explode(transform(
            sequence(lit(0L), col("n_frames") - 1, lit(every.toLong)),
            fi => struct(fi.as("frame_idx"),
              md5(col("hx").substr(fi.cast("int") * hexChars + 1,
                lit(hexChars))).as("frame_md5")))).as("f"))
        .select(col("media_id"), col("n_frames"),
          col("f.frame_idx"), col("f.frame_md5"))
        .orderBy("media_id", "frame_idx")
    },
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |            octet_length(encode(text)) AS nb FROM documents),
        |f AS (SELECT media_id, hx, CAST(ceil(nb / 256.0) AS BIGINT) AS n_frames
        |      FROM m WHERE nb >= 1),
        |s AS (SELECT media_id, n_frames, unnest(range(0, n_frames, 4)) AS fi, hx
        |      FROM f)
        |SELECT media_id, n_frames, fi AS frame_idx,
        | md5(substr(hx, CAST(fi * 512 + 1 AS BIGINT), 512)) AS frame_md5
        |FROM s ORDER BY media_id, frame_idx""".stripMargin),

    // Resize — the image-downsampling shape (STUB resample: keep every
    // 4th byte, standing in for a real decoder's pixel resample; the
    // brief's decode step has no media libs here). The Spark plumbing is
    // the deliverable: binary in → binary out with recomputed size +
    // checksum, pure codegen'd hex/array expressions, zero shuffles,
    // payloads never leave the executor. A real implementation swaps the
    // stride lambda for FakeDecoder→real decoder inside the same
    // partition-wise stage as extractFeatures.
    Q("q_mm_resize", { (s, d) =>
      val stride = 4
      mediaTable(s, d)
        .filter(col("n_bytes") >= 1)
        .select(col("media_id"), hex(col("payload")).as("hx"),
          col("n_bytes").as("orig_bytes"))
        .select(col("media_id"), col("orig_bytes"),
          array_join(transform(
            sequence(lit(0L), col("orig_bytes") - 1, lit(stride.toLong)),
            i => col("hx").substr((i.cast("int") * 2) + 1, lit(2))), "")
            .as("resized_hx"))
        .select(col("media_id"), col("orig_bytes"),
          (length(col("resized_hx")) / 2).cast("long").as("resized_bytes"),
          md5(col("resized_hx")).as("resized_md5"))
        .orderBy("media_id")
    },
      """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |            octet_length(encode(text)) AS nb FROM documents),
        |r AS (SELECT media_id, nb AS orig_bytes,
        |       array_to_string(list_transform(range(0, nb, 4),
        |         i -> substr(hx, CAST(i * 2 + 1 AS BIGINT), 2)), '') AS rhx
        |      FROM m WHERE nb >= 1)
        |SELECT media_id, orig_bytes,
        | CAST(length(rhx) / 2 AS BIGINT) AS resized_bytes,
        | md5(rhx) AS resized_md5
        |FROM r ORDER BY media_id""".stripMargin)
  )
}
