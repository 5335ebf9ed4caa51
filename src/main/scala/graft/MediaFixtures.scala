package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The media catalog rows' payload CONTENT SCHEDULES — the synthesized GVID
 * containers and GIMG images the `multimodal_video_near_dup` /
 * `multimodal_video_image_match` / `multimodal_cross_near_dup` /
 * `multimodal_phash_near_dup` rows decode. One source of truth, consumed by
 * [[Artifacts.mediaPayloads]], which materializes each table ONCE per
 * sf-dir per JVM as a parquet fixture (verdict-r16 item 1): a real
 * deployment reads payloads from storage — a materialized binary column —
 * so the fixture IS the deployment shape, and the bench rows measure
 * decode + bucket-join instead of re-paying three checkpointed synthesis
 * stages (~1.85M frames at sf10) plus their GC per run. The schedules
 * themselves are UNCHANGED from the in-row r15/r16 forms — the oracle
 * re-derives every expectation from the `documents` text/source
 * arithmetic, never the bytes, so the moved materialization is
 * oracle-invisible (re-gated at sf0.01 AND sf0.1).
 *
 * Schedule provenance (kept verbatim from the rows that pinned them):
 *  - vnd: 2×2×1 frames from text slices at a doc-dependent start offset
 *    (doc_id % 4) — splits exact-duplicate text families across buckets;
 *  - vimatch: 4-byte pixel blocks from md5(source ':' n_chars) HEX CHARS
 *    (exact-content digest join — alphabet saturation is irrelevant to a
 *    md5-key equi-join);
 *  - cross: RAW seed bytes (unhex of hex pairs), 64 cells/dim — the r16
 *    alphabet fix that keeps the quantized-bucket pair space linear;
 *  - phash: per-grid-row LINEAR ramps (pixel = b_j + s_j·x, params from
 *    raw seed bytes), images a +1-px x-translate (odd docs) or brightness
 *    shift (even docs) of frame doc_id % 3;
 *  - phash-Y ([[phashYPair]], r17): the TRANSPOSE lane — per-grid-COLUMN
 *    ramps (pixel = b_j + s_j·y) with +1-px Y-translate images — the
 *    fixture for the y-shift-tolerant {u ≥ 1} Walsh subset.
 */
object MediaFixtures {

  /** The `multimodal_video_near_dup` container schedule: (doc_id, payload)
    * GVID videos of 1–3 fixed-13-byte 2×2×1 GIMG frames whose pixels are
    * text slices at start offset doc_id % 4 + 1; corrupt magic every 13th
    * doc. */
  def vndVideos(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = (col("doc_id") % 3 + 1).cast("int")
    def frame(i: Column) = concat(
      lit("GIMG".getBytes("US-ASCII")),
      unhex(lit("0002")),
      unhex(lit("0002")),
      unhex(lit("01")),
      rpad(col("text"), 16, "x").cast("binary")
        .substr(i.cast("int") * 4 + (col("doc_id") % 4 + 1).cast("int"), lit(4)))
    val idxSeq = sequence(lit(0L), (n - 1).cast("long"))
    val emptyBin = lit(Array.empty[Byte])
    val indexBytes = aggregate(
      transform(idxSeq, i => unhex(lpad(hex(i * 13L), 8, "0"))),
      emptyBin, (acc, b) => concat(acc, b))
    val framesBytes = aggregate(
      transform(idxSeq, i => frame(i)), emptyBin, (acc, b) => concat(acc, b))
    val magic = when(col("doc_id") % 13 === 0,
      lit("XVID".getBytes("US-ASCII")))
      .otherwise(lit("GVID".getBytes("US-ASCII")))
    docs.withColumn("payload", concat(magic, unhex(lpad(hex(n), 4, "0")),
        indexBytes, framesBytes))
      .select(col("doc_id"), col("payload"))
  }

  /** The `multimodal_video_image_match` schedule: (videos, images) — both
    * modalities draw 4-byte pixel blocks from the md5(source ':' n_chars)
    * HEX STRING (videos at frame-indexed offsets, images at block
    * doc_id % 3); corrupt containers via doc_id % 13 (XVID) and
    * doc_id % 7 (XIMG). */
  def vimatchPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val seedHex = md5(concat(col("source"), lit(":"),
      col("n_chars").cast("string")))
    val n = (col("doc_id") % 3 + 1).cast("int")
    def frame(i: Column) = concat(
      lit("GIMG".getBytes("US-ASCII")),
      unhex(lit("0002")), unhex(lit("0002")), unhex(lit("01")),
      seedHex.substr((i.cast("int") * 4 + 1), lit(4)).cast("binary"))
    val idxSeq = sequence(lit(0L), (n - 1).cast("long"))
    val emptyBin = lit(Array.empty[Byte])
    val indexBytes = aggregate(
      transform(idxSeq, i => unhex(lpad(hex(i * 13L), 8, "0"))),
      emptyBin, (acc, b) => concat(acc, b))
    val framesBytes = aggregate(
      transform(idxSeq, i => frame(i)), emptyBin, (acc, b) => concat(acc, b))
    val vMagic = when(col("doc_id") % 13 === 0,
      lit("XVID".getBytes("US-ASCII")))
      .otherwise(lit("GVID".getBytes("US-ASCII")))
    val iMagic = when(col("doc_id") % 7 === 0,
      lit("XIMG".getBytes("US-ASCII")))
      .otherwise(lit("GIMG".getBytes("US-ASCII")))
    val videos = docs
      .withColumn("payload", concat(vMagic, unhex(lpad(hex(n), 4, "0")),
        indexBytes, framesBytes))
      .select(col("doc_id"), col("payload"))
    val images = docs
      .withColumn("payload", concat(iMagic,
        unhex(lit("0002")), unhex(lit("0002")), unhex(lit("01")),
        seedHex.substr(((col("doc_id") % 3) * 4 + 1).cast("int"), lit(4))
          .cast("binary")))
      .select(col("doc_id"), col("payload"))
    (videos, images)
  }

  /** The `multimodal_cross_near_dup` schedule: 2×2×1 frames of RAW seed
    * bytes (unhex of hex pairs — 64 quant cells/dim, the r16 saturation
    * fix), images a nearest-neighbor 2× upscale (4×4) of block
    * doc_id % 3. */
  def crossPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val seedHex = md5(concat(col("source"), lit(":"),
      col("n_chars").cast("string")))
    val n = (col("doc_id") % 3 + 1).cast("int")
    def frame(i: Column) = concat(
      lit("GIMG".getBytes("US-ASCII")),
      unhex(lit("0002")), unhex(lit("0002")), unhex(lit("01")),
      unhex(seedHex.substr((i.cast("int") * 8 + 1), lit(8))))
    val idxSeq = sequence(lit(0L), (n - 1).cast("long"))
    val emptyBin = lit(Array.empty[Byte])
    val indexBytes = aggregate(
      transform(idxSeq, i => unhex(lpad(hex(i * 13L), 8, "0"))),
      emptyBin, (acc, b) => concat(acc, b))
    val framesBytes = aggregate(
      transform(idxSeq, i => frame(i)), emptyBin, (acc, b) => concat(acc, b))
    val vMagic = when(col("doc_id") % 13 === 0,
      lit("XVID".getBytes("US-ASCII")))
      .otherwise(lit("GVID".getBytes("US-ASCII")))
    val iMagic = when(col("doc_id") % 7 === 0,
      lit("XIMG".getBytes("US-ASCII")))
      .otherwise(lit("GIMG".getBytes("US-ASCII")))
    val videos = docs
      .withColumn("payload", concat(vMagic, unhex(lpad(hex(n), 4, "0")),
        indexBytes, framesBytes))
      .select(col("doc_id"), col("payload"))
    // image = NN 2× upscale of block (doc_id % 3): pixel p of the 4×4
    // copies raw seed byte (row div 2)·2 + (col div 2) of the block
    val blockStart = ((col("doc_id") % 3) * 8 + 1).cast("int")
    val pix = concat((0 until 16).map { p =>
      val b = (p / 4 / 2) * 2 + (p % 4 / 2)
      unhex(seedHex.substr(blockStart + 2 * b, lit(2)))
    }: _*)
    val images = docs
      .withColumn("payload", concat(iMagic,
        unhex(lit("0004")), unhex(lit("0004")), unhex(lit("01")), pix))
      .select(col("doc_id"), col("payload"))
    (videos, images)
  }

  /** The seed-derived ramp parameter table shared by both phash lanes:
    * per doc, 3 frames × 4 grid lines of (intercept b, slope s) from RAW
    * seed bytes — 25 near-uniform slope values per line (25⁴ ≈ 390k bucket
    * cells, the r16 alphabet lesson) — plus the brightness delta. Staged
    * behind a checkpoint because inlining md5(seed) into all 64 byte slots
    * per frame builds a ~70 KB expression janino refuses to compile. */
  private def phashParams(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val seedHex = md5(concat(col("source"), lit(":"),
      col("n_chars").cast("string")))
    def byteAt(pos: Int) =
      conv(substring(col("seed"), pos, 2), 16, 10).cast("int")
    docs
      .select(col("doc_id"), seedHex.as("seed"))
      .select((Seq(col("doc_id")) ++
        (for (i <- 0 to 2; j <- 0 to 3) yield Seq(
          (lit(100) + (byteAt(i * 8 + 2 * j + 1) / 25).cast("int"))
            .as(s"b_${i}_$j"),
          (pmod(byteAt(i * 8 + 2 * j + 1), lit(25)) - 12)
            .as(s"s_${i}_$j")
        )).flatten ++ Seq(
        (pmod(byteAt(25), lit(21)) - 10).as("delta0"))): _*)
      .localCheckpoint()
  }

  /** One phash lane over the shared [[phashParams]]: 4×4×1 frames of
    * per-grid-LINE linear ramps, images a +1-px translate (odd docs) or
    * brightness shift (even docs) of frame doc_id % 3. `transposed = false`
    * is the r16 x-lane (ramps along x: pixel = b_j + s_j·x for grid ROW j —
    * the {v ≥ 1} match key's fixture); `transposed = true` is the r17
    * y-lane (ramps along y: pixel = b_j + s_j·y for grid COLUMN j, images
    * +1-px Y-translates — the {u ≥ 1} dual's fixture). */
  private def phashLane(s: SparkSession, d: String,
      transposed: Boolean): (DataFrame, DataFrame) = {
    val params = phashParams(s, d)
    // 4×4×1 pixel region: one (b, s) ramp per grid line (grid 4 makes each
    // region ONE pixel — the decode stays inside whole-stage codegen's
    // 64 KB method budget, which the 8×8 form's 64-term synthesis blew)
    def framePix(i: Int, shift: Int, delta: Column): Column =
      concat((0 until 16).map { p =>
        // x lane: line j = raster row, ramp position = x (raster column);
        // y lane: line j = raster column, ramp position = y (raster row)
        val j = if (transposed) p % 4 else p / 4
        val pos = if (transposed) p / 4 else p % 4
        unhex(lpad(hex(col(s"b_${i}_$j") + delta +
          col(s"s_${i}_$j") * (pos + shift)), 2, "0"))
      }: _*)
    def frame(i: Int) = concat(
      lit("GIMG".getBytes("US-ASCII")),
      unhex(lit("0004")), unhex(lit("0004")), unhex(lit("01")),
      framePix(i, 0, lit(0)))
    val n = (col("doc_id") % 3 + 1).cast("int")
    val emptyBin = lit(Array.empty[Byte])
    val indexBytes = concat((0 until 3).map { i =>
      when(n > i, unhex(lpad(hex(lit(i * 25L)), 8, "0")))
        .otherwise(emptyBin)
    }: _*)
    val framesBytes = concat((0 until 3).map { i =>
      when(n > i, frame(i)).otherwise(emptyBin)
    }: _*)
    val vMagic = when(col("doc_id") % 13 === 0,
      lit("XVID".getBytes("US-ASCII")))
      .otherwise(lit("GVID".getBytes("US-ASCII")))
    val iMagic = when(col("doc_id") % 7 === 0,
      lit("XIMG".getBytes("US-ASCII")))
      .otherwise(lit("GIMG".getBytes("US-ASCII")))
    val videos = params
      .withColumn("payload", concat(vMagic, unhex(lpad(hex(n), 4, "0")),
        indexBytes, framesBytes))
      .select(col("doc_id"), col("payload"))
    // image = frame (doc_id % 3) under a +1-px shift along the ramp axis
    // (odd docs) or a seed-derived brightness delta (even docs)
    val delta = when(col("doc_id") % 2 === 0, col("delta0"))
      .otherwise(lit(0))
    def imgPix(i: Int): Column =
      when(col("doc_id") % 2 === 0, framePix(i, 0, delta))
        .otherwise(framePix(i, 1, lit(0)))
    val pixImg = when(col("doc_id") % 3 === 0, imgPix(0))
      .when(col("doc_id") % 3 === 1, imgPix(1))
      .otherwise(imgPix(2))
    val images = params
      .withColumn("payload", concat(iMagic,
        unhex(lit("0004")), unhex(lit("0004")), unhex(lit("01")),
        pixImg))
      .select(col("doc_id"), col("payload"))
    (videos, images)
  }

  /** The `multimodal_phash_near_dup` x-shift lane (r16 schedule). */
  def phashPair(s: SparkSession, d: String): (DataFrame, DataFrame) =
    phashLane(s, d, transposed = false)

  /** The `multimodal_phash_near_dup_y` y-shift lane (r17): the exact
    * transpose of [[phashPair]]'s content, so the y-translate images are
    * invisible to the {u ≥ 1} Walsh subset the same way x-translates are
    * to {v ≥ 1}. */
  def phashYPair(s: SparkSession, d: String): (DataFrame, DataFrame) =
    phashLane(s, d, transposed = true)
}
