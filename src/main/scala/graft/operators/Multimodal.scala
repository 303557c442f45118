package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [EXT] Multimodal column plumbing (SURVEY.md §2.10 L5x): opaque binary
  * payloads + typed metadata structs, and a batch-shaped decode stage.
  *
  * The fixture set has no real media, so the payload is the document text's
  * UTF-8 bytes and the DECODER IS A DETERMINISTIC STUB (clearly marked
  * below) — the Spark-side plumbing (BinaryType column, metadata struct
  * schema, partition-preserving batched mapPartitions, typed output schema)
  * is real and tested. Swapping the stub for an actual image/audio decoder
  * changes one function body, not the pipeline.
  */
object Multimodal extends QueryModule {

  // ------------------------------------------------------------------
  // Binary payload + metadata struct, oracle-checked (md5/byte-length are
  // engine-portable). At scale: binary columns stay columnar in Parquet;
  // metadata lives beside the payload so filters prune without decoding.
  // ------------------------------------------------------------------
  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text").cast("binary")).as("checksum"),
        lit("text/plain").as("media_type"),
        ceil(octet_length(col("text")) / lit(256.0)).cast("long").as("n_chunks"))
      .orderBy(col("doc_id"))

  val binaryMetaSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
      |  md5(text) AS checksum,
      |  'text/plain' AS media_type,
      |  CAST(ceil(octet_length(CAST(text AS BLOB)) / 256.0) AS BIGINT) AS n_chunks
      |FROM documents ORDER BY doc_id""".stripMargin

  /** One decoded media row. `width`/`height`/`duration_ms` come from the
    * STUB decoder below. */
  case class DecodedMedia(doc_id: Long, width: Int, height: Int,
    duration_ms: Long, n_frames: Int, ok: Boolean)

  /** STUB DECODER — the real implementation would hand `payload` to an
    * image/audio library (not present in this container). Deterministic
    * fake: dimensions derived from the first payload bytes. The signature
    * (byte-array batch in, typed row out) is what a real decoder needs. */
  private def decodeStub(docId: Long, payload: Array[Byte]): DecodedMedia = {
    if (payload.isEmpty) DecodedMedia(docId, 0, 0, 0L, 0, ok = false)
    else {
      val w = 64 + (payload(0) & 0x3f)
      val h = 64 + (payload(payload.length / 2) & 0x3f)
      DecodedMedia(docId, w, h, payload.length.toLong * 10, payload.length / 100 + 1, ok = true)
    }
  }

  // ------------------------------------------------------------------
  // Batch decode stage: binary column -> mapPartitions -> typed Dataset.
  // Partition-preserving (no shuffle); each task decodes its partition's
  // payloads in one pass — the Spark-native shape for per-row native-lib
  // work (amortizes per-batch setup, keeps memory bounded per task).
  // ORACLE-CHECKED: the stub is pure byte arithmetic over ASCII text, so
  // DuckDB reproduces it with ascii()/substring (fixture docs verified
  // all-ASCII, so byte index == char index).
  // ------------------------------------------------------------------
  def decodeBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeStub(id, payload) })
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** One extracted-feature row per sampled frame. The feature math (mean/
    * max/nonzero over the frame's byte slice) is REAL byte arithmetic; only
    * the frame boundary definition comes from the stub decoder. `resized_w/h`
    * model the resize stage (half-resolution thumbnail dims). */
  case class FrameFeatures(doc_id: Long, frame_idx: Int,
    mean_byte: Double, max_byte: Int, n_nonzero: Int,
    resized_w: Int, resized_h: Int)

  // ------------------------------------------------------------------
  // Feature extraction + resize over sampled frames: payload -> per-frame
  // byte-slice statistics + thumbnail dimensions, one mapPartitions pass
  // (batch-shaped: one task walks its partition's payloads once; a real
  // image library slots into the slice->features function body).
  // Oracle-checked ([[featureExtractSql]]); arithmetic also in LlmOpsSpec.
  // ------------------------------------------------------------------
  def featureExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val dec = decodeStub(id, payload)
        val frames = Range(0, math.min(dec.n_frames, FRAME_STRIDE * (MAX_FRAMES_SAMPLED - 1) + 1),
          FRAME_STRIDE)
        frames.iterator.map { idx =>
          val slice = payload.slice(idx * 100, math.min(idx * 100 + 100, payload.length))
          val unsigned = slice.map(_ & 0xff)
          FrameFeatures(id, idx,
            if (unsigned.isEmpty) 0.0 else unsigned.sum.toDouble / unsigned.length,
            if (unsigned.isEmpty) 0 else unsigned.max,
            unsigned.count(_ != 0),
            dec.width / 2, dec.height / 2)
        }
      })
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  // ------------------------------------------------------------------
  // Frame sampling: decoded media -> one row per SAMPLED frame (every
  // k-th frame index, capped) — the fan-out stage that feeds per-frame
  // feature extraction. Runs on the decode output; the frame "content"
  // would come from a real decoder. Oracle-checked ([[frameSampleSql]]);
  // LlmOpsSpec pins the sampling arithmetic.
  // ------------------------------------------------------------------
  val FRAME_STRIDE = 4
  val MAX_FRAMES_SAMPLED = 8

  def frameSample(s: SparkSession, dir: String): DataFrame =
    decodeBatch(s, dir)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), least(col("n_frames") - 1,
          lit(FRAME_STRIDE * (MAX_FRAMES_SAMPLED - 1))), lit(FRAME_STRIDE)))
          .as("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** DuckDB twin of [[decodeStub]] (byte == char under the verified
    * all-ASCII fixture). */
  val decodeBatchSql: String =
    """WITH d AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS len FROM documents)
      |SELECT doc_id,
      |  CAST(64 + (ascii(substring(text, 1, 1)) & 63) AS INTEGER) AS width,
      |  CAST(64 + (ascii(substring(text, len//2 + 1, 1)) & 63) AS INTEGER) AS height,
      |  CAST(len * 10 AS BIGINT) AS duration_ms,
      |  CAST(len//100 + 1 AS INTEGER) AS n_frames,
      |  true AS ok
      |FROM d ORDER BY doc_id""".stripMargin

  val frameSampleSql: String =
    """WITH d AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS len FROM documents),
      |dec AS (SELECT doc_id, CAST(len//100 + 1 AS INTEGER) AS n_frames FROM d)
      |SELECT doc_id, n_frames,
      |  CAST(unnest(generate_series(0, least(n_frames - 1, 28), 4)) AS INTEGER) AS frame_idx
      |FROM dec ORDER BY doc_id, frame_idx""".stripMargin

  /** Per-frame byte statistics; the LEFT JOIN + COALESCE keeps the zero row
    * Spark emits for an empty tail slice (len % 100 == 0 edge). */
  val featureExtractSql: String =
    """WITH d AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS len FROM documents),
      |dec AS (SELECT doc_id, text, len,
      |    CAST(len//100 + 1 AS INTEGER) AS n_frames,
      |    64 + (ascii(substring(text, 1, 1)) & 63) AS w,
      |    64 + (ascii(substring(text, len//2 + 1, 1)) & 63) AS h
      |  FROM d),
      |frames AS (SELECT doc_id, text, len, w, h,
      |    CAST(unnest(generate_series(0, least(n_frames - 1, 28), 4)) AS INTEGER) AS frame_idx
      |  FROM dec),
      |bytes AS (SELECT doc_id, frame_idx, ascii(substring(text, frame_idx*100 + i, 1)) AS b
      |  FROM frames, unnest(generate_series(1, least(100, len - frame_idx*100))) t(i)),
      |agg AS (SELECT doc_id, frame_idx,
      |    CAST(SUM(b) AS DOUBLE)/COUNT(*) AS mean_byte,
      |    CAST(MAX(b) AS INTEGER) AS max_byte,
      |    CAST(COUNT(*) FILTER (b != 0) AS INTEGER) AS n_nonzero
      |  FROM bytes GROUP BY doc_id, frame_idx)
      |SELECT f.doc_id, f.frame_idx,
      |  COALESCE(a.mean_byte, 0.0) AS mean_byte,
      |  COALESCE(a.max_byte, 0) AS max_byte,
      |  COALESCE(a.n_nonzero, 0) AS n_nonzero,
      |  CAST(f.w//2 AS INTEGER) AS resized_w,
      |  CAST(f.h//2 AS INTEGER) AS resized_h
      |FROM frames f LEFT JOIN agg a USING (doc_id, frame_idx)
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------------------------------
  // Perceptual fingerprint (average-hash): the media-dedup primitive.
  // Real aHash downscales an image to 8x8 grayscale and emits one bit
  // per cell (pixel > mean); the payload here is opaque bytes, so the
  // "downscale" is a 32-point stride sample over the byte stream — the
  // arithmetic (stride sample -> mean threshold -> packed bit fingerprint)
  // is the real algorithm, byte-for-byte reproducible in the oracle.
  // Output: per-doc 32-bit fingerprint + collision-group stats
  // (group_n > 1 = perceptual-duplicate candidates).
  //
  // Scale: one narrow projection computes the fingerprint per row (HOF
  // fold, codegen'd, no explode — the 32 samples never materialize as
  // rows); collision stats are one window over the fp key (high-cardinality
  // domain, no hot partition). At 100 TB this is a single scan + one
  // keyed exchange of (doc_id, fp) pairs — bytes never shuffle.
  // ------------------------------------------------------------------
  /** (doc_id, fp) average-hash fingerprints — shared by mm_ahash and the
    * perceptual near-dup pair query below. */
  private def ahashFp(s: SparkSession, dir: String): DataFrame = {
    // loadParallel (round 11): the 32-point byte-sampling chain below is
    // compute-heavy and narrow, and the fixture's single-row-group file
    // caps a plain scan at 1 task — the ScaleProbe showed this query
    // running its whole fingerprint stage serially at base scale.
    val d = Tables.loadParallel(s, dir, "documents")
      .filter(col("n_chars") >= 32)
      .select(col("doc_id"), col("text"),
        octet_length(col("text").cast("binary")).as("n"))
    // sample byte i of 32 at 1-based offset 1 + floor(i*n/32); payload is
    // verified-ASCII so ascii(substr(text,...)) IS the byte value (the
    // pattern every mm_* stub uses — a real image would sample pixels).
    d.withColumn("bytes",
      transform(sequence(lit(0), lit(31)),
        i => ascii(col("text").substr(
          lit(1) + ((i * col("n")) / lit(32)).cast("int"), lit(1)))))
      .withColumn("bsum", aggregate(col("bytes"), lit(0L), (a, v) => a + v))
      // MSB-first fold: acc*2 + (32*byte > sum of 32 bytes) per sample
      .withColumn("fp", aggregate(col("bytes"), lit(0L),
        (a, v) => a * 2 + when(v * lit(32) > col("bsum"), 1L).otherwise(0L)))
      .select(col("doc_id"), col("fp"))
  }

  def ahash(s: SparkSession, dir: String): DataFrame = {
    val wFp = Window.partitionBy(col("fp"))
    ahashFp(s, dir)
      .withColumn("group_n", count(lit(1)).over(wFp))
      .withColumn("rep_doc", min(col("doc_id")).over(wFp))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Perceptual near-dup pairs — IMAGE DEDUP as a training pipeline runs
  // it: items whose perceptual hashes differ in <= 3 of 32 bits are
  // near-duplicate payloads (re-encodes, crops, brightness shifts — here
  // the deterministic byte-sampling stub stands in for real pixels).
  // Candidate generation is the same banded Hamming blocking as
  // dedup_simhash_pairs (4 x 8-bit bands, hot-bucket cap, codegen
  // hamming_dist rerank) — the operator composes the multimodal
  // fingerprint with the proven pairwise core, so nothing here is
  // all-pairs and the oracle covers the whole decision.
  // ------------------------------------------------------------------
  def dedupPhash(s: SparkSession, dir: String): DataFrame = {
    DedupOps.simhashPairsOf(ahashFp(s, dir).withColumnRenamed("fp", "simhash"))
  }

  val ahashSql: String =
    """WITH d AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n
      |           FROM documents WHERE n_chars >= 32),
      |b AS (SELECT doc_id, i,
      |    ascii(substring(text, CAST(1 + (i*n)//32 AS INTEGER), 1)) AS byte
      |  FROM d CROSS JOIN range(0, 32) r(i)),
      |t AS (SELECT doc_id, CAST(SUM(byte) AS BIGINT) AS bsum FROM b GROUP BY doc_id),
      |f AS (SELECT b.doc_id,
      |    CAST(SUM(CASE WHEN 32*b.byte > t.bsum
      |      THEN 1::BIGINT << CAST(31 - b.i AS INTEGER) ELSE 0 END) AS BIGINT) AS fp
      |  FROM b JOIN t USING (doc_id) GROUP BY b.doc_id)
      |SELECT doc_id, fp,
      |  CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS group_n,
      |  MIN(doc_id) OVER (PARTITION BY fp) AS rep_doc
      |FROM f ORDER BY doc_id""".stripMargin

  val dedupPhashSql: String =
    s"""WITH d AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n
      |           FROM documents WHERE n_chars >= 32),
      |b AS (SELECT doc_id, i,
      |    ascii(substring(text, CAST(1 + (i*n)//32 AS INTEGER), 1)) AS byte
      |  FROM d CROSS JOIN range(0, 32) r(i)),
      |t AS (SELECT doc_id, CAST(SUM(byte) AS BIGINT) AS bsum FROM b GROUP BY doc_id),
      |fp AS (SELECT b.doc_id,
      |    CAST(SUM(CASE WHEN 32*b.byte > t.bsum
      |      THEN 1::BIGINT << CAST(31 - b.i AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM b JOIN t USING (doc_id) GROUP BY b.doc_id),
      |banded0 AS (
      |  SELECT doc_id, simhash, bb, (simhash // CAST(pow(256, bb) AS BIGINT)) % 256 AS bk
      |  FROM fp CROSS JOIN range(0, 4) q(bb)),
      |banded AS (SELECT doc_id, simhash, bb, bk FROM banded0
      |           QUALIFY COUNT(*) OVER (PARTITION BY bb, bk) <= ${DedupOps.MAX_BAND_BUCKET}),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM banded x JOIN banded y
      |    ON x.bb = y.bb AND x.bk = y.bk AND x.doc_id < y.doc_id)
      |SELECT d1, d2, CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INT) AS hamming
      |FROM cand
      |JOIN fp s1 ON d1 = s1.doc_id
      |JOIN fp s2 ON d2 = s2.doc_id
      |WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3
      |ORDER BY d1, d2""".stripMargin

  val queries: Map[String, Query] = Map(
    "mm_ahash" -> Query(ahash _, ahashSql),
    "mm_dedup_phash" -> Query(dedupPhash _, dedupPhashSql),
    "mm_binary_meta" -> Query(binaryMeta _, binaryMetaSql),
    "mm_decode_stub" -> Query(decodeBatch _, decodeBatchSql),
    "mm_frame_sample" -> Query(frameSample _, frameSampleSql),
    "mm_feature_extract" -> Query(featureExtract _, featureExtractSql))
}
