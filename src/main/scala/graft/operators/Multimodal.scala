package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One multimodal record: an opaque binary payload plus typed metadata —
  * the column model for images/audio/video at 100 TB (BASELINE.json north
  * star). Payloads stay opaque `binary`; all engine-side work is metadata
  * extraction, slicing, and batched feature extraction. */
final case class MMRecord(doc_id: Long, payload: Array[Byte])
final case class MMFeature(doc_id: Long, n_bytes: Int, features: Array[Float])

/** Multimodal-column operators.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic stub (`StubDecoder`) — but everything Spark
  * cares about is real and tested: the `binary` column model, the
  * partition-parallel `mapPartitions` batch shape (the Scala analog of a
  * vectorized `mapInPandas` decode), the fixed-width `Array[Float]` feature
  * schema that feeds the §2C similarity operators, and the pushdown-friendly
  * metadata projection.
  *
  * Scale posture: payload bytes never shuffle unless the operator needs them
  * (`mm_meta` projects metadata only; `mm_feature_extract` maps partitions in
  * place with zero shuffle); a production swap-in replaces `StubDecoder.decode`
  * with a real codec and nothing else changes.
  */
object Multimodal {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** STUB — stands in for a real image/audio decoder (none in this container).
    * Deterministic byte-histogram "embedding": 16 buckets of byte frequencies,
    * L1-normalized. Replace `decode` with a codec call in production; the
    * signature (bytes in, fixed-width floats out) is the real contract. */
  object StubDecoder {
    val dims = 16
    def decode(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](dims)
      var i = 0
      while (i < payload.length) { hist((payload(i) & 0xff) % dims) += 1f; i += 1 }
      val n = math.max(payload.length, 1).toFloat
      var j = 0
      while (j < dims) { hist(j) /= n; j += 1 }
      hist
    }
  }

  /** documents.text encoded as the opaque payload column (the testdata has no
    * binary table; the bytes are treated as an opaque blob from here on). */
  private def payloads(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  // Typed metadata over opaque blobs: size, content hash, leading-bytes
  // "magic" — the projection a catalog/filter stage runs WITHOUT decoding.
  private val mmMeta = Op(
    "mm_meta",
    (s, d) => payloads(s, d)
      .select(col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("checksum"),
        hex(expr("substring(payload, 1, 4)")).as("magic_hex"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              octet_length(encode(text)) AS n_bytes,
              md5(text) AS checksum,
              upper(substr(hex(encode(text)), 1, 8)) AS magic_hex
            FROM documents ORDER BY doc_id"""))

  // Frame sampling: split the payload into fixed 64-byte "frames" (stand-in
  // for video frames / audio windows), keep every 4th, return per-doc counts
  // and a checksum of the sampled frames. Pure HOF arithmetic, no shuffle.
  private val mmFrameSample = Op(
    "mm_frame_sample",
    (s, d) => payloads(s, d)
      .withColumn("n_frames", ceil(octet_length(col("payload")) / lit(64.0)).cast("int"))
      .withColumn("sampled", expr(
        "transform(sequence(0, n_frames - 1, 4), i -> substring(payload, i * 64 + 1, 64))"))
      .select(col("doc_id"), col("n_frames"),
        size(col("sampled")).as("n_sampled"),
        md5(expr("upper(concat_ws('', transform(sampled, f -> hex(f))))"))
          .as("sample_sig"))
      .orderBy("doc_id"),
    Some("""WITH f AS (
              SELECT doc_id, hex(encode(text)) AS h,
                     CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
              FROM documents)
            SELECT doc_id, n_frames,
              CAST(len(range(0, n_frames, 4)) AS INT) AS n_sampled,
              md5(upper(array_to_string(list_transform(range(0, n_frames, 4),
                i -> substr(h, i * 128 + 1, 128)), ''))) AS sample_sig
            FROM f ORDER BY doc_id"""))

  // Batched feature extraction: Dataset[MMRecord] → mapPartitions →
  // Dataset[MMFeature]. Partition-parallel, zero-shuffle, fixed-width output —
  // the Scala analog of a vectorized mapInPandas decode stage. The feature
  // vector is emitted as a comma-joined string of 1e6-scaled ints (raw
  // array<> output crashes the driver's pandas comparator). The stub decoder
  // is a low-nibble byte histogram with float32 normalization, so the oracle
  // replays it in SQL: low nibbles = the odd hex chars of the payload, and
  // DuckDB's REAL division reproduces the float32 arithmetic bit-for-bit.
  private val mmFeatureExtract = Op(
    "mm_feature_extract",
    (s, d) => {
      import s.implicits._
      val ds: Dataset[MMRecord] = payloads(s, d).as[MMRecord]
      ds.mapPartitions { it =>
        it.map { r =>
          MMFeature(r.doc_id, r.payload.length, StubDecoder.decode(r.payload))
        }
      }.toDF()
        .select(col("doc_id"), col("n_bytes"),
          expr("""concat_ws(',', transform(features,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))""")
            .as("features_sig"))
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
              SELECT doc_id,
                     regexp_replace(hex(encode(text)), '.(.)', '\1', 'g') AS lows,
                     octet_length(encode(text)) AS n
              FROM documents)
            SELECT doc_id, CAST(n AS INT) AS n_bytes,
              array_to_string(list_transform(range(0, 16), j ->
                CAST(floor(CAST(
                  CAST(length(lows) - length(replace(lows,
                    substr('0123456789ABCDEF', CAST(j AS INT) + 1, 1), '')) AS REAL)
                  / CAST(greatest(n, 1) AS REAL)
                AS DOUBLE) * 1000000 + 0.5) AS BIGINT)), ',') AS features_sig
            FROM b ORDER BY doc_id"""))

  // "Resize" in the byte domain: deterministic stride resampling of the
  // payload to a fixed 256-byte thumbnail (stub for image resize — swap the
  // stride sampler for a codec resize; schema and zero-shuffle partition
  // shape are the contract). Oracle-checkable because the stride arithmetic
  // is plain integer math on hex characters in both engines.
  private val mmResize = Op(
    "mm_resize",
    (s, d) => payloads(s, d)
      .withColumn("n", octet_length(col("payload")))
      .where(col("n") >= 256)
      // integer division (div / //) on BOTH sides: DuckDB's float→int CAST
      // rounds half-up while Spark's truncates
      .withColumn("thumb", expr(
        """transform(sequence(0, 255),
          |  i -> substring(payload, CAST((i * n) div 256 AS INT) + 1, 1))""".stripMargin))
      .select(col("doc_id"), col("n").as("orig_bytes"),
        md5(expr("upper(concat_ws('', transform(thumb, b -> hex(b))))"))
          .as("thumb_sig"))
      .orderBy("doc_id"),
    Some("""WITH f AS (
              SELECT doc_id, hex(encode(text)) AS h,
                     octet_length(encode(text)) AS n
              FROM documents WHERE octet_length(encode(text)) >= 256)
            SELECT doc_id, n AS orig_bytes,
              md5(upper(array_to_string(list_transform(range(0, 256),
                i -> substr(h, CAST((i * n) // 256 AS INT) * 2 + 1, 2)), '')))
                AS thumb_sig
            FROM f ORDER BY doc_id"""))

  // Audio-style windowing: fixed 64-byte windows at stride 32 (50% overlap —
  // the shape every STFT/energy-profile stage uses) over the opaque payload,
  // with per-window energy stats (sum + peak of the unsigned byte values).
  // The hot loop is the native codegen'd ByteWindows expression (one
  // primitive pass per row, called from the compiled projection); the
  // DuckDB oracle independently replays the math over the hex spelling with
  // instr arithmetic (the mm_resize trick). One explode, no shuffle except
  // the presentation sort.
  private val mmAudioWindow = Op(
    "mm_audio_window",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      payloads(s, d)
        .where(octet_length(col("payload")) >= 64)
        .select(col("doc_id"),
          explode(expr("graft_byte_windows(payload, 64, 32)")).as("wn"))
        .select(col("doc_id"), col("wn.win_id"), col("wn.win_sum"), col("wn.win_max"))
        .orderBy("doc_id", "win_id")
    },
    Some("""WITH f AS (
              SELECT doc_id, hex(encode(text)) AS h,
                     octet_length(encode(text)) AS n
              FROM documents WHERE octet_length(encode(text)) >= 64),
            v AS (
              SELECT doc_id, n,
                     list_transform(range(1, CAST(n AS BIGINT) + 1),
                       i -> CAST(instr('0123456789ABCDEF', substr(h, CAST(i*2 - 1 AS INT), 1)) - 1 AS BIGINT) * 16 +
                            CAST(instr('0123456789ABCDEF', substr(h, CAST(i*2 AS INT), 1)) - 1 AS BIGINT)) AS vals
              FROM f),
            w AS (
              SELECT doc_id, unnest(range(0, (n - 64) // 32 + 1)) AS win_id, vals
              FROM v)
            SELECT doc_id, CAST(win_id AS BIGINT) AS win_id,
                   CAST(list_sum(vals[CAST(win_id*32 + 1 AS INT) : CAST(win_id*32 + 64 AS INT)]) AS BIGINT) AS win_sum,
                   CAST(list_max(vals[CAST(win_id*32 + 1 AS INT) : CAST(win_id*32 + 64 AS INT)]) AS BIGINT) AS win_max
            FROM w ORDER BY doc_id, win_id"""))

  // The blob ingestion path: Spark's `binaryFile` source reads raw files as
  // (path, modificationTime, length, content) — how image/audio/video lands
  // in the binary column model in the first place (one task per file, no
  // parsing, predicate pushdown on path/length). The op materializes a
  // deterministic landing dir from the region table, reads it back through
  // binaryFile, and projects filename + md5(content) + length; the oracle
  // recomputes all three from the source rows, so the roundtrip through
  // raw files is hash-checked.
  private val scanBinaryFiles = Op(
    "scan_binary_files",
    (s, d) => {
      val dir = java.nio.file.Paths.get(graft.TempDirs.tmp("graft_bin_"))
      t(s, d, "region").select(col("r_regionkey"), col("r_name"))
        .collect() // 5 rows: fixture construction, not a data-path collect
        .foreach { r =>
          java.nio.file.Files.write(
            dir.resolve(s"r_${r.getInt(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      s.read.format("binaryFile").load(dir.toString)
        .select(
          regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("file_id"),
          md5(col("content")).as("content_md5"),
          col("length"))
        .orderBy("file_id")
    },
    Some("""SELECT 'r_' || r_regionkey AS file_id, md5(r_name) AS content_md5,
                   CAST(strlen(r_name) AS BIGINT) AS length
            FROM region ORDER BY file_id"""))

  /** Banded near-dup pairs over the 64-bit block-mean perceptual hash
    * ([[graft.functions.BlockMeanHash]]): 4×16-bit band buckets generate
    * candidates (only payloads agreeing on SOME band ever meet — an
    * equi-join, never all-pairs), a per-bucket frequency cap (256) guards
    * against degenerate buckets exactly like the simhash path, and the
    * Hamming predicate rides INSIDE the join condition. Any pair with
    * Hamming ≤ 3 is guaranteed to share a band (pigeonhole); up to the
    * emitted threshold 12 is best-effort — the standard banded-LSH recall
    * tradeoff, test-asserted in MultimodalSpec. */
  private[graft] def phashPairsFrom(payloadDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftExtensions.register(payloadDf.sparkSession)
    val h = payloadDf
      .select(col("doc_id"), expr("graft_block_mean_hash(payload)").as("ph"))
    val bands = h
      .select(col("doc_id"), col("ph"), explode(expr(
        """transform(array(0, 1, 2, 3),
          |  c -> named_struct('band', c,
          |                    'chunk', shiftright(ph, 16 * c) & 65535L))"""
          .stripMargin)).as("bc"))
      .select(col("doc_id"), col("ph"), col("bc.band"), col("bc.chunk"))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "chunk")))
      .where(col("bn") <= 256)
      .drop("bn")
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id") &&
          expr("bit_count(a.ph ^ b.ph)") <= 12)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.ph ^ b.ph)").as("hamming"))
      .distinct()
  }

  // Perceptual-hash near-dup detection for the multimodal column model: the
  // image-dedup analog of dedup_simhash (visually-near-identical payloads →
  // low-Hamming block-mean hashes → banded candidate join). Declared
  // test-only like the other seeded-hash dedup keys: the hash depends on
  // engine-side byte layout, so correctness is pinned by MultimodalSpec's
  // planted near-duplicates rather than a SQL oracle.
  private val mmDedupPhash = Op(
    "mm_dedup_phash",
    (s, d) => phashPairsFrom(payloads(s, d)).orderBy("doc_a", "doc_b"),
    None)

  // ORACLE-CHECKED phash twin — the SAME Spark pipeline as mm_dedup_phash
  // (native BlockMeanHash expression + banded candidate join), but with a
  // DuckDB oracle that replays the block-mean hash in hex arithmetic
  // (payload bytes from hex(encode(text)) two chars at a time, the 64
  // span sums and the cross-multiplied mean comparison as list HOFs, the
  // 4×16-bit chunks assembled bit by bit) — an INDEPENDENT second
  // implementation that pins the native Catalyst expression end to end,
  // the way mm_audio_window's oracle replays its windows. The only reason
  // the production key was test-only was engine-side byte layout; UTF-8
  // encoding is identical in both engines, so the hashes match exactly.
  private val mmDedupPhashHex = Op(
    "mm_dedup_phash_hex",
    (s, d) => phashPairsFrom(payloads(s, d)).orderBy("doc_a", "doc_b"),
    Some("""WITH p AS (
              SELECT doc_id, hex(encode(text)) AS h,
                     octet_length(encode(text)) AS n
              FROM documents),
            b AS (
              SELECT doc_id, n,
                     list_transform(range(0, n),
                       i -> CAST(('0x' || substr(h, 2*i + 1, 2)) AS INT))
                       AS bytes
              FROM p),
            t AS (SELECT doc_id, n, bytes,
                         CAST(list_sum(bytes) AS BIGINT) AS total
                  FROM b),
            bits AS (
              SELECT doc_id,
                     list_transform(range(0, 64), blk ->
                       CASE WHEN CAST(COALESCE(list_sum(
                                   bytes[(blk*n)//64 + 1 : ((blk+1)*n)//64]),
                                 0) AS BIGINT) * n
                                 > total * (((blk+1)*n)//64 - (blk*n)//64)
                            THEN 1 ELSE 0 END) AS bv
              FROM t),
            sig AS (
              SELECT doc_id,
                     list_transform(range(0, 4), j ->
                       CAST(list_sum(list_transform(range(0, 16),
                         k -> bv[16*j + k + 1] * (1 << k))) AS BIGINT)) AS cs
              FROM bits),
            bands AS (
              SELECT doc_id, j, cs[j + 1] AS chunk
              FROM sig CROSS JOIN (SELECT unnest(range(4)) AS j)),
            cold AS (SELECT j, chunk FROM bands
                     GROUP BY j, chunk HAVING COUNT(*) <= 256),
            cap AS (SELECT b.doc_id, b.j, b.chunk
                    FROM bands b JOIN cold ON b.j = cold.j
                                          AND b.chunk = cold.chunk),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
                     FROM cap a JOIN cap c
                       ON a.j = c.j AND a.chunk = c.chunk
                      AND a.doc_id < c.doc_id),
            hd AS (SELECT doc_a, doc_b,
                          CAST(bit_count(xor(x.cs[1], y.cs[1]))
                             + bit_count(xor(x.cs[2], y.cs[2]))
                             + bit_count(xor(x.cs[3], y.cs[3]))
                             + bit_count(xor(x.cs[4], y.cs[4])) AS INT)
                            AS hamming
                   FROM cand JOIN sig x ON x.doc_id = doc_a
                             JOIN sig y ON y.doc_id = doc_b)
            SELECT doc_a, doc_b, hamming FROM hd
            WHERE hamming <= 12 ORDER BY doc_a, doc_b"""))

  // Scene-change detection over the frame stream (stub for a video shot
  // detector): per-frame "intensity" is an md5-derived integer (the stand-in
  // for a decoded luminance histogram — a codec swap touches ONLY that
  // expression), and a scene boundary is an intensity jump > 20000 between
  // consecutive frames. The whole per-video computation — frame slicing,
  // feature extraction, the consecutive-frame delta, and the boundary count
  // — runs inside array HOFs in ONE map-side pass: no explode, no window,
  // no shuffle, so 100 TB of video streams through scan-shaped tasks.
  private val mmVideoScene = Op(
    "mm_video_scene",
    (s, d) => payloads(s, d)
      .withColumn("n_frames", ceil(octet_length(col("payload")) / lit(64.0)).cast("int"))
      .withColumn("ints", expr(
        """transform(sequence(0, n_frames - 1), i ->
          |  conv(substr(md5(upper(hex(substring(payload, i * 64 + 1, 64)))), 1, 4),
          |       16, 10))""".stripMargin))
      .select(col("doc_id"), col("n_frames"),
        // the n_frames < 2 guard matters: Spark's sequence(1, 0) counts
        // DOWN ([1, 0]), which would index past a 1-frame intensity array
        expr(
          """1 + IF(n_frames < 2, 0, size(filter(sequence(1, n_frames - 1),
            |  i -> abs(CAST(ints[i] AS BIGINT) - CAST(ints[i-1] AS BIGINT)) > 20000)))"""
            .stripMargin).as("n_scenes"))
      .orderBy("doc_id"),
    Some("""WITH f AS (
              SELECT doc_id, hex(encode(text)) AS h,
                     CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
              FROM documents),
            ints AS (
              SELECT doc_id, n_frames,
                     list_transform(range(0, n_frames), i ->
                       CAST(('0x' || substr(md5(upper(substr(h, i * 128 + 1, 128))), 1, 4))
                            AS BIGINT)) AS v
              FROM f)
            SELECT doc_id, n_frames,
                   CAST(len(list_filter(range(1, n_frames),
                     i -> abs(v[i + 1] - v[i]) > 20000)) + 1 AS INT) AS n_scenes
            FROM ints ORDER BY doc_id"""))

  val ops: Seq[Op] = Seq(mmMeta, mmFrameSample, mmFeatureExtract, mmResize,
    mmAudioWindow, scanBinaryFiles, mmDedupPhash, mmDedupPhashHex,
    mmVideoScene)
}
