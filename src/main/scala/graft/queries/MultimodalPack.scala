package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.MediaOps

/** Multimodal-column operators (SURVEY.md §2.9, driver mandate): binary
  * payloads + typed metadata, frame sampling, batch feature extraction,
  * real codec round trips. The corpus has no real media files, so document
  * text bytes stand in as the payload (byte ops are reproduced in the
  * DuckDB oracle from the hex dump, exact for any encoding); the codecs
  * are REAL — WAV/PCM pack/parse (m8/m9) and genuine PNG encode/decode +
  * perceptual hash via the JDK's javax.imageio (m14/m15) — with
  * [[graft.ops.MediaOps.decodeStub]] remaining only as the deterministic
  * fake inside the m3/m4 batch-shape tests.
  */
object MultimodalPack extends QueryPack {

  /** m12/m13's per-frame byte sums over the ≥32-byte payloads (FrameSums
    * custom expression, one compiled pass) and consecutive-frame absolute
    * `deltas`, beside `keep`.
    */
  private def frameDeltas(s: SparkSession, d: String, keep: Column): DataFrame = {
    import graft.functions.MediaExpressions.frameSums
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .filter(length(col("payload")) >= 32)
      .select(col("doc_id"), frameSums(col("payload"), 16).as("fs"))
      .select(col("doc_id"), keep,
        zip_with(
          slice(col("fs"), lit(2), size(col("fs")) - 1),
          slice(col("fs"), lit(1), size(col("fs")) - 1),
          (a, b) => abs(a - b)).as("deltas"))
  }

  /** DuckDB twin of [[frameDeltas]]'s frame sums from the payload's hex
    * dump: CTEs `b` and `f(doc_id, nf, fs)`.
    */
  private val frameSumsSql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS h,
      |    octet_length(encode(text)) AS nb
      |  FROM documents
      |  WHERE octet_length(encode(text)) >= 32),
      |f AS (
      |  SELECT doc_id, (nb + 15) // 16 AS nf,
      |    list_transform(generate_series(1, (nb + 15) // 16),
      |      k -> list_sum(list_transform(
      |        generate_series((k-1)*16 + 1, least(k*16, nb)),
      |        j -> CAST(('0x' || substring(h, 2*j-1, 2)) AS INT)))) AS fs
      |  FROM b)""".stripMargin

  /** m14/m16's output: the decoded image-stats struct `st` flattened beside
    * doc_id and the `extra` columns.
    */
  private def decodedPlaneStats(df: DataFrame, extra: String*): DataFrame =
    df.select((col("doc_id") +: extra.map(col)) ++
        Seq("width_px", "height_px", "n_pixels", "pixel_sum", "pixel_max", "pixel_min")
          .map(f => col(s"st.$f").as(f)): _*)
      .orderBy(col("doc_id"))

  /** DuckDB twin of [[decodedPlaneStats]]: the 16-px-wide gray plane's stats
    * recomputed from the source bytes' hex dump (byte-exact for non-ASCII,
    * zero-padded last row); `extra` is spliced in after `SELECT doc_id,`.
    */
  private def grayPlaneStatsSql(extra: String): String =
    s"""WITH b AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |    octet_length(encode(text)) AS nb
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, nb,
       |    CASE WHEN nb = 0 THEN 1 ELSE (nb + 15) // 16 END AS hh,
       |    list_transform(generate_series(1, nb),
       |      k -> CAST(('0x' || substring(h, 2*k-1, 2)) AS INT)) AS bs
       |  FROM b)
       |SELECT doc_id,$extra
       |  CAST(16 AS BIGINT) AS width_px,
       |  CAST(hh AS BIGINT) AS height_px,
       |  CAST(16 * hh AS BIGINT) AS n_pixels,
       |  CAST(coalesce(list_sum(bs), 0) AS BIGINT) AS pixel_sum,
       |  CAST(coalesce(list_max(bs), 0) AS BIGINT) AS pixel_max,
       |  CAST(CASE WHEN 16 * hh > nb THEN 0 ELSE list_min(bs) END AS BIGINT) AS pixel_min
       |FROM v
       |ORDER BY doc_id""".stripMargin

  override def queries: Seq[Q] = Seq(
    // ---------------------------------------------------------------- pack
    Q(
      "m1_binary_metadata",
      (s, d) => {
        val packed = MediaOps.packMedia(Tables.documents(s, d), col("text"), "text/plain")
        packed.select(
          col("doc_id"),
          col("media_meta.mime").as("mime"),
          col("media_meta.size_bytes").as("size_bytes"),
          col("media_meta.width_px").as("width_px"),
          col("media_meta.height_px").as("height_px"),
          hex(substring(col("media_bytes"), 1, 8)).as("head_hex"),
          ((length(col("media_bytes")) + 63) / 64).cast("int").as("n_frames")
        ).orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, 'text/plain' AS mime,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
             |  CAST(16 + octet_length(encode(text)) % 64 AS BIGINT) AS width_px,
             |  CAST(16 + (octet_length(encode(text)) // 64) % 64 AS BIGINT) AS height_px,
             |  hex(encode(substring(text, 1, 8))) AS head_hex,
             |  CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT) AS n_frames
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      doc = "binary payload column + typed media metadata struct (BinaryType plumbing)"
    ),
    // ---------------------------------------------------------------- frames
    Q(
      "m2_frame_sample",
      (s, d) => {
        val packed = MediaOps.packMedia(Tables.documents(s, d), col("text"), "video/fake")
        val frames = MediaOps.sampleFrames(col("media_bytes"), 4, 64, 3)
        packed
          .filter(length(col("media_bytes")) >= 132)
          .select(
            col("doc_id"),
            hex(frames.getItem(0)).as("f0"),
            hex(frames.getItem(1)).as("f1"),
            hex(frames.getItem(2)).as("f2")
          )
          .orderBy(col("doc_id"))
      },
      // frame windows are BYTE offsets into the UTF-8 payload, so the oracle
      // slices the hex dump (2 hex chars per byte) rather than character-
      // indexed substring(text, ...) — correct for non-ASCII documents too
      Some("""SELECT doc_id,
             |  substring(hex(encode(text)), 1, 8) AS f0,
             |  substring(hex(encode(text)), 129, 8) AS f1,
             |  substring(hex(encode(text)), 257, 8) AS f2
             |FROM documents
             |WHERE octet_length(encode(text)) >= 132
             |ORDER BY doc_id""".stripMargin),
      doc = "frame sampling: every 64th byte window as pure substring expressions " +
        "(the video frame-sample shape, stub-decoded)"
    ),
    // ---------------------------------------------------------------- featurize
    Q(
      "m3_batch_featurize",
      (s, d) => {
        val packed = MediaOps.packMedia(Tables.documents(s, d), col("text"), "image/fake")
        MediaOps.featurize(packed.select(col("doc_id"), col("media_bytes")), "doc_id")
          .orderBy(col("doc_id"))
      },
      // byte_sum is the sum of UNSIGNED UTF-8 bytes (Spark side: b & 0xff),
      // so the oracle decodes each byte from the hex dump instead of using
      // per-character ascii() codes — correct for non-ASCII documents too
      Some("""WITH b AS (
             |  SELECT doc_id, hex(encode(text)) AS h,
             |    octet_length(encode(text)) AS nb
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(16 + nb % 64 AS BIGINT) AS width_px,
             |  CAST(16 + (nb // 64) % 64 AS BIGINT) AS height_px,
             |  CAST(COALESCE(list_aggregate(list_transform(
             |    generate_series(1, nb),
             |    j -> CAST(('0x' || substring(h, 2*j-1, 2)) AS INT)), 'sum'), 0) AS BIGINT) AS byte_sum
             |FROM b
             |ORDER BY doc_id""".stripMargin),
      doc = "mapPartitions batch featurize (codec-per-partition shape) with stub decode; " +
        "byte histogram sum checked against per-char oracle"
    ),
    // ---------------------------------------------------------------- resize
    Q(
      "m4_resize",
      (s, d) => {
        val packed = MediaOps.packMedia(Tables.documents(s, d), col("text"), "image/fake")
        MediaOps.resize(packed.select(col("doc_id"), col("media_bytes")), "doc_id", stride = 4)
          .orderBy(col("doc_id"))
      },
      // decimation keeps every 4th BYTE of the UTF-8 payload; the oracle
      // walks byte indices over the hex dump (unsigned byte values), not
      // character indices — correct for non-ASCII documents too
      Some("""WITH b AS (
             |  SELECT doc_id, hex(encode(text)) AS h,
             |    octet_length(encode(text)) AS nb
             |  FROM documents)
             |SELECT doc_id,
             |  CAST((nb + 3) // 4 AS BIGINT) AS resized_bytes_len,
             |  CAST(16 + ((nb + 3) // 4) % 64 AS BIGINT) AS width_px,
             |  CAST(16 + (((nb + 3) // 4) // 64) % 64 AS BIGINT) AS height_px,
             |  CAST(COALESCE(list_aggregate(list_transform(
             |    generate_series(1, nb, 4),
             |    j -> CAST(('0x' || substring(h, 2*j-1, 2)) AS INT)), 'sum'), 0) AS BIGINT) AS byte_sum
             |FROM b
             |ORDER BY doc_id""".stripMargin),
      doc = "media resize in the same codec-per-partition mapPartitions shape: stub " +
        "decimation stands in for decode-scale-reencode; the NEW payload's metadata " +
        "(length, stub dimensions, byte sum) is oracle-checked per byte"
    ),
    // ---------------------------------------------------------------- budget
    Q(
      "m5_modality_budget",
      (s, d) => {
        // storage-budget accounting per modality — the planning aggregate a
        // mixed-media corpus runs before sharding (counts, bytes, size
        // distribution), entirely over the metadata struct: the payload
        // column is never touched, so the parquet scan prunes it away
        val packed = MediaOps.packMedia(Tables.documents(s, d), col("text"), "text/plain")
        packed
          .select(
            when(col("doc_id") % 3 === 0, "image")
              .when(col("doc_id") % 3 === 1, "audio")
              .otherwise("video").as("modality"),
            col("media_meta.size_bytes").as("size_bytes")
          )
          .groupBy(col("modality"))
          .agg(
            count(lit(1)).as("n_assets"),
            sum(col("size_bytes")).as("total_bytes"),
            max(col("size_bytes")).as("max_bytes"),
            expr("percentile(size_bytes, 0.5)").as("p50_bytes")
          )
          .orderBy(col("modality"))
      },
      Some("""SELECT modality, COUNT(*) AS n_assets,
             |  CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
             |  MAX(size_bytes) AS max_bytes,
             |  quantile_cont(size_bytes, 0.5) AS p50_bytes
             |FROM (
             |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
             |              WHEN doc_id % 3 = 1 THEN 'audio'
             |              ELSE 'video' END AS modality,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes
             |  FROM documents)
             |GROUP BY modality
             |ORDER BY modality""".stripMargin),
      doc = "per-modality storage budget (counts, bytes, exact median size) over the " +
        "metadata struct only — the binary payload is pruned from the scan"
    ),
    // ---------------------------------------------------------------- manifest
    Q(
      "m6_shard_manifest",
      (s, d) => {
        // shard manifest for a multimodal training export: payloads are
        // chunked per source into fixed byte-budget shards (the p10 packing
        // shape, but on bytes) and each shard gets an integrity manifest —
        // item count, total bytes, and order-free content checksums
        // (min/max of the per-item md5, not a concatenation, so the
        // aggregate never depends on intra-shard order). At scale the md5
        // runs next to the scan (no shuffle of payload bytes; only the
        // 16-byte digests and sizes reach the manifest aggregate).
        import org.apache.spark.sql.expressions.Window
        val packed = MediaOps.packMedia(Tables.documents(s, d), col("text"), "application/blob")
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        packed
          .select(col("doc_id"), col("source"),
            col("media_meta.size_bytes").as("sz"),
            md5(col("media_bytes")).as("item_md5"))
          .withColumn("cum", sum(col("sz")).over(w))
          .withColumn("shard",
            floor((col("cum") - col("sz")).cast("double") / lit(4096.0)).cast("long"))
          .groupBy(col("source"), col("shard"))
          .agg(
            count(lit(1)).as("n_items"),
            sum(col("sz")).as("total_bytes"),
            min(col("item_md5")).as("min_md5"),
            max(col("item_md5")).as("max_md5")
          )
          .orderBy(col("source"), col("shard"))
      },
      Some("""WITH it AS (
             |  SELECT doc_id, source,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS sz,
             |    md5(text) AS item_md5
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, sz, item_md5,
             |    SUM(sz) OVER (PARTITION BY source ORDER BY doc_id
             |                  ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM it)
             |SELECT source,
             |  CAST(FLOOR(CAST(cum - sz AS DOUBLE) / 4096.0) AS BIGINT) AS shard,
             |  COUNT(*) AS n_items, CAST(SUM(sz) AS BIGINT) AS total_bytes,
             |  MIN(item_md5) AS min_md5, MAX(item_md5) AS max_md5
             |FROM c GROUP BY source, shard
             |ORDER BY source, shard""".stripMargin),
      doc = "multimodal shard manifest: per-source byte-budget chunking + order-free " +
        "md5 integrity fields — the export step that makes a 100 TB media dump " +
        "verifiable shard by shard"
    ),
    // ---------------------------------------------------------------- m7 hash dedup
    Q(
      "m7_media_hash_dedup",
      (s, d) => {
        // content-addressed media dedup: digest of the HEAD FRAME (first 64
        // payload bytes — the keyframe-hash shape; a full-payload digest is
        // the same plan) groups identical media; keeper = min id. At 100 TB
        // this is the cheapest dedup there is: one map-side digest + one
        // hash shuffle of (digest, id) pairs — payloads never move.
        val packed = MediaOps.packMedia(Tables.documents(s, d), col("text"), "video/fake")
        packed
          .select(col("doc_id"), md5(substring(col("media_bytes"), 1, 64)).as("frame_digest"))
          .groupBy(col("frame_digest"))
          .agg(
            min(col("doc_id")).as("keeper_doc_id"),
            (count(lit(1)) - 1).as("n_dups")
          )
          .orderBy(col("frame_digest"))
      },
      Some("""SELECT md5(substring(text, 1, 64)) AS frame_digest,
             |  MIN(doc_id) AS keeper_doc_id, COUNT(*) - 1 AS n_dups
             |FROM documents
             |GROUP BY 1
             |ORDER BY frame_digest""".stripMargin),
      doc = "content-addressed media dedup on the head-frame digest: map-side md5 + " +
        "one hash shuffle of (digest, id) — payload bytes never shuffle"
    ),
    // ---------------------------------------------------------------- m8 wav codec
    Q(
      "m8_wav_header_roundtrip",
      (s, d) => {
        // the REAL codec path (no stub): build a byte-exact 44-byte PCM
        // RIFF/WAVE header in front of each document's bytes (WavPack),
        // then parse the binary back (WavMeta) — both custom expressions,
        // pure byte arithmetic, zero external libs. The oracle recomputes
        // every decoded field from the SOURCE columns, so the hash match
        // proves decode(pack(x)) == x field by field. Narrow per-row ops;
        // payload bytes never shuffle.
        import graft.functions.MediaExpressions.{wavPack, wavMeta}
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            (lit(8000) + (col("doc_id") % 8) * 4000).cast("int").as("sr"),
            (lit(1) + (col("doc_id") % 2)).cast("int").as("ch"),
            encode(col("text"), "UTF-8").as("pcm"))
          .select(col("doc_id"),
            wavMeta(wavPack(col("sr"), col("ch"), lit(16), col("pcm"))).as("m"))
          .select(
            col("doc_id"),
            col("m.sample_rate").as("sample_rate"),
            col("m.channels").as("channels"),
            col("m.bits").as("bits"),
            col("m.data_size").as("data_size"),
            col("m.duration_ms").as("duration_ms"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) AS sample_rate,
             |  CAST(1 + (doc_id % 2) AS BIGINT) AS channels,
             |  CAST(16 AS BIGINT) AS bits,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS data_size,
             |  CAST(octet_length(encode(text)) AS BIGINT) * 1000
             |    // ((8000 + (doc_id % 8) * 4000) * (1 + (doc_id % 2)) * 2) AS duration_ms
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      doc = "real WAV PCM header codec round-trip: WavPack builds the RIFF bytes, " +
        "WavMeta parses them back; oracle recomputes the fields from source columns " +
        "so the hash match proves the byte-level codec inverts exactly"
    ),
    Q(
      "m9_pcm_signal_stats",
      (s, d) => {
        // decode the SAMPLES, not just the header: each document's bytes are
        // packed as a 16-bit PCM WAV in-plan (m8's codec), then PcmStats
        // parses the container and folds every little-endian signed sample
        // into per-track statistics in one compiled loop — the binary
        // data-plane op a real audio pipeline runs before any model sees the
        // waveform. Payload bytes never shuffle: the per-track stats row is
        // all that leaves the scan. The oracle recomputes the same stats
        // from the hex dump of the UTF-8 payload (byte-exact for any
        // encoding, not just ASCII), so the hash match proves the byte-level
        // sample decode — offsets, endianness, data-chunk clamp — is exact.
        import graft.functions.MediaExpressions.{pcmStats, wavPack}
        Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("pcm"))
          .select(col("doc_id"),
            pcmStats(wavPack(lit(16000), lit(1), lit(16), col("pcm"))).as("st"))
          .select(
            col("doc_id"),
            col("st.n_samples").as("n_samples"),
            col("st.peak").as("peak"),
            col("st.vmin").as("vmin"),
            col("st.sum_abs").as("sum_abs"))
          .orderBy(col("doc_id"))
      },
      Some {
        // sample k = UTF-8 bytes (2k-1, 2k) little-endian; each byte is
        // decoded from the hex dump (4 hex chars per sample), so the
        // reconstruction is byte-exact for non-ASCII documents too
        val raw = "CAST(('0x' || substring(h, 4*k-3, 2)) AS INT) " +
          "+ 256 * CAST(('0x' || substring(h, 4*k-1, 2)) AS INT)"
        s"""WITH b AS (
           |  SELECT doc_id, hex(encode(text)) AS h,
           |    octet_length(encode(text)) AS nb
           |  FROM documents),
           |v AS (
           |  SELECT doc_id, list_transform(
           |    generate_series(1, nb // 2),
           |    k -> CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END) AS vs
           |  FROM b)
           |SELECT doc_id,
           |  CAST(len(vs) AS BIGINT) AS n_samples,
           |  CAST(list_max(vs) AS BIGINT) AS peak,
           |  CAST(list_min(vs) AS BIGINT) AS vmin,
           |  CAST(list_sum(list_transform(vs, x -> abs(x))) AS BIGINT) AS sum_abs
           |FROM v
           |ORDER BY doc_id""".stripMargin
      },
      doc = "16-bit PCM sample decode + signal stats (peak / min / mean-abs " +
        "numerator) straight off the WAV binary — header-validated offsets, " +
        "little-endian signed samples, data-chunk clamp; oracle rebuilds the " +
        "sample stream byte-by-byte from the payload's hex dump"
    ),
    // ---------------------------------------------------------------- sniff
    Q(
      "m10_magic_sniff",
      (s, d) => {
        // Content sniffing / modality routing by MAGIC BYTES — the ingest
        // dispatcher for a mixed media drop (never trust the extension): a
        // mixed payload column is built in-plan (every third doc packed as
        // a RIFF/WAVE container, every third stamped with the 8-byte PNG
        // signature, the rest raw text), then the router inspects ONLY the
        // payload's leading bytes to recover the modality. The oracle
        // derives the expected route and size from the SOURCE columns, so
        // the hash match proves the byte-level sniff (prefix offsets,
        // signature values, container overheads) — same certification
        // pattern as m8/m9. Narrow per-row ops; payload bytes never shuffle
        // (only the per-mime aggregate row leaves the scan).
        import graft.functions.MediaExpressions.wavPack
        val payload = when(col("doc_id") % 3 === 0,
            wavPack(lit(16000), lit(1), lit(16), encode(col("text"), "UTF-8")))
          .when(col("doc_id") % 3 === 1,
            concat(unhex(lit("89504E470D0A1A0A")), encode(col("text"), "UTF-8")))
          .otherwise(encode(col("text"), "UTF-8"))
        val mime = when(
            hex(substring(col("payload"), 1, 4)) === "52494646" &&
              hex(substring(col("payload"), 9, 4)) === "57415645", "audio/wav")
          .when(hex(substring(col("payload"), 1, 8)) === "89504E470D0A1A0A", "image/png")
          .otherwise("text/plain")
        Tables.documents(s, d)
          .select(col("doc_id"), payload.as("payload"))
          .select(col("doc_id"), mime.as("mime"), length(col("payload")).cast("long").as("nbytes"))
          .groupBy(col("mime"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nbytes")).as("total_bytes"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(col("mime"))
      },
      Some("""WITH routed AS (
             |  SELECT doc_id,
             |    CASE CAST(doc_id % 3 AS INTEGER)
             |      WHEN 0 THEN 'audio/wav'
             |      WHEN 1 THEN 'image/png'
             |      ELSE 'text/plain' END AS mime,
             |    CASE CAST(doc_id % 3 AS INTEGER)
             |      WHEN 0 THEN 44 + octet_length(encode(text))
             |      WHEN 1 THEN 8 + octet_length(encode(text))
             |      ELSE octet_length(encode(text)) END AS nbytes
             |  FROM documents)
             |SELECT mime, COUNT(*) AS n_docs,
             |  CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
             |  MIN(doc_id) AS first_doc
             |FROM routed
             |GROUP BY mime
             |ORDER BY mime""".stripMargin),
      doc = "magic-byte content sniffing (RIFF/WAVE, PNG signature, printable " +
        "fallback) over an in-plan mixed-modality payload column — the oracle's " +
        "source-derived routes certify the byte-level dispatch; per-mime " +
        "aggregate only, payloads never shuffle"
    ),
    // ---------------------------------------------------------------- audio fp
    Q(
      "m11_audio_fingerprint",
      (s, d) => {
        // Audio near-dup via a coarse energy-envelope fingerprint: each
        // track's 16-bit PCM sample stream (m8's in-plan WAV codec) splits
        // into 8 contiguous windows and bit k records whether window k's
        // mean |sample| beats the track mean — the PcmFingerprint custom
        // expression, pure integer math (cross-multiplied comparison, no
        // division). Tracks then bucket by fingerprint — the audio analog
        // of d1's exact-key dedup, robust to uniform gain changes the m7
        // content-hash key would miss. One scan + one 256-bucket-bounded
        // aggregate; payload bytes never shuffle, only the 8-bit key does.
        // The oracle recomputes every window sum from the hex dump of the
        // UTF-8 payload, certifying the byte-level envelope exactly.
        import graft.functions.MediaExpressions.{pcmFingerprint, wavPack}
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            pcmFingerprint(
              wavPack(lit(16000), lit(1), lit(16), encode(col("text"), "UTF-8")), 8).as("fp"))
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("n_tracks"), min(col("doc_id")).as("keeper_doc_id"))
          .orderBy(col("fp"))
      },
      Some {
        // same hex-dump byte decode as m9 — non-ASCII-safe sample stream
        val raw = "CAST(('0x' || substring(h, 4*k-3, 2)) AS INT) " +
          "+ 256 * CAST(('0x' || substring(h, 4*k-1, 2)) AS INT)"
        val bits = (0 until 8).map { k =>
          val lo = s"(($k * n) // 8)"
          val hi = s"((${k + 1} * n) // 8)"
          s"CASE WHEN COALESCE(list_sum(list_transform(vs[$lo + 1:$hi], x -> abs(x))), 0) * n > total * ($hi - $lo) THEN ${1L << k} ELSE 0 END"
        }.mkString(" + ")
        s"""WITH b AS (
           |  SELECT doc_id, hex(encode(text)) AS h,
           |    octet_length(encode(text)) AS nb
           |  FROM documents),
           |v AS (
           |  SELECT doc_id, list_transform(
           |    generate_series(1, nb // 2),
           |    k -> CASE WHEN $raw >= 32768 THEN $raw - 65536 ELSE $raw END) AS vs
           |  FROM b),
           |w AS (
           |  SELECT doc_id, vs, len(vs) AS n,
           |    COALESCE(list_sum(list_transform(vs, x -> abs(x))), 0) AS total
           |  FROM v),
           |f AS (SELECT doc_id, CAST($bits AS BIGINT) AS fp FROM w)
           |SELECT fp, COUNT(*) AS n_tracks, MIN(doc_id) AS keeper_doc_id
           |FROM f
           |GROUP BY fp
           |ORDER BY fp""".stripMargin
      },
      doc = "audio near-dup by energy-envelope fingerprint: 8 mean-|sample| windows " +
        "binarized vs track mean (integer cross-multiplied, PcmFingerprint expr) " +
        "-> 8-bit bucket key; gain-robust where m7's content hash is byte-exact"
    ),
    // ---------------------------------------------------------------- m12
    Q(
      "m12_scene_segments",
      (s, d) => {
        // Scene-change detection over a frame stream — the keyframe-
        // selection primitive of a video ingest pipeline: per-frame
        // unsigned-byte sums (FrameSums custom expression, one compiled
        // pass over the payload) feed consecutive-frame absolute deltas,
        // and a delta above threshold opens a new scene. Everything after
        // the byte pass is integer HOF arithmetic INSIDE the row — no
        // explode, no shuffle, payload bytes never leave the scan; only
        // (doc_id, 3 longs) survives. Oracle recomputes every frame sum
        // from the payload's hex dump, certifying window boundaries and
        // the short last frame byte-exactly.
        frameDeltas(s, d, size(col("fs")).cast("long").as("n_frames"))
          .select(
            col("doc_id"), col("n_frames"),
            (lit(1L) + size(filter(col("deltas"), x => x > 64L)).cast("long")).as("n_scenes"),
            array_max(col("deltas")).as("max_delta"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$frameSumsSql,
             |dl AS (
             |  SELECT doc_id, nf, list_transform(generate_series(2, nf),
             |    k -> abs(fs[k] - fs[k-1])) AS deltas
             |  FROM f)
             |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
             |  CAST(1 + len(list_filter(deltas, x -> x > 64)) AS BIGINT) AS n_scenes,
             |  CAST(list_max(deltas) AS BIGINT) AS max_delta
             |FROM dl
             |ORDER BY doc_id""".stripMargin),
      doc = "scene-change segmentation over the frame stream: per-frame byte sums " +
        "(FrameSums expr, one payload pass) -> consecutive deltas -> threshold " +
        "opens a scene; all integer in-row HOF math, payloads never shuffle"
    ),
    // ---------------------------------------------------------------- m13
    Q(
      "m13_keyframe_pick",
      (s, d) => {
        // Keyframe selection — the step after m12's segmentation: within
        // each scene, pick the representative frame (max byte-sum "luma",
        // ties to the earliest frame). Frame sums and per-frame scene ids
        // are computed IN-ROW from the payload (FrameSums once, then HOF
        // prefix counts over the delta array); only (doc_id, idx, sum,
        // scene) longs explode into the argmax aggregate — the payload
        // bytes never leave the scan, and the shuffle carries #frames rows
        // of 4 longs, not media bytes. Argmax is the deterministic
        // min(struct(-sum, idx)) trick, no window over the whole corpus.
        val frames = frameDeltas(s, d, col("fs")).select(
          col("doc_id"),
          explode(expr(
            "transform(fs, (v, i) -> named_struct(" +
              "'idx', CAST(i + 1 AS BIGINT), 'fsum', v, " +
              "'scene', CAST(1 + size(filter(slice(deltas, 1, i), x -> x > 64)) AS BIGINT)))"))
            .as("f"))
        frames
          .groupBy(col("doc_id"), col("f.scene").as("scene_id"))
          .agg(
            count(lit(1)).as("n_frames"),
            min(struct((-col("f.fsum")).as("ns"), col("f.idx").as("i"))).as("m"))
          .select(col("doc_id"), col("scene_id"),
            col("m.i").as("key_frame"), (-col("m.ns")).as("key_sum"), col("n_frames"))
          .orderBy(col("doc_id"), col("scene_id"))
      },
      Some(s"""$frameSumsSql,
             |f2 AS (
             |  SELECT doc_id, nf, fs,
             |    list_transform(generate_series(2, nf), k -> abs(fs[k] - fs[k-1])) AS deltas
             |  FROM f),
             |fr AS (
             |  SELECT doc_id,
             |    unnest(generate_series(1, nf)) AS idx,
             |    unnest(fs) AS fsum,
             |    unnest(list_transform(generate_series(1, nf),
             |      k -> 1 + len(list_filter(deltas[1:k-1], x -> x > 64)))) AS scene
             |  FROM f2),
             |ag AS (
             |  SELECT doc_id, scene AS scene_id, COUNT(*) AS n_frames FROM fr GROUP BY 1, 2),
             |km AS (
             |  SELECT doc_id, scene_id, idx AS key_frame, fsum AS key_sum FROM (
             |    SELECT doc_id, scene AS scene_id, idx, fsum,
             |      ROW_NUMBER() OVER (PARTITION BY doc_id, scene ORDER BY fsum DESC, idx) AS rn
             |    FROM fr) t WHERE rn = 1)
             |SELECT ag.doc_id, CAST(ag.scene_id AS BIGINT) AS scene_id,
             |  CAST(km.key_frame AS BIGINT) AS key_frame,
             |  CAST(km.key_sum AS BIGINT) AS key_sum,
             |  CAST(ag.n_frames AS BIGINT) AS n_frames
             |FROM ag JOIN km ON ag.doc_id = km.doc_id AND ag.scene_id = km.scene_id
             |ORDER BY ag.doc_id, ag.scene_id""".stripMargin),
      doc = "per-scene keyframe selection: frame sums + scene ids computed in-row " +
        "from the payload, argmax-luma per variable-length scene via the " +
        "min(struct(-sum, idx)) trick — media bytes never shuffle, only 4 longs " +
        "per frame do"
    ),
    // ---------------------------------------------------------------- m14
    Q(
      "m14_png_decode",
      (s, d) => {
        // REAL image decode, end to end in-plan — no stub anywhere on this
        // path: each document's UTF-8 bytes render as the pixel plane of a
        // genuine 8-bit grayscale PNG through the JDK's own javax.imageio
        // encoder (real deflate + scanline filters), then PngStats runs the
        // real PNG DECODER and folds width/height/pixel statistics in one
        // pass. The oracle recomputes every decoded field from the source
        // bytes' hex dump (byte-exact for non-ASCII), so the hash match
        // certifies the whole codec loop: encode -> container bytes ->
        // decode -> pixels identical to the source plane, including the
        // zero-padded last row. Narrow per-row ops; PNG payloads never
        // shuffle — only the 6-field stats row leaves the scan. At 100 TB
        // this is the decode shape an image corpus runs: bytes stay
        // columnar, one decoder pass per row, stats/features out.
        import graft.functions.MediaExpressions.{pngEncodeGray, pngStats}
        decodedPlaneStats(Tables.documents(s, d)
          .select(col("doc_id"),
            pngStats(pngEncodeGray(encode(col("text"), "UTF-8"), 16)).as("st")))
      },
      Some(grayPlaneStatsSql("")),
      doc = "real PNG codec round trip via the JDK's javax.imageio: encode the " +
        "document bytes as a genuine grayscale PNG in-plan, decode it with the " +
        "real PNG decoder, emit dimension + pixel stats; the oracle recomputes " +
        "them from the source hex dump, certifying the decode byte-for-byte"
    ),
    // ---------------------------------------------------------------- m15
    Q(
      "m15_image_ahash_dedup",
      (s, d) => {
        // IMAGE NEAR-DUP via perceptual hash over REAL decoded pixels: each
        // document renders as a genuine PNG (m14's codec), the real decoder
        // feeds an 8x8 average-hash (block means binarized against the
        // global mean, cross-multiplied integer compare — engine-exact),
        // and near-dup groups are one hash-keyed aggregate. The oracle
        // recomputes every hash from the source bytes' hex dump with the
        // identical block-assignment arithmetic, so the hash match
        // certifies decode + downsample + binarize end to end. At 100 TB
        // this is the image-dedup shape: one decoder pass per payload
        // inside the scan, 8 bytes per image to the shuffle, groupBy on
        // the hash — payloads never move.
        import graft.functions.MediaExpressions.{pngAHash, pngEncodeGray}
        val hashes = Tables.documents(s, d)
          .select(col("doc_id"),
            pngAHash(pngEncodeGray(encode(col("text"), "UTF-8"), 16)).as("ahash"))
        val groups = hashes.groupBy(col("ahash"))
          .agg(count(lit(1)).as("n_same"), min(col("doc_id")).as("group_rep"))
        hashes.join(groups, Seq("ahash"))
          .select(col("doc_id"), col("ahash"), col("n_same"), col("group_rep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH v AS (
             |  SELECT doc_id, hex(encode(text)) AS h,
             |    octet_length(encode(text)) AS nb,
             |    CASE WHEN octet_length(encode(text)) = 0 THEN 1
             |         ELSE (octet_length(encode(text)) + 15) // 16 END AS hh
             |  FROM documents),
             |pxr AS (
             |  SELECT doc_id, hh, nb, h,
             |    unnest(generate_series(0, 16 * hh - 1)) AS k
             |  FROM v),
             |pv AS (
             |  SELECT doc_id,
             |    ((8 * (k // 16)) // hh) * 8 + (k % 16) // 2 AS blk,
             |    CASE WHEN k < nb
             |         THEN CAST(('0x' || substring(h, 2 * k + 1, 2)) AS INT)
             |         ELSE 0 END AS val
             |  FROM pxr),
             |bsum AS (
             |  SELECT doc_id, blk, CAST(SUM(val) AS BIGINT) AS s,
             |    COUNT(*) AS a
             |  FROM pv GROUP BY doc_id, blk),
             |tot AS (
             |  SELECT doc_id, CAST(SUM(val) AS BIGINT) AS tot, COUNT(*) AS area
             |  FROM pv GROUP BY doc_id),
             |hashes AS (
             |  SELECT b.doc_id,
             |    CAST(SUM(CASE WHEN b.s * t.area > t.tot * b.a
             |      THEN CASE WHEN b.blk = 63
             |           THEN CAST(-9223372036854775808 AS BIGINT)
             |           ELSE (CAST(1 AS BIGINT) << b.blk) END
             |      ELSE 0 END) AS BIGINT) AS ahash
             |  FROM bsum b JOIN tot t USING (doc_id)
             |  GROUP BY b.doc_id),
             |groups AS (
             |  SELECT ahash, COUNT(*) AS n_same, MIN(doc_id) AS group_rep
             |  FROM hashes GROUP BY ahash)
             |SELECT h.doc_id, h.ahash, g.n_same, g.group_rep
             |FROM hashes h JOIN groups g USING (ahash)
             |ORDER BY h.doc_id""".stripMargin),
      doc = "perceptual image hashing for near-dup grouping: real PNG decode " +
        "feeds an integer-exact 8x8 average-hash (block means vs global mean, " +
        "cross-multiplied), every doc reports its hash + hash-group size via " +
        "one hash-keyed aggregate; oracle recomputes all 500 hashes from the " +
        "source hex dump with identical block arithmetic — payloads never " +
        "shuffle, 8 bytes per image do"
    ),
    // ---------------------------------------------------------------- m16
    Q(
      "m16_bmp_decode",
      (s, d) => {
        // SECOND REAL CODEC of the format matrix — proves the image path is
        // container-agnostic, not PNG-shaped: the same deterministic pixel
        // plane as m14 renders through the JDK's BMP encoder (uncompressed
        // palette-indexed scanlines — lossless for 8-bit gray, so unlike a
        // JPEG rung the decoded plane is byte-certifiable), and the
        // container-SNIFFING ImageStats decoder (magic dispatch: PNG / BMP
        // / GIF) runs the real BMP decode in the same pass. The oracle
        // recomputes every decoded field from the source bytes' hex dump
        // (exactly m14's arithmetic) PLUS the container length itself —
        // BMP's fixed layout (14B header + 40B info + 1024B palette +
        // 16B/row at this width) makes n_bytes = 1078 + 16*rows an
        // integer-exact cross-check that the real container, not a
        // passthrough, sat between encode and decode. Payloads never
        // shuffle; 7 longs per row leave the scan.
        import graft.functions.MediaExpressions.{bmpEncodeGray, imageStats}
        decodedPlaneStats(Tables.documents(s, d)
          .select(col("doc_id"),
            bmpEncodeGray(encode(col("text"), "UTF-8"), 16).as("bmp"))
          .select(col("doc_id"),
            length(col("bmp")).cast("long").as("n_bytes"),
            imageStats(col("bmp")).as("st")), "n_bytes")
      },
      Some(grayPlaneStatsSql("\n  CAST(1078 + 16 * hh AS BIGINT) AS n_bytes,")),
      doc = "second real image codec (BMP via the JDK encoder/decoder, " +
        "magic-sniffing container dispatch) — the format matrix proof that the " +
        "image path is container-agnostic; the oracle recomputes decoded stats " +
        "from the source hex AND the exact BMP container length (fixed " +
        "header+palette+row layout), certifying a real codec round trip"
    ),
    // ---------------------------------------------------------------- m17
    Q(
      "m17_jpeg_decode",
      (s, d) => {
        // THIRD REAL CODEC, and the format matrix's first LOSSY one: the
        // same deterministic pixel plane as m14/m16 renders through the
        // JDK's baseline-JPEG encoder at an explicit quality (8x8 DCT +
        // quantization + Huffman), and the real JPEG decoder runs in the
        // same pass, folding the decoded geometry PLUS the per-pixel
        // absolute error against the source plane. A lossy rung cannot be
        // pixel-sum-oracled (quantization noise is content-dependent), so
        // the oracle pins what IS exact — geometry from the source byte
        // count — and TOLERANCE BUCKETS on the error: max |err| <= 48 and
        // mean |err| <= 6 (integer cross-multiplied), both chosen with
        // >= 2x headroom over the measured corpus-wide worst case at
        // quality 0.95 (MediaExpressionsSpec pins the measurement; the
        // fixture corpus adds multi-byte UTF-8 planes whose 0xC3+ bytes
        // stress ringing hardest). A decode failure or geometry mismatch
        // nulls the struct -> null buckets -> hash mismatch, so the green
        // oracle certifies the full lossy loop: encode -> real container
        // bytes -> decode -> plane within tolerance of the source.
        // Payloads never shuffle; doc_id + 5 narrow fields leave the scan.
        import graft.functions.MediaExpressions.{jpegEncodeGray, jpegPlaneError}
        val payload = encode(col("text"), "UTF-8")
        Tables.documents(s, d)
          .select(col("doc_id"),
            jpegPlaneError(jpegEncodeGray(payload, 16, 0.95f), payload, 16).as("e"))
          .select(
            col("doc_id"),
            col("e.width_px").as("width_px"),
            col("e.height_px").as("height_px"),
            col("e.n_pixels").as("n_pixels"),
            (col("e.max_abs_err") <= 48L).as("max_err_in_tol"),
            (col("e.sum_abs_err") <= col("e.n_pixels") * 6L).as("mean_err_in_tol"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (
             |  SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
             |v AS (
             |  SELECT doc_id,
             |    CASE WHEN nb = 0 THEN 1 ELSE (nb + 15) // 16 END AS hh
             |  FROM b)
             |SELECT doc_id,
             |  CAST(16 AS BIGINT) AS width_px,
             |  CAST(hh AS BIGINT) AS height_px,
             |  CAST(16 * hh AS BIGINT) AS n_pixels,
             |  TRUE AS max_err_in_tol,
             |  TRUE AS mean_err_in_tol
             |FROM v
             |ORDER BY doc_id""".stripMargin),
      doc = "third real image codec and the first LOSSY rung (baseline JPEG via " +
        "the JDK encoder/decoder at explicit quality 0.95) — geometry is " +
        "oracle-exact from the source byte count; decode fidelity is certified " +
        "through tolerance buckets (max|err|<=48, mean|err|<=6) with measured " +
        ">=2x headroom, so the hash match proves a real lossy codec round trip " +
        "without pretending quantization noise is bit-stable"
    ),
    // ---------------------------------------------------------------- m18
    Q(
      "m18_phash_cross_codec",
      (s, d) => {
        // WHY perceptual hashing exists: a real image corpus stores the
        // same content under different encodings, and exact byte/pixel
        // dedup (m15's aHash on lossless PNG) must still key it together
        // after a lossy round trip. Here each document's plane is encoded
        // BOTH ways — lossless PNG and quality-0.95 JPEG — and both are
        // REALLY decoded; the 64-bit aHash (identical integer grid fold,
        // MediaExpressions.aHashOf) is computed from each decoded plane
        // and compared by Hamming distance. The oracle pins the tolerance
        // bucket hamming <= 12 (measured corpus worst case: 5 — aHash bits
        // flip only when a block mean crosses the global mean, and JPEG
        // shifts means by <= ~2 gray levels) plus the exact byte count.
        // At 100 TB this is the dedup-key contract: one aHash index spans
        // encodings, so a PNG original and its JPEG re-export land in the
        // same bucket. Payloads never shuffle; 3 narrow fields per row.
        import graft.functions.MediaExpressions.{
          imageAHash, jpegEncodeGray, pngAHash, pngEncodeGray}
        val payload = encode(col("text"), "UTF-8")
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            octet_length(payload).cast("long").as("n_bytes"),
            pngAHash(pngEncodeGray(payload, 16)).as("h_png"),
            imageAHash(jpegEncodeGray(payload, 16, 0.95f)).as("h_jpg"))
          .select(
            col("doc_id"),
            col("n_bytes"),
            (bit_count(col("h_png").bitwiseXOR(col("h_jpg"))) <= 12).as("phash_stable"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  TRUE AS phash_stable
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      doc = "cross-codec perceptual-hash stability: the SAME 64-bit aHash grid " +
        "fold over a lossless (PNG) and a lossy (JPEG q0.95) decode of each " +
        "document's plane, compared by Hamming distance — certifies that one " +
        "aHash near-dup index keys the same content together across encodings " +
        "(tolerance bucket hamming<=12, measured worst case 5; a decode failure " +
        "nulls the bucket and fails the hash compare)"
    )
  )
}
