package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing: opaque `binary` payloads with typed
  * metadata, batch-shaped decode/feature-extract stages.
  *
  * The image/audio codec libraries are not available in this environment,
  * so the decode step is a clearly-marked deterministic stub
  * ([[decodeStub]]); everything around it — the binary column, the
  * metadata struct schema, the partition-parallel map stage, the batch
  * shape — is real Spark plumbing that a real codec would drop into.
  * (Reference analog: bytea payloads + external protocols,
  * `src/backend/access/external/url_custom.c`.)
  */
object Multimodal {

  /** A typed media record: payload + metadata, as a 100 TB multimodal
    * table would store it (binary column + struct column in parquet). */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], mime: String,
                         width: Int, height: Int)

  /** Deterministic fake feature extraction over raw bytes — STUB for a
    * real image decoder (kept pure so tests are reproducible; a real
    * implementation would decode `payload` with a codec here). */
  def decodeStub(payload: Array[Byte]): Array[Double] = {
    var checksum = 0L
    var i = 0
    while (i < payload.length) { checksum = (checksum * 31 + (payload(i) & 0xff)) % 1000000007L; i += 1 }
    Array(payload.length.toDouble, checksum.toDouble,
      if (payload.isEmpty) 0.0 else (payload(0) & 0xff).toDouble)
  }

  /** Binary pipeline as a library function: text → bytes → per-partition
    * decode → feature columns. `mapPartitions` is the Spark analog of a
    * batched decode UDF: one codec init per partition, vectorized batches
    * inside. Exercised by ScalaTest (no SQL oracle — binary stage). */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRecord] = Tables.df(spark, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("mime"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"))
      .as[MediaRecord]
    media.mapPartitions { it =>
      // one "codec" per partition; rows stream through in batch shape
      it.map { r =>
        val f = decodeStub(r.payload)
        (r.doc_id, r.mime, r.width, r.height, f(0).toLong, f(1).toLong, f(2).toLong)
      }
    }.toDF("doc_id", "mime", "width", "height", "n_bytes", "byte_checksum", "first_byte")
  }

  /** aHash over the payload: 48 blocks of 5 bytes, bit b set when
    * 48·blocksum_b >= totalsum (the mean comparison in exact integer
    * arithmetic, so the oracle agrees bit-for-bit). One linear scan,
    * fully codegen'd. Exposed for ScaleSpec. */
  private[graft] def phashDf(docs: DataFrame): DataFrame = docs
    .filter(length(col("text")) >= 240)
    .withColumn("bs", expr(
      """transform(sequence(0, 47), b ->
           aggregate(sequence(b * 5 + 1, b * 5 + 5), 0L,
                     (a, i) -> a + ascii(substring(text, i, 1))))"""))
    .withColumn("tot", expr("aggregate(bs, 0L, (a, x) -> a + x)"))
    .select(col("doc_id"), expr(
      """aggregate(sequence(0, 47), 0L, (acc, b) ->
           acc + IF(bs[b] * 48 >= tot, shiftleft(1L, b), 0L))""").as("phash"))

  /** Capped candidate pairs from 3×16-bit phash bands — the d05
    * posting-list pattern: one shuffle on (band, band_key), pairs emit
    * partition-locally from the sorted list, buckets over
    * [[Dedup.BandBucketCap]] degrade to star pairs (k−1, never C(k,2)).
    * Exposed so ScaleSpec can assert the hot-cluster bound. */
  private[graft] def phashPairs(ph: DataFrame): DataFrame = {
    val cap = Dedup.BandBucketCap
    ph.select(col("doc_id"), col("phash"),
        explode(expr(
          """array(struct(0 AS band, phash % 65536 AS band_key),
                   struct(1 AS band, (phash div 65536) % 65536 AS band_key),
                   struct(2 AS band, (phash div 4294967296) % 65536 AS band_key))""")).as("bk"))
      .select(col("doc_id"), col("phash"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("phash")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        s"""CASE WHEN size(ds) <= $cap
              THEN flatten(transform(sequence(1, size(ds) - 1), i ->
                     transform(slice(ds, i + 1, size(ds) - i), d ->
                       struct(ds[i-1].doc_id AS a_id, d.doc_id AS b_id,
                              ds[i-1].phash AS a_ph, d.phash AS b_ph))))
              ELSE transform(slice(ds, 2, size(ds) - 1), d ->
                     struct(ds[0].doc_id AS a_id, d.doc_id AS b_id,
                            ds[0].phash AS a_ph, d.phash AS b_ph))
            END""")).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        expr("CAST(bit_count(p.a_ph ^ p.b_ph) AS BIGINT)").as("hamming"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- binary metadata extraction (SQL-expressible slice of the above) --
    "m01_binary_metadata" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .select(
          col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).cast("bigint").as("n_bytes"),
          md5(encode(col("text"), "UTF-8")).as("payload_md5"),
          (col("n_chars") % 640).cast("int").as("width"),
          (col("n_chars") % 480).cast("int").as("height"))
        .orderBy(col("doc_id"))
    },

    // -- full pipeline incl. mapPartitions decode stub (rows-only check:
    //    the checksum matches t04's arithmetic, asserted in ScalaTest) --
    "m02_media_features" -> { (s, dir) =>
      mediaFeatures(s, dir).orderBy(col("doc_id"))
    },

    // -- resize: 2× nearest-neighbor downsample of a W-byte-row "image" --
    // The last multimodal primitive next to decode (m02) and frame
    // sampling (m03): the payload is treated as rows of 64 bytes and
    // every 2nd byte of every 2nd row is kept — the stride-indexing
    // kernel of nearest-neighbor resize, expressed declaratively
    // (sequence → filter → substring → join) so it stays per-row
    // codegen'd with no shuffle and the oracle reproduces it exactly.
    // A real image swaps byte-rows for pixel-rows via the codec; the
    // plan shape (linear scan, index arithmetic, no data movement) is
    // identical at 100 TB.
    //
    // The stride select runs as two REGEXP passes, not a per-index HOF
    // (r7: filter(sequence)+transform cost ~1.5 s interpreted at sf0.1;
    // RegExpReplace is codegen'd): pass 1 keeps even 64-byte rows
    // ('(.{64}).{64}' → '$1'; the <128-byte tail survives verbatim, so
    // a computed substring clips the partial ODD row out of it —
    // even-rows length = 64·(n div 128) + least(n mod 128, 64)); pass 2
    // keeps even offsets ('(.).', '$1' — trailing unpaired char is an
    // even offset, correctly kept). Because the row width is even,
    // (i mod 64) even ⟺ i even, so the two passes compose to exactly
    // the reference's (i div 64) % 2 = 0 AND (i mod 64) % 2 = 0 mask.
    // (?s) so payload bytes that look like newlines can't break '.'.
    "m04_resize" -> { (s, dir) =>
      val w = 64
      Tables.df(s, dir, "documents")
        .select(col("doc_id"), col("text").as("payload"))
        .withColumn("n", length(col("payload")))
        .filter(col("n") >= w * 2)
        .withColumn("resized", expr(
          s"""regexp_replace(
                substring(regexp_replace(payload, '(?s)(.{$w}).{$w}', '$$1'),
                          1, $w * (n div ${2 * w}) + least(n % ${2 * w}, $w)),
                '(?s)(.).', '$$1')"""))
        .select(col("doc_id"), col("n").cast("bigint").as("orig_len"),
          length(col("resized")).cast("bigint").as("resized_len"),
          md5(col("resized")).as("resized_md5"))
        .orderBy(col("doc_id"))
    },

    // -- perceptual-hash near-dup: the image-dedup op of a multimodal
    //    training pipeline. aHash over the decoded payload: 48 blocks of
    //    5 bytes, bit b = (48·blocksum_b >= totalsum) — the mean
    //    comparison done in exact integer arithmetic so both engines
    //    agree bit-for-bit; 3×16-bit LSH bands; capped posting-list pair
    //    emission (Dedup.BandBucketCap star degradation — never C(k,2)
    //    on a hot bucket); bit_count Hamming verify ≤ 6. A real codec
    //    swaps the byte blocks for pixel blocks; every plan shape
    //    (linear hash, one band shuffle, partition-local pairs) holds
    //    unchanged at 100 TB --
    "m05_phash_neardup" -> { (s, dir) =>
      phashPairs(phashDf(Tables.df(s, dir, "documents")))
        .filter(col("hamming") <= 6)
        .distinct()
        .orderBy(col("a_id"), col("b_id"))
    },

    // -- frame sampling: every k-th fixed-size frame of a binary payload --
    // The video-pipeline primitive (sample 1 frame in k for training
    // data): the payload is treated as a sequence of 16-byte frames and
    // every 4th is sliced out declaratively (sequence + binary substring
    // + md5 — all codegen'd, no UDF), so the scan→explode→project plan
    // parallelizes per frame with no shuffle at all. A real container
    // format swaps the fixed stride for codec-reported frame offsets;
    // the plan shape is unchanged.
    "m03_frame_sample" -> { (s, dir) =>
      val frameBytes = 16
      val stride = 4
      Tables.df(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .withColumn("n_frames", expr(s"octet_length(payload) div $frameBytes").cast("int"))
        .filter(col("n_frames") > 0)
        .select(col("doc_id"), col("payload"),
          explode(expr(s"sequence(0, n_frames - 1, $stride)")).as("frame_no"))
        .select(col("doc_id"), col("frame_no"),
          md5(expr(s"substring(payload, frame_no * $frameBytes + 1, $frameBytes)")).as("frame_md5"))
        .orderBy(col("doc_id"), col("frame_no"))
    },

    // -- m06: VAD-style energy segmentation — the silence-removal /
    //    speech-span op an audio training pipeline runs before
    //    transcription (a real VAD would score decoded PCM here; the
    //    payload is the documents' bytes, the m-family stub contract).
    //    Per 16-byte frame: energy = Σ(b − 32)² in EXACT BIGINTs
    //    (space bytes ≡ silence, letters ≡ signal); voiced frames then
    //    merge into maximal runs via gaps-and-islands (frame_no −
    //    row_number, the e02 idiom) — never a per-row array-of-frames
    //    loop. Scale shape: one explode (O(bytes/16) rows), the island
    //    window partitions by doc_id, two partial-agg rollups. --
    "m06_energy_segments" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("f"))
      // frame_energy materializes the codepoint array ONCE per doc and
      // folds each 16-char frame in a single O(L) compiled pass (the
      // HOF ascii(substring(text, f*16+i, 1)) form re-walks the string
      // per frame — O(L²/16) per doc, quadratic in document length)
      val frames = Tables.df(s, dir, "documents")
        .filter(col("doc_id") < 200 && col("n_chars") >= 32)
        .select(col("doc_id"),
          posexplode(expr("frame_energy(text, 16)")).as(Seq("f", "energy")))
        .select(col("doc_id"), col("f"), (col("energy") >= 40000L).as("voiced"))
      val tot = frames.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("voiced").cast("long")).as("n_voiced"))
      val segs = frames.filter(col("voiced"))
        .withColumn("island", col("f") - row_number().over(w))
        .groupBy(col("doc_id"), col("island"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments"), max(col("len")).as("max_seg_len"))
      tot.join(segs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"), col("n_voiced"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("max_seg_len"), lit(0L)).as("max_seg_len"))
        .orderBy(col("doc_id"))
    },

    // -- m07: CLIP-score-style pair filtering — the multimodal curation
    //    gate (LAION's pipeline keeps an (image, caption) pair only when
    //    the embedding cosine clears a threshold). Stand-in for the
    //    text tower: each label's micro-unit-exact centroid (s05's
    //    aggregate) is the label "prototype"; every vector scores
    //    against ITS OWN label's prototype and the gate keeps
    //    score ≥ 0.1. The |labels|-row prototype relation broadcasts,
    //    the corpus streams once, and the centroid arithmetic is exact
    //    BIGINT micro-units so both engines score identical doubles.
    //    Output is the per-label filter report (kept counts + score
    //    range) a curation run would log --
    "m07_clipscore_filter" -> { (s, dir) =>
      val emb = Tables.df(s, dir, "embeddings")
      val cent = emb
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(expr("CAST(round(CAST(col AS DOUBLE) * 1000000) AS BIGINT)")).as("su"),
          count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(expr(
          """transform(
               sort_array(collect_list(struct(pos,
                 CAST(su AS DOUBLE) / n / 1000000.0 AS cv))),
               e -> e.cv)""").as("cvec"))
      emb.join(broadcast(cent), Seq("label"))
        .withColumn("score", round(expr(
          """aggregate(sequence(1, size(embedding)), 0D,
               (a, j) -> a + CAST(embedding[j-1] AS DOUBLE) * cvec[j-1])
             / (sqrt(vec_dot(embedding, embedding))
                * sqrt(aggregate(cvec, 0D, (a, x) -> a + x * x)))"""), 6))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum((col("score") >= 0.1).cast("long")).as("n_kept"),
          min(col("score")).as("min_s"),
          max(col("score")).as("max_s"))
        .orderBy(col("label"))
    },

    // -- m08: SCENE-CUT detection — the shot-boundary segmentation a
    //    video curation pipeline runs before frame sampling (pick k
    //    frames PER SCENE, not per fixed stride; PySceneDetect's
    //    content-detector shape). Per 16-byte frame: an exact integer
    //    feature (byte sum — the stub contract; a real decoder puts a
    //    frame histogram here, same plan); a CUT where the absolute
    //    frame-to-frame delta exceeds the threshold (lag over the
    //    doc-partitioned frame window); scenes = prefix-sum of cut
    //    flags (e02's gaps-and-islands discipline, never a per-row
    //    array loop). Output per video: frame/scene census + longest
    //    scene + mean scene length. Scale shape: one explode
    //    (O(bytes/16) rows), both windows partition by doc_id, one
    //    partial-agg rollup — no shuffle beyond the doc key. The frame
    //    feature is frame_sums: the codepoint array is materialized
    //    ONCE per doc (O(L) total; the prior ascii(substring(…)) HOF
    //    re-walked the string per frame — O(L²/16) per doc, quadratic
    //    in document length, the r9 verdict's named scale hazard) --
    "m08_scene_cuts" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("f"))
      val frames = Tables.df(s, dir, "documents")
        .filter(col("n_chars") >= 64)
        .select(col("doc_id"),
          posexplode(expr("frame_sums(text, 16)")).as(Seq("f", "feat")))
      frames
        .withColumn("prev", lag(col("feat"), 1).over(w))
        .withColumn("cut",
          when(col("prev").isNull || abs(col("feat") - col("prev")) > 40, 1L)
            .otherwise(0L))
        .withColumn("scene", sum(col("cut")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("scene"))
        .agg(count(lit(1)).as("scene_len"))
        .groupBy(col("doc_id"))
        .agg(sum(col("scene_len")).as("n_frames"),
          count(lit(1)).as("n_scenes"),
          max(col("scene_len")).as("longest_scene"),
          round(sum(col("scene_len")).cast("double") / count(lit(1)), 6)
            .as("mean_scene_len"))
        .orderBy(col("doc_id"))
    },

    // -- m09: SCENE-AWARE frame sampling — the consumer m08's scene
    //    detection exists for (PySceneDetect save_images: k
    //    representative frames PER SCENE, first/middle/last, instead of
    //    a fixed stride that oversamples long static shots and misses
    //    short ones). Picks per scene: start, start + (len−1) div 2,
    //    start + len − 1, deduplicated for short scenes. The pick set
    //    joins BACK to the frame relation on (doc_id, f) — an equi-join,
    //    so the full frame payloads never travel through the windows —
    //    and the sampled-feature sum is exact BIGINT arithmetic both
    //    engines replay. Same scale shape as m08: doc-partitioned
    //    windows, one explode, one equi-join --
    "m09_scene_frame_sample" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("f"))
      val frames = Tables.df(s, dir, "documents")
        .filter(col("n_chars") >= 64)
        .select(col("doc_id"),
          posexplode(expr("frame_sums(text, 16)")).as(Seq("f", "feat")))
        .localCheckpoint(true) // spooled: windows AND the pick join read it
      val scenes = frames
        .withColumn("prev", lag(col("feat"), 1).over(w))
        .withColumn("cut",
          when(col("prev").isNull || abs(col("feat") - col("prev")) > 40, 1L)
            .otherwise(0L))
        .withColumn("scene", sum(col("cut")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("scene"))
        .agg(min(col("f")).as("s0"), count(lit(1)).as("len"))
      val picks = scenes.select(col("doc_id"), col("scene"),
          explode(expr(
            """array_distinct(array(CAST(s0 AS INT),
                 CAST(s0 + (len - 1) div 2 AS INT),
                 CAST(s0 + len - 1 AS INT)))""")).as("f"))
      picks.join(frames, Seq("doc_id", "f"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("scene")).as("n_scenes"),
          count(lit(1)).as("n_sampled"),
          sum(col("feat")).as("sampled_feat_sum"))
        .orderBy(col("doc_id"))
    }
  )

  def oracle: Map[String, String] = Map(
    "m07_clipscore_filter" -> """
      WITH su AS (
        SELECT label, i,
          CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS s,
          count(*) AS n
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
        GROUP BY label, i),
      cent AS (
        SELECT label, list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY i) AS cvec
        FROM su GROUP BY label),
      sc AS (
        SELECT e.label,
          round(
            list_sum(list_transform(generate_series(1, 64),
              j -> CAST(e.embedding[j] AS DOUBLE) * c.cvec[j]))
            / (sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(c.cvec, x -> x * x)))), 6) AS score
        FROM embeddings e JOIN cent c ON e.label = c.label)
      SELECT label, count(*) AS n_vecs,
        CAST(sum(CASE WHEN score >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        min(score) AS min_s, max(score) AS max_s
      FROM sc GROUP BY label ORDER BY label""",
    "m06_energy_segments" -> """
      WITH d AS (
        SELECT doc_id, text, n_chars FROM documents
        WHERE doc_id < 200 AND n_chars >= 32),
      frames AS (
        SELECT doc_id, f,
          CAST(list_sum(list_transform(generate_series(1, 16),
            i -> (CAST(ascii(substring(text, f * 16 + i, 1)) AS BIGINT) - 32)
               * (CAST(ascii(substring(text, f * 16 + i, 1)) AS BIGINT) - 32)))
            AS BIGINT) AS energy
        FROM d, LATERAL (SELECT unnest(generate_series(0,
          CAST(n_chars // 16 AS INT) - 1)) AS f) g),
      v AS (SELECT doc_id, f FROM frames WHERE energy >= 40000),
      isl AS (
        SELECT doc_id,
          f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS island
        FROM v),
      segs AS (
        SELECT doc_id, island, count(*) AS len
        FROM isl GROUP BY doc_id, island),
      segagg AS (
        SELECT doc_id, count(*) AS n_segments, max(len) AS max_seg_len
        FROM segs GROUP BY doc_id),
      tot AS (
        SELECT doc_id, count(*) AS n_frames,
          CAST(sum(CASE WHEN energy >= 40000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_voiced
        FROM frames GROUP BY doc_id)
      SELECT t.doc_id, t.n_frames, t.n_voiced,
        CAST(coalesce(s.n_segments, 0) AS BIGINT) AS n_segments,
        CAST(coalesce(s.max_seg_len, 0) AS BIGINT) AS max_seg_len
      FROM tot t LEFT JOIN segagg s ON t.doc_id = s.doc_id
      ORDER BY t.doc_id""",

    "m01_binary_metadata" -> """
      SELECT doc_id,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        md5(text) AS payload_md5,
        CAST(n_chars % 640 AS INTEGER) AS width,
        CAST(n_chars % 480 AS INTEGER) AS height
      FROM documents ORDER BY doc_id""",

    // m02: byte-level checksum over UTF-8 bytes. The corpus is ASCII, so
    // bytes == character codepoints and the rolling checksum is SQL-
    // expressible via ascii(); a non-ASCII corpus would drop this oracle
    // and rely on the rows-only check + ScalaTest.
    "m02_media_features" -> """
      SELECT doc_id, 'text/plain' AS mime,
        CAST(n_chars % 640 AS INTEGER) AS width,
        CAST(n_chars % 480 AS INTEGER) AS height,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, length(text)),
              i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS byte_checksum,
        CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte
      FROM documents ORDER BY doc_id""",

    "m04_resize" -> """
      SELECT doc_id, CAST(len(text) AS BIGINT) AS orig_len,
        CAST(len(r) AS BIGINT) AS resized_len, md5(r) AS resized_md5
      FROM (
        SELECT doc_id, text,
          list_aggregate(list_transform(list_filter(generate_series(0, len(text) - 1),
            i -> (i // 64) % 2 = 0 AND (i % 64) % 2 = 0),
            i -> substring(text, CAST(i + 1 AS INT), 1)), 'string_agg', '') AS r
        FROM documents WHERE len(text) >= 128) t
      ORDER BY doc_id""",

    // phash formula mirrored exactly (integer block sums, 48·bs >= tot);
    // occupancy cap mirrored from the posting-list emission: a bucket
    // over the cap keeps only pairs whose smaller side is the bucket
    // minimum (star degradation), same as d05's oracle
    "m05_phash_neardup" -> s"""
      WITH bs AS (
        SELECT doc_id,
          list_transform(generate_series(0, 47), b ->
            list_sum(list_transform(generate_series(b * 5 + 1, b * 5 + 5),
              i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT)))) AS bs
        FROM documents WHERE length(text) >= 240),
      ph AS (
        SELECT doc_id,
          CAST(list_sum(list_transform(generate_series(0, 47), b ->
            CASE WHEN bs[CAST(b + 1 AS INT)] * 48 >= list_sum(bs)
                 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS phash
        FROM bs),
      banded AS (
        SELECT doc_id, phash, band,
          CASE band WHEN 0 THEN phash % 65536
                    WHEN 1 THEN (phash // 65536) % 65536
                    ELSE (phash // 4294967296) % 65536 END AS band_key
        FROM ph, (SELECT unnest([0, 1, 2]) AS band)),
      bn AS (SELECT band, band_key, count(*) AS n, min(doc_id) AS hub
             FROM banded GROUP BY band, band_key),
      cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               a.phash AS a_ph, b.phash AS b_ph
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
                     AND a.doc_id < b.doc_id
        JOIN bn ON bn.band = a.band AND bn.band_key = a.band_key
        WHERE bn.n <= ${Dedup.BandBucketCap} OR a.doc_id = bn.hub)
      SELECT a_id, b_id, CAST(bit_count(xor(a_ph, b_ph)) AS BIGINT) AS hamming
      FROM cands WHERE bit_count(xor(a_ph, b_ph)) <= 6
      ORDER BY a_id, b_id""",

    // ASCII corpus: byte offsets == character offsets, so the oracle
    // slices the text directly (same md5 input bytes)
    "m03_frame_sample" -> """
      SELECT doc_id, frame_no,
        md5(substring(text, frame_no * 16 + 1, 16)) AS frame_md5
      FROM (
        SELECT doc_id, text,
          unnest(generate_series(0, octet_length(encode(text)) // 16 - 1, 4)) AS frame_no
        FROM documents
        WHERE octet_length(encode(text)) >= 16)
      ORDER BY doc_id, frame_no""",

    // the pick rule (first / middle / last frame of each scene,
    // deduplicated) replayed over the same scene derivation as m08
    "m09_scene_frame_sample" -> """
      WITH frames AS (
        SELECT doc_id, f,
          list_sum(list_transform(generate_series(1, 16),
            i -> CAST(ascii(substring(text, CAST(f * 16 + i AS INT), 1)) AS BIGINT)))
            AS feat
        FROM (SELECT doc_id, text,
                unnest(generate_series(0, CAST(n_chars // 16 AS INT) - 1)) AS f
              FROM documents WHERE n_chars >= 64) t),
      cuts AS (
        SELECT doc_id, f, feat,
          CASE WHEN lag(feat) OVER (PARTITION BY doc_id ORDER BY f) IS NULL
                 OR abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY f)) > 40
               THEN 1 ELSE 0 END AS cut
        FROM frames),
      scn AS (
        SELECT doc_id, f,
          sum(cut) OVER (PARTITION BY doc_id ORDER BY f
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
        FROM cuts),
      scenes AS (
        SELECT doc_id, scene, min(f) AS s0, count(*) AS len
        FROM scn GROUP BY doc_id, scene),
      picks AS (
        SELECT doc_id, scene,
          unnest(list_distinct([CAST(s0 AS INT),
            CAST(s0 + (len - 1) // 2 AS INT),
            CAST(s0 + len - 1 AS INT)])) AS f
        FROM scenes)
      SELECT p.doc_id,
        count(DISTINCT p.scene) AS n_scenes,
        count(*) AS n_sampled,
        CAST(sum(fr.feat) AS BIGINT) AS sampled_feat_sum
      FROM picks p JOIN frames fr ON p.doc_id = fr.doc_id AND p.f = fr.f
      GROUP BY p.doc_id ORDER BY p.doc_id""",

    "m08_scene_cuts" -> """
      WITH frames AS (
        SELECT doc_id, f,
          list_sum(list_transform(generate_series(1, 16),
            i -> CAST(ascii(substring(text, CAST(f * 16 + i AS INT), 1)) AS BIGINT)))
            AS feat
        FROM (SELECT doc_id, text,
                unnest(generate_series(0, CAST(n_chars // 16 AS INT) - 1)) AS f
              FROM documents WHERE n_chars >= 64) t),
      cuts AS (
        SELECT doc_id, f, feat,
          CASE WHEN lag(feat) OVER (PARTITION BY doc_id ORDER BY f) IS NULL
                 OR abs(feat - lag(feat) OVER (PARTITION BY doc_id ORDER BY f)) > 40
               THEN 1 ELSE 0 END AS cut
        FROM frames),
      scenes AS (
        SELECT doc_id,
          sum(cut) OVER (PARTITION BY doc_id ORDER BY f
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
        FROM cuts),
      lens AS (
        SELECT doc_id, scene, count(*) AS scene_len
        FROM scenes GROUP BY doc_id, scene)
      SELECT doc_id,
        CAST(sum(scene_len) AS BIGINT) AS n_frames,
        count(*) AS n_scenes,
        CAST(max(scene_len) AS BIGINT) AS longest_scene,
        round(CAST(sum(scene_len) AS DOUBLE) / count(*), 6) AS mean_scene_len
      FROM lens GROUP BY doc_id ORDER BY doc_id"""
  )
}
