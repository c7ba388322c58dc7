package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.CheckpointUtil.materialize
import graft.Tables
import graft.functions.TextFunctions

/** Driver-facing multimodal queries. Payloads are UTF-8 bytes of
  * `documents.text`; the DuckDB oracle expands each code point to its
  * UTF-8 byte sequence, so the byte-level stub results are replayed
  * exactly for ANY text (not just ASCII): the binary-column path
  * (BinaryType payload → typed mapPartitions decode → Encoder output) is
  * held to the same hash-exact gate as the SQL surface.
  */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaTable(Tables.documents(s, dir))

  /** Shard byte budget: ~6 payloads per shard at fixture scale, so the
    * cut logic (mid-payload straddle included) is actually exercised. */
  val ShardBytes = 16384L

  /** Perceptual-dedup verify budget: candidate pairs whose 64-bin
    * histograms differ by at most this L1 mass are near-dups. A one-byte
    * lossy change moves 2 units; natural sf0.1 pairs passing 8 were
    * measured at exactly 8 of 24.7k candidates. */
  val PerceptualL1Max = 8L

  /** Band-value document-frequency cap: a (band, length, counts) value
    * shared by more members than this is the cohort's BACKGROUND
    * distribution, not near-dup evidence, and generates no candidates —
    * the BoilerplateDf convention applied to perceptual features. The
    * 1M-payload probe measured why this is load-bearing: a weakly
    * discriminative corpus (narrow alphabet) put ~50k equal-length
    * payloads on ONE identical space-count band = ~1.25B candidate pairs
    * from a single bucket. Pairs that also share ANY sub-cap band (every
    * planted re-encode class does — the digit-distribution bands stay
    * discriminative) are unaffected; a pair indistinguishable from a
    * super-cap cohort on EVERY band is below the evidence floor by
    * design. sf0.1's natural max bucket is 21 — the cap is inactive on
    * the driver fixture. */
  val PerceptualBandDf = 64L

  /** PERCEPTUAL near-dup pairs over perceptual decode rows
    * `(id, n_bytes, checksum, hist)` — the banded candidate + verify
    * split of every dedup family here, pigeonhole edition: the 64-bin
    * histogram is cut into 4 bands of 16 exact counts, candidates share
    * (band_idx, n_bytes, band counts) — a lossy re-encode disturbing <= 3
    * bins leaves >= 1 band intact, an order-only re-encode (the common
    * codec round-trip) matches all 4 — then survivors verify on full-
    * histogram L1 <= [[PerceptualL1Max]]. (An aHash over these bins was
    * measured degenerate on a shared-alphabet corpus — see
    * [[Multimodal.decodePerceptualBatch]].) Only (id, n_bytes, 16
    * counts) rows cross the candidate shuffle; payload bytes never
    * leave their scan task; output is near-dup-proportional.
    * `byte_identical` carries whether exact dedup would ALSO have caught
    * the pair — false is this operator's reason to exist. */
  /** `batchMin`: the INCREMENTAL arm — only pairs whose higher id is a
    * batch member (id >= batchMin) are emitted, and only batch bands sit
    * on the join's build side, so the per-ingest work is batch x
    * (standing ∪ batch), never standing x standing re-done. Complete
    * under the standing ingest convention (new payloads get higher ids —
    * the src_*_append id-split convention), because the pair orientation
    * is id_a < id_b. The hot-band cap is computed over the UNION exactly
    * as the full arm computes it, so incremental == full-restricted holds
    * by construction (spec- and oracle-pinned). */
  private[operators] def perceptualPairs(feats: DataFrame,
      batchMin: Option[Long] = None): DataFrame = {
    // stored frames outlive this builder — the between-queries sweep frees
    // them instead of accumulating blocks over a 212-query bench session
    val f = materialize(feats)._1 // bands + two verify join-backs
    // only NONZERO bands generate candidates: an all-zero band is the
    // absence of evidence, and on a same-length cohort it matches every
    // member — the 1M-payload scale probe measured the blowup (a ~50k-doc
    // equal-length class sharing an empty band is ~1.25B candidate
    // pairs). The standard ignore-empty-features LSH rule; the planted
    // re-encode classes keep >= 1 nonzero intact band by construction
    // (any nonempty payload has one), and the twin applies the same gate.
    val allBands = materialize(f
      .withColumn("bi", explode(sequence(lit(0L), lit(3L))))
      .select(col("id"), col("bi"), col("n_bytes"),
        slice(col("hist"), (col("bi") * 16 + 1).cast("int"), lit(16)).as("bc"))
      .filter(aggregate(col("bc"), lit(0L), (a, x) => a + x) > 0))._1
    // the frequency cap (see [[PerceptualBandDf]]): one band-grain agg +
    // anti-join. The hot set is tiny on any discriminative corpus (a
    // value is hot because many rows share it, so there are few such
    // values) but adversarially it is corpus-proportional (bands/cap), so
    // the join degrades through AdaptiveJoin, never a forced broadcast.
    val hot = materialize(
      allBands.groupBy(col("bi"), col("n_bytes"), col("bc"))
        .agg(count(lit(1)).as("m"))
        .filter(col("m") > PerceptualBandDf)
        .select(col("bi"), col("n_bytes"), col("bc")))._1
    val bands = AdaptiveJoin(allBands, hot, Seq("bi", "n_bytes", "bc"),
      "left_anti", AdaptiveJoin.DefaultMaxBroadcastRows)
    val bSide = batchMin.fold(bands)(m => bands.filter(col("id") >= m))
    val cand = bands.as("a")
      .join(bSide.as("b").hint("shuffle_hash"),
        col("a.bi") === col("b.bi") && col("a.n_bytes") === col("b.n_bytes")
          && col("a.bc") === col("b.bc") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(f.select(col("id").as("id_a"), col("hist").as("h_a"),
        col("checksum").as("cs_a")), "id_a")
      .join(f.select(col("id").as("id_b"), col("hist").as("h_b"),
        col("checksum").as("cs_b")), "id_b")
      .withColumn("l1", aggregate(
        zip_with(col("h_a"), col("h_b"), (x, y) => abs(x - y)),
        lit(0L), (acc, d) => acc + d))
      .filter(col("l1") <= PerceptualL1Max)
      .select(col("id_a"), col("id_b"), col("l1"),
        (col("cs_a") === col("cs_b")).as("byte_identical"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_decode_features" -> ((s, dir) => {
      Multimodal.decodeFeatures(s, media(s, dir)).toDF().orderBy("id")
    }),
    "mm_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(s, media(s, dir), "fake/src0").toDF()
        .orderBy("id", "frame_idx")
    }),
    "mm_audio_windows" -> ((s, dir) => {
      Multimodal.chunkWindows(s, media(s, dir), "fake/src3").toDF()
        .orderBy("id", "chunk_idx")
    }),
    // Payload-level exact dedup — the image-dedup step of a multimodal
    // corpus: re-ingested copies (simulated: every 7th doc re-uploaded
    // under a shifted id) are found by CONTENT signature, not by id or
    // metadata. The dedup key is the decode pass's (n_bytes, checksum,
    // hist_hash) — 24 bytes per payload cross the shuffle, the binary
    // blobs themselves never leave their scan task; output is
    // duplicate-proportional (singleton groups are filtered map-side of
    // nothing — they simply don't survive the HAVING-style gate).
    "mm_payload_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val reingested = Multimodal.mediaTable(
        docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val feats = Multimodal.decodeFeatures(s,
        Multimodal.mediaTable(docs).unionByName(reingested)).toDF()
      feats.groupBy(col("n_bytes"), col("checksum"), col("hist_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("id")).as("canonical_id"),
          graft.functions.NativeExpressions.polyCombine(
            sort_array(collect_list(col("id")))).as("ids_hash"))
        .filter(col("n_copies") > 1)
        .select(col("canonical_id"), col("n_copies"), col("ids_hash"),
          col("n_bytes"), col("checksum"))
        .orderBy("canonical_id")
    }),
    // PERCEPTUAL near-dup over media payloads — the class exact payload
    // dedup is structurally blind to: a re-ENCODED copy (codec
    // round-trip; simulated as a deterministic BYTE ROTATION of every
    // 11th payload under a shifted id — binary-level in both engines, so
    // no text-indexing semantics can diverge) keeps the content
    // distribution and loses the checksum. See [[perceptualPairs]].
    "mm_perceptual_dedup" -> ((s, dir) => {
      val base = media(s, dir)
      val copies = base.filter(pmod(col("id"), lit(11)) === 0)
        .select((col("id") + 20000000L).as("id"), col("meta"),
          concat(expr("substring(data, 8, length(data))"),
            expr("substring(data, 1, 7)")).as("data"))
      perceptualPairs(
        Multimodal.decodePerceptual(s, base.unionByName(copies)).toDF())
        .orderBy("id_a", "id_b")
    }),
    // INCREMENTAL perceptual dedup — the per-ingest arm: the re-uploaded
    // batch (the rotated copies, arriving under higher ids — the standing
    // ingest convention) is banded against standing ∪ batch; standing x
    // standing pairs are never re-examined. Oracle = the full twin
    // restricted to pairs whose higher id is in the batch — the
    // decomposition claim verbatim.
    "mm_perceptual_incremental" -> ((s, dir) => {
      val base = media(s, dir)
      val copies = base.filter(pmod(col("id"), lit(11)) === 0)
        .select((col("id") + 20000000L).as("id"), col("meta"),
          concat(expr("substring(data, 8, length(data))"),
            expr("substring(data, 1, 7)")).as("data"))
      perceptualPairs(
        Multimodal.decodePerceptual(s, base.unionByName(copies)).toDF(),
        batchMin = Some(20000000L))
        .orderBy("id_a", "id_b")
    }),
    // Size-bounded SHARD assembly — the WebDataset/tar-shard builder step
    // of a media corpus: payloads laid head-to-tail in id order and cut
    // every ShardBytes (concat-and-cut on BYTES — `Packing`'s prefix-sum
    // machinery, range partition + broadcast offsets, no single-task
    // window), one manifest row per shard. Only (id, n_bytes) flows
    // through the exchange; the payloads themselves would be written
    // map-side by shard assignment, never shuffled for the plan.
    "mm_shard_manifest" -> ((s, dir) => {
      val feats = Multimodal.decodeFeatures(s, media(s, dir)).toDF()
      Packing.packAssignments(feats.select(col("id"), col("n_bytes")),
          "id", "n_bytes", ShardBytes)
        .groupBy(col("pack_id").as("shard_id"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("n_bytes")).as("bytes_started"),
          min(col("id")).as("first_id"), max(col("id")).as("last_id"))
        .orderBy("shard_id")
    }),
    "mm_resized" -> ((s, dir) => {
      Multimodal.resizeMeta(media(s, dir), maxDim = 256)
        .select(col("id"), col("resized.mime").as("mime"),
          col("resized.width").as("width"), col("resized.height").as("height"))
        .orderBy("id")
    }),
    // Interleaved multimodal SEQUENCE assembly — the packing step of a
    // text+image training mix: every doc contributes its text tokens;
    // illustrated docs (deterministic stand-in rule: doc_id % 3 == 0)
    // additionally spend one <image> placeholder token plus
    // ceil(w/16)·ceil(h/16) vision patches, with w/h read from the media
    // METADATA struct — the payload bytes are never touched, so the whole
    // budget computation is column arithmetic in the scan. Sequences are
    // concat-and-cut on the combined token+patch cost (Packing's
    // prefix-sum machinery: range partition + broadcast offsets, one
    // exchange, no single-task window).
    "mm_interleave" -> ((s, dir) => {
      import Packing.DivOps
      val costed = Tables.documents(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          (col("n_chars") % 640).as("w"), (col("n_chars") % 480).as("h"),
          (pmod(col("doc_id"), lit(3)) === 0).as("has_image"))
        .withColumn("n_patches", when(col("has_image"),
          ((col("w") + 15) div 16L) * ((col("h") + 15) div 16L))
          .otherwise(lit(0L)))
        .select(col("doc_id"),
          when(col("has_image"), "text+image").otherwise("text").as("modality"),
          col("n_tokens"), col("n_patches"),
          (col("n_tokens") + col("n_patches") +
            when(col("has_image"), 1L).otherwise(0L)).as("n_total"))
      Packing.packAssignments(costed, "doc_id", "n_total",
          TrainingDataQueries.PackTokens)
        .select(col("doc_id"), col("modality"), col("n_tokens"),
          col("n_patches"), col("n_total"), col("pack_id"), col("pack_offset"))
        .orderBy("doc_id")
    })
  )

  // byte-level twins: the engine decodes genuine UTF-8 payload BYTES, so
  // the oracle expands each code point to its UTF-8 byte sequence (1-4
  // bytes by range) instead of assuming ASCII's code-point==byte identity
  private val codes =
    "flatten(list_transform(range(1, length(text)+1), ci -> " +
      "CASE WHEN unicode(text[ci]) < 128 THEN [CAST(unicode(text[ci]) AS BIGINT)] " +
      "WHEN unicode(text[ci]) < 2048 THEN [" +
        "CAST(192 + unicode(text[ci]) // 64 AS BIGINT), " +
        "CAST(128 + unicode(text[ci]) % 64 AS BIGINT)] " +
      "WHEN unicode(text[ci]) < 65536 THEN [" +
        "CAST(224 + unicode(text[ci]) // 4096 AS BIGINT), " +
        "CAST(128 + (unicode(text[ci]) // 64) % 64 AS BIGINT), " +
        "CAST(128 + unicode(text[ci]) % 64 AS BIGINT)] " +
      "ELSE [" +
        "CAST(240 + unicode(text[ci]) // 262144 AS BIGINT), " +
        "CAST(128 + (unicode(text[ci]) // 4096) % 64 AS BIGINT), " +
        "CAST(128 + (unicode(text[ci]) // 64) % 64 AS BIGINT), " +
        "CAST(128 + unicode(text[ci]) % 64 AS BIGINT)] END))"
  private def roll(l: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $l), (a, x) -> (a*31 + x) % 1000000007)"

  /** The perceptual-dedup replay up to the verified pair relation `v` —
    * ONE chain behind the full and incremental twins, which differ only
    * in the final pair restriction. */
  private lazy val perceptualCtes: String =
    s"""c AS (SELECT doc_id AS id, $codes AS cp FROM documents),
       |u AS (SELECT id, cp FROM c
       |  UNION ALL SELECT id + 20000000 AS id,
       |    list_concat(cp[8:], cp[1:7]) AS cp FROM c WHERE id % 11 = 0),
       |h AS (SELECT id, CAST(len(cp) AS BIGINT) AS n_bytes,
       |  ${roll("cp")} AS checksum,
       |  list_transform(range(0, 64), b -> CAST(len(list_filter(cp, x -> x % 64 = b)) AS BIGINT)) AS hist
       |  FROM u),
       |b AS (SELECT id, n_bytes, hist, unnest(range(0, 4)) AS bi FROM h),
       |bbn AS (SELECT id, bi, n_bytes, bc FROM (
       |  SELECT id, bi, n_bytes,
       |    hist[CAST(bi*16+1 AS BIGINT):CAST(bi*16+16 AS BIGINT)] AS bc FROM b)
       |  WHERE list_sum(bc) > 0),
       |hotb AS (SELECT bi, n_bytes, bc FROM bbn
       |  GROUP BY bi, n_bytes, bc HAVING count(*) > $PerceptualBandDf),
       |bb AS (SELECT bbn.* FROM bbn WHERE NOT EXISTS (
       |  SELECT 1 FROM hotb h WHERE h.bi = bbn.bi
       |    AND h.n_bytes = bbn.n_bytes AND h.bc = bbn.bc)),
       |cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b FROM bb a JOIN bb b2
       |  ON a.bi = b2.bi AND a.n_bytes = b2.n_bytes AND a.bc = b2.bc
       |  AND a.id < b2.id),
       |v AS (SELECT id_a, id_b,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(0, 64), j -> abs(ha.hist[j+1] - hb.hist[j+1]))),
       |    (x, y) -> x + y) AS BIGINT) AS l1,
       |  (ha.checksum = hb.checksum) AS byte_identical
       |  FROM cand JOIN h ha ON ha.id = cand.id_a JOIN h hb ON hb.id = cand.id_b)""".stripMargin

  def oracles: Map[String, String] = Map(
    "mm_decode_features" ->
      s"""WITH c AS (SELECT doc_id AS id, $codes AS cp FROM documents)
         |SELECT id, CAST(len(cp) AS BIGINT) AS n_bytes,
         |  ${roll("cp")} AS checksum,
         |  ${roll("list_transform(range(0, 16), b -> CAST(len(list_filter(cp, x -> x // 16 = b)) AS BIGINT))")} AS hist_hash
         |FROM c ORDER BY id""".stripMargin,
    "mm_frames" ->
      s"""WITH c AS (SELECT doc_id AS id, $codes AS b FROM documents WHERE source = 'src0'),
         |f AS (SELECT id, b,
         |  unnest(range(0, CAST(ceil(len(b)/64.0) AS BIGINT))) AS frame_idx FROM c),
         |fc AS (SELECT id, frame_idx,
         |  b[CAST(frame_idx*64+1 AS BIGINT):CAST(frame_idx*64+64 AS BIGINT)] AS blk FROM f)
         |SELECT id, frame_idx, ${roll("blk")} AS frame_checksum
         |FROM fc ORDER BY id, frame_idx""".stripMargin,
    "mm_audio_windows" ->
      s"""WITH c AS (SELECT doc_id AS id, $codes AS b FROM documents WHERE source = 'src3'),
         |f AS (SELECT id, b,
         |  unnest(range(0, CAST(ceil(len(b)/64.0) AS BIGINT))) AS chunk_idx FROM c),
         |fc AS (SELECT id, chunk_idx, CAST(chunk_idx*64 AS BIGINT) AS start_byte,
         |  b[CAST(chunk_idx*64+1 AS BIGINT):CAST(chunk_idx*64+96 AS BIGINT)] AS blk FROM f)
         |SELECT id, chunk_idx, start_byte, ${roll("blk")} AS chunk_checksum
         |FROM fc ORDER BY id, chunk_idx""".stripMargin,
    "mm_payload_dedup" ->
      s"""WITH c AS (SELECT doc_id AS id, $codes AS cp FROM documents),
         |u AS (SELECT id, cp FROM c
         |  UNION ALL SELECT id + 10000000 AS id, cp FROM c WHERE id % 7 = 0),
         |f AS (SELECT id, CAST(len(cp) AS BIGINT) AS n_bytes,
         |  ${roll("cp")} AS checksum,
         |  ${roll("list_transform(range(0, 16), b -> CAST(len(list_filter(cp, x -> x // 16 = b)) AS BIGINT))")} AS hist_hash
         |  FROM u),
         |g AS (SELECT n_bytes, checksum, hist_hash,
         |  CAST(count(*) AS BIGINT) AS n_copies, min(id) AS canonical_id,
         |  list(id ORDER BY id) AS ids
         |  FROM f GROUP BY n_bytes, checksum, hist_hash)
         |SELECT canonical_id, n_copies, ${roll("ids")} AS ids_hash, n_bytes, checksum
         |FROM g WHERE n_copies > 1 ORDER BY canonical_id""".stripMargin,
    // perceptual twin: same byte expansion, the rotation replayed as a
    // list rotation, 64-bin histogram, 4x16 pigeonhole bands + n_bytes,
    // L1 verify — every step integer-exact
    "mm_perceptual_dedup" ->
      s"""WITH $perceptualCtes
         |SELECT id_a, id_b, l1, byte_identical FROM v
         |WHERE l1 <= $PerceptualL1Max ORDER BY id_a, id_b""".stripMargin,
    // incremental arm: the SAME chain restricted to pairs whose higher id
    // is a batch member — the decomposition claim verbatim
    "mm_perceptual_incremental" ->
      s"""WITH $perceptualCtes
         |SELECT id_a, id_b, l1, byte_identical FROM v
         |WHERE l1 <= $PerceptualL1Max AND id_b >= 20000000
         |ORDER BY id_a, id_b""".stripMargin,
    "mm_shard_manifest" ->
      s"""WITH c AS (SELECT doc_id AS id, $codes AS cp FROM documents),
         |f AS (SELECT id, CAST(len(cp) AS BIGINT) AS n_bytes FROM c),
         |cum AS (SELECT id, n_bytes,
         |  CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM f),
         |p AS (SELECT id, n_bytes, cb // $ShardBytes AS shard_id FROM cum)
         |SELECT shard_id, count(*) AS n_items,
         |  CAST(sum(n_bytes) AS BIGINT) AS bytes_started,
         |  min(id) AS first_id, max(id) AS last_id
         |FROM p GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "mm_resized" ->
      """WITH m AS (SELECT doc_id AS id, 'fake/' || source AS mime,
        |  CAST(n_chars % 640 AS BIGINT) AS w, CAST(n_chars % 480 AS BIGINT) AS h
        |  FROM documents),
        |s AS (SELECT id, mime, w, h, greatest(w, h, 1) AS mx FROM m),
        |sc AS (SELECT id, mime, w, h,
        |  CASE WHEN mx > 256 THEN 256.0 / CAST(mx AS DOUBLE) ELSE 1.0 END AS scale FROM s)
        |SELECT id, mime,
        |  CAST(floor(CAST(w AS DOUBLE) * scale) AS INT) AS width,
        |  CAST(floor(CAST(h AS DOUBLE) * scale) AS INT) AS height
        |FROM sc ORDER BY id""".stripMargin,
    "mm_interleave" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(${graft.functions.TextQueries.sqlNTok} AS BIGINT) AS n_tokens,
         |  CAST(n_chars % 640 AS BIGINT) AS w, CAST(n_chars % 480 AS BIGINT) AS h,
         |  doc_id % 3 = 0 AS has_image FROM documents),
         |c AS (SELECT doc_id,
         |  CASE WHEN has_image THEN 'text+image' ELSE 'text' END AS modality,
         |  n_tokens,
         |  CASE WHEN has_image THEN ((w + 15) // 16) * ((h + 15) // 16)
         |    ELSE 0 END AS n_patches,
         |  has_image FROM t),
         |u AS (SELECT doc_id, modality, n_tokens, n_patches,
         |  n_tokens + n_patches + CASE WHEN has_image THEN 1 ELSE 0 END AS n_total
         |  FROM c),
         |p AS (SELECT *, CAST(COALESCE(SUM(n_total) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM u)
         |SELECT doc_id, modality, n_tokens, n_patches, n_total,
         |  cum_before // ${TrainingDataQueries.PackTokens} AS pack_id,
         |  cum_before % ${TrainingDataQueries.PackTokens} AS pack_offset
         |FROM p ORDER BY doc_id""".stripMargin
  )
}
