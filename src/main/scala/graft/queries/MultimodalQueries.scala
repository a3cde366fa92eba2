package graft.queries

import org.apache.spark.sql.functions._
import graft.Checkpoints
import graft.model.Tables
import graft.multimodal.Multimodal
import graft.similarity.Similarity

/** Multimodal queries: media metadata, frame sampling, per-frame
  * features and near-duplicate media detection.
  */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // metadata pass: payload wrapped, width/height/type derived — the
    // payload-free projection parquet pruning would serve at scale
    // width/height are xxhash64-derived (not oracle-expressible) — they
    // are exercised in the ScalaTest suite; the oracle checks the rest
    // all three run over TRUE binary payloads (full-range 0x00–0xFF
    // synthesized bytes, not UTF-8 text-as-bytes): metadata-only read
    // never touches the payload column (pruning)
    Query("multimodal_meta", (s, dir) =>
      Multimodal.asBinaryMedia(Tables.documents(s, dir), "doc_id", "text")
        .select("media_id", "media_type", "n_bytes"),
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT)) * 16
        |    AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin),

    // frame sampling over the binary payload: 64-byte frames, every 2nd
    // kept; md5-of-hex + byte length per frame so a VARCHAR-only oracle
    // can compare scalars
    Query("multimodal_frame_sample", (s, dir) =>
      Multimodal.extractFrames(
        Multimodal.asBinaryMedia(Tables.documents(s, dir), "doc_id", "text"),
        "media_id", "payload", frameSize = 64, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          md5(hex(col("frame"))).as("frame_md5"),
          length(col("frame")).as("frame_len")),
      // binary payload reconstructed as its hex chain (2 hex chars = 1
      // byte): a 64-byte frame is a 128-char hex slice; md5 runs over the
      // UPPERCASE hex (Spark's hex()), lengths divide back to bytes
      """WITH m AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      range(0, greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT))),
        |      i -> md5(text || ':' || CAST(i AS VARCHAR))), '') AS hx
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |    substring(hx, CAST(i * 128 + 1 AS INTEGER), 128) AS fhex
        |  FROM m,
        |    UNNEST(range(0, CAST(floor((strlen(hx) / 2 - 1) / 64) AS BIGINT) + 1)) AS t(i)
        |)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, frame_idx,
        |  md5(upper(fhex)) AS frame_md5,
        |  CAST(strlen(fhex) / 2 AS INTEGER) AS frame_len
        |FROM f WHERE frame_idx % 2 = 0""".stripMargin),

    // feature extraction through the binary payload path (decode stub
    // reads the raw bytes; checksum over the hex transport encoding is
    // the oracle-checkable part, features exercised in tests)
    Query("multimodal_features", (s, dir) => {
      val media = Multimodal.asBinaryMedia(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("checksum"),
          round(aggregate(col("features"),
            lit(0.0), (acc, x) => acc + x.cast("double")), 4).as("feature_l1"))
    },
      // checksum = md5 over the payload's UPPERCASE-hex encoding (the
      // hex chain reconstructed here, uppercased to match Spark's hex());
      // the stub features are an L1-normalized histogram over the raw
      // bytes, so their sum rounds to exactly 1.0
      """WITH m AS (
        |  SELECT doc_id,
        |    greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT)) AS nb,
        |    array_to_string(list_transform(
        |      range(0, greatest(1, CAST(ceil(strlen(text) / 16.0) AS BIGINT))),
        |      i -> md5(text || ':' || CAST(i AS VARCHAR))), '') AS hx
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(nb * 16 AS BIGINT) AS n_bytes,
        |  md5(upper(hx)) AS checksum,
        |  CAST(1.0 AS DOUBLE) AS feature_l1
        |FROM m""".stripMargin),

    // payload near-dup (perceptual-hash style): block-hash histogram
    // features through the decode boundary, then the MEASURED-GATE
    // near-dup operator (cosineNearDupsAuto) — never all-pairs.
    // Text-as-bytes payloads (asMedia) carry the corpus' planted
    // near-dups; features and the candidate pair list are pinned and
    // declared (the JVM decode boundary + hash/centroid-dependent
    // candidates), the oracle re-scores the exact stage from them —
    // the sim_cosine_neardups contract
    Query("multimodal_neardups", Seq("mm_feats", "mm_cands"), (s, dir) => {
      // repartition before the decode boundary: a single-file fixture
      // reads as ONE split (78 MB at sf10), serializing 500k payload
      // decodes onto one core; a real media corpus arrives in many splits
      val media = Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism)
      // the pin keeps the decode's partitions, so the narrow feature
      // table is never packed into one input split the way a parquet
      // read-back of it was (a 25-min one-core straggler at sf10)
      val f = Checkpoints.checkpoint(
        Multimodal.extractPerceptualFeatures(s, media).toDF()
          .select(col("media_id"), col("features")))
      // MEASURED-gate routing (r15): byte-histogram features of text
      // are a DEGENERATE space — every document shares the corpus'
      // byte-frequency profile, so the measured background cosine is
      // mean ≈0.76 with p99 ≈0.93 and frac(≥0.95) ≈1.1e-3. Threshold
      // 0.95 therefore sits INSIDE the background tail: the true
      // output is ~1.1e-3 · n(n−1)/2 pairs (quadratic — ~135M at the
      // 500k-row sf10 corpus) and the S-curve gap that banding prunes
      // against is 0.95-vs-0.93, where the LSH exponent ρ→1. Measured
      // at sf10: the bg-mean-sized banding (36 bits × 180 bands)
      // spilled >50 GB — band collisions ARE the background, and the
      // 126-bit sketch cut (rejects only below ~0.84) passes most of
      // them. No banding (multi-probe included) survives this regime;
      // the auto gate reroutes to the cell-bounded SemDeDup-shape
      // operator (work Σ|cell|², cells ∝ n), the plan that holds at
      // 100 TB. The pair list (exact-scored ≥ t on either route)
      // is pinned as the candidate set the oracle re-scores.
      val cands = Checkpoints.checkpoint(
        Similarity.cosineNearDupsAuto(f, "media_id", "features",
          threshold = 0.95, recall = 0.98).select(col("id_a"), col("id_b")))
      Query.Out(Similarity.cosineNearDupsFromCandidates(cands,
          f, "media_id", "features", threshold = 0.95),
        Seq("mm_feats" -> f, "mm_cands" -> cands))
    },
      // exact stage over the materialized perceptual features +
      // banded candidates (both hash-dependent JVM artifacts) — same
      // contract as sim_cosine_neardups
      s"""WITH p AS (SELECT id_a, id_b
        |  FROM read_parquet('${OracleAux.sqlDir("mm_cands")}/*.parquet')),
        |e AS (SELECT media_id, CAST(features AS DOUBLE[]) AS v
        |      FROM read_parquet('${OracleAux.sqlDir("mm_feats")}/*.parquet')),
        |s AS (SELECT p.id_a, p.id_b,
        |  list_cosine_similarity(ae.v, be.v) AS score
        |  FROM p JOIN e ae ON p.id_a = ae.media_id
        |         JOIN e be ON p.id_b = be.media_id)
        |SELECT id_a, id_b, round(score, 6) AS score
        |FROM s WHERE score >= 0.95""".stripMargin)
  )
}
