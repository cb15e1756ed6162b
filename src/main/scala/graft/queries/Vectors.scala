package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.io.Corpus
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.util.CacheRegistry

/** Similarity search over embeddings + multimodal column plumbing
  * (BASELINE.json north-star ops). Vector math uses the codegen'd
  * [[graft.functions.DotProduct]]; floats widen to double before any
  * arithmetic so the sequential fold is bit-identical to DuckDB's
  * `list_sum(list_transform(...))` (verified empirically).
  */
object Vectors {

  // DuckDB mirror of Similarity.normed: double vectors + L2 norm.
  private val normedCte =
    """n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |            FROM embeddings))""".stripMargin

  private val dotSql =
    "list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * q.qv[i]))"

  /** Exact brute-force cosine top-k (k=10) for query vectors vec_id<5 —
    * the ANN correctness baseline. */
  private def v01(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(spark, Corpus.embeddings(spark, dir), nQueries = 5, k = 10)

  private val v01Sql =
    s"""WITH $normedCte,
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
       |s AS (SELECT q.query_id, a.vec_id AS neighbor_id,
       |        $dotSql / (a.nrm * q.qnrm) AS cos_sim
       |      FROM n a, q WHERE a.vec_id <> q.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
       |FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Corpus + planted near-dups: every 20th vector re-enters (vec_id +
    * 1,000,000) perturbed by a cyclic neighbor-mix `v'ᵢ = vᵢ + 0.25·v₍ᵢ₊₁₎`
    * — cos(v, v') ≈ 0.97, far above the corpus noise floor (measured max
    * inter-pair cosine: 0.51 at sf0.01, 0.60 at sf0.1). The corpus itself
    * has no true near-dups, so the planted copies are what gives the
    * detector something real to find, exactly like t11's synthesized PII
    * text. Doubles from the first arithmetic op, so DuckDB reproduces the
    * construction bit-for-bit. */
  private def plantedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val base = Corpus.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + lit(0.25) * element_at(col("embedding"),
            pmod(i + lit(1), size(col("embedding"))) + lit(1))).as("embedding"))
    base.unionByName(planted)
  }

  /** Embedding-space near-dup pairs at cos ≥ 0.9 over the planted corpus,
    * via banded-LSH candidates + exact cosine verify (no n² join in the
    * plan — asserted in PlanSpec). The DuckDB oracle rebuilds the same
    * planted corpus and brute-forces all pairs, so this checks both the
    * exact arithmetic AND that banding recalled every qualifying pair. */
  private def v02(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(spark, plantedEmbeddings(spark, dir), threshold = 0.9)

  // CTE chain shared by the v02 pair oracle and the v06 clustering
  // oracle: rebuild the planted corpus, norm it, brute-force all pairs.
  private val plantedPairsCtes =
    """base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |              FROM embeddings),
      |plant AS (SELECT vec_id + 1000000 AS vec_id,
      |            list_transform(range(1, len(v) + 1), i -> v[i] + 0.25 * v[(i % len(v)) + 1]) AS v
      |          FROM base WHERE vec_id % 20 = 0),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM plant),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM u),
      |s AS (SELECT a.vec_id AS vec_a, q.vec_id AS vec_b,
      |        list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * q.qv[i])) / (a.nrm * q.qnrm) AS cos_sim
      |      FROM n a JOIN (SELECT vec_id, v AS qv, nrm AS qnrm FROM n) q ON a.vec_id < q.vec_id)""".stripMargin

  private val v02Sql =
    s"""WITH $plantedPairsCtes
       |SELECT vec_a, vec_b, cos_sim FROM s
       |WHERE cos_sim >= 0.9
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Deterministic hash-sample of the recall-baseline queries: the exact
    * brute-force side runs only for queries whose id hashes into the
    * sample, so the bench number measures the approximate search plus a
    * BOUNDED measurement overhead instead of a full exact pass per run
    * (the r9 verdict's v03/v04 finding). Unsampled queries keep their
    * approximate rows with null `recall_at_k` (withMeasuredRecall's
    * full-outer contract). Full-baseline mode stays one call away:
    * pass `lit(true)` (SimilaritySpec exercises it). */
  private def recallSample(nQueries: Int) =
    col("vec_id") < nQueries &&
      pmod(graft.operators.Sampling.portableUniformFingerprint(
        concat(lit("recall-r11:"), col("vec_id").cast("string"))), lit(2)) === 0

  // DuckDB mirror of [[recallSample]]'s parity draw (the engine-portable
  // fingerprint, NOT xxhash64 — switching the sample to the portable mix
  // in r11 is what made the whole recall column oracle-replayable).
  private val recallSampleSql =
    s"(${Text.mixSql("'recall-r11:' || CAST(query_id AS VARCHAR)")}) % 2 = 0"

  // Sequential-fold dot product between two list columns (neither may be
  // an outer lambda variable's alias — the list_zip form keeps outer
  // names out of inner lambda bodies, the v15 binder discipline).
  private def zipDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2]))"

  /** Appends the measured-recall CTEs + final projection to an `approx`
    * CTE of shape (query_id, rank, neighbor_id, cos_sim) — the SQL
    * mirror of [[Similarity.withMeasuredRecall]] over the hash-sampled
    * exact baseline: exact top-k for sampled queries, per-query found
    * fraction, FULL OUTER back onto the approximate rows (recall-0
    * queries surface as rows; unsampled queries keep null recall). */
  private def recallTailSql(k: Int): String =
    s"""sq AS (SELECT query_id, qv, qnrm FROM q WHERE $recallSampleSql),
       |es AS (SELECT s.query_id, a.vec_id AS neighbor_id,
       |         ${zipDot("a.v", "s.qv")} / (a.nrm * s.qnrm) AS cos_sim
       |       FROM n a, sq s WHERE a.vec_id <> s.query_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |         SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |         FROM es) WHERE rank <= $k),
       |rc AS (SELECT e.query_id,
       |         CAST(count(f.neighbor_id) AS DOUBLE) / count(*) AS recall_at_k
       |       FROM ex e LEFT JOIN approx f
       |         ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id
       |       GROUP BY e.query_id)
       |SELECT COALESCE(a.query_id, rc.query_id) AS query_id, a.rank,
       |  a.neighbor_id, a.cos_sim, rc.recall_at_k
       |FROM approx a FULL OUTER JOIN rc ON a.query_id = rc.query_id
       |ORDER BY query_id, rank""".stripMargin

  /** LSH-bucketed approximate top-k (scale path for v01), with each row
    * carrying `recall_at_k` against the hash-sampled exact baseline.
    * Oracle-gated since r11: the hyperplanes are a fixed seeded draw, so
    * the oracle inlines the SAME plane matrix ([[Similarity.flatPlanes]]
    * — one source of truth) and replays signature bits, the Hamming
    * radius-2 candidate filter (bit_count over a packed XOR engine-side ≡
    * per-plane sign-mismatch count, Hamming being bit-permutation
    * invariant), the cosine top-k, and the measured recall column. */
  private def v03(spark: SparkSession, dir: String): DataFrame = {
    val emb = Corpus.embeddings(spark, dir)
    Similarity.withMeasuredRecall(
      Similarity.lshTopK(spark, emb, nQueries = 5, k = 10),
      Similarity.cosineTopKForQueries(spark, emb, recallSample(5), k = 10))
  }

  private val v03Sql = {
    // the engine's exact plane matrix (8 planes × dim 64), inlined as a
    // literal and cast element-wise to DOUBLE (DuckDB parses bare decimal
    // literals as DECIMAL; shortest-repr strings round-trip exactly)
    val planes = graft.operators.Similarity.flatPlanes(8, 64).grouped(64)
      .map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""WITH $normedCte,
       |pl AS (SELECT list_transform($planes,
       |         p -> list_transform(p, x -> CAST(x AS DOUBLE))) AS planes),
       |sg AS (SELECT vec_id, v, nrm,
       |         list_transform(planes, p -> ${zipDot("v", "p")} > 0) AS bits
       |       FROM n, pl),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bits AS qbits
       |      FROM sg WHERE vec_id < 5),
       |s AS (SELECT q.query_id, a.vec_id AS neighbor_id,
       |        ${zipDot("a.v", "q.qv")} / (a.nrm * q.qnrm) AS cos_sim
       |      FROM sg a, q
       |      WHERE a.vec_id <> q.query_id
       |        AND len(list_filter(range(1, len(a.bits) + 1),
       |              i -> a.bits[i] <> q.qbits[i])) <= 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |      FROM s),
       |approx AS (SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
       |           FROM r WHERE rank <= 10),
       |${recallTailSql(10)}""".stripMargin
  }

  /** Multimodal decode: documents → genuine BMP payloads in a binary
    * column → partition-wise header parse → typed feature table. The
    * oracle independently predicts what a correct BMP encode+decode must
    * yield (dimensions derive deterministically from each doc; n_bytes
    * follows the BMP row-padding formula), so a broken encoder OR a
    * broken parser both fail the hash. See [[graft.operators.Multimodal]]. */
  private def m01(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.toMediaTable(Corpus.documents(spark, dir)))
      .orderBy(col("doc_id"))

  private val m01Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(4 + doc_id % 16 AS INT) AS width,
      |    CAST(3 + octet_length(CAST(text AS BLOB)) % 8 AS INT) AS height
      |  FROM documents)
      |SELECT doc_id, 'bmp' AS format,
      |  CAST(54 + height * ((3 * width + 3) // 4 * 4) AS BIGINT) AS n_bytes,
      |  width, height, CAST(1 AS INT) AS n_frames
      |FROM d
      |ORDER BY doc_id""".stripMargin

  /** Audio-modality decode: documents → valid PCM WAV payloads →
    * chunk-walk parse (sample rate / bit depth / frame count). Same
    * oracle idea as m01: the SQL independently predicts what a correct
    * WAV encode+decode must yield. */
  private def m02(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.toAudioTable(Corpus.documents(spark, dir)))
      .orderBy(col("doc_id"))

  private val m02Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(32 + octet_length(CAST(text AS BLOB)) % 256 AS INT) AS n_frames
      |  FROM documents)
      |SELECT doc_id, 'wav' AS format,
      |  CAST(44 + 2 * n_frames AS BIGINT) AS n_bytes,
      |  CAST(8000 AS INT) AS width, CAST(16 AS INT) AS height, n_frames
      |FROM d
      |ORDER BY doc_id""".stripMargin

  /** Video-modality frame sampling: documents → multi-frame GVID
    * containers (2–5 BMP frames each) → container walk emitting every
    * 2nd frame's metadata. The oracle independently predicts the frame
    * structure a correct encode+walk must yield (count from doc_id,
    * per-frame size from the BMP padding formula, offsets from the
    * cumulative walk), so a broken encoder, a mis-walked offset, or a
    * wrong sampling stride all fail the hash. */
  private def m03(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.toVideoTable(Corpus.documents(spark, dir)), every = 2)
      .orderBy(col("doc_id"), col("frame_idx"))

  private val m03Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(4 + doc_id % 16 AS INT) AS width,
      |    CAST(3 + octet_length(CAST(text AS BLOB)) % 8 AS INT) AS height,
      |    CAST(2 + doc_id % 4 AS INT) AS n_frames
      |  FROM documents),
      |f AS (SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS fi, width, height,
      |    CAST(54 + height * ((3 * width + 3) // 4 * 4) AS BIGINT) AS frame_size
      |  FROM d)
      |SELECT doc_id, n_frames, CAST(fi AS INT) AS frame_idx,
      |  CAST(8 + fi * frame_size AS BIGINT) AS frame_offset,
      |  frame_size, width, height
      |FROM f
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Image resize: documents → BMP payloads → nearest-neighbor ÷2
    * downscale → re-decode of the RESIZED bytes. The oracle predicts the
    * post-resize header (ceil-halved dimensions, re-padded byte size), so
    * a resize that corrupts the header, mis-pads rows, or doesn't
    * actually shrink fails the hash; pixel-level correctness is
    * cross-checked against ImageIO in MultimodalSpec. */
  private def m04(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.resizeMedia(
        Multimodal.toMediaTable(Corpus.documents(spark, dir)), factor = 2))
      .orderBy(col("doc_id"))

  private val m04Sql =
    """WITH d AS (SELECT doc_id,
      |    (4 + doc_id % 16 + 1) // 2 AS w2,
      |    (3 + octet_length(CAST(text AS BLOB)) % 8 + 1) // 2 AS h2
      |  FROM documents)
      |SELECT doc_id, 'bmp' AS format,
      |  CAST(54 + h2 * ((3 * w2 + 3) // 4 * 4) AS BIGINT) AS n_bytes,
      |  CAST(w2 AS INT) AS width, CAST(h2 AS INT) AS height, CAST(1 AS INT) AS n_frames
      |FROM d
      |ORDER BY doc_id""".stripMargin

  /** Audio clip windowing: documents → WAV payloads → 25-sample clips,
    * each re-wrapped as a standalone valid WAV
    * ([[graft.operators.Multimodal.clipAudio]]). The oracle predicts the
    * full clip layout — count, per-clip sample counts (remainder last),
    * and re-wrapped byte sizes — from the source length rule, so a
    * slicing that drops samples, miscounts the tail, or mis-sizes the
    * rewritten header fails the hash; sample-exact payloads are
    * cross-checked against AudioSystem in MultimodalSpec. */
  private def m05(spark: SparkSession, dir: String): DataFrame =
    Multimodal.clipAudio(
      Multimodal.toAudioTable(Corpus.documents(spark, dir)), clipSamples = 25)
      .select(col("doc_id"), col("clip_idx"), col("n_clips"),
        col("n_samples"), col("n_bytes"))
      .orderBy(col("doc_id"), col("clip_idx"))

  private val m05Sql =
    """WITH a AS (SELECT doc_id,
      |    32 + octet_length(CAST(text AS BLOB)) % 256 AS n
      |  FROM documents),
      |c AS (SELECT doc_id, n, (n + 24) // 25 AS n_clips,
      |    unnest(range(0, (n + 24) // 25)) AS ci
      |  FROM a)
      |SELECT doc_id, CAST(ci AS INT) AS clip_idx, CAST(n_clips AS INT) AS n_clips,
      |  CAST(CASE WHEN ci = n_clips - 1 THEN n - ci * 25 ELSE 25 END AS BIGINT) AS n_samples,
      |  CAST(44 + 2 * (CASE WHEN ci = n_clips - 1 THEN n - ci * 25 ELSE 25 END) AS BIGINT) AS n_bytes
      |FROM c
      |ORDER BY doc_id, clip_idx""".stripMargin

  /** Perceptual-hash image dedup ([[Multimodal.perceptualDedup]]) —
    * dHash over a real BMP decode, near-dup pairs via the SimHash
    * band-blocking discipline, on a corpus with PLANTED duplicates
    * ([[Multimodal.toImageCorpus]]): brightness-shifted copies must
    * land at Hamming 0 (the invariance a perceptual hash provides) and
    * byte-perturbed copies within the threshold. The oracle predicts
    * every sampled grid byte from the generation arithmetic (pixels
    * derive from the portable fold), rebuilds the 9×8 grayscale grid,
    * the 64 comparison bits, the 4 blocking bands, the band-join
    * candidates, and every Hamming verdict — so a broken encoder,
    * decoder, grid sampler, or banding rule all fail the hash. */
  private def m06(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.toImageCorpus(Corpus.documents(spark, dir))
    val labels = corpus.select(col("image_id"), col("variant"))
    Multimodal.perceptualDedup(corpus, maxHamming = 10)
      .join(labels.toDF("id_a", "variant_a"), "id_a")
      .join(labels.toDF("id_b", "variant_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("variant_a"), col("variant_b"),
        col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val m06Sql = {
    // double Knuth remix (the HLL discipline): one mix of consecutive
    // byte offsets is low-discrepancy — monotone rows, all-ones bands
    val fold = Text.mixSql(
      s"'img:' || CAST((${Text.mixSql("'img:' || base_id || ':' || bi")}) AS VARCHAR)")
    s"""WITH imgs AS (
       |  SELECT doc_id AS base_id, doc_id AS image_id, 'base' AS variant FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1000000 + doc_id, 'bright' FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id, 2000000 + doc_id, 'perturb' FROM documents WHERE doc_id % 11 = 0),
       |dims AS (SELECT image_id, base_id, variant,
       |           9 + base_id % 8 AS w, 8 + base_id % 5 AS h,
       |           (3 * (9 + base_id % 8) + 3) // 4 * 4 AS row_size
       |         FROM imgs),
       |cells AS (SELECT d.image_id, d.base_id, d.variant, gy, gx,
       |            (d.h - 1 - (gy * d.h) // 8) * d.row_size + 3 * ((gx * d.w) // 9) AS o
       |          FROM dims d,
       |               LATERAL (SELECT unnest(range(0, 8)) AS gy) yy,
       |               LATERAL (SELECT unnest(range(0, 9)) AS gx) xx),
       |fb AS (SELECT image_id, variant, gy, gx, o + j AS bi,
       |         ($fold) % 200 AS fv
       |       FROM cells, LATERAL (SELECT unnest(range(0, 3)) AS j) jj),
       |vals AS (SELECT image_id, gy, gx,
       |           CASE WHEN variant = 'bright' THEN fv + 10
       |                WHEN variant = 'perturb' AND bi % 97 = 0 THEN (fv + 100) % 200
       |                ELSE fv END AS b
       |         FROM fb),
       |gray AS (SELECT image_id, gy, gx, sum(b) AS g FROM vals GROUP BY 1, 2, 3),
       |bits AS (SELECT l.image_id, l.gy, l.gx,
       |           CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
       |         FROM gray l JOIN gray r ON r.image_id = l.image_id AND r.gy = l.gy
       |              AND r.gx = l.gx + 1
       |         WHERE l.gx < 8),
       |bands AS (SELECT image_id, gy // 2 AS k,
       |            CAST(sum(bit * (1 << ((gy % 2) * 8 + gx))) AS INT) AS v
       |          FROM bits GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
       |         FROM bands a JOIN bands b ON a.k = b.k AND a.v = b.v
       |              AND a.image_id < b.image_id),
       |ham AS (SELECT c.id_a, c.id_b,
       |          CAST(sum(bit_count(xor(ba.v, bb.v))) AS INT) AS hamming
       |        FROM cand c
       |        JOIN bands ba ON ba.image_id = c.id_a
       |        JOIN bands bb ON bb.image_id = c.id_b AND bb.k = ba.k
       |        GROUP BY 1, 2)
       |SELECT h.id_a, h.id_b, ia.variant AS variant_a, ib.variant AS variant_b,
       |  h.hamming
       |FROM ham h
       |JOIN imgs ia ON ia.image_id = h.id_a
       |JOIN imgs ib ON ib.image_id = h.id_b
       |WHERE h.hamming <= 10
       |ORDER BY h.id_a, h.id_b""".stripMargin
  }

  /** Perceptual audio dedup ([[Multimodal.audioDedup]]) — the audio
    * sibling of m06, completing multimodal near-dup coverage for both
    * decoded modalities: an energy-delta fingerprint (65 windows of 8
    * PCM samples, bit = "next window louder") over a real WAV decode,
    * pairs via the shared band-blocking + Hamming verify engine.
    * Planted: volume-DOUBLED copies must collide at Hamming 0 (|2s| =
    * 2|s| exactly — the invariance), 3-sample perturbed copies land
    * within the threshold. The oracle predicts every PCM sample from
    * the generation arithmetic and replays windows, bits, bands,
    * candidates, and verdicts — a broken encoder, chunk walk, window
    * sum, or banding all fail the hash. */
  private def m07(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.toAudioCorpus(Corpus.documents(spark, dir))
    val labels = corpus.select(col("audio_id"), col("variant"))
    Multimodal.audioDedup(corpus, maxHamming = 10)
      .join(labels.toDF("id_a", "variant_a"), "id_a")
      .join(labels.toDF("id_b", "variant_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("variant_a"), col("variant_b"),
        col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val m07Sql = {
    def smp(salt: String) = Text.mixSql(
      s"'$salt:' || CAST((${Text.mixSql(s"'$salt:' || base_id || ':' || i")}) AS VARCHAR)")
    s"""WITH auds AS (
       |  SELECT doc_id AS base_id, doc_id AS audio_id, 'base' AS variant FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1000000 + doc_id, 'volume' FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id, 2000000 + doc_id, 'perturb' FROM documents WHERE doc_id % 11 = 0),
       |sm AS (SELECT audio_id, base_id, variant, i, i // 8 AS w,
       |         (${smp("aud")}) % 20000 - 10000 AS s0
       |       FROM auds, LATERAL (SELECT unnest(range(0, 520)) AS i) ii),
       |vals AS (SELECT audio_id, w,
       |           CASE WHEN variant = 'volume' THEN 2 * s0
       |                WHEN variant = 'perturb' AND i % 251 = 0
       |                  THEN (${smp("aud2")}) % 20000 - 10000
       |                ELSE s0 END AS s
       |         FROM sm),
       |energy AS (SELECT audio_id, w, sum(abs(s)) AS e FROM vals GROUP BY 1, 2),
       |bits AS (SELECT l.audio_id, l.w,
       |           CASE WHEN r.e > l.e THEN 1 ELSE 0 END AS bit
       |         FROM energy l JOIN energy r ON r.audio_id = l.audio_id AND r.w = l.w + 1
       |         WHERE l.w < 64),
       |bands AS (SELECT audio_id, w // 16 AS k,
       |            CAST(sum(bit * (1 << (w % 16))) AS INT) AS v
       |          FROM bits GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.audio_id AS id_a, b.audio_id AS id_b
       |         FROM bands a JOIN bands b ON a.k = b.k AND a.v = b.v
       |              AND a.audio_id < b.audio_id),
       |ham AS (SELECT c.id_a, c.id_b,
       |          CAST(sum(bit_count(xor(ba.v, bb.v))) AS INT) AS hamming
       |        FROM cand c
       |        JOIN bands ba ON ba.audio_id = c.id_a
       |        JOIN bands bb ON bb.audio_id = c.id_b AND bb.k = ba.k
       |        GROUP BY 1, 2)
       |SELECT h.id_a, h.id_b, aa.variant AS variant_a, ab.variant AS variant_b,
       |  h.hamming
       |FROM ham h
       |JOIN auds aa ON aa.audio_id = h.id_a
       |JOIN auds ab ON ab.audio_id = h.id_b
       |WHERE h.hamming <= 10
       |ORDER BY h.id_a, h.id_b""".stripMargin
  }

  /** Perceptual video dedup ([[Multimodal.videoDedup]]) — the third
    * modality on the shared band engine: every GVID frame dHashes like
    * an m06 image (composite id `video_id·16 + frame_idx`), frame
    * matches aggregate to clip pairs, and ≥ 2 matched frames make a
    * near-dup — the truncated/re-encoded-copy detection of a video
    * pipeline. Planted: brightness re-encodes (all frames match at
    * Hamming 0 → matched = frame count) and tail-truncated copies
    * (surviving frames byte-identical → matched = count − 1). The
    * oracle replays every frame's grid bytes, bits, bands, frame
    * candidates, Hamming verdicts, and the clip-level aggregation —
    * INCLUDING the narrow-vs-wide band-scheme choice as a function of
    * the frame count (bandNearDups' 32768-row crossover): both
    * candidate branches are in the SQL, gated on `nfr.n`, so the same
    * oracle stays exact on either side of the crossover. */
  private def m08(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.toVideoCorpus(Corpus.documents(spark, dir))
    val labels = corpus.select(col("video_id"), col("variant"))
    Multimodal.videoDedup(corpus, maxHamming = 10, minMatchedFrames = 2)
      .join(labels.toDF("id_a", "variant_a"), "id_a")
      .join(labels.toDF("id_b", "variant_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("variant_a"), col("variant_b"),
        col("matched_frames"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val m08Sql = {
    val fold = Text.mixSql(
      s"'vid:' || CAST((${Text.mixSql("'vid:' || base_id || ':' || f || ':' || bi")}) AS VARCHAR)")
    s"""WITH vids AS (
       |  SELECT doc_id AS base_id, doc_id AS video_id, 'base' AS variant,
       |         2 + doc_id % 4 AS nf
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1000000 + doc_id, 'bright', 2 + doc_id % 4
       |  FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id, 2000000 + doc_id, 'trunc', 1 + doc_id % 4
       |  FROM documents WHERE doc_id % 11 = 0 AND 2 + doc_id % 4 > 2),
       |dims AS (SELECT video_id, base_id, variant, f,
       |           9 + base_id % 8 AS w, 8 + base_id % 5 AS h,
       |           (3 * (9 + base_id % 8) + 3) // 4 * 4 AS row_size
       |         FROM vids, LATERAL (SELECT unnest(range(0, nf)) AS f) ff),
       |cells AS (SELECT d.video_id, d.base_id, d.variant, d.f, gy, gx,
       |            (d.h - 1 - (gy * d.h) // 8) * d.row_size + 3 * ((gx * d.w) // 9) AS o
       |          FROM dims d,
       |               LATERAL (SELECT unnest(range(0, 8)) AS gy) yy,
       |               LATERAL (SELECT unnest(range(0, 9)) AS gx) xx),
       |pix AS (SELECT video_id, variant, f, gy, gx, ($fold) % 200 AS fv
       |        FROM (SELECT *, o + j AS bi FROM cells,
       |              LATERAL (SELECT unnest(range(0, 3)) AS j) jj)),
       |gray AS (SELECT video_id, f, gy, gx,
       |           sum(CASE WHEN variant = 'bright' THEN fv + 10 ELSE fv END) AS g
       |         FROM pix GROUP BY 1, 2, 3, 4),
       |bits AS (SELECT l.video_id, l.f, l.gy, l.gx,
       |           CASE WHEN r.g > l.g THEN 1 ELSE 0 END AS bit
       |         FROM gray l JOIN gray r ON r.video_id = l.video_id AND r.f = l.f
       |              AND r.gy = l.gy AND r.gx = l.gx + 1
       |         WHERE l.gx < 8),
       |bands AS (SELECT video_id * 16 + f AS fid, gy // 2 AS k,
       |            CAST(sum(bit * (1 << ((gy % 2) * 8 + gx))) AS INT) AS v
       |          FROM bits GROUP BY 1, 2),
       |wb AS (SELECT fid, k // 2 AS k2,
       |         CAST(sum(CASE WHEN k % 2 = 0 THEN CAST(v AS BIGINT) * 65536
       |                       ELSE CAST(v AS BIGINT) END) AS BIGINT) AS wv
       |       FROM bands GROUP BY 1, 2),
       |nfr AS (SELECT count(DISTINCT fid) AS n FROM bands),
       |candn AS (SELECT DISTINCT a.fid AS fa, b.fid AS fb
       |          FROM bands a JOIN bands b ON a.k = b.k AND a.v = b.v AND a.fid < b.fid
       |          WHERE (SELECT n FROM nfr) <= 32768),
       |candw AS (SELECT DISTINCT a.fid AS fa, b.fid AS fb
       |          FROM wb a JOIN wb b ON a.k2 = b.k2 AND a.wv = b.wv AND a.fid < b.fid
       |          WHERE (SELECT n FROM nfr) > 32768),
       |cand AS (SELECT * FROM candn UNION ALL SELECT * FROM candw),
       |ham AS (SELECT c.fa, c.fb
       |        FROM cand c
       |        JOIN bands ba ON ba.fid = c.fa
       |        JOIN bands bb ON bb.fid = c.fb AND bb.k = ba.k
       |        GROUP BY 1, 2
       |        HAVING sum(bit_count(xor(ba.v, bb.v))) <= 10),
       |vp AS (SELECT fa // 16 AS id_a, fb // 16 AS id_b,
       |         CAST(count(*) AS INT) AS matched_frames
       |       FROM ham WHERE fa // 16 <> fb // 16
       |       GROUP BY 1, 2
       |       HAVING count(*) >= 2)
       |SELECT v.id_a, v.id_b, va.variant AS variant_a, vb.variant AS variant_b,
       |  v.matched_frames
       |FROM vp v
       |JOIN vids va ON va.video_id = v.id_a
       |JOIN vids vb ON vb.video_id = v.id_b
       |ORDER BY v.id_a, v.id_b""".stripMargin
  }

  /** Band-scheme recall at NEAR-THRESHOLD Hamming distances — the
    * measurement that turns m08's "the recall bet narrows with wider
    * bands" claim into gated data. The m06–m08 corpora plant only
    * Hamming-0 invariance classes (any band scheme catches those by
    * construction); [[Multimodal.toPerturbedVideoCorpus]] instead
    * plants copies whose frames differ by 0–2 flipped hash bits per
    * perturbed grid cell, landing each ground-truth pair at a
    * data-dependent frame Hamming in the 1–12 range. For every pair
    * the exact 64-bit Hamming, the narrow verdict (any of four 16-bit
    * bands untouched) and the wide verdict (any of two 32-bit bands
    * untouched — what bandNearDups auto-picks past its 32768-row
    * crossover) are computed;
    * per Hamming bucket the two recalls land as columns. Wide ⊆
    * narrow by construction (a wide band equal needs both its halves
    * equal), so recall_wide ≤ recall_narrow row by row — the price
    * paid for the 100×-measured candidate-blowup fix, now a number. */
  private def m13(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.toPerturbedVideoCorpus(Corpus.documents(spark, dir))
    val fps = Multimodal.dhashBands(Multimodal.videoFrameMedia(corpus))
    val a = fps.toDF("fid", "a0", "a1", "a2", "a3").filter(col("fid") < 16000000L)
    val b = fps.toDF("bfid", "c0", "c1", "c2", "c3").filter(col("bfid") >= 16000000L)
    a.join(b, col("bfid") === col("fid") + 16000000L)
      .withColumn("hamming", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + bit_count(a2 ^ c2) + bit_count(a3 ^ c3)")
        .cast("long"))
      .withColumn("narrow_hit",
        (col("a0") === col("c0") || col("a1") === col("c1") ||
          col("a2") === col("c2") || col("a3") === col("c3")).cast("long"))
      .withColumn("wide_hit",
        ((col("a0").cast("long") * 65536L + col("a1")) ===
            (col("c0").cast("long") * 65536L + col("c1")) ||
          (col("a2").cast("long") * 65536L + col("a3")) ===
            (col("c2").cast("long") * 65536L + col("c3"))).cast("long"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("narrow_hit")).as("narrow_caught"),
        sum(col("wide_hit")).as("wide_caught"))
      .withColumn("recall_narrow",
        col("narrow_caught").cast("double") / col("n_pairs").cast("double"))
      .withColumn("recall_wide",
        col("wide_caught").cast("double") / col("n_pairs").cast("double"))
      .orderBy(col("hamming"))
  }

  private val m13Sql = {
    val pixFold = Text.mixSql(
      s"'vid:' || CAST((${Text.mixSql("'vid:' || base_id || ':' || f || ':' || bi")}) AS VARCHAR)")
    val pertFold = Text.mixSql(
      s"'pert:' || CAST((${Text.mixSql("'pert:' || base_id || ':' || f || ':' || j")}) AS VARCHAR)")
    s"""WITH vids AS (SELECT doc_id AS base_id, 2 + doc_id % 4 AS nf,
       |                3 + doc_id % 8 AS nk
       |              FROM documents),
       |dims AS (SELECT base_id, f, nk,
       |           9 + base_id % 8 AS w, 8 + base_id % 5 AS h,
       |           (3 * (9 + base_id % 8) + 3) // 4 * 4 AS row_size
       |         FROM vids, LATERAL (SELECT unnest(range(0, nf)) AS f) ff),
       |pert AS (SELECT DISTINCT base_id, f, ($pertFold) % 72 AS c
       |         FROM dims, LATERAL (SELECT unnest(range(0, nk)) AS j) jj),
       |cells AS (SELECT d.base_id, d.f, gy, gx,
       |            (d.h - 1 - (gy * d.h) // 8) * d.row_size + 3 * ((gx * d.w) // 9) AS o
       |          FROM dims d,
       |               LATERAL (SELECT unnest(range(0, 8)) AS gy) yy,
       |               LATERAL (SELECT unnest(range(0, 9)) AS gx) xx),
       |pix AS (SELECT base_id, f, gy, gx, sum(($pixFold) % 200) AS g
       |        FROM (SELECT *, o + j AS bi FROM cells,
       |              LATERAL (SELECT unnest(range(0, 3)) AS j) jj)
       |        GROUP BY 1, 2, 3, 4),
       |gray AS (SELECT x.base_id, x.f, x.gy, x.gx, x.g AS gb,
       |           CASE WHEN p.c IS NOT NULL THEN 765 ELSE x.g END AS gp
       |         FROM pix x LEFT JOIN pert p ON p.base_id = x.base_id
       |              AND p.f = x.f AND p.c = x.gy * 9 + x.gx),
       |bits AS (SELECT l.base_id, l.f, l.gy, l.gx,
       |           CASE WHEN r.gb > l.gb THEN 1 ELSE 0 END AS bitb,
       |           CASE WHEN r.gp > l.gp THEN 1 ELSE 0 END AS bitp
       |         FROM gray l JOIN gray r ON r.base_id = l.base_id AND r.f = l.f
       |              AND r.gy = l.gy AND r.gx = l.gx + 1
       |         WHERE l.gx < 8),
       |bands AS (SELECT base_id, f, gy // 2 AS k,
       |            CAST(sum(bitb * (1 << ((gy % 2) * 8 + gx))) AS BIGINT) AS vb,
       |            CAST(sum(bitp * (1 << ((gy % 2) * 8 + gx))) AS BIGINT) AS vp
       |          FROM bits GROUP BY 1, 2, 3),
       |pairm AS (SELECT base_id, f,
       |            CAST(sum(bit_count(xor(vb, vp))) AS BIGINT) AS hamming,
       |            max(CASE WHEN vb = vp THEN 1 ELSE 0 END) AS narrow_hit
       |          FROM bands GROUP BY 1, 2),
       |widem AS (SELECT base_id, f,
       |            max(CASE WHEN wvb = wvp THEN 1 ELSE 0 END) AS wide_hit
       |          FROM (SELECT base_id, f, k // 2 AS k2,
       |                  sum(CASE WHEN k % 2 = 0 THEN vb * 65536 ELSE vb END) AS wvb,
       |                  sum(CASE WHEN k % 2 = 0 THEN vp * 65536 ELSE vp END) AS wvp
       |                FROM bands GROUP BY 1, 2, 3) z
       |          GROUP BY 1, 2)
       |SELECT p.hamming, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(p.narrow_hit) AS BIGINT) AS narrow_caught,
       |  CAST(sum(w.wide_hit) AS BIGINT) AS wide_caught,
       |  CAST(sum(p.narrow_hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_narrow,
       |  CAST(sum(w.wide_hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_wide
       |FROM pairm p JOIN widem w ON w.base_id = p.base_id AND w.f = p.f
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Per-image quality statistics ([[Multimodal.imageStats]]) over the
    * planted image corpus: mean/variance of the B+G+R luminance and
    * horizontal gradient energy (sharpness — the standard no-reference
    * blur proxy), all from a REAL BMP decode. Integer pixel sums stay
    * exact BIGINTs (no decimal detour), so the oracle predicts every
    * pixel byte from the generation arithmetic (the m06 double-remix
    * discipline), rebuilds the per-pixel grays, and replays every sum,
    * variance, and gradient — including that the planted "bright"
    * variants shift mean by EXACTLY 30 while variance and sharpness are
    * bit-identical to their base (shift-invariance as gated data). */
  private def m09(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Multimodal.toImageCorpus(Corpus.documents(spark, dir))
    Multimodal.imageStats(corpus)
      .join(corpus.select(col("image_id"), col("variant")), "image_id")
      .select(col("image_id"), col("variant"), col("width"), col("height"),
        col("n_pixels"), col("sum_gray"), col("mean_gray"), col("variance"),
        col("sharpness"))
      .orderBy(col("image_id"))
  }

  private val m09Sql = {
    val fold = Text.mixSql(
      s"'img:' || CAST((${Text.mixSql("'img:' || base_id || ':' || bi")}) AS VARCHAR)")
    s"""WITH imgs AS (
       |  SELECT doc_id AS base_id, doc_id AS image_id, 'base' AS variant FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1000000 + doc_id, 'bright' FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id, 2000000 + doc_id, 'perturb' FROM documents WHERE doc_id % 11 = 0),
       |dims AS (SELECT image_id, base_id, variant,
       |           9 + base_id % 8 AS w, 8 + base_id % 5 AS h,
       |           (3 * (9 + base_id % 8) + 3) // 4 * 4 AS row_size
       |         FROM imgs),
       |fb AS (SELECT d.image_id, d.variant, d.w, d.h, y, x,
       |         y * d.row_size + 3 * x + j AS bi,
       |         ($fold) % 200 AS fv
       |       FROM dims d,
       |            LATERAL (SELECT unnest(range(0, d.h)) AS y) yy,
       |            LATERAL (SELECT unnest(range(0, d.w)) AS x) xx,
       |            LATERAL (SELECT unnest(range(0, 3)) AS j) jj),
       |vals AS (SELECT image_id, w, h, y, x,
       |           CASE WHEN variant = 'bright' THEN fv + 10
       |                WHEN variant = 'perturb' AND bi % 97 = 0 THEN (fv + 100) % 200
       |                ELSE fv END AS b
       |         FROM fb),
       |gray AS (SELECT image_id, max(w) AS w, max(h) AS h, y, x,
       |           sum(b) AS g
       |         FROM vals GROUP BY image_id, y, x),
       |stats AS (SELECT image_id, max(w) AS w, max(h) AS h,
       |            CAST(count(*) AS BIGINT) AS n_pixels,
       |            CAST(sum(g) AS BIGINT) AS sum_gray,
       |            CAST(sum(g * g) AS BIGINT) AS sum_sq
       |          FROM gray GROUP BY image_id),
       |grad AS (SELECT l.image_id,
       |           CAST(sum(abs(r.g - l.g)) AS BIGINT) AS sharpness
       |         FROM gray l JOIN gray r ON r.image_id = l.image_id
       |              AND r.y = l.y AND r.x = l.x + 1
       |         GROUP BY 1)
       |SELECT s.image_id, i.variant, CAST(s.w AS INT) AS width,
       |  CAST(s.h AS INT) AS height, s.n_pixels, s.sum_gray,
       |  CAST(s.sum_gray AS DOUBLE) / CAST(s.n_pixels AS DOUBLE) AS mean_gray,
       |  CAST(s.sum_sq AS DOUBLE) / CAST(s.n_pixels AS DOUBLE)
       |    - (CAST(s.sum_gray AS DOUBLE) / CAST(s.n_pixels AS DOUBLE))
       |      * (CAST(s.sum_gray AS DOUBLE) / CAST(s.n_pixels AS DOUBLE)) AS variance,
       |  g.sharpness
       |FROM stats s
       |JOIN imgs i USING (image_id)
       |JOIN grad g USING (image_id)
       |ORDER BY s.image_id""".stripMargin
  }

  /** Shot-boundary detection over the planted-shot video corpus
    * ([[Multimodal.shotBoundaries]] at threshold 40 — an order of
    * magnitude above the jitter noise and below the cut jump). The
    * oracle predicts every frame's mean luminance from the generation
    * arithmetic (the m06/m09 double-remix discipline) and replays the
    * threshold verdicts. */
  private def m10(spark: SparkSession, dir: String): DataFrame =
    Multimodal.shotBoundaries(
      Multimodal.toShotVideoCorpus(Corpus.documents(spark, dir)),
      threshold = 40.0)
      .orderBy(col("video_id"), col("frame_idx"))

  /** Shared replay prefix for the planted-shot video corpus
    * ([[Multimodal.toShotVideoCorpus]]): vids/fr/lev/px/mn CTEs
    * predicting every pixel byte and frame mean from the generation
    * arithmetic — ONE definition spliced by both the m10 and m12
    * oracles, so a corpus change cannot silently diverge them (the
    * GraphSql lesson applied to the multimodal family). */
  private val shotCorpusCtes = {
    val shotFold = Text.mixSql(
      s"'shot:' || CAST((${Text.mixSql("'shot:' || video_id || ':' || s")}) AS VARCHAR)")
    val jitFold = Text.mixSql(
      s"'jit:' || CAST((${Text.mixSql("'jit:' || video_id || ':' || f || ':' || pi")}) AS VARCHAR)")
    s"""vids AS (SELECT doc_id AS video_id, 8 + doc_id % 5 AS w,
       |           6 + doc_id % 4 AS h, 2 + doc_id % 3 AS n_shots,
       |           2 + doc_id % 2 AS fps
       |         FROM documents),
       |fr AS (SELECT v.video_id, v.w, v.h,
       |         CAST(v.n_shots * v.fps AS INT) AS n_frames, ff.f,
       |         ff.f // v.fps AS s
       |       FROM vids v,
       |            LATERAL (SELECT unnest(range(0, v.n_shots * v.fps)) AS f) ff),
       |lev AS (SELECT fr.*,
       |          20 + ($shotFold) % 10
       |             + CASE WHEN s % 2 = 1 THEN 90 ELSE 0 END AS lv
       |        FROM fr),
       |px AS (SELECT video_id, n_frames, w, h, f,
       |         lv + ($jitFold) % 5 AS b, pi // w AS y, pi % w AS x
       |       FROM lev,
       |            LATERAL (SELECT unnest(range(0, lev.w * lev.h)) AS pi) pp),
       |mn AS (SELECT video_id, max(n_frames) AS n_frames, f,
       |         CAST(SUM(3 * b) AS DOUBLE) / (max(w) * max(h)) AS mean
       |       FROM px GROUP BY video_id, f)""".stripMargin
  }

  private val m10Sql =
    s"""WITH $shotCorpusCtes,
       |b AS (SELECT c.video_id, c.n_frames, CAST(c.f AS INT) AS frame_idx,
       |        p.mean AS prev_mean, c.mean AS cur_mean,
       |        abs(c.mean - p.mean) AS delta
       |      FROM mn c JOIN mn p ON p.video_id = c.video_id AND p.f = c.f - 1)
       |SELECT video_id, n_frames, frame_idx, prev_mean, cur_mean, delta
       |FROM b WHERE delta > 40.0
       |ORDER BY video_id, frame_idx""".stripMargin

  /** The IVF fit+probe CTE chain shared verbatim by the v04 and v05
    * oracles: the deterministic Lloyd coarse quantizer
    * ([[Similarity.lloydFit]] — fingerprint-smallest init, 2 rounds,
    * decimal-detour recenters; the v15 recipe at k=16), then the probe —
    * per-query cell ranking by |c|²−2q·c over the FINAL centroids, the
    * 4-of-16 cell candidate join, cosine top-10. Ends with an `approx`
    * CTE of shape (query_id, rank, neighbor_id, cos_sim). */
  /** CTE chain replaying [[Similarity.lloydFit]] over an in-scope CTE
    * `n` (vec_id, v, nrm): fingerprint-smallest init `c0` (k rows),
    * then alternating assign/recenter rounds — the v15 recipe with the
    * assignment CTEs carrying v/nrm for downstream probes. The final
    * assignment CTE is `a${iterations - 1}` (vec_id, v, nrm, cid, d)
    * under centroids `c${iterations - 1}` — the fit's contract: the
    * last round assigns without recentering. Shared verbatim by the
    * v04/v05 IVF oracles and the v08 SemDeDup oracle. */
  private def lloydChainSql(k: Int, iterations: Int): String = {
    val fp = Text.mixSql("CAST(vec_id AS VARCHAR)")
    def l2full(v: String, cv: String) =
      s"list_sum(list_transform(list_zip($v, $cv), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    def assign(cPrev: String, a: String) =
      s"""$a AS (
         |  SELECT vec_id, v, nrm, cid, d FROM (
         |    SELECT vec_id, v, nrm, cid, d,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         |    FROM (SELECT n.vec_id, n.v, n.nrm, c.cid, ${l2full("n.v", "c.cv")} AS d
         |          FROM n, $cPrev c))
         |  WHERE rk = 1)""".stripMargin
    def recenter(a: String, cPrev: String, cNext: String) =
      s"""$cNext AS (
         |  SELECT prev.cid, COALESCE(nw.cv, prev.cv) AS cv
         |  FROM $cPrev prev LEFT JOIN (
         |    SELECT cid, list(mv ORDER BY dim) AS cv FROM (
         |      SELECT a.cid, CAST(dim AS INT) AS dim,
         |        ${Num.dsumSql("a.v[dim]")} / COUNT(a.v[dim]) AS mv
         |      FROM $a a,
         |        LATERAL (SELECT unnest(range(1, len(a.v) + 1)) AS dim) dd
         |      GROUP BY a.cid, dim)
         |    GROUP BY cid) nw ON prev.cid = nw.cid)""".stripMargin
    val rounds = (0 until iterations).map { t =>
      if (t < iterations - 1)
        s"${assign(s"c$t", s"a$t")},\n${recenter(s"a$t", s"c$t", s"c${t + 1}")}"
      else assign(s"c$t", s"a$t")
    }.mkString(",\n")
    s"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY fp, vec_id) - 1 AS BIGINT) AS cid,
       |         v AS cv
       |       FROM (SELECT vec_id, v, $fp AS fp FROM n ORDER BY fp, vec_id LIMIT $k)),
       |$rounds""".stripMargin
  }

  private val ivfProbeCtes: String = {
    // final fit round's CTE names under IvfFitIterations rounds
    val cF = s"c${graft.operators.Similarity.IvfFitIterations - 1}"
    val aF = s"a${graft.operators.Similarity.IvfFitIterations - 1}"
    s"""$normedCte,
       |${lloydChainSql(16, graft.operators.Similarity.IvfFitIterations)},
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
       |cd AS (SELECT q.query_id, q.qv, q.qnrm, c.cid AS cell,
       |         ${zipDot("c.cv", "c.cv")}
       |           - CAST(2.0 AS DOUBLE) * ${zipDot("q.qv", "c.cv")} AS cdist
       |       FROM q, $cF c),
       |pb AS (SELECT query_id, qv, qnrm, cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cdist, cell) AS crank
       |         FROM cd)
       |       WHERE crank <= 4),
       |s AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |        ${zipDot("a.v", "p.qv")} / (a.nrm * p.qnrm) AS cos_sim
       |      FROM $aF a JOIN pb p ON a.cid = p.cell AND a.vec_id <> p.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |      FROM s),
       |approx AS (SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
       |           FROM r WHERE rank <= 10)""".stripMargin
  }

  /** IVF-bucketed approximate top-k (deterministic Lloyd coarse
    * quantizer, 4-of-16 cell probes) with the measured `recall_at_k`
    * column (exact side hash-sampled, see [[recallSample]]).
    * Oracle-gated since r11: the fit moved off MLlib KMeans onto the
    * engine's own [[Similarity.lloydFit]], so DuckDB replays the init
    * pick, both Lloyd rounds, every cell ranking, the probe join, and
    * the recall arithmetic — hash-exact. */
  private def v04(spark: SparkSession, dir: String): DataFrame = {
    val emb = Corpus.embeddings(spark, dir)
    Similarity.withMeasuredRecall(
      Similarity.ivfTopK(spark, emb, nQueries = 5, k = 10),
      Similarity.cosineTopKForQueries(spark, emb, recallSample(5), k = 10))
  }

  private val v04Sql =
    s"""WITH $ivfProbeCtes,
       |${recallTailSql(10)}""".stripMargin

  /** IVF index round trip — the serve-path shape: the corpus is signed
    * ONCE into a persisted centroids+assignments index (cell-partitioned
    * parquet), then the query batch probes the on-disk index without
    * re-fitting the quantizer. Bit-identical to v04's in-memory path
    * (deterministic fit; doubles round-trip parquet exactly — asserted in
    * SimilaritySpec), so its oracle is the SAME fit+probe chain minus
    * the recall column — the persisted lifecycle must reproduce the
    * in-memory answer to the bit (the v11/t53 discipline). */
  private def v05(spark: SparkSession, dir: String): DataFrame = {
    val emb = Corpus.embeddings(spark, dir)
    val idx = CacheRegistry.scratchDir(spark, "graft_ivf_idx_")
    Similarity.buildIvfIndex(spark, emb, idx)
    Similarity.ivfTopKAgainstIndex(spark, emb.filter(col("vec_id") < 5), idx, k = 10)
  }

  private[queries] val v05Sql =
    s"""WITH $ivfProbeCtes
       |SELECT query_id, rank, neighbor_id, cos_sim FROM approx
       |ORDER BY query_id, rank""".stripMargin

  /** Embedding dedup end-to-end: the v02 near-dup pairs fold into
    * connected components (same [[Dedup.dupClusters]] min-label
    * propagation the text pipeline uses — the operator is
    * representation-agnostic), labeling every planted copy with its
    * source vector's id. Oracle: DuckDB recursive-CTE transitive closure
    * over the same brute-forced pair set, so the hash gate checks the
    * component labeling over embedding-space edges. */
  private def v06(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(
      Similarity.nearDupPairs(spark, plantedEmbeddings(spark, dir), threshold = 0.9)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))

  /** Int8 scalar quantization of the embedding table
    * ([[graft.operators.Similarity.quantizeInt8]]) — per-vector scale,
    * quantized-code checksum, and worst reconstruction error. The codes
    * themselves are an array column; the oracle gates on a positionally
    * WEIGHTED checksum (Σ qᵢ·i) computed by both engines, which any
    * reordering, off-by-one, or mis-rounded code changes — plus the
    * bit-exact scale and max_err doubles. */
  private def v07(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Corpus.embeddings(spark, dir))
      .select(
        col("vec_id"),
        size(col("q")).cast("long").as("n_dims"),
        col("scale"),
        aggregate(
          zip_with(col("q"), sequence(lit(1), size(col("q"))),
            (qi, i) => qi.cast("long") * i.cast("long")),
          lit(0L), (acc, e) => acc + e).as("q_checksum"),
        col("max_err"))
      .orderBy(col("vec_id"))

  // the CASE arms mirror quantizeInt8's all-zero-vector guard (scale 0,
  // all-zero codes, zero error) — without them a zero embedding would
  // divide by list_max(...) = 0 and diverge from the Spark side
  private val v07Sql =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |s AS (SELECT vec_id, v,
       |        CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 0.0
       |             ELSE 127.0 / list_max(list_transform(v, x -> abs(x))) END AS scale
       |      FROM v)
       |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, scale,
       |  CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(list_sum(list_transform(range(1, len(v) + 1),
       |         i -> CAST(round(v[i] * scale) AS BIGINT) * i)) AS BIGINT) END AS q_checksum,
       |  CASE WHEN scale = 0 THEN 0.0
       |       ELSE list_max(list_transform(v, x -> abs(x - round(x * scale) / scale))) END AS max_err
       |FROM s
       |ORDER BY vec_id""".stripMargin

  private val v06Sql =
    s"""WITH RECURSIVE $plantedPairsCtes,
       |pairs AS (SELECT vec_a, vec_b FROM s WHERE cos_sim >= 0.9),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |clusters AS (SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id)
       |SELECT c.vec_id, c.cluster_id, z.cluster_size
       |FROM clusters c JOIN sizes z ON c.cluster_id = z.cluster_id
       |ORDER BY c.vec_id""".stripMargin

  /** SemDeDup ([[graft.operators.Similarity.semDedup]]) over the planted
    * corpus: deterministic fingerprint-picked centroids (k=8),
    * nearest-centroid assignment, keep-one-per-ε-ball verdict at
    * cos ≥ 0.9. The planted near-dups (cos ≈ 0.97) are what gives the
    * dedup real drops; the DuckDB oracle replays the ENTIRE pipeline —
    * centroid pick (same portable fold the split oracles gate on),
    * assignment argmax, within-cluster ε-ball check — so the hash gates
    * every verdict, keeps included. */
  private def v08(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(spark, plantedEmbeddings(spark, dir), k = 8, threshold = 0.9)

  private val v08Sql = {
    // the SemDeDup clustering is the r11 lloydFit (2 refinement rounds,
    // the full published recipe) over the PLANTED corpus — the chain's
    // `n` comes from plantedPairsCtes, so the init pick, both Lloyd
    // rounds, every sq_dist, and the within-cluster ε-ball verdicts all
    // replay against the corpus the engine actually deduped
    val aF = "a1"
    s"""WITH $plantedPairsCtes,
       |${lloydChainSql(8, 2)},
       |dup AS (SELECT DISTINCT i.vec_id FROM $aF i JOIN $aF j
       |        ON i.cid = j.cid AND j.vec_id < i.vec_id
       |        WHERE list_sum(list_transform(range(1, len(i.v) + 1), x -> i.v[x] * j.v[x]))
       |            / (i.nrm * j.nrm) >= 0.9)
       |SELECT vec_id, cid AS cluster, d AS sq_dist,
       |  vec_id NOT IN (SELECT vec_id FROM dup) AS keep
       |FROM $aF ORDER BY vec_id""".stripMargin
  }

  /** Product-quantization ADC top-k
    * ([[graft.operators.Similarity.pqTopK]]; Jégou et al., TPAMI 2011):
    * 64-dim vectors → 8 subspaces × 16-centroid codebook (fingerprint-
    * picked, the v08 rule) → 8-byte codes (32× smaller than the floats —
    * the memory tier that makes billion-vector ANN fit RAM), queries
    * ranked by asymmetric distance over the codes alone. The oracle
    * replays the codebook pick, every subspace argmin (smaller-j
    * tie-break), each query's distance table, the ADC fold, and the
    * (adist asc, vec_id asc) ranking — hash-gating codes and distances
    * end to end. */
  private def v09(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(spark, Corpus.embeddings(spark, dir), nQueries = 5,
      k = 10, dim = 64, nSub = 8, codebookK = 16)

  private val v09Sql = {
    val fold = Text.mixSql("CAST(vec_id AS VARCHAR)")
    def l2(a: String, b: String) =
      s"list_sum(list_transform(range(1, 9), i -> ($a[s*8+i] - $b[s*8+i]) * ($a[s*8+i] - $b[s*8+i])))"
    s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |cent AS (SELECT j, cv FROM (
       |    SELECT v AS cv, row_number() OVER (ORDER BY $fold, vec_id) - 1 AS j FROM n)
       |  WHERE j < 16),
       |sub AS (SELECT unnest(range(0, 8)) AS s),
       |ed AS (SELECT n.vec_id, c.j, sub.s, ${l2("n.v", "c.cv")} AS d
       |       FROM n, cent c, sub),
       |codes AS (SELECT vec_id, list(j ORDER BY s) AS codes FROM (
       |    SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
       |    FROM ed) WHERE rn = 1
       |  GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id < 5),
       |qd AS (SELECT q.query_id, c.j, sub.s, ${l2("q.qv", "c.cv")} AS d
       |       FROM q, cent c, sub),
       |dflat AS (SELECT query_id, list(d ORDER BY j, s) AS dflat FROM qd GROUP BY query_id),
       |ad AS (SELECT c.vec_id AS neighbor_id, f.query_id,
       |        list_sum(list_transform(range(0, 8), s -> f.dflat[c.codes[s+1] * 8 + s + 1])) AS adist
       |       FROM codes c, dflat f WHERE c.vec_id <> f.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
       |      FROM ad)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist
       |FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ top-k ([[graft.operators.Similarity.ivfPqTopK]]; Jégou et
    * al. TPAMI 2011 §V — FAISS's `IndexIVFPQ`): 8 fingerprint-picked
    * coarse cells, vectors PQ-encoded as residuals against their cell
    * centroid, queries probing their 3 nearest cells and ranking
    * members by asymmetric distance over the 8-byte codes — pruning ×
    * compression, the composition that serves billion-vector indexes
    * from RAM. The oracle replays the coarse pick, every cell
    * assignment, the residuals, the residual codebook, every subspace
    * argmin, the per-(query, cell) distance tables, the ADC fold, and
    * the final ranking — end-to-end hash-gated, which the KMeans-based
    * v04/v05 family cannot be. */
  private def v10(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(spark, Corpus.embeddings(spark, dir), nQueries = 5,
      k = 10, dim = 64, nSub = 8, codebookK = 16, nCells = 8, nProbe = 3)

  private val v10Sql = {
    val fold = Text.mixSql("CAST(vec_id AS VARCHAR)")
    def l2sub(a: String, b: String) =
      s"list_sum(list_transform(range(1, 9), i -> ($a[s*8+i] - $b[s*8+i]) * ($a[s*8+i] - $b[s*8+i])))"
    def l2full(a: String, b: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    s"""WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |co AS (SELECT cell, ccv FROM (
       |    SELECT vec_id AS cell, v AS ccv, row_number() OVER (ORDER BY $fold, vec_id) AS rn FROM n)
       |  WHERE rn <= 8),
       |ad0 AS (SELECT n.vec_id, n.v, co.cell, co.ccv, ${l2full("n.v", "co.ccv")} AS d
       |        FROM n, co),
       |asg AS (SELECT vec_id, v, cell, ccv FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ad0)
       |  WHERE rn = 1),
       |res AS (SELECT vec_id, cell,
       |          list_transform(range(1, 65), i -> v[i] - ccv[i]) AS r
       |        FROM asg),
       |cb AS (SELECT j, cbv FROM (
       |    SELECT r AS cbv, row_number() OVER (ORDER BY $fold, vec_id) - 1 AS j
       |    FROM res WHERE vec_id <> cell)
       |  WHERE j < 16),
       |sub AS (SELECT unnest(range(0, 8)) AS s),
       |ed AS (SELECT res.vec_id, cb.j, sub.s, ${l2sub("res.r", "cb.cbv")} AS d
       |       FROM res, cb, sub),
       |codes AS (SELECT vec_id, list(j ORDER BY s) AS codes FROM (
       |    SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
       |    FROM ed) WHERE rn = 1
       |  GROUP BY vec_id),
       |cwc AS (SELECT c.vec_id, a.cell, c.codes FROM codes c JOIN asg a USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id < 5),
       |qc0 AS (SELECT q.query_id, q.qv, co.cell, co.ccv, ${l2full("q.qv", "co.ccv")} AS d
       |        FROM q, co),
       |qc AS (SELECT query_id, cell,
       |         list_transform(range(1, 65), i -> qv[i] - ccv[i]) AS qr
       |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn
       |             FROM qc0) WHERE rn <= 3),
       |qd AS (SELECT qc.query_id, qc.cell, cb.j, sub.s, ${l2sub("qc.qr", "cb.cbv")} AS d
       |       FROM qc, cb, sub),
       |df AS (SELECT query_id, cell, list(d ORDER BY j, s) AS dflat
       |       FROM qd GROUP BY query_id, cell),
       |ad AS (SELECT c.vec_id AS neighbor_id, f.query_id,
       |        list_sum(list_transform(range(0, 8), s -> f.dflat[c.codes[s+1] * 8 + s + 1])) AS adist
       |       FROM cwc c JOIN df f ON c.cell = f.cell WHERE c.vec_id <> f.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
       |      FROM ad)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist
       |FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Persisted PQ index lifecycle
    * ([[graft.operators.Similarity.buildPqIndex]] /
    * [[Similarity.pqTopKAgainstIndex]]): encode once — codebook + the
    * 8-byte-per-vector code table + params side file — probe many,
    * reading codes and codebook ONLY (where PQ's 32× compression
    * actually pays: the serving path never touches a float vector).
    * The oracle is v09's VERBATIM: the persisted probe must reproduce
    * the in-memory ADC ranking bit for bit, which gates the parquet
    * round-trip, the params plumbing, and the read-back encode in one
    * stroke — the oracle-gateable analogue of the KMeans-based v05. */
  private def v11(spark: SparkSession, dir: String): DataFrame = {
    val emb = Corpus.embeddings(spark, dir)
    val idx = CacheRegistry.scratchDir(spark, "graft_pq_idx_")
    Similarity.buildPqIndex(spark, emb, idx)
    Similarity.pqTopKAgainstIndex(spark, emb.filter(col("vec_id") < 5), idx, k = 10)
  }

  /** Binary sign-quantized top-k ([[graft.operators.Similarity.binaryTopK]];
    * sign-random-projection codes, Charikar STOC'02): one 64-bit code per
    * vector (63 sign bits, the SimHash packing discipline), whole-corpus
    * Hamming ranking over codes alone, exact cosine rerank of the top-32
    * pool per query. Fully deterministic, so unlike the KMeans-fitted IVF
    * tier every stage is oracle-gated: DuckDB replays the codes, every
    * popcount distance, the candidate cut (ties on vec_id), and the
    * reranked cosine ordering. */
  private def v12(spark: SparkSession, dir: String): DataFrame =
    Similarity.binaryTopK(spark, Corpus.embeddings(spark, dir),
      nQueries = 8, k = 10, rerank = 32)

  private val v12Sql =
    s"""WITH $normedCte,
       |c AS (SELECT vec_id, CAST(list_sum(list_transform(range(0, 63), d ->
       |        CASE WHEN v[d + 1] > 0 THEN (CAST(1 AS BIGINT) << d) ELSE CAST(0 AS BIGINT) END))
       |        AS BIGINT) AS code
       |      FROM n),
       |qc AS (SELECT vec_id AS query_id, code AS qcode FROM c WHERE vec_id < 8),
       |h AS (SELECT qc.query_id, c.vec_id AS neighbor_id,
       |        bit_count(xor(c.code, qc.qcode)) AS hamming
       |      FROM c, qc WHERE c.vec_id <> qc.query_id),
       |cd AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY hamming, neighbor_id) AS rk FROM h)
       |       WHERE rk <= 32),
       |s AS (SELECT cd.query_id, cd.neighbor_id,
       |        $dotSql / (a.nrm * q.qnrm) AS cos_sim
       |      FROM cd JOIN n a ON cd.neighbor_id = a.vec_id
       |        JOIN (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
       |              WHERE vec_id < 8) q ON cd.query_id = q.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
       |FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** K-center greedy coreset ([[graft.operators.Similarity.kCenterGreedy]];
    * Gonzalez'85 / Sener & Savarese ICLR'18): 8 diversity picks, each the
    * vector farthest (squared L2) from all previous picks, seeded at the
    * smallest remixed fingerprint. The oracle replays the whole greedy
    * chain — a recursive CTE carrying the chosen centers, re-deriving
    * every running-min fold and every farthest-point argmax with its
    * vec_id tie-break — so the k sequential scan+argmax rounds are
    * hash-gated end to end, covering-radius trace included. */
  private def v13(spark: SparkSession, dir: String): DataFrame =
    Similarity.kCenterGreedy(spark, Corpus.embeddings(spark, dir), k = 8)

  private val v13Sql = {
    val fp = Text.mixSql("CAST(vec_id AS VARCHAR)")
    s"""WITH RECURSIVE
       |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |sel AS (
       |  (SELECT 1 AS round, vec_id, CAST(0.0 AS DOUBLE) AS picked_dist,
       |     [vec_id] AS ids, [v] AS centers
       |   FROM n ORDER BY $fp, vec_id LIMIT 1)
       |  UNION ALL
       |  (SELECT s.round + 1, c.vec_id, c.d, s.ids || [c.vec_id], s.centers || [c.v]
       |   FROM sel s, LATERAL (
       |     SELECT n.vec_id, n.v,
       |       list_reduce(list_transform(s.centers, ct ->
       |         list_sum(list_transform(list_zip(n.v, ct),
       |           p -> (p[1] - p[2]) * (p[1] - p[2])))),
       |         (a, b) -> least(a, b)) AS d
       |     FROM n WHERE NOT list_contains(s.ids, n.vec_id)
       |     ORDER BY d DESC, n.vec_id LIMIT 1) c
       |   WHERE s.round < 8))
       |SELECT CAST(round AS BIGINT) AS round, vec_id, picked_dist
       |FROM sel ORDER BY round""".stripMargin
  }

  /** Contrastive pair mining
    * ([[graft.operators.Similarity.contrastivePairs]]; Karpukhin et al.
    * EMNLP'20 — the DPR hard-negative recipe): per query, the exact
    * nearest neighbor as positive, ranks 2–4 as hard negatives, and 3
    * fingerprint-drawn random negatives excluding everything ranked.
    * The oracle replays the full ranking, every role assignment, the
    * anti-join exclusion, the remixed-uniform draw order, and the random
    * negatives' cosines. */
  private def v14(spark: SparkSession, dir: String): DataFrame =
    Similarity.contrastivePairs(spark, Corpus.embeddings(spark, dir),
      nQueries = 4, nHard = 3, nRand = 3, seed = "cp-r10")

  private val v14Sql = {
    val fp = Text.mixSql("'cp-r10:' || CAST(q.query_id AS VARCHAR) || ':' || CAST(a.vec_id AS VARCHAR)")
    s"""WITH $normedCte,
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 4),
       |s AS (SELECT q.query_id, a.vec_id AS neighbor_id,
       |        $dotSql / (a.nrm * q.qnrm) AS cos_sim
       |      FROM n a, q WHERE a.vec_id <> q.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, neighbor_id) AS rank
       |      FROM s),
       |ranked AS (SELECT * FROM r WHERE rank <= 4),
       |lab AS (SELECT query_id,
       |          CASE WHEN rank = 1 THEN 'positive' ELSE 'hard_neg' END AS role,
       |          CAST(CASE WHEN rank = 1 THEN 1 ELSE rank - 1 END AS BIGINT) AS role_rank,
       |          neighbor_id AS vec_id, cos_sim
       |        FROM ranked),
       |cand AS (SELECT q.query_id, a.vec_id, $fp AS fp
       |         FROM n a, q
       |         WHERE a.vec_id <> q.query_id
       |           AND NOT EXISTS (SELECT 1 FROM ranked k
       |             WHERE k.query_id = q.query_id AND k.neighbor_id = a.vec_id)),
       |rd AS (SELECT query_id, vec_id,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY fp, vec_id) AS BIGINT) AS role_rank
       |       FROM cand),
       |rnd AS (SELECT rd.query_id, 'rand_neg' AS role, rd.role_rank, rd.vec_id,
       |          $dotSql / (a.nrm * q.qnrm) AS cos_sim
       |        FROM rd JOIN n a ON rd.vec_id = a.vec_id
       |          JOIN q ON rd.query_id = q.query_id
       |        WHERE rd.role_rank <= 3)
       |SELECT query_id, role, role_rank, vec_id, cos_sim FROM lab
       |UNION ALL
       |SELECT query_id, role, role_rank, vec_id, cos_sim FROM rnd
       |ORDER BY query_id, role, role_rank""".stripMargin
  }

  /** Deterministic Lloyd k-means
    * ([[graft.operators.Similarity.lloydKMeans]]): 8 fingerprint-picked
    * centroids, three assign/recenter iterations, decimal-detour
    * centroid means — the fully gated variant of the clustering the
    * MLlib-fitted IVF tier keeps rows-only. The oracle chains all three
    * iterations as CTEs: every squared-L2 fold, every (distance, cid)
    * argmin, every per-(cluster, dim) decimal mean, and the
    * empty-cluster carry are replayed, and the final assignment must
    * match bit for bit. */
  private def v15(spark: SparkSession, dir: String): DataFrame =
    Similarity.lloydKMeans(spark, Corpus.embeddings(spark, dir),
      k = 8, iterations = 3)

  // the shared lloydChainSql verbatim (one SQL definition of the Lloyd
  // recipe for v04/v05/v08/v15 — a fix to the fold arithmetic or a
  // tie-break can no longer de-synchronize the gates); the carried nrm
  // column is projected away by the final select
  private val v15Sql =
    s"""WITH $normedCte,
       |${lloydChainSql(8, 3)}
       |SELECT vec_id, cid AS cluster, d AS sq_dist FROM a2
       |ORDER BY vec_id""".stripMargin

  /** Deterministic k-means++ D² seeding
    * ([[graft.operators.Similarity.kmeansPlusPlusSeed]]; Arthur &
    * Vassilvitskii SODA 2007): 8 seeds over the corpus, each round's
    * D²-proportional draw realized as a round-salted Efraimidis single
    * draw (the t56 machinery at k = 1). The oracle replays the entire
    * chain in one recursive CTE — every uniform, every argmax ln(u)/D²
    * pick, and every round's decimal-detour inertia — the v13 greedy-
    * chain recipe with a randomized (but hash-deterministic) argmax. */
  private def v16(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeansPlusPlusSeed(spark, Corpus.embeddings(spark, dir),
      k = 8, seed = "kpp-r12")

  private val v16Sql = {
    // round-salted uniform over alias `a`, round expression `rExpr`
    def uSql(rExpr: String, alias: String) =
      s"CAST((${Text.mixSql(s"'kpp-r12:' || $rExpr || ':' || CAST($alias.vec_id AS VARCHAR)")}) + 1 AS DOUBLE) / CAST(2147483647 AS DOUBLE)"
    // squared L2 of n2.v against a centroid list element `ct`
    val sqTo = "ct -> list_sum(list_transform(list_zip(n2.v, ct), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    def minTo(centers: String) =
      s"list_reduce(list_transform($centers, $sqTo), (a, b) -> least(a, b))"
    // candidate D² in the recursive pick (alias n2 inside the LATERAL)
    s"""WITH RECURSIVE
       |n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |sel AS (
       |  (SELECT 1 AS round, c.vec_id AS seed_id, [c.v] AS centers,
       |     (SELECT CAST(SUM(CAST(
       |        list_sum(list_transform(list_zip(n2.v, c.v),
       |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS DECIMAL(30,6))) AS DOUBLE)
       |      FROM n n2) AS inertia
       |   FROM n c ORDER BY ${uSql("'1'", "c")} DESC, c.vec_id LIMIT 1)
       |  UNION ALL
       |  (SELECT s.round + 1, c.vec_id, s.centers || [c.v],
       |     (SELECT CAST(SUM(CAST(${minTo("s.centers || [c.v]")} AS DECIMAL(30,6))) AS DOUBLE)
       |      FROM n n2) AS inertia
       |   FROM sel s, LATERAL (
       |     SELECT n2.vec_id, n2.v
       |     FROM n n2
       |     WHERE ${minTo("s.centers")} > 0
       |     ORDER BY ln(${uSql("CAST(s.round + 1 AS VARCHAR)", "n2")})
       |              / (${minTo("s.centers")}) DESC, n2.vec_id LIMIT 1) c
       |   WHERE s.round < 8))
       |SELECT CAST(round AS BIGINT) AS round, seed_id, inertia
       |FROM sel ORDER BY round""".stripMargin
  }

  /** Approximate maximum-inner-product top-k via norm augmentation
    * ([[Similarity.mipsTopK]]; Bachrach et al. RecSys 2014, Neyshabur &
    * Srebro ICML 2015): the corpus lifts to [x/M ; √(1−‖x‖²/M²)], the
    * query to [q/‖q‖ ; 0], and angular LSH on the LIFTED vectors ranks
    * by raw inner product — the recommender-serving objective no other
    * ANN family member covers (cosine deliberately erases the norm).
    * The oracle replays M (one max), both lifts, the 65-dim plane
    * signatures, the Hamming-2 candidate filter, the exact-dot top-10,
    * and the measured recall against the hash-sampled exact MIPS
    * baseline. */
  private def v17(spark: SparkSession, dir: String): DataFrame = {
    val emb = Corpus.embeddings(spark, dir)
    Similarity.withMeasuredRecall(
      Similarity.mipsTopK(spark, emb, nQueries = 5, k = 10),
      Similarity.mipsExactForQueries(spark, emb, recallSample(5), k = 10))
  }

  private val v17Sql = {
    val planes = graft.operators.Similarity.flatPlanes(8, 65).grouped(65)
      .map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""WITH $normedCte,
       |mm AS (SELECT max(nrm) AS m FROM n),
       |pl AS (SELECT list_transform($planes,
       |         p -> list_transform(p, x -> CAST(x AS DOUBLE))) AS planes),
       |aug AS (SELECT vec_id, v,
       |          list_append(list_transform(v, x -> x / mm.m),
       |            sqrt(greatest(CAST(0 AS DOUBLE),
       |              CAST(1 AS DOUBLE) - (nrm / mm.m) * (nrm / mm.m)))) AS va
       |        FROM n, mm),
       |sg AS (SELECT vec_id, v,
       |         list_transform(planes, p -> ${zipDot("va", "p")} > 0) AS bits
       |       FROM aug, pl),
       |q AS (SELECT query_id, qv,
       |        list_transform(planes, p -> ${zipDot("qa", "p")} > 0) AS qbits
       |      FROM (SELECT vec_id AS query_id, v AS qv,
       |              list_append(list_transform(v, x -> x / nrm),
       |                CAST(0 AS DOUBLE)) AS qa
       |            FROM n WHERE vec_id < 5 AND nrm > 0), pl),
       |s AS (SELECT q.query_id, a.vec_id AS neighbor_id,
       |        ${zipDot("a.v", "q.qv")} AS dot
       |      FROM sg a, q
       |      WHERE a.vec_id <> q.query_id
       |        AND len(list_filter(range(1, len(a.bits) + 1),
       |              i -> a.bits[i] <> q.qbits[i])) <= 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |               ORDER BY dot DESC, neighbor_id) AS rank FROM s),
       |approx AS (SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, dot
       |           FROM r WHERE rank <= 10),
       |sq AS (SELECT query_id, qv FROM q WHERE $recallSampleSql),
       |es AS (SELECT s.query_id, a.vec_id AS neighbor_id,
       |         ${zipDot("a.v", "s.qv")} AS dot
       |       FROM n a, sq s WHERE a.vec_id <> s.query_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |         SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
       |         FROM es) WHERE rank <= 10),
       |rc AS (SELECT e.query_id,
       |         CAST(count(f.neighbor_id) AS DOUBLE) / count(*) AS recall_at_k
       |       FROM ex e LEFT JOIN approx f
       |         ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id
       |       GROUP BY e.query_id)
       |SELECT COALESCE(a.query_id, rc.query_id) AS query_id, a.rank,
       |  a.neighbor_id, a.dot, rc.recall_at_k
       |FROM approx a FULL OUTER JOIN rc ON a.query_id = rc.query_id
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Top principal component of the embedding corpus
    * ([[Similarity.pcaTopComponent]]): scatter matrix, 8 power-iteration
    * rounds, Rayleigh variance and explained-variance fraction — every
    * decimal-detoured sum and every round's normalized matvec replayed
    * by the oracle in one recursive CTE (the v16 recipe on a 64-double
    * state list instead of a centroid list). */
  private def v18(spark: SparkSession, dir: String): DataFrame =
    Similarity.pcaTopComponent(spark, Corpus.embeddings(spark, dir))

  private val v18Sql = {
    val d = 64
    s"""WITH RECURSIVE
       |nv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |       FROM embeddings),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nv),
       |mu AS (SELECT t.i AS i,
       |         CAST(SUM(CAST(v[t.i + 1] AS DECIMAL(30,6))) AS DOUBLE)
       |           / (SELECT c FROM cnt) AS m
       |       FROM nv, range(0, $d) t(i) GROUP BY 1),
       |ml AS (SELECT list(m ORDER BY i) AS ml FROM mu),
       |cent AS (SELECT vec_id, list_transform(list_zip(v, ml.ml), p -> p[1] - p[2]) AS cv
       |         FROM nv, ml),
       |scat AS (SELECT t.i AS i, u.j AS j,
       |           CAST(SUM(CAST(cv[t.i + 1] * cv[u.j + 1] AS DECIMAL(30,6))) AS DOUBLE) AS sv
       |         FROM cent, range(0, $d) t(i), range(0, $d) u(j) GROUP BY 1, 2),
       |d0 AS (SELECT i FROM scat WHERE i = j ORDER BY sv DESC, i LIMIT 1),
       |pw AS (
       |  (SELECT 0 AS it,
       |     (SELECT list(CASE WHEN t.i = d0.i THEN CAST(1 AS DOUBLE)
       |                       ELSE CAST(0 AS DOUBLE) END ORDER BY t.i)
       |      FROM range(0, $d) t(i), d0) AS vec)
       |  UNION ALL
       |  (SELECT p.it + 1,
       |     (SELECT list(w.wi / sqrt((SELECT CAST(SUM(CAST(w2.wi * w2.wi AS DECIMAL(30,6))) AS DOUBLE)
       |                               FROM (SELECT CAST(SUM(CAST(s2.sv * p.vec[s2.j + 1] AS DECIMAL(30,6))) AS DOUBLE) AS wi
       |                                     FROM scat s2 GROUP BY s2.i) w2))
       |                  ORDER BY w.i)
       |      FROM (SELECT s.i AS i, CAST(SUM(CAST(s.sv * p.vec[s.j + 1] AS DECIMAL(30,6))) AS DOUBLE) AS wi
       |            FROM scat s GROUP BY s.i) w) AS vec
       |   FROM pw p WHERE p.it < 8)),
       |fin AS (SELECT vec FROM pw ORDER BY it DESC LIMIT 1),
       |ray AS (SELECT CAST(SUM(CAST(s.sv * f.vec[s.i + 1] * f.vec[s.j + 1] AS DECIMAL(30,6))) AS DOUBLE) AS l
       |        FROM scat s, fin f),
       |tr AS (SELECT CAST(SUM(CAST(sv AS DECIMAL(30,6))) AS DOUBLE) AS t FROM scat WHERE i = j)
       |SELECT t.i AS dim, f.vec[t.i + 1] AS loading,
       |  ray.l / (SELECT c FROM cnt) AS lambda, ray.l / tr.t AS var_frac
       |FROM range(0, $d) t(i), fin f, ray, tr ORDER BY dim""".stripMargin
  }

  /** Johnson-Lindenstrauss ±1 projection 64 → 16 dims with the theorem
    * gated as data ([[Similarity.jlDistortion]]): all 190 pairs among
    * the first 20 vectors carry original/projected distance² and the
    * ratio (concentrated 1 ± O(1/√16)). The fixed-seed sign matrix is
    * interpolated into BOTH engines as a literal (the v17 planes
    * idiom); folds follow the proven list_sum contract. */
  private def v19(spark: SparkSession, dir: String): DataFrame =
    Similarity.jlDistortion(spark, Corpus.embeddings(spark, dir),
      outDims = 16, nSample = 20)

  private val v19Sql = {
    val signs = Similarity.jlSigns(16, 64)
      .map(_.map(java.lang.Double.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val scale = java.lang.Double.toString(1.0 / math.sqrt(16.0))
    def l2(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"
    s"""WITH nv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |            FROM embeddings WHERE vec_id < 20),
       |sg AS (SELECT list_transform($signs,
       |         srow -> list_transform(srow, x -> CAST(x AS DOUBLE))) AS signs),
       |pj AS (SELECT vec_id, v,
       |         list_transform(sg.signs, srow ->
       |           list_sum(list_transform(list_zip(v, srow), z -> z[1] * z[2]))
       |             * CAST($scale AS DOUBLE)) AS y
       |       FROM nv, sg),
       |pr AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       |         ${l2("a.v", "b.v")} AS d2_orig,
       |         ${l2("a.y", "b.y")} AS d2_proj
       |       FROM pj a JOIN pj b ON a.vec_id < b.vec_id)
       |SELECT vec_id_a, vec_id_b, d2_orig, d2_proj,
       |  d2_proj / d2_orig AS ratio
       |FROM pr WHERE d2_orig > 0
       |ORDER BY vec_id_a, vec_id_b""".stripMargin
  }

  /** Matryoshka two-stage retrieval
    * ([[Similarity.matryoshkaTopK]]; Kusupati et al. NeurIPS 2022):
    * first-pass rank on the 16-dim embedding PREFIX, keep k·4 per
    * query, re-rank survivors with the exact 64-dim cosine — the
    * prefix-shortening serving pattern MRL-trained embedding APIs
    * ship. The oracle replays BOTH stages (prefix cosine, the
    * (score DESC, neighbor_id) overfetch cut, then the full-width
    * re-rank), so the hash gates the stage boundary itself — an
    * engine that quietly ranked at full width would produce different
    * rows wherever the prefix ordering disagrees with the full
    * ordering at the overfetch margin. */
  private def v20(spark: SparkSession, dir: String): DataFrame =
    Similarity.matryoshkaTopK(spark, Corpus.embeddings(spark, dir),
      nQueries = 5, k = 10, prefixDims = 16, overfetch = 4)

  private val v20Sql = {
    val pdotSql =
      "list_sum(list_transform(range(1, 16 + 1), i -> a.pv[i] * q.qpv[i]))"
    s"""WITH $normedCte,
       |np AS (SELECT vec_id, v, nrm, v[1:16] AS pv,
       |         sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS pnrm
       |       FROM n),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm,
       |        pv AS qpv, pnrm AS qpnrm
       |      FROM np WHERE vec_id < 5),
       |s1 AS (SELECT q.query_id, a.vec_id AS neighbor_id,
       |         CASE WHEN a.pnrm = 0 OR q.qpnrm = 0 THEN -1.0
       |              ELSE $pdotSql / (a.pnrm * q.qpnrm) END AS psim
       |       FROM np a, q WHERE a.vec_id <> q.query_id),
       |r1 AS (SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY psim DESC, neighbor_id) AS prank
       |       FROM s1),
       |s2 AS (SELECT r.query_id, r.neighbor_id,
       |         $dotSql / (a.nrm * q.qnrm) AS cos_sim
       |       FROM r1 r
       |       JOIN n a ON a.vec_id = r.neighbor_id
       |       JOIN q ON q.query_id = r.query_id
       |       WHERE r.prank <= 40),
       |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                    ORDER BY cos_sim DESC, neighbor_id) AS rank
       |       FROM s2)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
       |FROM r2 WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** MMR-diversified retrieval ([[Similarity.mmrTopK]]; Carbonell &
    * Goldstein SIGIR 1998): top-25 candidate pool per query, then greedy
    * selection of k=8 maximizing `0.7·sim(q,c) − 0.3·max_sel sim(c,s)` —
    * the classic search/RAG result-diversification rule. The oracle
    * UNROLLS the greedy rounds (one chained CTE per pick: the
    * remaining-candidate max-redundancy table, the argmax with the
    * engine's smaller-id tie-break, the growing selected set), so every
    * sequential pick — not just the final set — is hash-gated. */
  private def v21(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(spark, Corpus.embeddings(spark, dir),
      nQueries = 5, k = 8, poolC = 25, lambda = 0.7)

  private val v21Sql = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val om = s"(CAST(1.0 AS DOUBLE) - $lam)"
    val pairDot =
      "list_sum(list_transform(range(1, len(va.v) + 1), i -> va.v[i] * vb.v[i]))"
    // one CTE pair per greedy round r >= 2: m{r} = remaining candidates
    // with max cosine to the selected set, s{r} = this round's argmax
    // pick, sel{r} = the selected set after it. Every chained CTE is
    // MATERIALIZED: DuckDB's default inlining would expand sel{r}'s
    // references to sel{r-1} recursively — an exponential tree of
    // re-evaluations that exhausts file handles long before round 8.
    val rounds = (2 to 8).map { r =>
      s"""m$r AS MATERIALIZED (SELECT c.query_id, c.nid, c.qsim, max(p.sim) AS ms
         |  FROM c JOIN sel${r - 1} s ON s.query_id = c.query_id
         |  JOIN ps p ON p.query_id = c.query_id AND p.ia = c.nid AND p.ib = s.nid
         |  WHERE c.nid NOT IN (SELECT nid FROM sel${r - 1} x
         |                      WHERE x.query_id = c.query_id)
         |  GROUP BY 1, 2, 3),
         |s$r AS MATERIALIZED (SELECT query_id, $r AS rank, nid,
         |    $lam * qsim - $om * ms AS mmr_score, qsim
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY $lam * qsim - $om * ms DESC, nid) AS rn2 FROM m$r)
         |  WHERE rn2 = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1}
         |  UNION ALL SELECT query_id, nid FROM s$r)""".stripMargin
    }.mkString(",\n")
    val union = (1 to 8).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    s"""WITH $normedCte,
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
       |      WHERE vec_id < 5),
       |cs AS (SELECT q.query_id, a.vec_id AS nid,
       |         $dotSql / (a.nrm * q.qnrm) AS qsim
       |       FROM n a, q WHERE a.vec_id <> q.query_id),
       |c AS MATERIALIZED (SELECT query_id, nid, qsim FROM
       |        (SELECT *, row_number() OVER (PARTITION BY query_id
       |                   ORDER BY qsim DESC, nid) AS rn FROM cs)
       |      WHERE rn <= 25),
       |ps AS MATERIALIZED (SELECT a.query_id, a.nid AS ia, b.nid AS ib,
       |         $pairDot / (va.nrm * vb.nrm) AS sim
       |       FROM c a JOIN c b ON a.query_id = b.query_id AND a.nid <> b.nid
       |       JOIN n va ON va.vec_id = a.nid
       |       JOIN n vb ON vb.vec_id = b.nid),
       |s1 AS MATERIALIZED (SELECT query_id, 1 AS rank, nid, $lam * qsim AS mmr_score, qsim
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY $lam * qsim DESC, nid) AS rn2 FROM c)
       |  WHERE rn2 = 1),
       |sel1 AS MATERIALIZED (SELECT query_id, nid FROM s1),
       |$rounds
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, nid AS neighbor_id,
       |  mmr_score, qsim AS cos_sim
       |FROM ($union) ORDER BY query_id, rank""".stripMargin
  }

  /** IVF nprobe sweep ([[Similarity.ivfProbeSweep]]): recall@10 at
    * nprobe ∈ {1, 2, 4, 8, 16} over one shared fit — the tuning curve
    * behind v04's 4-of-16 default, gated as data (the m13 band-recall
    * discipline applied to the probe-count bet). nprobe = 16 scans all
    * cells, so its recall row is 1.0 by construction — the sweep
    * carries its own sanity bound. The oracle replays the shared Lloyd
    * fit once, the cell ranking once, then each probe level's
    * candidate join + top-10 + exact-intersection count. */
  private def v22(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfProbeSweep(spark, Corpus.embeddings(spark, dir),
      nQueries = 5, k = 10, probes = SweepProbes)

  private val SweepProbes = Seq(1, 2, 4, 8, 16)

  private val v22Sql = {
    val cF = s"c${graft.operators.Similarity.IvfFitIterations - 1}"
    val aF = s"a${graft.operators.Similarity.IvfFitIterations - 1}"
    val perProbe = SweepProbes.map { np =>
      s"""SELECT $np AS nprobe, query_id, neighbor_id FROM (
         |  SELECT s.query_id, s.neighbor_id,
         |    row_number() OVER (PARTITION BY s.query_id
         |                       ORDER BY s.cos_sim DESC, s.neighbor_id) AS rank
         |  FROM (SELECT p.query_id, a.vec_id AS neighbor_id,
         |          ${zipDot("a.v", "p.qv")} / (a.nrm * p.qnrm) AS cos_sim
         |        FROM $aF a JOIN pb p ON a.cid = p.cell AND p.crank <= $np
         |        WHERE a.vec_id <> p.query_id) s) x
         |WHERE rank <= 10""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $normedCte,
       |${lloydChainSql(16, graft.operators.Similarity.IvfFitIterations)},
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
       |cd AS (SELECT q.query_id, q.qv, q.qnrm, c.cid AS cell,
       |         ${zipDot("c.cv", "c.cv")}
       |           - CAST(2.0 AS DOUBLE) * ${zipDot("q.qv", "c.cv")} AS cdist
       |       FROM q, $cF c),
       |pb AS (SELECT query_id, qv, qnrm, cell, crank FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |                                      ORDER BY cdist, cell) AS crank
       |         FROM cd) y),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |         SELECT q.query_id, a.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${zipDot("a.v", "q.qv")} / (a.nrm * q.qnrm) DESC,
       |                      a.vec_id) AS rank
       |         FROM n a, q WHERE a.vec_id <> q.query_id) z
       |       WHERE rank <= 10),
       |ap AS ($perProbe)
       |SELECT ap.nprobe, ap.query_id AS query_id,
       |  CAST(sum(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |       AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
       |FROM ap LEFT JOIN ex
       |  ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
       |GROUP BY 1, 2
       |ORDER BY ap.nprobe, ap.query_id""".stripMargin
  }

  /** Voice-activity segmentation over the planted speech/silence corpus
    * ([[Multimodal.vadSegments]] at 40-sample frames, mean-|s| threshold
    * 500 — two orders of magnitude between the planted noise floor and
    * speech energy). The oracle rebuilds every region, sample, frame
    * energy, and gaps-and-islands segment from the generation
    * arithmetic and replays the exact integer verdicts. */
  private def m11(spark: SparkSession, dir: String): DataFrame =
    Multimodal.vadSegments(
      Multimodal.toSpeechAudioCorpus(Corpus.documents(spark, dir)),
      frameSamples = 40, silenceMeanAbs = 500)
      .orderBy(col("audio_id"), col("seg_idx"))

  private val m11Sql = {
    def fold(salt: String, inner: String) = Text.mixSql(
      s"'$salt:' || CAST((${Text.mixSql(s"'$salt:' || $inner")}) AS VARCHAR)")
    val lenFold = fold("len", "audio_id || ':' || k")
    val gapFold = fold("gap", "audio_id || ':' || k")
    val spFold = fold("sp", "audio_id || ':' || i")
    val silFold = fold("sil", "audio_id || ':' || i")
    s"""WITH a AS (SELECT doc_id AS audio_id, 2 + doc_id % 3 AS nseg
       |           FROM documents),
       |reg0 AS (
       |  SELECT audio_id, 0 AS r, FALSE AS sp, CAST(80 AS BIGINT) AS len FROM a
       |  UNION ALL
       |  SELECT audio_id, 2 * k + 1, TRUE, 40 * (3 + ($lenFold) % 2)
       |  FROM a, LATERAL (SELECT unnest(range(0, a.nseg)) AS k) kk
       |  UNION ALL
       |  SELECT audio_id, 2 * k + 2, FALSE, 40 * (2 + ($gapFold) % 2)
       |  FROM a, LATERAL (SELECT unnest(range(0, a.nseg - 1)) AS k) kk),
       |reg AS (SELECT audio_id, r, sp, len,
       |          CAST(COALESCE(SUM(len) OVER (PARTITION BY audio_id ORDER BY r
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |        FROM reg0),
       |smp AS (SELECT audio_id, sp, st + j AS i
       |        FROM reg, LATERAL (SELECT unnest(range(0, reg.len)) AS j) jj),
       |sv AS (SELECT audio_id, i // 40 AS f,
       |         CASE WHEN sp THEN ($spFold) % 16000 - 8000
       |              ELSE ($silFold) % 60 - 30 END AS s
       |       FROM smp),
       |fr AS (SELECT audio_id, f, CAST(SUM(abs(s)) AS BIGINT) AS sum_abs
       |       FROM sv GROUP BY 1, 2),
       |ns AS (SELECT audio_id, f, sum_abs FROM fr WHERE sum_abs >= 500 * 40),
       |g AS (SELECT audio_id, f, sum_abs,
       |        f - row_number() OVER (PARTITION BY audio_id ORDER BY f) AS grp
       |      FROM ns),
       |seg AS (SELECT audio_id, grp, min(f) AS sf, max(f) AS ef,
       |          count(*) AS nf, CAST(SUM(sum_abs) AS BIGINT) AS sum_abs
       |        FROM g GROUP BY 1, 2)
       |SELECT audio_id,
       |  CAST(row_number() OVER (PARTITION BY audio_id ORDER BY sf) - 1 AS INT) AS seg_idx,
       |  CAST(sf AS INT) AS start_frame, CAST(ef AS INT) AS end_frame,
       |  CAST(nf AS INT) AS n_frames, sum_abs
       |FROM seg
       |ORDER BY audio_id, seg_idx""".stripMargin
  }

  /** Per-shot keyframe selection over the planted-shot corpus
    * ([[Multimodal.shotKeyframes]]): m10's cut detector + the m09
    * sharpness proxy — one row per shot carrying its bounds and the
    * argmax-gradient frame. The oracle rebuilds every pixel, frame
    * mean, gradient, cut verdict, cumulative shot id, and per-shot
    * argmax from the generation arithmetic. */
  private def m12(spark: SparkSession, dir: String): DataFrame =
    Multimodal.shotKeyframes(
      Multimodal.toShotVideoCorpus(Corpus.documents(spark, dir)),
      threshold = 40.0)
      .orderBy(col("video_id"), col("shot_idx"))

  private val m12Sql = {
    s"""WITH $shotCorpusCtes,
       |gr AS (SELECT l.video_id, l.f,
       |         CAST(SUM(3 * abs(r.b - l.b)) AS BIGINT) AS grad
       |       FROM px l JOIN px r ON r.video_id = l.video_id AND r.f = l.f
       |            AND r.y = l.y AND r.x = l.x + 1
       |       GROUP BY 1, 2),
       |cut AS (SELECT c.video_id, c.f,
       |          CASE WHEN p.mean IS NOT NULL
       |                AND abs(c.mean - p.mean) > 40.0 THEN 1 ELSE 0 END AS is_cut
       |        FROM mn c LEFT JOIN mn p
       |          ON p.video_id = c.video_id AND p.f = c.f - 1),
       |sh AS (SELECT video_id, f,
       |         CAST(SUM(is_cut) OVER (PARTITION BY video_id ORDER BY f
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS shot
       |       FROM cut),
       |jf AS (SELECT sh.video_id, sh.shot, sh.f, gr.grad,
       |         row_number() OVER (PARTITION BY sh.video_id, sh.shot
       |                            ORDER BY gr.grad DESC, sh.f) AS rk
       |       FROM sh JOIN gr ON gr.video_id = sh.video_id AND gr.f = sh.f)
       |SELECT video_id, CAST(shot AS INT) AS shot_idx,
       |  CAST(min(f) AS INT) AS start_frame, CAST(max(f) AS INT) AS end_frame,
       |  CAST(count(*) AS INT) AS n_frames,
       |  CAST(min(CASE WHEN rk = 1 THEN f END) AS INT) AS keyframe,
       |  min(CASE WHEN rk = 1 THEN grad END) AS key_sharpness
       |FROM jf GROUP BY 1, 2
       |ORDER BY video_id, shot_idx""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("v01_cosine_topk", v01, Some(v01Sql)),
    QuerySpec("v02_embedding_neardups", v02, Some(v02Sql)),
    QuerySpec("v03_ann_lsh_topk", v03, Some(v03Sql)),
    QuerySpec("v04_ann_ivf_topk", v04, Some(v04Sql)),
    QuerySpec("v05_ann_ivf_index", v05, Some(v05Sql)),
    QuerySpec("v06_embedding_dup_clusters", v06, Some(v06Sql)),
    QuerySpec("v07_embedding_quantize", v07, Some(v07Sql)),
    QuerySpec("v08_semdedup", v08, Some(v08Sql)),
    QuerySpec("v09_pq_topk", v09, Some(v09Sql)),
    QuerySpec("v10_ivfpq_topk", v10, Some(v10Sql)),
    QuerySpec("v11_pq_index", v11, Some(v09Sql)),
    QuerySpec("v12_binary_topk", v12, Some(v12Sql)),
    QuerySpec("v13_kcenter_coreset", v13, Some(v13Sql)),
    QuerySpec("v14_contrastive_pairs", v14, Some(v14Sql)),
    QuerySpec("v15_lloyd_kmeans", v15, Some(v15Sql)),
    QuerySpec("v16_kmeanspp_seeds", v16, Some(v16Sql)),
    QuerySpec("v17_mips_topk", v17, Some(v17Sql)),
    QuerySpec("v18_pca_power", v18, Some(v18Sql)),
    QuerySpec("v19_jl_distortion", v19, Some(v19Sql)),
    QuerySpec("v20_matryoshka_rerank", v20, Some(v20Sql)),
    QuerySpec("v21_mmr_rerank", v21, Some(v21Sql)),
    QuerySpec("v22_ivf_probe_sweep", v22, Some(v22Sql)),
    QuerySpec("m01_multimodal_features", m01, Some(m01Sql)),
    QuerySpec("m02_audio_features", m02, Some(m02Sql)),
    QuerySpec("m03_video_frames", m03, Some(m03Sql)),
    QuerySpec("m04_image_resize", m04, Some(m04Sql)),
    QuerySpec("m05_audio_clips", m05, Some(m05Sql)),
    QuerySpec("m06_image_dedup_dhash", m06, Some(m06Sql)),
    QuerySpec("m07_audio_dedup_fingerprint", m07, Some(m07Sql)),
    QuerySpec("m08_video_dedup_frames", m08, Some(m08Sql)),
    QuerySpec("m09_image_quality_stats", m09, Some(m09Sql)),
    QuerySpec("m10_shot_boundaries", m10, Some(m10Sql)),
    QuerySpec("m11_vad_segments", m11, Some(m11Sql)),
    QuerySpec("m12_shot_keyframes", m12, Some(m12Sql)),
    QuerySpec("m13_band_recall", m13, Some(m13Sql)))
}
